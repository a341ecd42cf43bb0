"""Seeded input tables for the benchmark workloads.

Every table is a pure function of the ``--seed`` argument and is written
under the run's own work directory; the program under test only ever sees
these files. Each writer returns the input properties the program's
behaviour depends on, so a later change can show its inputs did not move.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_TURNS = 4_000
N_DOCS = 150
# share of documents rewritten as near-duplicates of another document
NEAR_DUP_SHARE = 0.12
# share of documents replaced by text the quality gate should drop
LOW_QUALITY_SHARE = 0.05
LONG_TEXT_CHARS = 120  # engine.batch leaves the 1-5-gram path at this length

# The registry queries register every sf table as a view; the curation
# queries read only ``documents``, so the other nine are written empty
# with the sf-table schemas.
_EMPTY_TABLES = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", pa.timestamp("us")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()),
                 ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()),
                 ("l_linestatus", pa.string()),
                 ("l_shipdate", pa.timestamp("us"))],
    "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
               ("user_id", pa.int64()), ("event_type", pa.string()),
               ("value", pa.float64()), ("props", pa.string())],
    "embeddings": [("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
}


def _text_properties(texts: pd.Series) -> dict:
    lengths = texts.str.len()
    return {
        "rows": int(len(texts)),
        "mean_chars": round(float(lengths.mean()), 3),
        "long_text_frac": round(float((lengths >= LONG_TEXT_CHARS).mean()), 4),
    }


def _top_share(keys: pd.Series, top: int = 3) -> float:
    counts = keys.value_counts()
    return round(float(counts.iloc[:top].sum() / len(keys)), 4)


def write_transcripts(dest: Path, seed: int) -> dict:
    """``corpus.transcripts`` at the seed, written once to Parquet."""
    from lingua_spark.corpus import transcripts

    pdf = transcripts(n_turns=N_TURNS, seed=seed, with_labels=True)
    labels = pdf.pop("true_lang")
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        dest,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    langs = labels[~labels.isin(["noise", "pii"])]
    return {
        **_text_properties(pdf["text"]),
        "languages": int(langs.nunique()),
        "noise_pii_frac": round(float(labels.isin(["noise", "pii"]).mean()), 4),
        "near_dup_frac": 0.0,
        "conversations": int(pdf["conv_id"].nunique()),
        "top3_conversation_share": _top_share(pdf["conv_id"]),
        "input_bytes": dest.stat().st_size,
    }


def _documents(seed: int) -> tuple[pd.DataFrame, int]:
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = [
        "".join(rng.choice(letters, int(rng.integers(2, 10))))
        for _ in range(3000)
    ]
    texts = [
        " ".join(vocab[i] for i in rng.integers(0, len(vocab), int(k)))
        for k in rng.integers(10, 101, N_DOCS)
    ]
    # near-duplicate clusters: a source document plus two copies, each
    # copy with one or two words replaced. The cluster and low-quality
    # counts and their doc_id layout are the same for every seed; with a
    # seeded layout the clustering ran a different number of jobs per seed
    # and the pass time varied about 20% from seed to seed.
    order = np.random.default_rng(0).permutation(N_DOCS)
    n_dups = int(N_DOCS * NEAR_DUP_SHARE) // 2 * 2
    n_bad = int(N_DOCS * LOW_QUALITY_SHARE)
    sources = order[n_dups : n_dups + n_dups // 2]
    for i, dst in enumerate(order[:n_dups]):
        words = texts[int(sources[i // 2])].split()
        for _ in range(int(rng.integers(1, 3))):
            words[int(rng.integers(0, len(words)))] = vocab[
                int(rng.integers(0, len(vocab)))
            ]
        texts[int(dst)] = " ".join(words)
    bad_kinds = [
        lambda: "ok",
        lambda: " ".join(["spam"] * int(rng.integers(10, 40))),
        lambda: "#$%& " * int(rng.integers(5, 30)),
    ]
    bad = order[n_dups + n_dups // 2 :][:n_bad]
    for i, dst in enumerate(bad):
        texts[int(dst)] = bad_kinds[i % len(bad_kinds)]()
    langs = np.array(["en", "zh", "es", "fr", "de"])[
        rng.choice(5, N_DOCS, p=[0.41, 0.15, 0.15, 0.15, 0.14])
    ]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    return docs, n_dups


def write_documents(dest_dir: Path, seed: int) -> dict:
    """A seeded ``documents`` table with injected near-duplicate clusters,
    plus the nine other sf tables written empty."""
    dest_dir.mkdir(parents=True, exist_ok=True)
    docs, n_dups = _documents(seed)
    docs.to_parquet(dest_dir / "documents.parquet", index=False)
    for name, fields in _EMPTY_TABLES.items():
        pq.write_table(
            pa.schema(fields).empty_table(), dest_dir / f"{name}.parquet"
        )
    conv = docs["doc_id"] % 50  # the registry's document -> conversation map
    return {
        **_text_properties(docs["text"]),
        "languages": int(docs["lang"].nunique()),
        "near_dup_frac": round(n_dups / N_DOCS, 4),
        "exact_dup_frac": round(float(docs["text"].duplicated().mean()), 4),
        "conversations": int(conv.nunique()),
        "top3_conversation_share": _top_share(conv),
        "distinct_words": len(Counter(w for t in docs["text"] for w in t.split())),
        "input_bytes": (dest_dir / "documents.parquet").stat().st_size,
    }
