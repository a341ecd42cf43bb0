"""The benchmark workloads. Each one generates its inputs from the seed,
sets the program up, runs warm passes through the program's public entry
points, checks the outputs against an independent reference, and in a
traced run reports per-layer metrics.

The traced forms call the same public functions as the untraced passes,
split at layer boundaries so each call gets its own span.
"""

from __future__ import annotations

import json
import random
import statistics
import time
from pathlib import Path

from . import inputs
from . import trace as T

# turns_short_multilang: rows compared against the per-row reference path
CHECK_SAMPLE = 200
# single-process stage probes: texts per probe
PROBE_SAMPLE = 1500
# docs_neardup_curate: DuckDB threads for the oracle, which runs beside the
# warm-up pass and shares its cores
ORACLE_THREADS = 2
# run_pipeline shape for the write/resume step of the traced run
PIPELINE_PARTITIONS = 8
PIPELINE_WAVES = 2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rate(rows: int, seconds: float) -> float:
    return rows / seconds if seconds > 0 else 0.0


class TurnsShortMultilang:
    """Flagship path: read_transcripts -> with_stable_order -> assess_turns
    -> noop sink, over short multilingual turns."""

    name = "turns_short_multilang"

    def __init__(self, work: Path, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.path = work / "transcripts.parquet"
        self.model_load_s: list[float] = []
        self.broadcast_bytes: list[int] = []

    def generate(self) -> dict:
        self.props = inputs.write_transcripts(self.path, self.seed)
        self.rows = self.props["rows"]
        return self.props

    def setup(self, spark, local_dir: Path) -> None:
        """Program set-up: cold model load, ship_package + broadcast (inside
        assess_turns -> make_assess_udf) and a first job that starts and
        initialises one Python worker per core."""
        from pyspark.sql import functions as F

        from lingua_spark import resources
        from lingua_spark.engine.pipeline import assess_turns, with_stable_order

        for cached in (resources.model_table, resources.packed_models,
                       resources.fasttextish):
            cached.cache_clear()
        t0 = time.perf_counter()
        resources.packed_models()
        resources.fasttextish()
        self.model_load_s.append(time.perf_counter() - t0)

        before = _files(local_dir)
        n = 16 * spark.sparkContext.defaultParallelism
        tiny = spark.range(n).select(
            F.concat(F.lit("c"), (F.col("id") % 64).cast("string")).alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.lit("hello world, how are you today").alias("text"),
            F.lit("").alias("tool"),
            F.current_timestamp().alias("ts"),
        )
        warm = assess_turns(spark, with_stable_order(tiny), None, 64)
        self.broadcast_bytes.append(
            sum(f.stat().st_size for f in _files(local_dir) - before)
        )
        _noop(warm)

    def prepare(self, spark) -> None:
        from lingua_spark.engine.pipeline import assess_turns, with_stable_order
        from lingua_spark.io import read_transcripts

        self.assessed = assess_turns(
            spark,
            with_stable_order(read_transcripts(spark, str(self.path))),
            None,
            64,
        )

    def warm_and_check(self, spark) -> list[str]:
        """The warm-up pass collects the output; returns check failures."""
        out = self.assessed.toPandas()
        src = self._source()
        errors = []
        keys = set(zip(out["conv_id"], out["turn_idx"]))
        if len(out) != len(src) or keys != set(zip(src["conv_id"], src["turn_idx"])):
            errors.append(f"output rows {len(out)} do not cover input {len(src)}")
        errors += self._check_rows(out, src)
        return errors

    def _source(self):
        import pandas as pd

        return pd.read_parquet(self.path)

    def _check_rows(self, out, src) -> list[str]:
        """A seeded sample must equal quality.assess_text with
        core.detector.Detector on lang, keep, quality_flags, scrubbed_text."""
        from lingua_spark import langdata as L
        from lingua_spark import resources
        from lingua_spark.core.detector import Detector
        from lingua_spark.quality import QualityConfig, assess_text

        cfg = QualityConfig()
        det = Detector(
            models=resources.packed_models(),
            languages=cfg.languages,
            minimum_relative_distance=cfg.minimum_relative_distance,
            low_accuracy=cfg.low_accuracy,
        )
        ft = resources.fasttextish()
        text_of = dict(zip(zip(src["conv_id"], src["turn_idx"]), src["text"]))
        by_key = out.set_index(["conv_id", "turn_idx"])
        rng = random.Random(self.seed)
        errors = []
        for key in rng.sample(sorted(text_of), CHECK_SAMPLE):
            ref = assess_text(text_of[key], det, ft, cfg)
            lang = "unknown" if ref["lang"] == L.UNKNOWN else L.BY_NAME[ref["lang"]].iso1
            got = by_key.loc[key]
            want = (lang, ref["keep"], list(ref["quality_flags"]), ref["scrubbed_text"])
            have = (got["lang"], bool(got["keep"]), list(got["quality_flags"]),
                    got["scrubbed_text"])
            if have != want:
                errors.append(f"row {key}: spark {have!r} != reference {want!r}")
        return errors

    def run_pass(self, spark) -> None:
        _noop(self.assessed)

    def traced_pass(self, spark, tracer: T.Tracer) -> None:
        with tracer.span("engine.pipeline.assess_pass"):
            _noop(self.assessed)

    def layer_metrics(self, spark, tracer: T.Tracer) -> tuple[dict, list[str]]:
        groups = tracer.groups("engine.pipeline.assess_pass")
        n = len(groups)
        max_records = int(
            spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        )
        skews, batches = [], []
        for g in groups:
            stage = T.busiest_stage(spark, g)
            tasks = T.stage_tasks(spark, stage)
            skews.append(T.task_skew([d for d, _ in tasks]))
            batches.append(T.arrow_batches([r for _, r in tasks], max_records))
        setup = tracer.groups("setup")[-1:]
        m = {
            "engine.udfs.bytes_to_python": T.node_metric_sum(
                spark, groups, "ArrowEvalPython", "data sent to Python workers") / n,
            "engine.udfs.bytes_from_python": T.node_metric_sum(
                spark, groups, "ArrowEvalPython", "data returned from Python workers") / n,
            "engine.udfs.python_exec_s": T.node_metric_sum(
                spark, groups, "ArrowEvalPython", "time to run Python workers") / n,
            "engine.udfs.worker_init_s": sum(
                T.node_metric_sum(spark, setup, "ArrowEvalPython", k)
                for k in ("time to start Python workers",
                          "time to initialize Python workers")
            ),
            "engine.udfs.batches": statistics.median(batches),
            "engine.udfs.broadcast_bytes": statistics.median(self.broadcast_bytes),
            "engine.pipeline.exchange_bytes": T.shuffle_write_bytes(spark, groups) / n,
            "engine.pipeline.task_skew": statistics.median(skews),
            "io.scan_s": T.node_metric_sum(spark, groups, "Scan parquet", "scan time") / n,
            "resources.model_load_s": statistics.median(self.model_load_s),
        }
        m.update(self._probe_stages())
        pipe, errors = self._write_and_resume(spark, tracer)
        m.update(pipe)
        return m, errors

    def _probe_stages(self) -> dict:
        """Each assess_batch stage's public function, called single-process
        on a seeded sample of this workload's texts."""
        import numpy as np

        from lingua_spark import langdata as L
        from lingua_spark import resources
        from lingua_spark.core.detector import ngram_length_range
        from lingua_spark.core.rules import (
            detect_language_with_rules,
            filter_languages_mask,
        )
        from lingua_spark.core.text import clean_up, word_spans
        from lingua_spark.engine.batch import CHUNK_ROWS, BatchDetector, score_rows_batch
        from lingua_spark.quality import (
            QualityConfig,
            assess_batch,
            scrub_text,
            text_stats,
            trigram_perplexity_batch,
        )
        from lingua_spark.uniscript import CAT_LETTER, cat_ids, codes_of

        texts = self._source()["text"].sample(
            PROBE_SAMPLE, random_state=self.seed
        ).tolist()
        cfg = QualityConfig()
        models = resources.packed_models()
        ft = resources.fasttextish()
        bdet = BatchDetector(models=models, languages=cfg.languages)
        assess_batch(texts[:50], bdet, ft, cfg)  # first-call table builds
        n = len(texts)

        t0 = time.perf_counter()
        cleaned = [clean_up(t) for t in texts]
        clean_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        decided, todo = 0, []
        for text, cl in zip(texts, cleaned):
            if not (cat_ids(codes_of(cl)) == CAT_LETTER).any():
                continue
            codes = codes_of(text)
            spans = word_spans(codes)
            if detect_language_with_rules(codes, spans, bdet.languages) != L.UNKNOWN:
                decided += 1
                continue
            mask = filter_languages_mask(codes, spans, bdet.languages)
            if mask.sum() == 1:
                decided += 1
            else:
                todo.append((cl, mask))
        rules_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        for c0 in range(0, len(todo), CHUNK_ROWS):
            chunk = todo[c0 : c0 + CHUNK_ROWS]
            score_rows_batch(
                [c for c, _ in chunk], np.stack([m for _, m in chunk]), models
            )
        score_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        ft.predict_ords(cleaned)
        ft_s = time.perf_counter() - t0

        langs = bdet.decide_rows(bdet.confidence_rows(texts, cleaned_list=cleaned))
        ords = [L.ORDINAL[x] if x != L.UNKNOWN else -1 for x in langs]
        t0 = time.perf_counter()
        trigram_perplexity_batch(cleaned, ords, models)
        ppl_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        for t in texts:
            text_stats(t)
        stats_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        hits = sum(scrub_text(t)[1] > 0 for t in texts)
        scrub_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        assess_batch(texts, bdet, ft, cfg)
        assess_s = time.perf_counter() - t0

        scored = len(todo)
        return {
            "engine.batch.rows_per_s": _rate(scored, score_s),
            "engine.batch.scored_frac": scored / n,
            "engine.batch.high_accuracy_frac": (
                sum(1 in ngram_length_range(len(c), False) for c, _ in todo) / scored
                if scored else 0.0
            ),
            "engine.batch.candidates_per_row": (
                float(np.mean([m.sum() for _, m in todo])) if scored else 0.0
            ),
            "core.rules.rows_per_s": _rate(n, rules_s),
            "core.rules.decided_frac": decided / n,
            "core.text.clean_up.rows_per_s": _rate(n, clean_s),
            "ftlangid.rows_per_s": _rate(n, ft_s),
            "quality.perplexity.rows_per_s": _rate(n, ppl_s),
            "quality.text_stats.rows_per_s": _rate(n, stats_s),
            "quality.scrub.rows_per_s": _rate(n, scrub_s),
            "quality.scrub.hit_frac": hits / n,
            "quality.assess_batch.rows_per_s": _rate(n, assess_s),
        }

    def _write_and_resume(self, spark, tracer: T.Tracer) -> tuple[dict, list[str]]:
        """run_pipeline into Parquet with lineage, remove the lineage of a
        seeded half of the partitions (a crash before commit), resume."""
        from lingua_spark.engine.pipeline import run_pipeline
        from lingua_spark.io import read_transcripts

        out = self.work / "pipeline"
        df = read_transcripts(spark, str(self.path))
        every = set(range(PIPELINE_PARTITIONS))
        errors = []
        with tracer.span("engine.pipeline.run_pipeline") as run:
            res = run_pipeline(spark, df, out, n_partitions=PIPELINE_PARTITIONS,
                               waves=PIPELINE_WAVES)
        if set(res["processed_partitions"]) != every:
            errors.append(f"run_pipeline processed {res['processed_partitions']}")
        lineage = _lineage(out)
        if {p for p, r in lineage.items() if r["status"] == "committed"} != every:
            errors.append(f"committed lineage {sorted(lineage)} != {sorted(every)}")
        written = [f for f in out.rglob("*") if f.is_file()]
        bytes_written = sum(f.stat().st_size for f in written)

        lost = set(random.Random(self.seed).sample(sorted(every), len(every) // 2))
        for pid in lost:
            lineage[pid]["file"].unlink()
        with tracer.span("engine.pipeline.resume") as resume:
            res2 = run_pipeline(spark, df, out, n_partitions=PIPELINE_PARTITIONS,
                                waves=PIPELINE_WAVES)
        if set(res2["processed_partitions"]) != lost:
            errors.append(
                f"resume processed {res2['processed_partitions']} != {sorted(lost)}"
            )
        if {p for p, r in _lineage(out).items() if r["status"] == "committed"} != every:
            errors.append("not every partition committed after resume")
        n_out = spark.read.parquet(str(out / "data")).count()
        if n_out != self.rows:
            errors.append(f"pipeline wrote {n_out} rows for {self.rows} turns")

        readback = sum(
            T.execution_seconds(e)
            for e in T.sql_executions(spark, run["group"])
            if not _is_write(spark, e)
        )
        return {
            "io.bytes_written": float(bytes_written),
            "io.files_written": float(len(written)),
            "io.bytes_written_per_input_byte": bytes_written / self.props["input_bytes"],
            "engine.pipeline.wave_s": (run["end"] - run["start"]) / PIPELINE_WAVES,
            "engine.pipeline.stats_readback_s": readback / PIPELINE_WAVES,
            "engine.pipeline.resume_s": resume["end"] - resume["start"],
            "engine.pipeline.resume_processed_partitions": float(
                len(res2["processed_partitions"])
            ),
        }, errors


class DocsNeardupCurate:
    """Curation path: corpus_select_final over a documents table with
    injected near-duplicate clusters; transcript_export_full in the traced
    run."""

    name = "docs_neardup_curate"

    def __init__(self, work: Path, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.sf_dir = work / "tables"

    def generate(self) -> dict:
        self.props = inputs.write_documents(self.sf_dir, self.seed)
        self.rows = self.props["rows"]
        return self.props

    def setup(self, spark, local_dir: Path) -> None:
        """Program set-up: register_views (ship_package + SQL kernel
        registration) and a first job that starts one Python worker per
        core inside a kernel."""
        from lingua_spark.ops.queries import register_views

        register_views(spark, str(self.sf_dir))
        cores = spark.sparkContext.defaultParallelism
        _noop(
            spark.range(0, 8 * cores, 1, cores).selectExpr(
                "lingua_minhash_sig(cast(id AS string), 5) AS s"
            )
        )

    def prepare(self, spark) -> None:
        from __spark_entry__ import queries

        self.registry = queries()

    def warm_and_check(self, spark) -> list[str]:
        """The warm-up pass collects the output, which must hash-equal its
        DuckDB oracle; the oracle runs on a thread beside the pass."""
        return self._checked(spark, "corpus_select_final")

    def _checked(self, spark, name: str) -> list[str]:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(1) as pool:
            expected = pool.submit(self._oracle_hash, name)
            got = self.registry[name](spark, str(self.sf_dir)).toPandas()
            cols, rows, digest = expected.result()
        if sorted(got.columns) != cols or len(got) != rows:
            return [f"{name}: {len(got)} rows {sorted(got.columns)}"
                    f" != oracle {rows} rows {cols}"]
        if _validate_oracles().norm_hash(got) != digest:
            return [f"{name}: value hash differs from the oracle"]
        return []

    def _oracle_hash(self, name: str) -> tuple[list[str], int, str]:
        import duckdb

        from __spark_entry__ import oracle_sql
        from lingua_spark.ops.queries import TABLES

        with duckdb.connect(config={"threads": ORACLE_THREADS}) as con:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir / t}.parquet'"
                )
            ddf = con.execute(oracle_sql()[name]).df()
        return sorted(ddf.columns), len(ddf), _validate_oracles().norm_hash(ddf)

    def run_pass(self, spark) -> None:
        _noop(self.registry["corpus_select_final"](spark, str(self.sf_dir)))

    def traced_pass(self, spark, tracer: T.Tracer) -> None:
        from lingua_spark.ops.queries import corpus_select_final, dedup_minhash_cc

        d = str(self.sf_dir)
        with tracer.span("ops.graph.cc"):
            cc = dedup_minhash_cc(spark, d)
        with tracer.span("ops.queries.select"):
            _noop(corpus_select_final(spark, d, dedup=cc))

    def layer_metrics(self, spark, tracer: T.Tracer) -> tuple[dict, list[str]]:
        cc, sel = tracer.groups("ops.graph.cc"), tracer.groups("ops.queries.select")
        n = len(cc)
        # connected_components checkpoints once before its label rounds
        # and once per round
        rounds = [
            sum(j.name().startswith("localCheckpoint") for j in T.group_jobs(spark, g)) - 1
            for g in cc
        ]
        with tracer.span("ops.queries.lsh_pairs"):
            edges = self.registry["dedup_minhash_lsh_pairs"](spark, str(self.sf_dir)).count()
        with tracer.span("ops.queries.export") as export:
            errors = self._checked(spark, "transcript_export_full")
        m = {
            "ops.queries.lsh_edges": float(edges),
            "ops.queries.kernel_python_s": T.node_metric_sum(
                spark, cc + sel, "ArrowEvalPython", "time to run Python workers") / n,
            "ops.queries.shuffle_bytes": T.shuffle_write_bytes(spark, cc + sel) / n,
            "ops.queries.select_s": statistics.median(tracer.durations("ops.queries.select")),
            "ops.queries.export_s": export["end"] - export["start"],
            "ops.graph.cc_s": statistics.median(tracer.durations("ops.graph.cc")),
            "ops.graph.cc_rounds": statistics.median(rounds),
            "io.scan_s": T.node_metric_sum(spark, cc + sel, "Scan parquet", "scan time") / n,
        }
        return m, errors


WORKLOADS = {w.name: w for w in (TurnsShortMultilang, DocsNeardupCurate)}


def _files(root: Path) -> set[Path]:
    return {p for p in root.rglob("*") if p.is_file()}


def _lineage(out: Path) -> dict[int, dict]:
    recs = {}
    for f in (out / "lineage").glob("*.json"):
        rec = json.loads(f.read_text())
        recs[int(rec["partition_id"])] = {**rec, "file": f}
    return recs


def _is_write(spark, execution) -> bool:
    store = spark._jsparkSession.sharedState().statusStore()
    nodes = store.planGraph(execution.executionId()).allNodes()
    return any(
        "InsertInto" in nodes.apply(i).name() for i in range(nodes.size())
    )


def _validate_oracles():
    """scripts/validate_oracles.py, whose order-insensitive value hash is
    the repository's oracle comparison rule."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "validate_oracles", Path("scripts") / "validate_oracles.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
