"""Every metric the benchmark can emit: name -> (unit, layer, meaning).

``run.py`` refuses to print a name that is not listed here, and
``test_metrics.py`` checks this table against ``BENCHMARK.json``, so the
three stay in step. ``END_TO_END`` is printed by a run with ``--trace 0``,
``PER_LAYER`` by a run with ``--trace 1``; both sets are printed on every
workload. A per-layer value of 0 means the workload does not exercise
that layer (see README.md for which layers run where).
"""

from __future__ import annotations

END_TO_END: dict[str, tuple[str, str, str]] = {
    "setup_s": (
        "s", "session+resources+engine.udfs",
        "median of 3 set-ups: new SparkContext, program set-up (ship_package,"
        " model load and broadcast or SQL-kernel registration) and the first"
        " job that starts the Python workers",
    ),
    "rows_per_s": (
        "rows/s", "end-to-end",
        "input turns or documents over the median warm pass time",
    ),
    "worker_peak_rss_mb": (
        "MB", "engine.udfs+ops.queries",
        "peak summed RSS of the Python worker processes, from /proc",
    ),
}

PER_LAYER: dict[str, tuple[str, str, str]] = {
    # -- engine.udfs: ArrowEvalPython SQL metrics of the assess UDF --------
    "engine.udfs.bytes_to_python": (
        "bytes", "engine.udfs", "data sent to Python workers per pass"),
    "engine.udfs.bytes_from_python": (
        "bytes", "engine.udfs", "data returned from Python workers per pass"),
    "engine.udfs.python_exec_s": (
        "s", "engine.udfs", "time to run Python workers per pass (task sum)"),
    "engine.udfs.worker_init_s": (
        "s", "engine.udfs",
        "time to start + initialize Python workers in the set-up job"),
    "engine.udfs.batches": (
        "count", "engine.udfs",
        "Arrow batches per pass: per-task rows over maxRecordsPerBatch"),
    "engine.udfs.broadcast_bytes": (
        "bytes", "engine.udfs",
        "bytes of broadcast files written while make_assess_udf runs"),
    # -- single-process stage probes on a seeded sample of the texts -------
    "engine.batch.rows_per_s": (
        "rows/s", "engine.batch", "score_rows_batch rows scored per second"),
    "engine.batch.scored_frac": (
        "ratio", "engine.batch", "share of rows the rules leave to scoring"),
    "engine.batch.high_accuracy_frac": (
        "ratio", "engine.batch",
        "share of scored rows on the 1-5-gram (short text) path"),
    "engine.batch.candidates_per_row": (
        "count", "engine.batch", "mean candidate languages per scored row"),
    "core.rules.rows_per_s": (
        "rows/s", "core.rules",
        "detect_language_with_rules + filter_languages_mask rows per second"),
    "core.rules.decided_frac": (
        "ratio", "core.rules",
        "share of rows decided by a rule or a single candidate"),
    "core.text.clean_up.rows_per_s": (
        "rows/s", "core.text", "clean_up rows per second"),
    "ftlangid.rows_per_s": (
        "rows/s", "ftlangid", "FastTextish.predict_ords rows per second"),
    "quality.perplexity.rows_per_s": (
        "rows/s", "quality", "trigram_perplexity_batch rows per second"),
    "quality.text_stats.rows_per_s": (
        "rows/s", "quality", "text_stats rows per second"),
    "quality.scrub.rows_per_s": (
        "rows/s", "quality", "scrub_text rows per second"),
    "quality.scrub.hit_frac": (
        "ratio", "quality", "share of rows with at least one replacement"),
    "quality.assess_batch.rows_per_s": (
        "rows/s", "quality", "assess_batch rows per second (whole stage)"),
    "resources.model_load_s": (
        "s", "resources", "median cold packed_models + fasttextish load"),
    # -- engine.pipeline / io: Spark status store + the written files ------
    "engine.pipeline.exchange_bytes": (
        "bytes", "engine.pipeline", "shuffle bytes written per pass"),
    "engine.pipeline.task_skew": (
        "ratio", "engine.pipeline",
        "max over median task time in the assess stage"),
    "io.scan_s": (
        "s", "io", "Parquet scan time per pass (task sum)"),
    "io.bytes_written": (
        "bytes", "io", "bytes run_pipeline leaves in its output directory"),
    "io.files_written": (
        "count", "io", "files run_pipeline leaves in its output directory"),
    "io.bytes_written_per_input_byte": (
        "ratio", "io", "io.bytes_written over the input Parquet bytes"),
    "engine.pipeline.wave_s": (
        "s", "engine.pipeline", "run_pipeline wall time per wave"),
    "engine.pipeline.stats_readback_s": (
        "s", "engine.pipeline",
        "SQL time of run_pipeline's per-wave stats read-back"),
    "engine.pipeline.resume_s": (
        "s", "engine.pipeline",
        "run_pipeline resume after half the lineage records are removed"),
    "engine.pipeline.resume_processed_partitions": (
        "count", "engine.pipeline", "partitions the resume processed"),
    # -- ops: the curation queries -----------------------------------------
    "ops.queries.lsh_edges": (
        "count", "ops.queries", "dedup_minhash_lsh_pairs candidate pairs"),
    "ops.queries.kernel_python_s": (
        "s", "ops.queries",
        "time to run Python workers in the SQL kernels per pass"),
    "ops.queries.shuffle_bytes": (
        "bytes", "ops.queries", "shuffle bytes written per pass"),
    "ops.queries.select_s": (
        "s", "ops.queries", "corpus_select_final given the clusters"),
    "ops.queries.export_s": (
        "s", "ops.queries",
        "transcript_export_full, one cold call with its oracle beside it"),
    "ops.graph.cc_s": (
        "s", "ops.graph", "dedup_minhash_cc per pass"),
    "ops.graph.cc_rounds": (
        "count", "ops.graph",
        "label rounds per pass: localCheckpoint jobs less one"),
    "jvm.peak_rss_mb": (
        "MB", "session",
        "peak RSS of Spark's JVM over set-up and passes, from /proc"),
    # -- tracing overhead ---------------------------------------------------
    "trace.rows_per_s": (
        "rows/s", "trace", "rows_per_s of the traced passes"),
    "trace.untraced_rows_per_s": (
        "rows/s", "trace", "rows_per_s of the untraced passes of this run"),
    "trace.overhead_frac": (
        "ratio", "trace", "1 - traced over untraced rows_per_s"),
}

NAME_PATTERN = r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"
UNIT_PATTERN = r"[A-Za-z0-9_/%.-]{1,16}"
