"""The lingua_spark benchmark: one seeded workload run, one result line.

Run from the repository root:

    python3 perfbench/run.py --workload turns_short_multilang --seed 1 \\
        --seconds 6 --trace 0

Prints, as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
separate traced run (see perfbench/README.md). Everything the run writes
stays under ``.perfbench_work/`` in the current directory; a JSON record
of the run (input properties, cores, pass times, spans) is kept in
``.perfbench_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

SETUP_REPS = 3
MIN_PASSES = 3
MAX_CORES = 4
MAX_FAILED_PASSES = 3


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure_env(run_dir: Path) -> None:
    """Keep Spark, the JVM and Python temp files inside the run directory;
    must run before pyspark launches the JVM."""
    local, tmp = run_dir / "spark-local", run_dir / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["PYSPARK_PYTHON"] = sys.executable
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.enabled=false",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={shlex.quote(str(run_dir / 'warehouse'))}",
            f"--driver-java-options {shlex.quote(java_opts)}",
            "pyspark-shell",
        ]
    )


def _shutdown(spark) -> None:
    """Stop the SparkContext (which stops the Python workers), then the
    JVM gateway process, and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _attempt(errors: list[str], what: str, fn) -> bool:
    """Runs one pass or step; a raise is recorded as a failure."""
    try:
        fn()
        return True
    except Exception:  # noqa: BLE001 — a failed pass is counted, not fatal
        traceback.print_exc()
        errors.append(f"{what} raised")
        return False


def run(args, cores: int, run_dir: Path) -> tuple[dict, dict]:
    from lingua_spark.engine.pipeline import build_session

    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.procmem import PeakRss
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](run_dir, args.seed)
    phases: dict[str, float] = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    record: dict = {"phase_s": phases}
    local = Path(os.environ["SPARK_LOCAL_DIRS"])
    spark, tracer = None, None
    setup_s, passes, traced, errors = [], [], [], []
    attempted = failed = 0
    # The inputs are generated on a thread while the first set-up launches
    # the JVM; that cold set-up is the slowest of the three, so the
    # overlap never reaches the median.
    pool = ThreadPoolExecutor(1)
    generated = pool.submit(wl.generate)
    try:
        with PeakRss() as rss:
            for rep in range(SETUP_REPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = build_session(
                    app="perfbench", master=f"local[{cores}]",
                    shuffle_partitions=2 * cores,
                )
                spark.sparkContext.setLogLevel("ERROR")
                if rep == 0:
                    record["inputs"] = generated.result()
                    pool.shutdown()
                if args.trace:
                    tracer = tracer or Tracer(spark)
                    tracer.spark = spark
                    with tracer.span("setup"):
                        wl.setup(spark, local)
                else:
                    wl.setup(spark, local)
                setup_s.append(time.perf_counter() - t0)
            wl.prepare(spark)
            phase("setup")

            attempted += 1
            check: list[str] = []
            if not _attempt(errors, "warm-up pass",
                            lambda: check.extend(wl.warm_and_check(spark))) or check:
                failed += 1
            errors += check
            # passes keep getting faster while the JVM compiles the hot
            # paths; one more untimed pass leaves less of that in the median
            attempted += 1
            if not _attempt(errors, "second warm-up pass", lambda: wl.run_pass(spark)):
                failed += 1
            phase("warm_up")

            def timed(fn, into: list[float]) -> None:
                t0 = time.perf_counter()
                fn()
                into.append(time.perf_counter() - t0)

            deadline = time.perf_counter() + args.seconds
            while (len(passes) < MIN_PASSES or time.perf_counter() < deadline) and (
                failed < MAX_FAILED_PASSES
            ):
                attempted += 1
                if not _attempt(errors, "pass",
                                lambda: timed(lambda: wl.run_pass(spark), passes)):
                    failed += 1
                if args.trace:
                    attempted += 1
                    if not _attempt(
                        errors, "traced pass",
                        lambda: timed(lambda: wl.traced_pass(spark, tracer), traced),
                    ):
                        failed += 1
        record.update(setup_s=setup_s, pass_s=passes, traced_pass_s=traced,
                      peak_rss_mb={"jvm": rss.peak_jvm / 2**20,
                                   "workers": rss.peak_workers / 2**20})
        phase("passes")

        if args.trace:
            attempted += 1
            layer: dict = {}

            def layers() -> None:
                m, errs = wl.layer_metrics(spark, tracer)
                layer.update(m)
                errors.extend(errs)
                if errs:
                    raise AssertionError("; ".join(errs))

            if not _attempt(errors, "traced layer step", layers):
                failed += 1
            phase("layers")
            rows_per_s = wl.rows / statistics.median(passes) if passes else 0.0
            traced_rows_per_s = wl.rows / statistics.median(traced) if traced else 0.0
            layer.update({
                "trace.rows_per_s": traced_rows_per_s,
                "trace.untraced_rows_per_s": rows_per_s,
                "jvm.peak_rss_mb": rss.peak_jvm / 2**20,
                "trace.overhead_frac": (
                    1 - traced_rows_per_s / rows_per_s if rows_per_s else 0.0
                ),
            })
            record["not_exercised"] = sorted(set(PER_LAYER) - set(layer))
            table, values = PER_LAYER, layer
            t_run = min(s["start"] for s in tracer.spans)
            record["spans"] = [
                {**s, "start": s["start"] - t_run, "end": s["end"] - t_run}
                for s in sorted(tracer.spans, key=lambda s: s["start"])
            ]
        else:
            table = END_TO_END
            values = {
                "setup_s": statistics.median(setup_s),
                "rows_per_s": wl.rows / statistics.median(passes) if passes else 0.0,
                "worker_peak_rss_mb": rss.peak_workers / 2**20,
            }
    finally:
        if spark is not None:
            _shutdown(spark)
    phase("shutdown")

    unknown = set(values) - set(table)
    if unknown:
        raise KeyError(f"metrics not declared in perfbench/metrics.py: {unknown}")
    record["errors"] = errors
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a per-layer metric the workload does not exercise reads 0
        "metrics": {
            k: {"value": float(values.get(k, 0.0)), "unit": unit}
            for k, (unit, _, _) in table.items()
        },
    }
    return result, record


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    root = Path.cwd()
    if not (root / "lingua_spark" / "__init__.py").is_file() or not (
        root / "__spark_entry__.py"
    ).is_file():
        print("perfbench: run from the lingua_spark repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(root)]
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r};"
              f" choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    cores = min(nproc, MAX_CORES)
    work = root / ".perfbench_work"
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = work / f"{tag}-{os.getpid()}"
    _configure_env(run_dir)
    try:
        result, record = run(args, cores, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    record.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=args.trace, nproc=nproc, cores=cores,
        spark_local_dirs=os.environ["SPARK_LOCAL_DIRS"], result=result,
    )
    (work / "records").mkdir(parents=True, exist_ok=True)
    (work / "records" / f"{tag}.json").write_text(json.dumps(record, indent=1))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
