#!/usr/bin/env python3
"""Repository benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload sim_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The benchmark generates its inputs from the
seed, starts a Spark session on ``local[N]`` where N is the number of CPUs
this process may run on, warms the engine up, measures for ``--seconds``
seconds (whole reps), checks every output and prints the result as the last
stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (job groups + an event log this script enables).
Everything it writes goes under ``.perfbench_work/`` in the working
directory and is removed on exit. Workloads, metrics and bounds are
described in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

END_TO_END = ("setup_s", "wall_s", "fold_p50_s", "peak_pss_mb", "pair_precision", "pair_recall")
SPAN_UNITS = {
    "wall_s": "s",
    "jobs": "count",
    "busy_core_s": "core_s",
    "gap_s": "s",
    "shuffle_bytes": "bytes",
    "rows_out": "rows",
}


def _cpus() -> int:
    """CPUs this process may run on — ``nproc`` without OMP_NUM_THREADS."""
    return len(os.sched_getaffinity(0))


def _environment(work: str) -> None:
    """Point Spark, its Python workers and temp files at the work dir."""
    for sub in ("spark-local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # the pandas UDF workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    sys.path.insert(0, REPO)


def _session(work: str, cpus: int, trace: bool):
    from identity_matching_spark.session import get_spark

    conf = {
        # bench.py's harness settings: small scan splits, a codegen cache
        # that holds every fragment of a pipeline run
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        "spark.sql.codegen.cache.maxEntries": "2000",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="idmatch-perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its workers) to end,
    even when the session is already broken."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    try:
        spark.stop()
        SparkContext._gateway.shutdown()
    finally:
        proc.stdin.close()  # the JVM exits when its parent's pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _layer_metrics(res, tracer, event_file: str) -> dict[str, tuple[float, str]]:
    import eventlog
    from workloads import SPANS

    groups = eventlog.parse(event_file)
    intervals = [iv for g in groups.values() for iv in g["intervals"]]
    empty = {"jobs": 0, "busy_core_s": 0.0, "shuffle_bytes": 0, "python_rows": 0}
    out: dict[str, tuple[float, str]] = {}
    for span in SPANS:
        g = groups.get(span, empty)
        spans = tracer.spans.get(span, [])
        values = {
            "wall_s": sum(b - a for a, b in spans),
            "jobs": g["jobs"],
            "busy_core_s": g["busy_core_s"],
            "gap_s": sum(eventlog.gap_seconds(s, intervals) for s in spans),
            "shuffle_bytes": g["shuffle_bytes"],
            "rows_out": tracer.rows.get(span, 0),
        }
        for k, v in values.items():
            out[f"{span}.{k}"] = (float(v), SPAN_UNITS[k])
    rows = tracer.rows
    rep = res.report

    def ratio(a, b):
        return a / b if b else 0.0

    out["people.kept_ratio"] = (ratio(rows.get("people", 0), rows.get("signatures", 0)), "ratio")
    out["hashing.python_rows"] = (float(groups.get("hashing", empty)["python_rows"]), "rows")
    out["scoring.python_rows"] = (float(groups.get("scoring", empty)["python_rows"]), "rows")
    out["hashing.candidates"] = (float(rows.get("hashing", 0)), "pairs")
    out["scoring.kept_ratio"] = (ratio(rows.get("scoring", 0), rows.get("hashing", 0)), "ratio")
    out["cluster.components"] = (float(rep.get("components", 0)), "count")
    out["incremental.bytes_written"] = (float(rep.get("incremental.bytes_written", 0)), "bytes")
    out["incremental.buckets_rewritten_share"] = (
        float(rep.get("incremental.buckets_rewritten_share", 0)),
        "ratio",
    )
    out["trace.overhead_s"] = (rep["traced_wall_s"] - rep["untraced_wall_s"], "s")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.time()
    # a terminated run still stops Spark and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(os.getcwd(), ".perfbench_work", str(os.getpid()))
    trace = bool(args.trace)
    cpus = _cpus()
    spark = None
    try:
        _environment(work)
        sys.path.insert(0, HERE)
        from measure import Tracer
        from workloads import WORKLOADS, run_batch, run_fold  # needs the engine importable

        if args.workload not in WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        wl = WORKLOADS[args.workload]
        spark = _session(work, cpus, trace)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        tracer = Tracer(spark) if trace else None
        runner = run_batch if wl["kind"] == "batch" else run_fold
        res = runner(spark, wl, args.seed, args.seconds, tracer, work, jvm_pid, t_start)
        app_id = spark.sparkContext.applicationId
        _stop(spark)
        spark = None
        if trace:
            metrics = _layer_metrics(res, tracer, os.path.join(work, "eventlog", app_id))
        else:
            metrics = {k: res.metrics[k] for k in END_TO_END}
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run's work dir is still there

    print(f"workload {args.workload} seed {args.seed} cores {cpus} trace {args.trace}")
    for key, value in res.report.items():
        print(f"{key}: {value}")
    for name, (value, unit) in sorted(res.metrics.items()):
        print(f"{name}: {value:.6g} {unit}")
    print(f"error_rate: {res.failed / max(res.attempted, 1):.6g} ({res.failed}/{res.attempted})")
    print(f"run_s: {time.time() - t_start:.1f}")
    for failure in res.failures:
        print(f"FAILED: {failure}")
    result = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
