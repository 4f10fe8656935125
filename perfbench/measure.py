"""Measurement helpers: memory sampling, spans, output checks.

Everything here observes the engine from outside: it reads ``/proc``, tags
Spark jobs with job groups, and queries the DataFrames the engine returns.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all its descendants: resident
    bytes with each shared page split among the processes sharing it, so
    the Python workers forked from one daemon are not counted once per
    worker."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # exited between the listing and the read
    return total


class MemorySampler:
    """Peak memory (PSS) of a process tree, sampled on a thread.

    The tree is the driver JVM with its Python workers (the benchmark's own
    interpreter is its parent, not part of it)."""

    def __init__(self, root_pid: int, interval_s: float = 0.25):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(self.root_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes(self.root_pid))


class Tracer:
    """Spans around calls into the engine's layers.

    Each span runs its jobs under a Spark job group named after the layer, so
    the event log attributes jobs, task time and shuffle bytes to it; the
    span's own (start, end) wall interval gives the driver gap. A layer
    called several times (one span per fold) accumulates."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[str, list[tuple[float, float]]] = {}
        self.rows: dict[str, int] = {}

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.setdefault(name, []).append((t0, time.time()))
            self.sc.setJobGroup("untraced", "untraced")

    def materialize(self, name: str, df: DataFrame) -> DataFrame:
        """Close a layer's lazy output inside its span: the lazy local
        checkpoint the pipeline puts on every stage boundary is filled by
        this count, so the layer's jobs run under its own group."""
        df = df.localCheckpoint(eager=False)
        self.rows[name] = self.rows.get(name, 0) + df.count()
        return df


def clear_storage(spark) -> None:
    """Release every cached/local-checkpoint block (bench.py's rule: blocks
    of a finished run must not occupy executor memory in the next)."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    spark.catalog.clearCache()


def tag_jobs(spark, res) -> str:
    """Put the jobs this thread submits next under a fresh job group, one per
    timed rep, so that the rep's job count can be read back."""
    group = f"rep{len(res.report.setdefault('jobs_per_rep', [])) + 1}"
    spark.sparkContext.setJobGroup(group, group)
    return group


def count_jobs(spark, res, group: str) -> None:
    """Record the number of jobs run under ``group`` in the run's report and
    leave the group."""
    sc = spark.sparkContext
    res.report["jobs_per_rep"].append(len(sc.statusTracker().getJobIdsForGroup(group)))
    sc.setJobGroup("untimed", "untimed")


def fingerprint(df: DataFrame) -> str:
    """Order-insensitive fingerprint: row count plus two independent
    hash sums over all columns, in one aggregation."""
    cols = [F.col(c) for c in sorted(df.columns)]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h1"),
        F.sum(F.xxhash64(F.lit("salt"), *cols).cast("decimal(38,0)")).alias("h2"),
    ).collect()[0]
    mask = (1 << 48) - 1
    return f"{row['n']}:{int(row['h1'] or 0) & mask:012x}:{int(row['h2'] or 0) & mask:012x}"


def conv_assignments(transcripts: DataFrame, members: DataFrame) -> DataFrame:
    """conv_id → predicted component: each conversation's cleaned signature
    joined to the member row holding it (the join the pipeline test uses)."""
    from identity_matching_spark.operators.people import normalize_signatures
    from identity_matching_spark.operators.signatures import extract_signatures

    sigs = normalize_signatures(extract_signatures(transcripts)).select(
        "conv_id",
        "repo",
        F.col("name_c").alias("name"),
        F.col("email_c").alias("email"),
    )
    return (
        sigs.join(
            members.select("repo", "name", "email", "component"),
            ["repo", "name", "email"],
        )
        .select("conv_id", "component")
        .distinct()
    )


def pair_quality(transcripts: DataFrame, labels: DataFrame, members: DataFrame) -> dict:
    """Conversation-level pairwise precision/recall against the latent
    persons, plus coverage (conversations assigned / conversations)."""
    from identity_matching_spark.eval import pairwise_prf

    assigned = conv_assignments(transcripts, members).join(labels, "conv_id")
    assigned = assigned.localCheckpoint(eager=True)
    prf = pairwise_prf(assigned)
    n_assigned = assigned.count()
    n_convs = transcripts.select("conv_id").distinct().count()
    return {
        "precision": prf["precision"],
        "recall": prf["recall"],
        "assigned": n_assigned,
        "convs": n_convs,
    }


def same_partition(a: DataFrame, b: DataFrame) -> bool:
    """Whether two DataFrame[id, component] group the same ids together,
    whatever the component labels: the ids match and the label pairs form a
    bijection."""
    j = a.select("id", F.col("component").alias("ca")).join(
        b.select("id", F.col("component").alias("cb")), "id", "full"
    )
    row = j.agg(
        F.count(F.when(F.col("ca").isNull() | F.col("cb").isNull(), 1)).alias("orphans"),
        F.count_distinct("ca").alias("na"),
        F.count_distinct("cb").alias("nb"),
        F.count_distinct("ca", "cb").alias("nab"),
    ).collect()[0]
    return row["orphans"] == 0 and row["na"] == row["nb"] == row["nab"]
