"""Spark event-log parser: per-job-group totals for the traced run.

The benchmark tags every call into a layer with a Spark job group
(``SparkContext.setJobGroup``) and enables an uncompressed, non-rolling event
log for the traced session. This module reads that log back and sums, per
job group:

* ``jobs``           — jobs submitted;
* ``busy_core_s``    — task wall time (launch → finish) summed over tasks;
* ``shuffle_bytes``  — shuffle bytes written (each shuffled byte once);
* ``python_rows``    — rows out of ``ArrowEvalPython`` plan nodes, i.e. the
  rows that crossed into the Python workers and back;
* ``intervals``      — (submit, complete) epoch-ms pairs of every job, used by
  :func:`gap_seconds` to find driver time with no job running.
"""

from __future__ import annotations

import json
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _arrow_row_accumulators(plan: dict, out: set[int]) -> None:
    if plan["nodeName"].startswith("ArrowEvalPython"):
        for m in plan["metrics"]:
            if m["name"] == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for child in plan["children"]:
        _arrow_row_accumulators(child, out)


def _new_group() -> dict:
    return {
        "jobs": 0,
        "busy_core_s": 0.0,
        "shuffle_bytes": 0,
        "python_rows": 0,
        "intervals": [],
    }


def parse(path: str) -> dict[str, dict]:
    """Totals per job group (jobs without a group land under ``""``)."""
    groups: dict[str, dict] = defaultdict(_new_group)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    arrow_acc: set[int] = set()
    # task accumulator updates are only attributable once every plan version
    # (AQE re-plans mid-query) has been seen, so they are buffered
    acc_updates: list[tuple[str, int, int]] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = ev.get("Properties", {}).get("spark.jobGroup.id") or ""
                jid = ev["Job ID"]
                job_group[jid] = group
                job_submit[jid] = ev["Submission Time"]
                groups[group]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                groups[job_group[jid]]["intervals"].append(
                    (job_submit[jid], ev["Completion Time"])
                )
            elif kind == "SparkListenerTaskEnd":
                if ev["Task End Reason"]["Reason"] != "Success":
                    continue
                group = stage_group.get(ev["Stage ID"], "")
                g = groups[group]
                info = ev["Task Info"]
                g["busy_core_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000.0
                tm = ev.get("Task Metrics") or {}
                g["shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                for acc in info.get("Accumulables", []):
                    if acc.get("Metadata") == "sql" and acc["Name"] == "number of output rows":
                        acc_updates.append((group, int(acc["ID"]), int(acc["Update"])))
            elif kind in (SQL_START, SQL_AQE_UPDATE):
                _arrow_row_accumulators(ev["sparkPlanInfo"], arrow_acc)
    for group, acc_id, update in acc_updates:
        if acc_id in arrow_acc:
            groups[group]["python_rows"] += update
    return dict(groups)


def gap_seconds(span: tuple[float, float], intervals: list[tuple[int, int]]) -> float:
    """Seconds of ``span`` (epoch seconds) during which no job ran.

    ``intervals`` are job (submit, complete) pairs in epoch milliseconds from
    any group: a job of another group running inside the span still keeps
    the cluster busy, so only the union of all jobs counts as covered.
    """
    lo, hi = span[0] * 1000.0, span[1] * 1000.0
    covered = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return max(hi - lo - covered, 0.0) / 1000.0
