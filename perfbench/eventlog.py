"""Spark event-log parser: per job description, task metrics and the
physical-plan metrics the traced run reports.

The traced run sets the job description to the name of the innermost open
span, so every Spark job and SQL execution carries the span that caused it.

* Task metrics (executor CPU, GC, shuffle, spill) come from TaskEnd events
  and are attributed through stage -> job -> `spark.job.description`.
* Plan metrics (ArrowEvalPython rows and Python-worker time, broadcast
  sizes, shuffle bytes per Exchange) are SQL accumulators: their ids are
  declared in the plan trees of SQLExecutionStart / AdaptiveExecutionUpdate
  events, and their values arrive as task accumulable updates and as
  driver-side DriverAccumUpdates. Each execution is attributed to its own
  description.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from typing import Iterable, Iterator

# (plan node prefix, SQL metric name) -> reported key, unit divisor
PLAN_METRICS = {
    ("ArrowEvalPython", "number of output rows"): ("arrow_rows", 1),
    ("ArrowEvalPython", "time to run Python workers"): ("python_s", 1e3),
    ("ArrowEvalPython", "data sent to Python workers"): ("arrow_sent_mb", 2**20),
    ("ArrowEvalPython", "data returned from Python workers"): ("arrow_returned_mb", 2**20),
    ("BroadcastExchange", "data size"): ("broadcast_mb", 2**20),
    ("Exchange", "shuffle bytes written"): ("exchange_written_mb", 2**20),
}

def event_files(path: str) -> list[str]:
    """The log's files in order: a plain file, or a rolling-log directory
    (eventlog_v2_*/events_<n>_*) or a directory holding one of those."""
    if os.path.isfile(path):
        return [path]
    found = glob.glob(os.path.join(path, "events_*")) or glob.glob(
        os.path.join(path, "*", "events_*")
    )
    if not found:
        found = [
            p for p in glob.glob(os.path.join(path, "*"))
            if os.path.isfile(p) and not os.path.basename(p).startswith(".")
        ]

    def index(p: str) -> tuple[int, str]:
        parts = os.path.basename(p).split("_")
        return (int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0, p)

    return sorted(found, key=index)


def read_events(path: str) -> Iterator[dict]:
    for f in event_files(path):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _walk_plan(node: dict, out: dict[int, tuple[str, str]]) -> None:
    kind = node.get("nodeName", "").split(" ")[0]
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (kind, m["name"])
    for child in node.get("children", []):
        _walk_plan(child, out)


def summarize(events: Iterable[dict]) -> dict[str | None, dict[str, float]]:
    """description -> metric sums. Jobs without a description sit under
    None."""
    stage_job: dict[int, int] = {}
    job_desc: dict[int, str | None] = {}
    exec_desc: dict[int, str | None] = {}
    accum_exec: dict[int, int] = {}
    accum_kind: dict[int, tuple[str, str]] = {}
    accum_sum: dict[int, float] = defaultdict(float)
    out: dict[str | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            job_desc[e["Job ID"]] = desc
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
            out[desc]["spark_jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            desc = job_desc.get(stage_job.get(e.get("Stage ID")))
            m = e.get("Task Metrics") or {}
            row = out[desc]
            row["tasks"] += 1
            row["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            row["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
            row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            row["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 2**20
            sw = m.get("Shuffle Write Metrics") or {}
            row["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            row["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 2**20
            row["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20
            row["output_mb"] += (
                (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 2**20
            )
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("ID") in accum_kind:
                    accum_sum[acc["ID"]] += float(acc.get("Update") or 0)
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            ex = e["executionId"]
            if kind.endswith("SQLExecutionStart"):
                exec_desc[ex] = e.get("description")
            ids: dict[int, tuple[str, str]] = {}
            _walk_plan(e.get("sparkPlanInfo") or {}, ids)
            for acc_id, metric in ids.items():
                if metric in PLAN_METRICS:
                    accum_kind[acc_id] = metric
                    accum_exec[acc_id] = ex
        elif kind.endswith("DriverAccumUpdates"):
            for acc_id, value in e.get("accumUpdates", []):
                if acc_id in accum_kind:
                    accum_sum[acc_id] += float(value)

    for acc_id, total in accum_sum.items():
        key, div = PLAN_METRICS[accum_kind[acc_id]]
        out[exec_desc.get(accum_exec[acc_id])][key] += total / div
    return {k: dict(v) for k, v in out.items()}


def totals(summary: dict, prefix: str) -> dict[str, float]:
    """Sum of the rows whose description equals `prefix` or starts with
    `prefix` followed by a dot."""
    acc: dict[str, float] = defaultdict(float)
    for desc, row in summary.items():
        if desc is not None and (desc == prefix or desc.startswith(prefix + ".")):
            for k, v in row.items():
                acc[k] += v
    return dict(acc)
