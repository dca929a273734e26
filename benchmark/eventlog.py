"""Fold a Spark event log into per-job-group and per-micro-batch counters.

The log is the JSON-lines file Spark writes with ``spark.eventLog.enabled``
(uncompressed, not rolled).  Every job is charged to a key taken from the
local properties it was submitted with: ``group:<spark.jobGroup.id>``,
or ``batch:<streaming.sql.batchId>`` for a Structured Streaming
micro-batch, or ``other``.  Stages are charged to the key of the local
properties they were submitted with (those of the job that ran them),
and tasks to their stage.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterable

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_wait_s",
    "cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "bytes_written",
)


def job_key(props: dict) -> str:
    if props.get("streaming.sql.batchId") is not None:
        return f"batch:{props['streaming.sql.batchId']}"
    if props.get("spark.jobGroup.id"):
        return f"group:{props['spark.jobGroup.id']}"
    return "other"


def fold(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """Counters per job key; see ``COUNTERS`` for the fields."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    key_of_stage: dict[tuple[int, int], str] = {}
    stage_submit_ms: dict[tuple[int, int], float] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            out[job_key(ev.get("Properties") or {})]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sk = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            key = job_key(ev.get("Properties") or {})
            key_of_stage[sk] = key
            stage_submit_ms[sk] = info.get("Submission Time", 0)
            out[key]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sk = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            c = out[key_of_stage.get(sk, "other")]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            c["tasks"] += 1
            if sk in stage_submit_ms and info.get("Launch Time"):
                c["task_wait_s"] += max(0, info["Launch Time"] - stage_submit_ms[sk]) / 1e3
            c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            c["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return dict(out)


def fold_file(path: str) -> dict[str, dict[str, float]]:
    with open(path) as f:
        return fold(f)


def add(into: dict[str, float], c: dict[str, float]) -> None:
    for k in COUNTERS:
        into[k] = into.get(k, 0) + c.get(k, 0)
