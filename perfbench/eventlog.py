"""Per-tag totals from an uncompressed Spark event log (stdlib only).

The traced run wraps each layer call in a Spark job group whose id is the
layer's tag. Spark copies the job group into the properties of every job
and stage it submits, including the broadcast and adaptive-execution
jobs a query launches from other threads, so grouping the log's events
by that property attributes every job, stage and task to one layer.
"""

from __future__ import annotations

import json
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"
UNTAGGED = "untagged"
FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
          "spill_mb", "shuffle_read_mb", "shuffle_write_mb")
# divisor from the log's unit (ms, ns, bytes) to the field's unit
SCALE = {"executor_run_s": 1e3, "executor_cpu_s": 1e9, "gc_s": 1e3,
         "spill_mb": 1e6, "shuffle_read_mb": 1e6, "shuffle_write_mb": 1e6}


def _tag(event: dict) -> str:
    return (event.get("Properties") or {}).get(GROUP_KEY) or UNTAGGED


def summarize(lines) -> dict[str, dict[str, float]]:
    """``{tag: {field: total}}`` over the events in ``lines`` (an iterable
    of JSON strings). A stage counts once per submitted attempt; stages a
    job skips because their shuffle output already exists never appear.
    Totals are summed in the log's integer units (ms, ns, bytes) and
    converted once, so two logs of the same work give identical figures."""
    raw: dict[str, dict[str, int]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    stage_tag: dict[int, str] = {}
    for line in lines:
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            tag = _tag(event)
            raw[tag]["jobs"] += 1
            for sid in event.get("Stage IDs", []):
                stage_tag.setdefault(sid, tag)
        elif kind == "SparkListenerStageSubmitted":
            sid = event["Stage Info"]["Stage ID"]
            tag = _tag(event) if event.get("Properties") else stage_tag.get(sid, UNTAGGED)
            stage_tag[sid] = tag
            raw[tag]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = event.get("Task Metrics") or {}
            acc = raw[stage_tag.get(event["Stage ID"], UNTAGGED)]
            read = m.get("Shuffle Read Metrics") or {}
            acc["tasks"] += 1
            acc["executor_run_s"] += m.get("Executor Run Time", 0)
            acc["executor_cpu_s"] += m.get("Executor CPU Time", 0)
            acc["gc_s"] += m.get("JVM GC Time", 0)
            acc["spill_mb"] += m.get("Disk Bytes Spilled", 0)
            acc["shuffle_read_mb"] += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
            acc["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return {tag: {f: v / SCALE.get(f, 1) for f, v in totals.items()} for tag, totals in raw.items()}


def summarize_file(path: str) -> dict[str, dict[str, float]]:
    with open(path, encoding="utf-8") as f:
        return summarize(line for line in f if line.strip())
