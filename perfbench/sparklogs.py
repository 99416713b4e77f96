"""Stdlib readers for what a Spark run leaves behind.

``read_event_log`` folds an uncompressed Spark event log (a single
file, or the ``eventlog_v2_*`` directory of rolled ``events_N_*``
files) into per-job-group counters. Each job carries the job group its
driver thread had set (``SparkContext.setJobGroup``); a stage and its
tasks belong to the group of the job that submitted the stage. Stages
are counted from ``StageCompleted`` events; a stage a job lists but
that never ran (its shuffle output already existed) counts as skipped.

``census_stderr`` counts the WARN/ERROR lines and Java stack traces a
run printed, keyed by the log4j logger that emitted them.
"""

from __future__ import annotations

import collections
import json
import os
import re

COUNTERS = (
    "jobs",
    "stages",
    "stages_skipped",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "deser_ms",
    "gc_ms",
    "input_bytes",
    "output_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)
NO_GROUP = "<none>"


def _event_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path]
    rolled = [n for n in os.listdir(path) if n.startswith("events_")]
    # events_<index>_<appid>: replay in index order
    rolled.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in rolled]


def _events(path: str):
    for fname in _event_files(path):
        with open(fname, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def read_event_log(path: str) -> dict[str, dict[str, int]]:
    """``{job_group: {counter: value}}`` over every job in the log."""
    out: dict[str, collections.Counter] = collections.defaultdict(collections.Counter)
    stage_group: dict[int, str] = {}
    job_stages: list[tuple[str, list[int]]] = []
    completed: set[int] = set()
    for ev in _events(path):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or NO_GROUP
            out[group]["jobs"] += 1
            job_stages.append((group, ev["Stage IDs"]))
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid not in completed:
                completed.add(sid)
                out[stage_group.get(sid, NO_GROUP)]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            c = out[stage_group.get(ev["Stage ID"], NO_GROUP)]
            c["tasks"] += 1
            m = ev.get("Task Metrics")
            if not m:
                continue
            c["executor_run_ms"] += m["Executor Run Time"]
            c["executor_cpu_ms"] += m["Executor CPU Time"] / 1e6  # ns
            c["deser_ms"] += m["Executor Deserialize Time"]
            c["gc_ms"] += m["JVM GC Time"]
            c["input_bytes"] += m["Input Metrics"]["Bytes Read"]
            c["output_bytes"] += m["Output Metrics"]["Bytes Written"]
            c["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            c["spill_bytes"] += m["Disk Bytes Spilled"]
    for group, sids in job_stages:
        out[group]["stages_skipped"] += sum(1 for s in sids if s not in completed)
    return {g: {k: int(c[k]) for k in COUNTERS} for g, c in out.items()}


def sum_groups(
    groups: dict[str, dict[str, int]], match
) -> dict[str, int]:
    """Counters summed over every group for which ``match(group)`` holds."""
    total = dict.fromkeys(COUNTERS, 0)
    for g, c in groups.items():
        if match(g):
            for k in COUNTERS:
                total[k] += c[k]
    return total


# log4j console layout: "26/10/17 08:56:41 WARN NativeCodeLoader: msg"
_LOG_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (WARN|ERROR) ([\w.$]+): ")
_FRAME = re.compile(r"^\s+at |^\s+\.\.\. \d+ more")


def census_stderr(path: str) -> dict[str, collections.Counter]:
    """``{"warn": {logger: n}, "error": {...}, "stack_traces": {...}}``.

    A stack trace is a run of ``at …`` frame lines (with its ``Caused
    by`` chain); it is charged to the logger of the log line above it.
    """
    census = {k: collections.Counter() for k in ("warn", "error", "stack_traces")}
    logger = "<unknown>"
    in_trace = False
    with open(path, encoding="utf-8", errors="replace") as fh:
        for line in fh:
            m = _LOG_LINE.match(line)
            if m:
                logger = m.group(2)
                census[m.group(1).lower()][logger] += 1
                in_trace = False
            elif _FRAME.match(line):
                if not in_trace:
                    census["stack_traces"][logger] += 1
                    in_trace = True
            elif not line.startswith(("Caused by:", "Suppressed:", "\tSuppressed:")):
                in_trace = False
    return census
