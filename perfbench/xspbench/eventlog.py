"""Reduce an uncompressed Spark event log to per-job-group numbers.

The benchmark sets a job group around every timed call, so each group is
one call (or one named set of calls).  Only the standard listener events
are read: ``JobStart`` (group, submission time, stage ids), ``JobEnd``,
``TaskEnd`` (task metrics) and ``StageCompleted`` (stage accumulables,
which carry the Python-worker byte counters).
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Iterable
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class GroupStats:
    """Times and bytes of one job group; its job, stage and task counts
    come from the status tracker instead."""

    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_bytes: int = 0
    # (submission, completion) of every job, epoch seconds
    job_spans: list[tuple[float, float]] = field(default_factory=list)


def union_s(spans: Iterable[tuple[float, float]], lo: float = float("-inf"),
            hi: float = float("inf")) -> float:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in spans):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def reduce_events(lines: Iterable[str]) -> dict[str, GroupStats]:
    """Per job group statistics; jobs without a group are left out."""
    groups: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = group
            job_start[jid] = ev["Submission Time"] / 1000
            groups.setdefault(group, GroupStats())
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]].job_spans.append(
                    (job_start[jid], ev["Completion Time"] / 1000)
                )
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            metrics = ev.get("Task Metrics")
            if group is None or metrics is None:
                continue
            g = groups[group]
            g.run_s += metrics["Executor Run Time"] / 1e3
            g.cpu_s += metrics["Executor CPU Time"] / 1e9
            g.gc_s += metrics["JVM GC Time"] / 1e3
            g.shuffle_bytes += metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            g.spill_bytes += metrics["Memory Bytes Spilled"] + metrics["Disk Bytes Spilled"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None:
                continue
            g = groups[group]
            for acc in info.get("Accumulables", ()):
                if acc["Name"] in (PY_SENT, PY_RETURNED):
                    g.python_bytes += int(acc["Value"])
    return groups


def event_files(log_dir: str) -> list[str]:
    """The event files of the single application logged under ``log_dir``
    (Spark 4 writes a rolling ``eventlog_v2_*`` directory by default), in
    the order they were written: ``events_<n>_<app id>``."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    return files


def reduce_dir(log_dir: str) -> tuple[dict[str, GroupStats], int]:
    """Reduce every event file under ``log_dir``; also returns their bytes."""
    files = event_files(log_dir)

    def lines():
        for path in files:
            with open(path, encoding="utf-8") as fh:
                yield from fh

    return reduce_events(lines()), sum(os.path.getsize(p) for p in files)
