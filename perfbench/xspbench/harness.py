"""Shared run context: the Spark session, timed calls and their accounting.

Every call into a layer's public functions is timed here, from the
benchmark's side, inside its own Spark job group so that the job counts
(``statusTracker``) and the traced run's event log can be attributed to
it.  Nothing inside the package under test is instrumented.
"""

from __future__ import annotations

import contextlib
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from . import eventlog


@dataclass
class Call:
    """One timed call: wall-clock span (epoch seconds) and outcome."""

    group: str
    start: float
    end: float = 0.0
    fn_s: float = 0.0
    records: int = 0
    ok: bool = False

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Metric:
    value: float
    unit: str


@dataclass
class Outcome:
    """What a workload hands back to the runner."""

    end_to_end: dict[str, Metric] = field(default_factory=dict)
    # per-layer metrics need the event log, which is complete only after
    # the session stops, so the workload hands back a function
    per_layer: Callable[[], dict[str, Metric]] = dict
    notes: list[str] = field(default_factory=list)


class Context:
    def __init__(self, spark, seed: int, seconds: float, trace: bool,
                 nproc: int, work_dir: str, data_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.nproc = nproc
        self.work_dir = work_dir
        self.data_dir = data_dir
        self.calls: list[Call] = []
        self.groups: dict[str, eventlog.GroupStats] = {}

    @property
    def attempted(self) -> int:
        return len(self.calls)

    @property
    def failed(self) -> int:
        return sum(not c.ok for c in self.calls)

    @contextlib.contextmanager
    def call(self, group: str):
        """Time the body as one call in job group ``group``.  The body
        sets ``records``/``fn_s`` and marks ``ok`` once its output has
        been checked; an exception counts as a failed call and is
        reported, not raised, so one bad call does not hide the rest."""
        c = Call(group=group, start=time.time())
        self.calls.append(c)
        self.sc.setJobGroup(group, group)
        try:
            yield c
        except Exception as e:  # noqa: BLE001 - a failed call is a result
            c.ok = False
            print(f"# FAILED {group}: {type(e).__name__}: {str(e)[:300]}",
                  file=sys.stderr, flush=True)
        finally:
            if not c.end:
                c.end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def settle(self, quiet_s: float = 0.5, limit_s: float = 5.0) -> None:
        """Untimed: collect the JVM heap and wait until its JIT compiler
        has been idle for ``quiet_s`` (at most ``limit_s``), so that
        compilation queued by earlier work does not compete with the
        timed calls that follow."""
        jvm = self.sc._jvm.java.lang.management.ManagementFactory
        jvm.getMemoryMXBean().gc()
        compiler = jvm.getCompilationMXBean()
        deadline = time.monotonic() + limit_s
        last = compiler.getTotalCompilationTime()
        while time.monotonic() < deadline:
            time.sleep(quiet_s)
            now = compiler.getTotalCompilationTime()
            if now == last:
                return
            last = now

    def status_counts(self, group: str) -> tuple[int, int, int]:
        """``(jobs, stages, tasks)`` that ran for ``group``, from the
        status tracker; stages skipped because their output was reused
        ran no task and are not counted."""
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(group))
        stages, tasks = set(), 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                sinfo = st.getStageInfo(sid)
                if sid in stages or sinfo is None or sinfo.numCompletedTasks == 0:
                    continue
                stages.add(sid)
                tasks += sinfo.numCompletedTasks
        return len(jobs), len(stages), tasks

    def stats(self, group: str) -> eventlog.GroupStats:
        """Event-log statistics of ``group`` (traced runs only)."""
        return self.groups.get(group, eventlog.GroupStats())
