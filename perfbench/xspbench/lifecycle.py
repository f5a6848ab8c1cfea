"""Stop Spark and every process it started, and wait until each has ended."""

from __future__ import annotations

import os
import signal
import subprocess
import time

from . import procmem


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(") ")[-1][:1] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def jvm_pid() -> int:
    """Process id of the JVM that PySpark launched for this driver."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, shut the JVM gateway down and wait for the JVM and
    the Python workers it forked; whatever outlives ``timeout_s`` is
    killed."""
    from pyspark import SparkContext

    started = procmem.descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout_s)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
    _wait_gone(started, timeout_s)
    for pid in started:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    _wait_gone(started, timeout_s)
