"""xsp benchmark: one workload per process, one JSON result line.

    python3 perfbench/run.py --workload xml_ingest_stream --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` turns the Spark event log on and prints the
per-layer metrics instead.  Workloads and metrics are described in
``perfbench/README.md``.  The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import os
import time


def _process_age_s() -> float:
    """Seconds since this process started, from ``/proc``."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = time.monotonic() - _process_age_s()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("xml_ingest_stream", "query_mix")
# local-mode driver heap: enough for every workload, small enough to share
# the machine; fixed so that runs on different hosts configure alike
DRIVER_MEMORY = "2g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure(work_dir: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work_dir``
    and, for a traced run, turn on the uncompressed event log.  Spark 4
    compresses event logs with zstd by default, which stdlib cannot read.
    The options go through ``PYSPARK_SUBMIT_ARGS`` because the package's
    ``get_session`` builds its own ``SparkSession.builder``."""
    dirs = {k: os.path.join(work_dir, k)
            for k in ("tmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    confs = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
        }
    args = [f"--driver-java-options=-Djava.io.tmpdir={dirs['tmp']}"]
    args += [f"--conf={k}={v}" for k, v in confs.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _configure(work_dir, bool(args.trace))
    try:
        return _run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by another run
            os.rmdir(os.path.dirname(work_dir))


def _run(args, work_dir: str) -> int:
    from xspbench import eventlog, lifecycle, procmem
    from xspbench.harness import Context, Metric
    from xmlstreamprocessor_spark.session import get_session

    nproc = len(os.sched_getaffinity(0))
    spark = get_session(f"xsp-bench-{args.workload}", master=f"local[{nproc}]",
                        shuffle_partitions=nproc)
    try:
        spark.range(1).collect()
        setup_s = time.monotonic() - PROCESS_START
        ctx = Context(spark, args.seed, args.seconds, bool(args.trace), nproc,
                      work_dir, os.path.join(HERE, "data"))
        module = importlib.import_module(f"xspbench.{args.workload}")
        jvm = frozenset({lifecycle.jvm_pid()})
        with procmem.MemSampler(rss_pids=jvm) as mem:
            outcome = module.run(ctx)
    finally:
        lifecycle.stop_spark(spark)
    if args.trace:
        ctx.groups, log_bytes = eventlog.reduce_dir(os.path.join(work_dir, "eventlog"))
        metrics = outcome.per_layer()
        metrics["tracing.eventlog_mb"] = Metric(log_bytes / 1e6, "MB")
    else:
        metrics = {"setup_s": Metric(setup_s, "s"),
                   "peak_rss_mb": Metric(mem.peak_bytes / 1e6, "MB"),
                   **outcome.end_to_end}
    for note in outcome.notes:
        print(f"# {note}", file=sys.stderr)
    ratio = ctx.failed / max(ctx.attempted, 1)
    print(f"# failed_ratio {ratio:.4f} ({ctx.failed}/{ctx.attempted} calls); "
          f"memory samples {mem.samples}", file=sys.stderr)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": m.value, "unit": m.unit} for k, m in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
