"""Structured Streaming over event-XML files, closed loop.

``streaming.stream_xml(..., max_files_per_trigger=1)`` feeds
``streaming.tumbling_counts`` (1-hour windows, 2-hour watermark) drained
with ``trigger(availableNow=True)`` into a ``foreachBatch`` sink that
collects every row of every micro-batch.  Each file is one micro-batch and
the next batch starts when the previous one commits.  The parse kernel is
the one the batch routes use; here the fixed per-batch costs (planning,
offset log, state commit) and the watermark state carry the weight.

Records are counted from the generator's manifest, and the sink's final
per-window counts and value sums must equal the generator's ground truth
(output mode ``update``, so the last update of each window is its total).
"""

from __future__ import annotations

import json
import os
import sys
import time
from decimal import Decimal
from statistics import median

from . import gen
from .harness import Context, Metric
from .stats import tail

N_FILES = 8
EVENTS_PER_FILE = 300
PROGRESS = {  # progress durationMs key -> per-layer metric
    "addBatch": "streaming.add_batch_ms_p50",
    "queryPlanning": "streaming.query_planning_ms_p50",
    "walCommit": "streaming.wal_commit_ms_p50",
    "commitOffsets": "streaming.commit_offsets_ms_p50",
    "latestOffset": "streaming.latest_offset_ms_p50",
}


def _spec():
    from xmlstreamprocessor_spark.plans import X

    return X.struct("event", {
        "event_id": X.attr("id"), "event_type": X.string("type"),
        "ts": X.ndate("ts"), "value": X.ndecimal("value"),
    })


def drain(ctx: Context, src: str, truth: gen.EventStream, k: int):
    """One availableNow drain of every file; returns the call and the
    progress of its data batches."""
    from xmlstreamprocessor_spark.streaming.sources import stream_xml
    from xmlstreamprocessor_spark.streaming.windows import tumbling_counts

    sink: dict[tuple[str, str], tuple[int, Decimal]] = {}

    def collect(batch_df, _batch_id):
        for r in batch_df.collect():
            sink[(r["window_start"], r["event_type"])] = (r["n"], r["total_value"])

    progress = []
    with ctx.call(f"stream.drain.{k}") as c:
        events = stream_xml(ctx.spark, src, "event", _spec(), max_files_per_trigger=1)
        q = (tumbling_counts(events).writeStream.outputMode("update")
             .foreachBatch(collect)
             .option("checkpointLocation", os.path.join(ctx.work_dir, "ckpt", str(k)))
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination()
        finally:
            q.stop()
        c.end = time.time()
        progress = [json.loads(p.json) for p in q.recentProgress]
        progress = [p for p in progress if p["numInputRows"] > 0]
        c.records = truth.records
        c.ok = sink == truth.windows and len(progress) == len(truth.files)
        if not c.ok:
            bad = {w for w in set(sink) | set(truth.windows)
                   if sink.get(w) != truth.windows.get(w)}
            print(f"# WRONG drain {k}: {len(bad)} windows differ, "
                  f"{len(progress)} data batches for {len(truth.files)} files",
                  file=sys.stderr)
            for w in sorted(bad)[:5]:
                print("#  ", w, sink.get(w), truth.windows.get(w), file=sys.stderr)
    return c, progress


def stage(ctx: Context) -> tuple[str, gen.EventStream]:
    src = os.path.join(ctx.work_dir, "events")
    return src, gen.event_stream(ctx.seed, src, N_FILES, EVENTS_PER_FILE)


def describe(truth: gen.EventStream) -> str:
    return (f"{N_FILES} event files x {EVENTS_PER_FILE} events ({truth.late} "
            "later than the watermark), one file per micro-batch")


def layer_metrics(batches: list[dict]) -> dict[str, Metric]:
    """``streaming.*`` from the progress of the warm drains' data batches;
    the tail follows ``stats.tail`` (the slowest batch below 20 batches)."""
    walls = [p["durationMs"]["triggerExecution"] for p in batches]
    m = {
        "streaming.batches": Metric(len(batches), "count"),
        "streaming.batch_ms_p50": Metric(median(walls), "ms"),
        "streaming.batch_ms_tail": Metric(tail(walls)[1], "ms"),
    }
    for key, name in PROGRESS.items():
        m[name] = Metric(median([p["durationMs"].get(key, 0) for p in batches]), "ms")
    state = [p["stateOperators"][0] for p in batches]
    m["streaming.state_rows_max"] = Metric(max(s["numRowsTotal"] for s in state), "count")
    m["streaming.state_bytes_max"] = Metric(max(s["memoryUsedBytes"] for s in state), "B")
    m["streaming.rows_dropped_by_watermark"] = Metric(
        sum(s["numRowsDroppedByWatermark"] for s in state), "count")
    return m
