"""xml_ingest_stream: the XML layers end to end, batch and streaming.

One pass is an ingest pass (the five ``sources`` routes over seeded order
XML, see ``ingest``) followed by one streaming drain (seeded event XML
through ``stream_xml`` and ``tumbling_counts``, see ``stream``).  The
``plans``, ``sources`` and ``streaming`` layers do all of the work;
``operators`` none.

The first pass runs in the fresh session and is reported alone as
``cold_pass_s``; after the JIT compiler has gone idle, warm passes repeat
until ``--seconds`` have passed.
``batch_s`` is the summed wall of one warm pass's route calls and
``loop_s`` the wall of one warm drain.
"""

from __future__ import annotations

import time
from statistics import median

from . import ingest, layers, stream
from .harness import Context, Metric, Outcome
from .stats import tail


def run(ctx: Context) -> Outcome:
    staged = ingest.stage(ctx)
    src, events = stream.stage(ctx)

    def one_pass(p: int):
        return ingest.run_pass(ctx, staged, p), stream.drain(ctx, src, events, p)

    cold_routes, (cold_drain, _) = one_pass(0)
    ctx.settle()
    passes, t_warm = [], time.monotonic()
    while not passes or time.monotonic() - t_warm < ctx.seconds:
        passes.append(one_pass(len(passes) + 1))
    routes = [r for r, _ in passes]
    drains = [d for _, (d, _) in passes]
    batches = [b for _, (_, prog) in passes for b in prog]
    label, tail_ms = tail([b["durationMs"]["triggerExecution"] for b in batches])
    batch_s = [sum(c.wall_s for c in calls) for calls in routes]
    records = sum(c.records for c in routes[-1])
    out = Outcome(notes=[
        f"xml_ingest_stream: {staged.describe()}; {stream.describe(events)}; "
        f"{len(passes)} warm passes",
        f"routes {records / median(batch_s):.0f} records/s; stream "
        f"{events.records / median(d.wall_s for d in drains):.0f} records/s; "
        f"micro-batch tail = {label} of {len(batches)}: {tail_ms:.0f} ms",
        "route walls (cold | warm median): " + ", ".join(
            f"{r} {cold_routes[i].wall_s:.2f} | {median([ps[i].wall_s for ps in routes]):.2f} s"
            for i, r in enumerate(layers.ROUTES)),
    ])
    out.end_to_end = {
        "cold_pass_s": Metric(sum(c.wall_s for c in cold_routes) + cold_drain.wall_s, "s"),
        "batch_s": Metric(median(batch_s), "s"),
        "loop_s": Metric(median([d.wall_s for d in drains]), "s"),
    }
    counts = {r: ctx.status_counts(routes[-1][i].group)
              for i, r in enumerate(layers.ROUTES)} if ctx.trace else {}

    def per_layer() -> dict[str, Metric]:
        m = ingest.layer_metrics(ctx, staged, routes, counts)
        m |= stream.layer_metrics(batches)
        m["tracing.cold_pass_s"] = out.end_to_end["cold_pass_s"]
        return layers.complete(m)

    out.per_layer = per_layer
    return out
