"""Batch XML extraction through every ``sources`` route.

One ingest pass runs, in order: ``extract_xml(engine="python")`` over a parquet
column of documents (orders plus a heterogeneous slice, wildcard spec),
``extract_xml`` auto-routed on a JVM-safe spec (orders only),
``read_xml`` over multi-record XML files (one of them large), a
``format("xspxml")`` write of typed order rows, and a ``format("xspxml")``
read of what that write produced.  The ``plans`` and ``sources`` layers do
all of this work.

Every read route ends in one aggregate over ``xxhash64`` of every output
column plus the checked sums, so no column can be pruned from the plan and
the same job returns the record count and the exact decimal checksums
that are compared with the generator's ground truth.
"""

from __future__ import annotations

import glob
import os
import sys
import time
from dataclasses import dataclass
from statistics import median

import pyarrow as pa
import pyarrow.parquet as pq

from . import gen
from .harness import Call, Context, Metric
from .layers import ROUTES

N_ORDERS = 12_000
N_HETERO = 1_200
N_FILES = 8
LARGE_SHARE = 0.4
KERNEL_SAMPLE = 2_000


def specs():
    from xmlstreamprocessor_spark.plans import X

    item = X.struct("item", {"sku": X.attr("sku"), "qty": X.nint("qty"),
                             "price": X.ndecimal("price")})
    full = {
        "order_id": X.attr("id"), "status": X.attr("status"),
        "total": X.ndecimal("total"), "odate": X.ndate("odate"),
        "note": X.string("note"), "items": X.array("items", item),
    }
    return {
        # every document, any root tag: the tag is captured as a value
        "wild": X.struct("*", {"kind": X.tag(), **full}),
        # no element strings, no timestamps: eligible for the JVM route
        "jvm": X.struct("order", {k: full[k] for k in ("order_id", "status", "total", "items")}),
        "full": X.struct("order", full),
        # the xspxml writer emits every column as an element
        "written": X.struct("order", {
            "order_id": X.nint("order_id"), "status": X.string("status"),
            "total": X.ndecimal("total"), "odate": X.ndate("odate"),
            "note": X.string("note"),
            "items": X.array("items", X.struct("item", {
                "sku": X.string("sku"), "qty": X.nint("qty"),
                "price": X.ndecimal("price")})),
        }),
    }


ROW_SCHEMA = pa.schema([
    ("order_id", pa.int32()), ("status", pa.string()),
    ("total", pa.decimal128(18, 2)), ("odate", pa.timestamp("us")),
    ("note", pa.string()),
    ("items", pa.list_(pa.struct([("sku", pa.string()), ("qty", pa.int32()),
                                  ("price", pa.decimal128(18, 2))]))),
])


@dataclass
class Staged:
    corpus: gen.OrderCorpus
    paths: dict[str, str]
    specs: dict
    truth: dict[str, tuple]
    input_mb: float
    largest_file_mb: float

    def describe(self) -> str:
        return (f"{N_ORDERS} orders + {N_HETERO} heterogeneous documents, "
                f"{self.input_mb:.1f} MB of XML; {N_FILES} files, "
                f"largest {self.largest_file_mb:.1f} MB")


def stage(ctx: Context) -> Staged:
    """Generate the corpus and stage it, untimed, as parquet document
    columns, typed rows and multi-record XML files."""
    corpus = gen.order_corpus(ctx.seed, N_ORDERS, N_HETERO)

    def want(c: gen.Checksum):
        return c.records, c.total, c.items

    truth = {"extract_python": want(corpus.mixed), "extract_auto": want(corpus.orders),
             "read_xml": want(corpus.orders), "xspxml_write": want(corpus.orders),
             "xspxml_read": want(corpus.orders)}
    d = os.path.join(ctx.work_dir, "ingest")
    paths = {k: os.path.join(d, k) for k in ("mixed", "orders", "rows", "files", "xspxml")}
    for k in ("mixed", "orders", "rows"):
        os.makedirs(paths[k])
    mixed = corpus.order_docs + corpus.hetero_docs
    pq.write_table(pa.table({"doc": mixed}), os.path.join(paths["mixed"], "part-0.parquet"))
    pq.write_table(pa.table({"doc": corpus.order_docs}),
                   os.path.join(paths["orders"], "part-0.parquet"))
    rows = pa.Table.from_pylist(corpus.rows, schema=ROW_SCHEMA)
    step = -(-len(corpus.rows) // ctx.nproc)
    for i in range(ctx.nproc):
        pq.write_table(rows.slice(i * step, step),
                       os.path.join(paths["rows"], f"part-{i}.parquet"))
    sizes = gen.write_xml_files(corpus.order_docs, paths["files"], N_FILES, LARGE_SHARE)
    return Staged(corpus, paths, specs(), truth,
                  input_mb=sum(len(x) for x in mixed) / 1e6,
                  largest_file_mb=max(sizes) / 1e6)


def _checked(df):
    """Materialize every column of ``df`` and return ``(records,
    sum(total), sum(qty * price))`` from the same job."""
    from pyspark.sql import functions as F

    dec = "decimal(18,2)"
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("total").cast(dec)).alias("total"),
        F.sum(F.aggregate(
            "items", F.lit(0).cast(dec),
            lambda acc, x: (acc + x["qty"] * x["price"]).cast(dec),
        )).alias("items"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
    ).collect()[0]
    return row["n"], row["total"], row["items"] or 0


def run_pass(ctx: Context, staged: Staged, p: int) -> list[Call]:
    """One call per route, in ``ROUTES`` order, each checked."""
    from xmlstreamprocessor_spark.sources import extract_xml, read_xml
    from xmlstreamprocessor_spark.sources.datasource import register_xml_source, spec_option
    from xmlstreamprocessor_spark.plans import compile_spec

    spark, paths, sp, truth = ctx.spark, staged.paths, staged.specs, staged.truth
    register_xml_source(spark)

    def read_route(name, make):
        with ctx.call(f"ingest.{name}.{p}") as c:
            got = _checked(make())
            c.end = time.time()
            c.records = got[0]
            c.ok = got == truth[name]
            if not c.ok:
                print(f"# WRONG {name}: got {got}, want {truth[name]}", file=sys.stderr)
        return c

    calls = [
        read_route("extract_python", lambda: extract_xml(
            spark.read.parquet(paths["mixed"]), "doc", sp["wild"], engine="python")),
        read_route("extract_auto", lambda: extract_xml(
            spark.read.parquet(paths["orders"]), "doc", sp["jvm"])),
        read_route("read_xml", lambda: read_xml(spark, paths["files"], "order", sp["full"])),
    ]
    with ctx.call(f"ingest.xspxml_write.{p}") as c:
        (spark.read.parquet(paths["rows"]).repartition(ctx.nproc)
         .write.format("xspxml").option("rowTag", "order").mode("overwrite")
         .save(paths["xspxml"]))
        c.end = time.time()
        # the read-back below checks the content; here, that this call
        # replaced the previous pass's files
        c.records = truth["xspxml_write"][0]
        parts = glob.glob(os.path.join(paths["xspxml"], "part-*.xml"))
        c.ok = bool(parts) and min(map(os.path.getmtime, parts)) >= c.start - 1
    calls.append(c)
    written = compile_spec(sp["written"])
    calls.append(read_route("xspxml_read", lambda: (
        spark.read.format("xspxml").schema(written.schema)
        .option("rowTag", "order").option("specPickle", spec_option(written))
        .load(paths["xspxml"]))))
    return calls


def _plans_layer(corpus: gen.OrderCorpus, sp: dict) -> dict[str, Metric]:
    """Single-process timings of the ``plans`` layer on a fixed sample;
    ``extract_xml_records`` is also the single-threaded baseline."""
    from xmlstreamprocessor_spark.plans import compile_spec, infer_xml_spec
    from xmlstreamprocessor_spark.sources import extract_xml_records

    def median_of(fn, reps):
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        return median(walls)

    sample = corpus.order_docs[:KERNEL_SAMPLE]
    compiled = compile_spec(sp["full"])
    kernel = median_of(lambda: extract_xml_records(sample, compiled), 3)
    return {
        "plans.compile_ms": Metric(1e3 * median_of(lambda: compile_spec(sp["full"]), 50), "ms"),
        "plans.infer_ms": Metric(1e3 * median_of(lambda: infer_xml_spec(sample[:200]), 5), "ms"),
        "plans.kernel_us_per_record": Metric(1e6 * kernel / len(sample), "us"),
    }


def layer_metrics(ctx: Context, staged: Staged, passes: list[list[Call]],
                  counts: dict[str, tuple[int, int, int]]) -> dict[str, Metric]:
    """``plans.*`` and ``sources.*``: walls and event-log figures are
    medians over the warm passes; ``counts`` are status-tracker
    ``(jobs, stages, tasks)`` per route."""
    m = _plans_layer(staged.corpus, staged.specs)
    kernel_s = m["plans.kernel_us_per_record"].value / 1e6
    for i, route in enumerate(ROUTES):
        calls = [calls[i] for calls in passes]
        wall = median([c.wall_s for c in calls])
        st = [ctx.stats(c.group) for c in calls]
        records = calls[-1].records
        pre = f"sources.{route}"
        m[f"{pre}.wall_s"] = Metric(wall, "s")
        m[f"{pre}.records"] = Metric(records, "count")
        m[f"{pre}.tasks"] = Metric(counts[route][2], "count")
        m[f"{pre}.executor_cpu_s"] = Metric(median([s.cpu_s for s in st]), "s")
        m[f"{pre}.python_bytes"] = Metric(median([s.python_bytes for s in st]), "B")
        m[f"{pre}.kernel_share"] = Metric(records * kernel_s / (wall * ctx.nproc), "ratio")
    return m
