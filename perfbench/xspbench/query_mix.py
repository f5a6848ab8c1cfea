"""query_mix: the ``operators`` layer on fixed TPC-H-style tables.

Twelve registered queries run once each, in an order the seed permutes,
in the fresh session, with ``clear_session_memos()`` before each so every
one is a cold plan (the protocol of the repository's ``bench.py``).  Two
named groups: ``relational`` (Catalyst- and shuffle-bound, 3-14 jobs
each) and ``driver_loop`` (bound by driver work and job scheduling).
The XML layers are bypassed.

Each result is fetched whole with ``toPandas()`` and compared with the
query's DuckDB oracle (``REGISTRY`` SQL) using the canonicalization of
``tools/check_correctness.py``.  The oracle side is fixed by the fixed
tables, so its digest is stored in ``data/expected.json`` beside the SQL
it came from; a query whose oracle SQL has changed since is re-run in
DuckDB, untimed, once per process.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
import time

from . import layers
from .eventlog import union_s
from .harness import Context, Metric, Outcome
from .stats import tail

EXPECTED = "expected.json"
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _check_module():
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_correctness

    return check_correctness


def sql_sha(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def digest(pdf) -> str:
    """Digest of a result under the correctness gate's comparison: column
    dtypes plus the sorted, type-tagged rendering of every row."""
    cc = _check_module()
    blob = json.dumps({"dtypes": cc.dtype_map(pdf), "rows": cc.canon_frame(pdf)})
    return hashlib.sha256(blob.encode()).hexdigest()


def oracle_digests(data_dir: str, names) -> dict[str, dict]:
    """Run each query's oracle SQL in DuckDB over ``data_dir``."""
    import duckdb

    from xmlstreamprocessor_spark.operators import REGISTRY

    con = duckdb.connect()
    for t in _check_module().TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in names:
        sql = REGISTRY[name][1]
        pdf = con.sql(sql).df()
        out[name] = {"sql_sha256": sql_sha(sql), "rows": len(pdf), "digest": digest(pdf)}
    return out


def expected_digests(data_dir: str) -> dict[str, str]:
    """Stored oracle digests, re-derived for any query whose SQL changed."""
    from xmlstreamprocessor_spark.operators import REGISTRY

    with open(os.path.join(data_dir, EXPECTED)) as fh:
        stored = json.load(fh)
    names = layers.RELATIONAL + layers.DRIVER_LOOP
    stale = [n for n in names
             if stored.get(n, {}).get("sql_sha256") != sql_sha(REGISTRY[n][1])]
    if stale:
        print(f"# oracle SQL changed for {stale}: re-running them in DuckDB",
              file=sys.stderr)
        stored |= oracle_digests(data_dir, stale)
    return {n: stored[n]["digest"] for n in names}


def _prime(ctx: Context) -> None:
    """Untimed: two join/aggregate queries, a token query, a vector query
    and a few checkpointed rounds over the fixed tables, none of them in
    the mix, so that the session's one-off warm-up (JIT of the planner,
    the code generator and the scratch machinery) is not charged to
    whichever query the seed puts first; unprimed, that alone moved a
    group's sum by a third between seeds."""
    from pyspark.sql import Window, functions as F

    read = lambda t: ctx.spark.read.parquet(f"{ctx.data_dir}/{t}.parquet")  # noqa: E731
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    (read("lineitem").join(read("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
     .withColumn("r", F.row_number().over(w)).where("r <= 3")
     .groupBy("o_orderpriority").agg(F.sum("l_extendedprice"), F.count("*"))
     .toPandas())
    (read("lineitem").join(read("supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
     .join(read("nation"), F.col("s_nationkey") == F.col("n_nationkey"))
     .join(read("region"), F.col("n_regionkey") == F.col("r_regionkey"))
     .groupBy("r_name", "n_name")
     .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("v"))
     .orderBy(F.desc("v")).limit(5).toPandas())
    tokens = read("documents").select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    (tokens.groupBy("tok").agg(F.collect_set("doc_id").alias("ids"))
     .select(F.size(F.array_distinct("ids")).alias("n"), F.xxhash64("tok").alias("h"))
     .groupBy("n").agg(F.count("*"), F.bit_xor("h")).toPandas())
    (read("embeddings").select(F.aggregate(
        F.zip_with("embedding", "embedding", lambda x, y: x * y), F.lit(0.0),
        lambda acc, v: acc + v).alias("nrm"))
     .agg(F.sum("nrm")).toPandas())
    # the driver loops' machinery: a parquet scratch write, persist, and
    # localCheckpoint rounds that each end in a collect
    scratch = os.path.join(ctx.work_dir, "prime")
    read("documents").select("doc_id", F.length("text").alias("n")).write.parquet(scratch)
    df = ctx.spark.read.parquet(scratch).persist()
    for _ in range(3):
        df = df.withColumn("n", F.col("n") + 1).localCheckpoint(eager=False)
        df.agg(F.max("n")).collect()
    df.unpersist()


def run(ctx: Context) -> Outcome:
    from xmlstreamprocessor_spark.operators import REGISTRY
    from xmlstreamprocessor_spark.operators.dedup import clear_session_memos

    order = list(layers.RELATIONAL + layers.DRIVER_LOOP)
    random.Random(ctx.seed).shuffle(order)
    expected = expected_digests(ctx.data_dir)
    _prime(ctx)
    ctx.settle()
    calls = {}
    for name in order:
        clear_session_memos()
        with ctx.call(f"mix.{name}") as c:
            calls[name] = c
            pdf = REGISTRY[name][0](ctx.spark, ctx.data_dir)
            c.fn_s = time.time() - c.start
            pdf = pdf.toPandas()
            c.end = time.time()
            c.records = len(pdf)
            c.ok = digest(pdf) == expected[name]
            if not c.ok:
                print(f"# WRONG {name}: {len(pdf)} rows differ from the oracle",
                      file=sys.stderr)
    walls = [calls[n].wall_s for n in order]
    label, tail_s = tail(walls)
    out = Outcome(notes=[
        "query_mix: order " + ",".join(order),
        "query walls: " + ", ".join(f"{n} {calls[n].wall_s:.2f}" for n in order),
        f"query tail = {label} of {len(walls)}: {tail_s:.2f} s",
    ])
    out.end_to_end = {
        "cold_pass_s": Metric(sum(walls), "s"),
        "batch_s": Metric(sum(calls[n].wall_s for n in layers.RELATIONAL), "s"),
        "loop_s": Metric(sum(calls[n].wall_s for n in layers.DRIVER_LOOP), "s"),
    }
    counts = {n: ctx.status_counts(c.group) for n, c in calls.items()} if ctx.trace else {}

    def per_layer() -> dict[str, Metric]:
        m = {}
        for n, c in calls.items():
            st = ctx.stats(c.group)
            pre = f"operators.{n}"
            m[f"{pre}.wall_s"] = Metric(c.wall_s, "s")
            m[f"{pre}.fn_s"] = Metric(c.fn_s, "s")
            m[f"{pre}.jobs"] = Metric(counts[n][0], "count")
            m[f"{pre}.driver_gap_s"] = Metric(
                c.wall_s - union_s(st.job_spans, c.start, c.end), "s")
            m[f"{pre}.executor_cpu_s"] = Metric(st.cpu_s, "s")
        for g, names in layers.GROUPS.items():
            st = [ctx.stats(calls[n].group) for n in names]
            job_s = sum(union_s(s.job_spans) for s in st)
            pre = f"operators.{g}"
            m[f"{pre}.tasks"] = Metric(sum(counts[n][2] for n in names), "count")
            m[f"{pre}.stages"] = Metric(sum(counts[n][1] for n in names), "count")
            m[f"{pre}.gc_s"] = Metric(sum(s.gc_s for s in st), "s")
            m[f"{pre}.shuffle_bytes"] = Metric(sum(s.shuffle_bytes for s in st), "B")
            m[f"{pre}.spill_bytes"] = Metric(sum(s.spill_bytes for s in st), "B")
            m[f"{pre}.parallelism"] = Metric(
                sum(s.run_s for s in st) / job_s if job_s else 0, "ratio")
        m["tracing.cold_pass_s"] = out.end_to_end["cold_pass_s"]
        return layers.complete(m)

    out.per_layer = per_layer
    return out
