"""Connector-family evidence query: multi-format write/read round-trip.

The formats layer (sources/formats.py) is exercised end-to-end: the orders
table is written to parquet, ORC, CSV and JSON-lines under a scratch dir
inside the repo, read back with the ORIGINAL schema (no inference), and
reduced to one checksum row per format.  The oracle states the obvious
contract — a lossless connector yields the same checksums as the source
table for every format — so any type drift (CSV double rendering, JSON
timestamp format, ORC logical types) breaks the hash match.

Scale: the checksum aggregate is one partial+final hash aggregate per
format; writes are the normal distributed writers (one file per partition
here; at 100 TB the same code path fans out per executor)."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from xmlstreamprocessor_spark.operators.registry import (
    audit_active,
    audit_frame,
    query,
    t,
)
from xmlstreamprocessor_spark.sources import formats
from xmlstreamprocessor_spark.session import local_frame


def _checksum(df, fmt: str):
    # cents via floor(x*100 + 0.5): x is a 2-decimal-valued double, so the
    # shifted value sits within 1 ulp of an integer — identical in any
    # engine, and integer sums are associative across partitionings
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    return df.agg(
        F.lit(fmt).alias("fmt"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        F.sum(cents).cast("bigint").alias("cents_sum"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("dmin"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("dmax"),
    )


@query(
    "formats_roundtrip_orders",
    oracle="""
    WITH agg AS (
      SELECT count(*) AS n_rows,
             CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents_sum,
             strftime(min(o_orderdate), '%Y-%m-%d') AS dmin,
             strftime(max(o_orderdate), '%Y-%m-%d') AS dmax
      FROM orders
    )
    SELECT t.fmt, a.n_rows, a.key_sum, a.cents_sum, a.dmin, a.dmax
    FROM agg a, (VALUES ('parquet'), ('orc'), ('csv'), ('json')) t(fmt)
    """,
)
def formats_roundtrip_orders(spark, sf_dir):
    # scratch is a per-invocation private tempdir (no cross-invocation
    # races, nothing left inside the repo) removed in the finally: the
    # 4-row checksum result is materialized eagerly first, so the returned
    # DataFrame has no lineage into the deleted files
    o = t(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="xsp_formats_rt_")
    schema = o.schema
    try:
        formats.write_parquet(o, os.path.join(base, "pq"))
        formats.write_orc(o, os.path.join(base, "orc"))
        formats.write_csv(o, os.path.join(base, "csv"))
        formats.write_json(o, os.path.join(base, "json"))

        back = {
            "parquet": formats.read_parquet(spark, os.path.join(base, "pq")),
            "orc": formats.read_orc(spark, os.path.join(base, "orc")),
            "csv": formats.read_csv(spark, os.path.join(base, "csv"), schema=schema),
            "json": formats.read_json(spark, os.path.join(base, "json"), schema=schema),
        }
        out = None
        for fmt, df in back.items():
            cs = _checksum(df.select(*[f.name for f in schema.fields]), fmt)
            out = cs if out is None else out.unionByName(cs)
        # the REAL plan (4-format scans -> checksum aggregates -> union);
        # the returned frame is a rebuilt 4-row local relation
        audit_frame(out)
        return local_frame(spark, out.collect(), out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@query(
    "formats_partition_pruned_read",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) IN (1996, 1997)
    GROUP BY 1 ORDER BY 1
    """,
)
def formats_partition_pruned_read(spark, sf_dir):
    """Hive-style partition layout + PARTITION PRUNING, end-to-end: write
    orders partitioned by order year (``write_partitioned`` —
    ``partitionBy`` produces one directory per year), read back with a
    partition-column predicate, and aggregate.  Catalyst prunes the scan
    to the two matching directories BEFORE any file is opened — at 100 TB
    with daily partitions this is the difference between reading 2 days
    and 2,000; the physical plan's scan node lists the surviving
    partitions, and the plan-audit snapshot records the pushdown.

    The checksum result is materialized eagerly (same private-tempdir
    protocol as formats_roundtrip_orders), so the returned frame has no
    lineage into the deleted files."""
    o = t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("bigint")
    )
    base = tempfile.mkdtemp(prefix="xsp_formats_part_")
    try:
        formats.write_partitioned(o, base, ["order_year"])
        back = formats.read_parquet(spark, base)
        out = (
            back.filter(F.col("order_year").isin(1996, 1997))
            # partition-column values are directory names; Spark infers
            # int32 on read-back — pin the contract type explicitly
            .groupBy(F.col("order_year").cast("bigint").alias("order_year"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            )
            .orderBy("order_year")
        )
        if audit_active():
            import glob

            allf = glob.glob(
                os.path.join(base, "**", "*.parquet"), recursive=True
            )
            pruned = [
                p
                for p in allf
                if "order_year=1996" in p or "order_year=1997" in p
            ]
            audit_frame(
                out, files_total=len(allf), files_pruned_scan=len(pruned)
            )
        return local_frame(spark, out.collect(), out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@query(
    "formats_bucketed_join_no_shuffle",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def formats_bucketed_join_no_shuffle(spark, sf_dir):
    """CO-BUCKETED join, end-to-end: write orders and lineitem bucketed
    64-ways on the order key (``write_bucketed``), then join them —
    Catalyst sees both sides' HashPartitioning as already satisfied and
    plans a SortMergeJoin with ZERO Exchange on the join keys.  This is
    the 100 TB pattern for a fact-fact join that runs every day: pay the
    bucketed write once at ingest, never shuffle either table again (the
    plan-audit snapshot records the exchange count; the pytest in
    tests/test_formats.py asserts the no-shuffle plan directly).

    The aggregate result is materialized eagerly and the scratch tables
    dropped, so the returned frame has no lineage into them."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    base = tempfile.mkdtemp(prefix="xsp_formats_bkt_")
    tag = os.path.basename(base).rsplit("_", 1)[-1]
    t_o, t_l = f"xsp_bkt_orders_{tag}", f"xsp_bkt_lineitem_{tag}"
    try:
        formats.write_bucketed(
            o, t_o, "o_orderkey", 64, path=os.path.join(base, "o")
        )
        formats.write_bucketed(
            li.select("l_orderkey", "l_quantity"),
            t_l, "l_orderkey", 64, path=os.path.join(base, "l"),
        )
        bo, bl = spark.table(t_o), spark.table(t_l)
        out = (
            bo.join(bl, bl["l_orderkey"] == bo["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
                F.sum(F.col("l_quantity").cast("bigint"))
                .cast("bigint")
                .alias("sum_qty"),
            )
            .orderBy("o_orderpriority")
        )
        # the REAL plan: the no-exchange-on-join-keys co-bucketed SMJ
        audit_frame(out)
        return local_frame(spark, out.collect(), out.schema)
    finally:
        for tbl in (t_o, t_l):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(base, ignore_errors=True)
