"""``local_frame``: driver-side rows back to Spark as an Arrow LocalRelation.

Every value type the package ships must come back exactly as the plain
``createDataFrame(<list>)`` path gives it (same schema, same ``collect()``),
while the plan leaf is a ``LocalRelation`` (no Python worker on scan).  A
static guard keeps new list-built frames out of the package.
"""

from __future__ import annotations

import ast
import datetime
import decimal
import os
import pathlib
import time

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from xmlstreamprocessor_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "xmlstreamprocessor_spark"

# (DDL, one non-null value); every case also gets a null row
TYPES = [
    ("bigint", 2**40 + 3),
    ("int", -7),
    ("double", 0.1 + 0.2),
    ("string", "naïve ü"),
    ("boolean", True),
    ("array<double>", [1.5, None, -0.0]),
    ("decimal(18,2)", decimal.Decimal("1234567890123456.78")),
    ("timestamp", datetime.datetime(2021, 3, 4, 5, 6, 7, 890123)),
    ("struct<x: bigint, y: array<string>>", (5, ["a", None])),
]


def _leaf(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def _same(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert _leaf(got) == "LocalRelation"
    return got


@pytest.mark.parametrize("ddl,value", TYPES, ids=[t for t, _ in TYPES])
def test_matches_list_path_per_type(spark, ddl, value):
    _same(spark, [(1, value), (2, None), (None, value)], f"k bigint, v {ddl}")


def test_all_types_in_one_frame(spark):
    ddl = ", ".join(f"c{i} {t}" for i, (t, _) in enumerate(TYPES))
    row = tuple(v for _, v in TYPES)
    _same(spark, [row, (None,) * len(TYPES)], ddl)


def test_empty_list(spark):
    ddl = ", ".join(f"c{i} {t}" for i, (t, _) in enumerate(TYPES))
    got = _same(spark, [], ddl)
    assert got.count() == 0


def test_rows_with_struct_type(spark):
    # the collected-pairs case: Rows read back against the frame's own
    # StructType, non-nullable fields included
    schema = StructType(
        [
            StructField("doc_a", LongType(), False),
            StructField("doc_b", LongType(), False),
            StructField("jaccard", DoubleType(), True),
            StructField("tag", StringType(), True),
        ]
    )
    rows = [Row(doc_a=1, doc_b=2, jaccard=0.5, tag="x"),
            Row(doc_a=3, doc_b=9, jaccard=None, tag=None)]
    got = _same(spark, rows, schema)
    assert [f.nullable for f in got.schema.fields] == [False, False, True, True]


def test_collected_frame_round_trips(spark):
    src = spark.range(5).select(
        F.col("id"),
        (F.col("id") / 3).alias("d"),
        F.array(F.col("id").cast("double")).alias("a"),
        F.timestamp_micros(F.col("id") * 1_000_001).alias("ts"),
    )
    assert local_frame(spark, src.collect(), src.schema).collect() == (
        src.collect()
    )


def test_naive_datetime_same_instant_under_utc(spark, monkeypatch):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    monkeypatch.setenv("TZ", "UTC")
    time.tzset()
    try:
        ts = [datetime.datetime(1999, 12, 31, 23, 59, 59, 999999),
              datetime.datetime(2024, 2, 29, 12, 0, 0, 1)]
        rows = [(i, t) for i, t in enumerate(ts)]
        got = _same(spark, rows, "i bigint, ts timestamp")
        micros = [
            r[0] for r in got.orderBy("i").select(F.unix_micros("ts")).collect()
        ]
        epoch = datetime.datetime(1970, 1, 1)
        assert micros == [(t - epoch) // datetime.timedelta(microseconds=1)
                          for t in ts]
        shown = got.orderBy("i").select(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        ).collect()
        assert [r[0] for r in shown] == [
            t.strftime("%Y-%m-%d %H:%M:%S.%f") for t in ts
        ]
    finally:
        monkeypatch.undo()
        time.tzset()


def test_naive_datetime_read_in_driver_zone_like_list_path(spark, monkeypatch):
    # a driver whose local zone is not UTC: the list path reads naive
    # datetimes in that zone (``time.mktime``), and so must local_frame
    monkeypatch.setenv("TZ", "EST5")
    time.tzset()
    try:
        ts = datetime.datetime(2020, 6, 1, 12, 30, 0, 5)
        got = _same(spark, [(ts,)], "ts timestamp")
        assert got.select(F.unix_micros("ts")).first()[0] == (
            int(time.mktime(ts.timetuple())) * 1_000_000 + 5
        )
    finally:
        monkeypatch.undo()
        time.tzset()


def test_local_relation_with_arrow_conf_off(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_frame(spark, [(1, "a")], "k bigint, s string")
        assert _leaf(df) == "LocalRelation"
        assert df.collect() == [Row(k=1, s="a")]
    finally:
        spark.conf.set(key, prev)


def _local_frame_span(path: pathlib.Path) -> range:
    tree = ast.parse(path.read_text())
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
            return range(node.lineno, node.end_lineno + 1)
    raise AssertionError("session.local_frame not found")


def test_no_create_dataframe_outside_local_frame():
    """Driver results reach Spark through ``local_frame`` only: a
    ``createDataFrame(`` anywhere else in the package (code, comment or
    docstring) is a list-built frame waiting to come back."""
    session = PKG / "session.py"
    allowed = _local_frame_span(session)
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if "createDataFrame(" in line and not (
                path == session and n in allowed
            ):
                offenders.append(f"{os.path.relpath(path, PKG)}:{n}")
    assert offenders == []
