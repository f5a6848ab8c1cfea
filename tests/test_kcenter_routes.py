"""The greedy k-center loop has two regimes — the numpy replay on the
driver for corpora up to ``_KC_DRIVER_MAX`` rows, the distributed scans
above — and both must give the same bits as each other and as the DuckDB
oracle, including on degenerate corpora and on rounding ties."""

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from xmlstreamprocessor_spark.operators import similarity as sim
from xmlstreamprocessor_spark.operators.registry import REGISTRY

_DEGENERATE = {
    # three distinct directions among six rows: with k=12 the recurrence
    # runs out of positive gaps after three picks and then keeps picking
    # the smallest vec_id at gap 0
    "duplicates": [
        (1, [1, 0, 0, 0]), (2, [1, 0, 0, 0]), (3, [0, 1, 0, 0]),
        (4, [0, 1, 0, 0]), (5, [0.6, 0.8, 0, 0]), (6, [0.6, 0.8, 0, 0]),
    ],
    # an all-zero vector is 2.0 from everything, itself included
    "zero_vector": [
        (1, [1, 0, 0, 0]), (2, [0.8, 0.6, 0, 0]), (3, [0, 1, 0, 0]),
        (4, [0, 0, 0, 0]), (5, [0.6, 0.8, 0, 0]), (6, [1, 0, 0, 0]),
    ],
    # so is a null embedding — which becomes a (null) center
    "null_embedding": [
        (1, [0, 1, 0, 0]), (2, [1, 0, 0, 0]), (3, None),
        (4, [0.6, 0.8, 0, 0]), (5, [0, 0, 1, 0]), (6, [1, 0, 0, 0]),
    ],
}
_N_CHARS = [30, 10, 20, 30, 10, 20]


def _write_corpus(d, vecs) -> str:
    ids = [i for i, _ in vecs]
    pq.write_table(
        pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array([v for _, v in vecs], pa.list_(pa.float32())),
        }),
        f"{d}/embeddings.parquet",
    )
    pq.write_table(
        pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "n_chars": pa.array(_N_CHARS[: len(ids)], pa.int64()),
        }),
        f"{d}/documents.parquet",
    )
    return str(d)


def _run_both(spark, sf_dir):
    return (
        [tuple(r) for r in sim.sample_kcenter_coreset(spark, sf_dir).collect()],
        sorted(tuple(r) for r in sim.dedup_semantic_prune(spark, sf_dir).collect()),
    )


@pytest.mark.parametrize("corpus", sorted(_DEGENERATE))
def test_kcenter_routes_agree_on_degenerate_corpora(
    spark, tmp_path, monkeypatch, corpus
):
    sf_dir = _write_corpus(tmp_path, _DEGENERATE[corpus])
    driver = _run_both(spark, sf_dir)
    monkeypatch.setattr(sim, "_KC_DRIVER_MAX", 1)
    assert _run_both(spark, sf_dir) == driver

    if corpus != "null_embedding":  # DuckDB's list_dot_product rejects NULL
        con = duckdb.connect()
        for name in ("embeddings", "documents"):
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
        oracle = (
            [tuple(r) for r in
             con.sql(REGISTRY["sample_kcenter_coreset"][1]).fetchall()],
            sorted(con.sql(REGISTRY["dedup_semantic_prune"][1]).fetchall()),
        )
        assert driver == oracle
    picks = driver[0]
    assert len(picks) == sim._KC_K and len(driver[1]) == 6
    if corpus == "duplicates":
        assert [p[1] for p in picks[:3]] == [1, 3, 5]
        assert all(p[1:] == (1, 0.0) for p in picks[3:])
    else:  # the degenerate vector is 2.0 from itself, so it repeats
        bad = 4 if corpus == "zero_vector" else 3
        assert all(p[1:] == (bad, 2.0) for p in picks[1:])


def test_semantic_prune_routes_agree(spark, oracle_sf_dir, monkeypatch):
    driver = sorted(
        tuple(r) for r in sim.dedup_semantic_prune(spark, oracle_sf_dir).collect()
    )
    monkeypatch.setattr(sim, "_KC_DRIVER_MAX", 1)
    distributed = sorted(
        tuple(r) for r in sim.dedup_semantic_prune(spark, oracle_sf_dir).collect()
    )
    assert driver == distributed and len(driver) == 500


def test_round6_like_spark_matches_spark_round(spark, tmp_path):
    """Bit-for-bit against ``F.round(x, 6)``, run on a parquet scan like
    the operator's own rounding, over ties built two ways — the float
    arithmetic ``j * 1e-6 + 5e-7`` and the nearest double to the decimal
    tie — their neighbours one ulp either side, uniform values and a few
    specials.  Python's ``round`` (and numpy's) disagree with Spark on
    many of these, which the last assert checks so the set stays sharp."""
    rng = np.random.default_rng(11)
    j = rng.integers(-2_000_000, 2_000_000, 600)
    ties = np.concatenate([
        j * 1e-6 + 5e-7,
        np.array([float(f"{v}.5e-6") for v in j]),
    ])
    x = np.concatenate([
        ties,
        np.nextafter(ties, np.inf),
        np.nextafter(ties, -np.inf),
        rng.uniform(-1.0, 2.0, 1000),
        [0.0, -0.0, 1e-9, -1e-9, 5e-7, -5e-7, 2.0, 1.0000005, 0.9999995,
         1e-300, 123.4567895, 1e9 + 0.5, np.inf, -np.inf],
    ])
    path = str(tmp_path / "x.parquet")
    pq.write_table(
        pa.table({"i": np.arange(len(x), dtype=np.int64), "x": x}), path
    )
    want = np.array([
        r[1] for r in spark.read.parquet(path)
        .select("i", F.round("x", 6)).orderBy("i").collect()
    ])
    got = sim._round6_like_spark(spark, x)
    assert got.view(np.int64).tolist() == want.view(np.int64).tolist()
    py = np.array([round(float(v), 6) for v in x])
    assert (py.view(np.int64) != want.view(np.int64)).sum() > 100
