"""BENCHMARK.json, the per-layer catalogue and the stored oracle digests
agree with each other and with the package."""

import json
import os

import pytest

from xspbench import layers
from xspbench.harness import Metric

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_per_layer_section_is_the_catalogue():
    got = [(m["name"], m["unit"], m["better"]) for m in _benchmark()["per_layer"]]
    assert got == layers.CATALOGUE


def test_workloads_are_the_runnable_ones():
    import run

    assert tuple(w["name"] for w in _benchmark()["workloads"]) == run.WORKLOADS


def test_complete_zero_fills_and_rejects_unknown_names():
    out = layers.complete({"plans.infer_ms": Metric(2.5, "ms")})
    assert list(out) == [n for n, _, _ in layers.CATALOGUE]
    assert out["plans.infer_ms"].value == 2.5
    assert out["streaming.batches"].value == 0
    with pytest.raises(KeyError):
        layers.complete({"plans.nope": Metric(1, "ms")})


def test_stored_oracle_digests_match_the_registry_sql():
    from xmlstreamprocessor_spark.operators import REGISTRY
    from xspbench import query_mix

    with open(os.path.join(ROOT, "perfbench", "data", query_mix.EXPECTED)) as fh:
        stored = json.load(fh)
    for name in layers.RELATIONAL + layers.DRIVER_LOOP:
        assert stored[name]["sql_sha256"] == query_mix.sql_sha(REGISTRY[name][1]), name
