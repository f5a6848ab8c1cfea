"""``SPARK_GRAFT_BENCH_ORDER`` parsing in bench.py: only ``shuffled`` and
``shuffled:<int>`` are accepted, and the summary's ``query_order`` is
recorded only when a shuffle was applied."""

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES, query_order  # noqa: E402


@pytest.mark.parametrize(
    "spec",
    ["shuffledX", "shuffled:", "shuffled:x", "shuffled:1.5", "shufled:3",
     "random", " shuffled", "shuffled:3 "],
)
def test_bench_order_rejects_unknown_specs(spec):
    with pytest.raises(ValueError, match="SPARK_GRAFT_BENCH_ORDER"):
        query_order(spec, BENCH_QUERIES)


def test_bench_order_records_only_an_applied_shuffle():
    order, recorded = query_order("", BENCH_QUERIES)
    assert order == BENCH_QUERIES and recorded is None

    for spec, seed in [("shuffled", 0), ("shuffled:7", 7), ("shuffled:-2", -2)]:
        want = list(BENCH_QUERIES)
        random.Random(seed).shuffle(want)
        order, recorded = query_order(spec, BENCH_QUERIES)
        assert order == want and order != BENCH_QUERIES
        assert recorded == spec
    assert query_order("shuffled", BENCH_QUERIES)[0] != (
        query_order("shuffled:7", BENCH_QUERIES)[0]
    )
