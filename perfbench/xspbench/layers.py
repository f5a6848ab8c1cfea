"""The per-layer metric catalogue: every name, unit and direction.

The layers are the package's modules: ``plans`` (spec compilation,
inference and the extraction kernel), ``sources`` (batch XML routes and
the ``xspxml`` connector), ``streaming`` and ``operators``.  A traced run
reports every metric in the catalogue; a workload that bypasses a layer
reports that layer's metrics as 0 (no calls, no time, no bytes).
"""

from __future__ import annotations

from .harness import Metric

RELATIONAL = (
    "q3_shipping_priority", "q5_local_supplier_volume", "q9_product_profit",
    "q21_waiting_supplier", "window_topk_orders_per_customer",
    "sessionize_events_30m", "asof_join_purchase_last_view",
    "agg_rollup_order_year_priority",
)
# Left out: sample_kcenter_coreset and dedup_ngram_jaccard_pairs, whose
# whole work is the first step of dedup_semantic_prune and of
# graph_dup_group_sizes; a second copy would cost more of a run's minute
# than it tells.
DRIVER_LOOP = (
    "graph_dup_group_sizes", "dedup_minhash_lsh_pairs",
    "tokenizer_bpe_train_k_merges", "dedup_semantic_prune",
)
GROUPS = {"relational": RELATIONAL, "driver_loop": DRIVER_LOOP}
ROUTES = ("extract_python", "extract_auto", "read_xml", "xspxml_write", "xspxml_read")

# (name, unit, better)
CATALOGUE: list[tuple[str, str, str]] = [
    ("plans.compile_ms", "ms", "lower"),
    ("plans.infer_ms", "ms", "lower"),
    ("plans.kernel_us_per_record", "us", "lower"),
]
for _r in ROUTES:
    CATALOGUE += [
        (f"sources.{_r}.wall_s", "s", "lower"),
        (f"sources.{_r}.records", "count", "higher"),
        (f"sources.{_r}.tasks", "count", "lower"),
        (f"sources.{_r}.executor_cpu_s", "s", "lower"),
        (f"sources.{_r}.python_bytes", "B", "lower"),
        (f"sources.{_r}.kernel_share", "ratio", "higher"),
    ]
CATALOGUE += [
    ("streaming.batches", "count", "lower"),
    ("streaming.batch_ms_p50", "ms", "lower"),
    ("streaming.batch_ms_tail", "ms", "lower"),
    ("streaming.add_batch_ms_p50", "ms", "lower"),
    ("streaming.query_planning_ms_p50", "ms", "lower"),
    ("streaming.wal_commit_ms_p50", "ms", "lower"),
    ("streaming.commit_offsets_ms_p50", "ms", "lower"),
    ("streaming.latest_offset_ms_p50", "ms", "lower"),
    ("streaming.state_rows_max", "count", "lower"),
    ("streaming.state_bytes_max", "B", "lower"),
    ("streaming.rows_dropped_by_watermark", "count", "lower"),
]
for _q in RELATIONAL + DRIVER_LOOP:
    CATALOGUE += [
        (f"operators.{_q}.wall_s", "s", "lower"),
        (f"operators.{_q}.fn_s", "s", "lower"),
        (f"operators.{_q}.jobs", "count", "lower"),
        (f"operators.{_q}.driver_gap_s", "s", "lower"),
        (f"operators.{_q}.executor_cpu_s", "s", "lower"),
    ]
for _g in GROUPS:
    CATALOGUE += [
        (f"operators.{_g}.tasks", "count", "lower"),
        (f"operators.{_g}.stages", "count", "lower"),
        (f"operators.{_g}.gc_s", "s", "lower"),
        (f"operators.{_g}.shuffle_bytes", "B", "lower"),
        (f"operators.{_g}.spill_bytes", "B", "lower"),
        (f"operators.{_g}.parallelism", "ratio", "higher"),
    ]
CATALOGUE += [
    ("tracing.cold_pass_s", "s", "lower"),
    ("tracing.eventlog_mb", "MB", "lower"),
]


def complete(measured: dict[str, Metric]) -> dict[str, Metric]:
    """Every catalogue metric, in catalogue order: the measured value, or 0
    for a layer the workload does not call.  A name outside the
    catalogue is a bug in the workload."""
    names = {n for n, _, _ in CATALOGUE}
    unknown = set(measured) - names
    if unknown:
        raise KeyError(f"metrics missing from the catalogue: {sorted(unknown)}")
    return {n: measured.get(n, Metric(0, unit)) for n, unit, _ in CATALOGUE}
