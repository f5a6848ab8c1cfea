"""Degenerate-input hardening: every training-pipeline operator must
return an empty (or structurally-empty) result on an empty corpus, never
throw — at 100 TB an empty partition/source glob is routine, and a crash
in one operator takes down a composed pipeline."""

import os
import shutil

import duckdb
import pytest

from xmlstreamprocessor_spark.operators.registry import REGISTRY

_SRC = "/root/testdata/sf0.001"
_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_OPS_EMPTY = [
    "mix_temperature_rates", "shuffle_deterministic_order",
    "text_chunk_sliding_window", "dedup_chunk_exact",
    "text_decontaminate_bloom", "text_bm25_topk",
    "dedup_keeper_by_quality", "join_salted_skewed_events_segment",
    "text_lm_bigram_score", "pipeline_chunk_pack",
    "analytic_event_transition_matrix", "embedding_pq_encode",
    "similarity_topk_pq_adc", "similarity_recall_vs_exact",
    "dedup_exact_documents", "dedup_minhash_lsh_pairs",
    "sample_stratified_quota", "pack_greedy_shardlocal",
    "text_quality_filter",
    # round-5 additions
    "dedup_containment_pairs", "dedup_winnowing_pairs",
    "text_ngram_novelty", "analytic_basket_lift",
    "embedding_pq_residual_encode", "similarity_pq_residual_distortion",
    "similarity_index_delta_assign", "multimodal_image_features_png",
    # round-6/7 additions
    "dedup_pairs_delta", "graph_components_incremental",
    "pipeline_drop_contained_stats", "dedup_lsh_band_stats",
    "similarity_topk_ivfpq_rerank", "xml_udtf_lineitem_array",
    # round-14 addition
    "dedup_semantic_prune_kmeans",
    # the k-center pair: an empty probe on the driver route
    "sample_kcenter_coreset", "dedup_semantic_prune",
]


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("sf_empty"))
    for t in _TABLES:
        duckdb.sql(
            f"COPY (SELECT * FROM '{_SRC}/{t}.parquet' WHERE 1=0) "
            f"TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )
    yield dst
    shutil.rmtree(dst, ignore_errors=True)


@pytest.mark.parametrize("name", _OPS_EMPTY)
def test_operator_survives_empty_corpus(spark, empty_sf_dir, name):
    assert REGISTRY[name][0](spark, empty_sf_dir).count() == 0


def test_interval_join_emits_empty_windows_on_empty_corpus(spark, empty_sf_dir):
    # the window spine is data-independent: 28 windows, all zero counts
    rows = REGISTRY["interval_join_bucketized_incidents"][0](
        spark, empty_sf_dir
    ).collect()
    assert len(rows) == 28
    assert all(r["n_events"] == 0 and r["n_users"] == 0 for r in rows)
