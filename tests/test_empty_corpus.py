"""Degenerate-input hardening: every representative operator family
must handle an EMPTY corpus (0-row tables with the real schemas) by
returning an empty — or well-defined scalar — result, never by
throwing. At 100 TB empty slices are routine (a new partition, a
filtered tenant, a dry source); an operator that crashes on empty
input fails the pipeline at exactly the wrong time.

The empty mirror reuses the REAL files' schemas (read schema, write 0
rows), so column types — including the µs TIMESTAMP_NTZ events.ts —
match production exactly.
"""

from __future__ import annotations

import os

import pytest

from euclid_spark import registry
from euclid_spark.cache import release_all
from tests.conftest import SF_SMOKE

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# one representative per operator family; scalar-result queries may
# legitimately return one row of nulls/zeros
EMPTY_OK = {
    "euclid_block_range_scan": 0,
    "euclid_q2_distinct_keys": 0,
    "euclid_storage_digest": 0,
    "euclid_state_rollup": 0,
    "tpch_q1_pricing_summary": 0,
    "tpch_q3_shipping_priority": 0,
    "rel_window_topn_per_group": 0,
    "rel_sessionize": 0,
    "rel_full_outer_reconcile": 0,
    "rel_heavy_hitters_cms": 0,
    "dedup_exact": 0,
    "dedup_minhash_lsh": 0,
    "dedup_substring_spans": 0,
    "text_token_count": 0,
    "text_bm25_topk": 0,
    "text_rag_chunks": 0,
    "text_data_card": 0,
    "sim_topk_cosine": 0,
    "sim_prefix_rerank": 0,
    "graph_doc_pagerank": 0,
    "cdc_scd2_time_travel": 0,
    # r7 faces + the latent depth-None path they exposed in A20
    "euclid_range_tree_agg": 0,
    "euclid_erc20_verifiable_response": 0,
    "euclid_erc20_batch_responses": 0,
    "euclid_erc20_weighted_sum_u256": 0,
    "euclid_day_partitioned_range": 0,
    "euclid_verifiable_response": 0,
    "text_bpe_token_count": 0,
    "text_pack_sequences_bpe": 0,
    "rel_hdr_quantile_sketch": 0,
    "rel_linear_count_distinct": 0,
    "euclid_zorder_box_scan": 0,
    "rel_hdr_range_quantiles": 0,
    "rel_lc_range_distinct": 0,
    "rel_cms_range_topk": 0,
    "rel_gap_fill_locf": 0,
    "rel_time_weighted_avg": 0,
    "dedup_containment": 0,
    "curation_leakage_safe_split": 0,
    "rel_event_dedup_window": 0,
    "graph_triangle_count": 0,
    "sim_ivf_pinned_topk": 0,
    "rel_table_profile": 11,  # one profile row per column (schema-derived), zero counts
    "rel_ohlc_resample": 0,
    "dedup_source_overlap": 0,
    "mm_image_dhash": 0,
    "rel_value_outliers": 0,
    "dedup_provenance_report": 0,
    "text_lang_confusion": 0,
    "rel_seasonal_profile": 0,
    # r8 faces
    "euclid_q2_range_tree_topL": 0,
    "euclid_verify_response": 0,
    "euclid_verify_erc20_response": 0,
    "sim_range_search": 0,
    "euclid_erc20_range_tree_reward": 0,
    # r13 faces
    "rel_data_drift_psi": 0,
    "curation_epoch_shards": 0,
    "src_jsonl_quarantine": 0,
    # r14 faces
    "rel_data_drift_psi_quantile": 0,
    "text_safety_screen": 0,
    "curation_shard_roundtrip": 0,
    "sim_ivf_exact_fit_topk": 0,
    # r15 faces
    "text_quality_model": 0,
    "text_quality_model_calibration": 0,
    "curation_model_filtered_mix": 0,
    "sim_matryoshka_recall_report": 0,
    "stream_soft_dedup_weights": 0,
}
SCALAR_ROWS_OK = {"euclid_block_db_metadata"}  # MIN/MAX over empty → one null row


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("empty_sf"))
    for t in TABLES:
        real = spark.read.parquet(f"{SF_SMOKE}/{t}.parquet")
        real.limit(0).write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    return out


def test_operators_tolerate_empty_corpus(spark, empty_sf, monkeypatch, tmp_path):
    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "_arts"))
    qs = registry.queries()
    failures = []
    for name, want in EMPTY_OK.items():
        try:
            rows = qs[name](spark, empty_sf).collect()
            if len(rows) != want:
                failures.append(f"{name}: {len(rows)} rows (want {want})")
        except Exception as ex:  # noqa: BLE001
            failures.append(f"{name}: raised {type(ex).__name__}: {ex}"[:200])
        finally:
            release_all()
    assert not failures, "\n".join(failures)


def test_streaming_faces_tolerate_empty_corpus(spark, empty_sf, monkeypatch, tmp_path):
    """Every streaming face must run its sink to quiescence over an
    empty feed and return an empty frame, not crash on never-created
    state paths. The digest chain is the one scalar: the empty fold is
    the (0, 0) commitment."""
    from euclid_spark.streaming import faces

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "_arts"))
    qs = registry.queries()
    failures = []
    for name in faces.QUERIES:
        want = [(0, 0)] if name == "stream_block_db_chain" else []
        try:
            rows = [tuple(r) for r in qs[name](spark, empty_sf).collect()]
            if rows != want:
                failures.append(f"{name}: {rows[:3]} (want {want})")
        except Exception as ex:  # noqa: BLE001
            failures.append(f"{name}: raised {type(ex).__name__}: {ex}"[:200])
        finally:
            release_all()
    assert not failures, "\n".join(failures)


def test_scalar_queries_return_defined_row(spark, empty_sf):
    qs = registry.queries()
    for name in SCALAR_ROWS_OK:
        rows = qs[name](spark, empty_sf).collect()
        assert len(rows) == 1
        release_all()
