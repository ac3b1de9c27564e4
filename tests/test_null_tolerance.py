"""NULL-tolerance net: production tables carry NULLs the synthetic
testdata never does (nullable ingest columns, failed upstream parses).
Representative operators must tolerate a corpus where 10 % of every
nullable attribute is NULL — no crashes, deterministic output across
two runs. (Result VALUES under nulls are operator-defined; this net
pins survival + determinism, the empty-corpus net's sibling.)"""

from __future__ import annotations

import pytest

from euclid_spark import registry
from euclid_spark.cache import release_all
from tests.conftest import SF_SMOKE
from tools.crosscheck import TABLES, compare, inject_nulls, normalize

OPS = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_token_count",
    "text_lang_id",
    "text_lang_confusion",
    "text_data_card",
    "text_quality_score",
    "rel_sessionize",
    "rel_event_dedup_window",
    "rel_ohlc_resample",
    "rel_value_outliers",
    "rel_seasonal_profile",
    "rel_table_profile",
    "tpch_q1_pricing_summary",
    "curation_leakage_safe_split",
    "text_quality_model",
    "text_quality_model_calibration",
    "curation_model_filtered_mix",
]


@pytest.fixture(scope="module")
def nully_sf(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("nully_sf"))
    for t in TABLES:
        df = inject_nulls(spark.read.parquet(f"{SF_SMOKE}/{t}.parquet"), t)
        df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    return out


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_operators_tolerate_nulls(spark, nully_sf, monkeypatch, tmp_path):
    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "_arts"))
    qs = registry.queries()
    failures = []
    for name in OPS:
        try:
            first = _rows(qs[name](spark, nully_sf))
            again = _rows(qs[name](spark, nully_sf))
            if first != again:
                failures.append(f"{name}: nondeterministic under nulls")
        except Exception as ex:  # noqa: BLE001
            failures.append(f"{name}: raised {type(ex).__name__}: {ex}"[:200])
        finally:
            release_all()
    assert not failures, "\n".join(failures)


# Hash-green representatives re-run through the FULL DuckDB comparison
# on the null-injected corpus (VERDICT r7 #7): nulls are where engine
# semantics diverge (the A22 lesson) — survival is not enough, the
# VALUES must still match the oracle.
CROSSCHECK_OPS = [
    "tpch_q1_pricing_summary",      # null l_returnflag group keys + discounts
    "rel_table_profile",            # null counts / distinct / sketch branches
    "rel_sessionize",
    "rel_event_dedup_window",       # null event_type partitions
    "rel_ohlc_resample",            # null values in selection monoid
    "rel_value_outliers",           # null values in decimal sums
    "rel_seasonal_profile",
    "euclid_q2_distinct_keys",      # null props -> null token ids
    "euclid_state_rollup",          # null values through max_by
    "euclid_range_tree_agg",        # null values in tile sums
    "text_token_count",             # null text
    "text_lang_id",
    "text_lang_confusion",          # null lang labels as matrix rows
    "dedup_exact",
    # r8 extension: more nullable-column consumers
    "rel_pivot_events",             # null event_type pivot keys
    "rel_json_extract",             # null props through get_json_object
    "rel_histogram",                # null values through width_bucket
    "rel_asof_join",                # null values carried as-of
    "rel_funnel_conversion",        # null event_type funnel stages
    "tpch_q14_promo_effect",        # null discounts in conditional agg
    "rel_window_topn_per_group",    # null order keys in ranking
    "text_quality_score",
    "text_pii_redact",              # null text through regex stack
    "text_fingerprint",             # null text rolling hash
    # r8b: third batch — aggregation/window/array families
    "rel_rollup_agg",               # null group keys in ROLLUP levels
    "rel_grouping_sets",            # null-vs-subtotal disambiguation
    "tpch_q6_forecast_revenue",     # null discounts in the range scan
    "rel_exact_percentiles",        # null values in interpolation
    "rel_window_running_agg",       # null values in running sums
    "rel_time_weighted_avg",        # null values in v*dt terms
    "rel_gap_fill_locf",            # null values carried forward
    "euclid_erc20_weighted_sum",    # null props/values in guarded division
    "euclid_block_range_scan",
    "text_rag_chunks",              # null text chunking
    "text_winnowing",               # null text windows
    "text_unigram_logprob",         # null text word explosion
]


def test_null_injected_oracle_crosscheck(spark, nully_sf, monkeypatch, tmp_path):
    """The driver's row/schema/value comparison, run on the 10%-null
    corpus for every representative: Spark and DuckDB must agree on the
    VALUES, not merely both survive."""
    import duckdb

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "_arts_x"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{nully_sf}/{t}.parquet/*.parquet')"
        )
    qs, os_ = registry.queries(), registry.oracles()
    failures = []
    for name in CROSSCHECK_OPS:
        try:
            got = normalize(qs[name](spark, nully_sf).toPandas(), nulls=True)
            want = normalize(con.execute(os_[name]).fetchdf(), nulls=True)
            err = compare(got, want)
            if err is not None:
                failures.append(f"{name}: {err}")
        except Exception as ex:  # noqa: BLE001
            failures.append(f"{name}: raised {type(ex).__name__}: {ex}"[:300])
        finally:
            release_all()
    assert not failures, "\n".join(failures)
