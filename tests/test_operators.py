"""Operator-level tests (SURVEY.md §5 level 2): every registry query runs
at sf0.001 with a stable schema, and every oracle-declared query matches
DuckDB at sf0.01 — the same comparison the driver performs."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import SF_ORACLE, SF_SMOKE
from tools.crosscheck import normalize

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

# queries whose correct result may legitimately be empty at tiny SF
MAY_BE_EMPTY = {
    "rel_semi_anti_join",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "tpch_q7_nation_volume",  # narrow nation pair: empty at sf0.001
    "dedup_components",  # clusters exist only where near-dup pairs do
}


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs_at_smoke_sf(spark, name):
    df = QUERIES[name](spark, SF_SMOKE)
    n = df.count()
    assert n >= 0
    if name not in MAY_BE_EMPTY:
        assert n > 0, f"{name} unexpectedly empty at {SF_SMOKE}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    sdf = normalize(QUERIES[name](spark, SF_ORACLE).toPandas())
    ddf = normalize(duck.execute(ORACLES[name]).fetchdf())
    assert list(sdf.columns) == list(ddf.columns)
    assert len(sdf) == len(ddf)
    pd.testing.assert_frame_equal(sdf, ddf, check_dtype=False)


def test_every_query_key_is_in_survey_inventory():
    survey = open("SURVEY.md").read()
    missing = [k for k in QUERIES if f"`{k}`" not in survey]
    assert not missing, f"SURVEY.md §2 missing: {missing}"


def test_failing_dynamic_oracle_degrades_loudly(monkeypatch, caplog):
    """A dynamic oracle generator that raises drops its key to the
    rows-only check, but not silently: a WARNING names the key and the
    error, and `oracle_lookup` reports it. `oracles()` still returns a
    plain key → SQL dict."""
    import logging
    import types

    from euclid_spark import registry

    def boom(sf_dir):
        raise RuntimeError(f"no centroids under {sf_dir}")

    fake = types.SimpleNamespace(
        ORACLES={"static_key": "SELECT 1"},
        DYNAMIC_ORACLES={"dyn_ok": lambda sf_dir: "SELECT 2", "dyn_bad": boom},
    )
    monkeypatch.setattr(registry, "_MODULES", [fake])
    with caplog.at_level(logging.WARNING, logger="euclid_spark.registry"):
        got = registry.oracles(SF_SMOKE)
    assert got == {"static_key": "SELECT 1", "dyn_ok": "SELECT 2"}
    warned = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warned) == 1
    assert "dyn_bad" in warned[0].getMessage()
    assert "no centroids under" in warned[0].getMessage()
    assert registry.oracle_lookup(SF_SMOKE) == (
        got, {"dyn_bad": f"RuntimeError: no centroids under {SF_SMOKE}"}
    )
