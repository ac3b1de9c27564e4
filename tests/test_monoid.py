"""The maintained-monoid declarations (euclid_spark/monoid.py). A
declaration's batch artifact is its `partial` over every event, so it
must equal the `merge` of the partials of any split of the events: the
batch ≡ incremental property, checked here in the fast tier for every
declaration with a batch artifact (the slow tier's parity harness
streams the same pairs). The analog of range_tree's
`test_stream_upkeep_equals_batch_levels`."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from euclid_spark.catalog import load_events
from euclid_spark.streaming.parity import SPECS
from tests.conftest import SF_SMOKE

WITH_ARTIFACT = sorted(n for n, s in SPECS.items() if getattr(s, "artifact", None))


def test_the_day_tile_sketches_declare_their_artifacts():
    assert WITH_ARTIFACT == [
        "count_min_sketch", "hdr_quantile_tiles", "lc_distinct_tiles"
    ]


@pytest.fixture(scope="module")
def edge_corpus(spark, tmp_path_factory) -> str:
    """SF_SMOKE's events with every 50th value replaced by an edge
    value a partial must filter or bucket: zero, negative, sub-cent and
    NULL. SF_SMOKE itself has no value below 0.01."""
    out = str(tmp_path_factory.mktemp("edge"))
    edge = F.element_at(
        F.array(F.lit(0.0), F.lit(-1.5), F.lit(0.004), F.lit(None).cast("double")),
        (F.col("event_id") / 50 % 4).cast("int") + 1,
    )
    (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .withColumn(
            "value",
            F.when(F.col("event_id") % 50 == 0, edge).otherwise(F.col("value")),
        )
        .coalesce(1)
        .write.parquet(f"{out}/events.parquet")
    )
    return out


def _sorted_rows(df) -> list:
    return sorted(tuple(str(x) for x in r) for r in df.collect())


@pytest.mark.parametrize("name", WITH_ARTIFACT)
@pytest.mark.parametrize("corpus", ["smoke", "edge"])
def test_batch_artifact_equals_merged_partials(
    spark, tmp_path, monkeypatch, edge_corpus, name, corpus
):
    """Built into an empty artifact root: a served artifact would hide
    a change to how it is built behind its unchanged fingerprint."""
    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path))
    sf_dir = SF_SMOKE if corpus == "smoke" else edge_corpus
    spec = SPECS[name]
    ev = load_events(spark, sf_dir)
    odd = F.col("event_id") % 2 == 1
    merged = spec.merge(spec.partial(ev.filter(odd)), spec.partial(ev.filter(~odd)))
    want = _sorted_rows(merged)
    assert want and _sorted_rows(spark.read.parquet(spec.path(spark, sf_dir))) == want
