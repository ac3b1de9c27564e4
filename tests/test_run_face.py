"""The one face runner (`registry.run_face`): its job and stage counts
are the status store's, its wall splits exactly into construct, plan and
exec, and the face's pins are gone when it returns."""

from __future__ import annotations

import types

import pytest
from pyspark.sql import functions as F

from euclid_spark import cache, registry


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _pinning_face(spark, sf_dir):
    """Pins a frame and a local checkpoint and runs a job while it
    builds, like the operators that fetch or pin before they return."""
    base = cache.persist_tracked(spark.range(2000).withColumn("g", F.col("id") % 7))
    base.count()
    ckpt = cache.local_checkpoint_tracked(base.groupBy("g").count())
    return ckpt.join(base, "g").groupBy("g").agg(F.sum("id").alias("s"))


@pytest.mark.parametrize("act", [registry.noop, registry.to_pandas])
def test_run_face_record_matches_the_status_store(spark, monkeypatch, act):
    fake = types.SimpleNamespace(QUERIES={"pinning_face": _pinning_face}, ORACLES={})
    monkeypatch.setattr(registry, "_MODULES", [fake])
    during = []

    def counted(df):
        during.append(_n_persistent(spark))
        return act(df)

    counted.__name__ = act.__name__
    store = registry.StatusStore(spark)
    base = _n_persistent(spark)
    before = store.mark()
    rec = registry.run_face(spark, "pinning_face", "/nonexistent", counted)
    after = store.mark()

    # jobs: every id past the mark; stages: every one of them that ran
    # tasks (a stage whose shuffle output was already there is skipped),
    # read through the public tracker
    tracker = spark.sparkContext.statusTracker()
    ran = [
        sid for sid in range(before[1] + 1, after[1] + 1)
        if tracker.getStageInfo(sid).numCompletedTasks > 0
    ]
    assert rec["jobs"] == after[0] - before[0] >= 3
    assert rec["stages"] == len(ran) >= 3

    parts = rec["construct_s"] + rec["plan_s"] + rec["exec_s"]
    assert abs(parts - rec["wall_s"]) < 1e-3, rec
    assert min(rec["construct_s"], rec["plan_s"], rec["exec_s"]) >= 0, rec
    assert rec["act"] == act.__name__

    assert during and during[0] >= base + 2  # the face's two pins were live
    assert _n_persistent(spark) == base
    assert ("result" in rec) == (act is not registry.noop)


def _run_fallback_face(spark, monkeypatch, face) -> dict:
    fake = types.SimpleNamespace(QUERIES={"fallback_face": face}, ORACLES={})
    monkeypatch.setattr(registry, "_MODULES", [fake])
    return registry.run_face(spark, "fallback_face", "/nonexistent")


def test_local_frame_fallback_is_counted_in_the_record(spark, monkeypatch):
    """A face whose local frame falls back from Arrow to the row path
    carries that fallback in its run_face record."""
    import pandas as pd

    from euclid_spark.catalog import local_frame

    def broken(*_a, **_k):
        raise ValueError("forced arrow failure")

    monkeypatch.setattr(pd.DataFrame, "from_records", broken)
    rec = _run_fallback_face(
        spark, monkeypatch,
        lambda s, _sf: local_frame(s, [(1, "a")], "k long, v string"),
    )
    assert rec["fallbacks"] == {"local_frame_rows": 1, "footer_span_fold": 0}


def test_footer_fold_fallback_is_counted_in_the_record(spark, monkeypatch):
    """A face whose events span falls back from the footers to a
    one-row fold carries that fallback in its run_face record; a face
    that takes no fallback carries zeros."""
    from euclid_spark import artifacts
    from euclid_spark.operators.range_tree import _max_event_id
    from tests.conftest import SF_SMOKE

    def face(s, _sf):
        return s.range(_max_event_id(s, SF_SMOKE))

    assert set(_run_fallback_face(spark, monkeypatch, face)["fallbacks"].values()) == {0}

    def no_footers(path):
        raise ValueError("no footer statistics for column 'event_id'")

    monkeypatch.setattr(artifacts, "footer_stats", no_footers)
    rec = _run_fallback_face(spark, monkeypatch, face)
    assert rec["fallbacks"] == {"local_frame_rows": 0, "footer_span_fold": 1}
