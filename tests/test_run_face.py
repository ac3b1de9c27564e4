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
