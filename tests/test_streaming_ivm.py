"""Incremental view maintenance (D19): after each quiescent point the
maintained view must equal the batch aggregate over everything ingested
so far, a replayed batch id must be a no-op (no double counting), and
an append must rewrite only the day partitions it touches."""

from __future__ import annotations

import glob
import os

import pandas as pd

from pyspark.sql import functions as F

from euclid_spark.streaming.block_db import read_event_stream
from euclid_spark.streaming.ivm import (
    MaintainedAggregate,
    _rollup_merge,
    _rollup_partial,
    batch_oracle,
    rollup_batch_oracle,
)
from tests.conftest import SF_SMOKE


def _view_as_dict(spark, view_path):
    out = {}
    for r in spark.read.parquet(view_path).collect():
        out[(r["user_id"], str(r["day"]))] = (
            r["n_events"],
            round(r["total_value"], 6),
            r["digest"],
        )
    return out


def _oracle_as_dict(spark, src_dir):
    return {
        (r["user_id"], str(r["day"])): (
            r["n_events"],
            round(r["total_value"], 6),
            r["digest"],
        )
        for r in batch_oracle(spark, src_dir).collect()
    }


def test_maintained_view_matches_batch_aggregate(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    view = str(tmp_path / "view")
    ck = str(tmp_path / "ck")

    pdf = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    # pandas defaults to ns precision; the stored events schema is µs
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    third = len(pdf) // 3
    pdf.iloc[:third].to_parquet(str(src / "b0.parquet"), index=False)
    pdf.iloc[third : 2 * third].to_parquet(str(src / "b1.parquet"), index=False)
    pdf.iloc[2 * third :].to_parquet(str(src / "b2.parquet"), index=False)

    sink = MaintainedAggregate(view_path=view)
    q = sink.start(read_event_stream(spark, str(src)), ck)
    q.awaitTermination(240)
    assert sink.last_batch_id >= 2  # one file per trigger → ≥3 batches

    assert _view_as_dict(spark, view) == _oracle_as_dict(spark, str(src))


def test_maintained_state_rollup_matches_batch(spark, tmp_path):
    """The A7 last-value rollup (argmax-by-event-id — a non-sum monoid)
    maintained incrementally must equal the batch aggregate."""
    src = tmp_path / "src"
    src.mkdir()
    view = str(tmp_path / "view")
    ck = str(tmp_path / "ck")

    pdf = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    # adversarial split for argmax: NOT time-ordered — shuffle rows so
    # later batches carry earlier event_ids and the merge must still
    # keep the globally-latest value
    pdf = pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)
    third = len(pdf) // 3
    for i in range(3):
        lo, hi = i * third, (i + 1) * third if i < 2 else len(pdf)
        pdf.iloc[lo:hi].to_parquet(str(src / f"b{i}.parquet"), index=False)

    sink = MaintainedAggregate(
        view_path=view, partial_fn=_rollup_partial, merge_fn=_rollup_merge
    )
    q = sink.start(read_event_stream(spark, str(src)), ck)
    q.awaitTermination(240)
    assert sink.last_batch_id >= 2

    got = {
        (r["user_id"], str(r["day"])): (
            round(r["last_value"], 6), r["last_event_id"], r["n_events"]
        )
        for r in spark.read.parquet(view).collect()
    }
    exp = {
        (r["user_id"], str(r["day"])): (
            round(r["last_value"], 6), r["last_event_id"], r["n_events"]
        )
        for r in rollup_batch_oracle(spark, str(src)).collect()
    }
    assert got == exp


def test_replayed_batch_is_noop(spark, tmp_path):
    """Re-delivering an already-applied batch id (checkpoint replay
    after a driver restart) must not double-count."""
    src = tmp_path / "src"
    src.mkdir()
    view = str(tmp_path / "view")
    state = str(tmp_path / "ivm_state.json")

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(500)
    sink = MaintainedAggregate(view_path=view, state_path=state)
    sink.process(ev, 0)
    before = _view_as_dict(spark, view)

    sink.process(ev, 0)  # same id — must be skipped
    assert _view_as_dict(spark, view) == before

    # a restart reloads the watermark from disk and still skips it
    sink2 = MaintainedAggregate(view_path=view, state_path=state)
    sink2.process(ev, 0)
    assert _view_as_dict(spark, view) == before


def test_crash_between_view_write_and_watermark_save(spark, tmp_path):
    """ADVICE r4 (medium): a crash AFTER the view partition write but
    BEFORE the watermark-file save used to double-merge the replayed
    batch. The per-day applied_batch_id stamped into the view rows must
    make the replay a no-op even with a stale watermark file."""
    import json

    src_view = str(tmp_path / "view")
    state = str(tmp_path / "state.json")
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(600)

    sink = MaintainedAggregate(view_path=src_view, state_path=state)
    sink.process(ev.limit(300), 0)
    sink.process(ev, 1)  # batch 1 fully applied: view AND watermark
    before = _view_as_dict(spark, src_view)

    # simulate the crash window: roll the watermark FILE back to batch 0
    # (view partitions still carry applied_batch_id=1), restart, replay
    with open(state, "w") as fh:
        json.dump({"last_batch_id": 0}, fh)
    sink2 = MaintainedAggregate(view_path=src_view, state_path=state)
    assert sink2.last_batch_id == 0  # stale file loaded — fast path open
    sink2.process(ev, 1)  # checkpoint replay of batch 1

    assert _view_as_dict(spark, src_view) == before, "replay double-counted"
    assert sink2.last_batch_id == 1  # watermark file healed


def test_append_rewrites_only_touched_day_partitions(spark, tmp_path):
    """Dynamic partition overwrite: merging a batch confined to one day
    must leave every other day= directory untouched on disk."""
    view = str(tmp_path / "view")
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    sink = MaintainedAggregate(view_path=view)
    sink.process(ev, 0)

    days = sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(view, "day=*"))
    )
    assert len(days) > 3
    target_day = days[0].split("=", 1)[1]
    untouched = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(view, "day=*/*.parquet"))
        if f"day={target_day}" not in p
    }

    one_day = ev.filter(F.to_date("ts") == target_day)
    n_day = one_day.count()
    assert n_day > 0
    sink.process(one_day, 1)

    after = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(view, "day=*/*.parquet"))
        if f"day={target_day}" not in p
    }
    assert after == untouched, "untouched day partitions were rewritten"

    # and the merged view still equals old ∪ one_day re-aggregated
    n_target = [
        r["n_events"]
        for r in spark.read.parquet(view)
        .filter(F.col("day") == target_day)
        .groupBy()
        .agg(F.sum("n_events").alias("n_events"))
        .collect()
    ][0]
    n_expect = 2 * n_day  # the day's rows merged in twice
    assert n_target == n_expect
