"""The exactly-once micro-batch sink (euclid_spark/streaming/sink.py),
tested through stub sinks without running a stream: a replayed batch id
is skipped, a restart reloads the watermark and the extra state fields,
a failed batch commits nothing, a batch's pins go when `process`
returns, and `drain` refuses a stream that did not quiesce. An AST
guard keeps the watermark and `foreachBatch` inside the base."""

from __future__ import annotations

import ast
import json
from pathlib import Path

import pandas as pd
import pytest

import euclid_spark.streaming
from euclid_spark import cache
from euclid_spark.streaming import parity
from euclid_spark.streaming.block_db import IncrementalDigest
from euclid_spark.streaming.curation_stream import StreamingCuration
from euclid_spark.streaming.dedup_stream import IncrementalDedupIndex
from euclid_spark.streaming.ivm import MaintainedAggregate
from euclid_spark.streaming.mpt_stream import IncrementalMptReassembly
from euclid_spark.streaming.shard_stream import StreamingShardIndex
from euclid_spark.streaming.sink import BatchSink, drain
from euclid_spark.streaming.spans_stream import IncrementalSpanIndex

SINKS = (
    IncrementalDigest,
    MaintainedAggregate,
    IncrementalMptReassembly,
    IncrementalDedupIndex,
    IncrementalSpanIndex,
    StreamingShardIndex,
    StreamingCuration,
)


class Summing(BatchSink):
    """Adds each batch (an int) to `total`; `fail` makes apply raise
    after it has already touched `total`."""

    STATE = ("total",)
    total = 0

    def __init__(self, state_path=None, fail=False, on_apply=None):
        self.state_path = state_path
        self.fail = fail
        self.on_apply = on_apply
        self.applied = []
        self._load()

    def apply(self, batch_df, batch_id):
        self.total += batch_df
        self.applied.append(batch_id)
        if self.on_apply is not None:
            self.on_apply()
        if self.fail:
            raise RuntimeError("batch failed")


class StubQuery:
    def __init__(self, terminates: bool):
        self.terminates = terminates
        self.stopped = False
        self.recentProgress = []

    def awaitTermination(self, timeout):
        return self.terminates

    def stop(self):
        self.stopped = True


def test_replayed_batch_id_is_skipped():
    sink = Summing()
    sink.process(5, 0)
    sink.process(5, 0)  # the checkpoint replays an applied id
    sink.process(7, 1)
    sink.process(5, 0)
    assert (sink.total, sink.applied, sink.last_batch_id) == (12, [0, 1], 1)


def test_restart_reloads_watermark_and_state(tmp_path):
    state = str(tmp_path / "meta.json")
    sink = Summing(state)
    sink.process(5, 0)
    sink.process(7, 1)
    with open(state) as fh:
        assert json.load(fh) == {"last_batch_id": 1, "total": 12}

    revived = Summing(state)  # a restarted driver
    assert (revived.last_batch_id, revived.total) == (1, 12)
    revived.process(7, 1)  # the replayed last batch
    revived.process(3, 2)
    assert (revived.total, revived.applied) == (15, [2])


def test_failed_apply_commits_nothing(tmp_path):
    state = str(tmp_path / "meta.json")
    sink = Summing(state)
    sink.process(5, 0)
    committed = (tmp_path / "meta.json").read_text()

    sink.fail = True
    with pytest.raises(RuntimeError):
        sink.process(7, 1)
    assert (sink.last_batch_id, sink.total) == (0, 5)
    assert (tmp_path / "meta.json").read_text() == committed

    sink.fail = False  # the replay applies the batch again
    sink.process(7, 1)
    assert (sink.last_batch_id, sink.total) == (1, 12)


def test_batch_pins_released_other_owner_kept(spark):
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    cache.persist_tracked(spark.range(70)).count()  # another owner's pin
    seen = {}

    def pin():
        cache.persist_tracked(spark.range(100)).count()
        cache.local_checkpoint_tracked(spark.range(50))
        seen["in_batch"] = jsc.getPersistentRDDs().size()

    try:
        Summing(on_apply=pin).process(1, 0)
        assert seen["in_batch"] == base + 3
        assert jsc.getPersistentRDDs().size() == base + 1
    finally:
        cache.release_all()
    assert jsc.getPersistentRDDs().size() == base


def test_drain_stops_and_raises_on_timeout():
    q = StubQuery(terminates=False)
    with pytest.raises(RuntimeError, match="did not quiesce"):
        drain(q, 1)
    assert q.stopped


def test_drain_raises_on_missing_batch():
    sink = Summing()
    sink.process(1, 0)
    with pytest.raises(RuntimeError, match="1/2"):
        drain(StubQuery(terminates=True), 2, sink)
    drain(StubQuery(terminates=True), 1, sink)


def test_run_parity_refuses_a_running_stream(tmp_path, monkeypatch):
    """A parity point whose stream does not quiesce is stopped and
    raises — never compared mid-run."""
    q = StubQuery(terminates=False)
    monkeypatch.setattr(parity, "read_event_stream", lambda spark, src: None)
    monkeypatch.setattr(MaintainedAggregate, "start", lambda self, s, ck: q)
    events = pd.DataFrame(
        {"event_id": [1, 2, 3], "ts": pd.to_datetime(["2024-01-01"] * 3)}
    )
    with pytest.raises(RuntimeError, match="did not quiesce"):
        parity.run_parity(
            None, events, parity.SPECS["ivm_count_sum_digest"], str(tmp_path)
        )
    assert q.stopped


def test_watermark_lives_only_in_the_base():
    """Only sink.py calls foreachBatch or reads/writes JSON under
    euclid_spark/streaming/, and every sink runs the base's process."""
    root = Path(euclid_spark.streaming.__file__).parent
    found = set()
    for path in sorted(root.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                fn = node.func
                is_json = isinstance(fn.value, ast.Name) and fn.value.id == "json"
                if fn.attr == "foreachBatch" or (
                    is_json and fn.attr in {"load", "loads", "dump", "dumps"}
                ):
                    found.add(path.name)
    assert found == {"sink.py"}
    for cls in SINKS:
        assert issubclass(cls, BatchSink) and cls.process is BatchSink.process
