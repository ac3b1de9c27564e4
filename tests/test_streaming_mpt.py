"""Incremental MPT ingestion (SURVEY.md §2.D15): a SHUFFLED stream of
raw trie nodes, delivered one file per micro-batch, must reassemble
exactly the entries the batch walk produces — and nothing may resolve
early: a leaf whose ancestors haven't arrived waits in the frontier."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMOKE

from euclid_spark.cache import release_all
from euclid_spark.operators.mpt_ingest import (
    NODE_SCHEMA,
    mpt_reassemble_query,
    synthesize_owner_tries,
)
from euclid_spark.streaming.mpt_stream import IncrementalMptReassembly
from euclid_spark.streaming.sink import read_feed

N_FILES = 5


@pytest.fixture()
def node_feed(spark, tmp_path):
    """The synthesized node set written as N shuffled parquet files —
    parents and children scattered across micro-batches."""
    nodes = synthesize_owner_tries(spark, SF_SMOKE).toPandas()
    release_all()
    # deterministic shuffle that ignores tree structure: order by hash
    nodes = nodes.sort_values("node_hash", ignore_index=True)
    src = tmp_path / "feed"
    src.mkdir()
    per = (len(nodes) + N_FILES - 1) // N_FILES
    for i in range(N_FILES):
        part = nodes.iloc[i * per : (i + 1) * per]
        if len(part):
            # flat single files (not Spark output directories): the
            # streaming file source lists files, not nested dirs
            part.to_parquet(str(src / f"p{i}.parquet"), index=False)
    return str(src), len(nodes)


def test_incremental_matches_batch(spark, tmp_path, node_feed):
    src, n_nodes = node_feed
    assert n_nodes > N_FILES, "need multiple nodes per file for the test"

    stream = read_feed(spark, src, NODE_SCHEMA)
    sink = IncrementalMptReassembly(spark, str(tmp_path / "state"))
    q = sink.start(stream, str(tmp_path / "ck"))
    q.awaitTermination(300)

    got = {
        (r["owner"], r["token_id"], r["value_hex"])
        for r in sink.entries().collect()
    }
    want = {
        (r["owner"], r["token_id"], r["value_hex"])
        for r in mpt_reassemble_query(spark, SF_SMOKE).collect()
    }
    release_all()
    assert got == want, (
        f"incremental != batch: missing={len(want - got)} extra={len(got - want)}"
    )
    # every trie completed → no cursor left waiting
    assert sink.pending().isEmpty()


def test_replayed_batch_is_skipped(spark, tmp_path, node_feed):
    src, _ = node_feed
    stream = read_feed(spark, src, NODE_SCHEMA)
    sink = IncrementalMptReassembly(spark, str(tmp_path / "state"))
    q = sink.start(stream, str(tmp_path / "ck"))
    q.awaitTermination(300)
    n = sink.entries().count()

    # a restart replays the last micro-batch from the checkpoint: the
    # watermark must skip it instead of double-appending entries
    last = spark.read.parquet(src).limit(50)
    sink.process(last, sink.last_batch_id)
    assert sink.entries().count() == n


def test_resent_root_does_not_duplicate(spark, tmp_path, node_feed):
    """A root node RE-SENT in a later micro-batch (new batch id, so the
    replay watermark does not apply) must not re-seed its walk cursor:
    the subtree is already in the node store, and a re-seeded cursor
    would re-emit every entry for that owner."""
    src, _ = node_feed
    stream = read_feed(spark, src, NODE_SCHEMA)
    sink = IncrementalMptReassembly(spark, str(tmp_path / "state"))
    q = sink.start(stream, str(tmp_path / "ck"))
    q.awaitTermination(300)
    n = sink.entries().count()
    assert n > 0

    roots = spark.read.parquet(src).filter("is_root")
    assert not roots.isEmpty()
    sink.process(roots, sink.last_batch_id + 1)
    assert sink.entries().count() == n, "re-sent roots re-emitted entries"
    assert sink.pending().isEmpty()


def test_crash_before_frontier_write_replays_exactly_once(
    spark, tmp_path, node_feed, monkeypatch
):
    """A crash inside `apply` — after batch 2 wrote its entries, before
    its frontier is written — then a restart from the same checkpoint
    and state: the replayed batch redoes itself from scratch, so the
    entries equal the batch walk with no duplicates and no cursor is
    left parked."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.utils import StreamingQueryException

    from euclid_spark.streaming.sink import drain

    src, _ = node_feed
    state, ck = str(tmp_path / "state"), str(tmp_path / "ck")
    writes = []
    orig = DataFrameWriter.parquet

    def failing(self, path, *args, **kwargs):
        if os.path.basename(str(path)).startswith("frontier"):
            writes.append(path)
            if len(writes) == 3:  # batches 0, 1 commit; batch 2 dies here
                raise RuntimeError("injected crash before the frontier write")
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    sink = IncrementalMptReassembly(spark, state)
    q = sink.start(read_feed(spark, src, NODE_SCHEMA), ck)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(300)
    assert sink.last_batch_id == 1
    monkeypatch.setattr(DataFrameWriter, "parquet", orig)

    sink = IncrementalMptReassembly(spark, state)  # the restart
    assert sink.last_batch_id == 1
    drain(sink.start(read_feed(spark, src, NODE_SCHEMA), ck), N_FILES, sink)

    got = [
        (r["owner"], r["token_id"], r["value_hex"])
        for r in sink.entries().collect()
    ]
    want = {
        (r["owner"], r["token_id"], r["value_hex"])
        for r in mpt_reassemble_query(spark, SF_SMOKE).collect()
    }
    release_all()
    assert len(got) == len(set(got)), f"{len(got) - len(set(got))} duplicate entries"
    assert set(got) == want, (
        f"missing={len(want - set(got))} extra={len(set(got) - want)}"
    )
    assert sink.pending().isEmpty()
