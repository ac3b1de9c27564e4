"""Streaming tests (SURVEY.md §5 level 3 / §2.D4-D5): the block-DB append
pipeline — file-source micro-batches, watermarked windowed aggregation,
and the foreachBatch incremental digest chain whose final commitment must
equal the batch-computed digest of the full table (the IVC invariant)."""

from __future__ import annotations

import glob
import shutil

import pytest

from pyspark.sql import functions as F

from euclid_spark.functions.hashing import digest_agg, digest_term
from euclid_spark.streaming.block_db import (
    IncrementalDigest,
    read_event_stream,
    windowed_event_counts,
)
from tests.conftest import SF_SMOKE


@pytest.fixture()
def event_src(tmp_path):
    """A source directory the stream discovers file-by-file."""
    src = tmp_path / "src"
    src.mkdir()
    for f in glob.glob(f"{SF_SMOKE}/events.parquet"):
        shutil.copy(f, src / "batch0.parquet")
    return str(src)


def test_windowed_counts_over_stream(spark, event_src, tmp_path):
    stream = read_event_stream(spark, event_src)
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM win_counts")
    assert out.count() > 0
    row = out.agg(F.sum("n").alias("total")).collect()[0]
    expected = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert row["total"] == expected


def test_digest_chain_matches_batch_digest(spark, event_src, tmp_path):
    stream = read_event_stream(spark, event_src)
    sink = IncrementalDigest()
    q = sink.start(stream, str(tmp_path / "ck2"))
    q.awaitTermination(120)

    from euclid_spark.catalog import load_events

    ev = load_events(spark, SF_SMOKE)
    term = digest_term(F.col("event_id").cast("long"), F.col("user_id").cast("long"))
    batch = ev.agg(digest_agg(term).alias("d"), F.count("*").alias("n")).collect()[0]
    assert sink.n_rows == batch["n"]
    assert sink.chain == batch["d"]


def test_digest_chain_is_idempotent_per_batch(spark):
    from euclid_spark.streaming.block_db import IncrementalDigest

    df = spark.range(10).select(
        F.col("id").alias("event_id"), (F.col("id") % 3).alias("user_id")
    )
    sink = IncrementalDigest()
    sink.process(df, batch_id=0)
    first = sink.chain
    sink.process(df, batch_id=0)  # replay must be a no-op
    assert sink.chain == first
    sink.process(df, batch_id=1)
    assert sink.chain != first


def test_digest_chain_survives_driver_restart(spark, tmp_path):
    """ADVICE r1: a replayed micro-batch after a driver restart must not
    be double-counted. Simulate the restart by constructing a fresh sink
    over the same state file and replaying the last batch id."""
    from euclid_spark.streaming.block_db import IncrementalDigest

    df = spark.range(10).select(
        F.col("id").alias("event_id"), (F.col("id") % 3).alias("user_id")
    )
    state = str(tmp_path / "digest_state.json")
    sink = IncrementalDigest(state_path=state)
    sink.process(df, batch_id=0)
    sink.process(df, batch_id=1)
    chain, n = sink.chain, sink.n_rows

    revived = IncrementalDigest(state_path=state)  # "restarted driver"
    assert (revived.chain, revived.n_rows, revived.last_batch_id) == (chain, n, 1)
    revived.process(df, batch_id=1)  # checkpoint replays the last batch
    assert (revived.chain, revived.n_rows) == (chain, n)
    revived.process(df, batch_id=2)  # genuinely new batch still folds
    assert revived.n_rows == n + 10
