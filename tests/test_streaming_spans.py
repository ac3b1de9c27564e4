"""Incremental substring-span index (D24): after EVERY batch the
maintained verdict table equals the batch dedup_substring_spans pipeline
over everything ingested so far — including the retroactive flip of an
old doc's verdict when a later batch delivers its first duplicate —
and batch replay is a no-op."""

from __future__ import annotations

import os

import pytest

from euclid_spark.cache import release_all
from euclid_spark.operators.dedup import _substring_spans_build
from euclid_spark.streaming.spans_stream import IncrementalSpanIndex
from tests.conftest import SF_SMOKE

_COLS = (
    "doc_id n_tokens n_windows n_dup_windows dup_tokens dup_frac flagged"
).split()


def _rows(df):
    return sorted(tuple(r[c] for c in _COLS) for r in df.collect())


@pytest.fixture()
def split_docs(spark, tmp_path):
    """Smoke corpus in 3 round-robin files: duplicate pairs land in
    DIFFERENT batches, forcing the retroactive re-score path."""
    src = tmp_path / "src"
    src.mkdir()
    pdf = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").toPandas()[
        ["doc_id", "text"]
    ]
    for i in range(3):
        pdf.iloc[i::3].to_parquet(str(src / f"b{i}.parquet"), index=False)
    return str(src)


def test_verdicts_match_batch_at_every_point(spark, tmp_path, split_docs):
    sink = IncrementalSpanIndex(spark, str(tmp_path / "state"))
    seen = None
    for i, f in enumerate(sorted(os.listdir(split_docs))):
        batch = spark.read.parquet(os.path.join(split_docs, f))
        seen = batch if seen is None else seen.unionByName(batch)
        sink.process(batch.select("doc_id", "text"), i)
        got = _rows(sink.verdicts())
        exp = _rows(_substring_spans_build(seen))
        release_all()
        assert got == exp, f"verdicts drifted from batch recompute at batch {i}"


def test_retroactive_flip_and_changelog(spark, tmp_path):
    """Doc 1 is unique in batch 0; its verbatim copy arrives in batch 1
    → doc 1's verdict flips retroactively and BOTH docs enter the
    flagged changelog exactly once (replay appends nothing)."""
    text = " ".join(f"w{i}" for i in range(20))
    other = " ".join(f"z{i}" for i in range(20))
    b0 = spark.createDataFrame([(1, text), (2, other)], "doc_id long, text string")
    b1 = spark.createDataFrame([(3, text)], "doc_id long, text string")
    sink = IncrementalSpanIndex(spark, str(tmp_path / "state"))

    sink.process(b0, 0)
    v0 = {r["doc_id"]: r for r in sink.verdicts().collect()}
    assert not v0[1]["flagged"] and v0[1]["dup_tokens"] == 0

    sink.process(b1, 1)
    v1 = {r["doc_id"]: r for r in sink.verdicts().collect()}
    assert v1[1]["flagged"] and v1[1]["dup_tokens"] == 20  # retroactive
    assert v1[3]["flagged"] and v1[3]["dup_tokens"] == 20
    assert not v1[2]["flagged"]
    log = {(r["doc_id"], r["flagged_batch_id"]) for r in sink.flagged_log().collect()}
    assert log == {(1, 1), (3, 1)}

    # replay of batch 1 is a no-op (watermark) and replaying its content
    # under a NEW batch id appends nothing (stores are idempotent)
    sink.process(b1, 1)
    sink.process(b1, 2)
    assert _rows(sink.verdicts()) == sorted(
        tuple(r[c] for c in _COLS) for r in v1.values()
    )
    assert {
        (r["doc_id"], r["flagged_batch_id"]) for r in sink.flagged_log().collect()
    } == log
    release_all()


def test_streaming_feed_end_to_end(spark, tmp_path, split_docs):
    """The foreachBatch wiring: file-source stream, availableNow, final
    verdict table equals the batch pipeline."""
    from euclid_spark.streaming.dedup_stream import DOCS_SCHEMA
    from euclid_spark.streaming.sink import read_feed

    sink = IncrementalSpanIndex(spark, str(tmp_path / "state"))
    q = sink.start(read_feed(spark, split_docs, DOCS_SCHEMA), str(tmp_path / "ck"))
    q.awaitTermination(300)
    assert sink.last_batch_id >= 2
    corpus = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert _rows(sink.verdicts()) == _rows(_substring_spans_build(corpus))
    release_all()
