"""Incremental dedup-index maintenance (D21): after all batches land,
the streamed pair ledger must equal the batch MinHash/LSH pair set over
the full corpus; signatures are computed once per doc; a replayed batch
is a no-op."""

from __future__ import annotations

import pytest

from euclid_spark.cache import release_all
from euclid_spark.operators.dedup import dedup_minhash_lsh
from euclid_spark.streaming.dedup_stream import DOCS_SCHEMA, IncrementalDedupIndex
from euclid_spark.streaming.sink import read_feed
from tests.conftest import SF_SMOKE


@pytest.fixture()
def split_docs(spark, tmp_path):
    """The smoke corpus split into 3 ingest files (round-robin, so every
    batch mixes early and late doc_ids — the adversarial order)."""
    src = tmp_path / "src"
    src.mkdir()
    pdf = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").toPandas()[
        ["doc_id", "text"]
    ]
    for i in range(3):
        pdf.iloc[i::3].to_parquet(str(src / f"b{i}.parquet"), index=False)
    return str(src)


def test_streamed_pairs_equal_batch_lsh(spark, tmp_path, split_docs):
    jsc = spark.sparkContext._jsc.sc()
    n_persistent = jsc.getPersistentRDDs().size()
    sink = IncrementalDedupIndex(spark, str(tmp_path / "state"))
    q = sink.start(read_feed(spark, split_docs, DOCS_SCHEMA), str(tmp_path / "ck"))
    q.awaitTermination(300)
    # every micro-batch released its own pins when its cache scope ended
    assert jsc.getPersistentRDDs().size() == n_persistent
    assert sink.last_batch_id >= 2

    got = {(r["doc_a"], r["doc_b"]) for r in sink.pairs().collect()}
    exp = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_minhash_lsh(spark, SF_SMOKE).collect()
    }
    release_all()
    assert got == exp

    # one signature row per corpus doc — the index never re-shingles
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert sink.signatures().count() == n_docs


def test_streamed_labels_track_ledger_components(spark, tmp_path, split_docs):
    """After every batch, the maintained labeling must equal a
    from-scratch connected-components run over the pair ledger so far
    (the affected-subgraph merge may never drift); after the last batch
    it must equal the batch operator's components over the full-corpus
    LSH pair set."""
    import os

    from euclid_spark.operators.components import connected_components

    sink = IncrementalDedupIndex(spark, str(tmp_path / "state"))
    for i, f in enumerate(sorted(os.listdir(split_docs))):
        batch = spark.read.parquet(os.path.join(split_docs, f)).select(
            "doc_id", "text"
        )
        sink.process(batch, i)
        got = {(r["doc_id"], r["component"]) for r in sink.labels().collect()}
        exp = {
            (r["doc_id"], r["component"])
            for r in connected_components(sink.pairs()).collect()
        }
        release_all()
        assert got == exp, f"labels drifted from ledger components at batch {i}"

    batch_pairs = dedup_minhash_lsh(spark, SF_SMOKE).select("doc_a", "doc_b")
    exp_final = {
        (r["doc_id"], r["component"])
        for r in connected_components(batch_pairs).collect()
    }
    got_final = {(r["doc_id"], r["component"]) for r in sink.labels().collect()}
    release_all()
    assert got_final == exp_final

    # keep_list = corpus minus non-canonical members, same as C16's shape
    corpus = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    kept = {r["doc_id"] for r in sink.keep_list(corpus).collect()}
    dropped = {d for d, c in exp_final if d != c}
    assert kept == {r["doc_id"] for r in corpus.collect()} - dropped

    # the revocation changelog: one entry per ever-dropped doc, and
    # replaying the ledger as deletions reproduces the keep-list
    revs = sink.revocations().collect()
    assert len(revs) == len({r["doc_id"] for r in revs}), "duplicate revocation"
    assert {r["doc_id"] for r in revs} == dropped
    release_all()


def test_replay_reconciles_labels(spark, tmp_path):
    """Crash window: watermark (and labels pointer) roll back to the
    pre-batch state while sigs+pairs already landed — the replay must
    rebuild the SAME labeling, not skip it."""
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .limit(300)
    )
    sink = IncrementalDedupIndex(spark, str(tmp_path / "state"))
    sink.process(docs, 0)
    labels0 = {(r["doc_id"], r["component"]) for r in sink.labels().collect()}
    pairs0 = {(r["doc_a"], r["doc_b"]) for r in sink.pairs().collect()}
    assert labels0, "fixture must produce at least one near-dup pair"

    # restart with a stale watermark AND a lost labels pointer: the
    # stores are ahead of meta — exactly the mid-batch crash state
    crashed = IncrementalDedupIndex(spark, str(tmp_path / "state"))
    crashed.last_batch_id = -1
    crashed.labels_version = -1
    crashed.process(docs, 0)
    assert {
        (r["doc_id"], r["component"]) for r in crashed.labels().collect()
    } == labels0
    assert {(r["doc_a"], r["doc_b"]) for r in crashed.pairs().collect()} == pairs0
    # replay appends nothing to the revocation ledger (anti-join base is
    # the ledger itself)
    revs = crashed.revocations().collect()
    assert len(revs) == len({r["doc_id"] for r in revs})
    release_all()


def test_replayed_batch_is_noop(spark, tmp_path):
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    sink = IncrementalDedupIndex(spark, str(tmp_path / "state"))
    sink.process(docs, 0)
    sigs0 = sink.signatures().count()
    pairs0 = {(r["doc_a"], r["doc_b"]) for r in sink.pairs().collect()}

    sink.process(docs, 0)  # same id: watermark fast path
    # stale watermark + re-delivered docs: the anti-join dedups
    sink.last_batch_id = -1
    sink.process(docs, 1)

    assert sink.signatures().count() == sigs0
    assert {(r["doc_a"], r["doc_b"]) for r in sink.pairs().collect()} == pairs0
