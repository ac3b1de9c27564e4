"""Registry faces for the streaming twins (streaming/faces.py): each
face runs the REAL Structured Streaming sink over an adversarial
hash-split of the input and returns the final maintained state. These
tests pin (1) the streamed result equals the batch computation — the
IVC property the oracle gate also checks, (2) the artifact round-trip:
serving the face twice returns identical rows without re-running the
stream, (3) rebuild determinism: a fresh artifact root reproduces the
same rows bit-for-bit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from euclid_spark.streaming import faces
from tests.conftest import SF_SMOKE


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_ivm_face_matches_batch(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "a1"))
    streamed = faces.QUERIES["stream_ivm_view"](spark, SF_SMOKE)
    assert set(streamed.columns) == {
        "user_id", "day", "n_events", "total_value", "digest",
    }
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    batch = faces._dec_partial(ev).select(
        "user_id",
        "day",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
        "digest",
    )
    assert _rows(streamed) == _rows(batch)


@pytest.mark.parametrize(
    # a hand-run face and a MAINTAINED-table face: both paths share the
    # one stream runner, so poisoning it pins both cache hits
    "key", ["stream_block_db_chain", "stream_hdr_quantile_tiles"]
)
def test_face_serves_artifact_without_rerun(spark, tmp_path, monkeypatch, key):
    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "a1"))
    first = _rows(faces.QUERIES[key](spark, SF_SMOKE))
    # second call must serve the artifact: make a re-run impossible to
    # miss by timing-independent means — poison the stream runner
    monkeypatch.setattr(
        faces, "_run_stream", lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("stream re-ran despite existing artifact")
        )
    )
    assert _rows(faces.QUERIES[key](spark, SF_SMOKE)) == first


def test_face_rebuild_is_deterministic(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "a1"))
    first = _rows(faces.stream_dedup_pairs(spark, SF_SMOKE))
    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "a2"))
    assert _rows(faces.stream_dedup_pairs(spark, SF_SMOKE)) == first


def test_curation_face_matches_batch_composition(spark, tmp_path, monkeypatch):
    """kept ∖ revoked == sample ∩ repetition ∩ ¬contaminated ∩ ¬blocked
    ∩ model-kept (C61) ∩ LSH-component keep-list evaluated over the
    full corpus."""
    from euclid_spark.operators.components import connected_components
    from euclid_spark.operators.dedup import dedup_minhash_lsh
    from euclid_spark.operators.textops import (
        BENCH_SOURCES,
        benchmark_shingles,
        contamination_overlap,
        repetition_stats,
        stratified_sample,
    )

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "a1"))
    streamed = faces.stream_curation_kept(spark, SF_SMOKE)

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    is_bench = F.col("source").isin(*BENCH_SOURCES)
    labels = connected_components(
        dedup_minhash_lsh(spark, SF_SMOKE).select("doc_a", "doc_b")
    )
    drop = labels.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    contaminated = (
        contamination_overlap(
            docs.filter(~is_bench),
            benchmark_shingles(docs.filter(is_bench)),
        )
        .filter("contaminated")
        .select("doc_id")
    )
    from euclid_spark.operators.textops import safety_counts

    blocked = safety_counts(docs).filter("blocked").select("doc_id")
    # the C61 learned-quality stage the stream joined in r15 (the sink
    # receives the served model weights up front, exactly like the
    # static benchmark index)
    from euclid_spark.operators.quality_model import text_quality_model

    model_drop = (
        text_quality_model(spark, SF_SMOKE)
        .filter(~F.col("model_keep"))
        .select("doc_id")
    )
    batch = (
        stratified_sample(docs)
        .filter(~is_bench)
        .join(repetition_stats(docs).filter("keep").select("doc_id"),
              "doc_id", "left_semi")
        .join(contaminated, "doc_id", "left_anti")
        .join(blocked, "doc_id", "left_anti")
        .join(model_drop, "doc_id", "left_anti")
        .join(drop, "doc_id", "left_anti")
    )
    assert _rows(streamed) == _rows(batch)


def test_ivf_assign_face_matches_batch(spark, tmp_path, monkeypatch):
    """D27: the incrementally-maintained inverted-list store equals the
    batch assignment of every corpus vector to its nearest seed
    centroid; each vector appears in exactly one list."""
    from euclid_spark.functions.vectors import cosine
    from euclid_spark.operators.similarity import N_QUERIES
    from pyspark.sql import Window

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "a1"))
    streamed = faces.QUERIES["stream_ivf_assign"](spark, SF_SMOKE)
    assert set(streamed.columns) == {"cid", "neighbor_id", "csim"}

    corpus = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").filter(
        F.col("vec_id") >= N_QUERIES
    )
    seed = corpus.orderBy("vec_id").limit(faces.IVF_FACE_K).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cemb"),
    )
    scored = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("ce"),
    ).crossJoin(F.broadcast(seed)).select(
        "cid",
        "neighbor_id",
        F.round(cosine(F.col("ce"), F.col("cemb")), 6).alias("csim"),
    )
    w = Window.partitionBy("neighbor_id").orderBy(F.desc("csim"), "cid")
    batch = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cid", "neighbor_id", "csim")
    )
    assert _rows(streamed) == _rows(batch)
    # exactly one list per vector
    n_corpus = corpus.count()
    assert streamed.select("neighbor_id").distinct().count() == n_corpus
    assert streamed.count() == n_corpus


def test_stream_soft_dedup_weights_properties(spark):
    """D35: per-cluster weights sum to ~1 (each member carries
    1/|cluster|), every doc appears exactly once, weights in (0, 1]."""
    rows = faces.stream_soft_dedup_weights(spark, SF_SMOKE).collect()
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs
    by_comp: dict = {}
    for r in rows:
        assert 0.0 < r["weight"] <= 1.0
        assert r["cluster_size"] >= 1
        by_comp.setdefault(r["component"], []).append(r)
    assert any(len(v) > 1 for v in by_comp.values())  # dups exist at this SF
    for comp, members in by_comp.items():
        assert len(members) == members[0]["cluster_size"], comp
        assert abs(sum(m["weight"] for m in members) - 1.0) < 1e-6, comp
