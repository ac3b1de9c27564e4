"""Streaming curation pipeline (SURVEY.md §2.D22) — C25's streaming
twin, and the LLM-data analog of the reference's staged block-DB
ingestion (api.rs: feed blocks in, get a committed queryable DB out;
here: feed documents in, get a maintained curated training set out).

Per micro-batch:

1. the incremental dedup index (dedup_stream.py) ingests the batch —
   signatures, candidate pairs, component labels, and the append-only
   keep-list REVOCATION changelog all advance;
2. the batch's docs pass the ROW-LOCAL curation stages exactly as the
   batch operator applies them — stratified sample (C22), repetition
   rules (C21), contamination screen (C23) against a STATIC benchmark
   shingle index (a held-out eval suite is fixed up front; the batch
   operator derives the same set from the corpus's bench sources),
   safety/blocklist screen (C60, r14), and the LEARNED quality filter
   (C61, r15) against STATIC served model weights — the offline-train /
   online-serve shape: the classifier is fitted once on the reference
   corpus, its (b, w, m) rows are handed to the sink up front like the
   benchmark index, and scoring a doc against fixed weights is a pure
   per-doc function, so batch ≡ stream decisions hold exactly —
   and survivors append to the kept store (anti-join = idempotent);
3. the CURRENT curated set is kept ∖ revoked: the dedup changelog
   applies as pure deletions (revocation is monotone — see
   dedup_stream.py), so the kept store itself is append-only and never
   rewritten.

Equivalence (tests/test_streaming_curation.py): after any prefix of
batches, `kept()` equals the batch composition
sample ∩ repetition-keep ∩ ¬contaminated ∩ dedup-keep evaluated over
everything ingested so far — because stages 2's filters are row-local
(batch ≡ corpus evaluation) and stage 3's keep-set equals the batch
labeling (the dedup parity proved per batch).

Exactly-once: the curation level and the embedded index each keep the
shared batch-id watermark (streaming/sink.py). What the sink adds: the
kept append anti-joins the store, and the index is idempotent on its
own, so a crash anywhere replays clean.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from euclid_spark.operators.textops import (
    BENCH_SOURCES,
    contamination_overlap,
    repetition_stats,
    safety_counts,
    stratified_sample,
)
from euclid_spark.streaming.dedup_stream import IncrementalDedupIndex
from euclid_spark.streaming.sink import BatchSink

CURATION_DOCS_SCHEMA = "doc_id long, text string, lang string, source string"
KEPT_SCHEMA = "doc_id long, lang string, source string, bucket_hex string"


class StreamingCuration(BatchSink):
    """foreachBatch sink maintaining the curated training set (module
    docstring). `bench_shingles`: static (shingle) frame — the held-out
    benchmark index the contamination screen probes."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        bench_shingles: DataFrame,
        model: "DataFrame | None" = None,
    ) -> None:
        super().__init__(spark, state_dir)
        self.index = IncrementalDedupIndex(
            spark, os.path.join(state_dir, "dedup")
        )
        self.kept_path = os.path.join(state_dir, "kept")
        self.bench = bench_shingles
        # C61 model weights (b, w, m) — static like the benchmark
        # index; None = run without the learned-filter stage
        self.model = model

    def _kept_store(self) -> DataFrame:
        return self._read_or_empty(self.kept_path, KEPT_SCHEMA)

    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        # 1. advance the dedup index (its own watermark makes this
        # idempotent even when the curation watermark is behind)
        self.index.process(batch_df.select("doc_id", "text"), batch_id)

        # 2. row-local stages on the batch alone — identical decisions
        # to a full-corpus evaluation (all per-doc expressions)
        is_bench = F.col("source").isin(*BENCH_SOURCES)
        surv = stratified_sample(batch_df).filter(~is_bench)
        rep_ok = repetition_stats(batch_df).filter("keep").select("doc_id")
        contaminated = (
            contamination_overlap(batch_df.filter(~is_bench), self.bench)
            .filter("contaminated")
            .select("doc_id")
        )
        blocked = (
            safety_counts(batch_df).filter("blocked").select("doc_id")
        )
        cand = (
            surv.join(rep_ok, "doc_id", "left_semi")
            .join(contaminated, "doc_id", "left_anti")
            .join(blocked, "doc_id", "left_anti")
        )
        if self.model is not None:
            from euclid_spark.operators.quality_model import model_verdicts

            mdl_drop = (
                model_verdicts(self.spark, batch_df, self.model)
                .filter(~F.col("model_keep"))
                .select("doc_id")
            )
            cand = cand.join(mdl_drop, "doc_id", "left_anti")
        new_kept = cand.join(self._kept_store(), "doc_id", "left_anti")
        if not new_kept.isEmpty():
            new_kept.write.mode("append").parquet(self.kept_path)

    def kept(self) -> DataFrame:
        """The current curated set: the append-only kept store minus
        every doc the dedup changelog has revoked."""
        return self._kept_store().join(
            self.index.revocations().select("doc_id"), "doc_id", "left_anti"
        )
