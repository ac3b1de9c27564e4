"""Incremental dedup-index maintenance (SURVEY.md §2.D21).

The production problem: a training-data pipeline ingests documents
continuously, and every NEW document must be checked for near-duplicates
against the ENTIRE historical corpus — without recomputing the corpus's
signatures per batch. This is the dedup analog of the reference's IVC
block DB (block/mod.rs: append, never recompute), applied to C2's
MinHash/LSH index:

- persistent state between batches (parquet on disk):
    sigs/     — per-doc MinHash signatures ingested so far (append-only;
                (doc_id) unique — the INDEX, the expensive part)
    pairs/    — candidate near-dup pairs found so far (append-only)
    labels_vN — the component labeling (doc_id, component) maintained
                per batch (versioned snapshots; meta.json points at the
                current one) — the incrementally-maintained KEEP-LIST
    revoked/  — append-only CHANGELOG of keep-list revocations: a doc
                that loses canonical status (a later batch merges its
                cluster with a lower-id doc) is recorded once, with the
                batch id that revoked it. Revocation is MONOTONE — the
                min-label of a component can only decrease, so a
                non-canonical doc can never become canonical again —
                which is what makes the changelog append-only: a
                downstream curated set applies deletions, never
                re-inserts (the CDC shape of operators/cdc.py)
- per micro-batch: signatures are computed for the BATCH ONLY
  (shingle → md5 → k MIN aggs over the new docs alone), appended to the
  store, and new candidate pairs come from ONE bucket join:
  batch bands ⋈ (store ∪ batch) bands — every pair with at least one
  new side. Old×old pairs were found when their younger member arrived
  (induction), so the union of per-batch pair sets equals the batch
  LSH pair set over the full corpus
  (tests/test_streaming_dedup.py proves equality on a 3-way split and
  idempotence under batch replay).

Skew guard: the MAX_BUCKET cap applies to the CURRENT bucket size at
join time (count over store ∪ batch), so a bucket that grows past the
cap stops emitting new pairs from then on — at-most the batch semantics
(batch mode drops the whole oversized bucket retroactively). The
equality test runs under-cap; the guard's purpose is identical in both
modes: no m² blowup from a degenerate bucket.

Incremental component labels (the keep-list, maintained): after the
batch's pairs land, only the AFFECTED components are relabeled — the
batch's candidate pairs name the touched docs; their current components
name the affected docs; the subgraph {batch pairs} ∪ {doc—component
star edges of affected docs} is run through the same pointer-doubling
loop as the batch operator. Star edges preserve reachability (each old
component collapses to its min-doc hub, which is itself a member doc),
so the merged labeling equals a from-scratch components run over the
full pair ledger — asserted per batch in tests/test_streaming_dedup.py.
Per-batch cost ∝ touched components, not corpus.

Exactly-once across restarts: the shared batch-id watermark
(streaming/sink.py; the labels version rides in its state file),
committed after the batch's stores are updated. Re-delivered docs
are anti-joined against the signature store, so even
a partially-applied crash window cannot double-insert a signature or
re-emit its pairs. The candidate join and label merge run UNCONDITIONALLY
for a replayed batch (batch signatures are re-read from the store): both
are idempotent — re-found pairs anti-join away, re-merging already-merged
components is the identity — so a crash anywhere between the sigs append
and the meta commit reconciles on replay. Labels are versioned snapshot
dirs with the meta pointer flipped last; a crash before the flip leaves
the old consistent snapshot live and the replay rebuilds the new one.

Scale shape: per batch, signature cost ∝ batch size (the corpus is
never re-shingled); the candidate join is bucket-equi on
(band_idx, band_val) with the batch side small — a classic
small-probe ⋈ big-store join AQE plans as broadcast when the batch is
tiny. The pair anti-join keys on (doc_a, doc_b) — the same shuffle key
the join just produced."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from euclid_spark.cache import local_checkpoint_tracked
from euclid_spark.operators.dedup import (
    MAX_BUCKET,
    N_HASHES,
    band_table,
    minhash_signatures,
)
from euclid_spark.streaming.sink import BatchSink

SIGS_SCHEMA = "doc_id long, " + ", ".join(f"sig{s} string" for s in range(N_HASHES))
PAIRS_SCHEMA = "doc_a long, doc_b long"
LABELS_SCHEMA = "doc_id long, component long"
REVOKED_SCHEMA = "doc_id long, component long, revoked_batch_id long"
DOCS_SCHEMA = "doc_id long, text string"


class IncrementalDedupIndex(BatchSink):
    """foreachBatch sink maintaining the MinHash/LSH index and the
    candidate-pair ledger (module docstring has the algorithm)."""

    STATE = ("labels_version",)
    labels_version = -1  # -1: no labels snapshot yet

    def __init__(self, spark: SparkSession, state_dir: str) -> None:
        super().__init__(spark, state_dir)
        self.sigs_path = os.path.join(state_dir, "sigs")
        self.pairs_path = os.path.join(state_dir, "pairs")
        self.revoked_path = os.path.join(state_dir, "revoked")

    def _labels_path(self, version: int) -> str:
        return os.path.join(self.state_dir, f"labels_v{version}")

    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        store = self._read_or_empty(self.sigs_path, SIGS_SCHEMA)

        # signatures for the batch only; re-delivered docs (replayed
        # file, crash window) are already indexed — never re-shingled
        batch_ids = batch_df.select("doc_id").distinct()
        new_sigs = local_checkpoint_tracked(
            minhash_signatures(batch_df).join(
                store.select("doc_id"), "doc_id", "left_anti"
            )
        )
        if not new_sigs.isEmpty():
            new_sigs.write.mode("append").parquet(self.sigs_path)

        # Everything below derives from the STORE, so a replayed batch
        # (new_sigs empty) still re-runs the candidate join and label
        # merge — both idempotent — closing the crash window between the
        # pairs append and the labels/meta commit.
        from pyspark.sql import Window

        full = self._read_or_empty(self.sigs_path, SIGS_SCHEMA)
        batch_sigs = full.join(batch_ids, "doc_id", "left_semi")
        if batch_sigs.isEmpty():  # empty micro-batch
            return

        # ONE bucket join: batch bands probe the full index. The
        # bucket-size guard counts the CURRENT bucket population — same
        # window-over-join-key shape as the batch operator.
        all_bands = band_table(full)
        wb = Window.partitionBy("band_idx", "band_val")
        all_bands = all_bands.withColumn("bucket_n", F.count("*").over(wb)).filter(
            F.col("bucket_n") <= MAX_BUCKET
        )
        new_bands = band_table(batch_sigs)
        cand = local_checkpoint_tracked(
            new_bands.alias("n")
            .join(
                all_bands.alias("a"),
                (F.col("n.band_idx") == F.col("a.band_idx"))
                & (F.col("n.band_val") == F.col("a.band_val"))
                & (F.col("n.doc_id") != F.col("a.doc_id")),
            )
            .select(
                F.least(F.col("n.doc_id"), F.col("a.doc_id")).alias("doc_a"),
                F.greatest(F.col("n.doc_id"), F.col("a.doc_id")).alias("doc_b"),
            )
            .distinct()
        )
        # a pair can re-collide in a later batch through another band —
        # the ledger keeps each pair once
        new_pairs = cand.join(
            self._read_or_empty(self.pairs_path, PAIRS_SCHEMA),
            ["doc_a", "doc_b"],
            "left_anti",
        )
        if not new_pairs.isEmpty():
            new_pairs.write.mode("append").parquet(self.pairs_path)

        self._merge_labels(cand, batch_id)

    def _merge_labels(self, cand: DataFrame, batch_id: int) -> None:
        """Relabel ONLY the components touched by this batch's candidate
        pairs (module docstring): subgraph = cand ∪ star edges
        (member—hub) of every affected component, relabeled with the
        same pointer-doubling loop as the batch operator, then spliced
        over the untouched rows. Published as a NEW snapshot dir; the
        meta pointer (written after) flips readers atomically."""
        from euclid_spark.operators.components import connected_components

        if cand.isEmpty():
            return  # no new evidence — current snapshot stays live
        labels = self.labels()
        touched = (
            cand.selectExpr("doc_a AS doc_id")
            .unionByName(cand.selectExpr("doc_b AS doc_id"))
            .distinct()
        )
        touched_comps = (
            labels.join(touched, "doc_id", "left_semi")
            .select("component")
            .distinct()
        )
        affected = labels.join(touched_comps, "component", "left_semi")
        star = affected.filter(F.col("doc_id") != F.col("component")).selectExpr(
            "doc_id AS doc_a", "component AS doc_b"
        )
        sub = connected_components(cand.unionByName(star))
        merged = local_checkpoint_tracked(
            labels.join(sub, "doc_id", "left_anti").unionByName(sub)
        )
        merged.write.mode("overwrite").parquet(self._labels_path(batch_id))
        self.labels_version = batch_id

        # changelog: docs that just lost canonical status. Anti-joined
        # against the LEDGER (not the previous snapshot), so a replayed
        # batch re-deriving the same labeling appends nothing.
        dropped = merged.filter(F.col("doc_id") != F.col("component"))
        new_revoked = dropped.join(
            self._read_or_empty(self.revoked_path, REVOKED_SCHEMA).select(
                "doc_id"
            ),
            "doc_id",
            "left_anti",
        ).withColumn("revoked_batch_id", F.lit(batch_id))
        if not new_revoked.isEmpty():
            new_revoked.write.mode("append").parquet(self.revoked_path)

    def committed(self) -> None:
        """Drop snapshot dirs other than the committed one (meta already
        points at `labels_version`, so stale dirs have no readers)."""
        import shutil

        keep = os.path.basename(self._labels_path(self.labels_version))
        for name in os.listdir(self.state_dir):
            if name.startswith("labels_v") and name != keep:
                shutil.rmtree(os.path.join(self.state_dir, name), True)

    def pairs(self) -> DataFrame:
        return self._read_or_empty(self.pairs_path, PAIRS_SCHEMA)

    def signatures(self) -> DataFrame:
        return self._read_or_empty(self.sigs_path, SIGS_SCHEMA)

    def labels(self) -> DataFrame:
        """Current component labeling (doc_id, component) — docs in no
        near-dup pair are absent, matching the batch operator (C14)."""
        if self.labels_version >= 0:
            return self._read_or_empty(
                self._labels_path(self.labels_version), LABELS_SCHEMA
            )
        return self.spark.createDataFrame([], LABELS_SCHEMA)

    def keep_list(self, corpus: DataFrame) -> DataFrame:
        """The maintained production deliverable (C16's streaming twin):
        `corpus` (any frame with doc_id) minus non-canonical members of
        the current labeling."""
        drop = self.labels().filter(
            F.col("doc_id") != F.col("component")
        ).select("doc_id")
        return corpus.select("doc_id").join(drop, "doc_id", "left_anti")

    def revocations(self) -> DataFrame:
        """The keep-list CHANGELOG: every doc that ever lost canonical
        status, once, with the revoking batch id (append-only — see
        module docstring on monotonicity). A downstream curated set
        applies these as deletions; replaying the full ledger against
        the corpus reproduces keep_list exactly."""
        return self._read_or_empty(self.revoked_path, REVOKED_SCHEMA)
