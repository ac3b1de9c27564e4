"""Incremental substring-span index maintenance (SURVEY.md §2.D24) —
C28's streaming twin, completing the incremental-index family
(D21 MinHash/labels, D22 curation, this module exact-substring spans).

The production problem: exact substring dedup (Lee et al. 2022) over a
GROWING corpus. A new document can retroactively change OLD documents'
verdicts — the first re-occurrence of a window makes every earlier
holder of that window duplicated — so unlike the MinHash index this is
not append-only in its OUTPUT, only in its STATE:

- persistent state between batches (parquet on disk):
    docs/        — (doc_id, n_tokens) ingested so far (append-only)
    windows/     — (doc_id, p, h) every SPAN_W-token window of every
                   ingested doc (append-only — the suffix-array
                   substitute; a doc is windowed exactly ONCE, ever)
    dup_hashes/  — (h) window hashes known to occur in ≥2 distinct
                   docs. MONOTONE: a hash once duplicated stays
                   duplicated (docs are only added), so this set is
                   append-only — the same monotonicity argument as
                   D21's revocation changelog.
    verdicts_vN/ — the per-doc verdict table (C28's output schema),
                   versioned snapshots, meta pointer flipped last
    flagged_log/ — append-only CHANGELOG (doc_id, flagged_batch_id):
                   docs that crossed the dup-fraction threshold. Also
                   monotone — dup coverage only grows — so a
                   downstream curated set applies these as deletions,
                   never re-inserts (the D21 revocation shape).

- per micro-batch:
    1. window the NEW docs only (anti-join on the docs store — a
       re-delivered doc is never re-windowed); append docs + windows.
    2. new dup hashes: of the hashes the batch touched, those whose
       distinct-doc count across the FULL window store reached 2 and
       which are not yet in dup_hashes. Derived from the STORE keyed
       by the batch's doc ids, so a crash between the windows append
       and the dup_hashes append reconciles on replay.
    3. affected docs = holders of any newly-duplicated hash (this is
       what makes the update RETROACTIVE: an old doc whose window
       just got its first partner is re-scored) ∪ the batch docs.
       Verdicts are recomputed for AFFECTED DOCS ONLY — their windows
       ⋈ dup_hashes, the same islands/coverage-union aggregation as
       the batch operator — and spliced over the previous snapshot.
    4. newly-flagged docs (previous verdict unflagged or absent) are
       appended to the changelog; meta (batch id + snapshot version)
       commits last, atomically.

Per-batch cost ∝ batch size + retroactively-affected docs, never the
corpus. Exactly-once across restarts: the shared batch-id watermark
(streaming/sink.py; the verdicts version rides in its state file).
What the sink adds: every store derivation is either anti-joined
against its own ledger or rebuilt idempotently from the stores, so a
half-applied batch replays clean (appends nothing, republishes an
identical snapshot).

Parity (tests/test_streaming_spans.py): after every batch, the
maintained verdict table equals the batch `dedup_substring_spans`
pipeline over everything ingested so far, under a round-robin
adversarial split; batch replay is a no-op.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from euclid_spark.cache import local_checkpoint_tracked
from euclid_spark.functions.text import shingles, words
from euclid_spark.operators.dedup import SPAN_DUP_FRAC, SPAN_W
from euclid_spark.streaming.sink import BatchSink

DOCS_SCHEMA = "doc_id long, n_tokens int"
WINDOWS_SCHEMA = "doc_id long, p int, h string"
DUP_SCHEMA = "h string"
VERDICTS_SCHEMA = (
    "doc_id long, n_tokens int, n_windows long, n_dup_windows long, "
    "dup_tokens long, dup_frac double, flagged boolean"
)
FLAGGED_SCHEMA = "doc_id long, flagged_batch_id long"


def doc_windows(docs: DataFrame) -> DataFrame:
    """(doc_id, p, h) sliding windows of a (doc_id, text) frame — the
    exact construction of the batch operator (dedup.py C28)."""
    ws = docs.select("doc_id", words("text").alias("ws"))
    return ws.select(
        "doc_id", F.posexplode(shingles(F.col("ws"), k=SPAN_W)).alias("p", "w")
    ).select("doc_id", F.col("p").cast("int"), F.md5("w").alias("h"))


def doc_sizes(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.size(words("text")).cast("int").alias("n_tokens")
    )


class IncrementalSpanIndex(BatchSink):
    """foreachBatch sink maintaining the substring-span verdict table
    (module docstring has the algorithm)."""

    STATE = ("verdicts_version",)
    verdicts_version = -1  # -1: no verdicts snapshot yet

    def __init__(self, spark: SparkSession, state_dir: str) -> None:
        super().__init__(spark, state_dir)
        self.docs_path = os.path.join(state_dir, "docs")
        self.windows_path = os.path.join(state_dir, "windows")
        self.dup_path = os.path.join(state_dir, "dup_hashes")
        self.flagged_path = os.path.join(state_dir, "flagged_log")

    def _verdicts_path(self, version: int) -> str:
        return os.path.join(self.state_dir, f"verdicts_v{version}")

    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_ids = batch_df.select("doc_id").distinct()
        doc_store = self._read_or_empty(self.docs_path, DOCS_SCHEMA)

        # 1. window NEW docs only (a doc is windowed once, ever)
        fresh = batch_df.join(doc_store.select("doc_id"), "doc_id", "left_anti")
        new_docs = local_checkpoint_tracked(doc_sizes(fresh))
        if not new_docs.isEmpty():
            doc_windows(fresh).write.mode("append").parquet(self.windows_path)
            new_docs.write.mode("append").parquet(self.docs_path)

        # Everything below derives from the STORES keyed by the batch's
        # doc ids, so a replayed/crashed batch reconciles idempotently.
        wins = self._read_or_empty(self.windows_path, WINDOWS_SCHEMA)
        dup_known = self._read_or_empty(self.dup_path, DUP_SCHEMA)

        # 2. hashes the batch touched whose corpus-wide distinct-doc
        # count reached 2, minus the already-known dup set
        batch_hashes = (
            wins.join(batch_ids, "doc_id", "left_semi").select("h").distinct()
        )
        new_dups = local_checkpoint_tracked(
            wins.join(batch_hashes, "h", "left_semi")
            .groupBy("h")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .filter(F.col("nd") >= 2)
            .select("h")
            .join(dup_known, "h", "left_anti")
        )
        if not new_dups.isEmpty():
            new_dups.write.mode("append").parquet(self.dup_path)

        # 3. retroactive re-score. Affected = holders of ANY dup hash
        # the batch touched (not just the newly-dup ones) ∪ the batch
        # docs: derived from the post-append dup STORE, so a crash
        # between the dup_hashes append and the snapshot publish cannot
        # lose the retroactive holders on replay (with `new_dups` they
        # would re-derive as empty — the crash-window hole). Re-scoring
        # an already-correct holder is the identity, so the wider set
        # only costs batch-proportional work.
        dup_all = self._read_or_empty(self.dup_path, DUP_SCHEMA)
        touched_dup = batch_hashes.join(dup_all, "h", "left_semi")
        affected = local_checkpoint_tracked(
            wins.join(touched_dup, "h", "left_semi")
            .select("doc_id")
            .distinct()
            .unionByName(batch_ids)
            .distinct()
        )
        prev = self.verdicts()
        if affected.isEmpty():
            return

        sizes = self._read_or_empty(self.docs_path, DOCS_SCHEMA).join(
            affected, "doc_id", "left_semi"
        )
        awins = wins.join(affected, "doc_id", "left_semi")
        dwin = awins.join(dup_all, "h", "left_semi").select("doc_id", "p").distinct()
        w_prev = (
            Window.partitionBy("doc_id")
            .orderBy("p")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_run = (
            Window.partitionBy("doc_id")
            .orderBy("p")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        isl = dwin.withColumn(
            "prev_max", F.max(F.col("p") + F.lit(SPAN_W - 1)).over(w_prev)
        ).withColumn(
            "island",
            F.sum(
                F.when(
                    F.col("prev_max").isNull() | (F.col("p") > F.col("prev_max")),
                    1,
                ).otherwise(0)
            ).over(w_run),
        )
        cov = (
            isl.groupBy("doc_id", "island")
            .agg((F.max("p") + F.lit(SPAN_W) - F.min("p")).alias("c"))
            .groupBy("doc_id")
            .agg(F.sum("c").cast("long").alias("dup_tokens"))
        )
        nwin = awins.groupBy("doc_id").agg(F.count("*").alias("n_windows"))
        ndup = dwin.groupBy("doc_id").agg(F.count("*").alias("n_dup_windows"))
        frac = F.coalesce(F.col("dup_tokens"), F.lit(0)) / F.col("n_tokens")
        rescored = local_checkpoint_tracked(
            sizes.join(nwin, "doc_id", "left")
            .join(ndup, "doc_id", "left")
            .join(cov, "doc_id", "left")
            .select(
                "doc_id",
                "n_tokens",
                F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
                F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
                F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
                F.round(frac, 4).alias("dup_frac"),
                (frac > F.lit(SPAN_DUP_FRAC)).alias("flagged"),
            )
        )

        merged = local_checkpoint_tracked(
            prev.join(rescored, "doc_id", "left_anti").unionByName(rescored)
        )
        merged.write.mode("overwrite").parquet(self._verdicts_path(batch_id))
        self.verdicts_version = batch_id

        # 4. changelog: docs that just crossed the threshold — monotone
        # (coverage only grows), anti-joined against the ledger itself
        newly_flagged = (
            rescored.filter("flagged")
            .select("doc_id")
            .join(
                self._read_or_empty(self.flagged_path, FLAGGED_SCHEMA).select(
                    "doc_id"
                ),
                "doc_id",
                "left_anti",
            )
            .withColumn("flagged_batch_id", F.lit(batch_id))
        )
        if not newly_flagged.isEmpty():
            newly_flagged.write.mode("append").parquet(self.flagged_path)

    def committed(self) -> None:
        """Drop verdict snapshots other than the committed one."""
        import shutil

        keep = os.path.basename(self._verdicts_path(self.verdicts_version))
        for name in os.listdir(self.state_dir):
            if name.startswith("verdicts_v") and name != keep:
                shutil.rmtree(os.path.join(self.state_dir, name), True)

    def verdicts(self) -> DataFrame:
        """Current per-doc verdict table (C28's schema) over everything
        ingested so far."""
        if self.verdicts_version >= 0:
            return self._read_or_empty(
                self._verdicts_path(self.verdicts_version), VERDICTS_SCHEMA
            )
        return self.spark.createDataFrame([], VERDICTS_SCHEMA)

    def flagged_log(self) -> DataFrame:
        """Append-only changelog of docs that crossed the dup-fraction
        threshold, with the batch that flagged them."""
        return self._read_or_empty(self.flagged_path, FLAGGED_SCHEMA)
