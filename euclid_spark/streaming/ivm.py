"""Incremental view maintenance (SURVEY.md §2.D19): a materialized
aggregate kept current per micro-batch by ADDITIVE MERGE, never by
recomputation.

This is the engine-level shape of the reference's whole design: its
block DB is IVC — proof_{n+1} = step(proof_n, block_{n+1}) — so every
commitment over "all data so far" is maintained incrementally
(mr-plonky2-circuits/src/block/mod.rs). The relational analog is a
standing GROUP BY whose aggregates form a commutative monoid
(count/sum — and the order-independent digest, same as A9's chain):

    view' = merge_by_key(view, partial_agg(batch))

Scale design (what makes this 100 TB-shaped):

- The view is stored partitioned by its `day` grouping key. A batch
  touches only the days its rows fall in, so the merge reads ONLY those
  partitions (partition pruning) and rewrites ONLY those partitions
  (`partitionOverwriteMode=dynamic`, set as a WRITER option so no
  session conf is mutated). Steady-state cost per batch is
  O(batch + touched-day partitions), independent of view size.
- Partials are map-side-combinable aggregates of the batch alone;
  the merge re-aggregates (old ∪ partial) with the same monoid — no
  window, no global shuffle wider than the touched keys.
- Exactly-once across restarts (ADVICE r4): the batch-id watermark
  and its state file are the shared sink's (streaming/sink.py), but
  here they are a fast path only. The applied-batch watermark that
  correctness rests on lives IN the view rows — every row of a day
  partition carries the `applied_batch_id` that last rewrote that
  partition, committed atomically with the data because it IS the
  data. A replayed batch (after any crash point, including mid-write
  across day partitions — dynamic partition overwrite is atomic per day
  directory but not across them) re-merges ONLY the days whose
  partition watermark is still behind the batch id; days already
  carrying the batch are skipped.

The maintained view equals the batch aggregate over everything
ingested (tests/test_streaming_ivm.py proves it per batch count and
against a replay)."""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from euclid_spark.cache import local_checkpoint_tracked
from euclid_spark.functions.hashing import DIGEST_PRIME, digest_agg, digest_term
from euclid_spark.streaming.sink import BatchSink

# The maintained query: per (user, day) event count, value total, and
# order-independent digest — the state-DB row shape of A7/A9.
VIEW_KEYS = ["user_id", "day"]


def _partial(events: DataFrame) -> DataFrame:
    """Monoid partials for one micro-batch (or for the whole table —
    the same expression defines the batch oracle). Value sums are
    DECIMAL: decimal addition is exact, so any merge tree and the
    one-pass batch aggregate agree bit-for-bit (a double sum could
    drift at a round-off boundary depending on merge order)."""
    term = digest_term(F.col("event_id").cast("long"), F.col("user_id").cast("long"))
    return (
        events.withColumn("day", F.to_date("ts"))
        .groupBy(*VIEW_KEYS)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .alias("total_value"),
            digest_agg(term).alias("digest"),
        )
    )


def _merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    """merge_by_key: re-aggregate the union with the same monoid.
    count/sum add; the mod-P digest adds mod P."""
    return (
        old.unionByName(partial)
        .groupBy(*VIEW_KEYS)
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value").cast("decimal(18,6)").alias("total_value"),
            (F.sum("digest") % F.lit(DIGEST_PRIME)).alias("digest"),
        )
    )


@dataclass
class MaintainedAggregate(BatchSink):
    """foreachBatch sink maintaining the day-partitioned view at
    `view_path`. `state_path` persists the batch-id watermark (the
    fast path; the per-partition one is in the rows).

    `partial_fn` / `merge_fn` define the maintained query: any pair
    where merge_fn(partial(A), partial(B)) == partial(A ∪ B) — i.e. the
    aggregates form a commutative monoid — maintains correctly. The
    defaults are the count/sum/digest view; `_rollup_partial` /
    `_rollup_merge` are the A7 last-value (argmax-by-event-id) pair."""

    view_path: str
    state_path: str | None = None
    last_batch_id: int = -1
    partial_fn: "Callable[[DataFrame], DataFrame] | None" = None
    merge_fn: "Callable[[DataFrame, DataFrame], DataFrame] | None" = None
    # the view's partition column — the unit of touched-partition
    # pruning, dynamic overwrite, and the per-partition applied-batch
    # watermark. "day" for the time-keyed views; the IVF face
    # partitions by centroid id (a batch touches only the inverted
    # lists its vectors land in — same economics, different key).
    key_col: str = "day"

    def __post_init__(self) -> None:
        self._load()

    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            # an empty micro-batch merges nothing — and MUST NOT write:
            # a zero-row dynamic-partition overwrite creates a
            # partition-less view directory whose later read fails
            # schema inference (found by the empty-corpus net)
            return
        spark = batch_df.sparkSession
        partial = (self.partial_fn or _partial)(batch_df)

        if os.path.exists(self.view_path):
            # read ONLY the partitions this batch touches: collect the
            # touched day list (small — days per batch, not rows) and
            # prune with an IN filter on the partition column. The
            # partial is pinned first so the day list and the merged
            # rows come from ONE evaluation of the batch frame.
            partial = local_checkpoint_tracked(partial)
            kc = self.key_col
            days = [r[kc] for r in partial.select(kc).distinct().collect()]
            view = spark.read.parquet(self.view_path).filter(F.col(kc).isin(days))
            if "applied_batch_id" not in view.columns:  # pre-watermark view
                view = view.withColumn("applied_batch_id", F.lit(-1))
            # per-day applied watermark (the exactly-once gate): a crash
            # between the partition write and the state save leaves some days
            # already carrying this batch_id — on replay those days are
            # skipped, the rest are merged. One tiny aggregate over the
            # touched days only.
            applied = {
                r[kc]: r["mx"]
                for r in view.groupBy(kc)
                .agg(F.max("applied_batch_id").alias("mx"))
                .collect()
            }
            todo = [d for d in days if applied.get(d, -1) < batch_id]
            if not todo:
                return
            old = view.filter(F.col(kc).isin(todo)).drop("applied_batch_id")
            merged = (self.merge_fn or _merge)(
                old, partial.filter(F.col(kc).isin(todo))
            )
        else:
            merged = partial

        # stamp the watermark INTO the rows: it commits atomically with
        # the data of each day partition (it is the data)
        merged = merged.withColumn("applied_batch_id", F.lit(batch_id))

        # pin the merge result BEFORE the write: the plan reads the very
        # parquet directory the write below replaces (self-overwrite)
        merged = local_checkpoint_tracked(merged)

        # dynamic partition overwrite: only the day= directories present
        # in `merged` are replaced; untouched days are left as-is.
        # Writer-level option — the session conf is NOT mutated.
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(self.key_col)
            .parquet(self.view_path)
        )

    def view(self, spark: SparkSession) -> DataFrame:
        """The maintained view WITHOUT the applied_batch_id bookkeeping
        column — what consumers (and the batch-parity tests) read."""
        return spark.read.parquet(self.view_path).drop("applied_batch_id")


def _rollup_partial(events: DataFrame) -> DataFrame:
    """A7 state-rollup partials: latest value per (user, day). The
    argmax state IS a monoid — merging two states keeps the one with
    the larger order key — so the reference's per-block account-state
    DB (state/lpn/) maintains incrementally exactly like a sum.
    NULL semantics match the batch A7 (a NULL write does not overwrite
    state): the argmax runs over NON-NULL values only, so the state
    carries the non-null selection's OWN key (`last_nn_id`) beside the
    overall max block — merging on last_event_id would resurrect the
    skipped NULL rows. Spelled as two max_by over one NULLed-out
    ordering (the A7 r12 form: both aggregates select the same row —
    the max non-null ordering — and primitive agg buffers keep the
    aggregate hash-based instead of a struct-buffer SortAggregate)."""
    ordr = F.when(F.col("value").isNotNull(), F.col("event_id"))
    return (
        events.withColumn("day", F.to_date("ts"))
        .groupBy(*VIEW_KEYS)
        .agg(
            F.max_by("value", ordr).alias("last_value"),
            F.max_by("event_id", ordr).alias("last_nn_id"),
            F.max("event_id").alias("last_event_id"),
            F.count("*").alias("n_events"),
        )
    )


def _rollup_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    ordr = F.when(F.col("last_value").isNotNull(), F.col("last_nn_id"))
    return (
        old.unionByName(partial)
        .groupBy(*VIEW_KEYS)
        .agg(
            F.max_by("last_value", ordr).alias("last_value"),
            F.max_by("last_nn_id", ordr).alias("last_nn_id"),
            F.max("last_event_id").alias("last_event_id"),
            F.sum("n_events").alias("n_events"),
        )
    )


def rollup_batch_oracle(spark: SparkSession, src_dir: str) -> DataFrame:
    """The A7 aggregate computed from scratch over every ingested file."""
    from euclid_spark.streaming.block_db import EVENTS_NS_SCHEMA

    ev = spark.read.schema(EVENTS_NS_SCHEMA).parquet(src_dir)
    return _rollup_partial(ev.withColumn("ts", F.col("ts").cast("timestamp")))


def batch_oracle(spark: SparkSession, src_dir: str) -> DataFrame:
    """The same aggregate computed from scratch over every ingested file
    — what the maintained view must equal at any quiescent point."""
    from euclid_spark.streaming.block_db import EVENTS_NS_SCHEMA

    ev = spark.read.schema(EVENTS_NS_SCHEMA).parquet(src_dir)
    return _partial(ev.withColumn("ts", F.col("ts").cast("timestamp")))
