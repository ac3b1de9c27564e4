"""Incremental (streaming) MPT ingestion — SURVEY.md §2.D15.

The reference's block DB is IVC: each block's proof set is APPENDED and
the database commitment advances incrementally
(mr-plonky2-circuits/src/block/mod.rs); nothing is recomputed from
genesis. The batch path here (operators/mpt_ingest.py) reassembles
tries from a complete node set; this module is the append analog: trie
nodes arrive in micro-batches, IN ANY ORDER, and entries are emitted as
soon as their root→leaf path is complete.

Algorithm (incremental level-synchronous walk):

- persistent state between batches, all parquet on disk:
    nodes/batch_id=<b>/   — decoded typed nodes batch b ingested
                            ((owner, node_hash) unique across batches)
    frontier_v<b>/        — pending cursors (owner, node_hash, prefix)
                            after batch b: tree positions whose node
                            bytes have NOT arrived yet (one snapshot per
                            batch; the committed one is read)
    entries/batch_id=<b>/ — resolved (owner, token_id, value_hex)
- per micro-batch: decode the new nodes, merge them into the store,
  seed new roots as cursors, then walk: a cursor that finds its node
  either emits (leaf / valued branch) or expands into child cursors;
  a cursor whose node is still missing parks in the frontier snapshot
  and is retried next batch. The walk is the shared multi-level-batched
  engine (operators/mpt_ingest.walk_tries, park_missing mode) — a
  newly-arrived node can unblock a whole subtree at once.

Equivalences that make this correct under reordering: node rows are
content-addressed ((owner, node_hash) keys), so arrival order is
irrelevant; a cursor is created exactly once (when its parent resolves,
or at root arrival) and consumed exactly once (when its node is
present); hence every complete path emits exactly once, and after all
nodes have arrived the entries store equals the batch
`mpt_reassemble` output (tests/test_streaming_mpt.py proves this on a
shuffled 1-node-per-trigger feed).

Exactly-once across restarts is the shared batch-id watermark
(streaming/sink.py), committed after the batch's stores are updated.
What the sink adds:

- a batch is redone from scratch: it writes only under its own batch
  id and removes those directories first, reads the pre-batch node
  store as the ids below its own and the frontier from the committed
  batch's snapshot, so a crash anywhere inside `apply` replays cleanly;
- the root ledger: new nodes anti-join the pre-batch node store, and a
  root seeds its walk cursor only on first arrival (the pre-batch node
  store is the ledger), so a node or root re-sent under a NEW batch id
  appends nothing.

Scale shape: per batch, cost is (new nodes decoded) + (frontier ⋈
node-store joins, shuffle-partitioned on (owner, node_hash)) — the
frontier is bounded by the arrival gap (cursors waiting on missing
nodes), NOT the corpus; the node store is the only corpus-sized side
and it arrives pre-partitioned on the join key. Walk state is
checkpointed once per multi-level round (walk_tries) — lineage would
otherwise nest per trie level (operators/components.py failure mode)."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from euclid_spark.cache import local_checkpoint_tracked
from euclid_spark.operators.mpt_ingest import (
    NODE_SCHEMA,
    decode_mpt_nodes,
    walk_tries,
    _nibbles_to_hex,
)
from euclid_spark.streaming.sink import BatchSink

FRONTIER_SCHEMA = "owner long, node_hash string, prefix array<int>"
ENTRIES_SCHEMA = "owner long, token_id long, value_hex string"
STORE_SCHEMA = (
    "owner long, node_hash string, node_type string, path array<int>, "
    "value binary, children array<struct<idx:int, child:string>>"
)


class IncrementalMptReassembly(BatchSink):
    """foreachBatch sink: raw trie-node micro-batches → incrementally
    reassembled mapping entries (module docstring has the algorithm)."""

    def __init__(self, spark: SparkSession, state_dir: str) -> None:
        super().__init__(spark, state_dir)
        self.nodes_path = os.path.join(state_dir, "nodes")
        self.entries_path = os.path.join(state_dir, "entries")

    def _frontier_path(self, batch_id: int) -> str:
        return os.path.join(self.state_dir, f"frontier_v{batch_id}")

    @staticmethod
    def _batch_dir(path: str, batch_id: int) -> str:
        return os.path.join(path, f"batch_id={batch_id}")

    def _below(self, path: str, schema: str, batch_id: int) -> DataFrame:
        """The rows batches before `batch_id` wrote under `path`'s
        per-batch directories."""
        return (
            self._read_or_empty(path, f"{schema}, batch_id long")
            .filter(F.col("batch_id") < batch_id)
            .drop("batch_id")
        )

    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        # a replay of a half-applied batch redoes it from scratch: drop
        # whatever an earlier attempt of this id wrote
        for d in (
            self._batch_dir(self.nodes_path, batch_id),
            self._batch_dir(self.entries_path, batch_id),
            self._frontier_path(batch_id),
        ):
            shutil.rmtree(d, ignore_errors=True)
        # this batch's pins (new decoded nodes, the walk's node store
        # and round frontiers, emit frames) are all flushed to parquet
        # by the end; the base frees them when apply returns
        store_existing = self._below(self.nodes_path, STORE_SCHEMA, batch_id)
        # content-addressed upsert: a node re-sent in a later batch (or a
        # replayed file) must not duplicate its (owner, node_hash) row —
        # the walk joins would fan out duplicate entries
        dec_new = (
            decode_mpt_nodes(batch_df)
            .join(
                store_existing.select("owner", "node_hash"),
                ["owner", "node_hash"],
                "left_anti",
            )
        )
        dec_new = local_checkpoint_tracked(dec_new)
        if not dec_new.isEmpty():
            dec_new.write.parquet(self._batch_dir(self.nodes_path, batch_id))
        # re-read so this batch's nodes are visible to the walk
        store = self._below(self.nodes_path, STORE_SCHEMA, batch_id + 1)

        # A root seeds a walk cursor only on FIRST arrival: a root node
        # re-sent in a later micro-batch (or a replayed file) is already
        # in the node store, and re-seeding its cursor would walk the
        # whole stored subtree again and append duplicate entries.
        # Anti-joining against the PRE-batch store is the ledger — the
        # root's bytes can only ever have been ingested root-tagged
        # (an MPT root is never any node's child), so presence in the
        # store means its cursor was already seeded.
        new_roots = (
            batch_df.filter("is_root")
            .select(
                "owner",
                "node_hash",
                F.expr("CAST(array() AS array<int>)").alias("prefix"),
            )
            .join(
                store_existing.select("owner", "node_hash"),
                ["owner", "node_hash"],
                "left_anti",
            )
        )
        active = local_checkpoint_tracked(
            self.pending()
            .unionByName(new_roots)
            .dropDuplicates(["owner", "node_hash", "prefix"])
        )

        # the walk itself is the shared multi-level-batched engine
        # (operators/mpt_ingest.walk_tries): park_missing returns cursors
        # whose node has not arrived yet — the next batch's frontier.
        out, frontier = walk_tries(store, active, park_missing=True)
        ent = out.select(
            "owner",
            F.conv(_nibbles_to_hex(F.col("key_nibbles")), 16, 10)
            .cast("long")
            .alias("token_id"),
            F.lower(F.hex("value")).alias("value_hex"),
        )
        ent = local_checkpoint_tracked(ent)
        if not ent.isEmpty():
            ent.write.parquet(self._batch_dir(self.entries_path, batch_id))
        # a new snapshot, never an overwrite: the committed one stays
        # readable until the watermark moves past it
        frontier.write.parquet(self._frontier_path(batch_id))

    def committed(self) -> None:
        """Drop frontier snapshots other than the committed one."""
        keep = os.path.basename(self._frontier_path(self.last_batch_id))
        for name in os.listdir(self.state_dir):
            if name.startswith("frontier_v") and name != keep:
                shutil.rmtree(os.path.join(self.state_dir, name), True)

    def entries(self) -> DataFrame:
        return self._below(self.entries_path, ENTRIES_SCHEMA, self.last_batch_id + 1)

    def pending(self) -> DataFrame:
        return self._read_or_empty(
            self._frontier_path(self.last_batch_id), FRONTIER_SCHEMA
        )
