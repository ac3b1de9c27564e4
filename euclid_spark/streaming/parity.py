"""Batch ≡ incremental parity harness (SURVEY.md §2.D20, VERDICT r4 #2).

The reference's IVC construction makes "incremental result ==
recomputed-from-scratch result" true BY PROOF: appending block n+1 to
the block DB carries a proof that the new commitment extends the old one
(mr-plonky2-circuits/src/block/mod.rs), so the maintained structure can
never drift from what a full recomputation would produce. An analytics
engine cannot prove that, but it can TEST it systematically — this
module is that harness.

For any maintained aggregate declared as a monoid.Monoid (or as a
range_tree.TileTree, which carries the same surface: the (partial,
merge) pair, the view's key column and an optional finalize),
`run_parity`:

  1. splits an event corpus into n ingest files (optionally TIME-SHUFFLED
     — the adversarial case: later batches carry earlier timestamps and
     event ids, so merges must be genuinely order-independent);
  2. lands one file per quiescent point and drives the maintained view
     forward with an availableNow stream run — each point RESTARTS the
     stream from its checkpoint, so recovery is exercised at every step,
     not just once;
  3. at every quiescent point recomputes the same aggregate FROM SCRATCH
     over everything ingested so far and asserts the maintained view
     equals it (after an optional `finalize` transform on both sides —
     e.g. folding per-day digests into the A9 running chain).

A ParityResult per point records row counts and equality; any mismatch
carries the differing frames for diagnosis.

`SPECS` is the list of declarations under test, keyed by name. Each
monoid is declared once, next to what reads it: the sketch day tiles
beside their range readers (cms_range, quantile_sketch, distinct_sketch)
and the drift monitor (drift), the A9 day digest beside block_db_chain
(euclid), the tile trees in range_tree. The parity-only monoids and the
ones only a stream face reads are declared here;
tests/test_batch_incremental_parity.py runs every entry under both
ordered and shuffled splits.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from euclid_spark.monoid import Monoid
from euclid_spark.operators.cms_range import CMS_DAY_TILES
from euclid_spark.operators.distinct_sketch import LC_DAY_TILES
from euclid_spark.operators.drift import DRIFT_TILES
from euclid_spark.operators.euclid import DAY_DIGEST
from euclid_spark.operators.merkle import merkle_levels_local
from euclid_spark.operators.quantile_sketch import HDR_DAY_TILES
from euclid_spark.operators.range_response import erc20_entry_hex, erc20_leaf_hash
from euclid_spark.operators.range_tree import (
    ERC20_REWARD_TREE,
    Q2_KEY_TREE,
    RANGE_TREE,
    _cell,
    _q2_entries,
    stream_chunk,
)
from euclid_spark.streaming.block_db import EVENTS_NS_SCHEMA, read_event_stream
from euclid_spark.streaming.ivm import (
    MaintainedAggregate,
    _merge,
    _partial,
    _rollup_merge,
    _rollup_partial,
)
from euclid_spark.streaming.sink import drain


@dataclass
class ParityResult:
    point: int
    n_rows: int
    matched: bool
    view: pd.DataFrame = field(repr=False, default=None)
    batch: pd.DataFrame = field(repr=False, default=None)


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: stringify objects/dates, round
    floats, sort columns then rows — the crosscheck gate's compare."""
    out = pdf.copy()
    for c in out.columns:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(6)
        elif not pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype(str)
    out = out.reindex(sorted(out.columns), axis=1)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def run_parity(
    spark: SparkSession,
    events_pdf: pd.DataFrame,
    spec: Monoid,
    workdir: str,
    n_splits: int = 3,
    shuffle_seed: int | None = None,
) -> list[ParityResult]:
    """Drive `spec` through n_splits quiescent points; return a
    ParityResult per point. The stream is restarted from its checkpoint
    at every point (recovery exercised each step)."""
    src = os.path.join(workdir, "src")
    view = os.path.join(workdir, "view")
    ck = os.path.join(workdir, "ck")
    os.makedirs(src, exist_ok=True)

    pdf = events_pdf.copy()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark's µs NTZ reader
    if shuffle_seed is not None:
        pdf = pdf.sample(frac=1.0, random_state=shuffle_seed).reset_index(drop=True)
    bounds = [round(i * len(pdf) / n_splits) for i in range(n_splits + 1)]

    results: list[ParityResult] = []
    for point in range(n_splits):
        pdf.iloc[bounds[point] : bounds[point + 1]].to_parquet(
            os.path.join(src, f"split_{point}.parquet"), index=False
        )
        # fresh sink per point = a restart: watermark + checkpoint reload
        sink = MaintainedAggregate(
            view_path=view,
            state_path=os.path.join(ck, "ivm_state.json"),
            partial_fn=spec.partial,
            merge_fn=spec.merge,
            key_col=spec.key_col,
        )
        # never compare a stream still running: one batch per file so far
        drain(sink.start(read_event_stream(spark, src), ck), point + 1, sink)

        # from-scratch recompute over everything ingested so far
        all_ev = (
            spark.read.schema(EVENTS_NS_SCHEMA)
            .parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        # finalize runs on the RAW frames (it may need typed columns —
        # e.g. the merkle spec folds an array<string> leaf set that
        # canonicalization would stringify), then both sides canonicalize
        batch_pd = spec.partial(all_ev).toPandas()
        view_pd = sink.view(spark).toPandas()
        if spec.finalize is not None:
            batch_pd = spec.finalize(batch_pd)
            view_pd = spec.finalize(view_pd)
        batch_pd = _canon(batch_pd)
        view_pd = _canon(view_pd)
        results.append(
            ParityResult(
                point=point,
                n_rows=len(view_pd),
                matched=view_pd.equals(batch_pd),
                view=view_pd,
                batch=batch_pd,
            )
        )
    return results


# --- A2's distinct-key sets as a maintained aggregate ------------------------

def _keys_partial(events: DataFrame) -> DataFrame:
    """Query2's per-(owner, day) DISTINCT mapping-key set (the set-union
    monoid the reference aggregates up its query tree) as a maintained
    view: sorted array of distinct token ids."""
    tok = F.get_json_object("props", "$.k").cast("long")
    return (
        events.withColumn("day", F.to_date("ts"))
        .withColumn("token_id", tok)
        .filter(F.col("token_id").isNotNull())
        .groupBy("user_id", "day")
        .agg(F.array_sort(F.collect_set("token_id")).alias("token_ids"))
    )


def _keys_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("user_id", "day")
        .agg(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("token_ids")))
            ).alias("token_ids")
        )
    )


# --- A8's range bounds as a maintained aggregate -----------------------------

def _bounds_partial(events: DataFrame) -> DataFrame:
    """Block-DB metadata (first/last block, value bounds) per (owner,
    day) — the min/max LATTICE monoid, a non-additive merge family."""
    return (
        events.withColumn("day", F.to_date("ts"))
        .groupBy("user_id", "day")
        .agg(
            F.min("event_id").alias("first_block"),
            F.max("event_id").alias("last_block"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


def _bounds_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("user_id", "day")
        .agg(
            F.min("first_block").alias("first_block"),
            F.max("last_block").alias("last_block"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


# --- A18's per-day Merkle root as a maintained commitment --------------------

def _merkle_partial(events: DataFrame) -> DataFrame:
    """Per-day SORTED leaf-hash set — the maintained part is the leaf
    set (a set-union monoid); the tree itself is derived in finalize.
    This is exactly how operators/merkle.py commits a table: canonical
    order ⇒ deterministic tree, so leaf-set equality ⇒ root equality —
    asserting it end-to-end is the merkle analog of the chain digest."""
    leaf = F.sha2(
        F.concat_ws(
            ":",
            F.col("event_id").cast("string"),
            F.col("user_id").cast("string"),
        ),
        256,
    )
    return (
        events.withColumn("day", F.to_date("ts"))
        .groupBy("day")
        .agg(F.array_sort(F.collect_set(leaf)).alias("leaf_hashes"))
    )


def _merkle_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("day")
        .agg(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("leaf_hashes")))
            ).alias("leaf_hashes")
        )
    )


def _merkle_finalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Fold each day's sorted leaf set to its Merkle root with
    operators/merkle.py's own driver-side fold (`merkle_levels_local`;
    an empty day's root is ""). Day-level frame — the fold is
    driver-side orchestration over ≤ a few thousand hashes per day."""

    def root(hs: "list[str]") -> str:
        nodes, depth = merkle_levels_local(list(hs))
        return nodes.get((depth, 0), "")

    out = pdf.copy()
    out["merkle_root"] = out["leaf_hashes"].apply(lambda v: root(list(v)))
    out["n_leaves"] = out["leaf_hashes"].apply(len)
    return out.drop(columns=["leaf_hashes"])


# --- A13's ERC-20 u256 reward view as a maintained aggregate -----------------

def _erc20_partial(events: DataFrame) -> DataFrame:
    """A13's ERC-20 reward view as a streaming monoid: the tile tree's
    leaf (range_tree.ERC20_REWARD_TREE — limb-wise DECIMAL(38) sums of
    the leaf circuit, run PER BATCH) over each in-range purchase entry,
    grouped per owner instead of per tile. Carry normalization is
    deferred to READ (u256_carry_hex), so the maintained state is a
    plain commutative monoid and merge order cannot matter. Partition
    chunk = owner mod 16 (a batch rewrites only touched chunks)."""
    from euclid_spark.operators.euclid import T_MAX, T_MIN, erc20_leaf_rows

    ev = events.filter(
        (F.col("ts") >= F.lit(T_MIN).cast("timestamp"))
        & (F.col("ts") < F.lit(T_MAX).cast("timestamp"))
        & (F.col("event_type") == "purchase")
    )
    chunk = F.pmod(F.col("owner"), F.lit(16)).cast("int").alias("day")
    return ERC20_REWARD_TREE.leaf(erc20_leaf_rows(ev), [chunk, "owner"])


def _erc20_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return ERC20_REWARD_TREE.combine(old.unionByName(partial), ["day", "owner"])


# --- A30/A31's response-commitment leaf sets as a maintained aggregate --------
#
# The A25/A26/A29 tile trees are maintained by their own declarations
# (range_tree.TileTree.partial/merge, entered in SPECS below). These two
# keep the LEVEL-0 leaf sets of the range-response commitments; their
# rows and leaf hashes come from the same builders the batch stores use.


def _rr_cell_leaves_partial(events: DataFrame) -> DataFrame:
    """The arbitrary-range RESPONSE COMMITMENT's level-0 structure
    (range_response.range_commitment_paths — the per-(owner, cell)
    in-cell Merkle leaf sets responses open into) as a streaming
    monoid: the ERC-20 leaf circuit runs per batch, leaves key on
    (chunk, owner, cell) as SORTED SETS of (event_id, leaf_hash).
    State is bounded by construction (≤ TILE_SIZE entries per cell);
    merge = order-insensitive set union re-sorted by event_id, so the
    fold to cell roots at read is split-invariant — the reference's
    IVC story applied to the r9 response artifacts."""
    leaf = erc20_leaf_hash(F.col("event_id"), erc20_entry_hex())
    return (
        ERC20_REWARD_TREE.rows(events, None, None)
        .withColumn("cell", _cell())
        .groupBy(stream_chunk(), "owner", "cell")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("event_id", leaf.alias("node_hash")))
            ).alias("leaves")
        )
    )


def _rr_cell_leaves_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("day", "owner", "cell")
        .agg(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("leaves")))
            ).alias("leaves")
        )
    )


def _rr_q2_cell_leaves_partial(events: DataFrame) -> DataFrame:
    """The Q2 twin of `rr_cell_leaves`: per (chunk, owner, cell), the
    DISTINCT mapping keys in key order — the level-0 structure the A30
    Query2 range responses open into (their leaf hash is
    range_response.q2_leaf_hash, applied at read). Distinct-set union
    is idempotent, so replayed batches cannot double-count a key."""
    return (
        _q2_entries(events)
        .withColumn("cell", _cell())
        .groupBy(stream_chunk(), "owner", "cell")
        .agg(F.array_sort(F.collect_set("token_id")).alias("tokens"))
    )


def _rr_q2_cell_leaves_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("day", "owner", "cell")
        .agg(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("tokens")))
            ).alias("tokens")
        )
    )


# --- B56's OHLC bars as a maintained aggregate --------------------------------


def _ohlc_partial(events: DataFrame) -> DataFrame:
    """B56's per-(user, hour) OHLC bar as a SELECTION MONOID: the state
    carries each selection's ORDER KEY beside its value (open = value
    at min (ts, event_id), close = at max), so partials from any batch
    split re-merge to the same bar — the argmin/argmax lattice, a
    different monoid family from the sums/bitmaps/histograms already
    under parity. Partition key = day (each hour lies in one day)."""
    ev = events.select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").alias("t"),
        "value",
    )
    k = F.struct("t", "event_id")
    kv = F.struct(k.alias("k"), F.col("value").alias("v"))
    return (
        ev.withColumn("hour_start", F.date_trunc("hour", F.col("t")))
        .withColumn("day", F.to_date("hour_start"))
        .groupBy("user_id", "day", "hour_start")
        .agg(
            F.min_by(kv, k).alias("o"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by(kv, k).alias("c"),
            F.count("*").alias("n_ticks"),
        )
    )


def _ohlc_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("user_id", "day", "hour_start")
        .agg(
            F.min_by("o", F.col("o.k")).alias("o"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("c", F.col("c.k")).alias("c"),
            F.sum("n_ticks").alias("n_ticks"),
        )
    )


def _eth_pairs_partial(events: DataFrame) -> DataFrame:
    """D30's maintained state: the distinct (owner, mapping-key) ledger
    (idempotent set union), owner-bucket partitioned."""
    tok = F.get_json_object("props", "$.k").cast("long")
    return (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id"), tok.alias("token_id"))
        .filter(F.col("token_id").isNotNull())
        .withColumn("pb", F.pmod(F.col("user_id"), F.lit(16)).cast("int"))
        .select("pb", "user_id", "token_id")
        .distinct()
    )


def _eth_pairs_merge(old: DataFrame, part: DataFrame) -> DataFrame:
    return old.unionByName(part).distinct()


def _eth_state_finalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Fold each owner's maintained key set to its ACCOUNT STATE +
    SECURE storage-trie root (pure-Python trie kernels) — so parity is
    asserted on the COMMITMENTS at every quiescent point, not just the
    ledger rows: the IVC property on the real-chain surface."""
    from euclid_spark.functions.keccak import keccak256_batch
    from euclid_spark.functions.rlp import build_tries_batch, rlp_encode
    from euclid_spark.sources.eth_proof import _hex0x, _int_be
    from euclid_spark.sources.eth_proof import MAPPING_SLOT as _SLOT

    owners, toks = [], []
    for uid, grp in pdf.groupby("user_id"):
        owners.append(int(uid))
        toks.append(sorted(int(t) for t in grp["token_id"]))
    # batched keccaks (the r12 capture rationale: scalar sponge ~1.1 ms
    # vs ~20 µs batched) + ONE level-batched build across the group's
    # owners (d keccak passes total, not per-owner)
    slot32 = _SLOT.to_bytes(32, "big")
    flat = [t for ts in toks for t in ts]
    paths_flat = keccak256_batch(
        keccak256_batch([t.to_bytes(32, "big") + slot32 for t in flat])
    )
    addrs = keccak256_batch(
        [b"addr:" + u.to_bytes(8, "big") for u in owners]
    )
    dicts, i = [], 0
    for ts in toks:
        dicts.append(
            {
                p: rlp_encode(_int_be(t))
                for p, t in zip(paths_flat[i : i + len(ts)], ts)
            }
        )
        i += len(ts)
    rows = [
        {
            "address": _hex0x(addr[-20:]),
            "nonce": len(ts),
            "balance": sum(ts),
            "storage_root": _hex0x(root),
        }
        for addr, ts, (root, _) in zip(
            addrs, toks, build_tries_batch(dicts)
        )
    ]
    return pd.DataFrame(
        rows, columns=["address", "nonce", "balance", "storage_root"]
    )


# --- the declarations ---------------------------------------------------------
#
# The sketch day tiles, the drift tiles, the A9 day digest and the tile
# trees are declared next to what reads them and enter SPECS from there.

IVM_VIEW = Monoid("ivm_count_sum_digest", _partial, _merge)
STATE_ROLLUP = Monoid("state_rollup_a7", _rollup_partial, _rollup_merge)
ETH_ACCOUNT_STATE = Monoid(
    "eth_account_state", _eth_pairs_partial, _eth_pairs_merge,
    key_col="pb", finalize=_eth_state_finalize,
)
Q2_DISTINCT_KEYS = Monoid("q2_distinct_keys_view", _keys_partial, _keys_merge)
BLOCK_BOUNDS = Monoid("block_metadata_bounds", _bounds_partial, _bounds_merge)
MERKLE_DAY_ROOT = Monoid(
    "merkle_day_root", _merkle_partial, _merkle_merge, finalize=_merkle_finalize
)
ERC20_REWARD_VIEW = Monoid("erc20_reward_view", _erc20_partial, _erc20_merge)
RR_CELL_LEAVES = Monoid(
    "rr_cell_leaves", _rr_cell_leaves_partial, _rr_cell_leaves_merge
)
RR_Q2_CELL_LEAVES = Monoid(
    "rr_q2_cell_leaves", _rr_q2_cell_leaves_partial, _rr_q2_cell_leaves_merge
)
OHLC_BARS = Monoid("ohlc_bars", _ohlc_partial, _ohlc_merge)

SPECS = {
    spec.name: spec
    for spec in (
        IVM_VIEW,
        ETH_ACCOUNT_STATE,
        STATE_ROLLUP,
        DAY_DIGEST,
        Q2_DISTINCT_KEYS,
        BLOCK_BOUNDS,
        MERKLE_DAY_ROOT,
        CMS_DAY_TILES,
        RANGE_TREE,
        HDR_DAY_TILES,
        DRIFT_TILES,
        LC_DAY_TILES,
        ERC20_REWARD_VIEW,
        OHLC_BARS,
        Q2_KEY_TREE,
        ERC20_REWARD_TREE,
        RR_CELL_LEAVES,
        RR_Q2_CELL_LEAVES,
    )
}
