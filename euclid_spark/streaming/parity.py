"""Batch ≡ incremental parity harness (SURVEY.md §2.D20, VERDICT r4 #2).

The reference's IVC construction makes "incremental result ==
recomputed-from-scratch result" true BY PROOF: appending block n+1 to
the block DB carries a proof that the new commitment extends the old one
(mr-plonky2-circuits/src/block/mod.rs), so the maintained structure can
never drift from what a full recomputation would produce. An analytics
engine cannot prove that, but it can TEST it systematically — this
module is that harness.

For any maintained aggregate (a (partial_fn, merge_fn) monoid pair, the
D19 machinery), `run_parity`:

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
carries the differing frames for diagnosis. tests/
test_batch_incremental_parity.py runs the A7 state rollup, the A9
day-digest chain, and the D19 count/sum/digest view through this
harness under both ordered and shuffled splits.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from euclid_spark.functions.hashing import DIGEST_PRIME, digest_agg, digest_term
from euclid_spark.streaming.block_db import EVENTS_NS_SCHEMA, read_event_stream
from euclid_spark.streaming.ivm import (
    _merge,
    _partial,
    _rollup_merge,
    _rollup_partial,
    run_maintained_aggregate,
)


@dataclass(frozen=True)
class ParitySpec:
    """A maintained query under parity test: the (partial, merge) monoid
    pair plus an optional finalize applied to BOTH sides before compare
    (for derived results like the cumulative chain)."""

    name: str
    partial_fn: Callable[[DataFrame], DataFrame]
    merge_fn: Callable[[DataFrame, DataFrame], DataFrame]
    finalize: Callable[[pd.DataFrame], pd.DataFrame] | None = None
    key_col: str = "day"  # the view's partition column


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
    spec: ParitySpec,
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
        q, sink = run_maintained_aggregate(
            read_event_stream(spark, src),
            view,
            ck,
            spec.partial_fn,
            spec.merge_fn,
            spec.key_col,
        )
        q.awaitTermination(240)

        # from-scratch recompute over everything ingested so far
        all_ev = (
            spark.read.schema(EVENTS_NS_SCHEMA)
            .parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        # finalize runs on the RAW frames (it may need typed columns —
        # e.g. the merkle spec folds an array<string> leaf set that
        # canonicalization would stringify), then both sides canonicalize
        batch_pd = spec.partial_fn(all_ev).toPandas()
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


# --- the A9 day-digest chain as a maintained aggregate -----------------------

def _day_digest_partial(events: DataFrame) -> DataFrame:
    """A9's per-day block digest (block/mod.rs append unit) as a monoid
    partial: digest + row count per day."""
    term = digest_term(F.col("event_id").cast("long"), F.col("user_id").cast("long"))
    return (
        events.withColumn("day", F.to_date("ts"))
        .groupBy("day")
        .agg(digest_agg(term).alias("day_digest"), F.count("*").alias("n"))
    )


def _day_digest_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("day")
        .agg(
            F.pmod(F.sum("day_digest"), F.lit(DIGEST_PRIME))
            .cast("long")
            .alias("day_digest"),
            F.sum("n").alias("n"),
        )
    )


def _chain_finalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Fold per-day digests into the A9 running chain commitment — the
    derived result whose batch/incremental equality is the IVC property.
    Day-level frame: pandas cumsum is exact (int64 · #days ≪ 2⁶³)."""
    out = pdf.sort_values("day").reset_index(drop=True)
    out["day_digest"] = out["day_digest"].astype("int64")
    out["chain_digest"] = out["day_digest"].cumsum() % DIGEST_PRIME
    return out


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
    """Fold each day's sorted leaf set to its Merkle root with the same
    pairing/promotion rule as operators/merkle.py (unpaired tail
    promotes unchanged). Day-level frame — the fold is driver-side
    orchestration over ≤ a few thousand hashes per day."""
    import hashlib

    def root(hs: "list[str]") -> str:
        lvl = list(hs)
        while len(lvl) > 1:
            lvl = [
                hashlib.sha256((lvl[i] + lvl[i + 1]).encode()).hexdigest()
                if i + 1 < len(lvl)
                else lvl[i]
                for i in range(0, len(lvl), 2)
            ]
        return lvl[0] if lvl else ""

    out = pdf.copy()
    out["merkle_root"] = out["leaf_hashes"].apply(lambda v: root(list(v)))
    out["n_leaves"] = out["leaf_hashes"].apply(len)
    return out.drop(columns=["leaf_hashes"])


def _cms_partial(events: DataFrame) -> DataFrame:
    """PER-DAY count-min sketch tiles over the batch's user_ids (B44's
    sketch keyed by day: CMS_ROWS × CMS_W bounded cells per day — the
    textbook mergeable-sketch monoid, cells ADD). Day tiling is the
    production layout: a day-range estimate is the cell-wise sum of its
    tiles, and the maintained view rewrites only touched days."""
    from euclid_spark.operators.relational import CMS_ROWS, CMS_W

    r = F.explode(F.sequence(F.lit(0), F.lit(CMS_ROWS - 1))).alias("r")
    h = F.md5(
        F.concat_ws("|", F.col("r").cast("string"), F.col("user_id").cast("string"))
    )
    b = F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(CMS_W))
    return (
        events.withColumn("day", F.to_date("ts"))
        .select("day", "user_id", r)
        .select("day", "r", b.alias("b"))
        .groupBy("day", "r", "b")
        .agg(F.count("*").alias("c"))
    )


def _cms_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("day", "r", "b")
        .agg(F.sum("c").alias("c"))
    )


# --- B47's quantile-sketch tiles as a maintained aggregate -------------------

def _hdr_partial(events: DataFrame) -> DataFrame:
    """B47's integer log-histogram as PER-DAY tiles over event values
    (cents): a day-range quantile is the bucket-wise sum of its tiles —
    the mergeable-sketch monoid, exactly like the CMS tiles."""
    from euclid_spark.operators.quantile_sketch import hdr_sketch

    vals = events.select(
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    ).filter(F.col("v") >= 1)
    return hdr_sketch(vals, "day", "v").withColumnRenamed("grp", "day")


def _hdr_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("day", "nbits", "sub")
        .agg(F.sum("cnt").alias("cnt"))
    )


def _drift_partial(events: DataFrame) -> DataFrame:
    """r13 drift tiles: the B47 sketch keyed per (event_type, day) —
    the maintained state the streamed PSI face reads its two windows
    from. Same additive-count monoid as the HDR tiles; NULL ts / NULL
    value rows are excluded up front (they belong to no window).
    Fixed-point values < 1 — zeros and negatives — land in a RESERVED
    UNDERFLOW bucket (nbits=0, sub=0; r14, closing the r13-advice
    population gap): the tile store now covers exactly the rows batch
    B59 bins, so swapping batch for streamed monitoring never changes
    n_ref/n_cur. The bucket is one more additive tile row — the
    monoid, merge, and read are untouched."""
    from euclid_spark.operators.quantile_sketch import hdr_sketch

    vals = (
        events.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * 100).cast("long").alias("v"),
        )
    )
    pos = hdr_sketch(vals.filter(F.col("v") >= 1), ["event_type", "day"], "v")
    under = (
        vals.filter(F.col("v") < 1)
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "event_type",
            "day",
            F.lit(0).cast("int").alias("nbits"),
            F.lit(0).cast("long").alias("sub"),
            "cnt",
        )
    )
    return pos.unionByName(under)


def _drift_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("event_type", "day", "nbits", "sub")
        .agg(F.sum("cnt").alias("cnt"))
    )


# --- A13's ERC-20 u256 reward view as a maintained aggregate -----------------

def _erc20_partial(events: DataFrame) -> DataFrame:
    """A13's ERC-20 reward view as a streaming monoid: the leaf circuit
    (Arrow u256 stage — run PER BATCH, the ingest-time pattern) maps
    each in-range purchase entry to its reward limbs; partials are
    limb-wise DECIMAL(38) sums per owner — carry normalization is
    deferred to READ (u256_carry_hex), so the maintained state is a
    plain commutative monoid and merge order cannot matter. Partition
    chunk = owner mod 16 (a batch rewrites only touched chunks)."""
    from euclid_spark.operators.euclid import (
        T_MAX,
        T_MIN,
        erc20_leaf_rows,
    )

    ev = events.filter(
        (F.col("ts") >= F.lit(T_MIN).cast("timestamp"))
        & (F.col("ts") < F.lit(T_MAX).cast("timestamp"))
        & (F.col("event_type") == "purchase")
    )
    rows = erc20_leaf_rows(ev)
    return rows.groupBy(
        F.pmod(F.col("owner"), F.lit(16)).cast("int").alias("day"),
        "owner",
    ).agg(
        *[
            F.sum(F.col(f"l{i}").cast("decimal(38,0)")).alias(f"s{i}")
            for i in range(4)
        ],
        F.sum("zs").cast("long").alias("zs"),
        F.sum("of").cast("long").alias("of"),
    )


def _erc20_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("day", "owner")
        .agg(
            *[
                F.sum(F.col(f"s{i}")).cast("decimal(38,0)").alias(f"s{i}")
                for i in range(4)
            ],
            F.sum("zs").cast("long").alias("zs"),
            F.sum("of").cast("long").alias("of"),
        )
    )


# --- B48's linear-counting bitmaps as a maintained aggregate -----------------

def _lc_partial(events: DataFrame) -> DataFrame:
    """B48's distinct-user bitmap as PER-DAY tiles: a day-range distinct
    estimate is the bit_or of its tiles' words — the set-union monoid
    in packed form (bit_or is idempotent, so replay is free)."""
    from euclid_spark.operators.distinct_sketch import lc_bitmap

    keyed = events.select(F.to_date("ts").alias("day"), "user_id")
    return lc_bitmap(keyed, "day", "user_id").withColumnRenamed("grp", "day")


def _lc_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("day", "word_idx")
        .agg(F.bit_or("word").alias("word"))
    )


# --- A25's range-tree tiles as a maintained aggregate ------------------------

_RT_LEVELS = 6  # tree levels maintained by the streaming spec


def _range_tree_partial(events: DataFrame) -> DataFrame:
    """The A25 tile tree as a streaming monoid: each event contributes
    one (level, cell) partial per tree level (cell = block cell >> k),
    so a micro-batch's partials cover every level at batch cost ×
    (levels+1). The partition key (`day` in the IVM machinery's terms)
    is the level-_RT_LEVELS chunk — every tile at level ≤ _RT_LEVELS
    lies inside exactly one chunk, so a batch rewrites only the block
    chunks it touches (partial_node.rs's locality: appending block n
    re-proves one path, not the tree)."""
    from euclid_spark.operators.range_tree import TILE_SIZE

    term = digest_term(
        F.col("event_id").cast("long"), F.col("user_id").cast("long")
    )
    cell0 = f"CAST(FLOOR(event_id / {TILE_SIZE}) AS BIGINT)"
    return (
        events.select(
            "event_id",
            "user_id",
            "value",
            F.explode(F.sequence(F.lit(0), F.lit(_RT_LEVELS))).alias("level"),
        )
        .select(
            # INT not LONG: the view's day-partition directory values are
            # re-inferred as int32 on read — match that type up front
            F.expr(f"shiftright({cell0}, {_RT_LEVELS})")
            .cast("int")
            .alias("day"),
            "level",
            F.expr(f"shiftright({cell0}, CAST(level AS INT))").alias("cell"),
            "event_id",
            "user_id",
            "value",
        )
        .groupBy("day", "level", "cell")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(28,6)")
            .alias("sum_value"),
            F.min("event_id").alias("min_block"),
            F.max("event_id").alias("max_block"),
            digest_agg(term).alias("digest"),
        )
    )


def _range_tree_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("day", "level", "cell")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").cast("decimal(28,6)").alias("sum_value"),
            F.min("min_block").alias("min_block"),
            F.max("max_block").alias("max_block"),
            F.pmod(F.sum("digest"), F.lit(DIGEST_PRIME))
            .cast("long")
            .alias("digest"),
        )
    )


# --- A26's Query2 key tiles as a maintained aggregate -------------------------


def _q2_tiles_partial(events: DataFrame) -> DataFrame:
    """The Query2 key tile tree (range_tree.py A26) as a streaming
    monoid: per (chunk, level, cell, owner), the FIRST-L distinct
    mapping keys — the bounded min-L selection lattice
    (query2/block/full_node.rs's set-union + revelation's L bound).
    The interesting parity property: per-batch TRUNCATED partials must
    re-merge to exactly the from-scratch first-L under any batch split
    — true because every key a truncation drops is larger than ≥L keys
    of its own (cell, owner) slice, hence larger than ≥L keys of any
    union containing it. Partition key = block chunk (the A25 spec's
    locality: a batch rewrites only touched chunks)."""
    from euclid_spark.operators.euclid import TOP_L
    from euclid_spark.operators.range_tree import TILE_SIZE

    tok = F.get_json_object("props", "$.k").cast("long")
    cell0 = f"CAST(FLOOR(event_id / {TILE_SIZE}) AS BIGINT)"
    return (
        events.filter(F.col("event_type") == "purchase")
        .withColumn("token_id", tok)
        .filter(F.col("token_id").isNotNull())
        .select(
            "event_id",
            F.col("user_id").alias("owner"),
            "token_id",
            F.explode(F.sequence(F.lit(0), F.lit(_RT_LEVELS))).alias("level"),
        )
        .select(
            F.expr(f"shiftright({cell0}, {_RT_LEVELS})")
            .cast("int")
            .alias("day"),
            "level",
            F.expr(f"shiftright({cell0}, CAST(level AS INT))").alias("cell"),
            "owner",
            "token_id",
        )
        .groupBy("day", "level", "cell", "owner")
        .agg(
            F.slice(F.array_sort(F.collect_set("token_id")), 1, TOP_L)
            .alias("keys")
        )
    )


def _q2_tiles_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    from euclid_spark.operators.euclid import TOP_L

    return (
        old.unionByName(partial)
        .groupBy("day", "level", "cell", "owner")
        .agg(
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("keys")))),
                1,
                TOP_L,
            ).alias("keys")
        )
    )


# --- A29's ERC-20 reward tiles as a maintained aggregate ----------------------


def _erc20_tiles_partial(events: DataFrame) -> DataFrame:
    """The A29 per-(owner, cell) u256 reward tile tree as a streaming
    monoid (query_erc20/block/'s nodes): the leaf circuit runs per
    batch, limb-wise decimal(38) sums key on (chunk, level, cell,
    owner) — carry normalization defers to read, so merge order cannot
    matter; each entry touches one cell per level (the A25/A26 explode).
    """
    from euclid_spark.operators.euclid import erc20_leaf_rows
    from euclid_spark.operators.range_tree import TILE_SIZE

    rows = erc20_leaf_rows(
        events.filter(F.col("event_type") == "purchase")
    )
    cell0 = f"CAST(FLOOR(event_id / {TILE_SIZE}) AS BIGINT)"
    return (
        rows.select(
            "owner",
            "event_id",
            *[f"l{i}" for i in range(4)],
            "zs",
            "of",
            F.explode(F.sequence(F.lit(0), F.lit(_RT_LEVELS))).alias("level"),
        )
        .select(
            F.expr(f"shiftright({cell0}, {_RT_LEVELS})")
            .cast("int")
            .alias("day"),
            "level",
            F.expr(f"shiftright({cell0}, CAST(level AS INT))").alias("cell"),
            "owner",
            *[f"l{i}" for i in range(4)],
            "zs",
            "of",
        )
        .groupBy("day", "level", "cell", "owner")
        .agg(
            *[
                F.sum(F.col(f"l{i}").cast("decimal(38,0)")).alias(f"s{i}")
                for i in range(4)
            ],
            F.sum("zs").cast("long").alias("zs"),
            F.sum("of").cast("long").alias("of"),
            F.count(F.lit(1)).alias("n_entries"),
        )
    )


def _erc20_tiles_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("day", "level", "cell", "owner")
        .agg(
            *[
                F.sum(F.col(f"s{i}")).cast("decimal(38,0)").alias(f"s{i}")
                for i in range(4)
            ],
            F.sum("zs").cast("long").alias("zs"),
            F.sum("of").cast("long").alias("of"),
            F.sum("n_entries").cast("long").alias("n_entries"),
        )
    )


# --- A30/A31's response-commitment leaf sets as a maintained aggregate --------


def _rr_cell_leaves_partial(events: DataFrame) -> DataFrame:
    """The arbitrary-range RESPONSE COMMITMENT's level-0 structure
    (range_response.serve_range_commitments — the per-(owner, cell)
    in-cell Merkle leaf sets responses open into) as a streaming
    monoid: the ERC-20 leaf circuit runs per batch, leaves key on
    (chunk, owner, cell) as SORTED SETS of (event_id, leaf_hash).
    State is bounded by construction (≤ TILE_SIZE entries per cell);
    merge = order-insensitive set union re-sorted by event_id, so the
    fold to cell roots at read is split-invariant — the reference's
    IVC story applied to the r9 response artifacts."""
    from euclid_spark.functions.u256 import u256_to_hex
    from euclid_spark.operators.euclid import erc20_leaf_rows
    from euclid_spark.operators.range_tree import TILE_SIZE

    rows = erc20_leaf_rows(events.filter(F.col("event_type") == "purchase"))
    entry_hex = u256_to_hex(
        (F.col("l3"), F.col("l2"), F.col("l1"), F.col("l0"))
    )
    cell0 = f"CAST(FLOOR(event_id / {TILE_SIZE}) AS BIGINT)"
    return (
        rows.select(
            "owner",
            "event_id",
            F.sha2(
                F.concat_ws(
                    ":", F.col("event_id").cast("string"), entry_hex
                ),
                256,
            ).alias("node_hash"),
        )
        .select(
            F.expr(f"shiftright({cell0}, {_RT_LEVELS})")
            .cast("int")
            .alias("day"),
            F.expr(cell0).alias("cell"),
            "owner",
            "event_id",
            "node_hash",
        )
        .groupBy("day", "owner", "cell")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("event_id", "node_hash"))
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
    Query2 range responses open into (leaf = sha256(token_id), A20's
    encoding). Distinct-set union is idempotent, so replayed batches
    cannot double-count a key."""
    from euclid_spark.operators.range_tree import TILE_SIZE

    tok = F.get_json_object("props", "$.k").cast("long")
    cell0 = f"CAST(FLOOR(event_id / {TILE_SIZE}) AS BIGINT)"
    return (
        events.filter(F.col("event_type") == "purchase")
        .withColumn("token_id", tok)
        .filter(F.col("token_id").isNotNull())
        .select(
            F.expr(f"shiftright({cell0}, {_RT_LEVELS})")
            .cast("int")
            .alias("day"),
            F.expr(cell0).alias("cell"),
            F.col("user_id").alias("owner"),
            "token_id",
        )
        .groupBy("day", "owner", "cell")
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


SPECS = {
    "ivm_count_sum_digest": ParitySpec(
        "ivm_count_sum_digest", _partial, _merge
    ),
    "eth_account_state": ParitySpec(
        "eth_account_state",
        _eth_pairs_partial,
        _eth_pairs_merge,
        _eth_state_finalize,
        key_col="pb",
    ),
    "state_rollup_a7": ParitySpec(
        "state_rollup_a7", _rollup_partial, _rollup_merge
    ),
    "block_db_chain_a9": ParitySpec(
        "block_db_chain_a9", _day_digest_partial, _day_digest_merge, _chain_finalize
    ),
    "q2_distinct_keys_view": ParitySpec(
        "q2_distinct_keys_view", _keys_partial, _keys_merge
    ),
    "block_metadata_bounds": ParitySpec(
        "block_metadata_bounds", _bounds_partial, _bounds_merge
    ),
    "merkle_day_root": ParitySpec(
        "merkle_day_root", _merkle_partial, _merkle_merge, _merkle_finalize
    ),
    "count_min_sketch": ParitySpec(
        "count_min_sketch", _cms_partial, _cms_merge
    ),
    "range_tree_tiles": ParitySpec(
        "range_tree_tiles", _range_tree_partial, _range_tree_merge
    ),
    "hdr_quantile_tiles": ParitySpec(
        "hdr_quantile_tiles", _hdr_partial, _hdr_merge
    ),
    "drift_tiles": ParitySpec(
        "drift_tiles", _drift_partial, _drift_merge
    ),
    "lc_distinct_tiles": ParitySpec(
        "lc_distinct_tiles", _lc_partial, _lc_merge
    ),
    "erc20_reward_view": ParitySpec(
        "erc20_reward_view", _erc20_partial, _erc20_merge
    ),
    "ohlc_bars": ParitySpec("ohlc_bars", _ohlc_partial, _ohlc_merge),
    "q2_key_tiles": ParitySpec(
        "q2_key_tiles", _q2_tiles_partial, _q2_tiles_merge
    ),
    "erc20_reward_tiles": ParitySpec(
        "erc20_reward_tiles", _erc20_tiles_partial, _erc20_tiles_merge
    ),
    "rr_cell_leaves": ParitySpec(
        "rr_cell_leaves", _rr_cell_leaves_partial, _rr_cell_leaves_merge
    ),
    "rr_q2_cell_leaves": ParitySpec(
        "rr_q2_cell_leaves",
        _rr_q2_cell_leaves_partial,
        _rr_q2_cell_leaves_merge,
    ),
}
