"""O(log-range) block-range aggregation over a hierarchical tile tree
(SURVEY.md §2.A25; VERDICT r6 next-round #2).

The reference answers any `[B_min, B_max]` aggregate by combining
PRECOMPUTED per-node proofs up a tree — `query2/block/partial_node.rs`
and `full_node.rs` (and the same shape in `query_erc20/block/`): query
cost ∝ log(range), not rows-in-range. The Spark analog built here:

- **The tile artifact**: a segment-tree of partial aggregates over the
  block dimension. Level 0 groups events into TILE_SIZE-block cells;
  level k+1 merges cell pairs — log₂ geometrically-shrinking hash
  aggregations (the merkle_levels build shape, but carrying the
  A4/A8-family monoid: count, DECIMAL value sum, min/max block, and
  the additive mod-prime range digest — every one commutative, so tile
  merge ≡ re-aggregation in any order). Stored as a fingerprint-keyed
  disk artifact: built once per corpus version, served as a scan.

- **The query face**: an arbitrary `[B_min, B_max)` aggregate reads
  the CANONICAL SEGMENT-TREE COVER — at most 2 aligned tiles per level
  (≤ 2·log₂(cells) tile rows) — plus two edge scans of < TILE_SIZE
  blocks each, pushed down to the events scan. At 100 TB with a 2-year
  range this is the difference between scanning the range and reading
  a few thousand tile rows: cost ∝ log(range) + 2·TILE_SIZE.

- **Maintenance**: the tiles are a commutative monoid keyed by
  (level, cell), so the D19 IVM machinery maintains them per
  micro-batch (each event touches one cell per level — the streaming
  partial explodes levels; merge = the same fold the build uses) and
  the D20 parity harness asserts incremental ≡ from-scratch at every
  quiescent point (streaming/parity.py `range_tree_tiles` spec).

Oracle: the full-recompute SQL over the same range — the gate proves
the tile path returns exactly what scanning the rows would.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from euclid_spark.catalog import load_events
from euclid_spark.functions.hashing import DIGEST_PRIME, digest_agg, digest_term

TILE_SIZE = 256  # blocks per level-0 tile (the finest granularity)


def _leaf_partials(ev: DataFrame) -> DataFrame:
    """Level-0 tile partials from raw events: one row per occupied
    TILE_SIZE-block cell. Every aggregate is a commutative monoid."""
    term = digest_term(
        F.col("event_id").cast("long"), F.col("user_id").cast("long")
    )
    return (
        ev.groupBy(
            F.floor(F.col("event_id") / TILE_SIZE).cast("long").alias("cell")
        )
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


def _fold_up(lvl: DataFrame) -> DataFrame:
    """One tree level up: merge cell pairs (the partial_node.rs fold)."""
    return (
        lvl.groupBy(F.shiftright(F.col("cell"), 1).alias("cell"))
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


def build_range_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All tree levels as one frame (level, cell, monoid columns).
    log₂(cells) chained aggregations, each level half the size — total
    build work ≈ 2× the level-0 aggregation, all map-side combinable."""
    import math

    ev = load_events(spark, sf_dir).select("event_id", "user_id", "value")
    lvl = _leaf_partials(ev)
    n_cells = lvl.agg(F.max("cell")).collect()[0][0]  # one-row fetch
    n_cells = int(n_cells or 0) + 1
    depth = max(1, math.ceil(math.log2(n_cells))) if n_cells > 1 else 1
    out = [lvl.withColumn("level", F.lit(0))]
    for k in range(1, depth + 1):
        lvl = _fold_up(lvl)
        out.append(lvl.withColumn("level", F.lit(k)))
    tiles = out[0]
    for o in out[1:]:
        tiles = tiles.unionByName(o)
    return tiles.select(
        "level", "cell", "n_events", "sum_value", "min_block", "max_block",
        "digest",
    )


def serve_range_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tile tree as a fingerprint-keyed disk artifact — precomputed
    at ingest (the reference commits its block tree the same way),
    served to every query as a short-lineage scan."""
    from euclid_spark import artifacts

    fp = artifacts.corpus_fingerprint(
        [f"{sf_dir}/events.parquet"], op="range_tree", tile=TILE_SIZE
    )
    return artifacts.serve_frame(
        spark, "range_tree_tiles", fp, lambda: build_range_tree(spark, sf_dir)
    )


def tile_cover(
    b_min: int, b_max: int, max_level: int
) -> "tuple[list[tuple[int, int]], list[tuple[int, int]]]":
    """Canonical segment-tree decomposition of [b_min, b_max) over
    TILE_SIZE-block cells: returns (tiles, edges) where tiles is a list
    of (level, cell) — at most 2 per level — and edges are < TILE_SIZE
    wide [lo, hi) block ranges at the two ends. Pure integer math on
    two numbers: orchestration, not data work."""
    s = TILE_SIZE
    lo_cell = -(-b_min // s)  # ceil: first fully-covered cell
    hi_cell = b_max // s      # first cell NOT fully covered
    if lo_cell >= hi_cell:
        return [], [(b_min, b_max)] if b_min < b_max else []
    edges = []
    if b_min < lo_cell * s:
        edges.append((b_min, lo_cell * s))
    if hi_cell * s < b_max:
        edges.append((hi_cell * s, b_max))
    tiles: list[tuple[int, int]] = []
    lo = lo_cell
    while lo < hi_cell:
        align = (lo & -lo).bit_length() - 1 if lo > 0 else max_level
        fit = (hi_cell - lo).bit_length() - 1
        k = min(align, fit, max_level)
        tiles.append((k, lo >> k))
        lo += 1 << k
    return tiles, edges


def range_tree_agg(
    spark: SparkSession,
    sf_dir: str,
    b_min: "int | None" = None,
    b_max: "int | None" = None,
) -> DataFrame:
    """A25 — the O(log-range) block-range aggregate: count, exact value
    total, block bounds, and range digest for `[B_min, B_max)` answered
    from the tile cover + two edge scans. The public parameterized
    surface takes any (b_min, b_max); the pinned gate face defaults to
    the ⅕ and ⅘ points of the block space (scale-invariant probe, the
    A22 pattern).

    Plan shape: the tile filter is an OR of per-level `cell IN (...)`
    lists over the served artifact (≤ 2 cells per level — a few dozen
    rows); the edge predicate is a 2-range OR pushed to the events
    parquet scan (row-group pruning keeps it ∝ TILE_SIZE); the final
    fold is one aggregate over ~40 bounded rows. Nothing scans the
    range interior."""
    from euclid_spark import artifacts

    tiles = serve_range_tree(spark, sf_dir)
    # served metadata from parquet FOOTER statistics (the previous
    # two-scalar agg scanned every tile row per call, a job that grows
    # with the corpus); Spark fallback for remote artifact roots
    try:
        fp = _range_tree_fp(sf_dir)
        ml = artifacts.stat_min_max("range_tree_tiles", fp, "level")[1]
        mb = artifacts.stat_min_max("range_tree_tiles", fp, "max_block")[1]
    except Exception:  # remote artifact store — resolve through Spark
        meta = tiles.agg(
            F.max("level").alias("ml"), F.max(F.col("max_block")).alias("mb")
        ).collect()[0]
        ml, mb = meta["ml"], meta["mb"]
    if ml is None:  # zero-row corpus: no tiles, no range
        return spark.createDataFrame(
            [],
            "b_min long, b_max long, n_events long, total_value double, "
            "min_block long, max_block long, range_digest long",
        )
    max_level, max_block = int(ml), int(mb)
    if b_min is None:
        b_min = max_block // 5
    if b_max is None:
        b_max = max_block * 4 // 5
    b_min, b_max = int(b_min), int(b_max)
    cover, edges = tile_cover(b_min, b_max, max_level)
    if not cover and not edges:  # degenerate range (≤ 4 blocks total)
        return spark.createDataFrame(
            [],
            "b_min long, b_max long, n_events long, total_value double, "
            "min_block long, max_block long, range_digest long",
        )

    parts = []
    if cover:
        by_level: dict[int, list[int]] = {}
        for k, c in cover:
            by_level.setdefault(k, []).append(c)
        cond = reduce(
            lambda a, b: a | b,
            [
                (F.col("level") == k) & F.col("cell").isin(cells)
                for k, cells in by_level.items()
            ],
        )
        parts.append(
            tiles.filter(cond).select(
                "n_events", "sum_value", "min_block", "max_block", "digest"
            )
        )
    if edges:
        ev = load_events(spark, sf_dir).select("event_id", "user_id", "value")
        econd = reduce(
            lambda a, b: a | b,
            [
                (F.col("event_id") >= lo) & (F.col("event_id") < hi)
                for lo, hi in edges
            ],
        )
        term = digest_term(
            F.col("event_id").cast("long"), F.col("user_id").cast("long")
        )
        parts.append(
            ev.filter(econd).agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("decimal(28,6)")
                .alias("sum_value"),
                F.min("event_id").alias("min_block"),
                F.max("event_id").alias("max_block"),
                digest_agg(term).alias("digest"),
            )
        )
    partials = parts[0]
    for p in parts[1:]:
        partials = partials.unionByName(p)
    return partials.agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.round(F.sum("sum_value"), 2).cast("double").alias("total_value"),
        F.min("min_block").alias("min_block"),
        F.max("max_block").alias("max_block"),
        F.pmod(F.sum("digest"), F.lit(DIGEST_PRIME))
        .cast("long")
        .alias("range_digest"),
    ).select(
        F.lit(b_min).alias("b_min"),
        F.lit(b_max).alias("b_max"),
        "n_events",
        "total_value",
        "min_block",
        "max_block",
        "range_digest",
    )


# --- Query2 over the tile tree: the distinct-key SET monoid ------------------
#
# A25's tiles carry SCALAR monoids (count/sum/min/max/digest — the
# query_erc20/block/ shape). The reference's OTHER block tree aggregates
# the DISTINCT-KEY SET up the tree (query2/block/full_node.rs,
# partial_node.rs — set-union feeding query2/revelation/circuit.rs's
# bounded top-L reveal). The Spark analog: per-(owner, cell) tiles
# carrying each cell's FIRST-L keys — a bounded min-L selection lattice
# (merge = union→sort→truncate, associative AND commutative: every key
# dropped at truncation is larger than ≥L keys of its own cell, hence
# larger than ≥L keys of any union containing that cell), so per-owner
# top-L revelation over an arbitrary block range reads O(log range · L)
# tile rows — never the range interior. L is baked into the tiles at
# build exactly as the circuit's L is baked at setup.

from euclid_spark.operators.euclid import TOP_L as Q2_L  # noqa: E402


def _q2_entries(ev: DataFrame, contract: "str | None" = None) -> DataFrame:
    """Qualifying mapping entries: the Query2 extraction filter (one
    contract's events carrying a mapping key — the contract-address
    input of query2/api.rs), shared by build and edge scans."""
    from euclid_spark.operators.euclid import CONTRACT

    tok = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.filter(
            F.col("event_type") == (CONTRACT if contract is None else contract)
        )
        .select(
            "event_id",
            F.col("user_id").alias("owner"),
            tok.alias("token_id"),
        )
        .filter(F.col("token_id").isNotNull())
    )


# Sentinel first-occurrence for keys contributed by an EDGE slice (no
# covered-cell occurrence known to the tile path): sorts after every
# real (cell, pos), so a min-merge keeps the covered occurrence if one
# exists and the sentinel survives only for edge-only keys.
_EDGE_SENTINEL_CELL = (1 << 63) - 1


def _dedup_first_l(col: str, limit: int) -> F.Column:
    """First-L distinct keys of a SORTED key-struct array, keeping each
    key's minimal (cell, p): the array is sorted by (t, cell, p), so
    the first struct per t IS the min — an index-lambda filter drops
    the rest, then the L bound truncates."""
    return F.expr(
        f"slice(filter({col}, (x, i) -> i = 0 OR {col}[i-1].t != x.t),"
        f" 1, {limit})"
    )


def _q2_leaf_tiles(entries: DataFrame) -> DataFrame:
    """Level-0 tiles: per (cell, owner), the cell's first-L distinct keys
    in canonical order (query2's leaf set, already truncated — the
    lattice makes the truncation lossless for any top-L query). Each
    key carries its FIRST-OCCURRENCE struct (cell, p): at level 0 the
    cell is the tile and p is the key's index in the sorted list — its
    rank in the cell's full distinct ordering (a key surviving any
    first-L view has rank < L, so truncation never hides the rank).
    The structs ride the fold-up so any cover read yields each revealed
    key's first covered occurrence WITHOUT a leaf-store scan — the A30
    response opens revealed rows from the tile read alone."""
    return (
        entries.groupBy(
            F.floor(F.col("event_id") / TILE_SIZE).cast("long").alias("cell"),
            "owner",
        )
        .agg(
            F.slice(F.array_sort(F.collect_set("token_id")), 1, Q2_L)
            .alias("ks")
        )
        .select(
            "cell",
            "owner",
            F.expr(
                "transform(ks, (t, i) ->"
                " struct(t AS t, cell AS cell, CAST(i AS INT) AS p))"
            ).alias("keys"),
        )
    )


def _q2_fold_up(lvl: DataFrame) -> DataFrame:
    """One level up: per owner, merge the two child cells' first-L lists
    (full_node.rs's set union + the revelation bound in one step),
    min-merging each key's first-occurrence struct (children span
    disjoint leaf-cell ranges, so the lexicographic (cell, p) min is
    the earlier occurrence)."""
    return (
        lvl.groupBy(F.shiftright(F.col("cell"), 1).alias("cell"), "owner")
        .agg(F.array_sort(F.flatten(F.collect_list("keys"))).alias("s"))
        .select("cell", "owner", _dedup_first_l("s", Q2_L).alias("keys"))
    )


def build_q2_key_tree(
    spark: SparkSession, sf_dir: str, contract: "str | None" = None
) -> DataFrame:
    """All levels of the per-owner key tree. Depth is sized to the FULL
    block space (max event_id over all events), not just qualifying
    cells, so any [b_min, b_max) cover stays ≤ 2 tiles per level."""
    import math

    ev = load_events(spark, sf_dir)
    mb = ev.agg(F.max("event_id")).collect()[0][0]  # one-row fetch
    n_cells = (int(mb or 0) // TILE_SIZE) + 1
    depth = max(1, math.ceil(math.log2(n_cells))) if n_cells > 1 else 1
    lvl = _q2_leaf_tiles(_q2_entries(ev, contract))
    out = [lvl.withColumn("level", F.lit(0))]
    for k in range(1, depth + 1):
        lvl = _q2_fold_up(lvl)
        out.append(lvl.withColumn("level", F.lit(k)))
    tiles = out[0]
    for o in out[1:]:
        tiles = tiles.unionByName(o)
    return tiles.select("level", "cell", "owner", "keys")


def _range_tree_fp(sf_dir: str) -> str:
    from euclid_spark import artifacts

    return artifacts.corpus_fingerprint(
        [f"{sf_dir}/events.parquet"], op="range_tree", tile=TILE_SIZE
    )


def _q2_key_fp(sf_dir: str, contract: "str | None") -> str:
    from euclid_spark import artifacts
    from euclid_spark.operators.euclid import CONTRACT

    return artifacts.corpus_fingerprint(
        [f"{sf_dir}/events.parquet"],
        op="q2_key_tree", tile=TILE_SIZE, L=Q2_L, layout="owner_v4",
        contract=CONTRACT if contract is None else contract,
    )


def _served_max_block(spark: SparkSession, sf_dir: str) -> int:
    """The corpus's max block from the served scalar tile tree's parquet
    FOOTER — the default-range probe every pinned face derives, without
    a data scan (serve first so the artifact exists)."""
    from euclid_spark import artifacts

    serve_range_tree(spark, sf_dir)
    mb = artifacts.stat_min_max(
        "range_tree_tiles", _range_tree_fp(sf_dir), "max_block"
    )[1]
    return int(mb or 0)


def serve_q2_key_tree(
    spark: SparkSession, sf_dir: str, contract: "str | None" = None
) -> DataFrame:
    """The key tree served OWNER-CLUSTERED: range-partitioned and
    sorted by (owner, level, cell) before the write, so parquet
    row-group min/max stats on `owner` let a single-owner revelation
    read only that owner's row groups — per-owner top-L over any range
    costs O(log range) rows from an owner-pruned slice of the artifact,
    not a scan of every owner's tiles (the layout story D18/D26 tell
    for the block dimension, applied to the query's OTHER key)."""
    from euclid_spark import artifacts

    fp = _q2_key_fp(sf_dir, contract)

    def build() -> DataFrame:
        t = build_q2_key_tree(spark, sf_dir, contract)
        return t.repartitionByRange(8, "owner").sortWithinPartitions(
            "owner", "level", "cell"
        )

    # fine row groups (owner_v3): within each owner's sorted span the
    # (level, cell) stats prune the cover predicate to O(cover) row
    # groups — the all-owner pinned face stopped scanning the whole
    # artifact (0.69→0.25 s at 100× events)
    return artifacts.serve_frame(
        spark, "q2_key_tiles", fp, build, options=artifacts.FINE_ROW_GROUPS
    )


def serve_q2_entry_store(
    spark: SparkSession, sf_dir: str, contract: "str | None" = None
) -> DataFrame:
    """The contract's qualifying entries (event_id, owner, token_id)
    BLOCK-CLUSTERED — the Q2 sibling of the ERC-20 all-entry leaf
    store: A26's two < TILE_SIZE edge scans push their event_id window
    to pruned parquet row groups instead of re-scanning (and re-JSON-
    parsing) the raw events table, which grows with the corpus
    (measured 4.4→0.28 s at 100× events)."""
    from euclid_spark import artifacts
    from euclid_spark.catalog import load_events
    from euclid_spark.operators.euclid import CONTRACT

    fp = artifacts.corpus_fingerprint(
        [f"{sf_dir}/events.parquet"],
        op="q2_entry_store", layout="block_v1",
        contract=CONTRACT if contract is None else contract,
    )

    def build() -> DataFrame:
        return (
            _q2_entries(load_events(spark, sf_dir), contract)
            .repartitionByRange(8, "event_id")
            .sortWithinPartitions("event_id")
        )

    return artifacts.serve_frame(
        spark, "q2_entry_store", fp, build,
        options=artifacts.FINE_ROW_GROUPS,
    )


_Q2_EMPTY = "owner long, pos int, token_id long, b_min long, b_max long"


def q2_range_tree_topl(
    spark: SparkSession,
    sf_dir: str,
    owner: "int | None" = None,
    b_min: "int | None" = None,
    b_max: "int | None" = None,
    L: "int | None" = None,
    contract: "str | None" = None,
    with_first: bool = False,
) -> DataFrame:
    """A26 — Query2 answered from the tile tree in O(log range): per-owner
    first-L distinct mapping keys over [b_min, b_max), read from the
    canonical cover (≤ 2 tiles/level) plus two < TILE_SIZE edge scans
    pushed to the events scan. The public parameterized surface —
    (owner, b_min, b_max, L, contract) — with the pinned gate face as
    one instantiation (owner=None → all owners; bounds default to the
    ⅕/⅘ probe range). L must be ≤ the tree's baked reveal bound Q2_L,
    exactly as the circuit's L is fixed at setup; each contract serves
    its own key-tile tree (one storage DB per contract).

    `with_first=True` appends each key's first COVERED occurrence
    (first_cell, first_pos) from the tile structs — first_cell =
    _EDGE_SENTINEL_CELL marks a key seen only in the edge slices. The
    A30 response consumes this to open revealed rows without its own
    leaf-store fetch."""
    L = Q2_L if L is None else int(L)
    if L > Q2_L:
        raise ValueError(
            f"L={L} exceeds the tile tree's baked reveal bound {Q2_L}; "
            "rebuild the tree with a larger Q2_L (the circuit-setup analog)"
        )
    from euclid_spark import artifacts

    tiles = serve_q2_key_tree(spark, sf_dir, contract)
    # served metadata from the parquet footer — an agg(max) here would
    # scan every tile row and grow with the corpus (measured: the 100×
    # probe's residual slope was exactly this fetch)
    ml = artifacts.stat_min_max(
        "q2_key_tiles", _q2_key_fp(sf_dir, contract), "level"
    )[1]
    if ml is None:  # no qualifying entries anywhere
        return spark.createDataFrame(
            [],
            _Q2_EMPTY
            + (", first_cell long, first_pos int" if with_first else ""),
        )
    max_level = int(ml)
    if b_min is None or b_max is None:
        mb = _served_max_block(spark, sf_dir)
        b_min = mb // 5 if b_min is None else int(b_min)
        b_max = mb * 4 // 5 if b_max is None else int(b_max)
    else:
        b_min, b_max = int(b_min), int(b_max)
    cover, edges = tile_cover(b_min, b_max, max_level)
    if not cover and not edges:
        return spark.createDataFrame(
            [],
            _Q2_EMPTY
            + (", first_cell long, first_pos int" if with_first else ""),
        )

    parts = []
    if cover:
        by_level: dict[int, list[int]] = {}
        for k, c in cover:
            by_level.setdefault(k, []).append(c)
        cond = reduce(
            lambda a, b: a | b,
            [
                (F.col("level") == k) & F.col("cell").isin(cells)
                for k, cells in by_level.items()
            ],
        )
        t = tiles.filter(cond)
        if owner is not None:
            t = t.filter(F.col("owner") == owner)
        parts.append(t.select("owner", "keys"))
    if edges:
        econd = reduce(
            lambda a, b: a | b,
            [
                (F.col("event_id") >= lo) & (F.col("event_id") < hi)
                for lo, hi in edges
            ],
        )
        e = serve_q2_entry_store(spark, sf_dir, contract).filter(econd)
        if owner is not None:
            e = e.filter(F.col("owner") == owner)
        parts.append(
            e.groupBy("owner")
            .agg(
                F.slice(F.array_sort(F.collect_set("token_id")), 1, Q2_L)
                .alias("ks")
            )
            .select(
                "owner",
                F.expr(
                    "transform(ks, t -> struct(t AS t,"
                    f" {_EDGE_SENTINEL_CELL}L AS cell,"
                    " 2147483647 AS p))"
                ).alias("keys"),
            )
        )
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    topl = (
        merged.groupBy("owner")
        .agg(F.array_sort(F.flatten(F.collect_list("keys"))).alias("s"))
        .select("owner", _dedup_first_l("s", L).alias("keys"))
    )
    cols = [
        "owner",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.col("kx.t").alias("token_id"),
        F.lit(b_min).cast("long").alias("b_min"),
        F.lit(b_max).cast("long").alias("b_max"),
    ]
    if with_first:
        cols += [
            F.col("kx.cell").alias("first_cell"),
            F.col("kx.p").alias("first_pos"),
        ]
    return topl.select(
        "owner", F.posexplode("keys").alias("pos0", "kx")
    ).select(*cols)


# --- the ERC-20 family over the tile tree: per-owner u256 reward ------------
#
# A25 carries the GLOBAL scalar monoids, A26 the per-owner KEY SETS;
# this face completes the pair of reference query families: the
# per-owner u256 REWARD (query_erc20/block/ — the block tree whose
# nodes aggregate leaf-circuit rewards) over an arbitrary
# [B_min, B_max), answered from per-(owner, cell) LIMB-SUM tiles. The
# u256 monoid is the same limb-wise decimal(38) sum the D20
# `erc20_reward_view` spec maintains (carry normalization deferred to
# read), so tile merge ≡ re-aggregation in any order; the Arrow leaf
# circuit runs once per corpus version at entry-leaf artifact build,
# never at query time (edges read the block-clustered entry rows with
# event_id pushdown and fold them in column expressions).


def serve_erc20_all_entry_leaves(
    spark: SparkSession,
    sf_dir: str,
    rewards_rate: "int | None" = None,
    contract: "str | None" = None,
) -> DataFrame:
    """Per-entry leaf-circuit rewards over ALL of one contract's entries
    (the un-range-restricted sibling of merkle.erc20_entry_leaves — the
    block dimension is the QUERY parameter here), BLOCK-CLUSTERED at
    write so edge scans push their event_id range to the parquet
    row groups."""
    from euclid_spark import artifacts
    from euclid_spark.operators.euclid import (
        CONTRACT,
        REWARDS_RATE,
        erc20_leaf_rows,
    )

    rate = REWARDS_RATE if rewards_rate is None else int(rewards_rate)
    fp = artifacts.corpus_fingerprint(
        [f"{sf_dir}/events.parquet"],
        op="erc20_all_entry_leaves", rate=rate, tile=TILE_SIZE,
        layout="block_v2",
        contract=CONTRACT if contract is None else contract,
    )

    def build() -> DataFrame:
        ev = load_events(spark, sf_dir).filter(
            F.col("event_type")
            == (CONTRACT if contract is None else contract)
        )
        rows = erc20_leaf_rows(ev, rewards_rate)
        return (
            rows.withColumn(
                "cell",
                F.floor(F.col("event_id") / TILE_SIZE).cast("long"),
            )
            .repartitionByRange(8, "event_id")
            .sortWithinPartitions("event_id")
        )

    return artifacts.serve_frame(
        spark, "erc20_all_entry_leaves", fp, build,
        options=artifacts.FINE_ROW_GROUPS,  # edge-window pruning
    )


_DEC38 = "decimal(38,0)"


def _erc20_tile_agg(df: DataFrame, keys: "list") -> DataFrame:
    return df.groupBy(*keys).agg(
        *[
            F.sum(F.col(f"l{i}").cast(_DEC38)).cast(_DEC38).alias(f"s{i}")
            for i in range(4)
        ],
        F.sum("zs").cast("long").alias("zs"),
        F.sum("of").cast("long").alias("of"),
        F.count(F.lit(1)).alias("n_entries"),
    )


def _erc20_fold_up(lvl: DataFrame) -> DataFrame:
    return lvl.groupBy(
        F.shiftright(F.col("cell"), 1).alias("cell"), "owner"
    ).agg(
        *[F.sum(f"s{i}").cast(_DEC38).alias(f"s{i}") for i in range(4)],
        F.sum("zs").cast("long").alias("zs"),
        F.sum("of").cast("long").alias("of"),
        F.sum("n_entries").cast("long").alias("n_entries"),
    )


def build_erc20_reward_tree(
    spark: SparkSession,
    sf_dir: str,
    rewards_rate: "int | None" = None,
    contract: "str | None" = None,
) -> DataFrame:
    import math

    ev = load_events(spark, sf_dir)
    mb = ev.agg(F.max("event_id")).collect()[0][0]  # one-row fetch
    n_cells = (int(mb or 0) // TILE_SIZE) + 1
    depth = max(1, math.ceil(math.log2(n_cells))) if n_cells > 1 else 1
    leaves = serve_erc20_all_entry_leaves(spark, sf_dir, rewards_rate, contract)
    lvl = _erc20_tile_agg(leaves, ["cell", "owner"])
    out = [lvl.withColumn("level", F.lit(0))]
    for k in range(1, depth + 1):
        lvl = _erc20_fold_up(lvl)
        out.append(lvl.withColumn("level", F.lit(k)))
    tiles = out[0]
    for o in out[1:]:
        tiles = tiles.unionByName(o)
    return tiles.select(
        "level", "cell", "owner", "s0", "s1", "s2", "s3", "zs", "of",
        "n_entries",
    )


def _erc20_tree_fp(
    sf_dir: str, rewards_rate: "int | None", contract: "str | None"
) -> str:
    from euclid_spark import artifacts
    from euclid_spark.operators.euclid import CONTRACT, REWARDS_RATE

    rate = REWARDS_RATE if rewards_rate is None else int(rewards_rate)
    return artifacts.corpus_fingerprint(
        [f"{sf_dir}/events.parquet"],
        op="erc20_reward_tree", rate=rate, tile=TILE_SIZE,
        layout="owner_v3",
        contract=CONTRACT if contract is None else contract,
    )


def serve_erc20_reward_tree(
    spark: SparkSession,
    sf_dir: str,
    rewards_rate: "int | None" = None,
    contract: "str | None" = None,
) -> DataFrame:
    from euclid_spark import artifacts

    fp = _erc20_tree_fp(sf_dir, rewards_rate, contract)
    return artifacts.serve_frame(
        spark,
        "erc20_reward_tiles",
        fp,
        lambda: build_erc20_reward_tree(spark, sf_dir, rewards_rate, contract)
        .repartitionByRange(8, "owner")
        .sortWithinPartitions("owner", "level", "cell"),
        options=artifacts.FINE_ROW_GROUPS,  # cover-predicate pruning
    )


_ERC20_EMPTY = (
    "owner long, reward_hex string, n_zero_supply long, n_overflow long, "
    "n_entries long, b_min long, b_max long"
)


def erc20_range_tree_reward(
    spark: SparkSession,
    sf_dir: str,
    owner: "int | None" = None,
    b_min: "int | None" = None,
    b_max: "int | None" = None,
    rewards_rate: "int | None" = None,
    contract: "str | None" = None,
) -> DataFrame:
    """A29 — the ERC-20 reward over an ARBITRARY block range in
    O(log range): per-owner ⌊balance·rate/supply⌋ u256 totals for
    [B_min, B_max) folded from the canonical tile cover + two edge
    scans of the block-clustered entry-leaf artifact — with A25/A26
    this makes BOTH reference query families answerable from tiles
    over any range. Parameterized (owner, b_min, b_max, rewards_rate);
    the pinned face is all owners over the ⅕..⅘ probe range; each
    contract serves its own reward tile tree."""
    from euclid_spark.functions.u256 import u256_carry_hex

    from euclid_spark import artifacts

    tiles = serve_erc20_reward_tree(spark, sf_dir, rewards_rate, contract)
    # footer-stats metadata fetch — see q2_range_tree_topl's note
    ml = artifacts.stat_min_max(
        "erc20_reward_tiles",
        _erc20_tree_fp(sf_dir, rewards_rate, contract),
        "level",
    )[1]
    if ml is None:
        return spark.createDataFrame([], _ERC20_EMPTY)
    max_level = int(ml)
    if b_min is None or b_max is None:
        mb = _served_max_block(spark, sf_dir)
        b_min = mb // 5 if b_min is None else int(b_min)
        b_max = mb * 4 // 5 if b_max is None else int(b_max)
    else:
        b_min, b_max = int(b_min), int(b_max)
    cover, edges = tile_cover(b_min, b_max, max_level)
    if not cover and not edges:
        return spark.createDataFrame([], _ERC20_EMPTY)

    parts = []
    if cover:
        by_level: dict[int, list[int]] = {}
        for k, c in cover:
            by_level.setdefault(k, []).append(c)
        cond = reduce(
            lambda a, b: a | b,
            [
                (F.col("level") == k) & F.col("cell").isin(cells)
                for k, cells in by_level.items()
            ],
        )
        t = tiles.filter(cond)
        if owner is not None:
            t = t.filter(F.col("owner") == owner)
        parts.append(
            t.select(
                "owner", "s0", "s1", "s2", "s3", "zs", "of", "n_entries"
            )
        )
    if edges:
        econd = reduce(
            lambda a, b: a | b,
            [
                (F.col("event_id") >= lo) & (F.col("event_id") < hi)
                for lo, hi in edges
            ],
        )
        e = serve_erc20_all_entry_leaves(
            spark, sf_dir, rewards_rate, contract
        ).filter(econd)
        if owner is not None:
            e = e.filter(F.col("owner") == owner)
        parts.append(
            _erc20_tile_agg(e, ["owner"]).select(
                "owner", "s0", "s1", "s2", "s3", "zs", "of", "n_entries"
            )
        )
    partials = parts[0]
    for p in parts[1:]:
        partials = partials.unionByName(p)
    total = partials.groupBy("owner").agg(
        *[F.sum(f"s{i}").cast(_DEC38).alias(f"s{i}") for i in range(4)],
        F.sum("zs").cast("long").alias("n_zero_supply"),
        F.sum("of").cast("long").alias("n_overflow"),
        F.sum("n_entries").cast("long").alias("n_entries"),
    )
    return total.select(
        "owner",
        u256_carry_hex(
            F.col("s0"), F.col("s1"), F.col("s2"), F.col("s3")
        ).alias("reward_hex"),
        "n_zero_supply",
        "n_overflow",
        "n_entries",
        F.lit(b_min).cast("long").alias("b_min"),
        F.lit(b_max).cast("long").alias("b_max"),
    )


QUERIES = {
    "euclid_range_tree_agg": range_tree_agg,
    "euclid_q2_range_tree_topL": q2_range_tree_topl,
    "euclid_erc20_range_tree_reward": erc20_range_tree_reward,
}

from euclid_spark.functions.hashing import MIX  # noqa: E402

ORACLES = {
    # full recompute over the same range — the gate proves the tile
    # path equals scanning the rows
    "euclid_range_tree_agg": f"""
        WITH b AS (
            SELECT CAST(FLOOR(MAX(event_id) / 5) AS BIGINT) AS b_min,
                   CAST(FLOOR(MAX(event_id) * 4 / 5) AS BIGINT) AS b_max
            FROM events
        )
        SELECT b.b_min, b.b_max,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_value,
               MIN(event_id) AS min_block,
               MAX(event_id) AS max_block,
               CAST(SUM((event_id * {MIX} + user_id * 97) % {DIGEST_PRIME})
                    % {DIGEST_PRIME} AS BIGINT) AS range_digest
        FROM events, b
        WHERE event_id >= b.b_min AND event_id < b.b_max
        GROUP BY b.b_min, b.b_max
    """,
    # A3's semantics over the same range, recomputed from the rows — the
    # gate proves the tile cover + edge scans reveal exactly the keys a
    # full range scan would
    "euclid_q2_range_tree_topL": f"""
        WITH b AS (
            SELECT CAST(FLOOR(MAX(event_id) / 5) AS BIGINT) AS b_min,
                   CAST(FLOOR(MAX(event_id) * 4 / 5) AS BIGINT) AS b_max
            FROM events
        ),
        d AS (
            SELECT DISTINCT user_id AS owner,
                   CAST(json_extract_string(props, '$.k') AS BIGINT)
                       AS token_id
            FROM events, b
            WHERE event_type = 'purchase'
              AND json_extract_string(props, '$.k') IS NOT NULL
              AND event_id >= b.b_min AND event_id < b.b_max
        ),
        r AS (
            SELECT owner, token_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY owner
                        ORDER BY token_id) AS INT) AS pos
            FROM d
        )
        SELECT r.owner, r.pos, r.token_id, b.b_min, b.b_max
        FROM r CROSS JOIN b
        WHERE r.pos <= {Q2_L}
    """,
}

from euclid_spark.operators.euclid import REWARDS_RATE as _RATE  # noqa: E402

from euclid_spark.operators.euclid import u256_overflow_oracle_sql  # noqa: E402

_A29_OVERFLOW_SQL = u256_overflow_oracle_sql(_RATE)

# A29: full HUGEINT recompute over the range — the gate proves the
# per-owner limb-sum tile path equals re-running the leaf circuit on
# every row in range (the A13 oracle shape with the range as the query)
ORACLES["euclid_erc20_range_tree_reward"] = f"""
    WITH b AS (
        SELECT CAST(FLOOR(MAX(event_id) / 5) AS BIGINT) AS b_min,
               CAST(FLOOR(MAX(event_id) * 4 / 5) AS BIGINT) AS b_max
        FROM events
    ),
    e AS (
        SELECT user_id, event_id,
               CAST(FLOOR(value * 10000) AS HUGEINT) AS scaled,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS tok
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND event_id >= b.b_min AND event_id < b.b_max
    )
    SELECT user_id AS owner,
           lpad(lower(to_hex(SUM(
               CASE WHEN tok IS NULL OR tok = 0 THEN CAST(0 AS HUGEINT)
                    ELSE (scaled * CAST('18446744073709551616' AS HUGEINT)
                          + event_id) * {_RATE} // tok
               END))), 64, '0') AS reward_hex,
           CAST(SUM(CASE WHEN tok IS NULL OR tok = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_zero_supply,
           {_A29_OVERFLOW_SQL} AS n_overflow,
           CAST(COUNT(*) AS BIGINT) AS n_entries,
           b.b_min, b.b_max
    FROM e, b GROUP BY user_id, b.b_min, b.b_max
"""
