"""Block-range aggregation over hierarchical tile trees (SURVEY.md
§2.A25, A26, A29).

The reference answers any `[B_min, B_max]` query by combining
PRECOMPUTED per-node aggregates up its block trees —
`query2/block/{partial,full}_node.rs` and `query_erc20/block/`: query
cost ∝ log(range), not rows-in-range. Each reference query family is
one monoid over TILE_SIZE-block cells, and each is declared here ONCE,
as a `TileTree`:

- `RANGE_TREE` (A25, `range_tree_tiles`): the global scalar monoid —
  count, DECIMAL value sum, min/max block and the additive mod-prime
  digest, every one commutative;
- `Q2_KEY_TREE` (A26, `q2_key_tiles`): per owner, each cell's FIRST-L
  distinct mapping keys with their first occurrence — a bounded min-L
  selection lattice (merge = union → sort → truncate: a key dropped at
  truncation is larger than ≥ L keys of its own cell, hence of any
  union containing it), L baked in as the circuit's L is at setup;
- `ERC20_REWARD_TREE` (A29, `erc20_reward_tiles`): per owner, the u256
  leaf-circuit rewards as limb-wise decimal(38) sums (carry deferred to
  read), built from the served entry-leaf store so the Arrow leaf
  circuit runs once per corpus version.

A declaration names the artifact and its fingerprint params, the key
columns, the input rows, the `leaf` aggregate over rows, the `combine`
aggregate over partials, the owner-clustered entry store its edge
windows read (a keyed tree's; the range-response leaves are the same
rows), and the driver fold. Everything else derives from it:

- **Batch levels** (`TileTree.levels`): two aggregations at any depth —
  `leaf` per (cell, *keys) for level 0, then the level-0 partials
  exploded over levels 1..depth (`cell >> level`) into ONE `combine`
  per (level, cell, *keys), the streaming partial's shape; unioned with
  level 0 and stored as a fingerprint-keyed artifact. The keyless tree
  is written dense, sorted by (level, cell) in one file. A keyed tree
  stores one row per CHAIN (`chains`): a leaf or a two-child node with
  the run of one-child promotion copies above it, as (owner, level,
  top, lo, partial, node_hash), node_hash the node's digest in its
  family's range-response cell tree (`commit`), so one read serves a
  tree answer and a response — most owners hold a few cells, so the
  copies would be most of the rows, O(entries × depth) instead of
  O(entries). A leaf chain (level 0) stores a null node_hash: its
  digest is its cell's root, which a response refolds from the
  ≤ TILE_SIZE entry rows of that cell (`range_response.cell_roots`),
  so only the two-child chains carry a digest. It is written
  owner-clustered by (owner, lo, level) in row groups of at most
  `artifacts.ROW_GROUP_ROWS` rows, so one owner's cover read prunes to
  the row groups that hold its rows.
- **Streaming upkeep** (`TileTree.partial` / `merge`, the D19 monoid
  pair with monoid.Monoid's surface, so the tree itself is its
  `parity.SPECS` entry and the declaration its `faces.MAINTAINED` row
  references): each input row contributes one cell per level
  0.._RT_LEVELS, grouped by (chunk, level, cell, *keys) → `leaf`; merge
  is `combine`. The state keeps only fields that do not depend on how
  the stream splits into batches (`TileTree.invariant`).
- **Range answers**: `tile_cover` gives ≤ 2 aligned tiles per level
  plus two < TILE_SIZE edge windows. In a chain store, tile (k, c) is
  the one row with level ≤ k ≤ top and lo >> k = c — one term per
  level for all of that level's tiles (`chain_filter`, `chain_cond`),
  and `chain_match` maps rows back to tiles. Owner-scoped and keyless
  requests read exactly the cover's rows with `artifacts.read_rows`
  and fold them on the driver (`TileTree.driver_fold`); the all-owner
  form, whose output grows with the owners, is a Spark plan
  (`TileTree.spark_answer`): cover tiles ∪ `leaf`(edge rows by owner)
  → `combine` by owner → the face's finisher. Nothing reads the range
  interior.

Oracle: the full-recompute SQL over the same range — the gate proves
the tile path returns exactly what scanning the rows would.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from euclid_spark import artifacts
from euclid_spark.catalog import count_fallback, load_events, local_frame
from euclid_spark.functions.hashing import (
    DIGEST_PRIME,
    MIX,
    digest_agg,
    digest_term,
)
from euclid_spark.operators.euclid import (
    CONTRACT,
    REWARDS_RATE,
    erc20_leaf_rows,
    u256_overflow_oracle_sql,
)
from euclid_spark.operators.euclid import TOP_L as Q2_L

TILE_SIZE = 256  # blocks per level-0 tile (the finest granularity)
_RT_LEVELS = 6  # tree levels the streaming upkeep maintains

# Sentinel first-occurrence cell for keys contributed by an EDGE slice
# (no covered-cell occurrence known to the tile path): sorts after every
# real (cell, pos), so a min-merge keeps the covered occurrence if one
# exists and the sentinel survives only for edge-only keys.
_EDGE_SENTINEL_CELL = (1 << 63) - 1
_NO_POS = 2**31 - 1  # an edge occurrence has no in-cell position


def tree_depth(n_cells: int) -> int:
    """Levels above the leaves of a binary tree over `n_cells` level-0
    cells: ⌈log₂ n_cells⌉, at least 1."""
    return max(1, (n_cells - 1).bit_length())


def _cell() -> Column:
    """An event's level-0 cell."""
    return F.floor(F.col("event_id") / TILE_SIZE).cast("long")


def stream_chunk() -> Column:
    """A streaming view's partition key: the level-_RT_LEVELS chunk of a
    row's `cell`. Every tile at level ≤ _RT_LEVELS lies inside one
    chunk, so a micro-batch rewrites only the chunks it touches
    (partial_node.rs's locality: appending block n re-proves one path,
    not the tree). INT, not LONG: partition directory values are
    re-inferred as int32 on read."""
    return F.shiftright("cell", _RT_LEVELS).cast("int").alias("day")


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


def _by_level(cover: "list[tuple[int, int]]") -> "dict[int, list[int]]":
    by_level: "dict[int, list[int]]" = {}
    for k, c in cover:
        by_level.setdefault(k, []).append(c)
    return by_level


def _cover_filter(cover: "list[tuple[int, int]]") -> list:
    """(level, cell) pairs of the dense keyless tree as a `read_rows`
    filter: one (level, cell IN ...) conjunction per level."""
    return [
        [("level", "=", k), ("cell", "in", cells)]
        for k, cells in _by_level(cover).items()
    ]


def _edge_filter(edges: "list[tuple[int, int]]", *conj: tuple) -> list:
    """The < TILE_SIZE edge windows as a `read_rows` filter on
    event_id, each AND-ed with `conj`."""
    return [[*conj, ("event_id", ">=", lo), ("event_id", "<", hi)] for lo, hi in edges]


# --- the owner-keyed chain layout ----------------------------------------------
#
# An owner-keyed tree stores one row per CHAIN: a leaf or a two-child
# node together with the run of one-child nodes above it, each of which
# holds its only child's payload (a promotion copy). The row is
# (owner, level, top, lo, payload): `level` is the chain's bottom level,
# `top` its highest, `lo` the smallest level-0 cell under it, and the
# node at level k in [level, top] is (k, lo >> k). Most owners hold a
# few cells, so the copies would otherwise be most of the rows, and
# their share grows with the depth.


def chains(nodes: DataFrame, depth: int) -> DataFrame:
    """The chain rows of a full owner-keyed node set `nodes` (owner,
    level, cell, payload...) of levels 0..depth: the level-0 span
    (lo, hi) of every node, then one row per (owner, lo, hi) at its
    lowest level, with `top` its highest and that node's payload."""
    payload = [c for c in nodes.columns if c not in ("owner", "level", "cell")]
    span = (
        nodes.filter(F.col("level") == 0)
        .select(
            "owner", F.col("cell").alias("c0"),
            F.explode(F.sequence(F.lit(0), F.lit(depth))).alias("level"),
        )
        .groupBy("owner", "level", F.expr("shiftright(c0, level)").alias("n"))
        .agg(F.min("c0").alias("lo"), F.max("c0").alias("hi"))
        .groupBy("owner", "lo", "hi")
        .agg(F.min("level").alias("level"), F.max("level").alias("top"))
        .withColumn("n", F.expr("shiftright(lo, level)"))
    )
    bottom = nodes.select("owner", "level", F.col("cell").alias("n"), *payload)
    return span.join(bottom, ["owner", "level", "n"]).select(
        "owner", "level", "top", "lo", *payload
    )


def chain_filter(nodes: "list[tuple[int, int]]", owner: int):
    """`owner`'s (level, cell) nodes of a chain store as a `read_rows`
    filter: per level k, the rows with level ≤ k ≤ top whose lo >> k
    is one of that level's cells. Node (k, c) is held by exactly one
    row — a nested chain with the same `lo` tops out below k — so a
    cover reads ≤ 2 rows per level. One term per level, not per node:
    the reader's cost grows with the filter's terms."""
    import pyarrow.compute as pc

    return (pc.field("owner") == owner) & reduce(
        lambda a, b: a | b,
        [
            (pc.field("level") <= k) & (pc.field("top") >= k)
            & pc.shift_right(pc.field("lo"), k).isin(cells)
            for k, cells in _by_level(nodes).items()
        ],
    )


def chain_cond(nodes: "list[tuple[int, int]]") -> Column:
    """`chain_filter` over every owner, as a Spark predicate for the
    all-owner faces."""
    return reduce(
        lambda a, b: a | b,
        [
            (F.col("level") <= k) & (F.col("top") >= k)
            & F.shiftright("lo", k).isin(cells)
            for k, cells in _by_level(nodes).items()
        ],
    )


def chain_match(
    rows: "list[dict]", nodes: "list[tuple[int, int]]"
) -> "dict[tuple[int, int], dict]":
    """{(level, cell): row} for each of `nodes` some chain row holds."""
    want = set(nodes)
    out: "dict[tuple[int, int], dict]" = {}
    for r in rows:
        for k in range(r["level"], r["top"] + 1):
            if (k, r["lo"] >> k) in want:
                out[(k, r["lo"] >> k)] = r
    return out


def _edge_cond(edges: "list[tuple[int, int]]") -> Column:
    """The edge windows as a Spark predicate on event_id."""
    return reduce(
        lambda a, b: a | b,
        [
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
            for lo, hi in edges
        ],
    )


def _sql_agg(fn, values):
    """`fn` over `values` with SQL's null rules: nulls are skipped, and
    no non-null value gives null."""
    vals = [v for v in values if v is not None]
    return fn(vals) if vals else None


_MICRO = Decimal("0.000001")


def _micros(v: "float | None") -> "int | None":
    """`CAST(v AS decimal(18,6))` in integer micro-units: Spark casts a
    double through its shortest decimal form, rounding HALF_UP."""
    if v is None:
        return None
    return int(Decimal(repr(v)).quantize(_MICRO, rounding=ROUND_HALF_UP).scaleb(6))


def _probe_range(
    spark: SparkSession, sf_dir: str, b_min: "int | None", b_max: "int | None"
) -> "tuple[int, int]":
    """(b_min, b_max) with unset bounds at the ⅕ and ⅘ points of the
    block space — the scale-invariant probe every pinned face uses."""
    if b_min is not None and b_max is not None:
        return int(b_min), int(b_max)
    mb = _served_max_block(spark, sf_dir)
    return (
        mb // 5 if b_min is None else int(b_min),
        mb * 4 // 5 if b_max is None else int(b_max),
    )


def _events_footer(spark: SparkSession, sf_dir: str, column: str) -> tuple:
    """(MIN, MAX) of an events column and the table's row count, from
    its parquet FOOTERS. Falls back to a one-row Spark fold, logged at
    WARNING and counted (`catalog.count_fallback`), when the footers
    cannot answer (a non-local path, or a row group without
    statistics)."""
    path = f"{sf_dir}/events.parquet"
    try:
        st = artifacts.footer_stats(path)
        return (*st.span(column), st.num_rows)
    except Exception as ex:  # noqa: BLE001 — same value from one fold
        logging.getLogger(__name__).warning(
            "range_tree: no footer span(%s) for %s (%s); one-row fold",
            column, path, ex,
        )
        count_fallback("footer_span_fold")
        return tuple(
            load_events(spark, sf_dir)
            .agg(F.min(column), F.max(column), F.count(F.lit(1)))
            .collect()[0]
        )


def _max_event_id(spark: SparkSession, sf_dir: str) -> int:
    """The events table's max event_id (0 when it has none)."""
    return int(_events_footer(spark, sf_dir, "event_id")[1] or 0)


def _depth(spark: SparkSession, sf_dir: str) -> int:
    """A tile tree's depth: it covers the FULL block space, so any cover
    stays ≤ 2 tiles per level."""
    return tree_depth(_max_event_id(spark, sf_dir) // TILE_SIZE + 1)


def _served_max_block(spark: SparkSession, sf_dir: str) -> int:
    """The corpus's max block from the served scalar tile tree's parquet
    FOOTER — the default-range probe every pinned face derives, without
    a data scan (ensured first so the artifact exists)."""
    mb = artifacts.footer_stats(RANGE_TREE.path(spark, sf_dir)).span(
        "max_block"
    )[1]
    return int(mb or 0)


# --- the declaration ----------------------------------------------------------


@dataclass(frozen=True)
class TileTree:
    """One block-tile tree, declared once; see the module docstring for
    what derives from it. `leaf(rows, by)` and `combine(partials, by)`
    group by `by` and return `by` plus the `cols` partial columns;
    `fold(tile_rows, edge_rows)` is the same monoid in exact Python
    arithmetic (`edge_rows` is None when the request has no edge
    window)."""

    tiles: artifacts.Artifact  # the tree's own store, over the events
    axes: tuple  # request params in the fingerprint: "contract", "rate"
    keys: tuple  # key columns beside (level, cell)
    # (events, contract, rate) → input rows (event_id, keys, measures)
    rows: Callable[[DataFrame, "str | None", "int | None"], DataFrame]
    leaf: Callable[[DataFrame, list], DataFrame]
    combine: Callable[[DataFrame, list], DataFrame]
    cols: tuple  # partial columns
    edge_cols: tuple  # input-row columns the driver fold reads
    fold: Callable[[list, "list | None"], object]
    # the owner-clustered input-row store the edge windows read; None
    # reads the events table itself
    store: "artifacts.Artifact | None" = None
    # projection of a streaming partial onto its split-invariant fields
    invariant: "Callable[[DataFrame], DataFrame] | None" = None
    commit: "str | None" = None  # range_response family of `node_hash`
    # the rest of a monoid.Monoid's surface: the stream chunk is `day`
    key_col = "day"
    finalize = None

    @property
    def name(self) -> str:
        return self.tiles.name

    def _spec(
        self, spark: SparkSession, sf_dir: str, contract, rate, store: bool
    ) -> tuple:
        """(path, build, options) of the tree or, with `store`, of its
        input-row store — the one definition the path and frame forms
        share. Every tree store serves bounded reads, so each is written
        `ROW_CAPPED`."""
        vals = {
            "contract": CONTRACT if contract is None else contract,
            "rate": REWARDS_RATE if rate is None else int(rate),
        }
        path = (self.store if store else self.tiles).path(
            sf_dir, **{a: vals[a] for a in self.axes}
        )
        if store:
            def build() -> DataFrame:
                return artifacts.clustered(
                    spark,
                    self.rows(load_events(spark, sf_dir), contract, rate),
                    "owner", _events_footer(spark, sf_dir, "user_id"),
                    "event_id",
                )
        elif self.keys:
            # the keyed trees key on the owner, the events' user_id, and
            # store one row per chain, with the cell tree's digests of
            # the two-child chains: a leaf chain's digest is its cell
            # root, which a response refolds from the cell's entry rows
            def build() -> DataFrame:
                from euclid_spark.operators.range_response import cell_tree

                depth = _depth(spark, sf_dir)
                nodes = self.levels(spark, sf_dir, contract, rate).join(
                    cell_tree(spark, sf_dir, self.commit, depth, rate, contract),
                    ["owner", "level", "cell"],
                )
                return artifacts.clustered(
                    spark,
                    chains(nodes, depth).withColumn(
                        "node_hash",
                        F.when(F.col("level") > 0, F.col("node_hash")),
                    ),
                    "owner", _events_footer(spark, sf_dir, "user_id"),
                    "lo", "level",
                )
        else:
            # one file, in the (level, cell) order the cover read filters on
            def build() -> DataFrame:
                return self.levels(spark, sf_dir).orderBy("level", "cell")
        return path, build, artifacts.ROW_CAPPED

    def path(
        self, spark: SparkSession, sf_dir: str, contract=None, rate=None,
        store: bool = False,
    ) -> str:
        """The artifact's path, built on a miss."""
        return artifacts.ensure(*self._spec(spark, sf_dir, contract, rate, store))

    def frame(
        self, spark: SparkSession, sf_dir: str, contract=None, rate=None,
        store: bool = False,
    ) -> DataFrame:
        """The artifact as a Spark scan, built on a miss."""
        return artifacts.serve_frame(
            spark, *self._spec(spark, sf_dir, contract, rate, store)
        )

    def levels(
        self, spark: SparkSession, sf_dir: str, contract=None, rate=None
    ) -> DataFrame:
        """Every tree level in two aggregations at any depth: `leaf` per
        (cell, *keys) for level 0, then those level-0 partials exploded
        over levels 1..depth with `cell >> level` and ONE `combine` per
        (level, cell, *keys) — the streaming `partial`'s shape. Each
        combine is associative, so a node combined straight from its
        level-0 cells equals the chain through its children; both
        branches read the one leaf exchange. The depth covers the FULL
        block space (`_depth`). A tree with a store builds from the
        served store."""
        src = (
            self.frame(spark, sf_dir, contract, rate, store=True)
            if self.store
            else self.rows(load_events(spark, sf_dir), contract, rate)
        )
        depth = _depth(spark, sf_dir)
        by = ["cell", *self.keys]
        out = ["level", *by, *self.cols]
        leaf = self.leaf(src.withColumn("cell", _cell()), by)
        up = self.combine(
            leaf.withColumn(
                "level", F.explode(F.sequence(F.lit(1), F.lit(depth)))
            ).withColumn("cell", F.expr("shiftright(cell, level)")),
            ["level", *by],
        )
        return leaf.withColumn("level", F.lit(0)).select(*out).unionByName(
            up.select(*out)
        )

    def partial(self, events: DataFrame) -> DataFrame:
        """The streaming partial of one micro-batch: each input row
        touches one cell per level 0.._RT_LEVELS, keyed by its chunk."""
        rows = (
            self.rows(events, None, None)
            .withColumn("cell", _cell())
            .withColumn("level", F.explode(F.sequence(F.lit(0), F.lit(_RT_LEVELS))))
        )
        out = self.leaf(rows, [
            stream_chunk(),
            "level",
            F.expr("shiftright(cell, level)").alias("cell"),
            *self.keys,
        ])
        return out if self.invariant is None else self.invariant(out)

    def merge(self, old: DataFrame, partial: DataFrame) -> DataFrame:
        """The streaming merge: `combine` per (chunk, level, cell, *keys)."""
        return self.combine(
            old.unionByName(partial), ["day", "level", "cell", *self.keys]
        )

    def request(
        self, spark: SparkSession, sf_dir: str, b_min, b_max, contract=None,
        rate=None,
    ) -> "tuple[int, int, list, list] | None":
        """(b_min, b_max, cover, edges) of a range request, or None when
        the answer is empty: a tree without tiles, or a degenerate
        range. The depth is the highest level (a chain store's `top`)
        in the served tree's footers, read after the ensure — an
        agg(max) would scan every tile row."""
        ml = artifacts.footer_stats(
            self.path(spark, sf_dir, contract, rate)
        ).span("top" if self.keys else "level")[1]
        if ml is None:
            return None
        b_min, b_max = _probe_range(spark, sf_dir, b_min, b_max)
        cover, edges = tile_cover(b_min, b_max, int(ml))
        return (b_min, b_max, cover, edges) if cover or edges else None

    def driver_fold(
        self, spark: SparkSession, sf_dir: str, cover, edges, owner=None,
        contract=None, rate=None, tiles=None, edge_rows=None,
    ):
        """One owner's (or the keyless tree's) answer folded on the
        driver: `artifacts.read_rows` of the ≤ 2-per-level cover tiles
        and of the input rows in the two edge windows, unless the
        caller has read them (`tiles`, `edge_rows`), then `fold`. No
        Spark job runs."""
        own = () if owner is None else (("owner", "=", owner),)
        if tiles is None and cover and self.keys:
            tiles = list(chain_match(
                artifacts.read_rows(
                    self.path(spark, sf_dir, contract, rate),
                    chain_filter(cover, owner),
                    ["level", "top", "lo", *self.cols],
                ),
                cover,
            ).values())
        elif tiles is None and cover:
            tiles = artifacts.read_rows(
                self.path(spark, sf_dir, contract, rate),
                _cover_filter(cover), list(self.cols),
            )
        if not edges:
            edge_rows = None
        elif edge_rows is None:
            src = (
                self.path(spark, sf_dir, contract, rate, store=True)
                if self.store
                else f"{sf_dir}/events.parquet"
            )
            edge_rows = artifacts.read_rows(
                src, _edge_filter(edges, *own), list(self.edge_cols)
            )
        return self.fold(tiles or [], edge_rows)

    def spark_answer(
        self, spark: SparkSession, sf_dir: str, cover, edges, contract=None,
        rate=None,
    ) -> DataFrame:
        """Every owner's combined partial over the cover + edges, as a
        Spark plan: cover tiles ∪ `leaf`(edge rows by owner) → `combine`
        by owner. Edge rows carry the sentinel cell — they have no
        covered occurrence."""
        cols = [*self.keys, *self.cols]
        parts = []
        if cover:
            parts.append(
                self.frame(spark, sf_dir, contract, rate)
                .filter(chain_cond(cover)).select(*cols)
            )
        if edges:
            e = self.frame(spark, sf_dir, contract, rate, store=True).filter(
                _edge_cond(edges)
            )
            parts.append(
                self.leaf(
                    e.withColumn("cell", F.lit(_EDGE_SENTINEL_CELL)),
                    list(self.keys),
                ).select(*cols)
            )
        return self.combine(reduce(DataFrame.unionByName, parts), list(self.keys))


# --- A25: the scalar monoid ---------------------------------------------------


def _rt_leaf(rows: DataFrame, by: list) -> DataFrame:
    term = digest_term(
        F.col("event_id").cast("long"), F.col("user_id").cast("long")
    )
    return rows.groupBy(*by).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(28,6)")
        .alias("sum_value"),
        F.min("event_id").alias("min_block"),
        F.max("event_id").alias("max_block"),
        digest_agg(term).alias("digest"),
    )


def _rt_combine(parts: DataFrame, by: list) -> DataFrame:
    return parts.groupBy(*by).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value").cast("decimal(28,6)").alias("sum_value"),
        F.min("min_block").alias("min_block"),
        F.max("max_block").alias("max_block"),
        F.pmod(F.sum("digest"), F.lit(DIGEST_PRIME))
        .cast("long")
        .alias("digest"),
    )


def _rt_fold(tiles: list, ev: "list | None") -> tuple:
    """(n_events, total_value, min_block, max_block, range_digest) with
    Spark's types and null rules: decimal(18,6) HALF_UP value cast,
    HALF_UP total to 2 places, pmod digest."""
    parts = [
        {**r, "sum_value": None if r["sum_value"] is None
         else int(r["sum_value"].scaleb(6))}
        for r in tiles
    ]
    if ev is not None:
        terms = [
            (r["event_id"] * MIX + r["user_id"] * 97) % DIGEST_PRIME
            for r in ev
            if r["event_id"] is not None and r["user_id"] is not None
        ]
        dg = _sql_agg(sum, terms)
        parts.append({
            "n_events": len(ev),  # count(*): every edge row
            "sum_value": _sql_agg(sum, (_micros(r["value"]) for r in ev)),
            "min_block": _sql_agg(min, (r["event_id"] for r in ev)),
            "max_block": _sql_agg(max, (r["event_id"] for r in ev)),
            "digest": None if dg is None else dg % DIGEST_PRIME,
        })
    total = _sql_agg(sum, (p["sum_value"] for p in parts))
    digest = _sql_agg(sum, (p["digest"] for p in parts))
    return (
        _sql_agg(sum, (p["n_events"] for p in parts)),
        None if total is None else float(
            Decimal(total).scaleb(-6).quantize(
                Decimal("0.01"), rounding=ROUND_HALF_UP
            )
        ),
        _sql_agg(min, (p["min_block"] for p in parts)),
        _sql_agg(max, (p["max_block"] for p in parts)),
        None if digest is None else digest % DIGEST_PRIME,
    )


RANGE_TREE = TileTree(
    tiles=artifacts.Artifact(
        "range_tree_tiles", "events", dict(op="range_tree", tile=TILE_SIZE)
    ),
    axes=(),
    keys=(),
    rows=lambda ev, contract, rate: ev.select("event_id", "user_id", "value"),
    leaf=_rt_leaf,
    combine=_rt_combine,
    cols=("n_events", "sum_value", "min_block", "max_block", "digest"),
    edge_cols=("event_id", "user_id", "value"),
    fold=_rt_fold,
)


# --- A26: the first-L distinct-key lattice ------------------------------------


def _q2_entries(ev: DataFrame, contract: "str | None" = None) -> DataFrame:
    """Qualifying mapping entries: the Query2 extraction filter (one
    contract's events carrying a mapping key — the contract-address
    input of query2/api.rs), shared by the tree, its entry store and
    the response leaves."""
    tok = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.filter(
            F.col("event_type") == (CONTRACT if contract is None else contract)
        )
        .select(
            F.col("user_id").alias("owner"),
            "event_id",
            tok.alias("token_id"),
        )
        .filter(F.col("token_id").isNotNull())
    )


def _dedup_first_l(col: str, limit: int) -> Column:
    """First-L distinct keys of a SORTED key-struct array, keeping each
    key's minimal occurrence: the array is sorted by (t, cell[, p]), so
    the first struct per t IS the min — an index-lambda filter drops
    the rest, then the L bound truncates."""
    return F.expr(
        f"slice(filter({col}, (x, i) -> i = 0 OR {col}[i-1].t != x.t),"
        f" 1, {limit})"
    )


def _q2_leaf(rows: DataFrame, by: list) -> DataFrame:
    """Per group, the first-L distinct keys, each with its FIRST
    OCCURRENCE (t, cell, p): cell is the earliest leaf cell holding the
    key, p its rank in the group's key order — at level 0 its rank in
    the cell's full distinct ordering (a key surviving any first-L view
    has rank < L, so truncation never hides it). Edge rows carry the
    sentinel cell and no position."""
    occ = F.array_sort(F.collect_set(
        F.struct(F.col("token_id").alias("t"), F.col("cell").alias("cell"))
    ))
    return rows.groupBy(*by).agg(occ.alias("s")).withColumn(
        "keys",
        F.transform(
            _dedup_first_l("s", Q2_L),
            lambda x, i: F.struct(
                x["t"].alias("t"),
                x["cell"].alias("cell"),
                F.when(x["cell"] == _EDGE_SENTINEL_CELL, _NO_POS)
                .otherwise(i).cast("int").alias("p"),
            ),
        ),
    ).drop("s")


def _q2_combine(parts: DataFrame, by: list) -> DataFrame:
    """Merge first-L lists (full_node.rs's set union + the revelation
    bound in one step), min-merging each key's occurrence: children
    span disjoint leaf-cell ranges, so the lexicographic (cell, p) min
    is the earlier occurrence."""
    return parts.groupBy(*by).agg(
        F.array_sort(F.flatten(F.collect_list("keys"))).alias("s")
    ).withColumn("keys", _dedup_first_l("s", Q2_L)).drop("s")


def _q2_fold(tiles: list, ev: "list | None") -> "list[dict]":
    """The first-L keys as {t, cell, p}, merged as `combine` merges:
    the cover tiles' structs plus the edge keys (sentinel-marked), sorted
    (t, cell, p), first entry per t."""
    keys = [k for r in tiles for k in r["keys"]]
    if ev is not None:
        keys.extend(
            {"t": t, "cell": _EDGE_SENTINEL_CELL, "p": _NO_POS}
            for t in sorted({r["token_id"] for r in ev})[:Q2_L]
        )
    keys.sort(key=lambda k: (k["t"], k["cell"], k["p"]))
    first = [k for i, k in enumerate(keys) if i == 0 or keys[i - 1]["t"] != k["t"]]
    return first[:Q2_L]


Q2_KEY_TREE = TileTree(
    tiles=artifacts.Artifact(
        "q2_key_tiles", "events",
        dict(op="q2_key_tree", tile=TILE_SIZE, L=Q2_L, layout="chain_v3"),
    ),
    axes=("contract",),
    keys=("owner",),
    rows=lambda ev, contract, rate: _q2_entries(ev, contract),
    leaf=_q2_leaf,
    combine=_q2_combine,
    cols=("keys",),
    edge_cols=("token_id",),
    fold=_q2_fold,
    # (owner, event_id, token_id) by owner: an owner's edge windows and
    # a response's opened cells prune to its row groups instead of
    # re-scanning and re-parsing the raw events table
    store=artifacts.Artifact(
        "q2_entry_store", "events", dict(op="q2_entry_store", layout="owner_v1")
    ),
    # a batch cannot know a key's rank in its whole leaf cell: the
    # stream keeps the earliest leaf cell and no position
    invariant=lambda df: df.withColumn(
        "keys",
        F.transform(
            "keys",
            lambda k: F.struct(
                k["t"].alias("t"), k["cell"].alias("cell"), F.lit(0).alias("p")
            ),
        ),
    ),
    commit="q2",
)


# --- A29: the per-owner u256 reward -------------------------------------------

_DEC38 = "decimal(38,0)"


def _erc20_rows(
    ev: DataFrame, contract: "str | None", rate: "int | None"
) -> DataFrame:
    """Per qualifying entry, (owner, event_id, l0..l3, zs, of): the
    leaf-circuit reward limbs and its two guard flags."""
    ev = ev.filter(
        F.col("event_type") == (CONTRACT if contract is None else contract)
    )
    return erc20_leaf_rows(ev, rate)


def _erc20_leaf(rows: DataFrame, by: list) -> DataFrame:
    return rows.groupBy(*by).agg(
        *[
            F.sum(F.col(f"l{i}").cast(_DEC38)).cast(_DEC38).alias(f"s{i}")
            for i in range(4)
        ],
        F.sum("zs").cast("long").alias("zs"),
        F.sum("of").cast("long").alias("of"),
        F.count(F.lit(1)).alias("n_entries"),
    )


def _erc20_combine(parts: DataFrame, by: list) -> DataFrame:
    return parts.groupBy(*by).agg(
        *[F.sum(f"s{i}").cast(_DEC38).alias(f"s{i}") for i in range(4)],
        F.sum("zs").cast("long").alias("zs"),
        F.sum("of").cast("long").alias("of"),
        F.sum("n_entries").cast("long").alias("n_entries"),
    )


_ERC20_SUMS = ("s0", "s1", "s2", "s3", "zs", "of", "n_entries")


def _erc20_fold(tiles: list, ev: "list | None") -> "tuple | None":
    """(reward_hex, n_zero_supply, n_overflow, n_entries), or None when
    the owner has no entry in range. Limb sums follow SQL's null rules;
    the reward is Σ sᵢ·2^(64i) mod 2²⁵⁶ as 64 hex digits
    (u256_carry_hex)."""
    parts = list(tiles)
    if ev:  # the Spark face's per-owner edge group
        part = {
            f"s{i}": _sql_agg(sum, (r[f"l{i}"] for r in ev)) for i in range(4)
        }
        part["zs"] = _sql_agg(sum, (r["zs"] for r in ev))
        part["of"] = _sql_agg(sum, (r["of"] for r in ev))
        part["n_entries"] = len(ev)
        parts.append(part)
    if not parts:
        return None
    tot = {c: _sql_agg(sum, (p[c] for p in parts)) for c in _ERC20_SUMS}
    limbs = [tot[f"s{i}"] for i in range(4)]
    reward = (
        None
        if any(v is None for v in limbs)
        else "%064x" % (sum(int(v) << (64 * i) for i, v in enumerate(limbs)) % 2**256)
    )
    return reward, tot["zs"], tot["of"], tot["n_entries"]


ERC20_REWARD_TREE = TileTree(
    tiles=artifacts.Artifact(
        "erc20_reward_tiles", "events",
        dict(op="erc20_reward_tree", tile=TILE_SIZE, layout="chain_v3"),
    ),
    axes=("rate", "contract"),
    keys=("owner",),
    rows=_erc20_rows,
    leaf=_erc20_leaf,
    combine=_erc20_combine,
    cols=_ERC20_SUMS,
    edge_cols=("l0", "l1", "l2", "l3", "zs", "of"),
    fold=_erc20_fold,
    # the leaf circuit runs once per corpus version, here: the tree
    # build, its edge windows, the range responses, and the pinned A13,
    # A23 and A24 (over the pinned window) all read these rows
    store=artifacts.Artifact(
        "erc20_all_entry_leaves", "events",
        dict(op="erc20_all_entry_leaves", tile=TILE_SIZE, layout="owner_v1"),
    ),
    commit="erc20",
)


# --- the query faces ----------------------------------------------------------

_AGG_DDL = (
    "b_min long, b_max long, n_events long, total_value double, "
    "min_block long, max_block long, range_digest long"
)


def range_tree_agg(
    spark: SparkSession,
    sf_dir: str,
    b_min: "int | None" = None,
    b_max: "int | None" = None,
) -> DataFrame:
    """A25 — the O(log-range) block-range aggregate: count, exact value
    total, block bounds, and range digest for `[B_min, B_max)` answered
    from the tile cover + two edge windows of the events table. The
    public parameterized surface takes any (b_min, b_max); the pinned
    gate face defaults to the ⅕ and ⅘ points of the block space
    (scale-invariant probe, the A22 pattern). The answer is one row
    with no owner axis, so it is folded on the driver and returned as
    one local frame: no Spark job runs until it is acted on."""
    req = RANGE_TREE.request(spark, sf_dir, b_min, b_max)
    if req is None:  # zero-row corpus, or a degenerate range
        return local_frame(spark, [], _AGG_DDL)
    b_min, b_max, cover, edges = req
    row = (b_min, b_max, *RANGE_TREE.driver_fold(spark, sf_dir, cover, edges))
    return local_frame(spark, [row], _AGG_DDL)


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
    canonical cover (≤ 2 tiles/level) plus two < TILE_SIZE edge windows
    of the owner-clustered entry store. The public parameterized
    surface — (owner, b_min, b_max, L, contract) — with the pinned gate
    face as one instantiation (owner=None → all owners; bounds default
    to the ⅕/⅘ probe range). L must be ≤ the tree's baked reveal bound
    Q2_L, exactly as the circuit's L is fixed at setup; each contract
    serves its own key-tile tree (one storage DB per contract).

    With an `owner` the answer is folded on the driver and returned as
    one local frame; with owner=None it is a Spark plan whose finisher
    explodes each owner's first L keys.

    `with_first=True` appends each key's first COVERED occurrence
    (first_cell, first_pos) from the tile structs — first_cell =
    _EDGE_SENTINEL_CELL marks a key seen only in the edge slices. The
    A30 response consumes the same fold to open revealed rows without
    its own leaf-store fetch."""
    L = Q2_L if L is None else int(L)
    if L > Q2_L:
        raise ValueError(
            f"L={L} exceeds the tile tree's baked reveal bound {Q2_L}; "
            "rebuild the tree with a larger Q2_L (the circuit-setup analog)"
        )
    ddl = _Q2_EMPTY + (", first_cell long, first_pos int" if with_first else "")
    req = Q2_KEY_TREE.request(spark, sf_dir, b_min, b_max, contract)
    if req is None:
        return local_frame(spark, [], ddl)
    b_min, b_max, cover, edges = req
    if owner is not None:
        owner = int(owner)
        keys = Q2_KEY_TREE.driver_fold(
            spark, sf_dir, cover, edges, owner, contract
        )[:L]
        return local_frame(
            spark,
            [
                (owner, i + 1, k["t"], b_min, b_max)
                + ((k["cell"], k["p"]) if with_first else ())
                for i, k in enumerate(keys)
            ],
            ddl,
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
    return (
        Q2_KEY_TREE.spark_answer(spark, sf_dir, cover, edges, contract)
        .select("owner", F.posexplode(F.slice("keys", 1, L)).alias("pos0", "kx"))
        .select(*cols)
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
    windows of the owner-clustered entry-leaf store — with A25/A26
    this makes BOTH reference query families answerable from tiles
    over any range. Parameterized (owner, b_min, b_max, rewards_rate);
    the pinned face is all owners over the ⅕..⅘ probe range; each
    contract serves its own reward tile tree.

    With an `owner` the row is folded on the driver and returned as one
    local frame; with owner=None it is a Spark plan whose finisher
    carries each owner's limb sums to hex."""
    from euclid_spark.functions.u256 import u256_carry_hex

    p = {"contract": contract, "rate": rewards_rate}
    req = ERC20_REWARD_TREE.request(spark, sf_dir, b_min, b_max, **p)
    if req is None:
        return local_frame(spark, [], _ERC20_EMPTY)
    b_min, b_max, cover, edges = req
    if owner is not None:
        owner = int(owner)
        tot = ERC20_REWARD_TREE.driver_fold(
            spark, sf_dir, cover, edges, owner, **p
        )
        rows = [] if tot is None else [(owner, *tot, b_min, b_max)]
        return local_frame(spark, rows, _ERC20_EMPTY)
    return ERC20_REWARD_TREE.spark_answer(
        spark, sf_dir, cover, edges, **p
    ).select(
        "owner",
        u256_carry_hex(
            F.col("s0"), F.col("s1"), F.col("s2"), F.col("s3")
        ).alias("reward_hex"),
        F.col("zs").alias("n_zero_supply"),
        F.col("of").alias("n_overflow"),
        "n_entries",
        F.lit(b_min).cast("long").alias("b_min"),
        F.lit(b_max).cast("long").alias("b_max"),
    )


QUERIES = {
    "euclid_range_tree_agg": range_tree_agg,
    "euclid_q2_range_tree_topL": q2_range_tree_topl,
    "euclid_erc20_range_tree_reward": erc20_range_tree_reward,
}

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

_A29_OVERFLOW_SQL = u256_overflow_oracle_sql(REWARDS_RATE)

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
                          + event_id) * {REWARDS_RATE} // tok
               END))), 64, '0') AS reward_hex,
           CAST(SUM(CASE WHEN tok IS NULL OR tok = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_zero_supply,
           {_A29_OVERFLOW_SQL} AS n_overflow,
           CAST(COUNT(*) AS BIGINT) AS n_entries,
           b.b_min, b.b_max
    FROM e, b GROUP BY user_id, b.b_min, b.b_max
"""
