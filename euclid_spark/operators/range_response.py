"""Arbitrary-range VERIFIABLE responses (SURVEY.md §2.A30-A33; r9,
VERDICT #1 — the last semantic gap with the reference's contract).

The reference proves ANY [B_min, B_max) query against the block-DB
commitment by aggregating per-node proofs up the block tree
(query2/block/{partial,full}_node.rs, query_erc20/block/ likewise) and
binding (min_block, max_block) as public inputs of the revelation proof
(query2/revelation/circuit.rs). The r8 engine answered arbitrary ranges
from tiles (A26/A29) and produced verifiable responses (A20/A23) — but
the response commitments were built for the pinned face range only.
This module composes the two: any (owner, b_min, b_max) query returns
result rows WITH opening paths, in O(log range + |result|) reads.

Construction — the reference's own aggregation shape, hash-only:

- **Per-tile subtree roots** (served artifacts, one set per contract
  and, for ERC-20, per rewards rate):
    * level-0 ("in-cell") Merkle trees: each TILE_SIZE-block cell's
      qualifying rows — ERC-20: the owner's entries in block order,
      leaf = sha256(event_id ':' entry_reward_hex) (A23's encoding);
      Q2: the owner's DISTINCT mapping keys in key order,
      leaf = sha256(token_id) (A20's encoding);
    * a "cell tree" above them: node (level k, pos c) commits cells
      [c·2^k, (c+1)·2^k) — merkle_levels' pairing with
      promotion-on-absent-sibling, so sparsely occupied cell space
      degrades to identity promotions, never self-concats.

- **The response for [b_min, b_max)**: the canonical segment-tree
  cover (≤ 2 tiles/level, range_tree.tile_cover) plus the two
  < TILE_SIZE edge scans yield the ELEMENT SEQUENCE in block order:
  low-edge leaf hashes, covered tiles' stored subtree roots, high-edge
  leaf hashes. The RESPONSE ROOT chains them onto a header that binds
  the public inputs:

      acc := sha256('hdr:' b_min ':' b_max ':' owner [':' rate])
      for e in elements: acc := sha256(acc || e)

  — tampering any element, any bound, or the owner/rate flips the
  root. Each revealed row (first L results in canonical order) carries
  its opening: in-cell path to its cell root, then cell-tree siblings
  up to the covering tile (serialized in the A18 wire format; cell
  levels are offset by +CELL_LVL_OFF so the combined path stays
  ascending), the element index, and the full element list (O(log
  range) hashes — the response's public metadata, like block headers).

- **Cost shape**: the artifacts are built once per corpus version;
  a query reads O(log range) tile roots + two < TILE_SIZE edge slices
  of the owner's leaves + |revealed| opening paths. Nothing scans the
  range interior (asserted by the --events scale probe).

Verification (A32/A33 faces + the standalone tool): leaf re-derives
from the payload; path refolds leaf → element; the element sits at its
claimed index; the header+chain refolds to the root; and the root
equals an independent recompute from the served commitment artifacts.

Oracle: DYNAMIC — the generator computes the canonical cover in Python
(pure integer math on two published scalars) and emits chained-CTE SQL
(merkle_proof_sql for in-cell trees, an explicit promotion chain for
the cell tree, list_reduce for the fold) over the raw events table, so
the gate proves the tile-served response equals re-deriving everything
from rows.
"""

from __future__ import annotations

import hashlib
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from euclid_spark.operators.range_tree import TILE_SIZE, tile_cover

# cell-tree path steps are labeled CELL_LVL_OFF + level so a combined
# (in-cell ++ cell-tree) path sorts ascending in one sequence; in-cell
# labels are 0..merkle.LEVELS-1 (= 0..15)
CELL_LVL_OFF = 100


# --------------------------------------------------------------------------
# artifacts: per-cell leaf trees + the cell tree above them
# --------------------------------------------------------------------------


def _gk() -> F.Column:
    return F.concat_ws("|", F.col("owner"), F.col("cell"))


def _fp(sf_dir: str, family: str, rate, contract) -> str:
    from euclid_spark import artifacts
    from euclid_spark.operators.euclid import CONTRACT, REWARDS_RATE

    params = {"op": f"range_response_{family}", "tile": TILE_SIZE,
              "contract": CONTRACT if contract is None else contract}
    if family == "erc20":
        params["rate"] = REWARDS_RATE if rate is None else int(rate)
    return artifacts.corpus_fingerprint(
        [f"{sf_dir}/events.parquet"], **params
    )


def _q2_cell_leaf_rows(
    spark: SparkSession, sf_dir: str, contract: "str | None"
) -> DataFrame:
    """Level-0 leaves, Q2 family: per (owner, cell), the DISTINCT
    mapping keys in key order — the cell-local slice of the committed
    result trace. leaf = sha256(token_id), A20's encoding."""
    from euclid_spark.catalog import load_events
    from euclid_spark.operators.range_tree import _q2_entries

    ent = _q2_entries(load_events(spark, sf_dir), contract)
    keys = (
        ent.withColumn(
            "cell", F.floor(F.col("event_id") / TILE_SIZE).cast("long")
        )
        .select("owner", "cell", "token_id")
        .distinct()
    )
    w = Window.partitionBy("owner", "cell").orderBy("token_id")
    return keys.select(
        "owner",
        "cell",
        "token_id",
        (F.row_number().over(w) - 1).alias("pos"),
        F.sha2(F.col("token_id").cast("string"), 256).alias("node_hash"),
    )


def _erc20_cell_leaf_rows(
    spark: SparkSession, sf_dir: str, rate, contract: "str | None"
) -> DataFrame:
    """Level-0 leaves, ERC-20 family: per (owner, cell), the owner's
    entries in block order with the leaf circuit's reward.
    leaf = sha256(event_id ':' entry_reward_hex), A23's encoding."""
    from euclid_spark.functions.u256 import u256_to_hex
    from euclid_spark.operators.range_tree import (
        serve_erc20_all_entry_leaves,
    )

    rows = serve_erc20_all_entry_leaves(spark, sf_dir, rate, contract)
    entry_hex = u256_to_hex(
        (F.col("l3"), F.col("l2"), F.col("l1"), F.col("l0"))
    )
    w = Window.partitionBy("owner", "cell").orderBy("event_id")
    return rows.select(
        "owner",
        "cell",
        "event_id",
        entry_hex.alias("entry_reward_hex"),
        (F.row_number().over(w) - 1).alias("pos"),
    ).withColumn(
        "node_hash",
        F.sha2(
            F.concat_ws(
                ":", F.col("event_id").cast("string"), "entry_reward_hex"
            ),
            256,
        ),
    )


def serve_range_commitments(
    spark: SparkSession,
    sf_dir: str,
    family: str,
    rewards_rate: "int | None" = None,
    contract: "str | None" = None,
):
    """(leaves, incell_nodes, cell_nodes, cell_depth) — all served as
    fingerprint-keyed artifacts, owner-clustered so a single-owner
    response prunes to that owner's row groups.

    leaves:       (owner, cell, <payload cols>, pos, node_hash)
    incell_nodes: (gk = owner|cell, level, pos, node_hash)
    cell_nodes:   (owner, level, pos, node_hash) — pos = cell >> level
    """
    import math

    from euclid_spark import artifacts
    from euclid_spark.cache import persist_tracked
    from euclid_spark.operators.merkle import merkle_levels

    fp = _fp(sf_dir, family, rewards_rate, contract)

    def _clustered(df: DataFrame, *cols: str) -> DataFrame:
        return df.repartitionByRange(8, "owner").sortWithinPartitions(
            "owner", *cols
        )

    def build_leaves() -> DataFrame:
        rows = (
            _erc20_cell_leaf_rows(spark, sf_dir, rewards_rate, contract)
            if family == "erc20"
            else _q2_cell_leaf_rows(spark, sf_dir, contract)
        )
        return _clustered(rows, "cell", "pos")

    leaves = artifacts.serve_frame(
        spark, f"rr_{family}_leaves", fp, build_leaves
    )

    def build_incell() -> DataFrame:
        lv = persist_tracked(
            leaves.select(
                _gk().alias("group_key"), "owner", "pos", "node_hash"
            )
        )
        nodes, _ = merkle_levels(lv.select("group_key", "pos", "node_hash"))
        owner_of = lv.select("group_key", "owner").distinct()
        return _clustered(
            nodes.join(owner_of, "group_key"), "group_key", "level", "pos"
        )

    incell = artifacts.serve_frame(
        spark, f"rr_{family}_incell", fp, build_incell
    )

    def build_celltree() -> DataFrame:
        # cell roots = the in-cell trees' top level; merkle_levels sizes
        # depth from group COUNT, so the top level index varies — take
        # each group's max-level node (promotion makes it the root)
        wl = Window.partitionBy("group_key")
        roots = (
            incell.withColumn("ml", F.max("level").over(wl))
            .filter(F.col("level") == F.col("ml"))
            .select(
                "owner",
                F.expr("cast(split(group_key, '\\\\|')[1] AS long)")
                .alias("pos"),  # pos := cell
                "node_hash",
            )
        )
        mb = leaves.agg(F.max("cell")).collect()[0][0]  # one-row fetch
        n_cells = int(mb or 0) + 1
        depth = (
            max(1, math.ceil(math.log2(n_cells))) if n_cells > 1 else 1
        )
        nodes, _ = merkle_levels(
            persist_tracked(roots), group="owner", levels=depth
        )
        return _clustered(nodes, "level", "pos")

    cell_nodes = artifacts.serve_frame(
        spark, f"rr_{family}_celltree", fp, build_celltree
    )
    # served metadata from parquet footers — a frame agg(max) would
    # scan every node row, which grows with the corpus
    md = artifacts.stat_min_max(f"rr_{family}_celltree", fp, "level")[1]
    icd = artifacts.stat_min_max(f"rr_{family}_incell", fp, "level")[1]
    return (
        leaves,
        incell,
        cell_nodes,
        0 if md is None else int(md),
        0 if icd is None else int(icd),
    )


# --------------------------------------------------------------------------
# the response
# --------------------------------------------------------------------------


def _hdr(b_min: int, b_max: int, owner: int, rate: "int | None") -> bytes:
    parts = [str(b_min), str(b_max), str(owner)]
    if rate is not None:
        parts.append(str(rate))
    return hashlib.sha256(("hdr:" + ":".join(parts)).encode()).hexdigest().encode()


def _fold(seed_hex: bytes, elements: "list[str]") -> str:
    acc = seed_hex
    for e in elements:
        acc = hashlib.sha256(acc + e.encode()).hexdigest().encode()
    return acc.decode()


def _default_range(spark, sf_dir, b_min, b_max) -> "tuple[int, int]":
    from euclid_spark.operators.range_tree import _served_max_block

    if b_min is not None and b_max is not None:
        return int(b_min), int(b_max)
    mb = _served_max_block(spark, sf_dir)
    return (
        mb // 5 if b_min is None else int(b_min),
        mb * 4 // 5 if b_max is None else int(b_max),
    )


def _element_sequence(
    spark: SparkSession,
    sf_dir: str,
    family: str,
    owner: int,
    contract: "str | None",
    own_leaves: DataFrame,
    cell_nodes: DataFrame,
    cover: "list[tuple[int, int]]",
    edges: "list[tuple[int, int]]",
    companions: "tuple[DataFrame, ...]" = (),
) -> "tuple[list[tuple[int, str, dict]], list[list]]":
    """The response's ELEMENT SEQUENCE in block order — low-edge
    leaves, occupied cover-tile subtree roots, high-edge leaves — as
    (block_start, hash, meta) triples. Bounded: O(log range) tiles +
    two < TILE_SIZE edge slices. The edge fetch, the tile fetch and any
    caller-supplied `companions` (other independent bounded fetches the
    caller needs, e.g. the revealed-row set) run as ONE CONCURRENT WAVE
    of jobs (catalog.collect_all, guide §2.6) instead of two-to-four
    sequential driver round trips. Returns (elems, companion_rows)."""
    from euclid_spark.catalog import collect_all

    fetches: "list[DataFrame]" = []
    edge_ix = tile_ix = None
    if edges:
        econd = reduce(
            lambda a, b: a | b,
            [
                (F.col("event_id") >= lo) & (F.col("event_id") < hi)
                for lo, hi in edges
            ],
        )
        if family == "erc20":
            edge_df = (
                own_leaves.filter(econd)
                .select("event_id", "node_hash")
                .orderBy("event_id")  # ≤ 2·TILE_SIZE blocks' entries
            )
        else:
            # Q2 edges commit the DISTINCT keys seen in the partial
            # cells — one element per key, hash = sha256(token_id) (the
            # same leaf encoding as the in-cell trees, so a verifier
            # re-derives every element kind from revealed payloads),
            # ordered by the key's first in-edge occurrence; read from
            # the block-clustered entry store (event_id pushdown), not
            # the raw events table
            from euclid_spark.operators.range_tree import (
                serve_q2_entry_store,
            )

            edge_df = (
                serve_q2_entry_store(spark, sf_dir, contract)
                .filter(econd & (F.col("owner") == owner))
                .groupBy("token_id")
                .agg(F.min("event_id").alias("first_id"))
                .orderBy("first_id")
            )
        edge_ix = len(fetches)
        fetches.append(edge_df)
    if cover:
        ccond = reduce(
            lambda a, b: a | b,
            [
                (F.col("level") == k) & (F.col("pos") == c)
                for k, c in cover
            ],
        )
        tile_ix = len(fetches)
        fetches.append(
            cell_nodes.filter(ccond & (F.col("owner") == owner))
        )  # ≤ 2 per level — bounded
    n_own = len(fetches)
    fetches.extend(companions)
    results = collect_all(*fetches) if fetches else []

    elems: "list[tuple[int, str, dict]]" = []
    if edge_ix is not None:
        if family == "erc20":
            for r in results[edge_ix]:
                elems.append(
                    (int(r["event_id"]), r["node_hash"],
                     {"edge_id": int(r["event_id"])})
                )
        else:
            for r in results[edge_ix]:
                h = hashlib.sha256(str(r["token_id"]).encode()).hexdigest()
                elems.append(
                    (int(r["first_id"]), h,
                     {"edge_id": int(r["first_id"]),
                      "edge_tok": int(r["token_id"])})
                )
    if tile_ix is not None:
        tile_rows = {
            (int(r["level"]), int(r["pos"])): r["node_hash"]
            for r in results[tile_ix]
        }
        for k, c in cover:
            if (k, c) in tile_rows:  # empty subtree ⇒ no element
                elems.append(
                    (c * (1 << k) * TILE_SIZE, tile_rows[(k, c)],
                     {"k": k, "c": c})
                )
    elems.sort(key=lambda t: t[0])
    return elems, results[n_own:]


def _response_root(
    spark: SparkSession,
    sf_dir: str,
    family: str,
    owner: int,
    b_min: int,
    b_max: int,
    rewards_rate: "int | None" = None,
    contract: "str | None" = None,
) -> "str | None":
    """The response commitment root ALONE for (owner, [b_min, b_max)) —
    the element sequence folded onto the header, skipping revealed rows
    and opening paths entirely. The verifier faces' commit_ok recompute:
    same independence (served commitments → elements → fold), a third
    of the cost of building the full response (measured 3.5 → <1 s)."""
    from euclid_spark.operators.euclid import REWARDS_RATE

    rate = (
        (REWARDS_RATE if rewards_rate is None else int(rewards_rate))
        if family == "erc20"
        else None
    )
    leaves, _, cell_nodes, depth, _ = serve_range_commitments(
        spark, sf_dir, family, rewards_rate, contract
    )
    cover, edges = tile_cover(int(b_min), int(b_max), depth)
    if not cover and not edges:
        return None
    own_leaves = leaves.filter(F.col("owner") == int(owner))
    elems, _ = _element_sequence(
        spark, sf_dir, family, int(owner), contract, own_leaves,
        cell_nodes, cover, edges,
    )
    return _fold(
        _hdr(int(b_min), int(b_max), int(owner), rate),
        [h for _, h, _ in elems],
    )


def _q2_key_companions(
    spark: SparkSession,
    sf_dir: str,
    owner: int,
    b_min: int,
    b_max: int,
    L: int,
    contract: "str | None",
    cover: "list[tuple[int, int]]",
    own_leaves: DataFrame,
) -> "tuple[DataFrame, ...]":
    """The q2 revealed-key fetch as a LAZY frame so it can join the
    element-sequence collect wave: the first-L distinct keys over the
    range — WITH each key's first covered occurrence (cell, pos) from
    the owner_v4 tile structs — read from the A26 key-tile tree when L
    fits its baked reveal bound, else derived from the leaf store
    (range-proportional, the honest cost of over-asking the circuit
    setup)."""
    from euclid_spark.operators.range_tree import Q2_L, q2_range_tree_topl

    if L <= Q2_L:
        return (
            q2_range_tree_topl(
                spark, sf_dir, owner=owner, b_min=b_min, b_max=b_max,
                L=L, contract=contract, with_first=True,
            ),
        )
    cov_cells = [(c << k, ((c + 1) << k) - 1) for k, c in cover]
    ccond_all = (
        reduce(
            lambda a, b: a | b,
            [
                (F.col("cell") >= lo) & (F.col("cell") <= hi)
                for lo, hi in cov_cells
            ],
        )
        if cov_cells
        else F.lit(False)
    )
    return (own_leaves.filter(ccond_all).select("token_id").distinct(),)


def _range_response(
    spark: SparkSession,
    sf_dir: str,
    family: str,
    owner: "int | None",
    b_min: "int | None",
    b_max: "int | None",
    L: "int | None",
    rewards_rate: "int | None",
    contract: "str | None",
) -> DataFrame:
    from euclid_spark.operators.euclid import OWNER, REWARDS_RATE, TOP_L

    owner = OWNER if owner is None else int(owner)
    L = TOP_L if L is None else int(L)
    rate = (
        (REWARDS_RATE if rewards_rate is None else int(rewards_rate))
        if family == "erc20"
        else None
    )
    payload_cols = (
        ["event_id", "entry_reward_hex"] if family == "erc20" else ["token_id"]
    )
    order_col = "event_id" if family == "erc20" else "token_id"

    def empty() -> DataFrame:  # built only on the degenerate paths
        return spark.createDataFrame(
            [],
            ", ".join(
                f"{c} {'string' if c == 'entry_reward_hex' else 'long'}"
                for c in payload_cols
            )
            + ", leaf_hash string, path string, elem_idx int, elem_hash"
            " string, elements string, response_root string, owner long,"
            " b_min long, b_max long"
            + (", rewards_rate long" if family == "erc20" else ""),
        )

    leaves, incell, cell_nodes, depth, incell_depth = serve_range_commitments(
        spark, sf_dir, family, rewards_rate, contract
    )
    b_min, b_max = _default_range(spark, sf_dir, b_min, b_max)
    cover, edges = tile_cover(b_min, b_max, depth)
    if not cover and not edges:
        return empty()

    own_leaves = leaves.filter(F.col("owner") == owner)

    # ---- element sequence (bounded: O(log range) tiles + 2 edge
    # slices) + the independent revealed-row fetch, one concurrent wave
    in_range = (F.col("event_id") >= b_min) & (F.col("event_id") < b_max)
    companions: "tuple[DataFrame, ...]" = ()
    if family == "erc20":
        companions = (
            own_leaves.filter(in_range)
            .orderBy("event_id")
            .limit(L)
            .select("cell", "pos", "node_hash", *payload_cols),
        )
    else:
        companions = _q2_key_companions(
            spark, sf_dir, owner, b_min, b_max, L, contract, cover,
            own_leaves,
        )
    elems, companion_rows = _element_sequence(
        spark, sf_dir, family, owner, contract, own_leaves, cell_nodes,
        cover, edges, companions=companions,
    )
    element_hashes = [h for _, h, _ in elems]
    elements_str = "/".join(element_hashes)
    root = _fold(_hdr(b_min, b_max, owner, rate), element_hashes)

    # ---- revealed rows: first L results in canonical order
    if family == "erc20":
        rev_rows = companion_rows[0]
    else:
        # first-L distinct keys over the range, in key order, READ FROM
        # THE A26 KEY-TILE TREE (O(log range) — the same universe: keys
        # of covered cells ∪ edge keys); each key opens at its smallest
        # covering element, whose (cell, pos) the owner_v4 tile structs
        # already carry — no per-query leaf-store fetch (the previous
        # formulation IN-list-scanned the owner's covered leaf slice,
        # the one remaining interior-proportional read of this face);
        # leaf hash = sha256(token_id), the A20 encoding the edge
        # elements already recompute driver-side
        from euclid_spark.operators.range_tree import (
            _EDGE_SENTINEL_CELL,
            Q2_L,
        )

        edge_first_ids = {
            m["edge_tok"] for _, _, m in elems if "edge_tok" in m
        }
        key_rows = companion_rows[0]  # fetched in the wave above
        cand: "dict[int, dict]" = {}
        if L <= Q2_L:
            keys = sorted(int(r["token_id"]) for r in key_rows)
            for r in key_rows:
                t = int(r["token_id"])
                if t in edge_first_ids:
                    continue
                if int(r["first_cell"]) == _EDGE_SENTINEL_CELL:
                    # edge-only key NOT listed as an edge element —
                    # impossible by construction (every edge-slice key
                    # becomes an edge element); fail like the previous
                    # formulation's cand[t] KeyError would
                    raise KeyError(t)
                cand[t] = {
                    "cell": int(r["first_cell"]),
                    "pos": int(r["first_pos"]),
                    "node_hash": hashlib.sha256(
                        str(t).encode()
                    ).hexdigest(),
                }
        else:
            # beyond the tree's baked reveal width: the key set came
            # from the leaf store (range-proportional, the honest cost
            # of over-asking the circuit setup) — and so does the
            # first-occurrence lookup, bounded to those ≤ L keys
            covered_toks = {int(r["token_id"]) for r in key_rows}
            keys = sorted(covered_toks | edge_first_ids)[:L]
            cov_keys = [t for t in keys if t not in edge_first_ids]
            cov_cells = [(c << k, ((c + 1) << k) - 1) for k, c in cover]
            if cov_keys and cov_cells:
                ccond2 = reduce(
                    lambda a, b: a | b,
                    [
                        (F.col("cell") >= lo) & (F.col("cell") <= hi)
                        for lo, hi in cov_cells
                    ],
                )
                for r in (
                    own_leaves.filter(
                        F.col("token_id").isin(cov_keys) & ccond2
                    )
                    .groupBy("token_id")
                    .agg(
                        F.min(
                            F.struct("cell", "pos", "node_hash")
                        ).alias("s")
                    )
                    .collect()
                ):
                    cand[int(r["token_id"])] = r["s"]
        rev_rows = []
        for t in keys:
            if t in edge_first_ids:  # an edge occurrence opens first
                rev_rows.append(
                    {"token_id": t, "cell": -1, "pos": -1, "node_hash": ""}
                )
            else:  # a key in the range has a covered or edge occurrence
                s = cand[t]
                rev_rows.append(
                    {"token_id": t, "cell": s["cell"], "pos": s["pos"],
                     "node_hash": s["node_hash"]}
                )

    # ---- opening paths, assembled DRIVER-SIDE: a response is ≤ L
    # revealed rows by construction, so build every path in Python from
    # two PRUNED BOUNDED node fetches — the in-cell trees of the ≤ L
    # touched cells (group_key IN-list) and the ≤ L·depth cell-tree
    # siblings ((level, pos) IN-list). The previous join formulation
    # streamed the FULL node artifacts through the path joins, a
    # per-query cost that grew with the corpus (the 100× probe's
    # residual slope on A30/A31).
    if family == "q2":
        def _is_cov(r):
            return r["cell"] >= 0
    elif edges:
        lo_cov = -(-b_min // TILE_SIZE) * TILE_SIZE
        hi_cov = (b_max // TILE_SIZE) * TILE_SIZE

        def _is_cov(r):
            return lo_cov <= r["event_id"] < hi_cov
    else:
        def _is_cov(r):
            return True
    cov_rows = [r for r in rev_rows if _is_cov(r)]
    edge_rev = [r for r in rev_rows if not _is_cov(r)]

    cover_tiles = [
        (m["k"], m["c"], i)
        for i, (_, _, m) in enumerate(elems)
        if "k" in m
    ]

    def _tile_for(cell: int):
        for k, c, i in cover_tiles:
            if (c << k) <= cell <= ((c + 1) << k) - 1:
                return k, c, i
        return None

    # bounded fetches 1+2 (one concurrent wave): the in-cell nodes of
    # the ≤ L touched cells and the ≤ L·depth cell-tree siblings
    from euclid_spark.catalog import collect_all

    gks = sorted({f"{owner}|{r['cell']}" for r in cov_rows})
    need: "set[tuple[int, int]]" = set()
    for r in cov_rows:
        t = _tile_for(int(r["cell"]))
        if t is not None:
            for j in range(t[0]):
                anc = int(r["cell"]) >> j
                need.add((j, anc + 1 if anc % 2 == 0 else anc - 1))
    wave: "list[DataFrame]" = []
    if gks:
        wave.append(
            incell.filter(F.col("group_key").isin(gks)).select(
                "group_key", "level", "pos", "node_hash"
            )
        )
    if need:
        ncond = reduce(
            lambda a, b: a | b,
            [
                (F.col("level") == j) & (F.col("pos") == p)
                for j, p in sorted(need)
            ],
        )
        wave.append(cell_nodes.filter(ncond & (F.col("owner") == owner)))
    wave_rows = collect_all(*wave) if wave else []
    in_nodes: "dict[str, dict]" = {}
    if gks:
        for n in wave_rows[0]:
            in_nodes.setdefault(n["group_key"], {})[
                (int(n["level"]), int(n["pos"]))
            ] = n["node_hash"]
    cell_sibs: "dict[tuple[int, int], str]" = {}
    if need:
        for n in wave_rows[-1]:
            cell_sibs[(int(n["level"]), int(n["pos"]))] = n["node_hash"]

    out_rows: "list[tuple]" = []
    for r in cov_rows:
        cell, pos = int(r["cell"]), int(r["pos"])
        steps: "list[str]" = []
        nd = in_nodes.get(f"{owner}|{cell}", {})
        for j in range(int(incell_depth)):
            anc = pos >> j
            sib = anc + 1 if anc % 2 == 0 else anc - 1
            h = nd.get((j, sib))
            if h is not None:  # promotion level: absent sibling, no step
                steps.append(f"{j}{'R' if anc % 2 == 0 else 'L'}:{h}")
        t = _tile_for(cell)
        # an occupied leaf's cell always has an occupied cover tile
        assert t is not None, (family, owner, cell)
        k, _, eidx = t
        for j in range(k):
            anc = cell >> j
            sib = anc + 1 if anc % 2 == 0 else anc - 1
            h = cell_sibs.get((j, sib))
            if h is not None:
                steps.append(
                    f"{CELL_LVL_OFF + j}{'R' if anc % 2 == 0 else 'L'}:{h}"
                )
        out_rows.append(
            tuple(r[c] for c in payload_cols)
            + (r["node_hash"], "/".join(steps), eidx)
        )
    if edges and edge_rev:
        # edge rows: the leaf IS its element — empty path
        edge_idx = {
            m["edge_id"]: i
            for i, (_, _, m) in enumerate(elems)
            if "edge_id" in m
        }
        if family == "erc20":
            for r in edge_rev:
                i = edge_idx.get(int(r["event_id"]))
                if i is not None:
                    out_rows.append(
                        (r["event_id"], r["entry_reward_hex"],
                         r["node_hash"], "", i)
                    )
        else:
            # Q2 edge-revealed key: opens as its FIRST edge entry
            first_edge: "dict[int, tuple[int, str]]" = {}
            for _, h, m in elems:
                if "edge_tok" in m and m["edge_tok"] not in first_edge:
                    first_edge[m["edge_tok"]] = (edge_idx[m["edge_id"]], h)
            for r in edge_rev:
                fe = first_edge.get(int(r["token_id"]))
                if fe is not None:
                    out_rows.append((r["token_id"], fe[1], "", fe[0]))

    from euclid_spark.catalog import local_frame

    res = local_frame(
        spark,
        out_rows,
        ", ".join(
            f"{c} {'string' if c == 'entry_reward_hex' else 'long'}"
            for c in payload_cols
        )
        + ", leaf_hash string, path string, elem_idx int",
    )
    elem_arr = F.split(F.lit(elements_str), "/") if elements_str else F.array()
    out = res.select(
        *payload_cols,
        "leaf_hash",
        "path",
        "elem_idx",
        F.get(elem_arr, F.col("elem_idx")).alias("elem_hash"),
        F.lit(elements_str).alias("elements"),
        F.lit(root).alias("response_root"),
        F.lit(owner).cast("long").alias("owner"),
        F.lit(b_min).cast("long").alias("b_min"),
        F.lit(b_max).cast("long").alias("b_max"),
    )
    if family == "erc20":
        out = out.withColumn(
            "rewards_rate", F.lit(rate).cast("long")
        )
    return out


def q2_range_response(
    spark: SparkSession,
    sf_dir: str,
    owner: "int | None" = None,
    b_min: "int | None" = None,
    b_max: "int | None" = None,
    L: "int | None" = None,
    contract: "str | None" = None,
) -> DataFrame:
    """A30 — Query2's VERIFIABLE response for an ARBITRARY block range:
    the owner's first-L distinct mapping keys over [b_min, b_max), each
    with an opening path into the range commitment folded from the
    canonical tile cover + edge leaves. Defaults pin the gate face
    (OWNER, the ⅕..⅘ probe range, L = TOP_L)."""
    return _range_response(
        spark, sf_dir, "q2", owner, b_min, b_max, L, None, contract
    )


def erc20_range_response(
    spark: SparkSession,
    sf_dir: str,
    owner: "int | None" = None,
    b_min: "int | None" = None,
    b_max: "int | None" = None,
    L: "int | None" = None,
    rewards_rate: "int | None" = None,
    contract: "str | None" = None,
) -> DataFrame:
    """A31 — the ERC-20 verifiable response for an ARBITRARY block
    range: the owner's first-L contributing entries in block order,
    each carrying its leaf reward and an opening path into the range
    commitment (cover tiles + edge leaves, header-bound to
    (b_min, b_max, owner, rate))."""
    return _range_response(
        spark, sf_dir, "erc20", owner, b_min, b_max, L, rewards_rate,
        contract,
    )


# --------------------------------------------------------------------------
# verifier faces (A32/A33): consume the PUBLISHED range responses
# --------------------------------------------------------------------------


def _serve_range_response(
    spark: SparkSession, sf_dir: str, family: str
) -> DataFrame:
    """The pinned-face range response as a published artifact (the
    A27/A28 pattern: the prover publishes once, verifiers consume)."""
    from euclid_spark import artifacts

    from euclid_spark.operators.euclid import CONTRACT, REWARDS_RATE

    fp = _fp(sf_dir, family, None, None)
    build = (
        (lambda: erc20_range_response(spark, sf_dir))
        if family == "erc20"
        else (lambda: q2_range_response(spark, sf_dir))
    )
    out = artifacts.serve_frame(spark, f"rr_{family}_response", fp, build)
    params: "dict[str, object]" = {"tile": TILE_SIZE, "contract": CONTRACT}
    if family == "erc20":
        params["rate"] = REWARDS_RATE
    artifacts.publish_manifest(
        f"rr_{family}_response", fp, f"{family}_range",
        [f"{sf_dir}/events.parquet"], params,
    )
    return out


def _sql_fold(seed: F.Column, elements: F.Column) -> F.Column:
    """Column-expression replay of _fold: chain sha256 over the
    '/'-split element list starting from the header hash."""
    steps = F.filter(F.split(elements, "/"), lambda s: s != F.lit(""))
    return F.aggregate(
        steps, seed, lambda acc, e: F.sha2(F.concat(acc, e), 256)
    )


def _verify_range_response(
    spark: SparkSession, sf_dir: str, family: str
) -> DataFrame:
    from euclid_spark.operators.merkle import _refold_to_root

    resp = _serve_range_response(spark, sf_dir, family)
    payload = (
        F.concat_ws(
            ":", F.col("event_id").cast("string"), "entry_reward_hex"
        )
        if family == "erc20"
        else F.col("token_id").cast("string")
    )
    id_col = "event_id" if family == "erc20" else "token_id"
    hdr_parts = [
        F.col("b_min").cast("string"),
        F.col("b_max").cast("string"),
        F.col("owner").cast("string"),
    ] + ([F.col("rewards_rate").cast("string")] if family == "erc20" else [])
    seed = F.sha2(F.concat_ws(":", F.lit("hdr"), *hdr_parts), 256)

    leaf_ok = F.sha2(payload, 256) == F.col("leaf_hash")
    elem_ok = (
        _refold_to_root(F.col("leaf_hash"), F.col("path"))
        == F.col("elem_hash")
    ) & (
        F.get(F.split("elements", "/"), F.col("elem_idx"))
        == F.col("elem_hash")
    )
    # root_ok re-chains header+elements per row — a tampered bound,
    # owner, rate, element, or root all flip it (the public-input
    # binding of revelation/circuit.rs)
    root_ok = _sql_fold(seed, F.col("elements")) == F.col("response_root")

    # commit_ok: the response root must equal an INDEPENDENT recompute
    # from the served commitment artifacts for the response's own
    # parameters (bounded: one distinct parameter row per response)
    params = resp.select(
        "owner", "b_min", "b_max",
        *(["rewards_rate"] if family == "erc20" else []),
    ).distinct().collect()
    expected = {}
    for p in params:
        expected[(p["owner"], p["b_min"], p["b_max"])] = _response_root(
            spark, sf_dir, family, p["owner"], p["b_min"], p["b_max"],
            p["rewards_rate"] if family == "erc20" else None, None,
        )
    from euclid_spark.catalog import local_frame

    exp_df = local_frame(
        spark,
        [(o, lo, hi, r) for (o, lo, hi), r in expected.items()],
        "owner long, b_min long, b_max long, expected_root string",
    )
    return (
        resp.join(F.broadcast(exp_df), ["owner", "b_min", "b_max"], "left")
        .withColumn("leaf_ok", leaf_ok)
        .withColumn("elem_ok", elem_ok)
        .withColumn("root_ok", root_ok)
        .withColumn(
            "commit_ok", F.col("response_root") == F.col("expected_root")
        )
        .select(
            id_col,
            "elem_idx",
            "leaf_ok",
            "elem_ok",
            "root_ok",
            "commit_ok",
            (
                F.col("leaf_ok") & F.col("elem_ok") & F.col("root_ok")
                & F.col("commit_ok")
            ).alias("valid"),
        )
    )


def verify_q2_range_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A32 — verify the published A30 response: leaf re-derivation,
    path→element refold + element position, header-bound root chain,
    and root-vs-commitment recompute."""
    return _verify_range_response(spark, sf_dir, "q2")


def verify_erc20_range_response(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A33 — verify the published A31 response (the A32 twin for the
    ERC-20 family; rewards_rate joins the bound public inputs)."""
    return _verify_range_response(spark, sf_dir, "erc20")


QUERIES = {
    "euclid_q2_range_response": q2_range_response,
    "euclid_erc20_range_response": erc20_range_response,
    "euclid_verify_q2_range_response": verify_q2_range_response,
    "euclid_verify_erc20_range_response": verify_erc20_range_response,
}

ORACLES: "dict[str, str]" = {}


# --------------------------------------------------------------------------
# dynamic oracles: full re-derivation from the raw rows
# --------------------------------------------------------------------------


def _oracle_range_response(family: str):
    """Oracle generator for the pinned face: the canonical cover is
    computed HERE in Python (tile_cover on two published scalars — the
    same integer math the face runs) and embedded as literals; the SQL
    then re-derives everything else from the raw events table: in-cell
    trees (merkle_proof_sql, group = cell), the promotion cell tree
    (chained CTEs), the element sequence, the header-bound fold, and
    every revealed row's combined opening path."""

    def gen(sf_dir: str) -> str:
        import math

        import duckdb

        from euclid_spark.operators.euclid import (
            OWNER,
            REWARDS_RATE,
            _TOKEN,
        )
        from euclid_spark.operators.merkle import merkle_proof_sql

        import os as _os

        ev = f"{sf_dir}/events.parquet"
        if _os.path.isdir(ev):  # Spark-written corpus (null-crosscheck)
            ev = f"{ev}/*.parquet"
        con = duckdb.connect()
        mb_all = con.execute(
            f"SELECT MAX(event_id) FROM read_parquet('{ev}')"
        ).fetchone()[0]
        mb_all = int(mb_all or 0)
        b_min, b_max = mb_all // 5, mb_all * 4 // 5
        qual = "event_type = 'purchase'" + (
            f" AND {_TOKEN} IS NOT NULL"
            if family == "q2"
            else " AND value IS NOT NULL"  # NULL balance: not an entry
        )
        mb_q = con.execute(
            f"SELECT MAX(event_id) FROM read_parquet('{ev}') WHERE {qual}"
        ).fetchone()[0]
        n_cells = (int(mb_q or 0) // TILE_SIZE) + 1
        depth = max(1, math.ceil(math.log2(n_cells))) if n_cells > 1 else 1
        cover, edges = tile_cover(b_min, b_max, depth)
        rate = REWARDS_RATE if family == "erc20" else None
        hdr = _hdr(b_min, b_max, OWNER, rate).decode()
        L = __import__(
            "euclid_spark.operators.euclid", fromlist=["TOP_L"]
        ).TOP_L
        S = TILE_SIZE
        lo_cov = -(-b_min // S) * S   # first fully-covered block
        hi_cov = (b_max // S) * S     # first block past full coverage
        edge_pred = (
            " OR ".join(
                f"(event_id >= {lo} AND event_id < {hi})" for lo, hi in edges
            )
            or "FALSE"
        )

        if family == "erc20":
            base = f"""
    SELECT event_id,
           lpad(lower(to_hex(
               CASE WHEN tok IS NULL OR tok = 0 THEN CAST(0 AS HUGEINT)
                    ELSE (CAST(FLOOR(value * 10000) AS HUGEINT)
                          * CAST('18446744073709551616' AS HUGEINT)
                          + event_id) * {rate} // tok
               END)), 64, '0') AS entry_reward_hex,
           event_id // {S} AS cell
    FROM (SELECT event_id, value, {_TOKEN} AS tok
          FROM events
          WHERE event_type = 'purchase' AND value IS NOT NULL
            AND user_id = {OWNER})"""
            l0 = f"""  SELECT cell AS group_key, event_id, entry_reward_hex,
         row_number() OVER (PARTITION BY cell ORDER BY event_id) - 1 AS pos,
         sha256(event_id::VARCHAR || ':' || entry_reward_hex) AS node_hash
  FROM base"""
            payload_sel = "event_id, entry_reward_hex"
            leaf_of = "sha256(event_id::VARCHAR || ':' || entry_reward_hex)"
        else:
            base = f"""
    SELECT DISTINCT {_TOKEN} AS token_id, event_id // {S} AS cell
    FROM events
    WHERE {qual} AND user_id = {OWNER}"""
            l0 = f"""  SELECT cell AS group_key, token_id,
         row_number() OVER (PARTITION BY cell ORDER BY token_id) - 1 AS pos,
         sha256(token_id::VARCHAR) AS node_hash
  FROM base"""
            payload_sel = "token_id"
            leaf_of = "sha256(token_id::VARCHAR)"

        incell = merkle_proof_sql(l0, payload_sel.split(", "))
        # every cover tile as a literal (ord = block start); the join
        # against the cell tree drops tiles whose subtree is empty
        cover_vals = (
            ", ".join(f"({c * (1 << k) * S}, {k}, {c})" for k, c in cover)
            or "(NULL, NULL, NULL)"
        )
        cl_chain = []
        for k in range(1, depth + 1):
            cl_chain.append(
                f"""cl{k} AS MATERIALIZED (
  SELECT pos // 2 AS pos,
         CASE WHEN count(*) = 2
              THEN sha256(string_agg(h, '' ORDER BY pos))
              ELSE min(h) END AS h
  FROM cl{k - 1} GROUP BY pos // 2)"""
            )
        cl_union = "\n  UNION ALL ".join(
            f"SELECT {k} AS level, pos, h FROM cl{k}"
            for k in range(depth + 1)
        )

        if family == "erc20":
            edge_elems = f"""
    SELECT event_id AS ord, leaf_hash AS h,
           event_id AS edge_id, NULL::BIGINT AS tok,
           CAST(NULL AS INT) AS k, NULL::BIGINT AS c
    FROM icl WHERE {edge_pred}"""
            revealed = f"""
    SELECT {payload_sel}, cell, leaf_hash, path AS incell_path
    FROM icl
    WHERE event_id >= {b_min} AND event_id < {b_max}
    ORDER BY event_id LIMIT {L}"""
            cov_pred = f"event_id >= {lo_cov} AND event_id < {hi_cov}"
            edge_join = "e.edge_id = r.event_id"
        else:
            edge_elems = f"""
    SELECT first_id AS ord, sha256(token_id::VARCHAR) AS h,
           first_id AS edge_id, token_id AS tok,
           CAST(NULL AS INT) AS k, NULL::BIGINT AS c
    FROM (SELECT {_TOKEN} AS token_id, MIN(event_id) AS first_id
          FROM events
          WHERE {qual} AND user_id = {OWNER} AND ({edge_pred})
          GROUP BY 1)"""
            cov_cells = [
                (c << k, ((c + 1) << k) - 1) for k, c in cover
            ]
            cov_cell_pred = (
                " OR ".join(
                    f"(cell >= {lo} AND cell <= {hi})" for lo, hi in cov_cells
                )
                or "FALSE"
            )
            revealed = f"""
    SELECT token_id, cell, leaf_hash, incell_path FROM (
      SELECT token_id, cell, pos, leaf_hash, incell_path,
             ROW_NUMBER() OVER (PARTITION BY token_id
                  ORDER BY cell, pos) AS rk
      FROM (
        SELECT token_id, cell, leaf_pos AS pos, leaf_hash,
               path AS incell_path
        FROM icl WHERE {cov_cell_pred}
        UNION ALL
        SELECT tok AS token_id, -1 AS cell, -1 AS pos,
               h AS leaf_hash, '' AS incell_path
        FROM eel
      )
    ) WHERE rk = 1 ORDER BY token_id LIMIT {L}"""
            cov_pred = "cell >= 0"
            edge_join = "e.tok = r.token_id"

        kc_case = (
            "CASE "
            + " ".join(
                f"WHEN r.cell >= {c << k} AND r.cell <= {((c + 1) << k) - 1} "
                f"THEN {k}"
                for k, c in cover
            )
            + " END"
            if cover
            else "NULL"
        )

        return f"""
WITH base AS ({base}),
icl AS MATERIALIZED (
  SELECT group_key AS cell, {payload_sel}, leaf_pos, leaf_hash, path,
         root
  FROM ({incell})
),
cl0 AS MATERIALIZED (SELECT DISTINCT cell AS pos, root AS h FROM icl),
{', '.join(cl_chain)},
cellnodes AS MATERIALIZED ({cl_union}),
eel AS MATERIALIZED ({edge_elems}),
elems AS MATERIALIZED (
  SELECT * FROM eel
  UNION ALL
  SELECT v.ord, n.h, NULL::BIGINT AS edge_id, NULL::BIGINT AS tok,
         v.k, v.c
  FROM (VALUES {cover_vals}) v(ord, k, c)
  JOIN cellnodes n ON n.level = v.k AND n.pos = v.c
),
ordered AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ord) - 1 AS elem_idx FROM elems
),
meta AS (
  SELECT COALESCE(string_agg(h, '/' ORDER BY ord), '') AS elements,
         list_reduce(
             list_prepend('{hdr}', COALESCE(list(h ORDER BY ord), [])),
             (a, x) -> sha256(a || x)) AS response_root
  FROM elems
),
revealed AS MATERIALIZED ({revealed}),
rcov AS (SELECT * FROM revealed r WHERE {cov_pred}),
csteps AS (
  SELECT r.*, {kc_case} AS kc, g.j,
         CASE WHEN (r.cell >> g.j) % 2 = 0
              THEN (r.cell >> g.j) + 1 ELSE (r.cell >> g.j) - 1
         END AS sib_pos,
         CASE WHEN (r.cell >> g.j) % 2 = 0 THEN 'R' ELSE 'L' END AS side
  FROM rcov r
  LEFT JOIN (SELECT unnest(range(0, {depth})) AS j) g
         ON g.j < {kc_case}
),
cpaths AS (
  SELECT {', '.join('s.' + c for c in payload_sel.split(', '))},
         s.cell, s.leaf_hash, s.incell_path, MIN(s.kc) AS kc,
         COALESCE(string_agg(
             (100 + s.j)::VARCHAR || s.side || ':' || n.h,
             '/' ORDER BY s.j)
             FILTER (WHERE n.h IS NOT NULL), '') AS cell_path
  FROM csteps s
  LEFT JOIN cellnodes n ON n.level = s.j AND n.pos = s.sib_pos
  GROUP BY {', '.join('s.' + c for c in payload_sel.split(', '))},
           s.cell, s.leaf_hash, s.incell_path
),
cov_out AS (
  SELECT {payload_sel}, leaf_hash,
         CASE WHEN incell_path <> '' AND cell_path <> ''
              THEN incell_path || '/' || cell_path
              ELSE incell_path || cell_path END AS path,
         (SELECT o.elem_idx FROM ordered o
          WHERE o.k = p.kc AND o.c = (p.cell >> p.kc)) AS elem_idx
  FROM cpaths p
),
edge_out AS (
  SELECT {', '.join('r.' + c for c in payload_sel.split(', '))},
         e.h AS leaf_hash, '' AS path, e.elem_idx
  FROM revealed r JOIN ordered e ON {edge_join}
  WHERE NOT ({cov_pred.replace('cell', 'r.cell').replace('event_id', 'r.event_id')})
),
allout AS (SELECT * FROM cov_out UNION ALL SELECT * FROM edge_out)
SELECT a.{payload_sel.replace(', ', ', a.')},
       a.leaf_hash, a.path,
       CAST(a.elem_idx AS INT) AS elem_idx,
       str_split(m.elements, '/')[a.elem_idx + 1] AS elem_hash,
       m.elements, m.response_root,
       CAST({OWNER} AS BIGINT) AS owner,
       CAST({b_min} AS BIGINT) AS b_min,
       CAST({b_max} AS BIGINT) AS b_max
       {f', CAST({rate} AS BIGINT) AS rewards_rate' if family == 'erc20' else ''}
FROM allout a CROSS JOIN meta m
"""

    return gen


def _oracle_verify_range(family: str):
    """Verifier-face oracle: read the PUBLISHED response artifact as an
    input table (the C48/C12 artifact-as-oracle-input pattern) and
    recompute every verdict in SQL; commit_ok compares against the full
    from-raw-rows response derivation (the response oracle embedded as
    a scalar subquery)."""

    def gen(sf_dir: str) -> str:
        import os as _os

        from euclid_spark import artifacts
        from euclid_spark.operators.merkle import _REFOLD_SQL

        fp = _fp(sf_dir, family, None, None)
        path = _os.path.join(
            artifacts.artifact_dir(), f"rr_{family}_response_{fp}.parquet"
        )
        resp_sql = _oracle_range_response(family)(sf_dir)
        idc = "event_id" if family == "erc20" else "token_id"
        payload = (
            "r.event_id::VARCHAR || ':' || r.entry_reward_hex"
            if family == "erc20"
            else "r.token_id::VARCHAR"
        )
        hdr = (
            "'hdr:' || r.b_min || ':' || r.b_max || ':' || r.owner"
            + (" || ':' || r.rewards_rate" if family == "erc20" else "")
        )
        refold = _REFOLD_SQL.format(leaf="r.leaf_hash", path="r.path")
        return f"""
        SELECT {idc}, elem_idx, leaf_ok, elem_ok, root_ok, commit_ok,
               (leaf_ok AND elem_ok AND root_ok AND commit_ok) AS valid
        FROM (
          SELECT r.{idc}, CAST(r.elem_idx AS INT) AS elem_idx,
                 (sha256({payload}) = r.leaf_hash) AS leaf_ok,
                 ({refold} = r.elem_hash
                  AND str_split(r.elements, '/')[r.elem_idx + 1]
                      = r.elem_hash) AS elem_ok,
                 (list_reduce(
                      list_prepend(sha256({hdr}),
                          COALESCE(str_split(NULLIF(r.elements, ''), '/'),
                                   [])),
                      (a, x) -> sha256(a || x)) = r.response_root)
                     AS root_ok,
                 (r.response_root =
                      (SELECT response_root FROM ({resp_sql}) LIMIT 1))
                     AS commit_ok
          FROM read_parquet('{path}/*.parquet') r
        )
        """

    return gen


DYNAMIC_ORACLES = {
    "euclid_q2_range_response": _oracle_range_response("q2"),
    "euclid_erc20_range_response": _oracle_range_response("erc20"),
    "euclid_verify_q2_range_response": _oracle_verify_range("q2"),
    "euclid_verify_erc20_range_response": _oracle_verify_range("erc20"),
}
