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

- **Per-tile subtree roots** (per contract and, for ERC-20, per
  rewards rate):
    * level-0 ("in-cell") Merkle trees: each TILE_SIZE-block cell's
      qualifying rows — ERC-20: the owner's entries in block order,
      leaf = sha256(event_id ':' entry_reward_hex) (A23's encoding);
      Q2: the owner's DISTINCT mapping keys in key order,
      leaf = sha256(token_id) (A20's encoding). No leaf is stored: the
      leaves are the rows of the family's keyed tree's entry store
      (owner, event_id, payload), owner-clustered and sorted by
      (owner, event_id), which the tree build and the edge windows
      read too. A cell holds ≤ TILE_SIZE rows, so its leaf order
      (`pos`), the ERC-20 reward hex, the leaf hashes, the in-cell
      nodes and the cell roots are derived wherever they are needed —
      by a window in the tree build (`cell_tree`), and on the driver
      (`cell_leaves`, `merkle.merkle_levels_local`) for the ≤ L cells
      a response opens into and the leaf chains it reads;
    * a "cell tree" above them: level 0 holds the cell roots, and node
      (level k, pos c) commits cells [c·2^k, (c+1)·2^k) —
      merkle_levels' pairing: one grouped pass per owner over its
      occupied cells only, two nodes pair when their pos >> 1 match
      and a node whose sibling is absent is promoted, so sparsely
      occupied cell space degrades to identity promotions, never
      self-concats. Its nodes are those of the family's keyed tile
      tree, which stores each node's digest as `node_hash` beside its
      aggregate, one row per chain (range_tree.chains) — except a leaf
      chain's: its nodes' digest is its cell's root, so the row holds
      null and a response refolds that root from the cell's ≤
      TILE_SIZE entry rows (`_set_cell_roots`), as the reference's
      leaf circuits derive a leaf's node from its raw entries.

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

- **Cost shape**: the artifacts are built once per corpus version (by
  Spark); a query is answered on the driver. `artifacts.read_rows`
  fetches, from the two owner-clustered stores of a family (its entry
  store and its keyed tree), the owner's O(log range) cover-tile
  digests, its entry rows in the two < TILE_SIZE edge windows (read
  once; a Q2 response's key fold reuses them), the revealed rows, the
  ≤ L·depth cell-tree siblings, each tree node matching the one chain
  row that holds it (`chain_filter`), a Q2 response's cover keys in
  the same read, and the entry rows of the cells it opens (≤
  TILE_SIZE rows each): the ≤ L touched cells and the cell of each
  cover or sibling leaf chain, whose root is refolded. ERC-20 takes
  them all from its revealed-row read, which holds every covered
  cell; Q2's cover leaf chains ride its edge read, and one event_id
  window per cell it has not read yet rides one read after the
  sibling read. No request reads more often than when the leaf chains
  stored their digests. Python ranks each opened cell's leaves, spells
  the ERC-20 rewards in hex, hashes the leaves, refolds the opened
  cells and returns one local frame, so no Spark job runs until the
  caller acts on it. Nothing reads the range interior (asserted by the
  --events scale probe) except the two reads bounded only by the
  owner's rows in the range: the ERC-20 revealed rows and the q2
  L > Q2_L fallback. The stores hold no value a bounded read can
  recompute (no cell, leaf position, reward hex, leaf hash, in-cell
  node or cell root — a leaf chain stores no digest; no promotion
  copy — an owner's tree is O(its cells) rows, not O(cells × depth)),
  and every stored digest as its 32 raw bytes (half the bytes of its
  hex spelling); hex appears only in responses — the builds and the
  driver reads turn the bytes back into the lowercase hex the hashes
  are defined over.

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

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from euclid_spark import artifacts
from euclid_spark.catalog import local_frame
from euclid_spark.functions.u256 import u256_to_hex
from euclid_spark.operators.euclid import CONTRACT, REWARDS_RATE
from euclid_spark.operators.merkle import (
    _path_steps,
    merkle_levels,
    merkle_levels_local,
    merkle_roots,
)
from euclid_spark.operators.range_tree import (
    _EDGE_SENTINEL_CELL,
    ERC20_REWARD_TREE,
    Q2_KEY_TREE,
    Q2_L,
    TILE_SIZE,
    _cell,
    _edge_filter,
    _probe_range,
    chain_filter,
    chain_match,
    tile_cover,
    tree_depth,
)

# cell-tree path steps are labeled CELL_LVL_OFF + level so a combined
# (in-cell ++ cell-tree) path sorts ascending in one sequence; in-cell
# labels are 0..merkle.LEVELS-1 (= 0..15)
CELL_LVL_OFF = 100


# --------------------------------------------------------------------------
# artifacts: per-cell leaf trees + the cell tree above them
# --------------------------------------------------------------------------


# each family's published pinned-face response: the default contract
# (and, for ERC-20, rewards rate) are its fingerprint's query params
RESPONSES = {
    "q2": artifacts.Artifact(
        "rr_q2_response", "events",
        dict(op="range_response_q2", tile=TILE_SIZE, contract=CONTRACT),
    ),
    "erc20": artifacts.Artifact(
        "rr_erc20_response", "events",
        dict(op="range_response_erc20", tile=TILE_SIZE, contract=CONTRACT,
             rate=REWARDS_RATE),
    ),
}


# each family's keyed tile tree, whose entry store holds its leaves
_TREES = {"q2": Q2_KEY_TREE, "erc20": ERC20_REWARD_TREE}
_LIMBS = ("l0", "l1", "l2", "l3")


def q2_leaf_hash(token_id: Column) -> Column:
    """A20's Q2 leaf encoding: sha256(token_id)."""
    return F.sha2(token_id.cast("string"), 256)


def erc20_entry_hex() -> Column:
    """An entry-leaf row's reward (limbs l3..l0) as 64 hex digits."""
    return u256_to_hex((F.col("l3"), F.col("l2"), F.col("l1"), F.col("l0")))


def erc20_leaf_hash(event_id: Column, entry_hex: Column) -> Column:
    """A23's ERC-20 leaf encoding: sha256(event_id ':' entry_reward_hex)."""
    return F.sha2(F.concat_ws(":", event_id.cast("string"), entry_hex), 256)


def _leaf_hash(family: str) -> Column:
    """The family's leaf hash over its payload columns."""
    if family == "erc20":
        return erc20_leaf_hash(F.col("event_id"), F.col("entry_reward_hex"))
    return q2_leaf_hash(F.col("token_id"))


def cell_tree(
    spark: SparkSession, sf_dir: str, family: str, depth: int, rate, contract
) -> DataFrame:
    """The family's cell tree, levels 0..`depth`, as (owner, level,
    cell, node_hash BINARY(32)): each (owner, cell)'s in-cell tree
    folded in memory from its leaves in the entry store — Q2 the
    distinct keys ranked by token_id, ERC-20 the entries ranked by
    event_id with their reward hex — then merkle_levels."""
    rows = _TREES[family].frame(
        spark, sf_dir, contract, rate, store=True
    ).withColumn("cell", _cell())
    if family == "erc20":
        rows = rows.withColumn("entry_reward_hex", erc20_entry_hex())
        order = "event_id"
    else:  # the distinct keys
        rows = rows.select("owner", "cell", "token_id").distinct()
        order = "token_id"
    pos = F.row_number().over(Window.partitionBy("owner", "cell").orderBy(order))
    roots = merkle_roots(
        rows.select(
            "owner", "cell", (pos - 1).alias("pos"),
            _leaf_hash(family).alias("node_hash"),
        ),
        ("owner", "cell"),
    ).select(
        "owner", F.col("cell").alias("pos"), F.col("root").alias("node_hash")
    )
    nodes, _ = merkle_levels(roots, group="owner", levels=depth)
    return nodes.select(
        "owner", "level", F.col("pos").alias("cell"),
        F.unhex("node_hash").alias("node_hash"),
    )


def range_commitment_paths(
    spark: SparkSession,
    sf_dir: str,
    family: str,
    rewards_rate: "int | None" = None,
    contract: "str | None" = None,
) -> "tuple[str, str, int]":
    """(entries, tree, depth): the family's owner-clustered entry store
    — Q2 (owner, event_id, token_id), ERC-20 (owner, event_id, l0..l3,
    zs, of), sorted by (owner, event_id) — whose rows are the in-cell
    trees' leaves (`cell_leaves`), the family's keyed tile tree —
    (owner, level, top, lo, <payload cols>, node_hash), one row per
    chain (range_tree.chains), node_hash the node's cell-tree digest,
    null on a leaf chain (level 0), whose digest is the root of its
    cell's entry rows — each built on a miss, and the response's cover
    depth,
    tree_depth(max qualifying cell + 1) from the entry store's event_id
    footer. The tree is built to the events' depth, never smaller, so
    it holds every node such a cover names."""
    tree = _TREES[family]
    entries = tree.path(spark, sf_dir, contract, rewards_rate, store=True)
    path = tree.path(spark, sf_dir, contract, rewards_rate)
    me = artifacts.footer_stats(entries).span("event_id")[1]
    return entries, path, 0 if me is None else tree_depth(
        int(me) // TILE_SIZE + 1
    )


def _entry_cols(family: str) -> "list[str]":
    """The entry-store columns a response reads: owner, block, payload."""
    return ["owner", "event_id", *(_LIMBS if family == "erc20" else ("token_id",))]


def _payload(family: str, r: dict) -> dict:
    """An entry-store row's leaf payload: Q2 its key, ERC-20 its block
    and its reward Σ lᵢ·2^(64i) as 64 hex digits (`erc20_entry_hex` on
    the driver)."""
    if family == "erc20":
        return {"event_id": r["event_id"], "entry_reward_hex": "%064x" % sum(
            int(r[c]) << (64 * i) for i, c in enumerate(_LIMBS)
        )}
    return {"token_id": r["token_id"]}


def cell_leaves(
    family: str, rows: "list[dict]"
) -> "dict[tuple[int, int], list[dict]]":
    """{(owner, cell): leaves} of entry-store rows holding whole cells:
    each in-cell tree's leaves in leaf order — Q2 the distinct keys by
    token_id, ERC-20 the entries by event_id with their reward hex —
    each with its cell and its pos, its index. `cell_tree`'s window on
    the driver."""
    by_cell: "dict[tuple[int, int], list[dict]]" = {}
    for r in rows:
        by_cell.setdefault((r["owner"], r["event_id"] // TILE_SIZE), []).append(r)
    out = {}
    for (o, c), rs in by_cell.items():
        if family == "erc20":
            leaves = [
                _payload(family, r) for r in sorted(rs, key=lambda r: r["event_id"])
            ]
        else:  # the distinct keys
            leaves = [{"token_id": t} for t in sorted({r["token_id"] for r in rs})]
        for p, leaf in enumerate(leaves):
            leaf.update(cell=c, pos=p)
        out[(o, c)] = leaves
    return out


def _cells_filter(
    owner: int, cells: "list[tuple[int, int]]"
) -> "list[list[tuple]]":
    """`owner`'s rows in the level-0 cell spans [lo, hi] as a
    `read_rows` filter on the entry store's event_id."""
    return [
        [("owner", "=", owner), ("event_id", ">=", lo * TILE_SIZE),
         ("event_id", "<", (hi + 1) * TILE_SIZE)]
        for lo, hi in cells
    ]


def _tree_nodes(
    tree: str, nodes: "list[tuple[int, int]]", owner: int, *cols: str
) -> "dict[tuple[int, int], dict]":
    """{(level, cell): chain row} of `owner`'s `nodes` in a keyed tree,
    `cols` beside node_hash: one `chain_filter` read. The tree stores
    each two-child chain's digest as its 32 raw bytes; the hash
    definition concatenates lowercase hex (A18's wire format), so the
    read hexes it back. A leaf chain (level 0) comes back with
    node_hash None: its digest is its cell's root (`_set_cell_roots`)."""
    if not nodes:
        return {}
    rows = artifacts.read_rows(
        tree, chain_filter(nodes, owner),
        ["level", "top", "lo", *cols, "node_hash"],
    )
    for r in rows:
        if r["node_hash"] is not None:
            r["node_hash"] = r["node_hash"].hex()
    return chain_match(rows, nodes)


def _leaf_cells(nodes: "dict[tuple[int, int], dict]") -> "set[int]":
    """The cells of the leaf chains among `_tree_nodes` rows."""
    return {r["lo"] for r in nodes.values() if r["level"] == 0}


def _cell_trees(
    family: str, opened: "dict[tuple[int, int], list[dict]]"
) -> "dict[int, tuple[dict[tuple[int, int], str], int]]":
    """{cell: (nodes, depth)}: the in-cell tree of each of one owner's
    opened cells (`cell_leaves`), refolded from its leaves
    (`merkle.merkle_levels_local`)."""
    return {
        c: merkle_levels_local([_leaf_hex(family, lf) for lf in lv])
        for (_, c), lv in opened.items()
    }


def _set_cell_roots(
    nodes: "dict[tuple[int, int], dict]",
    trees: "dict[int, tuple[dict[tuple[int, int], str], int]]",
) -> None:
    """Give each leaf chain among `nodes` its digest: the root of its
    cell's in-cell tree in `trees` (`_cell_trees`)."""
    for r in nodes.values():
        if r["level"] == 0:
            t, d = trees[r["lo"]]
            r["node_hash"] = t[(d, 0)]


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


def _sha(v: "int | str") -> str:
    return hashlib.sha256(str(v).encode()).hexdigest()


def _leaf_hex(family: str, r: dict) -> str:
    """A leaf's hash from its payload — `_leaf_hash` on the driver."""
    if family == "erc20":
        return _sha(f"{r['event_id']}:{r['entry_reward_hex']}")
    return _sha(r["token_id"])


def _edge_rows(
    entries: str, family: str, owner: int, edges: "list[tuple[int, int]]",
    cells: "set[int]" = frozenset(),
) -> "tuple[list[dict] | None, list[dict]]":
    """(`owner`'s entry-store rows in the two < TILE_SIZE edge windows
    (None without edges), its rows in the whole `cells`): one
    `artifacts.read_rows` that the element sequence and a Q2 response's
    key fold share. The cells — leaf chains whose roots are refolded —
    ride the edge read; without edges they need a read of their own."""
    if not edges and not cells:
        return None, []
    rows = artifacts.read_rows(
        entries,
        _edge_filter(
            [*edges, *((c * TILE_SIZE, (c + 1) * TILE_SIZE) for c in sorted(cells))],
            ("owner", "=", owner),
        ),
        _entry_cols(family),
    )
    at_edge = [any(lo <= r["event_id"] < hi for lo, hi in edges) for r in rows]
    return (
        [r for r, e in zip(rows, at_edge) if e] if edges else None,
        [r for r, e in zip(rows, at_edge) if not e],
    )


def _element_sequence(
    family: str,
    edge_rows: "list[dict] | None",
    tiles: "dict[tuple[int, int], dict]",
    cover: "list[tuple[int, int]]",
) -> "list[tuple[int, str, dict]]":
    """The response's ELEMENT SEQUENCE in block order — low-edge
    leaves, occupied cover-tile subtree roots, high-edge leaves — as
    (block_start, hash, meta) triples, from `tiles`, the owner's ≤ 2
    cover nodes per level, and `edge_rows`, its rows in the two
    < TILE_SIZE edge windows (`_edge_rows`)."""
    elems: "list[tuple[int, str, dict]]" = []
    if family == "erc20":
        for r in sorted(edge_rows or [], key=lambda r: r["event_id"]):
            eid = r["event_id"]
            h = _leaf_hex(family, _payload(family, r))
            elems.append((eid, h, {"edge_id": eid}))
    else:
        # Q2 edges commit the DISTINCT keys seen in the partial cells —
        # one element per key, hash = sha256(token_id) (the same leaf
        # encoding as the in-cell trees, so a verifier re-derives every
        # element kind from revealed payloads), ordered by the key's
        # first in-edge occurrence
        first: "dict[int, int]" = {}
        for r in edge_rows or []:
            t = r["token_id"]
            first[t] = min(first.get(t, r["event_id"]), r["event_id"])
        for t, fid in sorted(first.items(), key=lambda kv: kv[1]):
            elems.append((fid, _sha(t), {"edge_id": fid, "edge_tok": t}))
    for k, c in cover:
        if (k, c) in tiles:  # empty subtree ⇒ no element
            elems.append(
                (c * (1 << k) * TILE_SIZE, tiles[(k, c)]["node_hash"],
                 {"k": k, "c": c})
            )
    elems.sort(key=lambda t: t[0])
    return elems


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
    same independence (served commitments → elements → fold)."""
    rate = (
        (REWARDS_RATE if rewards_rate is None else int(rewards_rate))
        if family == "erc20"
        else None
    )
    entries, tree, depth = range_commitment_paths(
        spark, sf_dir, family, rewards_rate, contract
    )
    cover, edges = tile_cover(int(b_min), int(b_max), depth)
    if not cover and not edges:
        return None
    tiles = _tree_nodes(tree, cover, int(owner))
    edge_rows, cell_rows = _edge_rows(
        entries, family, int(owner), edges, _leaf_cells(tiles)
    )
    _set_cell_roots(tiles, _cell_trees(family, cell_leaves(family, cell_rows)))
    elems = _element_sequence(family, edge_rows, tiles, cover)
    return _fold(
        _hdr(int(b_min), int(b_max), int(owner), rate),
        [h for _, h, _ in elems],
    )


def _q2_revealed(
    spark: SparkSession,
    sf_dir: str,
    owner: int,
    L: int,
    contract: "str | None",
    entries: str,
    cover: "list[tuple[int, int]]",
    edge_rows: "list[dict] | None",
    req: "tuple | None",
    tiles: "list[dict] | None",
) -> "tuple[list[dict], list[dict]]":
    """(revealed rows, the entry rows it read): the q2 response's
    first-L distinct keys over the range in key order, each opening at
    its smallest covering
    element — (cell, pos) of its first covered occurrence, or
    cell = -1 when an edge occurrence opens it — with its leaf hash.

    L ≤ Q2_L reads the keys WITH their first covered occurrence from
    the A26 key-tile fold of the tree request `req` (O(log range) tile
    rows; `tiles` are its cover rows and `edge_rows` its edge rows when
    the response has read them already). A larger L exceeds the tree's
    baked reveal width, so the keys come from the owner's entry-store
    rows in the covered cells: that read is bounded only by the
    owner's rows in the range, the honest cost of over-asking the
    circuit setup; its rows hold every covered cell whole, so the
    response opens cells from them."""
    edge_toks = {r["token_id"] for r in edge_rows or []}
    cand: "dict[int, dict]" = {}
    rows: "list[dict]" = []
    if L <= Q2_L:
        key_rows = [] if req is None else Q2_KEY_TREE.driver_fold(
            spark, sf_dir, req[2], req[3], owner, contract, tiles=tiles,
            edge_rows=edge_rows,
        )[:L]
        keys = [k["t"] for k in key_rows]
        for k in key_rows:
            if k["t"] in edge_toks:
                continue
            if k["cell"] == _EDGE_SENTINEL_CELL:
                # edge-only key NOT listed as an edge element —
                # impossible by construction (every edge-slice key
                # becomes an edge element)
                raise KeyError(k["t"])
            cand[k["t"]] = {"cell": k["cell"], "pos": k["p"]}
    else:
        rows = artifacts.read_rows(
            entries,
            _cells_filter(owner, [(c << k, ((c + 1) << k) - 1) for k, c in cover]),
            _entry_cols("q2"),
        ) if cover else []
        for _, leaves in sorted(cell_leaves("q2", rows).items()):
            for r in leaves:  # cells ascend: the first is the min
                cand.setdefault(r["token_id"], r)
        keys = sorted(set(cand) | edge_toks)[:L]
    return [
        {"token_id": t, "cell": -1, "pos": -1, "node_hash": ""}
        if t in edge_toks  # an edge occurrence opens first
        else {"token_id": t, "cell": cand[t]["cell"],
              "pos": cand[t]["pos"], "node_hash": _sha(t)}
        for t in keys
    ], rows


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
    from euclid_spark.operators.euclid import OWNER, TOP_L

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
    ddl = (
        ", ".join(
            f"{c} {'string' if c == 'entry_reward_hex' else 'long'}"
            for c in payload_cols
        )
        + ", leaf_hash string, path string, elem_idx int, elem_hash"
        " string, elements string, response_root string, owner long,"
        " b_min long, b_max long"
        + (", rewards_rate long" if family == "erc20" else "")
    )

    entries, tree, depth = range_commitment_paths(
        spark, sf_dir, family, rewards_rate, contract
    )
    b_min, b_max = _probe_range(spark, sf_dir, b_min, b_max)
    cover, edges = tile_cover(b_min, b_max, depth)
    if not cover and not edges:
        return local_frame(spark, [], ddl)
    own = ("owner", "=", owner)
    # a Q2 answer within the tree's reveal bound is the tree's key fold;
    # when the tree request's cover is the response's, one read of the
    # tree returns both the keys and the digests of the cover
    req = (
        Q2_KEY_TREE.request(spark, sf_dir, b_min, b_max, contract)
        if family == "q2" and L <= Q2_L else None
    )
    shared = req is not None and req[2] == cover
    tiles = _tree_nodes(
        tree, cover, owner, *(Q2_KEY_TREE.cols if shared else ())
    )

    # ---- revealed rows: first L results in canonical order
    if family == "erc20":
        # the owner's entries in the range, first L in block order: a
        # read bounded by the owner's rows in the range (no structural
        # cap — the same rows the Spark limit(L) scan read), which holds
        # every covered cell whole and both edge windows, so the edge
        # rows come out of it and the cover's leaf chains open from it
        cell_rows = sorted(
            artifacts.read_rows(
                entries,
                [[own, ("event_id", ">=", b_min), ("event_id", "<", b_max)]],
                _entry_cols(family),
            ),
            key=lambda r: r["event_id"],
        )
        edge_rows = [
            r for r in cell_rows
            if any(lo <= r["event_id"] < hi for lo, hi in edges)
        ] if edges else None
        rev_rows = [
            {**_payload(family, r), "cell": r["event_id"] // TILE_SIZE}
            for r in cell_rows[:L]
        ]
        for r in rev_rows:
            r["node_hash"] = _leaf_hex(family, r)
    else:
        # the cover's leaf chains store no digest: their cells' rows
        # ride the edge read, or else the whole-cell read below
        edge_rows, cell_rows = _edge_rows(
            entries, family, owner, edges,
            _leaf_cells(tiles) if edges else frozenset(),
        )
        rev_rows, fallback_rows = _q2_revealed(
            spark, sf_dir, owner, L, contract, entries, cover, edge_rows,
            req, list(tiles.values()) if shared else None,
        )
        cell_rows += fallback_rows
    if not rev_rows:  # nothing to open: the root appears in no row
        return local_frame(spark, [], ddl)

    # ---- opening paths, assembled DRIVER-SIDE: a response is ≤ L
    # revealed rows by construction, so every path is built in Python
    # from bounded reads — the ≤ L·depth cell-tree siblings ((level,
    # pos) IN-lists), then the entry-store rows of the ≤ L touched
    # cells and of the cover's and the siblings' leaf chains (≤
    # TILE_SIZE rows each), each cell's leaves ranked and refolded into
    # its in-cell tree. A covered cell lies inside [b_min, b_max), so
    # ERC-20 has every such cell from its range read; Q2 reads one
    # event_id window per cell it has not read yet, in one read.
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

    def _tile_for(cell: int):
        for k, c in cover:
            if (k, c) in tiles and (c << k) <= cell <= ((c + 1) << k) - 1:
                return k, c
        return None

    touched = {int(r["cell"]) for r in cov_rows}
    need: "set[tuple[int, int]]" = set()
    for r in cov_rows:
        t = _tile_for(int(r["cell"]))
        if t is not None:
            for j in range(t[0]):
                anc = int(r["cell"]) >> j
                need.add((j, anc + 1 if anc % 2 == 0 else anc - 1))
    sibs = _tree_nodes(tree, sorted(need), owner)
    want = touched | _leaf_cells(tiles) | _leaf_cells(sibs)
    missing = want - {r["event_id"] // TILE_SIZE for r in cell_rows}
    if missing:
        cell_rows += artifacts.read_rows(
            entries, _cells_filter(owner, [(c, c) for c in sorted(missing)]),
            _entry_cols(family),
        )
    opened = cell_leaves(
        family, [r for r in cell_rows if r["event_id"] // TILE_SIZE in want]
    )
    in_nodes = _cell_trees(family, opened)
    _set_cell_roots(tiles, in_nodes)
    _set_cell_roots(sibs, in_nodes)
    cell_sibs = {kc: n["node_hash"] for kc, n in sibs.items()}
    if family == "erc20":  # a revealed entry's pos is its rank in its cell
        at = {lf["event_id"]: lf["pos"] for lv in opened.values() for lf in lv}
        for r in cov_rows:
            r["pos"] = at[r["event_id"]]

    # ---- element sequence (bounded: O(log range) tiles + 2 edge slices)
    elems = _element_sequence(family, edge_rows, tiles, cover)
    element_hashes = [h for _, h, _ in elems]
    elements_str = "/".join(element_hashes)
    root = _fold(_hdr(b_min, b_max, owner, rate), element_hashes)
    at_elem = {(m["k"], m["c"]): i for i, (_, _, m) in enumerate(elems) if "k" in m}

    out_rows: "list[tuple]" = []
    for r in cov_rows:
        cell, pos = int(r["cell"]), int(r["pos"])
        steps = _path_steps(*in_nodes[cell], pos)
        t = _tile_for(cell)
        # an occupied leaf's cell always has an occupied cover tile
        assert t is not None, (family, owner, cell)
        steps += _path_steps(cell_sibs, t[0], cell, CELL_LVL_OFF)
        out_rows.append(
            tuple(r[c] for c in payload_cols)
            + (r["node_hash"], "/".join(steps), at_elem[t])
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

    # every row ends in its elem_idx; append (elem_hash, elements,
    # response_root, owner, b_min, b_max[, rewards_rate])
    tail = (elements_str, root, owner, b_min, b_max) + (
        (rate,) if family == "erc20" else ()
    )
    return local_frame(
        spark, [row + (element_hashes[row[-1]],) + tail for row in out_rows], ddl
    )


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
    decl = RESPONSES[family]
    path = decl.path(sf_dir)
    build = (
        (lambda: erc20_range_response(spark, sf_dir))
        if family == "erc20"
        else (lambda: q2_range_response(spark, sf_dir))
    )
    out = artifacts.serve_frame(spark, path, build)
    artifacts.publish_manifest(
        path, f"{family}_range", [f"{sf_dir}/events.parquet"],
        {k: v for k, v in decl.params.items() if k != "op"},
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
    leaf = _leaf_hash(family)
    id_col = "event_id" if family == "erc20" else "token_id"
    hdr_parts = [
        F.col("b_min").cast("string"),
        F.col("b_max").cast("string"),
        F.col("owner").cast("string"),
    ] + ([F.col("rewards_rate").cast("string")] if family == "erc20" else [])
    seed = F.sha2(F.concat_ws(":", F.lit("hdr"), *hdr_parts), 256)

    leaf_ok = leaf == F.col("leaf_hash")
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
        import duckdb

        from euclid_spark.operators.euclid import OWNER, _TOKEN
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
        depth = tree_depth(int(mb_q or 0) // TILE_SIZE + 1)
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
        from euclid_spark.operators.merkle import _REFOLD_SQL

        path = RESPONSES[family].path(sf_dir)
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
