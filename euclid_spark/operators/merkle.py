"""Merkle-tree table commitments with per-row opening paths
(SURVEY.md §2.A18).

The reference's storage/state DBs are real Merkle trees — entries are
leaves, the root is the table commitment, and any row's membership is
provable by an *opening path* of sibling hashes up to the root
(mrp2-utils/src/merkle_tree/mod.rs; mr-plonky2-circuits/src/state/lpn/
leaf.rs and node.rs hash leaf/inner nodes with distinct flavors of
Poseidon). The additive digest in functions/hashing.py is the
aggregation-friendly commitment; what it cannot do is produce a
*verifiable path* for a single row — this module adds that.

Spec (chosen so both Spark and an external ANSI-SQL oracle can compute
it bit-for-bit — sha2-256 over lowercase-hex strings stands in for
Poseidon, exactly like functions/mpt.py):

- entries of a group are sorted by their key and numbered 0..n-1
  (canonical order ⇒ deterministic tree, like the reference's sorted
  storage slots);
- leaf(i)   = sha256(entry encoding)                        [level 0]
- parent    = sha256(left_hex || right_hex)                 [level k+1]
- an unpaired tail node is PROMOTED unchanged to the next level
  (no self-concat), so a path simply *skips* promoted levels;
- the root is the single level-`LEVELS` node of the group; a fixed
  `LEVELS` bound keeps the oracle non-recursive — chained CTEs — and
  promotion makes extra levels above the true root the identity.

Opening path of leaf p: at each level k, the sibling of its ancestor
(`anc = p >> k`, sibling `anc ± 1`), tagged with the side the sibling
sits on — serialized `"k<side>:<hex>"` joined by `/` so the driver's
string-valued compare pins every byte. tests/test_merkle.py re-folds
every emitted path back to the root (the verifier a proof consumer
would run).

Scale shape: the tree is built in one grouped pass — one shuffle
collects each group's leaves sorted by pos, every level is folded from
the one below inside that group's row (array higher-order functions),
and the levels explode back to node rows. `LEVELS` bounds a group at
2^16 leaves, so one group's row stays ≤ 2^17 digests (< 10 MB) while
the groups fold in parallel; nothing is pinned and the plan does not
grow with the depth. The path join is leaves × levels on (group,
level, sibling_pos) — n·log n rows, plain shuffle hash join, no window
over a whole group and nothing driver-side.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from euclid_spark import artifacts
from euclid_spark.catalog import cached_parquet, local_frame


# Supports groups up to 2^16 = 65,536 entries; raise for bigger groups
# (extra levels past the true root are identity promotions). It also
# bounds one group's row in the grouped build: ≤ 2^17 digests.
LEVELS = 16


def _parents(cur: Column) -> Column:
    """One group's level k+1 from its level k, an array of
    (pos, node_hash) sorted by pos: two nodes whose pos >> 1 match fold
    to sha256(left_hex || right_hex) at that pos; a node whose sibling
    is absent is promoted unchanged. Siblings are found by pos, never
    by array index, so sparse positions fold like contiguous ones."""

    def parent(x: Column, i: Column) -> Column:
        up = F.shiftright(x["pos"], 1)
        prv, nxt = F.get(cur, i - 1), F.get(cur, i + 1)
        return (
            # the right child of a pair: its left sibling emits the parent
            F.when(F.shiftright(prv["pos"], 1) == up, F.lit(None))
            .when(
                F.shiftright(nxt["pos"], 1) == up,
                F.struct(
                    up.alias("pos"),
                    F.sha2(F.concat(x["node_hash"], nxt["node_hash"]), 256)
                    .alias("node_hash"),
                ),
            )
            .otherwise(
                F.struct(up.alias("pos"), x["node_hash"].alias("node_hash"))
            )
        )

    return F.filter(F.transform(cur, parent), lambda y: y.isNotNull())


def _tree(level0: Column, folds: Column) -> Column:
    """One group's tree as an array of levels, level k its element k:
    `level0`, an array of (pos, node_hash) sorted by pos, and `folds`
    levels above it, each folded from the one below by `_parents` (the
    repeated zeros only count the folds)."""
    return F.aggregate(
        F.array_repeat(F.lit(0), folds),
        F.array(level0),
        lambda acc, _: F.concat(acc, F.array(_parents(F.element_at(acc, -1)))),
    )


def merkle_levels(
    leaves: DataFrame,
    group: "str | tuple[str, ...]" = "group_key",
    levels: int | None = None,
) -> "tuple[DataFrame, int]":
    """leaves: (group, pos, node_hash) with pos distinct per group —
    contiguous 0..n-1 or sparse (the cell tree's occupied cells); an
    absent sibling promotes. `group` is one column or a tuple of them
    (a composite key). Returns (nodes, depth): every tree node as
    (group, pos, node_hash, level), level 0 = leaves, level `depth` =
    the root row (pos 0 per group).

    `levels=None` sizes the tree from the data: depth =
    ⌈log₂(max group size)⌉ (one tiny count aggregate — orchestration,
    like the components loop). The fixed-`LEVELS` oracle is unaffected:
    promotion makes every level above the true root the identity.

    One grouped pass: each group's leaves are collected sorted by pos
    (the one shuffle), every level is folded from the one below inside
    the group's row (`_parents`), and the levels are exploded back to
    node rows. Nothing is pinned and the plan does not grow with the
    depth."""
    keys = [group] if isinstance(group, str) else list(group)
    lv = leaves.select(*keys, "pos", "node_hash")
    if levels is None:
        # a top-1 over the group counts: one shuffle, no second one to
        # gather a global max
        top = lv.groupBy(*keys).count().orderBy(F.desc("count")).first()
        mx = top["count"] if top else 1
        levels = max(1, math.ceil(math.log2(mx))) if mx > 1 else 1
        # The chained-CTE oracles (merkle_proof_sql) are emitted with the
        # fixed LEVELS bound; promotion makes levels ABOVE the true root
        # the identity, so data-driven depth ≤ LEVELS always agrees with
        # the oracle — but a group larger than 2^LEVELS leaves would make
        # this tree DEEPER than the oracle's CTE chain and silently break
        # parity (r7 ADVICE). Fail loudly instead; raise LEVELS to cover.
        if levels > LEVELS:
            raise ValueError(
                f"merkle_levels: max group size {mx} needs depth {levels} > "
                f"oracle bound LEVELS={LEVELS}; raise merkle.LEVELS so the "
                "chained-CTE oracles stay in sync"
            )
    tree = _tree(
        F.array_sort(F.collect_list(F.struct("pos", "node_hash"))),
        F.lit(levels),
    )
    nodes = (
        lv.groupBy(*keys)
        .agg(tree.alias("tree"))
        .select(*keys, F.posexplode("tree").alias("level", "nodes"))
        .select(*keys, F.inline("nodes"), "level")
    )
    return nodes, levels


def merkle_levels_local(
    hashes: "list[str]",
) -> "tuple[dict[tuple[int, int], str], int]":
    """(nodes, depth): `merkle_levels` for one group on the driver — the
    tree over `hashes`, its leaves in pos order 0..n-1, as
    {(level, pos): hash} and its root's level. Same rule: pair
    (2p, 2p + 1), promote an unpaired tail node; it stops at the root
    instead of promoting past it."""
    nodes = {(0, p): h for p, h in enumerate(hashes)}
    lvl, k = hashes, 0
    while len(lvl) > 1:
        lvl = [
            hashlib.sha256((lvl[i] + lvl[i + 1]).encode()).hexdigest()
            if i + 1 < len(lvl)
            else lvl[i]
            for i in range(0, len(lvl), 2)
        ]
        k += 1
        nodes.update(((k, p), h) for p, h in enumerate(lvl))
    return nodes, k


def _path_steps(
    nodes: "dict[tuple[int, int], str]", depth: int, pos: int, off: int = 0
) -> "list[str]":
    """The A18 opening steps of node `pos` of level 0 through levels
    0..depth-1 of `nodes` (`merkle_levels_local`'s): the sibling of its
    ancestor at each level, tagged `<off + level><side>`, and no step
    at a promotion (absent sibling)."""
    steps = []
    for j in range(depth):
        anc = pos >> j
        h = nodes.get((j, anc ^ 1))
        if h is not None:
            steps.append(f"{off + j}{'R' if anc % 2 == 0 else 'L'}:{h}")
    return steps


def _openings(hashes: "list[str]", L: int) -> "list[tuple[int, str, str, str]]":
    """(leaf_pos, leaf_hash, path, root) of the first L leaves of one
    group, `hashes` its leaves in pos order: `merkle_opening_paths` for
    one group on the driver — the tree folded by `merkle_levels_local`,
    each path spelled by `_path_steps`."""
    if not hashes:
        return []
    nodes, depth = merkle_levels_local(hashes)
    root = nodes[(depth, 0)]
    return [
        (p, hashes[p], "/".join(_path_steps(nodes, depth, p)), root)
        for p in range(min(L, len(hashes)))
    ]


def merkle_roots(
    leaves: DataFrame, group: "str | tuple[str, ...]"
) -> DataFrame:
    """(group, root): each group's Merkle root over `leaves`
    (group, pos, node_hash). merkle_levels carries every group up to
    the top level by promotion, so the root is each group's one node
    there."""
    keys = [group] if isinstance(group, str) else list(group)
    nodes, depth = merkle_levels(leaves, group)
    return nodes.filter(F.col("level") == depth).select(
        *keys, F.col("node_hash").alias("root")
    )


def _served_depth(path: str) -> "int | None":
    """Tree depth (max level) of a SERVED node artifact from its parquet
    FOOTER statistics — O(row groups) metadata reads, no Spark job (the
    previous `agg(max(level))` here scanned every node row on EVERY
    query call, a per-call job whose cost grows with the corpus). Call
    it after the artifact is served."""
    ml = artifacts.footer_stats(path).span("level")[1]
    return None if ml is None else int(ml)


MERKLE_LEAVES_CUSTOMER = artifacts.Artifact(
    "merkle_leaves_customer", "customer", dict(op="merkle_tree_customer")
)
MERKLE_NODES_CUSTOMER = artifacts.Artifact(
    "merkle_nodes_customer", "customer", dict(op="merkle_tree_customer")
)


def merkle_membership_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 — Merkle opening paths for every entry of the per-nation
    customer table: (entry, leaf_pos, leaf_hash, path, root). Verifying
    a row = refolding leaf_hash along `path` and comparing to `root`
    (tests/test_merkle.py does exactly that for every row).

    The TREE (leaves + all inner levels) is a fingerprint-keyed DISK
    ARTIFACT: a Merkle tree over a table version is precisely the
    reference's persistent state DB (mrp2-utils/src/merkle_tree/mod.rs
    — the tree is STORED; proofs are lookups against it, not rebuilds).
    Built once per customer.parquet version by the one-pass level
    builder, then every proof query is the n·log n sibling join against
    two parquet scans. Deterministic (sha2 over canonical order), so
    build-then-serve equals recompute."""

    def build_leaves() -> DataFrame:
        cust = cached_parquet(spark, f"{sf_dir}/customer.parquet")
        w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
        return cust.select(
            F.col("c_nationkey").alias("group_key"),
            F.col("c_custkey"),
            (F.row_number().over(w) - 1).alias("pos"),
            F.sha2(
                F.concat_ws(":", F.col("c_custkey").cast("string"), "c_name"),
                256,
            ).alias("node_hash"),
        )

    leaves = artifacts.serve_frame(
        spark, MERKLE_LEAVES_CUSTOMER.path(sf_dir), build_leaves
    )
    nodes_at = MERKLE_NODES_CUSTOMER.path(sf_dir)
    nodes = artifacts.serve_frame(
        spark, nodes_at, lambda: merkle_levels(leaves)[0]
    )
    depth = _served_depth(nodes_at)
    return merkle_opening_paths(
        leaves, entry_cols=["c_custkey"], nodes=nodes, depth=depth
    )


def merkle_opening_paths(
    leaves: DataFrame,
    entry_cols: list[str],
    group: str = "group_key",
    nodes: DataFrame | None = None,
    depth: int | None = None,
) -> DataFrame:
    """leaves: (group, *entry_cols, pos, node_hash), pos contiguous per
    group. Returns (group, *entry_cols, leaf_pos, leaf_hash, path, root)
    with one output row for EVERY leaf — a single-leaf group's leaf IS
    its root, emitted with an empty path (zero fold steps).
    Pass a prebuilt (nodes, depth) — e.g. a served tree artifact — to
    skip the level build."""
    if nodes is None:
        nodes, depth = merkle_levels(leaves.select(group, "pos", "node_hash"))
    if depth is None or depth < 1:
        # empty tree (zero-row corpus): a served nodes artifact reports
        # max(level) = NULL — emit the typed empty response instead of
        # building a negative-length level sequence
        return leaves.select(
            group,
            *entry_cols,
            F.col("pos").alias("leaf_pos"),
            F.col("node_hash").alias("leaf_hash"),
            F.lit("").alias("path"),
            F.lit("").alias("root"),
        ).limit(0)

    roots = nodes.filter(F.col("level") == depth).select(
        group, F.col("node_hash").alias("root")
    )

    # one row per (leaf, level): the sibling of the leaf's ancestor
    lvls = F.sequence(F.lit(0), F.lit(depth - 1))
    # shiftright() takes a literal bit count — per-row level needs expr()
    anc = F.expr("shiftright(pos, cast(level AS int))")
    probes = leaves.select(
        group,
        *entry_cols,
        F.col("pos"),
        F.col("node_hash").alias("leaf_hash"),
        F.explode(lvls).alias("level"),
    ).select(
        "*",
        F.when(anc % 2 == 0, anc + 1).otherwise(anc - 1).alias("sib_pos"),
        # sibling side: ancestor even → sibling on the Right
        F.when(anc % 2 == 0, F.lit("R")).otherwise(F.lit("L")).alias("side"),
    )
    sib = nodes.select(
        group, "level", F.col("pos").alias("sib_pos"),
        F.col("node_hash").alias("sib_hash"),
    )
    # LEFT join: a missing sibling (promoted level) contributes no path
    # element — refolding skips it, matching promotion-as-identity. Kept
    # left (not inner) so a leaf whose EVERY level misses — a
    # single-leaf group — still reaches the aggregation and emits an
    # empty path instead of vanishing from the output.
    steps = probes.join(sib, [group, "level", "sib_pos"], "left")
    path_txt = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    # null struct (missed level) is skipped by collect_list
                    F.when(
                        F.col("sib_hash").isNotNull(),
                        F.struct(
                            "level",
                            F.concat_ws(
                                "", F.col("level").cast("string"),
                                "side", F.lit(":"), "sib_hash",
                            ).alias("txt"),
                        ),
                    )
                )
            ),
            lambda x: x["txt"],
        ),
        "/",
    )
    paths = steps.groupBy(
        group, *entry_cols, F.col("pos").alias("leaf_pos"), "leaf_hash"
    ).agg(path_txt.alias("path"))
    # no broadcast hint on `roots`: it has one row PER GROUP, and this is
    # a generic operator — with a high-cardinality group key the roots
    # table grows with the data, and a forced broadcast OOMs the driver
    # at scale (VERDICT r4 #2). The join key matches the partitioning the
    # aggregations already established, and AQE converts to a broadcast
    # join at runtime whenever roots is actually small (e.g. the 25
    # nation groups of the registered query).
    return paths.join(roots, group).select(
        group, *entry_cols, "leaf_pos", "leaf_hash", "path", "root"
    )


def merkle_proof_sql(
    l0_sql: str, entry_col: "str | list[str]", levels: int = LEVELS
) -> str:
    """Chained-CTE ANSI oracle for an opening-path query over any leaf
    CTE (non-recursive: one CTE per tree level; promotion keeps levels
    beyond the true depth the identity, so a fixed `levels` is exact).
    `l0_sql` must yield (group_key, {entry_col…}, pos, node_hash);
    `entry_col` may be one column name or a list (r7: the ERC-20
    response carries (event_id, entry_reward_hex) per leaf)."""
    entry_cols = [entry_col] if isinstance(entry_col, str) else list(entry_col)
    e_l = ", ".join(f"l.{c}" for c in entry_cols)
    e_s = ", ".join(f"s.{c}" for c in entry_cols)
    ctes = [f"l0 AS (\n{l0_sql}\n)"]
    for k in range(1, levels + 1):
        ctes.append(
            f"""l{k} AS (
  SELECT group_key, pos // 2 AS pos,
         CASE WHEN count(*) = 2
              THEN sha256(string_agg(node_hash, '' ORDER BY pos))
              ELSE min(node_hash) END AS node_hash
  FROM l{k - 1} GROUP BY group_key, pos // 2
)"""
        )
    node_union = "\n  UNION ALL ".join(
        f"SELECT {k} AS level, group_key, pos, node_hash FROM l{k}"
        for k in range(levels + 1)
    )
    return f"""WITH {', '.join(ctes)},
nodes AS (
  {node_union}
),
probes AS (
  SELECT l.group_key, {e_l}, l.pos, l.node_hash AS leaf_hash,
         g.level,
         CASE WHEN (l.pos >> g.level) % 2 = 0
              THEN (l.pos >> g.level) + 1 ELSE (l.pos >> g.level) - 1
         END AS sib_pos,
         CASE WHEN (l.pos >> g.level) % 2 = 0 THEN 'R' ELSE 'L' END AS side
  FROM l0 l CROSS JOIN (SELECT unnest(range(0, {levels})) AS level) g
),
steps AS (
  SELECT p.*, n.node_hash AS sib_hash
  FROM probes p
  LEFT JOIN nodes n ON n.group_key = p.group_key
                   AND n.level = p.level AND n.pos = p.sib_pos
)
SELECT s.group_key, {e_s}, s.pos AS leaf_pos, s.leaf_hash,
       COALESCE(string_agg(s.level::VARCHAR || s.side || ':' || s.sib_hash,
                           '/' ORDER BY s.level)
                FILTER (WHERE s.sib_hash IS NOT NULL), '') AS path,
       r.node_hash AS root
FROM steps s
JOIN l{levels} r ON r.group_key = s.group_key
GROUP BY s.group_key, {e_s}, s.pos, s.leaf_hash, r.node_hash
"""


_CUSTOMER_L0 = """  SELECT c_nationkey AS group_key,
         c_custkey,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) - 1 AS pos,
         sha256(c_custkey::VARCHAR || ':' || c_name) AS node_hash
  FROM customer"""


def _oracle_merkle(levels: int = LEVELS) -> str:
    return merkle_proof_sql(_CUSTOMER_L0, "c_custkey", levels)


# --- the pinned-range verifiable responses (A20/A21, A23/A24) ---------------
#
# Each family's leaves are the rows of its keyed tile tree's entry store
# (range_tree.Q2_KEY_TREE, range_tree.ERC20_REWARD_TREE) in the pinned
# window's event_id span, the pinned range's entries under the corpus
# rule (euclid.pinned_window): Q2 an owner's distinct keys by token_id,
# ERC-20 its entries by event_id with the reward hex spelled from the
# limbs — the in-cell trees' leaves, ranked over the window instead of
# a cell. No tree is stored: one owner's is folded on the driver from
# one bounded read, every owner's in one grouped pass (_window_openings).

_PROV = ("min_block", "max_block", "range_digest")
_Q2_DDL = (
    "token_id long, leaf_pos int, leaf_hash string, path string, "
    "root string, min_block long, max_block long, range_digest long"
)
_ERC20_DDL = (
    "event_id long, entry_reward_hex string, leaf_pos int, leaf_hash "
    "string, path string, root string, reward_hex string, n_zero_supply "
    "long, n_overflow long, min_block long, max_block long, range_digest "
    "long, rewards_rate int"
)


def _owner_window(
    spark: SparkSession, sf_dir: str, tree, owner: int, window: tuple,
    cols: "list[str]", contract=None, rate=None,
) -> "list[dict]":
    """`owner`'s rows of `tree`'s entry store in the event_id span of
    `window` (euclid.pinned_window's), `cols` of them: one
    `artifacts.read_rows`, bounded to the owner and the window; none
    when the window is empty."""
    min_b, max_b, _ = window
    if min_b is None:
        return []
    return artifacts.read_rows(
        tree.path(spark, sf_dir, contract, rate, store=True),
        [[("owner", "=", owner), ("event_id", ">=", min_b),
          ("event_id", "<=", max_b)]],
        cols,
    )


def _window_openings(
    entries: DataFrame, entry_cols: "list[str]", leaf_hash: Column, L: int
) -> DataFrame:
    """(owner, *entry_cols, leaf_pos, leaf_hash, path, root) of the
    first L leaves of every owner's tree over the distinct rows of
    `entries` (owner, *entry_cols, …), its leaves ranked by
    `entry_cols`, the first one deciding: one grouped pass — each
    owner's distinct leaves collected and sorted (the one shuffle), its
    tree folded in the row up to its own root (`_tree`, merkle_levels'
    fold), and the first L leaves' paths read off its levels in the A18
    wire format — level j's array index is its pos, since the leaves'
    are 0..n-1. Like merkle_levels, an owner of more than 2^LEVELS
    leaves raises instead of outgrowing the chained-CTE oracles."""
    leaves = F.array_sort(
        F.collect_set(F.struct(*entry_cols, leaf_hash.alias("h")))
    )
    n = F.size("lv")
    depth = F.when(
        n > 2**LEVELS, F.raise_error(F.lit(f"an owner has over 2^{LEVELS} leaves"))
    ).otherwise(F.when(n > 1, F.ceil(F.log2(n))).otherwise(0)).cast("int")
    level0 = F.transform(
        "lv", lambda x, i: F.struct(i.alias("pos"), x["h"].alias("node_hash"))
    )
    # the sibling of the leaf's level-j ancestor, when it is not promoted
    sib = "get(tree[j], shiftright(p, j) ^ 1)"
    path = F.expr(
        f"array_join(transform(filter(sequence(0, d - 1), j -> d > 0 AND "
        f"{sib} IS NOT NULL), j -> concat(j, IF(shiftright(p, j) % 2 = 0, "
        f"'R', 'L'), ':', {sib}.node_hash)), '/')"
    )
    return (
        entries.groupBy("owner").agg(leaves.alias("lv"))
        .select("owner", "lv", depth.alias("d"))
        .select("owner", "lv", "d", _tree(level0, F.col("d")).alias("tree"))
        .select(
            "owner", "d", "tree",
            F.posexplode(F.slice("lv", 1, L)).alias("p", "x"),
        )
        .select(
            "owner",
            *[F.col("x")[c].alias(c) for c in entry_cols],
            F.col("p").alias("leaf_pos"),
            F.col("x.h").alias("leaf_hash"),
            path.alias("path"),
            F.element_at(F.element_at("tree", -1), 1)["node_hash"].alias("root"),
        )
    )


def _prov_cols(window: tuple) -> "list[Column]":
    """The window's provenance binding as literal columns."""
    return [F.lit(v).cast("long").alias(c) for c, v in zip(_PROV, window)]


def verifiable_query_response(
    spark: SparkSession,
    sf_dir: str,
    owner: "int | None" = None,
    L: "int | None" = None,
    b_min: "int | None" = None,
    b_max: "int | None" = None,
    contract: "str | None" = None,
) -> DataFrame:
    """A20 — the END DELIVERABLE of the reference's query phase, as one
    row set: a VERIFIABLE QUERY RESPONSE (what the groth16 final proof
    carries — query result + the public inputs binding it to the data
    commitment; groth16-framework/, query2/revelation/). For
    (OWNER, [B_min, B_max]):

      - the owner's FULL distinct token set in range becomes the leaf
        set of a Merkle commitment (the committed result universe),
      - the revealed rows are the canonical-order top-L (A3's
        revelation bound), each carrying its OPENING PATH to the
        commitment root — the verifier refolds leaf→root,
      - every row carries the provenance binding (min_block, max_block,
        range_digest — A3's public inputs).

    Answered on the driver, as the range responses are: one
    `artifacts.read_rows` of the owner's rows of the contract's Q2
    entry store in the pinned window, the tree folded over its
    distinct keys, the paths in the A18 wire format, one local frame —
    no Spark job runs until it is acted on. Oracle: the A3 result CTE
    plugged into the generic chained-CTE merkle construction
    (merkle_proof_sql), provenance cross-joined.

    r9: pass (b_min, b_max) to get the ARBITRARY-RANGE verifiable
    response instead — answered in O(log range + |result|) from the
    per-tile subtree-root commitments (operators/range_response.py,
    which documents the element/fold schema that response carries)."""
    from euclid_spark.operators.euclid import OWNER, TOP_L, pinned_window
    from euclid_spark.operators.range_response import _leaf_hex
    from euclid_spark.operators.range_tree import Q2_KEY_TREE

    if b_min is not None or b_max is not None:
        from euclid_spark.operators.range_response import q2_range_response

        return q2_range_response(
            spark, sf_dir, owner=owner, b_min=b_min, b_max=b_max, L=L,
            contract=contract,
        )
    owner = OWNER if owner is None else int(owner)
    L = TOP_L if L is None else int(L)
    window = pinned_window(spark, sf_dir)
    toks = sorted({
        r["token_id"] for r in _owner_window(
            spark, sf_dir, Q2_KEY_TREE, owner, window, ["token_id"], contract
        )
    })
    hashes = [_leaf_hex("q2", {"token_id": t}) for t in toks]
    return local_frame(
        spark,
        [(toks[p], p, *op, *window) for p, *op in _openings(hashes, L)],
        _Q2_DDL,
    )


def _oracle_verifiable_response(contract: "str | None" = None) -> str:
    from euclid_spark.operators.euclid import (
        CONTRACT,
        OWNER,
        TOP_L,
        _PROV_SQL,
        _RANGE,
        _TOKEN,
    )

    contract = CONTRACT if contract is None else contract
    l0 = f"""  SELECT {OWNER} AS group_key, token_id,
         row_number() OVER (ORDER BY token_id) - 1 AS pos,
         sha256(token_id::VARCHAR) AS node_hash
  FROM (SELECT DISTINCT {_TOKEN} AS token_id FROM events
        WHERE {_RANGE} AND event_type = '{contract}'
          AND user_id = {OWNER} AND {_TOKEN} IS NOT NULL)"""
    return f"""
        SELECT m.token_id, m.leaf_pos, m.leaf_hash, m.path, m.root,
               p.min_block, p.max_block, p.range_digest
        FROM ({merkle_proof_sql(l0, "token_id")}) m
        CROSS JOIN ({_PROV_SQL}) p
        ORDER BY m.token_id
        LIMIT {TOP_L}
    """


def batch_verifiable_responses(
    spark: SparkSession,
    sf_dir: str,
    L: "int | None" = None,
) -> DataFrame:
    """A21 — A20 batched over EVERY owner (the A12 ⇄ A20 composition):
    one query emits, for all owners at once, the canonical-order top-L
    revealed tokens each carrying its opening path to that OWNER'S OWN
    commitment root over their full in-range token set, plus the range
    provenance. This is the reference's batched revelation surface
    made verifiable end-to-end.

    The Q2 entry store's window read in Spark, its distinct keys per
    owner folded into the owner's tree in one grouped pass, and the
    first L keys — leaf_pos IS the canonical rank — opened in the same
    row (`_window_openings`)."""
    from euclid_spark.operators.euclid import (
        TOP_L,
        pinned_entries,
        pinned_window,
    )
    from euclid_spark.operators.range_response import q2_leaf_hash
    from euclid_spark.operators.range_tree import Q2_KEY_TREE

    L = TOP_L if L is None else int(L)
    window = pinned_window(spark, sf_dir)
    ents = pinned_entries(spark, sf_dir, Q2_KEY_TREE, window)
    if ents is None:
        return local_frame(spark, [], "owner long, " + _Q2_DDL)
    return _window_openings(
        ents, ["token_id"], q2_leaf_hash(F.col("token_id")), L
    ).select(
        "owner",
        "token_id",
        "leaf_pos",
        "leaf_hash",
        "path",
        "root",
        *_prov_cols(window),
    )


def _oracle_batch_responses() -> str:
    from euclid_spark.operators.euclid import (
        TOP_L,
        _PROV_SQL,
        _RANGE,
        _TOKEN,
    )

    l0 = f"""  SELECT owner AS group_key, token_id,
         row_number() OVER (PARTITION BY owner ORDER BY token_id) - 1 AS pos,
         sha256(token_id::VARCHAR) AS node_hash
  FROM (SELECT DISTINCT user_id AS owner, {_TOKEN} AS token_id FROM events
        WHERE {_RANGE} AND event_type = 'purchase'
          AND {_TOKEN} IS NOT NULL)"""
    return f"""
        SELECT m.group_key AS owner, m.token_id, m.leaf_pos, m.leaf_hash,
               m.path, m.root, p.min_block, p.max_block, p.range_digest
        FROM ({merkle_proof_sql(l0, "token_id")}) m
        CROSS JOIN ({_PROV_SQL}) p
        WHERE m.leaf_pos < {TOP_L}
    """


# the published ERC-20 response's key: rate AND contract are baked into
# the leaf rewards (exactly as the reference bakes them into the leaf
# proofs — each contract has its own storage DB), so each (rate,
# contract) keys its own response; the params are those the entry tree
# it was once served from carried, kept so its path stays put
ERC20_RESPONSE = artifacts.Artifact(
    "erc20_response", "events",
    dict(op="erc20_entry_tree", v=2, layout="owner_v3"),
)


def erc20_verifiable_response(
    spark: SparkSession,
    sf_dir: str,
    owner: "int | None" = None,
    L: "int | None" = None,
    rewards_rate: "int | None" = None,
    b_min: "int | None" = None,
    b_max: "int | None" = None,
    contract: "str | None" = None,
) -> DataFrame:
    """A23 — the ERC-20 VERIFIABLE RESPONSE, the A20 twin for the
    reference's second query family (query_erc20/revelation/{mod.rs,
    circuit.rs}; public_inputs.rs:89-160 exposes block range,
    rewards_rate, the reward result, and the block-DB binding;
    exercised end-to-end by query_erc20/tests.rs). For
    (OWNER, [B_min, B_max]):

      - the owner's contributing entries (each with its leaf-circuit
        reward ⌊balance·rate/supply⌋ in u256) form the leaf set of a
        Merkle commitment — the committed computation trace,
      - the revealed rows are the first L entries in canonical block
        order, EACH carrying its opening path to the owner's root,
      - every row carries the owner's TOTAL reward (A13's u256
        limb-sum) and the public-input binding
        (min_block, max_block, range_digest, rewards_rate).

    Answered on the driver like A20: one `artifacts.read_rows` of the
    owner's rows of the ERC-20 entry store in the pinned window, the
    leaves in block order with their reward hex, the tree and the
    paths folded as A20 folds them, and the owner's total
    `ERC20_REWARD_TREE.fold` of the same rows. Oracle: the per-entry
    HUGEINT leaf CTE plugged into the leaf-pluggable merkle_proof_sql
    + A13's reward oracle + the provenance cross join.

    r9: pass (b_min, b_max) for the ARBITRARY-RANGE verifiable response
    (operators/range_response.py — tile-cover commitment, its own
    element/fold schema)."""
    from euclid_spark.operators.euclid import (
        OWNER,
        REWARDS_RATE,
        TOP_L,
        pinned_window,
    )
    from euclid_spark.operators.range_response import _leaf_hex, _payload
    from euclid_spark.operators.range_tree import ERC20_REWARD_TREE

    if b_min is not None or b_max is not None:
        from euclid_spark.operators.range_response import (
            erc20_range_response,
        )

        return erc20_range_response(
            spark, sf_dir, owner=owner, b_min=b_min, b_max=b_max, L=L,
            rewards_rate=rewards_rate, contract=contract,
        )
    owner = OWNER if owner is None else int(owner)
    L = TOP_L if L is None else int(L)
    rate = REWARDS_RATE if rewards_rate is None else int(rewards_rate)
    window = pinned_window(spark, sf_dir)
    rows = sorted(
        _owner_window(
            spark, sf_dir, ERC20_REWARD_TREE, owner, window,
            ["event_id", "l0", "l1", "l2", "l3", "zs", "of"], contract, rate,
        ),
        key=lambda r: r["event_id"],
    )
    if not rows:
        return local_frame(spark, [], _ERC20_DDL)
    reward_hex, n_zero_supply, n_overflow, _ = ERC20_REWARD_TREE.fold([], rows)
    leaves = [_payload("erc20", r) for r in rows]
    hashes = [_leaf_hex("erc20", lf) for lf in leaves]
    return local_frame(
        spark,
        [
            (leaves[p]["event_id"], leaves[p]["entry_reward_hex"], p, *op,
             reward_hex, n_zero_supply, n_overflow, *window, rate)
            for p, *op in _openings(hashes, L)
        ],
        _ERC20_DDL,
    )


def erc20_batch_verifiable_responses(
    spark: SparkSession,
    sf_dir: str,
    L: "int | None" = None,
    rewards_rate: "int | None" = None,
) -> DataFrame:
    """A24 — A23 batched over EVERY owner (the A21 shape on the ERC-20
    family): per owner, the first-L contributing entries in block order
    each with its opening path to that OWNER'S commitment root, the
    owner's total u256 reward, and the shared range/rate binding. The
    ERC-20 entry store's window read in Spark and folded per owner in
    one grouped pass (`_window_openings`); the totals are A13's frame,
    joined on the owner."""
    from euclid_spark.operators.euclid import (
        REWARDS_RATE,
        TOP_L,
        erc20_weighted_sum_u256,
        pinned_entries,
        pinned_window,
    )
    from euclid_spark.operators.range_response import (
        erc20_entry_hex,
        erc20_leaf_hash,
    )
    from euclid_spark.operators.range_tree import ERC20_REWARD_TREE

    L = TOP_L if L is None else int(L)
    rate = REWARDS_RATE if rewards_rate is None else int(rewards_rate)
    window = pinned_window(spark, sf_dir)
    ents = pinned_entries(spark, sf_dir, ERC20_REWARD_TREE, window, rate=rate)
    if ents is None:
        return local_frame(spark, [], "owner long, " + _ERC20_DDL)
    paths = _window_openings(
        ents.select(
            "owner", "event_id", erc20_entry_hex().alias("entry_reward_hex")
        ),
        ["event_id", "entry_reward_hex"],
        erc20_leaf_hash(F.col("event_id"), F.col("entry_reward_hex")),
        L,
    )
    rewards = erc20_weighted_sum_u256(spark, sf_dir, rate)
    return paths.join(rewards, "owner").select(
        "owner",
        "event_id",
        "entry_reward_hex",
        "leaf_pos",
        "leaf_hash",
        "path",
        "root",
        "reward_hex",
        "n_zero_supply",
        "n_overflow",
        *_prov_cols(window),
        F.lit(rate).alias("rewards_rate"),
    )


def _erc20_l0_sql(owner_filter: bool) -> str:
    from euclid_spark.operators.euclid import (
        OWNER,
        REWARDS_RATE,
        _RANGE,
        _TOKEN,
    )

    own = f" AND user_id = {OWNER}" if owner_filter else ""
    return f"""  SELECT user_id AS group_key, event_id, entry_reward_hex,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS pos,
         sha256(event_id::VARCHAR || ':' || entry_reward_hex) AS node_hash
  FROM (
    SELECT user_id, event_id,
           lpad(lower(to_hex(
               CASE WHEN tok IS NULL OR tok = 0 THEN CAST(0 AS HUGEINT)
                    ELSE (CAST(FLOOR(value * 10000) AS HUGEINT)
                          * CAST('18446744073709551616' AS HUGEINT)
                          + event_id) * {REWARDS_RATE} // tok
               END)), 64, '0') AS entry_reward_hex
    FROM (SELECT user_id, event_id, value, {_TOKEN} AS tok FROM events
          WHERE {_RANGE} AND event_type = 'purchase'
            AND value IS NOT NULL{own})
  )"""


def _oracle_erc20_response() -> str:
    from euclid_spark.operators import euclid as _e

    a13 = _e.ORACLES["euclid_erc20_weighted_sum_u256"]
    return f"""
        SELECT m.event_id, m.entry_reward_hex, m.leaf_pos, m.leaf_hash,
               m.path, m.root,
               w.reward_hex, w.n_zero_supply, w.n_overflow,
               p.min_block, p.max_block, p.range_digest,
               {_e.REWARDS_RATE} AS rewards_rate
        FROM ({merkle_proof_sql(_erc20_l0_sql(True),
                                ["event_id", "entry_reward_hex"])}) m
        CROSS JOIN (SELECT reward_hex, n_zero_supply, n_overflow
                    FROM ({a13}) WHERE owner = {_e.OWNER}) w
        CROSS JOIN ({_e._PROV_SQL}) p
        WHERE m.leaf_pos < {_e.TOP_L}
    """


def _oracle_erc20_batch() -> str:
    from euclid_spark.operators import euclid as _e

    a13 = _e.ORACLES["euclid_erc20_weighted_sum_u256"]
    return f"""
        SELECT m.group_key AS owner, m.event_id, m.entry_reward_hex,
               m.leaf_pos, m.leaf_hash, m.path, m.root,
               w.reward_hex, w.n_zero_supply, w.n_overflow,
               p.min_block, p.max_block, p.range_digest,
               {_e.REWARDS_RATE} AS rewards_rate
        FROM ({merkle_proof_sql(_erc20_l0_sql(False),
                                ["event_id", "entry_reward_hex"])}) m
        JOIN ({a13}) w ON w.owner = m.group_key
        CROSS JOIN ({_e._PROV_SQL}) p
        WHERE m.leaf_pos < {_e.TOP_L}
    """


# --- the VERIFIER side: check a served response against the commitment -------
#
# The reference ships the verifier as a first-class deliverable
# (groth16-framework/src/verifier/, exercised by groth16-framework/tests):
# given a response + public inputs, CHECK it against the commitment —
# the consumer's half of the verifiable-database story. Here the check
# is executable arithmetic instead of a pairing equation: re-derive each
# revealed row's leaf hash from its claimed entry, refold it along the
# opening path to the claimed root (a column-expression sha2 fold), and
# verify the (min_block, max_block, range_digest) provenance binding
# against an independently recomputed range scan. Every step is pure
# column expressions — the verifier is itself a distributed query and
# costs O(revealed rows · path length), independent of corpus size.


def _refold_to_root(leaf: F.Column, path: F.Column) -> F.Column:
    """Fold a leaf hash along its serialized opening path
    ("<level><side>:<hex>/…", levels ascending — merkle_opening_paths'
    wire format): side R concatenates the sibling on the right, L on the
    left. Empty path (single-leaf group) returns the leaf unchanged —
    promotion-as-identity, exactly how the builder emits it."""
    steps = F.filter(F.split(path, "/"), lambda s: s != F.lit(""))

    def one(acc: F.Column, s: F.Column) -> F.Column:
        parts = F.split(s, ":")
        side = F.substring(parts.getItem(0), -1, 1)
        sib = parts.getItem(1)
        return F.when(side == "R", F.sha2(F.concat(acc, sib), 256)).otherwise(
            F.sha2(F.concat(sib, acc), 256)
        )

    return F.aggregate(steps, leaf, one)


# q2 pinned-response key — contract is a fingerprint axis EXACTLY as
# for the ERC-20 stores (one keying schema across both response
# families; each contract's published response is its own artifact)
Q2_RESPONSE = artifacts.Artifact("q2_response", "events", dict(op="q2_response"))


def _serve_q2_response(
    spark: SparkSession, sf_dir: str, contract: "str | None" = None
) -> DataFrame:
    """A20's response as a served artifact — the prover PUBLISHES a
    response once; verifiers consume the published rows (the
    groth16-framework tests' fixture shape). Publishing writes a
    MANIFEST (family, params, path) that the standalone verifier's
    discovery reads — the keying logic lives in Q2_RESPONSE only."""
    from euclid_spark.operators.euclid import CONTRACT

    contract = CONTRACT if contract is None else contract
    path = Q2_RESPONSE.path(sf_dir, contract=contract)
    # a response is ≤ TOP_L rows, published as one file
    out = artifacts.serve_frame(
        spark, path,
        lambda: verifiable_query_response(
            spark, sf_dir, contract=contract
        ).coalesce(1),
    )
    artifacts.publish_manifest(
        path, "q2", [f"{sf_dir}/events.parquet"], {"contract": contract}
    )
    return out


def _serve_erc20_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    from euclid_spark.operators.euclid import CONTRACT, REWARDS_RATE

    axes = {"rate": REWARDS_RATE, "contract": CONTRACT}
    path = ERC20_RESPONSE.path(sf_dir, **axes)
    out = artifacts.serve_frame(  # ≤ TOP_L rows: one file, as for Q2
        spark, path, lambda: erc20_verifiable_response(spark, sf_dir).coalesce(1)
    )
    artifacts.publish_manifest(
        path, "erc20", [f"{sf_dir}/events.parquet"], axes
    )
    return out


def verify_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A27 — VERIFY the served A20 response: per revealed row,
    (1) leaf_ok: the leaf hash re-derives from the claimed token_id,
    (2) root_ok: the opening path refolds to the claimed root,
    (3) binding_ok: the provenance public inputs match an independent
    recompute of the range metadata. `valid` = all three — the verdict
    a response consumer acts on. Tampering any byte of a leaf, path,
    root, or binding flips the verdict (negative-tested)."""
    from euclid_spark.operators.euclid import _range_provenance

    resp = _serve_q2_response(spark, sf_dir)
    prov = _range_provenance(spark, sf_dir).select(
        F.col("min_block").alias("e_min"),
        F.col("max_block").alias("e_max"),
        F.col("range_digest").alias("e_dig"),
    )
    leaf_ok = F.sha2(F.col("token_id").cast("string"), 256) == F.col("leaf_hash")
    root_ok = _refold_to_root(F.col("leaf_hash"), F.col("path")) == F.col("root")
    binding_ok = (
        (F.col("min_block") == F.col("e_min"))
        & (F.col("max_block") == F.col("e_max"))
        & (F.col("range_digest") == F.col("e_dig"))
    )
    return (
        resp.crossJoin(F.broadcast(prov))
        .withColumn("leaf_ok", leaf_ok)
        .withColumn("root_ok", root_ok)
        .withColumn("binding_ok", binding_ok)
        .select(
            "token_id",
            "leaf_pos",
            "leaf_ok",
            "root_ok",
            "binding_ok",
            (F.col("leaf_ok") & F.col("root_ok") & F.col("binding_ok"))
            .alias("valid"),
        )
    )


def verify_erc20_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A28 — VERIFY the served A23 ERC-20 response: leaf binds
    (event_id, entry_reward_hex), path refolds to the owner's root,
    provenance + rewards_rate public inputs match the recompute
    (query_erc20's verifier checks exactly these public inputs —
    public_inputs.rs:89-160)."""
    from euclid_spark.operators.euclid import REWARDS_RATE, _range_provenance

    resp = _serve_erc20_response(spark, sf_dir)
    prov = _range_provenance(spark, sf_dir).select(
        F.col("min_block").alias("e_min"),
        F.col("max_block").alias("e_max"),
        F.col("range_digest").alias("e_dig"),
    )
    leaf_ok = (
        F.sha2(
            F.concat_ws(
                ":", F.col("event_id").cast("string"), "entry_reward_hex"
            ),
            256,
        )
        == F.col("leaf_hash")
    )
    root_ok = _refold_to_root(F.col("leaf_hash"), F.col("path")) == F.col("root")
    binding_ok = (
        (F.col("min_block") == F.col("e_min"))
        & (F.col("max_block") == F.col("e_max"))
        & (F.col("range_digest") == F.col("e_dig"))
        & (F.col("rewards_rate") == F.lit(REWARDS_RATE))
    )
    return (
        resp.crossJoin(F.broadcast(prov))
        .withColumn("leaf_ok", leaf_ok)
        .withColumn("root_ok", root_ok)
        .withColumn("binding_ok", binding_ok)
        .select(
            "event_id",
            "leaf_pos",
            "leaf_ok",
            "root_ok",
            "binding_ok",
            (F.col("leaf_ok") & F.col("root_ok") & F.col("binding_ok"))
            .alias("valid"),
        )
    )


_REFOLD_SQL = """list_reduce(
    list_prepend({leaf}, list_filter(str_split({path}, '/'), s -> s <> '')),
    (acc, s) -> CASE WHEN right(split_part(s, ':', 1), 1) = 'R'
                     THEN sha256(acc || split_part(s, ':', 2))
                     ELSE sha256(split_part(s, ':', 2) || acc) END)"""


def _oracle_verify_response() -> str:
    from euclid_spark.operators import euclid as _e

    refold = _REFOLD_SQL.format(leaf="r.leaf_hash", path="r.path")
    return f"""
        SELECT token_id, leaf_pos, leaf_ok, root_ok, binding_ok,
               (leaf_ok AND root_ok AND binding_ok) AS valid
        FROM (
          SELECT r.token_id, r.leaf_pos,
                 (sha256(r.token_id::VARCHAR) = r.leaf_hash) AS leaf_ok,
                 ({refold} = r.root) AS root_ok,
                 (r.min_block = p.min_block AND r.max_block = p.max_block
                  AND r.range_digest = p.range_digest) AS binding_ok
          FROM ({_oracle_verifiable_response()}) r
          CROSS JOIN ({_e._PROV_SQL}) p
        )
    """


def _oracle_verify_erc20_response() -> str:
    from euclid_spark.operators import euclid as _e

    refold = _REFOLD_SQL.format(leaf="r.leaf_hash", path="r.path")
    return f"""
        SELECT event_id, leaf_pos, leaf_ok, root_ok, binding_ok,
               (leaf_ok AND root_ok AND binding_ok) AS valid
        FROM (
          SELECT r.event_id, r.leaf_pos,
                 (sha256(r.event_id::VARCHAR || ':' || r.entry_reward_hex)
                  = r.leaf_hash) AS leaf_ok,
                 ({refold} = r.root) AS root_ok,
                 (r.min_block = p.min_block AND r.max_block = p.max_block
                  AND r.range_digest = p.range_digest
                  AND r.rewards_rate = {_e.REWARDS_RATE}) AS binding_ok
          FROM ({_oracle_erc20_response()}) r
          CROSS JOIN ({_e._PROV_SQL}) p
        )
    """


QUERIES = {
    "euclid_merkle_proof": merkle_membership_proof,
    "euclid_verify_response": verify_response,
    "euclid_verify_erc20_response": verify_erc20_response,
    "euclid_verifiable_response": verifiable_query_response,
    "euclid_batch_verifiable_responses": batch_verifiable_responses,
    "euclid_erc20_verifiable_response": erc20_verifiable_response,
    "euclid_erc20_batch_responses": erc20_batch_verifiable_responses,
}

ORACLES = {
    "euclid_merkle_proof": _oracle_merkle(),
    "euclid_verify_response": _oracle_verify_response(),
    "euclid_verify_erc20_response": _oracle_verify_erc20_response(),
    "euclid_verifiable_response": _oracle_verifiable_response(),
    "euclid_batch_verifiable_responses": _oracle_batch_responses(),
    "euclid_erc20_verifiable_response": _oracle_erc20_response(),
    "euclid_erc20_batch_responses": _oracle_erc20_batch(),
}
