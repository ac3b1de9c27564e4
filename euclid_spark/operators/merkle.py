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
from euclid_spark.catalog import cached_parquet


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
    # level k of the group is element k of `tree`; the repeated zeros
    # only count the folds
    tree = F.aggregate(
        F.array_repeat(F.lit(0), levels),
        F.array(F.array_sort(F.collect_list(F.struct("pos", "node_hash")))),
        lambda acc, _: F.concat(acc, F.array(_parents(F.element_at(acc, -1)))),
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

    Composition shape (the C25/A19 pattern): the distinct-key
    aggregation, the one-pass tree build, and the path join all key
    on the same owner/token columns; provenance is a broadcast one-row
    aggregate; the top-L is ORDER BY + LIMIT (TakeOrderedAndProject).
    Oracle: the A3 result CTE plugged into the generic chained-CTE
    merkle construction (merkle_proof_sql), provenance cross-joined.

    r9: pass (b_min, b_max) to get the ARBITRARY-RANGE verifiable
    response instead — answered in O(log range + |result|) from the
    per-tile subtree-root commitments (operators/range_response.py,
    which documents the element/fold schema that response carries)."""
    from euclid_spark.operators.euclid import (
        OWNER,
        TOP_L,
        _range_provenance,
    )

    if b_min is not None or b_max is not None:
        from euclid_spark.operators.range_response import q2_range_response

        return q2_range_response(
            spark, sf_dir, owner=owner, b_min=b_min, b_max=b_max, L=L,
            contract=contract,
        )
    owner = OWNER if owner is None else int(owner)
    L = TOP_L if L is None else int(L)
    # the single-owner response is a FILTER of the all-owner tree
    # artifact (A21's store): same leaf numbering, same per-owner
    # subtree, so the served tree answers both faces — and any
    # (owner, L) parameterization reads the same stored tree
    leaves, nodes, depth = _owner_token_tree(spark, sf_dir, contract)
    owner_leaves = leaves.filter(F.col("group_key") == owner)
    owner_nodes = nodes.filter(F.col("group_key") == owner)
    # reveal the first L only — leaf numbering IS the canonical token
    # order, so `pos < L` selects exactly the rows the orderBy+limit
    # below keeps. The limit itself CANNOT push through the path
    # aggregation (Catalyst pushes filters on grouping keys, not
    # limits), so without this predicate the ×depth explode + sibling
    # join built openings for the owner's whole token set; with it the
    # leaf scan prunes to pos < L (PushedFilters, plans/r15).
    paths = merkle_opening_paths(
        owner_leaves.filter(F.col("pos") < L),
        entry_cols=["token_id"], nodes=owner_nodes, depth=depth,
    )
    revealed = paths.orderBy("token_id").limit(L)
    return revealed.crossJoin(
        F.broadcast(_range_provenance(spark, sf_dir))
    ).select(
        "token_id",
        "leaf_pos",
        "leaf_hash",
        "path",
        "root",
        "min_block",
        "max_block",
        "range_digest",
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


def _owner_clustered(
    spark: SparkSession, sf_dir: str, df: DataFrame, *cols: str
) -> DataFrame:
    """An owner-keyed store's write form: equal-width group_key (owner)
    buckets over the events' user_id span, each file sorted by
    (group_key, *cols) (`artifacts.clustered`); its `serve_frame` writes
    it `artifacts.ROW_CAPPED`."""
    from euclid_spark.operators.range_tree import _events_footer

    return artifacts.clustered(
        spark, df, "group_key", _events_footer(spark, sf_dir, "user_id"), *cols
    )


# keyed by contract, the request axis
OWNER_TOKEN_LEAVES = artifacts.Artifact(
    "owner_token_leaves", "events", dict(op="owner_token_tree", layout="owner_v3")
)
OWNER_TOKEN_NODES = artifacts.Artifact(
    "owner_token_nodes", "events", dict(op="owner_token_tree", layout="owner_v3")
)


def _owner_token_tree(
    spark: SparkSession, sf_dir: str, contract: "str | None" = None
):
    """The all-owner token-set Merkle tree (leaves + levels) as a
    fingerprint-keyed DISK ARTIFACT — the stored state DB both
    response faces (A20 single-owner, A21 all-owner) answer from;
    only the path joins run live. Keyed by CONTRACT like every other
    per-contract store (each contract has its own storage DB —
    query2/api.rs CircuitInput binds which one). Returns
    (leaves, nodes, depth)."""
    from euclid_spark.operators.euclid import CONTRACT, q2_distinct_keys

    contract = CONTRACT if contract is None else contract
    # owner-clustered layout (the q2_key_tiles story): both stores are
    # written in owner buckets sorted on group_key (`_owner_clustered`),
    # so the single-owner faces' group_key filter prunes parquet row
    # groups — a one-owner response reads that owner's slice, not every
    # tree

    def build_leaves() -> DataFrame:
        keys = q2_distinct_keys(spark, sf_dir, contract=contract).filter(
            F.col("token_id").isNotNull()
        )
        w = Window.partitionBy("owner").orderBy("token_id")
        return _owner_clustered(
            spark, sf_dir,
            keys.select(
                F.col("owner").alias("group_key"),
                "token_id",
                (F.row_number().over(w) - 1).alias("pos"),
                F.sha2(F.col("token_id").cast("string"), 256).alias(
                    "node_hash"
                ),
            ),
            "pos",
        )

    leaves = artifacts.serve_frame(
        spark, OWNER_TOKEN_LEAVES.path(sf_dir, contract=contract), build_leaves,
        artifacts.ROW_CAPPED,
    )
    nodes_at = OWNER_TOKEN_NODES.path(sf_dir, contract=contract)
    nodes = artifacts.serve_frame(
        spark,
        nodes_at,
        lambda: _owner_clustered(
            spark, sf_dir, merkle_levels(leaves)[0], "level", "pos"
        ),
        artifacts.ROW_CAPPED,
    )
    depth = _served_depth(nodes_at)
    return leaves, nodes, depth


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
    made verifiable end-to-end — the multi-group case the generic
    merkle machinery (group_key = owner) exists for.

    The revelation bound needs no window: leaf_pos IS the canonical
    rank (leaves are numbered in token order per owner), so revealed =
    leaf_pos < TOP_L — a row-local filter after the path join.

    The per-owner token TREE (leaves + levels) is a fingerprint-keyed
    DISK ARTIFACT like the customer tree: the reference STORES its
    state DB and answers proofs as lookups (mrp2-utils/src/
    merkle_tree/mod.rs); only the path join runs live."""
    from euclid_spark.operators.euclid import TOP_L, _range_provenance

    L = TOP_L if L is None else int(L)
    leaves, nodes, depth = _owner_token_tree(spark, sf_dir)
    # revealed = leaf_pos < L, and leaf_pos IS the stored pos column:
    # filter the leaves at the source. Catalyst already pushes the
    # post-aggregation leaf_pos filter through the groupBy + explode
    # (it is a grouping-key predicate), so this is shape-equivalent —
    # stated explicitly so the n_owners·L bound on the path build is
    # structural, not an optimizer obligation
    paths = merkle_opening_paths(
        leaves.filter(F.col("pos") < L),
        entry_cols=["token_id"], nodes=nodes, depth=depth,
    )
    revealed = paths
    return revealed.crossJoin(
        F.broadcast(_range_provenance(spark, sf_dir))
    ).select(
        F.col("group_key").alias("owner"),
        "token_id",
        "leaf_pos",
        "leaf_hash",
        "path",
        "root",
        "min_block",
        "max_block",
        "range_digest",
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


# the ERC-20 entry tree's stores and its published response share one
# key; rate AND contract are baked into the leaf rewards (exactly as the
# reference bakes them into the leaf proofs — each contract has its own
# storage DB), so each (rate, contract) keys its own artifacts
_ERC20_TREE = dict(op="erc20_entry_tree", v=2, layout="owner_v3")
ERC20_ENTRY_LEAVES = artifacts.Artifact("erc20_entry_leaves", "events", _ERC20_TREE)
ERC20_ENTRY_NODES = artifacts.Artifact("erc20_entry_nodes", "events", _ERC20_TREE)
ERC20_RESPONSE = artifacts.Artifact("erc20_response", "events", _ERC20_TREE)


def _erc20_axes(
    rewards_rate: "int | None" = None, contract: "str | None" = None
) -> dict:
    """The (rate, contract) fingerprint axes, defaults filled in."""
    from euclid_spark.operators.euclid import CONTRACT, REWARDS_RATE

    return {
        "rate": REWARDS_RATE if rewards_rate is None else int(rewards_rate),
        "contract": CONTRACT if contract is None else contract,
    }


def erc20_entry_leaves(
    spark: SparkSession,
    sf_dir: str,
    rewards_rate: "int | None" = None,
    contract: "str | None" = None,
) -> DataFrame:
    """The per-owner ERC-20 CONTRIBUTING-ENTRY leaf table as a
    fingerprint-keyed DISK ARTIFACT. Each leaf commits one in-range
    purchase entry of its owner: sha256(event_id ':' entry_reward_hex),
    where entry_reward_hex is the leaf circuit's own output
    ⌊balance·rate/supply⌋ (query_erc20/storage/leaf.rs:88-106) — the
    commitment binds the per-entry REWARDS, exactly as the reference's
    leaf proof does. Canonical pos = event_id (block) order per owner.
    zs/of ride along uncommitted (owner-level audit counters): both the
    response faces and A13's total fold read them from here, so the
    Arrow u256 leaf stage runs once at ARTIFACT BUILD, never per
    query."""
    from euclid_spark.functions.u256 import u256_to_hex
    from euclid_spark.operators.euclid import erc20_entry_rows

    def build_leaves() -> DataFrame:
        rows = erc20_entry_rows(spark, sf_dir, rewards_rate, contract)
        entry_hex = u256_to_hex(
            (F.col("l3"), F.col("l2"), F.col("l1"), F.col("l0"))
        )
        w = Window.partitionBy("owner").orderBy("event_id")
        out = rows.select(
            F.col("owner").alias("group_key"),
            "event_id",
            entry_hex.alias("entry_reward_hex"),
            "zs",
            "of",
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
        # owner-clustered write: single-owner faces prune row groups
        return _owner_clustered(spark, sf_dir, out, "pos")

    return artifacts.serve_frame(
        spark,
        ERC20_ENTRY_LEAVES.path(sf_dir, **_erc20_axes(rewards_rate, contract)),
        build_leaves,
        artifacts.ROW_CAPPED,
    )


def _erc20_entry_tree(
    spark: SparkSession,
    sf_dir: str,
    rewards_rate: "int | None" = None,
    contract: "str | None" = None,
):
    """Leaves + all tree levels (the query_erc20 twin of
    _owner_token_tree). Returns (leaves, nodes, depth)."""
    leaves = erc20_entry_leaves(spark, sf_dir, rewards_rate, contract)
    nodes_at = ERC20_ENTRY_NODES.path(
        sf_dir, **_erc20_axes(rewards_rate, contract)
    )
    nodes = artifacts.serve_frame(
        spark,
        nodes_at,
        lambda: _owner_clustered(
            spark, sf_dir, merkle_levels(leaves)[0], "level", "pos"
        ),
        artifacts.ROW_CAPPED,
    )
    depth = _served_depth(nodes_at)
    return leaves, nodes, depth


def _owner_rewards_from_leaves(leaves: DataFrame) -> DataFrame:
    """Per-owner TOTAL u256 reward folded from the served entry leaves
    — pure column expressions (hex → 4 decimal limbs via conv, limb-
    wise map-side-combinable sums, one carry normalization mod 2²⁵⁶),
    value-identical to A13's aggregate because the leaf hex IS the A13
    leaf output. This keeps the query path free of the Arrow u256
    stage: Python runs once at artifact build, never per response."""
    from pyspark.sql.types import DecimalType

    from euclid_spark.functions.u256 import u256_carry_hex

    DEC38 = DecimalType(38, 0)
    # entry_reward_hex concatenates limbs HIGH→LOW (u256_to_hex), so
    # substring 1..16 is l3 (highest) … 49..64 is l0 (lowest)
    limb = lambda i: F.conv(  # noqa: E731
        F.substring("entry_reward_hex", 1 + 16 * (3 - i), 16), 16, 10
    ).cast(DEC38)
    agged = leaves.groupBy(F.col("group_key").alias("owner")).agg(
        *[F.sum(limb(i)).alias(f"s{i}") for i in range(4)],
        F.sum("zs").cast("long").alias("n_zero_supply"),
        F.sum("of").cast("long").alias("n_overflow"),
    )
    return agged.select(
        "owner",
        u256_carry_hex(
            F.col("s0"), F.col("s1"), F.col("s2"), F.col("s3")
        ).alias("reward_hex"),
        "n_zero_supply",
        "n_overflow",
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

    The single-owner response is a FILTER of the all-owner entry-tree
    artifact (per-owner subtrees share nothing), so the served tree
    answers both this and the batched face. Oracle: the per-entry
    HUGEINT leaf CTE plugged into the leaf-pluggable merkle_proof_sql
    + A13's reward oracle + the provenance cross join.

    r9: pass (b_min, b_max) for the ARBITRARY-RANGE verifiable response
    (operators/range_response.py — tile-cover commitment, its own
    element/fold schema)."""
    from euclid_spark.operators.euclid import (
        OWNER,
        REWARDS_RATE,
        TOP_L,
        _range_provenance,
    )

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
    leaves, nodes, depth = _erc20_entry_tree(spark, sf_dir, rewards_rate, contract)
    owner_leaves = leaves.filter(F.col("group_key") == owner)
    # leaf numbering IS the canonical (block-order) rank — no window.
    # pos < L at the source is shape-equivalent to filtering leaf_pos
    # after the path build (Catalyst pushes grouping-key predicates),
    # stated explicitly so the L-bound is structural; the total-reward
    # branch below still folds the owner's FULL leaf set
    paths = merkle_opening_paths(
        owner_leaves.filter(F.col("pos") < L).drop("zs", "of"),
        entry_cols=["event_id", "entry_reward_hex"],
        nodes=nodes.filter(F.col("group_key") == owner),
        depth=depth,
    )
    revealed = paths
    reward = _owner_rewards_from_leaves(owner_leaves).drop("owner")
    return (
        revealed.crossJoin(F.broadcast(reward))
        .crossJoin(F.broadcast(_range_provenance(spark, sf_dir)))
        .select(
            "event_id",
            "entry_reward_hex",
            "leaf_pos",
            "leaf_hash",
            "path",
            "root",
            "reward_hex",
            "n_zero_supply",
            "n_overflow",
            "min_block",
            "max_block",
            "range_digest",
            F.lit(rate).alias("rewards_rate"),
        )
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
    reward join keys on the same owner column the tree is grouped by;
    provenance is one broadcast row."""
    from euclid_spark.operators.euclid import (
        REWARDS_RATE,
        TOP_L,
        _range_provenance,
    )

    L = TOP_L if L is None else int(L)
    rate = REWARDS_RATE if rewards_rate is None else int(rewards_rate)
    leaves, nodes, depth = _erc20_entry_tree(spark, sf_dir, rewards_rate)
    # pos < L at the source (see A23): openings are built for the
    # n_owners·L revealed rows only — shape-equivalent to the prior
    # post-build filter, stated structurally; the per-owner reward
    # fold below still reads every leaf
    paths = merkle_opening_paths(
        leaves.filter(F.col("pos") < L).drop("zs", "of"),
        entry_cols=["event_id", "entry_reward_hex"],
        nodes=nodes, depth=depth,
    )
    revealed = paths
    rewards = _owner_rewards_from_leaves(leaves)
    return (
        revealed.join(
            rewards, revealed.group_key == rewards.owner
        )
        .crossJoin(F.broadcast(_range_provenance(spark, sf_dir)))
        .select(
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
            "min_block",
            "max_block",
            "range_digest",
            F.lit(rate).alias("rewards_rate"),
        )
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
    out = artifacts.serve_frame(
        spark, path,
        lambda: verifiable_query_response(spark, sf_dir, contract=contract),
    )
    artifacts.publish_manifest(
        path, "q2", [f"{sf_dir}/events.parquet"], {"contract": contract}
    )
    return out


def _serve_erc20_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    axes = _erc20_axes()
    path = ERC20_RESPONSE.path(sf_dir, **axes)
    out = artifacts.serve_frame(
        spark, path, lambda: erc20_verifiable_response(spark, sf_dir)
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
