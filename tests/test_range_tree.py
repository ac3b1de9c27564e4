"""A25 range-tree rollup: the O(log-range) property the operator
exists for — the query must read tile rows ∝ log(range) plus two
< TILE_SIZE edge scans, never the range interior — plus decomposition
correctness on adversarial bounds and result equality vs a full scan."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from euclid_spark.catalog import load_events
from euclid_spark.operators.range_tree import (
    ERC20_REWARD_TREE,
    Q2_KEY_TREE,
    RANGE_TREE,
    TILE_SIZE,
    range_tree_agg,
    tile_cover,
)
from tests.conftest import SF_SMOKE


def test_cover_is_exact_and_logarithmic():
    """Property: for adversarial (b_min, b_max) the cover partitions
    [b_min, b_max) exactly (tiles disjoint, union complete) and uses at
    most 2 tiles per level + 2 sub-tile edges — the segment-tree bound."""
    s = TILE_SIZE
    max_level = 20
    cases = [
        (0, 1), (0, s), (1, s - 1), (s - 1, s + 1), (0, 37 * s),
        (5, 37 * s + 11), (7 * s + 3, 7 * s + 9), (123, 1 << 22),
        ((1 << 20) - 3, (1 << 21) + 5), (0, (1 << 20) + 1),
    ]
    for b_min, b_max in cases:
        tiles, edges = tile_cover(b_min, b_max, max_level)
        covered = []
        for k, c in tiles:
            covered.append((c * s << k, (c + 1) * s << k))
        for lo, hi in edges:
            assert hi - lo < s, f"edge wider than a tile: {(lo, hi)}"
            covered.append((lo, hi))
        covered.sort()
        # disjoint and contiguous from b_min to b_max
        assert covered[0][0] == b_min
        assert covered[-1][1] == b_max
        for (l1, h1), (l2, h2) in zip(covered, covered[1:]):
            assert h1 == l2, f"gap/overlap at {(h1, l2)} for {(b_min, b_max)}"
        n_cells = (b_max - b_min) // s + 2
        bound = 2 * (max(1, math.ceil(math.log2(max(2, n_cells)))) + 1)
        assert len(tiles) <= bound, (
            f"cover of {(b_min, b_max)} uses {len(tiles)} tiles > "
            f"2·(log₂(cells)+1) = {bound} — not logarithmic"
        )


def test_query_reads_log_tiles_not_range_rows(spark):
    """The scan-shape assertion: the face's tile reads are ≤
    2·(depth+1) rows and its edge scans are < 2·TILE_SIZE blocks,
    while the range itself spans ~60 % of the block space."""
    tiles = RANGE_TREE.frame(spark, SF_SMOKE)
    meta = tiles.agg(
        F.max("level").alias("ml"), F.max("max_block").alias("mb")
    ).collect()[0]
    max_level, max_block = int(meta["ml"]), int(meta["mb"])
    b_min, b_max = max_block // 5, max_block * 4 // 5
    cover, edges = tile_cover(b_min, b_max, max_level)
    assert len(cover) <= 2 * (max_level + 1)
    assert sum(hi - lo for lo, hi in edges) < 2 * TILE_SIZE
    # the range interior is orders of magnitude wider than what we read
    assert (b_max - b_min) > len(cover) * 2  # log rows vs range width


def test_result_equals_full_scan(spark):
    """The tile path must return exactly what scanning the rows does
    (the oracle proves this vs DuckDB; this is the in-repo pin)."""
    from euclid_spark.functions.hashing import DIGEST_PRIME, MIX

    row = range_tree_agg(spark, SF_SMOKE).collect()[0]
    ev = load_events(spark, SF_SMOKE)
    ref = (
        ev.filter(
            (F.col("event_id") >= row["b_min"])
            & (F.col("event_id") < row["b_max"])
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("tv"),
            F.min("event_id").alias("mn"),
            F.max("event_id").alias("mx"),
            F.pmod(
                F.sum(
                    (F.col("event_id") * MIX + F.col("user_id") * 97)
                    % DIGEST_PRIME
                ),
                F.lit(DIGEST_PRIME),
            )
            .cast("long")
            .alias("dg"),
        )
        .collect()[0]
    )
    assert row["n_events"] == ref["n"]
    assert row["total_value"] == ref["tv"]
    assert row["min_block"] == ref["mn"]
    assert row["max_block"] == ref["mx"]
    assert row["range_digest"] == ref["dg"]


def test_degenerate_tiny_corpus(spark, tmp_path, monkeypatch):
    """A 2-block corpus (event_ids 0 and 1) makes the probe range
    empty (b_min == b_max == 0): the face must return its typed empty
    frame, matching the oracle's zero rows, not crash on an empty
    cover."""
    from pyspark.sql import Window

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "_arts"))
    w = Window.orderBy("event_id")
    src = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .limit(2)
        .withColumn("event_id", F.row_number().over(w).cast("long") - 1)
    )
    out = str(tmp_path / "tiny")
    src.write.parquet(f"{out}/events.parquet")
    got = range_tree_agg(spark, out)
    assert got.count() == 0
    assert "n_events" in got.columns and "range_digest" in got.columns


# --- A26: Query2 over the tile tree ------------------------------------------


def test_q2_minl_lattice_property():
    """The merge law the whole construction rests on: merging per-cell
    FIRST-L truncations then truncating equals truncating the full
    union — for adversarial overlapping/disjoint/duplicate-heavy sets,
    under any association order (the monoid property)."""
    import itertools
    import random

    from euclid_spark.operators.range_tree import Q2_L

    rng = random.Random(42)
    for trial in range(200):
        n_sets = rng.randint(1, 6)
        sets = [
            sorted(rng.sample(range(30), rng.randint(0, 12)))
            for _ in range(n_sets)
        ]
        full = sorted(set(itertools.chain.from_iterable(sets)))[:Q2_L]

        def trunc(s):
            return sorted(set(s))[:Q2_L]

        # left fold in a random order — associativity + commutativity
        parts = [trunc(s) for s in sets]
        rng.shuffle(parts)
        acc = parts[0]
        for p in parts[1:]:
            acc = trunc(acc + p)
        assert acc == full, f"trial {trial}: {sets}"


def test_q2_face_scan_shape_and_param_equivalence(spark):
    """Scan shape: the face reads ≤ 2·(depth+1) (level, cell) tile
    groups and < 2·TILE_SIZE edge blocks. Param surface: the pinned
    face equals the explicit parameterized call, and an owner-scoped
    call equals the face filtered to that owner."""
    from pyspark.sql import functions as F

    from euclid_spark.operators.range_tree import q2_range_tree_topl

    tiles = Q2_KEY_TREE.frame(spark, SF_SMOKE)
    max_level = int(tiles.agg(F.max("top")).collect()[0][0])
    mb = int(
        RANGE_TREE.frame(spark, SF_SMOKE).agg(F.max("max_block")).collect()[0][0]
    )
    b_min, b_max = mb // 5, mb * 4 // 5
    cover, edges = tile_cover(b_min, b_max, max_level)
    assert len(cover) <= 2 * (max_level + 1)
    assert sum(hi - lo for lo, hi in edges) < 2 * TILE_SIZE

    face = q2_range_tree_topl(spark, SF_SMOKE).toPandas()
    explicit = q2_range_tree_topl(
        spark, SF_SMOKE, b_min=b_min, b_max=b_max
    ).toPandas()
    key = ["owner", "pos", "token_id", "b_min", "b_max"]
    assert sorted(map(tuple, face[key].values.tolist())) == sorted(
        map(tuple, explicit[key].values.tolist())
    )
    an_owner = int(face["owner"].iloc[0])
    scoped = q2_range_tree_topl(spark, SF_SMOKE, owner=an_owner).toPandas()
    want = face[face["owner"] == an_owner]
    assert sorted(map(tuple, scoped[key].values.tolist())) == sorted(
        map(tuple, want[key].values.tolist())
    )


def test_q2_face_equals_direct_recompute(spark):
    """The tile path must reveal exactly the keys a full range scan
    would (in-repo pin; the oracle proves it vs DuckDB)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from euclid_spark.operators.range_tree import q2_range_tree_topl

    face = q2_range_tree_topl(spark, SF_SMOKE)
    row = face.limit(1).collect()[0]
    b_min, b_max = row["b_min"], row["b_max"]
    tok = F.get_json_object("props", "$.k").cast("long")
    w = Window.partitionBy("owner").orderBy("token_id")
    ref = (
        load_events(spark, SF_SMOKE)
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("event_id") >= b_min)
            & (F.col("event_id") < b_max)
        )
        .select(F.col("user_id").alias("owner"), tok.alias("token_id"))
        .filter(F.col("token_id").isNotNull())
        .distinct()
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= 5)
        .select("owner", "pos", "token_id")
    ).toPandas()
    got = face.select("owner", "pos", "token_id").toPandas()
    assert sorted(map(tuple, got.values.tolist())) == sorted(
        map(tuple, ref.values.tolist())
    )


def test_q2_reveal_bound_is_baked(spark):
    """Asking for more than the tree's baked L must fail loudly (the
    circuit-setup analog), not silently under-reveal."""
    import pytest

    from euclid_spark.operators.range_tree import Q2_L, q2_range_tree_topl

    with pytest.raises(ValueError, match="reveal bound"):
        q2_range_tree_topl(spark, SF_SMOKE, L=Q2_L + 1)
    # smaller L is a valid narrowing of the same tiles
    small = q2_range_tree_topl(spark, SF_SMOKE, L=2)
    assert small.agg(F.max("pos")).collect()[0][0] <= 2


def test_q2_tiles_owner_clustered_layout(spark):
    """The served key-tile artifact is owner-clustered: a single-owner
    revelation pushes the owner equality into the parquet scan
    (row-group pruning on the artifact's sort column), so per-owner
    top-L reads an owner-pruned slice, never every owner's tiles."""
    import re

    tiles = Q2_KEY_TREE.frame(spark, SF_SMOKE)
    plan = (
        tiles.filter(F.col("owner") == 7)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "EqualTo(owner,7)" in m.group(1), plan[:500]


# --- A29: ERC-20 reward over the tile tree ------------------------------------


def test_erc20_reward_tree_scan_shape_and_params(spark):
    """Cover stays logarithmic; the pinned face equals the explicit
    parameterized call; owner scoping filters; rewards stay in the
    >2^64 u256 zone (the whole point of the limb arithmetic)."""
    from pyspark.sql import functions as F

    from euclid_spark.operators.range_tree import erc20_range_tree_reward

    tiles = ERC20_REWARD_TREE.frame(spark, SF_SMOKE)
    max_level = int(tiles.agg(F.max("top")).collect()[0][0])
    face = erc20_range_tree_reward(spark, SF_SMOKE).toPandas()
    assert len(face) > 0
    b_min, b_max = int(face["b_min"].iloc[0]), int(face["b_max"].iloc[0])
    cover, edges = tile_cover(b_min, b_max, max_level)
    assert len(cover) <= 2 * (max_level + 1)
    assert sum(hi - lo for lo, hi in edges) < 2 * TILE_SIZE
    # u256 magnitude: every nonzero reward exceeds 2^64
    vals = [int(h, 16) for h in face["reward_hex"]]
    assert all(v == 0 or v > 2**64 for v in vals)
    # explicit pinned call == face
    explicit = erc20_range_tree_reward(
        spark, SF_SMOKE, b_min=b_min, b_max=b_max
    ).toPandas()
    key = ["owner", "reward_hex", "n_entries"]
    assert sorted(map(tuple, face[key].values.tolist())) == sorted(
        map(tuple, explicit[key].values.tolist())
    )
    an_owner = int(face["owner"].iloc[0])
    scoped = erc20_range_tree_reward(
        spark, SF_SMOKE, owner=an_owner
    ).toPandas()
    assert len(scoped) == 1
    assert (
        scoped["reward_hex"].iloc[0]
        == face[face["owner"] == an_owner]["reward_hex"].iloc[0]
    )


def test_erc20_reward_tree_equals_direct_recompute(spark):
    """The tile path must equal re-running the leaf circuit over the
    raw rows in range (in-repo pin; the HUGEINT oracle proves it vs
    DuckDB)."""
    from pyspark.sql import functions as F

    from euclid_spark.operators.euclid import erc20_leaf_rows
    from euclid_spark.operators.range_tree import erc20_range_tree_reward
    from euclid_spark.functions.u256 import u256_carry_hex

    face = erc20_range_tree_reward(spark, SF_SMOKE)
    row = face.limit(1).collect()[0]
    b_min, b_max = row["b_min"], row["b_max"]
    ev = (
        load_events(spark, SF_SMOKE)
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("event_id") >= b_min)
            & (F.col("event_id") < b_max)
        )
    )
    ref = (
        erc20_leaf_rows(ev)
        .groupBy("owner")
        .agg(
            *[
                F.sum(F.col(f"l{i}").cast("decimal(38,0)")).alias(f"s{i}")
                for i in range(4)
            ]
        )
        .select(
            "owner",
            u256_carry_hex(
                F.col("s0"), F.col("s1"), F.col("s2"), F.col("s3")
            ).alias("rh"),
        )
    ).toPandas()
    got = face.select("owner", "reward_hex").toPandas()
    assert sorted(map(tuple, got.values.tolist())) == sorted(
        map(tuple, ref.values.tolist())
    )


def test_q2_tile_first_occurrence_matches_leaf_scan(spark):
    """The owner_v4 key tiles carry each revealed key's first COVERED
    occurrence (cell, pos); it must equal the min-(cell, pos) a direct
    leaf scan of the covered cells computes — the per-query formulation
    the A30 response replaced — and the edge sentinel must appear
    exactly on keys with no covered occurrence."""
    from euclid_spark.operators.range_tree import (
        _EDGE_SENTINEL_CELL,
        q2_range_tree_topl,
    )
    from tests.test_range_response import _spark_leaves

    face = q2_range_tree_topl(spark, SF_SMOKE, with_first=True).toPandas()
    assert len(face) > 0
    b_min = int(face["b_min"].iloc[0])
    b_max = int(face["b_max"].iloc[0])
    max_level = int(
        Q2_KEY_TREE.frame(spark, SF_SMOKE).agg(F.max("top")).collect()[0][0]
    )
    cover, _ = tile_cover(b_min, b_max, max_level)
    cov_cells = [(c << k, ((c + 1) << k) - 1) for k, c in cover]

    leaves = _spark_leaves(spark, SF_SMOKE, "q2")
    from functools import reduce

    ccond = reduce(
        lambda a, b: a | b,
        [(F.col("cell") >= lo) & (F.col("cell") <= hi) for lo, hi in cov_cells],
    )
    direct = {
        (int(r["owner"]), int(r["token_id"])): (int(r["c"]), int(r["p"]))
        for r in (
            leaves.filter(ccond)
            .groupBy("owner", "token_id")
            .agg(F.min(F.struct("cell", "pos")).alias("s"))
            .select(
                "owner", "token_id",
                F.col("s.cell").alias("c"), F.col("s.pos").alias("p"),
            )
            .collect()
        )
    }
    n_cov = n_edge = 0
    for r in face.itertuples():
        key = (int(r.owner), int(r.token_id))
        if int(r.first_cell) == _EDGE_SENTINEL_CELL:
            assert key not in direct, f"{key}: sentinel but covered occurrence exists"
            n_edge += 1
        else:
            assert direct[key] == (int(r.first_cell), int(r.first_pos)), key
            n_cov += 1
    assert n_cov > 0  # the property must actually have been exercised


# --- owner-scoped driver answers vs the Spark faces ---------------------------


def test_owner_driver_answers_equal_spark_faces(spark):
    """Seeded owners × widths {200, 5000, 60000} at sf0.01: the driver
    fold an owner-scoped request takes equals the all-owner Spark face
    over the same range filtered to that owner (q2 with and without
    first occurrences, ERC-20 reward), column types included;
    range_tree_agg
    equals a full Spark recompute over the same range."""
    import random

    from euclid_spark.functions.hashing import DIGEST_PRIME, MIX
    from euclid_spark.operators.range_tree import (
        erc20_range_tree_reward,
        q2_range_tree_topl,
    )
    from tests.conftest import SF_ORACLE

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    ev = load_events(spark, SF_ORACLE)
    buyers = (
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
            & F.get_json_object("props", "$.k").isNotNull()
        )
        .select("event_id", "user_id")
        .collect()
    )
    rng = random.Random(20)
    for width in (200, 5000, 60000):
        for _ in range(2):
            b_min = rng.randrange(0, 9000)
            b_max = b_min + width
            owners = sorted(
                {r["user_id"] for r in buyers if b_min <= r["event_id"] < b_max}
            )
            owner = rng.choice(owners)
            rng_kw = {"b_min": b_min, "b_max": b_max}
            for with_first in (False, True):
                face = q2_range_tree_topl(
                    spark, SF_ORACLE, with_first=with_first, **rng_kw
                )
                got = q2_range_tree_topl(
                    spark, SF_ORACLE, owner=owner, with_first=with_first,
                    **rng_kw,
                )
                assert got.schema.simpleString() == face.schema.simpleString()
                want = rows(face.filter(F.col("owner") == owner))
                assert want and rows(got) == want, (owner, b_min, b_max)
            face = erc20_range_tree_reward(spark, SF_ORACLE, **rng_kw)
            got = erc20_range_tree_reward(spark, SF_ORACLE, owner=owner, **rng_kw)
            assert got.schema.simpleString() == face.schema.simpleString()
            want = rows(face.filter(F.col("owner") == owner))
            assert want and rows(got) == want, (owner, b_min, b_max)

            agg = range_tree_agg(spark, SF_ORACLE, **rng_kw)
            ref = (
                ev.filter(
                    (F.col("event_id") >= b_min) & (F.col("event_id") < b_max)
                )
                .agg(
                    F.count("*").cast("long").alias("n_events"),
                    F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
                    .cast("double").alias("total_value"),
                    F.min("event_id").alias("min_block"),
                    F.max("event_id").alias("max_block"),
                    F.pmod(
                        F.sum(
                            (F.col("event_id") * MIX + F.col("user_id") * 97)
                            % DIGEST_PRIME
                        ),
                        F.lit(DIGEST_PRIME),
                    ).cast("long").alias("range_digest"),
                )
                .select(
                    F.lit(b_min).cast("long").alias("b_min"),
                    F.lit(b_max).cast("long").alias("b_max"),
                    "*",
                )
            )
            assert agg.schema.simpleString() == ref.schema.simpleString()
            assert rows(agg) == rows(ref), (b_min, b_max)


# --- one declaration per tree ---------------------------------------------------


def test_range_tree_agg_schema_is_data_independent(spark):
    """The empty answer (a degenerate range) and a non-empty answer
    carry one schema: the bounds are always long."""
    full = range_tree_agg(spark, SF_SMOKE)
    empty = range_tree_agg(spark, SF_SMOKE, b_min=10, b_max=10)
    assert full.count() == 1 and empty.count() == 0
    assert empty.schema.simpleString() == full.schema.simpleString()


def test_tree_depth_is_ceil_log2():
    """The integer depth helper equals ⌈log₂ n⌉ (at least 1) for every
    cell count up to 2¹⁶."""
    from euclid_spark.operators.range_tree import tree_depth

    for n in range(1, 2**16 + 1):
        assert tree_depth(n) == max(1, math.ceil(math.log2(n))), n


@pytest.mark.parametrize(
    "tree", [RANGE_TREE, Q2_KEY_TREE, ERC20_REWARD_TREE], ids=lambda t: t.name
)
def test_stream_upkeep_equals_batch_levels(spark, tree):
    """The declaration's streaming partial over all events (two
    interleaved batches, merged once) equals its batch levels
    ≤ _RT_LEVELS, on the fields a batch split cannot change. The stream
    keeps every level up to _RT_LEVELS; the batch tree stops at its
    depth."""
    from euclid_spark.operators.range_tree import _RT_LEVELS

    ev = load_events(spark, SF_SMOKE)
    odd = F.col("event_id") % 2 == 1
    stream = tree.merge(tree.partial(ev.filter(odd)), tree.partial(ev.filter(~odd)))
    batch = tree.levels(spark, SF_SMOKE)
    top = min(_RT_LEVELS, batch.agg(F.max("level")).collect()[0][0])
    batch = batch.filter(F.col("level") <= top)
    if tree.invariant is not None:
        batch = tree.invariant(batch)
    want = _sorted_rows(tree, batch)
    assert want and _sorted_rows(tree, stream.filter(F.col("level") <= top)) == want


# --- the batch levels above _RT_LEVELS ---------------------------------------

_TREES = [RANGE_TREE, Q2_KEY_TREE, ERC20_REWARD_TREE]


def write_wide_corpus(spark, out: str) -> str:
    """SF_SMOKE's events with event_id × 300 as the corpus `out`:
    ~1 172 level-0 cells (not a power of two), most of them empty, so
    the tree is ≥ 10 levels deep — far above _RT_LEVELS."""
    (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .withColumn("event_id", F.col("event_id") * 300)
        .coalesce(1)
        .write.parquet(f"{out}/events.parquet")
    )
    return out


def _wide_corpus(spark, tmp_path, monkeypatch) -> str:
    """`write_wide_corpus` under a private artifact root."""
    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "_arts"))
    return write_wide_corpus(spark, str(tmp_path / "wide"))


def _chain_levels(spark, tree, sf_dir):
    """The per-level build `levels` replaced, kept here as its oracle:
    `leaf` per level-0 cell, then one `combine` per (cell >> 1, *keys)
    on the level before, as deep as max(event_id) needs."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from euclid_spark.operators.range_tree import _cell, tree_depth

    ev = load_events(spark, sf_dir)
    src = (
        tree.frame(spark, sf_dir, store=True)
        if tree.store
        else tree.rows(ev, None, None)
    )
    mb = ev.agg(F.max("event_id")).collect()[0][0]
    by = ["cell", *tree.keys]
    lvl = tree.leaf(src.withColumn("cell", _cell()), by)
    out = [lvl.withColumn("level", F.lit(0))]
    for k in range(1, tree_depth(int(mb or 0) // TILE_SIZE + 1) + 1):
        lvl = tree.combine(lvl.withColumn("cell", F.shiftright("cell", 1)), by)
        out.append(lvl.withColumn("level", F.lit(k)))
    return reduce(DataFrame.unionByName, out).select("level", *by, *tree.cols)


def _sorted_rows(tree, df) -> list:
    """The tree rows of `df`, nested arrays as tuples, sorted."""

    def norm(v):
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v

    cols = ["level", "cell", *tree.keys, *tree.cols]
    return sorted(norm(tuple(r)) for r in df.select(*cols).collect())


@pytest.mark.parametrize("tree", _TREES, ids=lambda t: t.name)
def test_levels_equal_per_level_chain_on_a_deep_tree(
    spark, tmp_path, monkeypatch, tree
):
    """`levels` (one leaf, one exploded combine) equals the per-level
    chain row for row on a ≥ 10-level tree with empty cells: the
    combine is associative, so a node folded straight from its level-0
    cells is the node folded from its children."""
    from euclid_spark.operators.range_tree import _max_event_id, tree_depth

    wide = _wide_corpus(spark, tmp_path, monkeypatch)
    assert tree_depth(_max_event_id(spark, wide) // TILE_SIZE + 1) >= 10
    got = _sorted_rows(tree, tree.levels(spark, wide))
    want = _sorted_rows(tree, _chain_levels(spark, tree, wide))
    assert want and got == want
    assert max(r[0] for r in got) >= 10


def test_levels_aggregate_count_is_depth_independent(spark, tmp_path, monkeypatch):
    """The build's shape does not grow with the block span: the
    optimized plan of `levels` holds as many Aggregate nodes at depth 2
    (SF_SMOKE) as at depth ≥ 10 — one shuffle per aggregation, not one
    per level."""
    from euclid_spark.operators.range_tree import _max_event_id, tree_depth
    from tests.test_plans import _logical_node_counts

    wide = _wide_corpus(spark, tmp_path, monkeypatch)
    depth = {
        d: tree_depth(_max_event_id(spark, d) // TILE_SIZE + 1)
        for d in (SF_SMOKE, wide)
    }
    assert depth[SF_SMOKE] == 2 and depth[wide] >= 10, depth
    for tree in _TREES:
        shallow = _logical_node_counts(tree.levels(spark, SF_SMOKE))
        deep = _logical_node_counts(tree.levels(spark, wide))
        assert shallow["Aggregate"] == deep["Aggregate"], (tree.name, shallow, deep)


def test_depth_falls_back_to_one_fold_when_footers_fail(spark, monkeypatch, caplog):
    """The build's max(event_id) comes from the events footers; when
    they cannot answer, the same value comes from one Spark fold and
    the fallback is logged at WARNING, never silent."""
    import logging

    from euclid_spark import artifacts
    from euclid_spark.operators.range_tree import _max_event_id

    want = _max_event_id(spark, SF_SMOKE)
    assert want == load_events(spark, SF_SMOKE).agg(F.max("event_id")).collect()[0][0]

    def no_footers(path):
        raise ValueError("no footer statistics for column 'event_id'")

    monkeypatch.setattr(artifacts, "footer_stats", no_footers)
    with caplog.at_level(logging.WARNING, logger="euclid_spark.operators.range_tree"):
        assert _max_event_id(spark, SF_SMOKE) == want
    assert any(
        r.levelno == logging.WARNING and "one-row fold" in r.getMessage()
        for r in caplog.records
    )
