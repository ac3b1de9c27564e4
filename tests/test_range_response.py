"""Arbitrary-range verifiable responses (A30-A33): the response for ANY
(owner, b_min, b_max) must carry self-verifying openings — leaf →
element → header-bound root — and equal the reference semantics (A26's
revealed set / A23's entry order). Tamper flips the verdict."""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from euclid_spark.operators.range_response import (
    erc20_range_response,
    q2_range_response,
    verify_erc20_range_response,
    verify_q2_range_response,
)
from tests.conftest import SF_SMOKE


def _refold(leaf: str, path: str) -> str:
    acc = leaf.encode()
    for step in [s for s in path.split("/") if s]:
        tag, sib = step.split(":")
        if tag[-1] == "R":
            acc = hashlib.sha256(acc + sib.encode()).hexdigest().encode()
        else:
            acc = hashlib.sha256(sib.encode() + acc).hexdigest().encode()
    return acc.decode()


def _check_rows(rows, family: str):
    """Full client-side verification of a response row set."""
    assert rows
    elems = rows[0]["elements"].split("/") if rows[0]["elements"] else []
    hdr = (
        f"hdr:{rows[0]['b_min']}:{rows[0]['b_max']}:{rows[0]['owner']}"
        + (f":{rows[0]['rewards_rate']}" if family == "erc20" else "")
    )
    acc = hashlib.sha256(hdr.encode()).hexdigest().encode()
    for e in elems:
        acc = hashlib.sha256(acc + e.encode()).hexdigest().encode()
    assert acc.decode() == rows[0]["response_root"], "root chain"
    for r in rows:
        payload = (
            f"{r['event_id']}:{r['entry_reward_hex']}"
            if family == "erc20"
            else str(r["token_id"])
        )
        assert (
            hashlib.sha256(payload.encode()).hexdigest() == r["leaf_hash"]
        ), "leaf"
        assert _refold(r["leaf_hash"], r["path"]) == r["elem_hash"], "path"
        assert elems[r["elem_idx"]] == r["elem_hash"], "elem idx"


def test_pinned_faces_self_verify(spark):
    _check_rows(q2_range_response(spark, SF_SMOKE).collect(), "q2")
    _check_rows(erc20_range_response(spark, SF_SMOKE).collect(), "erc20")


def test_arbitrary_ranges_verify_and_match_tiles(spark):
    """Randomized (owner, b_min, b_max): every response self-verifies
    and the revealed q2 keys equal the tile-tree query's first-L."""
    from euclid_spark.operators.range_tree import q2_range_tree_topl

    rng = random.Random(99)
    for _ in range(4):
        b_min = rng.randint(0, 800)
        b_max = b_min + rng.randint(1, 900)
        owner = rng.choice([3, 7])
        q = q2_range_response(
            spark, SF_SMOKE, owner=owner, b_min=b_min, b_max=b_max
        ).collect()
        ref = [
            r["token_id"]
            for r in q2_range_tree_topl(
                spark, SF_SMOKE, owner=owner, b_min=b_min, b_max=b_max
            ).collect()
        ]
        got = sorted(r["token_id"] for r in q)
        assert got == ref[: len(got)], (owner, b_min, b_max)
        if q:
            _check_rows(q, "q2")
        e = erc20_range_response(
            spark, SF_SMOKE, owner=owner, b_min=b_min, b_max=b_max
        ).collect()
        for r in e:
            assert b_min <= r["event_id"] < b_max
        if e:
            _check_rows(e, "erc20")
            # revealed entries are the FIRST L in block order
            ids = [r["event_id"] for r in sorted(e, key=lambda r: r["event_id"])]
            assert ids == sorted(ids)


def test_roots_match_standalone_recompute(spark):
    """Cross-IMPLEMENTATION agreement for arbitrary params: the Spark
    face's response root equals the standalone verifier tool's pure
    Python + DuckDB from-raw-rows recompute (tools/verify_response.py
    restates the whole spec without importing euclid_spark — two
    independent derivations of the same commitment)."""
    import sys

    from tests.conftest import REPO

    sys.path.insert(0, str(REPO / "tools"))
    import verify_response as vr

    events = f"{SF_SMOKE}/events.parquet"
    rng = random.Random(17)
    for _ in range(3):
        b_min = rng.randint(0, 800)
        b_max = b_min + rng.randint(1, 900)
        owner = rng.choice([3, 7])
        q = q2_range_response(
            spark, SF_SMOKE, owner=owner, b_min=b_min, b_max=b_max
        ).limit(1).collect()
        if q:
            assert q[0]["response_root"] == vr._recompute_range_root(
                events, "q2", owner, b_min, b_max, None
            ), ("q2", owner, b_min, b_max)
        e = erc20_range_response(
            spark, SF_SMOKE, owner=owner, b_min=b_min, b_max=b_max
        ).limit(1).collect()
        if e:
            assert e[0]["response_root"] == vr._recompute_range_root(
                events, "erc20", owner, b_min, b_max,
                int(e[0]["rewards_rate"]),
            ), ("erc20", owner, b_min, b_max)


def test_edge_only_and_empty_ranges(spark):
    """A range inside one cell is answered entirely from edge leaves
    (empty paths, each leaf its own element); an empty range yields an
    empty typed frame."""
    q = q2_range_response(spark, SF_SMOKE, owner=7, b_min=300, b_max=340)
    rows = q.collect()
    for r in rows:
        assert r["path"] == ""
        assert r["elem_hash"] == r["leaf_hash"]
    if rows:
        _check_rows(rows, "q2")
    empty = q2_range_response(spark, SF_SMOKE, owner=7, b_min=10, b_max=10)
    assert empty.count() == 0


def test_l_bounds_reveal(spark):
    two = erc20_range_response(spark, SF_SMOKE, L=2).collect()
    five = erc20_range_response(spark, SF_SMOKE).collect()
    assert len(two) == 2 and len(five) == 5
    # L=2 reveals exactly the first 2 entries (block order) of the L=5 set
    assert {r["event_id"] for r in two} == set(
        sorted(r["event_id"] for r in five)[:2]
    )
    # the response root is range-level: independent of L
    assert two[0]["response_root"] == five[0]["response_root"]


def test_verifier_faces_all_valid(spark):
    for face in (verify_q2_range_response, verify_erc20_range_response):
        rows = face(spark, SF_SMOKE).collect()
        assert rows
        for r in rows:
            assert r["leaf_ok"] and r["elem_ok"] and r["root_ok"], r
            assert r["commit_ok"] and r["valid"], r


@pytest.mark.parametrize(
    "mutation,broken",
    [
        # payload tamper → leaf_ok
        (lambda d: d.withColumn("event_id", F.col("event_id") + 1), "leaf_ok"),
        # path tamper → elem_ok (refold diverges)
        (
            lambda d: d.withColumn(
                "path",
                F.when(F.col("path") == "", F.lit("0R:" + "ab" * 32)).otherwise(
                    F.concat(F.substring("path", 1, 3), F.lit("ff"),
                             F.expr("substring(path, 6)"))
                ),
            ),
            "elem_ok",
        ),
        # element-list tamper → root_ok (chain re-derivation diverges)
        (
            lambda d: d.withColumn(
                "elements",
                F.concat(F.lit("ff"), F.expr("substring(elements, 3)")),
            ),
            "root_ok",
        ),
        # bound tamper → root_ok (header is part of the chain)
        (lambda d: d.withColumn("b_min", F.col("b_min") + 1), "root_ok"),
        (
            lambda d: d.withColumn("rewards_rate", F.col("rewards_rate") + 1),
            "root_ok",
        ),
        # root tamper → root_ok and commit_ok
        (
            lambda d: d.withColumn("response_root", F.sha2("response_root", 256)),
            "root_ok",
        ),
    ],
)
def test_tamper_flips_verdict(spark, mutation, broken):
    """Every tamper class breaks its verdict column. Verification logic
    applied directly to the mutated frame (same exprs as the face)."""
    from euclid_spark.operators.merkle import _refold_to_root
    from euclid_spark.operators.range_response import _sql_fold

    resp = mutation(erc20_range_response(spark, SF_SMOKE))
    payload = F.concat_ws(
        ":", F.col("event_id").cast("string"), "entry_reward_hex"
    )
    seed = F.sha2(
        F.concat_ws(
            ":", F.lit("hdr"), F.col("b_min").cast("string"),
            F.col("b_max").cast("string"), F.col("owner").cast("string"),
            F.col("rewards_rate").cast("string"),
        ),
        256,
    )
    checked = resp.select(
        (F.sha2(payload, 256) == F.col("leaf_hash")).alias("leaf_ok"),
        (
            (_refold_to_root(F.col("leaf_hash"), F.col("path"))
             == F.col("elem_hash"))
            & (F.get(F.split("elements", "/"), F.col("elem_idx"))
               == F.col("elem_hash"))
        ).alias("elem_ok"),
        (_sql_fold(seed, F.col("elements")) == F.col("response_root")).alias(
            "root_ok"
        ),
    ).collect()
    assert any(not r[broken] for r in checked), (broken, checked)


@pytest.mark.parametrize(
    "family",
    ["range_tree_agg", "q2_range_tree_topl", "erc20_range_tree_reward",
     "q2_range_response", "erc20_range_response"],
)
def test_cold_store_first_call_equals_second(spark, tmp_path, monkeypatch, family):
    """Each query-phase family, called FIRST into an empty artifact
    root, builds what it reads before it reads any footer: its answer
    equals the second (warm) call's."""
    from euclid_spark.operators import range_response, range_tree

    fn = getattr(range_tree, family, None) or getattr(range_response, family)
    kw = {"b_min": 120, "b_max": 900}
    if family != "range_tree_agg":
        kw["owner"] = 7
    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "_arts"))
    cold = sorted(tuple(r) for r in fn(spark, SF_SMOKE, **kw).collect())
    warm = sorted(tuple(r) for r in fn(spark, SF_SMOKE, **kw).collect())
    assert cold and cold == warm


def _store_rows(path: str, roots: "dict[tuple, str]") -> "list[dict]":
    """Every row of a keyed tree with its digest as the lowercase hex
    the hash definition concatenates: a two-child chain's stored 32
    raw bytes hexed, a leaf chain's (stored null) its cell's root in
    `roots` ({(owner, cell): root}, refolded from the in-cell
    leaves)."""
    from euclid_spark import artifacts

    rows = artifacts.read_rows(path)
    for r in rows:
        if r["level"] == 0:
            assert r["node_hash"] is None, r
            r["node_hash"] = roots[(r["owner"], r["lo"])]
        else:
            assert isinstance(r["node_hash"], bytes), r
            assert len(r["node_hash"]) == 32, r
            r["node_hash"] = r["node_hash"].hex()
    return rows


def _spark_leaves(spark, sf: str, family: str):
    """The in-cell leaves as Spark's window computes them from the
    events — the formulation of the leaf stores the response families
    once kept: per (owner, cell), Q2 the distinct mapping keys ranked
    by token_id, ERC-20 the leaf circuit's entries ranked by event_id
    with the reward as 64 hex digits; pos is the rank from 0."""
    from pyspark.sql import Window

    from euclid_spark.catalog import load_events
    from euclid_spark.operators.range_response import erc20_entry_hex
    from euclid_spark.operators.range_tree import (
        _cell,
        _erc20_rows,
        _q2_entries,
    )

    ev = load_events(spark, sf)
    if family == "erc20":
        rows, order = _erc20_rows(ev, None, None).select(
            "owner", _cell().alias("cell"), "event_id",
            erc20_entry_hex().alias("entry_reward_hex"),
        ), "event_id"
    else:
        rows, order = _q2_entries(ev).select(
            "owner", _cell().alias("cell"), "token_id"
        ).distinct(), "token_id"
    pos = F.row_number().over(Window.partitionBy("owner", "cell").orderBy(order))
    return rows.withColumn("pos", pos - 1)


def _spark_leaf_rows(spark, sf: str, family: str) -> "list[dict]":
    """`_spark_leaves`, collected."""
    return [r.asDict() for r in _spark_leaves(spark, sf, family).collect()]


def _sha_hex(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def _parent(lvl_rows: "dict[int, str]") -> "dict[int, str]":
    """The next level of a promotion-paired tree level."""
    up: "dict[int, list]" = {}
    for p, h in sorted(lvl_rows.items()):
        up.setdefault(p >> 1, []).append(h)
    return {
        p: _sha_hex(hs[0] + hs[1]) if len(hs) == 2 else hs[0]
        for p, hs in up.items()
    }


def _cell_roots(lv: "list[dict]", family: str) -> "dict[tuple, str]":
    """{(owner, cell): root} refolded from leaf rows: leaf =
    sha256(payload), then each (owner, cell)'s in-cell tree level by
    level (positions checked contiguous). Sets each row's node_hash."""
    trees: "dict[tuple, dict]" = {}
    for r in lv:
        payload = (
            f"{r['event_id']}:{r['entry_reward_hex']}"
            if family == "erc20"
            else str(r["token_id"])
        )
        r["node_hash"] = _sha_hex(payload)
        trees.setdefault((r["owner"], r["cell"]), {0: {}})[0][
            r["pos"]
        ] = r["node_hash"]
    for t in trees.values():
        assert sorted(t[0]) == list(range(len(t[0])))  # pos 0..n-1
        while len(t[max(t)]) > 1:
            t[max(t) + 1] = _parent(t[max(t)])
    return {g: t[max(t)][0] for g, t in trees.items()}


def _cell_tree(roots: "dict[tuple, str]", depth: int) -> "dict[tuple, str]":
    """{(owner, level, pos): hash} of the promotion-paired cell tree
    over `roots` ({(owner, cell): root}), levels 0..depth."""
    by_owner: "dict[int, dict]" = {}
    for (o, c), h in roots.items():
        by_owner.setdefault(o, {})[c] = h
    out = {}
    for o, lvl in by_owner.items():
        for k in range(depth + 1):
            out.update(((o, k, p), h) for p, h in lvl.items())
            lvl = _parent(lvl)
    return out


def _expand_chains(
    rows: "list[dict]", cols: "list[str]"
) -> "tuple[dict[tuple, tuple], list[tuple]]":
    """({(owner, level, cell): payload}, chain bottoms) of a chain
    store: each row stands for node (k, lo >> k) at every k in
    [level, top], and no node is held by two rows."""
    nodes: "dict[tuple, tuple]" = {}
    bottoms = []
    for r in rows:
        bottoms.append((r["owner"], r["level"], r["lo"] >> r["level"]))
        for k in range(r["level"], r["top"] + 1):
            key = (r["owner"], k, r["lo"] >> k)
            assert key not in nodes, key
            nodes[key] = _norm([r[c] for c in cols])
    return nodes, bottoms


def _norm(v):
    """A collected or pyarrow-read value with nested rows, dicts and
    lists as tuples, so the two compare."""
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=True)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def test_stores_hold_binary_digests_and_answers_match_a_hex_recompute(spark):
    """The entry stores hold only (owner, event_id, payload) — no
    node_hash, pos, cell or hex column — the keyed trees hold every
    two-child chain's node_hash as 32 raw bytes and none for a leaf
    chain, whose digest is its cell root, and the driver answers of
    both response faces equal a recompute over the trees' hexed rows
    and the in-cell leaves: leaf hashes from payloads, each (owner,
    cell)'s in-cell tree level by level from them, the leaf chains at
    exactly the occupied cells, each stored cell-tree level from the
    one below, and each response root from its cover tiles and edge
    leaves."""
    import pyarrow as pa

    from euclid_spark import artifacts
    from euclid_spark.operators.range_response import range_commitment_paths
    from euclid_spark.operators.range_tree import TILE_SIZE, tile_cover

    payload = {"q2": ["token_id"], "erc20": ["l0", "l1", "l2", "l3", "zs", "of"]}
    for family in ("q2", "erc20"):
        entries, cells, depth = range_commitment_paths(spark, SF_SMOKE, family)
        assert artifacts.footer_stats(entries).schema.names == [
            "owner", "event_id", *payload[family]
        ], entries
        assert artifacts.footer_stats(cells).schema.field(
            "node_hash"
        ).type == pa.binary(), cells
        assert "group_key" not in artifacts.footer_stats(cells).schema.names
        lv = _spark_leaf_rows(spark, SF_SMOKE, family)
        roots = _cell_roots(lv, family)
        assert roots
        # the chain rows expanded to every (owner, level, pos) node
        tree = {
            k: h for k, (h,) in _expand_chains(
                _store_rows(cells, roots), ["node_hash"]
            )[0].items()
        }
        # cell-tree level 0: a leaf chain at each occupied cell, no other
        assert {
            (o, p): h for (o, k, p), h in tree.items() if k == 0
        } == roots
        # every stored cell-tree level refolds from the level below
        by_owner: "dict[int, dict]" = {}
        for (o, k, p), h in tree.items():
            by_owner.setdefault(o, {}).setdefault(k, {})[p] = h
        assert all(
            t[k + 1] == _parent(t[k])
            for t in by_owner.values()
            for k in range(len(t) - 1)
        )

        # the driver answers: elements and root from the hexed stores
        fn = q2_range_response if family == "q2" else erc20_range_response
        checked = 0
        for owner, b_min, b_max in ((7, 3 * TILE_SIZE, 7 * TILE_SIZE),
                                    (3, 0, 4 * TILE_SIZE), (7, 45, 905)):
            cover, edges = tile_cover(b_min, b_max, depth)
            if family == "q2" and edges:
                continue  # q2 edge elements are first occurrences, not leaves
            rows = fn(spark, SF_SMOKE, owner=owner, b_min=b_min, b_max=b_max
                      ).collect()
            assert rows, (family, owner, b_min, b_max)
            checked += 1
            elems = sorted(
                [(c << k) * TILE_SIZE, tree[(owner, k, c)]]
                for k, c in cover if (owner, k, c) in tree
            ) + [
                [r["event_id"], r["node_hash"]] for r in lv
                if r["owner"] == owner
                and any(lo <= r["event_id"] < hi for lo, hi in edges)
            ]
            hashes = [h for _, h in sorted(elems)]
            hdr = f"hdr:{b_min}:{b_max}:{owner}" + (
                f":{rows[0]['rewards_rate']}" if family == "erc20" else ""
            )
            acc = _sha_hex(hdr)
            for h in hashes:
                acc = _sha_hex(acc + h)
            assert rows[0]["elements"] == "/".join(hashes)
            assert {r["response_root"] for r in rows} == {acc}
            if family == "erc20":  # revealed payloads are the leaves
                stored = {r["event_id"]: r for r in lv if r["owner"] == owner}
                for r in rows:
                    s = stored[r["event_id"]]
                    assert r["entry_reward_hex"] == s["entry_reward_hex"]
                    assert r["leaf_hash"] == s["node_hash"]
            _check_rows(rows, family)
        assert checked >= 2, family


@pytest.fixture(scope="module")
def deep_corpus(spark, tmp_path_factory) -> "tuple[str, str]":
    """(corpus, artifact root): test_range_tree's deep-tree corpus
    (≥ 10 levels, most level-0 cells empty) and a private artifact root
    for its stores."""
    from tests.test_range_tree import write_wide_corpus

    root = tmp_path_factory.mktemp("deep")
    return write_wide_corpus(spark, str(root / "wide")), str(root / "_arts")


def _chain_stores(spark, monkeypatch, corpus, deep_corpus) -> list:
    """Per owner-keyed tree at `corpus` ("smoke" or "deep"): (name,
    the chain rows expanded to nodes, the chain bottoms, the full node
    set). A node's value is its `levels()` payload and its cell-tree
    digest: the promotion-paired levels 0..depth refolded here from the
    in-cell leaves (`_spark_leaf_rows`), at the tree's depth."""
    from euclid_spark.operators.range_response import range_commitment_paths
    from euclid_spark.operators.range_tree import (
        ERC20_REWARD_TREE,
        Q2_KEY_TREE,
        _depth,
    )

    sf = SF_SMOKE
    if corpus == "deep":
        sf, arts = deep_corpus
        monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", arts)
    out = []
    for tree, family in ((Q2_KEY_TREE, "q2"), (ERC20_REWARD_TREE, "erc20")):
        cols = list(tree.cols)
        path = range_commitment_paths(spark, sf, family)[1]
        assert path == tree.path(spark, sf)
        roots = _cell_roots(_spark_leaf_rows(spark, sf, family), family)
        nodes, bottoms = _expand_chains(
            _store_rows(path, roots), [*cols, "node_hash"]
        )
        digest = _cell_tree(roots, _depth(spark, sf))
        full = {
            (r["owner"], r["level"], r["cell"]): _norm([r[c] for c in cols])
            + (digest[(r["owner"], r["level"], r["cell"])],)
            for r in tree.levels(spark, sf).collect()
        }
        assert full.keys() == digest.keys(), tree.name
        out.append((tree.name, nodes, bottoms, full))
    return out


@pytest.mark.parametrize("corpus", ["smoke", "deep"])
def test_chain_stores_expand_to_full_node_sets(
    spark, monkeypatch, deep_corpus, corpus
):
    """The two owner-keyed trees hold one row per chain; expanding each
    row to node (k, lo >> k) at every k in [level, top] gives the full
    node set exactly — every `levels()` node once, with its payload and
    its refolded cell-tree digest, and no other node — at SF_SMOKE and
    on a ≥ 10-level tree."""
    for name, nodes, _, full in _chain_stores(
        spark, monkeypatch, corpus, deep_corpus
    ):
        assert full and nodes == full, name
        if corpus == "deep":
            assert max(k for _, k, _ in full) >= 10, name


@pytest.mark.parametrize("corpus", ["smoke", "deep"])
def test_chain_stores_hold_no_copies(spark, monkeypatch, deep_corpus, corpus):
    """No stored row above level 0 is a promotion copy: both children
    of every chain bottom at level > 0 are nodes, and the stores hold
    exactly one row per leaf or two-child node of the full node set."""
    for name, nodes, bottoms, full in _chain_stores(
        spark, monkeypatch, corpus, deep_corpus
    ):
        for o, k, c in bottoms:
            if k > 0:
                assert (o, k - 1, 2 * c) in nodes, (name, o, k, c)
                assert (o, k - 1, 2 * c + 1) in nodes, (name, o, k, c)
        real = [
            (o, k, c) for o, k, c in full
            if k == 0
            or ((o, k - 1, 2 * c) in full and (o, k - 1, 2 * c + 1) in full)
        ]
        assert len(bottoms) == len(real), name
        if corpus == "deep":
            assert len(bottoms) < len(full) / 2, (name, len(bottoms), len(full))


@pytest.mark.parametrize("corpus", ["smoke", "deep"])
def test_leaf_chains_store_no_digest(spark, monkeypatch, deep_corpus, corpus):
    """Every leaf-chain row (level 0) of both keyed trees has a null
    node_hash — its digest is its cell's root, which a response
    refolds from the cell's entry rows — and every other row holds its
    digest as 32 raw bytes, at SF_SMOKE and on a ≥ 10-level tree."""
    from euclid_spark import artifacts
    from euclid_spark.operators.range_response import range_commitment_paths

    sf = SF_SMOKE
    if corpus == "deep":
        sf, arts = deep_corpus
        monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", arts)
    for family in ("q2", "erc20"):
        path = range_commitment_paths(spark, sf, family)[1]
        rows = artifacts.read_rows(path, None, ["level", "node_hash"])
        leaf = [r["node_hash"] for r in rows if r["level"] == 0]
        inner = [r["node_hash"] for r in rows if r["level"] > 0]
        assert leaf and inner, family
        assert all(h is None for h in leaf), family
        assert all(isinstance(h, bytes) and len(h) == 32 for h in inner), family


def test_refolded_leaf_chains_match_standalone_recompute(spark, monkeypatch):
    """At SF_ORACLE, for each family, a response whose cover holds a
    promoted leaf chain (a node above level 0 with one occupied cell),
    whose opening paths take a sibling from a leaf chain, and one of
    whose leaf chains has a cell of ≥ 2 leaves: its root, and
    `_response_root`'s (the verifier faces' commit check), equal the
    standalone tool's from-raw-rows recompute, and its rows
    self-verify."""
    import sys

    from euclid_spark import artifacts
    from euclid_spark.operators import range_response
    from euclid_spark.operators.euclid import REWARDS_RATE
    from tests.conftest import REPO, SF_ORACLE

    sys.path.insert(0, str(REPO / "tools"))
    import verify_response as vr

    calls: "list[dict]" = []
    tree_nodes = range_response._tree_nodes

    def spy(tree, nodes, owner, *cols):
        calls.append(tree_nodes(tree, nodes, owner, *cols))
        return calls[-1]

    monkeypatch.setattr(range_response, "_tree_nodes", spy)
    mb = artifacts.footer_stats(f"{SF_ORACLE}/events.parquet").span("event_id")[1]
    rng = random.Random(3)
    for family, fn, L in (
        ("q2", q2_range_response, None),  # the key fold's reveal bound
        ("q2", q2_range_response, 20),  # past it: the covered cells' rows
        ("erc20", erc20_range_response, 20),
    ):
        entries = range_response.range_commitment_paths(
            spark, SF_ORACLE, family
        )[0]
        found = None
        for _ in range(300):
            b_min = rng.randrange(0, mb // 2)
            b_max = b_min + rng.randrange(2_000, mb)
            owner = rng.randrange(1, 40)
            calls.clear()
            rows = fn(spark, SF_ORACLE, owner=owner, b_min=b_min,
                      b_max=b_max, L=L).collect()
            if len(calls) < 2 or not rows:
                continue
            cover, sibs = calls
            leaves = range_response.cell_leaves(family, artifacts.read_rows(
                entries, [[("owner", "=", owner)]],
                range_response._entry_cols(family),
            ))
            chains = [*cover.values(), *sibs.values()]
            if (
                any(r["level"] == 0 < k for (k, _), r in cover.items())
                and any(r["level"] == 0 for r in sibs.values())
                and any(len(leaves[(owner, r["lo"])]) > 1
                        for r in chains if r["level"] == 0)
            ):
                found = (owner, b_min, b_max, rows)
                break
        assert found, (family, L)
        owner, b_min, b_max, rows = found
        rate = REWARDS_RATE if family == "erc20" else None
        want = vr._recompute_range_root(
            f"{SF_ORACLE}/events.parquet", family, owner, b_min, b_max, rate
        )
        assert {r["response_root"] for r in rows} == {want}, (family, found[:3])
        assert range_response._response_root(
            spark, SF_ORACLE, family, owner, b_min, b_max
        ) == want, (family, found[:3])
        _check_rows(rows, family)


def test_edge_only_reveal_reads_its_cover_leaf_chains_with_the_edges(
    spark, monkeypatch
):
    """A Q2 response whose revealed keys all open at edge elements
    opens no cell, yet its root needs the cell root of each leaf chain
    in its cover: those cells ride its edge read, so it reads its
    entry store once — the edge read — as it did when the leaf chains
    stored their digests, and its root equals the standalone
    recompute."""
    import sys

    from euclid_spark import artifacts
    from euclid_spark.operators import range_response
    from tests.conftest import REPO, SF_ORACLE

    sys.path.insert(0, str(REPO / "tools"))
    import verify_response as vr

    calls: "list[dict]" = []
    tree_nodes = range_response._tree_nodes

    def spy(tree, nodes, owner, *cols):
        calls.append(tree_nodes(tree, nodes, owner, *cols))
        return calls[-1]

    reads: "list[str]" = []
    read_rows = artifacts.read_rows

    def read_spy(path, filter=None, columns=None):
        reads.append(path)
        return read_rows(path, filter, columns)

    monkeypatch.setattr(range_response, "_tree_nodes", spy)
    monkeypatch.setattr(artifacts, "read_rows", read_spy)
    mb = artifacts.footer_stats(f"{SF_ORACLE}/events.parquet").span("event_id")[1]
    rng = random.Random(11)
    for _ in range(300):
        b_min = rng.randrange(0, mb - 600)
        b_max = b_min + rng.randrange(600, 3_000)
        owner = rng.randrange(1, 40)
        calls.clear()
        reads.clear()
        rows = q2_range_response(
            spark, SF_ORACLE, owner=owner, b_min=b_min, b_max=b_max, L=1
        ).collect()
        if rows and all(r["path"] == "" for r in rows) and any(
            r["level"] == 0 for r in calls[0].values()
        ):
            break
    else:
        pytest.fail("no edge-only reveal over a leaf-chain cover found")
    entry_reads = [p for p in reads if "q2_entry_store_" in p]
    assert len(entry_reads) == 1, (owner, b_min, b_max, reads)
    assert rows[0]["response_root"] == vr._recompute_range_root(
        f"{SF_ORACLE}/events.parquet", "q2", owner, b_min, b_max, None
    ), (owner, b_min, b_max)


@pytest.mark.parametrize("corpus", ["smoke", "deep"])
def test_driver_leaves_equal_the_spark_window_leaves(
    spark, monkeypatch, deep_corpus, corpus
):
    """The driver derives a cell's in-cell leaves from entry-store rows
    (`cell_leaves`): each leaf's pos, its rank in the cell, and the
    ERC-20 reward hex from the limbs. Over every row of both entry
    stores they equal, row for row sorted by (owner, cell, pos), the
    leaves Spark's window computes from the events
    (`_spark_leaf_rows`), at SF_SMOKE and on a ≥ 10-level tree."""
    from euclid_spark import artifacts
    from euclid_spark.operators.range_response import (
        _entry_cols,
        cell_leaves,
        range_commitment_paths,
    )

    sf = SF_SMOKE
    if corpus == "deep":
        sf, arts = deep_corpus
        monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", arts)
    for family, payload in (("q2", ["token_id"]),
                            ("erc20", ["event_id", "entry_reward_hex"])):
        entries = range_commitment_paths(spark, sf, family)[0]
        opened = cell_leaves(
            family, artifacts.read_rows(entries, None, _entry_cols(family))
        )
        got = sorted(
            (o, lf["cell"], lf["pos"], *(lf[c] for c in payload))
            for (o, _), leaves in opened.items()
            for lf in leaves
        )
        want = sorted(
            (r["owner"], r["cell"], r["pos"], *(r[c] for c in payload))
            for r in _spark_leaf_rows(spark, sf, family)
        )
        assert got and got == want, family


@pytest.fixture(scope="module")
def tail_corpus(spark, tmp_path_factory) -> "tuple[str, str]":
    """(corpus, artifact root): SF_SMOKE's events plus its non-purchase
    events again 4 000 blocks later. No entry of either family lies
    past cell 3 (depth 2), while the events run to cell 19 (depth 5):
    the events cross three powers of two of cells after the last
    qualifying entry."""
    root = tmp_path_factory.mktemp("tail")
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    ev.unionByName(
        ev.filter(F.col("event_type") != "purchase")
        .withColumn("event_id", F.col("event_id") + 4000)
    ).coalesce(1).write.parquet(str(root / "tail" / "events.parquet"))
    return str(root / "tail"), str(root / "_arts")


@pytest.mark.parametrize("corpus", ["tail", "deep"])
def test_response_cover_depth_follows_the_last_qualifying_cell(
    spark, monkeypatch, tail_corpus, deep_corpus, corpus
):
    """The keyed trees are built to the events' depth, but a response's
    cover depth is tree_depth(max qualifying cell + 1), from the entry
    store's footer: `_response_root` and both response faces, for
    several owners and ranges (the whole block span among them), equal
    a recompute from the in-cell leaves alone — the cell roots refolded
    from their payloads, the cell tree paired up to that depth, and the
    cover's occupied nodes chained onto the header."""
    from collections import Counter

    from euclid_spark.operators.euclid import REWARDS_RATE
    from euclid_spark.operators.range_response import (
        _response_root,
        range_commitment_paths,
    )
    from euclid_spark.operators.range_tree import (
        TILE_SIZE,
        _depth,
        _max_event_id,
        tile_cover,
        tree_depth,
    )

    sf, arts = tail_corpus if corpus == "tail" else deep_corpus
    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", arts)
    span = _max_event_id(spark, sf) // TILE_SIZE + 1
    for family, fn in (("q2", q2_range_response), ("erc20", erc20_range_response)):
        depth = range_commitment_paths(spark, sf, family)[2]
        roots = _cell_roots(_spark_leaf_rows(spark, sf, family), family)
        top = max(c for _, c in roots)
        assert depth == tree_depth(top + 1), family
        if corpus == "tail":
            assert depth == 2 and _depth(spark, sf) == 5, family
        nodes = _cell_tree(roots, depth)
        n_cells = Counter(o for o, _ in roots)
        owners = sorted(n_cells, key=lambda o: (-n_cells[o], o))[:2]
        ranges = [(0, span), (0, top + 1), (1, top + 1), (top // 2, span)]
        for owner in owners:
            for lo, hi in ranges:
                b_min, b_max = lo * TILE_SIZE, hi * TILE_SIZE
                cover, edges = tile_cover(b_min, b_max, depth)
                assert cover and not edges
                hashes = [nodes[(owner, k, c)] for k, c in cover
                          if (owner, k, c) in nodes]
                acc = _sha_hex(f"hdr:{b_min}:{b_max}:{owner}" + (
                    f":{REWARDS_RATE}" if family == "erc20" else ""))
                for h in hashes:
                    acc = _sha_hex(acc + h)
                where = (family, owner, b_min, b_max)
                assert _response_root(
                    spark, sf, family, owner, b_min, b_max
                ) == acc, where
                rows = fn(spark, sf, owner=owner, b_min=b_min, b_max=b_max
                          ).collect()
                assert bool(rows) == bool(hashes), where
                if rows:
                    assert rows[0]["elements"] == "/".join(hashes), where
                    assert {r["response_root"] for r in rows} == {acc}, where
                    _check_rows(rows, family)


def test_commitment_stores_are_byte_identical_across_builds(
    spark, tmp_path, monkeypatch
):
    """Building the two keyed tile trees (each node's aggregate and its
    cell-tree digest) and their two entry stores (the leaves of the
    in-cell trees and of the pinned responses) twice, each time into an
    empty artifact root, writes the same part files byte for byte: the
    owner and event_id
    clustering is a function of the data, not of a sampled bound, and
    each store's sort is a total order. The two owner-keyed trees are
    in the chain layout and carry both their payload columns and
    `node_hash`."""
    import os

    from euclid_spark import artifacts
    from euclid_spark.cache import release_all
    from euclid_spark.operators.range_tree import (
        ERC20_REWARD_TREE,
        Q2_KEY_TREE,
    )

    def build(root) -> "dict[tuple, bytes]":
        monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(root))
        paths = [
            tree.path(spark, SF_SMOKE, store=store)
            for tree in (Q2_KEY_TREE, ERC20_REWARD_TREE)
            for store in (True, False)
        ]
        parts: "dict[tuple, bytes]" = {}
        for path in paths:
            store = os.path.basename(path).rsplit("_", 1)[0]
            if store.endswith("_tiles"):
                tree = Q2_KEY_TREE if store == Q2_KEY_TREE.name else ERC20_REWARD_TREE
                names = artifacts.footer_stats(path).schema.names
                assert names == [
                    "owner", "level", "top", "lo", *tree.cols, "node_hash"
                ], (store, names)
            for f in os.listdir(path):
                if f.startswith("part-"):
                    # part-<task>-<write uuid>-c000...: key on the task
                    with open(os.path.join(path, f), "rb") as fh:
                        parts[(store, f.split("-")[1])] = fh.read()
        release_all()
        return parts

    first, second = build(tmp_path / "a"), build(tmp_path / "b")
    assert {k[0] for k in first} == {
        "q2_key_tiles", "q2_entry_store",
        "erc20_reward_tiles", "erc20_all_entry_leaves",
    }
    assert first.keys() == second.keys()
    assert all(first[k] == second[k] for k in first), sorted(
        k for k in first if first[k] != second[k]
    )


def test_incell_refold_equals_merkle_levels(spark):
    """The driver's in-cell refold (`merkle_levels_local`, `_path_steps`)
    is merkle.merkle_levels and merkle_opening_paths: every level and
    every leaf's opening steps agree, for cells of 1 to TILE_SIZE
    leaves. Spark carries a tree past its root by promotion; the refold
    stops there. In the same frame, groups of sparse positions (the
    cell tree's occupied cells) and groups of every depth from 0 to 8
    fold level by level to the verifier tool's independent sparse fold
    (`tools/verify_response._cell_tree`): siblings pair by pos >> 1,
    never by their index among the group's nodes."""
    import sys

    from euclid_spark.operators.merkle import (
        _path_steps,
        merkle_levels,
        merkle_levels_local,
        merkle_opening_paths,
    )
    from euclid_spark.operators.range_response import _sha
    from tests.conftest import REPO

    sys.path.insert(0, str(REPO / "tools"))
    from verify_response import _cell_tree

    sizes = (1, 2, 3, 4, 5, 7, 8, 9, 255, 256)
    sparse = {  # group key → occupied positions
        1001: (0,), 1002: (1,), 1003: (0, 3), 1004: (2, 3, 9),
        1005: (0, 5, 6, 7, 200, 255), 1006: (255,), 1007: (1, 2, 5, 6),
    }
    level0 = {
        g: {p: _sha(f"{g}:{p}") for p in ps}
        for g, ps in [(n, range(n)) for n in sizes] + list(sparse.items())
    }
    df = spark.createDataFrame(
        [(g, p, h) for g, lv in level0.items() for p, h in lv.items()],
        "group_key long, pos long, node_hash string",
    )
    nodes, depth = merkle_levels(df)
    assert depth == 8
    stored: "dict[int, dict]" = {}
    for r in nodes.collect():
        stored.setdefault(r["group_key"], {})[(r["level"], r["pos"])] = (
            r["node_hash"]
        )
    for g, lv in level0.items():
        assert stored[g] == _cell_tree(lv, depth), g
    paths = {
        (r["group_key"], r["leaf_pos"]): r["path"]
        for r in merkle_opening_paths(
            df.filter(df.group_key.isin(*sizes)), [], nodes=nodes, depth=depth
        ).collect()
    }
    for n in sizes:
        tree, top = merkle_levels_local(list(level0[n].values()))
        assert top == max(0, (n - 1).bit_length()), n
        sp = stored[n]
        assert {kp: h for kp, h in sp.items() if kp[0] <= top} == tree, n
        assert all(h == tree[(top, 0)] for (k, _), h in sp.items() if k > top)
        for p in range(n):
            assert "/".join(_path_steps(tree, top, p)) == paths[(n, p)], (n, p)


# Sorted-row md5s of both response faces over a grid of requests, and
# of both verifier faces, recorded before the in-cell trees and leaf
# hashes left the stores: each answer must stay byte-identical.
_GOLDEN_GRID = {  # (owner, b_min, b_max, L) → md5 per family
    (7, 300, 500, None): (  # edges only
        "c7104c140c9348a301ce0bd4338ee65d", "605fb36f8d23a7c7eaf7543123b4196c"),
    (7, 256, 768, None): (  # aligned cover only
        "58d5e29441e8160e4acacb05fd284426", "a0bc396dc7185f10a79ecd0c20fbac29"),
    (7, 45, 905, None): (  # cover and edges
        "e9e9ebfd369fcd8268e3f62e6194358b", "f5512ee5f7058ab62257f4c0275dd60f"),
    (9, 45, 905, 1): (  # L = 1
        "1c324f8a35edb159636340f3ed78c78b", "23a0791212a60c7c96978b69bf3d4936"),
    (9, 0, 1000, 5): (  # L = TOP_L over the whole block span
        "6896eb5530f579a23124a1a5fc7fa685", "7ff38689aed283f6fdf7573a4b907817"),
    (9, 0, 1000, 20): (  # L > Q2_L: q2 reads the leaf store
        "644f79164b9daec1fa634820587ca388", "e24549de6f72ed91e1d983fbe696405e"),
    (3, 0, 256, 20): (  # one aligned cell, L > Q2_L
        "457d71aa676e0555b07253555a8e18dd", "a74e1c49c01771dbd29bcc51ddc737b1"),
}
_GOLDEN_VERIFY = {
    "q2": "8222ea936efec64cb0ee304a5cedd85b",
    "erc20": "37a95bcdcfb6333d4eab60a55cfdd0ee",
}


def _rows_md5(df) -> str:
    rows = sorted(
        "|".join(f"{k}={v}" for k, v in sorted(r.asDict().items()))
        for r in df.collect()
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def test_golden_answers(spark):
    """Both response faces over edge-only, cover-only and mixed ranges
    at L = 1, TOP_L and L > Q2_L, and both verifier faces, answer the
    recorded rows byte for byte."""
    from euclid_spark.operators.euclid import TOP_L
    from euclid_spark.operators.range_tree import Q2_L, tile_cover

    assert TOP_L == Q2_L == 5  # the grid's L values assume it
    kinds = set()
    for (owner, b_min, b_max, L), want in _GOLDEN_GRID.items():
        cover, edges = tile_cover(b_min, b_max, 2)
        kinds.add((bool(cover), bool(edges)))
        got = tuple(
            _rows_md5(fn(spark, SF_SMOKE, owner=owner, b_min=b_min,
                         b_max=b_max, L=L))
            for fn in (q2_range_response, erc20_range_response)
        )
        assert got == want, (owner, b_min, b_max, L)
    assert kinds == {(False, True), (True, False), (True, True)}
    assert _rows_md5(verify_q2_range_response(spark, SF_SMOKE)) == (
        _GOLDEN_VERIFY["q2"]
    )
    assert _rows_md5(verify_erc20_range_response(spark, SF_SMOKE)) == (
        _GOLDEN_VERIFY["erc20"]
    )
