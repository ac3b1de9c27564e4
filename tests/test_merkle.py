"""Merkle commitment verifier (SURVEY.md §5 level 2): every emitted
opening path must refold to the emitted root — the exact check a proof
consumer runs — and the root must equal an independently-built
reference tree over the same sorted leaves."""

from __future__ import annotations

import hashlib

from tests.conftest import SF_SMOKE

from euclid_spark.operators.merkle import (
    merkle_membership_proof,
    merkle_opening_paths,
)


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def _refold(leaf_hash: str, path: str) -> str:
    """Apply the opening path: promoted (skipped) levels are identity."""
    cur = leaf_hash
    if not path:
        return cur
    for step in path.split("/"):
        head, sib = step.split(":", 1)
        side = head[-1]
        cur = _sha(cur + sib) if side == "R" else _sha(sib + cur)
    return cur


def _reference_root(leaves: list[str]) -> str:
    level = leaves
    while len(level) > 1:
        nxt = []
        for i in range(0, len(level) - 1, 2):
            nxt.append(_sha(level[i] + level[i + 1]))
        if len(level) % 2:
            nxt.append(level[-1])  # promote unpaired tail
        level = nxt
    return level[0]


def test_every_path_refolds_to_root(spark):
    rows = merkle_membership_proof(spark, SF_SMOKE).collect()
    assert rows, "no proof rows at smoke SF"
    roots: dict[int, str] = {}
    by_group: dict[int, list[tuple[int, str]]] = {}
    for r in rows:
        assert _refold(r["leaf_hash"], r["path"]) == r["root"], (
            f"path of custkey {r['c_custkey']} does not refold to root"
        )
        roots.setdefault(r["group_key"], r["root"])
        assert roots[r["group_key"]] == r["root"]
        by_group.setdefault(r["group_key"], []).append(
            (r["leaf_pos"], r["leaf_hash"])
        )
    # independent bottom-up tree over the sorted leaves
    for g, leaves in by_group.items():
        leaves.sort()
        assert [p for p, _ in leaves] == list(range(len(leaves)))
        assert _reference_root([h for _, h in leaves]) == roots[g]


def test_single_leaf_group_emits_empty_path(spark):
    """A group with ONE leaf must still appear in the output: its leaf
    hash IS the root and the opening path is empty (zero fold steps).
    Groups of size 1, 2, 3 together in one frame exercise the promoted
    and paired shapes side by side."""
    rows = [
        ("solo", 0, _sha("only")),
        ("pair", 0, _sha("a")),
        ("pair", 1, _sha("b")),
        ("trio", 0, _sha("x")),
        ("trio", 1, _sha("y")),
        ("trio", 2, _sha("z")),
    ]
    leaves = spark.createDataFrame(
        [(g, p, h, f"{g}#{p}") for g, p, h in rows],
        "group_key string, pos int, node_hash string, entry_id string",
    )
    out = {
        (r["group_key"], r["leaf_pos"]): r
    for r in merkle_opening_paths(leaves, entry_cols=["entry_id"]).collect()}
    assert len(out) == 6, "every leaf (incl. the single-leaf group) emits"
    solo = out[("solo", 0)]
    assert solo["path"] == ""
    assert solo["root"] == solo["leaf_hash"] == _sha("only")
    for key, r in out.items():
        assert _refold(r["leaf_hash"], r["path"]) == r["root"], key
    assert out[("pair", 0)]["root"] == _sha(_sha("a") + _sha("b"))
    assert out[("trio", 0)]["root"] == _sha(_sha(_sha("x") + _sha("y")) + _sha("z"))


def test_leaf_hash_is_the_documented_encoding(spark):
    row = (
        merkle_membership_proof(spark, SF_SMOKE)
        .limit(1)
        .collect()[0]
    )
    # leaf = sha256("<custkey>:<name>") — re-derive from the source table
    import pyspark.sql.functions as F

    cust = (
        spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
        .filter(F.col("c_custkey") == row["c_custkey"])
        .collect()[0]
    )
    assert _sha(f"{cust['c_custkey']}:{cust['c_name']}") == row["leaf_hash"]


def test_verifiable_response_refolds_and_binds(spark):
    """A20: every revealed row's opening path refolds to the shared
    commitment root, the revealed set is the canonical-order top-L of
    the owner's token universe, and the provenance digest matches an
    independent recomputation."""
    from euclid_spark.operators.euclid import (
        OWNER,
        TOP_L,
        _range_provenance,
        q2_distinct_keys,
    )
    from euclid_spark.operators.merkle import verifiable_query_response

    rows = verifiable_query_response(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= TOP_L
    roots = {r["root"] for r in rows}
    assert len(roots) == 1  # one commitment binds the whole response
    for r in rows:
        assert _refold(r["leaf_hash"], r["path"]) == r["root"]

    toks = sorted(
        x["token_id"]
        for x in q2_distinct_keys(spark, SF_SMOKE)
        .filter(f"owner = {OWNER} AND token_id IS NOT NULL")
        .collect()
    )
    assert [r["token_id"] for r in sorted(rows, key=lambda r: r["token_id"])] \
        == toks[:TOP_L]
    prov = _range_provenance(spark, SF_SMOKE).collect()[0]
    assert all(r["range_digest"] == prov["range_digest"] for r in rows)


def test_batch_responses_refold_per_owner(spark):
    """A21: every revealed row refolds to ITS OWNER'S root; roots
    differ across owners (per-owner commitments, not one global)."""
    from euclid_spark.operators.merkle import batch_verifiable_responses

    rows = batch_verifiable_responses(spark, SF_SMOKE).collect()
    assert rows
    by_owner = {}
    for r in rows:
        assert _refold(r["leaf_hash"], r["path"]) == r["root"]
        by_owner.setdefault(r["owner"], set()).add(r["root"])
    assert all(len(roots) == 1 for roots in by_owner.values())
    assert len({next(iter(v)) for v in by_owner.values()}) > 1


def test_erc20_response_refolds_and_binds(spark):
    """A23: every revealed contributing-entry row refolds to the
    owner's commitment root; the revealed set is the first-L entries in
    block (event_id) order; the total reward equals A13's u256 sum for
    the owner; per-entry leaf hashes commit to the entry reward."""
    from euclid_spark.operators.euclid import (
        OWNER,
        TOP_L,
        erc20_weighted_sum_u256,
    )
    from euclid_spark.operators.merkle import erc20_verifiable_response

    rows = erc20_verifiable_response(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= TOP_L
    assert len({r["root"] for r in rows}) == 1
    for r in rows:
        assert _refold(r["leaf_hash"], r["path"]) == r["root"]
        assert _sha(f"{r['event_id']}:{r['entry_reward_hex']}") == r["leaf_hash"]
        assert len(r["entry_reward_hex"]) == 64
    # revealed = canonical block-order prefix (leaf_pos is the rank)
    ordered = sorted(rows, key=lambda r: r["event_id"])
    assert [r["leaf_pos"] for r in ordered] == list(range(len(rows)))
    # owner total binds to A13
    a13 = (
        erc20_weighted_sum_u256(spark, SF_SMOKE)
        .filter(f"owner = {OWNER}")
        .collect()[0]
    )
    assert all(r["reward_hex"] == a13["reward_hex"] for r in rows)


def test_erc20_batch_responses_refold_per_owner(spark):
    """A24: per-owner roots; every path refolds; each owner's rows
    carry that owner's own total reward."""
    from euclid_spark.operators.merkle import erc20_batch_verifiable_responses

    rows = erc20_batch_verifiable_responses(spark, SF_SMOKE).collect()
    assert rows
    by_owner = {}
    for r in rows:
        assert _refold(r["leaf_hash"], r["path"]) == r["root"]
        by_owner.setdefault(r["owner"], {"roots": set(), "rewards": set()})
        by_owner[r["owner"]]["roots"].add(r["root"])
        by_owner[r["owner"]]["rewards"].add(r["reward_hex"])
    assert all(len(v["roots"]) == 1 for v in by_owner.values())
    assert all(len(v["rewards"]) == 1 for v in by_owner.values())
    assert len({next(iter(v["roots"])) for v in by_owner.values()}) > 1


# --- the verifier faces (A27/A28) --------------------------------------------


def test_verify_response_all_valid(spark):
    """The untampered served response must verify TRUE on every check —
    the gate alone can't see this (it would also match on all-false)."""
    from euclid_spark.operators.merkle import verify_response

    rows = verify_response(spark, SF_SMOKE).collect()
    assert rows
    assert all(r["leaf_ok"] and r["root_ok"] and r["binding_ok"] for r in rows)
    assert all(r["valid"] for r in rows)


def test_verify_erc20_response_all_valid(spark):
    from euclid_spark.operators.merkle import verify_erc20_response

    rows = verify_erc20_response(spark, SF_SMOKE).collect()
    assert rows
    assert all(r["valid"] for r in rows)


def test_verify_response_rejects_tampering(spark):
    """Tampering any component of a published response flips the
    verdict: a forged leaf value breaks leaf_ok, a forged path or root
    breaks root_ok, forged provenance breaks binding_ok."""
    from pyspark.sql import functions as F

    from euclid_spark.operators.euclid import _range_provenance
    from euclid_spark.operators.merkle import (
        _refold_to_root,
        _serve_q2_response,
    )

    resp = _serve_q2_response(spark, SF_SMOKE)

    def verdicts(tampered):
        prov = _range_provenance(spark, SF_SMOKE).select(
            F.col("min_block").alias("e_min"),
            F.col("max_block").alias("e_max"),
            F.col("range_digest").alias("e_dig"),
        )
        return (
            tampered.crossJoin(F.broadcast(prov))
            .select(
                (
                    F.sha2(F.col("token_id").cast("string"), 256)
                    == F.col("leaf_hash")
                ).alias("leaf_ok"),
                (
                    _refold_to_root(F.col("leaf_hash"), F.col("path"))
                    == F.col("root")
                ).alias("root_ok"),
                (
                    (F.col("min_block") == F.col("e_min"))
                    & (F.col("max_block") == F.col("e_max"))
                    & (F.col("range_digest") == F.col("e_dig"))
                ).alias("binding_ok"),
            )
            .collect()
        )

    # forged token value: claimed entry no longer hashes to the leaf
    t1 = verdicts(resp.withColumn("token_id", F.col("token_id") + 1))
    assert all(not r["leaf_ok"] for r in t1)
    # forged leaf hash: refold lands on a different root
    t2 = verdicts(
        resp.withColumn("leaf_hash", F.sha2(F.lit("forged"), 256))
    )
    assert all(not r["root_ok"] for r in t2)
    # forged path step: first sibling replaced
    t3 = verdicts(
        resp.filter(F.col("path") != "").withColumn(
            "path",
            F.concat(
                F.lit("0R:"),
                F.sha2(F.lit("evil"), 256),
                F.expr("substring(path, instr(path, '/'))"),
            ),
        )
    )
    assert all(not r["root_ok"] for r in t3)
    # forged provenance: binding check fails
    t4 = verdicts(resp.withColumn("range_digest", F.col("range_digest") + 1))
    assert all(not r["binding_ok"] for r in t4)


def test_pinned_faces_refuse_a_corpus_out_of_block_order(
    spark, tmp_path, monkeypatch
):
    """The pinned faces read the entry stores over the pinned range's
    event_id window, which is exact only when blocks are numbered in
    time order across the range's edges (euclid.pinned_window's corpus
    rule). On a copy of the corpus where one event inside the window's
    event_id span has its ts moved past T_MAX, every such face raises
    instead of answering from the window."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from euclid_spark import registry
    from euclid_spark.operators.euclid import T_MAX, pinned_window

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "_arts"))
    min_b, max_b, _ = pinned_window(spark, SF_SMOKE)
    t = pq.read_table(f"{SF_SMOKE}/events.parquet")
    ids = t["event_id"].to_pylist()
    inside = sorted(e for e in ids if min_b < e < max_b)
    ts = t["ts"].to_pylist()
    ts[ids.index(inside[len(inside) // 2])] = (
        dt.datetime.fromisoformat(T_MAX) + dt.timedelta(days=1)
    )
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pq.write_table(
        t.set_column(
            t.schema.get_field_index("ts"), "ts",
            pa.array(ts, t.schema.field("ts").type),
        ),
        corpus / "events.parquet",
    )
    qs = registry.queries()
    for name in (
        "euclid_erc20_weighted_sum_u256",
        "euclid_verifiable_response",
        "euclid_batch_verifiable_responses",
        "euclid_erc20_verifiable_response",
        "euclid_erc20_batch_responses",
    ):
        with pytest.raises(ValueError, match="corpus rule"):
            qs[name](spark, str(corpus))
