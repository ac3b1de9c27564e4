"""The standalone response verifier (tools/verify_response.py) — the
groth16-framework src/verifier analog: a consumer checks a PUBLISHED
response with no Spark and none of the prover's code. Tests: the tool
validates untampered artifacts, and each tamper class (payload, leaf
hash, path, root, every binding field) flips the verdict."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

from tests.conftest import REPO, SF_SMOKE

sys.path.insert(0, str(REPO / "tools"))

import verify_response as vr  # noqa: E402

from euclid_spark import artifacts  # noqa: E402


@pytest.fixture(scope="module")
def responses(spark):
    """Ensure published responses exist for the smoke corpus (build via
    the prover side once; the tool itself never touches Spark)."""
    from euclid_spark.operators.merkle import (
        _serve_erc20_response,
        _serve_q2_response,
    )

    _serve_q2_response(spark, SF_SMOKE).count()
    _serve_erc20_response(spark, SF_SMOKE).count()
    targets = [
        (p, k)
        for p, k in vr._discover(artifacts.artifact_dir(), SF_SMOKE)
        if k in ("q2", "erc20")
    ]
    assert {k for _, k in targets} == {"q2", "erc20"}
    return dict((k, p) for p, k in targets)


def _events() -> str:
    return os.path.join(SF_SMOKE, "events.parquet")


def _tamper(src: str, tmpdir: str, set_expr: str) -> str:
    """Copy a response artifact with one field rewritten."""
    out = os.path.join(tmpdir, "tampered.parquet")
    os.makedirs(out, exist_ok=True)
    duckdb.execute(
        f"COPY (SELECT * REPLACE ({set_expr}) "
        f"FROM read_parquet('{src}/*.parquet')) "
        f"TO '{out}/part-0.parquet' (FORMAT PARQUET)"
    )
    return out


def test_untampered_responses_verify(responses):
    for kind, path in responses.items():
        v = vr.verify(path, kind, _events())
        assert v["verdict"] == "VALID", v
        assert v["valid_rows"] == v["rows"] > 0


def test_cli_discovery_mode_exit_zero(responses):
    r = subprocess.run(
        [sys.executable, str(REPO / "tools" / "verify_response.py"), SF_SMOKE],
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    lines = [json.loads(x) for x in r.stdout.strip().splitlines()]
    assert {"q2", "erc20"} <= {x["kind"] for x in lines}
    assert all(x["verdict"] == "VALID" for x in lines)


@pytest.mark.parametrize(
    "kind,set_expr,check",
    [
        # payload tamper: claimed key no longer hashes to the leaf
        ("q2", "(token_id + 1) AS token_id", "leaf_ok"),
        ("erc20", "(event_id + 1) AS event_id", "leaf_ok"),
        # erc20 payload includes the per-entry reward
        (
            "erc20",
            "(substr(entry_reward_hex, 1, 63) || 'f') AS entry_reward_hex",
            "leaf_ok",
        ),
        # leaf-hash tamper: breaks the leaf↔payload binding
        ("q2", "sha256(leaf_hash) AS leaf_hash", "leaf_ok"),
        # path tamper: refold no longer reaches the root (corrupt a
        # sibling hex; single-leaf groups have empty paths, left as-is)
        (
            "q2",
            "(CASE WHEN path = '' THEN path "
            "ELSE substr(path, 1, 3) || 'ff' || substr(path, 6) END) AS path",
            "root_ok",
        ),
        ("erc20", "sha256(root) AS root", "root_ok"),
        ("q2", "sha256(root) AS root", "root_ok"),
        # binding tampers: every public-input field is checked
        ("q2", "(min_block + 1) AS min_block", "binding_ok"),
        ("q2", "(max_block - 1) AS max_block", "binding_ok"),
        ("q2", "(range_digest + 1) AS range_digest", "binding_ok"),
        ("erc20", "(range_digest + 1) AS range_digest", "binding_ok"),
        ("erc20", "(rewards_rate + 1) AS rewards_rate", "binding_ok"),
    ],
)
def test_tamper_flagged(responses, tmp_path, kind, set_expr, check):
    tampered = _tamper(responses[kind], str(tmp_path), set_expr)
    v = vr.verify(tampered, kind, _events())
    assert v["verdict"] == "INVALID", v
    assert check in v["failed"], v
    # rows whose tampered field happens to be a no-op may stay valid;
    # at least one row must be flagged on the targeted check
    assert len(v["failed"][check]) > 0


def test_wrong_corpus_binding_rejected(responses):
    """A response published from another corpus fails binding — the
    public-input recompute is what ties a response to ITS corpus."""
    v = vr.verify(
        responses["q2"], "q2", "/root/testdata/sf0.01/events.parquet"
    )
    assert v["verdict"] == "INVALID"
    assert "binding_ok" in v["failed"]


# ---- arbitrary-range responses (A30-A33 artifacts) ----------------------


@pytest.fixture(scope="module")
def range_responses(spark):
    """Published ARBITRARY-RANGE responses for the smoke corpus."""
    from euclid_spark.operators.range_response import _serve_range_response

    for fam in ("q2", "erc20"):
        _serve_range_response(spark, SF_SMOKE, fam).count()
    targets = vr._discover(artifacts.artifact_dir(), SF_SMOKE)
    out = {k: p for p, k in targets if k.endswith("_range")}
    assert set(out) == {"q2_range", "erc20_range"}
    return out


def test_untampered_range_responses_verify(range_responses):
    for kind, path in range_responses.items():
        v = vr.verify_range(path, kind, _events())
        assert v["verdict"] == "VALID", v
        assert v["valid_rows"] == v["rows"] > 0


@pytest.mark.parametrize(
    "kind,set_expr,check",
    [
        # payload tamper: claimed row no longer hashes to its leaf
        ("q2_range", "(token_id + 1) AS token_id", "leaf_ok"),
        ("erc20_range", "(event_id + 1) AS event_id", "leaf_ok"),
        (
            "erc20_range",
            "(substr(entry_reward_hex, 1, 63) || 'f') AS entry_reward_hex",
            "leaf_ok",
        ),
        # leaf-hash tamper breaks the payload binding
        ("q2_range", "sha256(leaf_hash) AS leaf_hash", "leaf_ok"),
        # path tamper: refold no longer reaches the claimed element
        (
            "erc20_range",
            "(CASE WHEN path = '' THEN path "
            "ELSE substr(path, 1, 3) || 'ff' || substr(path, 6) END) AS path",
            "elem_ok",
        ),
        # element-index tamper: claimed element not at claimed position
        ("q2_range", "(elem_idx + 1) AS elem_idx", "elem_ok"),
        # element-list tamper: the root chain no longer re-derives
        (
            "q2_range",
            "('ff' || substr(elements, 3)) AS elements",
            "root_ok",
        ),
        # root tamper: chain AND independent recompute both flag it
        ("q2_range", "sha256(response_root) AS response_root", "root_ok"),
        (
            "erc20_range",
            "sha256(response_root) AS response_root",
            "binding_ok",
        ),
        # public-input tampers: the header binding flips the chain
        ("q2_range", "(b_min + 1) AS b_min", "root_ok"),
        ("erc20_range", "(b_max - 1) AS b_max", "root_ok"),
        ("q2_range", "(owner + 1) AS owner", "root_ok"),
        ("erc20_range", "(rewards_rate + 1) AS rewards_rate", "root_ok"),
    ],
)
def test_range_tamper_flagged(range_responses, tmp_path, kind, set_expr, check):
    tampered = _tamper(range_responses[kind], str(tmp_path), set_expr)
    v = vr.verify_range(tampered, kind, _events())
    assert v["verdict"] == "INVALID", v
    assert check in v["failed"], v
    assert len(v["failed"][check]) > 0


def test_range_wrong_corpus_binding_rejected(range_responses):
    """The from-raw-rows recompute ties a range response to ITS corpus:
    the same claimed root cannot verify against different events."""
    v = vr.verify_range(
        range_responses["erc20_range"],
        "erc20_range",
        "/root/testdata/sf0.01/events.parquet",
    )
    assert v["verdict"] == "INVALID"
    assert "binding_ok" in v["failed"]


def test_range_cli_discovery_includes_range_kinds(range_responses):
    r = subprocess.run(
        [sys.executable, str(REPO / "tools" / "verify_response.py"), SF_SMOKE],
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    lines = [json.loads(x) for x in r.stdout.strip().splitlines()]
    kinds = {x["kind"] for x in lines}
    assert {"q2_range", "erc20_range"} <= kinds
    assert all(x["verdict"] == "VALID" for x in lines)


# ---- manifest discovery: the cross-implementation guard -----------------


def test_manifest_discovery_matches_prover_paths(spark, responses, range_responses):
    """Cross-implementation guard (the r10 drift class): the tool's
    discovery must return EXACTLY the artifact paths the prover served
    for ALL FOUR response families. Discovery reads the prover's
    published manifests, so the fingerprint scheme exists in one place
    — a prover keying change either re-publishes a manifest (and this
    still passes) or breaks the serve side loudly; it can never
    silently un-verify a published response again."""
    from euclid_spark.operators.euclid import CONTRACT, REWARDS_RATE
    from euclid_spark.operators.merkle import ERC20_RESPONSE, Q2_RESPONSE
    from euclid_spark.operators.range_response import RESPONSES
    from euclid_spark.sources.eth_proof import ETH_PROOF_FIXTURE, eth_proof_fixture

    eth_proof_fixture(spark, SF_SMOKE).count()
    expected = {
        "q2": Q2_RESPONSE.path(SF_SMOKE, contract=CONTRACT),
        "erc20": ERC20_RESPONSE.path(
            SF_SMOKE, rate=REWARDS_RATE, contract=CONTRACT
        ),
        "q2_range": RESPONSES["q2"].path(SF_SMOKE),
        "erc20_range": RESPONSES["erc20"].path(SF_SMOKE),
        "eth_state": ETH_PROOF_FIXTURE.path(SF_SMOKE),
    }
    got = dict(
        (k, p) for p, k in vr._discover(artifacts.artifact_dir(), SF_SMOKE)
    )
    assert got == expected


def test_default_artifacts_is_the_prover_root(tmp_path, monkeypatch):
    """The tool looks where the prover publishes: its --artifacts
    default is `artifacts.artifact_dir()`, redirected or not."""
    assert vr.default_artifacts() == artifacts.artifact_dir()
    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path))
    assert vr.default_artifacts() == artifacts.artifact_dir() == str(tmp_path)


def test_discovery_skips_other_corpus_manifests(responses, tmp_path):
    """A manifest whose recorded source identity doesn't stat-match the
    CURRENT corpus is skipped — a response published from an older
    corpus version never silently enters the default verify set."""
    import shutil as _sh

    src = artifacts.artifact_dir()
    alt = str(tmp_path / "artifacts")
    _sh.copytree(src, alt)
    ev = _events()
    for mf in os.listdir(alt):
        if not mf.endswith(".manifest.json"):
            continue
        p = os.path.join(alt, mf)
        with open(p) as f:
            m = json.load(f)
        if ev in m.get("sources", {}):
            m["sources"][ev]["mtime_ns"] += 1  # stale corpus identity
            with open(p, "w") as f:
                json.dump(m, f)
    assert vr._discover(alt, SF_SMOKE) == []


def test_republish_under_a_new_fingerprint_retires_the_old_manifest(tmp_path):
    """A response re-keyed for the same corpus version and params (a
    prover keying change) is discovered at its NEW path only: publishing
    retires the name's older manifests with equal sources and params.
    A manifest for another contract or another corpus survives."""
    root = tmp_path / "artifacts"
    root.mkdir()
    other_corpus = tmp_path / "events.parquet"
    other_corpus.write_bytes(b"x")

    def publish(fp: str, src: str, contract: str) -> str:
        path = str(root / f"q2_response_{fp}.parquet")
        os.makedirs(path)
        artifacts.publish_manifest(path, "q2", [src], {"contract": contract})
        return path

    publish("a", _events(), vr.CONTRACT)
    publish("click", _events(), "click")
    publish("other", str(other_corpus), vr.CONTRACT)
    b = publish("b", _events(), vr.CONTRACT)
    assert vr._discover(str(root), SF_SMOKE) == [(b, "q2")]
    assert sorted(p.name for p in root.glob("*.manifest.json")) == [
        "q2_response_b.manifest.json",
        "q2_response_click.manifest.json",
        "q2_response_other.manifest.json",
    ]


# ---- eth_getProof capture: the fifth family through the same tool -------


@pytest.fixture(scope="module")
def eth_fixture(spark):
    from euclid_spark.sources.eth_proof import eth_proof_fixture

    eth_proof_fixture(spark, SF_SMOKE).count()
    targets = dict(
        (k, p) for p, k in vr._discover(artifacts.artifact_dir(), SF_SMOKE)
    )
    assert "eth_state" in targets
    return targets["eth_state"]


def test_eth_manifest_states_the_declared_version(eth_fixture):
    """The published manifest records the fixture version its
    fingerprint is keyed on, not a stale one."""
    from euclid_spark.sources.eth_proof import ETH_PROOF_FIXTURE

    with open(f"{os.path.splitext(eth_fixture)[0]}.manifest.json") as f:
        manifest = json.load(f)
    assert manifest["params"]["v"] == ETH_PROOF_FIXTURE.params["v"]


def test_eth_capture_verifies(eth_fixture):
    v = vr.verify_eth(eth_fixture)
    assert v["verdict"] == "VALID", v
    assert v["valid_rows"] == v["rows"] > 0


def test_eth_tool_keccak_is_independent():
    """The tool's restated keccak matches the public vectors WITHOUT
    importing the prover's implementation."""
    assert vr._keccak256(b"").hex() == (
        "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470"
    )
    assert vr._keccak256(b"abc").hex() == (
        "4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45"
    )


@pytest.mark.parametrize(
    "set_expr,check",
    [
        # account-proof node tampered → hash chain breaks at the root
        (
            "list_transform(accountProof, "
            "p -> '0xff' || substr(p, 5)) AS accountProof",
            "account_proof",
        ),
        # claimed balance inflated → decoded-vs-claimed flags it
        ("'0xffffffff' AS balance", "claimed_fields"),
        # storage value changed → slot binding fails
        (
            "list_transform(storage_values, v -> '0xff') AS storage_values",
            "storage_proof",
        ),
        # storage hash swapped → decoded root mismatch
        (
            "('0x' || repeat('ab', 32)) AS storageHash",
            "storage_root",
        ),
    ],
)
def test_eth_tamper_flagged(eth_fixture, tmp_path, set_expr, check):
    tampered = _tamper(eth_fixture, str(tmp_path), set_expr)
    v = vr.verify_eth(tampered)
    assert v["verdict"] == "INVALID", v
    assert check in v["failed"], v


def test_eth_cli_discovery_includes_eth_state(eth_fixture):
    r = subprocess.run(
        [sys.executable, str(REPO / "tools" / "verify_response.py"), SF_SMOKE],
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    lines = [json.loads(x) for x in r.stdout.strip().splitlines()]
    assert "eth_state" in {x["kind"] for x in lines}
    assert all(x["verdict"] == "VALID" for x in lines)


def test_discovery_is_path_shape_insensitive(responses):
    """Discovery must match the corpus by FILE IDENTITY, not by the
    literal path string the prover happened to use: a trailing slash or
    a relative invocation of the same directory yields the same
    targets (manifests record realpath keys; discovery realpaths its
    side too)."""
    import os

    canonical = vr._discover(artifacts.artifact_dir(), SF_SMOKE)
    assert canonical  # the fixtures published at least one family
    slashed = vr._discover(artifacts.artifact_dir(), SF_SMOKE + "/")
    rel = vr._discover(
        artifacts.artifact_dir(), os.path.relpath(SF_SMOKE)
    )
    assert slashed == canonical
    assert rel == canonical
