"""eth_getProof-shaped state ingestion + verification (public Ethereum
JSON-RPC + yellow-paper spec).

The reference ingests REAL chain state: it fetches `eth_getProof`
responses — per (address, [storageKeys], block): the account's RLP body,
its storage hash, and hash-chained Merkle-Patricia proof node lists —
verifies them, and only then feeds extraction
(mrp2-utils/src/eth.rs:1, mrp2-test-utils/src/eth.rs:1). This module is
that consumer path for the engine, built entirely from the public spec:

- `eth_proof_fixture` CAPTURES a corpus snapshot in the exact RPC wire
  shape (0x-hex node lists, account fields, storage key/value/proof
  triples): per owner a REAL secure storage trie (paths =
  keccak(location), location = keccak(key32 ‖ slot32), values =
  minimal-RLP integers), above them ONE state trie over yellow-paper
  account bodies rlp([nonce, balance, storageRoot, codeHash]) with
  paths = keccak(address). Node encoding, hex-prefix paths, the
  <32-byte embed rule and keccak refs are the canonical kernels in
  functions/rlp.py (bit-exact vs public vectors). The capture is a
  fingerprint-keyed artifact — the stand-in for the RPC responses this
  sandbox cannot fetch; a real deployment swaps this builder for the
  RPC call and NOTHING downstream changes.
- `eth_proof_verify` is the consumer: it re-derives every account and
  storage slot FROM THE PROOFS ALONE — keccak-walks each node list from
  the published state root, checks the hash chain, decodes the account
  RLP, checks the claimed fields against the decoded ones, then proves
  every storage slot against the account's own storage root. The face's
  output (nonce, balance, per-account storage sums) is therefore
  keccak-authenticated, and the DuckDB oracle re-derives the same
  numbers relationally from raw events — a hash mismatch ANYWHERE in
  trie build, proof extraction, or verification breaks the gate.

Scale shape: storage tries build distributed (owner-partitioned
mapInPandas, level-batched keccak across owners — the
synthesize_owner_tries pattern). The STATE trie over account bodies is
ALSO distributed (r12): accounts repartition by their address-byte
prefix (keccak(address)[0], 256 groups), each group builds a sub-trie
over the 31-byte key suffixes with the same level-batched kernel and
extracts each account's sub-proof locally; the driver folds ONLY the
O(≤256) sub-trie roots (`graft_subtries`, a canonical merge
property-tested byte-exact vs the single build) and broadcasts the
≤256 per-prefix top chains back for proof assembly — NO
|accounts|-sized collect anywhere in the capture path. Verification is
embarrassingly parallel: one account row per task batch, no shuffle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from euclid_spark import artifacts
from euclid_spark.cache import persist_tracked, scope
from euclid_spark.functions.keccak import keccak256
from euclid_spark.functions.rlp import (
    build_tries_batch,
    graft_subtries,
    hp_decode,
    rlp_decode,
    rlp_encode,
    to_nibbles,
)

MAPPING_SLOT = 1  # the demo mapping's storage slot (matches euclid.py)
CODE_HASH = keccak256(b"")  # EOA/no-code account


def _int_be(n: int) -> bytes:
    """Minimal big-endian quantity (the RLP integer form; 0 → b'')."""
    return b"" if n == 0 else n.to_bytes((n.bit_length() + 7) // 8, "big")


def _hex0x(b: bytes) -> str:
    return "0x" + b.hex()


def _unhex(s: str) -> bytes:
    return bytes.fromhex(s[2:] if s.startswith("0x") else s)


def storage_location(token_id: int) -> bytes:
    """keccak(key32 ‖ slot32) — the mapping-entry storage location
    (mrp2-utils/src/storage_key.rs semantics, public solidity layout)."""
    return keccak256(
        token_id.to_bytes(32, "big") + MAPPING_SLOT.to_bytes(32, "big")
    )


def account_address(user_id: int) -> bytes:
    """Deterministic 20-byte test address for a capture identity."""
    return keccak256(b"addr:" + user_id.to_bytes(8, "big"))[-20:]


# ------------------------------------------------------- proof kernels ---


def extract_proof(
    root: bytes, path: "list[int]", nodes: "dict[bytes, bytes]"
) -> "list[bytes]":
    """The eth_getProof node list for `path`: every HASH-REFERENCED node
    on the walk root→leaf, in order (embedded <32-byte nodes ride
    inside their parents, exactly as the RPC emits them)."""
    proof: "list[bytes]" = []
    ref: "bytes | list" = root
    pos = 0
    while True:
        if isinstance(ref, (bytes, bytearray)) and len(ref) == 32:
            enc = nodes[bytes(ref)]
            proof.append(enc)
            item = rlp_decode(enc)
        else:
            item = ref
        if not isinstance(item, list):
            return proof
        if len(item) == 17:
            if pos == len(path):
                return proof
            ref = item[path[pos]]
            pos += 1
            if ref == b"":
                return proof  # absent key: proof of exclusion
        else:
            nib, is_leaf = hp_decode(item[0])
            if path[pos : pos + len(nib)] != nib:
                return proof
            pos += len(nib)
            if is_leaf:
                return proof
            ref = item[1]


def verify_proof(
    root: bytes,
    path: "list[int]",
    proof: "list[bytes]",
    digests: "dict[bytes, bytes] | None" = None,
) -> "tuple[bool, bytes]":
    """Verify an eth_getProof node list: the first node must keccak to
    the published root, every descent must follow the hash chain (or an
    embedded structure), and the path must terminate at a value.
    Returns (ok, value_rlp_payload). Restated from the public spec —
    the verifier trusts nothing but the root. `digests` optionally
    supplies precomputed node→keccak digests (the batch verifier hashes
    every node of an Arrow batch in ONE vectorized keccak-f pass and
    passes them in; per-node scalar keccak was 5.1 s vs 0.9 s warm at
    sf0.1's 1500 accounts)."""
    if digests is None:
        by_hash = {keccak256(n): bytes(n) for n in proof}
    else:
        by_hash = {digests[bytes(n)]: bytes(n) for n in proof}

    def walk(ref: "bytes | list", pos: int) -> "tuple[bool, bytes]":
        if isinstance(ref, (bytes, bytearray)) and len(ref) == 32:
            enc = by_hash.get(bytes(ref))
            if enc is None:
                return False, b""
            item = rlp_decode(enc)
        else:
            item = ref
        if not isinstance(item, list):
            return False, b""
        if len(item) == 17:
            if pos == len(path):
                # an empty 17th slot is ABSENCE, not an empty value —
                # without this check an exclusion proof would read as
                # inclusion-with-empty-value at the kernel level
                return (
                    isinstance(item[16], bytes) and item[16] != b""
                ), item[16]
            child = item[path[pos]]
            if child == b"":
                return False, b""
            return walk(child, pos + 1)
        if len(item) == 2:
            try:
                nib, is_leaf = hp_decode(item[0])
            except Exception:  # noqa: BLE001 — malformed path byte
                return False, b""
            if path[pos : pos + len(nib)] != nib:
                return False, b""
            pos += len(nib)
            if is_leaf:
                return (
                    pos == len(path)
                    and isinstance(item[1], bytes)
                    and item[1] != b""  # tries never store empty values
                ), item[1]
            return walk(item[1], pos)
        return False, b""

    return walk(root, 0)


def verify_absence(
    root: bytes,
    path: "list[int]",
    proof: "list[bytes]",
    digests: "dict[bytes, bytes] | None" = None,
) -> bool:
    """True iff `proof` hash-chains from `root` and shows `path`
    ABSENT. This is the real eth_getProof semantic for value 0x0: zero
    is never stored in a trie, so the RPC answers a zero/absent slot
    with an EXCLUSION proof — the node list down to the point where the
    walk either hits an empty branch child or diverges from a
    leaf/extension path. A truncated chain (a referenced node missing
    from the list) is NOT absence: you cannot claim exclusion without
    showing the node that excludes."""
    from euclid_spark.functions.rlp import EMPTY_ROOT

    if root == EMPTY_ROOT:
        return True  # the empty trie excludes every key
    if digests is None:
        by_hash = {keccak256(n): bytes(n) for n in proof}
    else:
        by_hash = {digests[bytes(n)]: bytes(n) for n in proof}

    def walk(ref: "bytes | list", pos: int) -> bool:
        if isinstance(ref, (bytes, bytearray)) and len(ref) == 32:
            enc = by_hash.get(bytes(ref))
            if enc is None:
                return False  # broken/withheld chain, not absence
            item = rlp_decode(enc)
        else:
            item = ref
        if not isinstance(item, list):
            return False
        if len(item) == 17:
            if pos == len(path):
                return not (
                    isinstance(item[16], bytes) and item[16] != b""
                )
            child = item[path[pos]]
            if child == b"":
                return True  # empty branch slot: key provably absent
            return walk(child, pos + 1)
        if len(item) == 2:
            try:
                nib, is_leaf = hp_decode(item[0])
            except Exception:  # noqa: BLE001 — malformed path byte
                return False
            if path[pos : pos + len(nib)] != nib:
                return True  # path diverges here: key provably absent
            pos += len(nib)
            if is_leaf:
                # exact leaf reached: present unless the slot is empty
                return pos != len(path) or not (
                    isinstance(item[1], bytes) and item[1] != b""
                )
            return walk(item[1], pos)
        return False

    try:
        return walk(root, 0)
    except Exception:  # noqa: BLE001 — malformed untrusted bytes
        return False


# ---------------------------------------------------- fixture (capture) ---

_FIXTURE_SCHEMA = (
    "user_id long, address string, nonce string, balance string, "
    "storageHash string, accountProof array<string>, "
    "storage_keys array<string>, storage_values array<string>, "
    "storage_proofs array<array<string>>, stateRoot string"
)

_STAGE1_SCHEMA = (
    "user_id long, prefix int, nonce long, balance long, "
    "storage_root binary, storage_keys array<string>, "
    "storage_values array<string>, storage_proofs array<array<string>>"
)

_STAGE2_SCHEMA = (
    "prefix int, user_id long, address string, nonce string, "
    "balance string, storageHash string, sub_proof array<string>, "
    "storage_keys array<string>, storage_values array<string>, "
    "storage_proofs array<array<string>>"
)


ETH_PROOF_FIXTURE = artifacts.Artifact(
    "eth_proof_fixture",
    "events",
    dict(
        op="eth_proof_fixture",
        slot=MAPPING_SLOT,
        v=3,  # v3: rebalanced (size-proportional) layout
    ),
)


def eth_proof_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus snapshot as eth_getProof responses (one row per
    account), served as a fingerprint-keyed artifact. `user_id` is a
    CAPTURE-MANIFEST sidecar (which test identity produced the
    address) — verification never reads it; the oracle uses it to join
    expectations."""
    path = ETH_PROOF_FIXTURE.path(sf_dir)

    def build() -> DataFrame:
        from euclid_spark.catalog import load_events

        tok = F.get_json_object("props", "$.k").cast("long")
        ev = (
            load_events(spark, sf_dir)
            .filter(F.col("event_type") == "purchase")
            .select(F.col("user_id"), tok.alias("token_id"))
            .filter(F.col("token_id").isNotNull())
            .distinct()
            .repartition("user_id")
        )

        def stage1(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from euclid_spark.functions.keccak import keccak256_batch

            parts = list(batches)
            if not parts:
                return
            pdf = pd.concat(parts, ignore_index=True)
            if pdf.empty:
                return
            owners, toks = [], []
            for uid, grp in pdf.groupby("user_id"):
                owners.append(int(uid))
                toks.append(sorted(int(t) for t in grp["token_id"]))
            # ALL keccaks for the partition in three vectorized batch
            # calls (r12: the single-call sponge is ~1.1 ms/hash in
            # Python vs ~20 µs batched — per-token singles dominated
            # the capture wall): location = keccak(key32 ‖ slot32),
            # path = keccak(location), prefix = keccak(address)[0]
            slot32 = MAPPING_SLOT.to_bytes(32, "big")
            flat = [t for ts in toks for t in ts]
            locs_flat = keccak256_batch(
                [t.to_bytes(32, "big") + slot32 for t in flat]
            )
            paths_flat = keccak256_batch(locs_flat)
            addr_hashes = keccak256_batch(
                [b"addr:" + u.to_bytes(8, "big") for u in owners]
            )
            prefixes = keccak256_batch([h[-20:] for h in addr_hashes])
            dicts, locs_per, paths_per = [], [], []
            i = 0
            for ts in toks:
                locs = locs_flat[i : i + len(ts)]
                paths = paths_flat[i : i + len(ts)]
                i += len(ts)
                locs_per.append(locs)
                paths_per.append(paths)
                dicts.append(
                    {
                        p: rlp_encode(_int_be(t))
                        for p, t in zip(paths, ts)
                    }
                )
            rows: "dict[str, list]" = {
                k: []
                for k in (
                    "user_id", "prefix", "nonce", "balance", "storage_root",
                    "storage_keys", "storage_values", "storage_proofs",
                )
            }
            for uid, ts, pref, locs, paths, (root, nodes) in zip(
                owners, toks, prefixes, locs_per, paths_per,
                build_tries_batch(dicts),
            ):
                rows["user_id"].append(uid)
                rows["prefix"].append(pref[0])
                rows["nonce"].append(len(ts))
                rows["balance"].append(sum(ts))
                rows["storage_root"].append(root)
                rows["storage_keys"].append([_hex0x(l) for l in locs])
                rows["storage_values"].append([_hex0x(_int_be(t)) for t in ts])
                rows["storage_proofs"].append(
                    [
                        [
                            _hex0x(n)
                            for n in extract_proof(
                                root, to_nibbles(p), nodes
                            )
                        ]
                        for p in paths
                    ]
                )
            yield pd.DataFrame(rows)

        accounts = ev.mapInPandas(stage1, _STAGE1_SCHEMA)

        # state-trie stage, DISTRIBUTED (r12, closing the r11 `weak`):
        # accounts shuffle once on their address-byte prefix; each of the
        # ≤256 groups builds a sub-trie over the 31-byte key suffixes
        # (one level-batched build_tries_batch call per partition, across
        # its groups) and extracts every member's sub-proof locally.
        def stage2(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            parts = list(batches)
            if not parts:
                return
            pdf = pd.concat(parts, ignore_index=True)
            if pdf.empty:
                return
            from euclid_spark.functions.keccak import keccak256_batch

            # address path hashes for the whole partition in two batch
            # calls (r12, same reason as stage1)
            all_uids = [int(u) for u in pdf["user_id"]]
            addr_flat = keccak256_batch(
                [b"addr:" + u.to_bytes(8, "big") for u in all_uids]
            )
            h_flat = keccak256_batch([a[-20:] for a in addr_flat])
            h_by_uid = dict(zip(all_uids, h_flat))
            addr_by_uid = dict(zip(all_uids, addr_flat))
            metas, dicts = [], []
            for pref, grp in pdf.groupby("prefix"):
                hs = [h_by_uid[int(u)] for u in grp["user_id"]]
                entries = {
                    h[1:]: rlp_encode(
                        [
                            _int_be(int(row.nonce)),
                            _int_be(int(row.balance)),
                            bytes(row.storage_root),
                            CODE_HASH,
                        ]
                    )
                    for h, row in zip(hs, grp.itertuples(index=False))
                }
                metas.append((int(pref), grp, hs))
                dicts.append(entries)
            rows: "dict[str, list]" = {
                k: []
                for k in (
                    "prefix", "user_id", "address", "nonce", "balance",
                    "storageHash", "sub_proof", "storage_keys",
                    "storage_values", "storage_proofs",
                )
            }
            for (pref, grp, hs), (root, nodes) in zip(
                metas, build_tries_batch(dicts)
            ):
                for h, row in zip(hs, grp.itertuples(index=False)):
                    rows["prefix"].append(pref)
                    rows["user_id"].append(int(row.user_id))
                    rows["address"].append(
                        _hex0x(addr_by_uid[int(row.user_id)][-20:])
                    )
                    rows["nonce"].append(_hex0x(_int_be(int(row.nonce))))
                    rows["balance"].append(_hex0x(_int_be(int(row.balance))))
                    rows["storageHash"].append(_hex0x(bytes(row.storage_root)))
                    rows["sub_proof"].append(
                        [
                            _hex0x(n)
                            for n in extract_proof(
                                root, to_nibbles(h[1:]), nodes
                            )
                        ]
                    )
                    rows["storage_keys"].append(list(row.storage_keys))
                    rows["storage_values"].append(list(row.storage_values))
                    rows["storage_proofs"].append(
                        [list(p) for p in row.storage_proofs]
                    )
            yield pd.DataFrame(rows)

        acc2 = persist_tracked(
            accounts.repartition("prefix").mapInPandas(stage2, _STAGE2_SCHEMA)
        )
        # BOUNDED driver fold: one row per non-empty prefix (≤256,
        # independent of |accounts|) — every group's sub-root encoding
        # is sub_proof[0] of each of its members (roots are stored by
        # hash, so extraction always emits the root first)
        pref_rows = (
            acc2.groupBy("prefix")
            .agg(F.first(F.element_at("sub_proof", 1)).alias("sub_root"))
            .collect()
        )
        state_root, per_prefix = graft_subtries(
            [
                (to_nibbles(bytes([r["prefix"]])), _unhex(r["sub_root"]))
                for r in pref_rows
            ]
        )
        chain_df = spark.createDataFrame(
            [
                (p[0] * 16 + p[1], [_hex0x(c) for c in chain],
                 _hex0x(repl) if repl is not None else None)
                for p, (chain, repl) in per_prefix.items()
            ],
            "prefix int, chain array<string>, repl string",
        )
        # assembled proof = top chain + (re-pathed sub-root | reused
        # executor encoding) + the rest of the local sub-proof.
        # REBALANCE on the write (guide §6): the upstream prefix shuffle
        # leaves shuffle.partitions-many part files regardless of size
        # (32 tiny files at the local SFs), and the verify face runs
        # mapInPandas straight over the scan — one Python worker init
        # per file (~0.3 s each after Spark's 60 s idle reaping), which
        # dominated the face's first/warm-after-idle wall. AQE sizes the
        # output to advisoryPartitionSizeInBytes instead, so file count
        # tracks data volume at every scale (1 file locally, ~64 MB
        # files at cluster scale) — a build-once cost the serve path
        # never re-pays.
        return (
            acc2.join(F.broadcast(chain_df), "prefix")
            .hint("rebalance")
            .withColumn(
                "accountProof",
                F.concat(
                    F.col("chain"),
                    F.when(F.col("repl").isNull(), F.col("sub_proof"))
                    .otherwise(
                        F.concat(
                            F.array("repl"),
                            F.expr(
                                "slice(sub_proof, 2, "
                                "greatest(size(sub_proof) - 1, 0))"
                            ),
                        )
                    ),
                ),
            )
            .select(
                "user_id", "address", "nonce", "balance", "storageHash",
                "accountProof", "storage_keys", "storage_values",
                "storage_proofs",
                F.lit(_hex0x(state_root)).alias("stateRoot"),
            )
        )

    with scope():  # the build's pins go once serve_frame has written
        out = artifacts.serve_frame(spark, path, build)
    artifacts.publish_manifest(
        path, "eth_state", [f"{sf_dir}/events.parquet"],
        {k: v for k, v in ETH_PROOF_FIXTURE.params.items() if k != "op"},
    )
    return out


def _q_int(s: str) -> int:
    """Parse an RPC QUANTITY ("0x0", "0x1b3" — minimal hex, possibly
    odd-length; never left-padded)."""
    return int(s, 16)


def _q_hex(s: str) -> str:
    """QUANTITY → this capture's canonical minimal-bytes hex ("0x" for
    zero, even-length otherwise)."""
    return _hex0x(_int_be(_q_int(s)))


def eth_proof_from_json(spark: SparkSession, json_path: str) -> DataFrame:
    """Load a RECORDED eth_getProof ingestion — the two RPC calls a
    real ingester makes, saved as wire JSON — into the capture schema.

    Expected document shape (exactly what the public JSON-RPC API
    returns; mrp2-test-utils/src/eth.rs is the reference's own
    recorded-fixture pattern):

      {"block":  <eth_getBlockByNumber result> — supplies "stateRoot"
                 (eth_getProof itself does not carry it),
       "proofs": [<eth_getProof envelope or bare result>, ...]}

    Wire quirks normalized here so NOTHING downstream changes (the
    batch verifier and the standalone tool consume the result as-is):
    EIP-55 mixed-case addresses → lowercase; QUANTITY fields (nonce,
    balance, storage values: "0x0", odd-length minimal hex) → the
    capture's even-length minimal-bytes hex; storage keys echoed
    unpadded by the node ("0x1") → the 32-byte left-padded slot key
    whose keccak is the trie path. `user_id` is the capture-manifest
    sidecar; a real recording carries no test identity, so it is the
    record's position in the file."""
    import json as _json

    with open(json_path) as f:
        doc = _json.load(f)
    state_root = doc["block"]["stateRoot"].lower()
    out = []
    for i, env in enumerate(doc["proofs"]):
        r = env.get("result", env)
        out.append(
            {
                "user_id": i,
                "address": r["address"].lower(),
                "nonce": _q_hex(r["nonce"]),
                "balance": _q_hex(r["balance"]),
                "storageHash": r["storageHash"].lower(),
                "accountProof": [p.lower() for p in r["accountProof"]],
                "storage_keys": [
                    _hex0x(_q_int(sp["key"]).to_bytes(32, "big"))
                    for sp in r.get("storageProof", [])
                ],
                "storage_values": [
                    _q_hex(sp["value"]) for sp in r.get("storageProof", [])
                ],
                "storage_proofs": [
                    [p.lower() for p in sp["proof"]]
                    for sp in r.get("storageProof", [])
                ],
                "stateRoot": state_root,
            }
        )
    return spark.createDataFrame(out, _FIXTURE_SCHEMA)


_STATE_SCHEMA = (
    "address string, nonce long, balance long, storage_root string"
)


def account_state_rows(pairs: DataFrame) -> DataFrame:
    """Per-owner account state + SECURE storage-trie root from a
    distinct (user_id, token_id) frame — the commitment derivation the
    batch capture and the streamed D30 face share. Owner-partitioned;
    tries build level-batched across the owners of each partition
    (one vectorized keccak pass per trie level)."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        if pdf.empty:
            return
        from euclid_spark.functions.keccak import keccak256_batch

        owners, toks = [], []
        for uid, grp in pdf.groupby("user_id"):
            owners.append(int(uid))
            toks.append(sorted(int(t) for t in grp["token_id"]))
        # batched keccaks (r12, the stage1 rationale): storage paths
        # and account addresses in three vectorized calls
        slot32 = MAPPING_SLOT.to_bytes(32, "big")
        flat = [t for ts in toks for t in ts]
        paths_flat = keccak256_batch(
            keccak256_batch([t.to_bytes(32, "big") + slot32 for t in flat])
        )
        addrs = keccak256_batch(
            [b"addr:" + u.to_bytes(8, "big") for u in owners]
        )
        dicts, i = [], 0
        for ts in toks:
            dicts.append(
                {
                    p: rlp_encode(_int_be(t))
                    for p, t in zip(paths_flat[i : i + len(ts)], ts)
                }
            )
            i += len(ts)
        rows: "dict[str, list]" = {
            k: [] for k in ("address", "nonce", "balance", "storage_root")
        }
        for addr, ts, (root, _) in zip(
            addrs, toks, build_tries_batch(dicts)
        ):
            rows["address"].append(_hex0x(addr[-20:]))
            rows["nonce"].append(len(ts))
            rows["balance"].append(sum(ts))
            rows["storage_root"].append(_hex0x(root))
        yield pd.DataFrame(rows)

    return pairs.repartition("user_id").mapInPandas(build, _STATE_SCHEMA)


# ----------------------------------------------------------- verifier ---

_VERIFY_SCHEMA = (
    "address string, nonce long, balance long, n_storage int, "
    "storage_sum long, account_ok boolean, storage_ok boolean, "
    "valid boolean"
)


def _verify_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from euclid_spark.functions.keccak import keccak256_batch

    for pdf in it:
        # ONE vectorized keccak-f pass over every blob the batch needs
        # hashed (addresses, storage keys, all proof nodes) — the numpy
        # pass has ~4 ms fixed overhead, so batching across the whole
        # Arrow batch is what amortizes it (the build side's
        # build_tries_batch story, applied to verification)
        blobs: "list[bytes]" = []
        for r in pdf.itertuples(index=False):
            blobs.append(_unhex(r.address))
            blobs.extend(_unhex(p) for p in r.accountProof)
            for key_hex, sproof in zip(r.storage_keys, r.storage_proofs):
                blobs.append(_unhex(key_hex))
                blobs.extend(_unhex(p) for p in sproof)
        digests = (
            dict(zip(blobs, keccak256_batch(blobs))) if blobs else {}
        )
        rows: "dict[str, list]" = {
            k: []
            for k in (
                "address", "nonce", "balance", "n_storage", "storage_sum",
                "account_ok", "storage_ok", "valid",
            )
        }
        for r in pdf.itertuples(index=False):
            state_root = _unhex(r.stateRoot)
            addr = _unhex(r.address)
            proof = [_unhex(p) for p in r.accountProof]
            ok, body = verify_proof(
                state_root, to_nibbles(digests[addr]), proof, digests
            )
            nonce = balance = 0
            sroot = b""
            account_ok = False
            if ok:
                try:
                    fields = rlp_decode(body)
                    nonce = int.from_bytes(fields[0], "big")
                    balance = int.from_bytes(fields[1], "big")
                    sroot = bytes(fields[2])
                    account_ok = (
                        bytes(fields[3]) == CODE_HASH
                        and sroot == _unhex(r.storageHash)
                        and nonce == int.from_bytes(_unhex(r.nonce), "big")
                        and balance == int.from_bytes(_unhex(r.balance), "big")
                    )
                except Exception:  # noqa: BLE001 — malformed account body
                    account_ok = False
            n_storage = 0
            storage_sum = 0
            storage_ok = account_ok
            for key_hex, val_hex, sproof in zip(
                r.storage_keys, r.storage_values, r.storage_proofs
            ):
                want = _unhex(val_hex)
                path = to_nibbles(digests[_unhex(key_hex)])
                nodes = [_unhex(p) for p in sproof]
                sk, sv = verify_proof(sroot, path, nodes, digests)
                if sk and sv == rlp_encode(want):
                    n_storage += 1
                    storage_sum += int.from_bytes(rlp_decode(sv), "big")
                    continue
                # real RPC semantics for value 0x0: zero is never stored,
                # the proof is an EXCLUSION proof (geth answers absent
                # and zero-valued slots identically)
                if want == b"" and verify_absence(
                    sroot, path, nodes, digests
                ):
                    continue
                storage_ok = False
            rows["address"].append(r.address)
            rows["nonce"].append(nonce)
            rows["balance"].append(balance)
            rows["n_storage"].append(n_storage)
            rows["storage_sum"].append(storage_sum)
            rows["account_ok"].append(account_ok)
            rows["storage_ok"].append(storage_ok)
            rows["valid"].append(account_ok and storage_ok)
        yield pd.DataFrame(rows)


def eth_proof_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D30/A34 — VERIFY the captured eth_getProof snapshot: per account,
    keccak-walk the account proof from the published state root, decode
    the yellow-paper body, check claimed fields, then prove every
    storage slot against the account's own storage root. Output values
    come FROM THE PROOFS (decoded), never from the claims — the oracle
    re-derives them relationally from raw events, so the gate binds the
    whole trie-build → capture → verify chain."""
    fixture = eth_proof_fixture(spark, sf_dir)
    return fixture.mapInPandas(_verify_batches, _VERIFY_SCHEMA)


def _oracle_eth_proof_verify(sf_dir: str) -> str:
    """The relational expectation: per capture identity, nonce = its
    distinct in-corpus mapping-key count, balance = storage_sum = the
    sum of those keys; every verdict TRUE. The fixture artifact supplies
    only the address↔identity manifest (the sidecar column)."""
    path = ETH_PROOF_FIXTURE.path(sf_dir)
    tok = "CAST(json_extract_string(props, '$.k') AS BIGINT)"
    return f"""
        WITH d AS (
            SELECT DISTINCT user_id, {tok} AS token_id
            FROM events
            WHERE event_type = 'purchase' AND {tok} IS NOT NULL
        ),
        per AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS nonce,
                   CAST(SUM(token_id) AS BIGINT) AS balance,
                   CAST(COUNT(*) AS INTEGER) AS n_storage,
                   CAST(SUM(token_id) AS BIGINT) AS storage_sum
            FROM d GROUP BY user_id
        ),
        fx AS (
            SELECT user_id, address
            FROM read_parquet('{path}/*.parquet')
        )
        SELECT fx.address, per.nonce, per.balance, per.n_storage,
               per.storage_sum,
               TRUE AS account_ok, TRUE AS storage_ok, TRUE AS valid
        FROM per JOIN fx USING (user_id)
    """


QUERIES = {"euclid_eth_proof_verify": eth_proof_verify}
ORACLES: "dict[str, str]" = {}
DYNAMIC_ORACLES = {"euclid_eth_proof_verify": _oracle_eth_proof_verify}
