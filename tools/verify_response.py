#!/usr/bin/env python
"""Standalone verifier for PUBLISHED query responses — no Spark import.

The reference ships its verifier as a standalone consumer component
(groth16-framework/src/verifier/, src/evm/executor.rs): anyone holding a
published response can check it WITHOUT the prover's stack. This tool is
that analog for the engine's published response artifacts: pure
Python + DuckDB over the served parquet
(.artifacts/q2_response_*.parquet / erc20_response_*.parquet), verifying

  1. leaf_ok    — each revealed row's leaf hash re-derives from its
                  claimed payload (token_id for q2;
                  event_id:entry_reward_hex for erc20),
  2. root_ok    — the opening path refolds from the leaf to the claimed
                  commitment root (side-tagged sha256 chain),
  3. binding_ok — the response's public inputs (min_block, max_block,
                  range_digest, and rewards_rate for erc20) match an
                  independent recompute over the raw events table.

INDEPENDENCE IS THE POINT: this file restates the response spec
(hash encodings, path wire format, provenance digest) from scratch
instead of importing euclid_spark — a verifier that shares the prover's
code would inherit the prover's bugs. The spec constants below are the
published query parameters a consumer knows because they asked the
query (the reference's public inputs, query2/revelation/public_inputs.rs).

It also verifies the ARBITRARY-RANGE responses (A30-A33,
.artifacts/rr_q2_response_*.parquet / rr_erc20_response_*.parquet):

  1. leaf_ok    — the revealed payload re-hashes to its leaf,
  2. elem_ok    — the opening path refolds leaf → its element AND the
                  element sits at its claimed index in the published
                  element list,
  3. root_ok    — the response root re-chains from the header that
                  binds the public inputs (b_min, b_max, owner, rate)
                  through the element list,
  4. binding_ok — the root equals an INDEPENDENT pure-Python recompute
                  from the raw events table for the response's own
                  claimed parameters: canonical tile cover, in-cell
                  Merkle trees, promotion cell tree, edge leaves,
                  header-bound fold — the full spec restated here.

Usage:
  python tools/verify_response.py <sf_dir> [--artifacts DIR]
          [--response PATH --kind q2|erc20|q2_range|erc20_range]
(--artifacts defaults to $EUCLID_SPARK_ARTIFACTS, else <repo>/.artifacts)
Exit 0 iff every revealed row of every checked response verifies.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

import duckdb

# ---- published query parameters (the public inputs) -------------------
T_MIN, T_MAX = "2024-01-05", "2024-01-25"  # queried block-range window
REWARDS_RATE = 7                           # erc20 rewards-rate input
DIGEST_PRIME = 1_000_000_007               # range-digest modulus
MIX = 2_654_435_761                        # range-digest row mix

_RANGE = f"ts >= TIMESTAMP '{T_MIN}' AND ts < TIMESTAMP '{T_MAX}'"

# provenance recompute over the raw corpus (events parquet): the block
# range actually covered + additive digest of the scanned rows
_PROV_SQL = f"""
    SELECT MIN(event_id) AS min_block, MAX(event_id) AS max_block,
           CAST(SUM((event_id * {MIX} + user_id * 97) % {DIGEST_PRIME})
                % {DIGEST_PRIME} AS BIGINT) AS range_digest
    FROM read_parquet('{{events}}') WHERE {_RANGE}
"""

# refold a leaf hash along its serialized opening path
# ("<level><side>:<hex>/..." levels ascending; side R = sibling on the
# right, L = left; empty path = single-leaf group, leaf IS the root)
_REFOLD = """list_reduce(
    list_prepend(r.leaf_hash,
                 list_filter(str_split(r.path, '/'), s -> s <> '')),
    (acc, s) -> CASE WHEN right(split_part(s, ':', 1), 1) = 'R'
                     THEN sha256(acc || split_part(s, ':', 2))
                     ELSE sha256(split_part(s, ':', 2) || acc) END)"""

_LEAF_ENCODING = {
    # q2 leaves commit the revealed mapping key
    "q2": "sha256(r.token_id::VARCHAR)",
    # erc20 leaves commit (entry, per-entry reward) — the computation trace
    "erc20": "sha256(r.event_id::VARCHAR || ':' || r.entry_reward_hex)",
}

_ID_COL = {"q2": "token_id", "erc20": "event_id"}

# ---- range-response spec (A30-A33 public parameters) -------------------
TILE_SIZE = 256                 # blocks per level-0 commitment cell
CONTRACT = "purchase"           # contract-address analog (event_type)
MAPPING_SLOT = 1                # the demo mapping's storage slot
# the mapping-key extraction the query was asked with
_TOKEN_SQL = "CAST(json_extract_string(props, '$.k') AS BIGINT)"


def _discover(artifacts_dir: str, sf_dir: str) -> list[tuple[str, str]]:
    """This corpus's published responses via the prover's MANIFESTS
    (`<name>_<fp>.manifest.json`, written at publish time next to each
    artifact). The manifest is the discovery contract: it carries the
    family, the query params, and the SOURCE-FILE IDENTITY
    (size, mtime_ns) of the corpus the response was published from —
    so this tool never re-derives the prover's fingerprint scheme
    (the r10 drift class: a prover-side keying change silently
    un-verified the ERC-20 response). Selection here is:

      - family is one of the four response kinds,
      - the manifest's recorded identity of {sf_dir}/events.parquet
        matches a plain os.stat of the file NOW (responses published
        from OTHER corpus versions are skipped — their binding check
        would fail by construction, which is the verifier doing its
        job but not what the default all-good/exit-0 contract should
        rest on),
      - the manifest's params match the published query parameters
        this verifier was asked to check (contract, rate, tile) —
        responses for other parameterizations are someone else's.
    """
    # realpath on BOTH sides (publish_manifest records realpath keys):
    # a relative sf_dir, trailing slash, or symlinked mount must not
    # yield zero targets just because the path STRING differs from the
    # one the prover used
    ev = os.path.realpath(os.path.join(sf_dir, "events.parquet"))
    st = os.stat(ev)
    cur = {"size": st.st_size, "mtime_ns": st.st_mtime_ns}
    out: list[tuple[str, str]] = []
    for mp in sorted(glob.glob(os.path.join(artifacts_dir, "*.manifest.json"))):
        try:
            with open(mp) as f:
                m = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        fam = m.get("family")
        if fam not in (
            "q2", "erc20", "q2_range", "erc20_range", "eth_state"
        ):
            continue
        src = next(
            (
                v
                for k, v in (m.get("sources") or {}).items()
                if os.path.realpath(k) == ev
            ),
            None,
        )
        if src != cur:
            continue  # published from another corpus version
        p = m.get("params") or {}
        if p.get("contract", CONTRACT) != CONTRACT:
            continue
        if fam.startswith("erc20") and p.get("rate", REWARDS_RATE) != REWARDS_RATE:
            continue
        if fam.endswith("_range") and p.get("tile", TILE_SIZE) != TILE_SIZE:
            continue
        if fam == "eth_state" and p.get("slot", MAPPING_SLOT) != MAPPING_SLOT:
            continue
        path = os.path.join(artifacts_dir, m.get("path", ""))
        if os.path.isdir(path):
            out.append((path, fam))
    return out


def verify(response_path: str, kind: str, events_path: str) -> dict:
    """Verify one published response parquet; returns the verdict dict."""
    if kind not in _LEAF_ENCODING:
        raise SystemExit(f"unknown response kind {kind!r} (q2|erc20)")
    binding = [
        "r.min_block = p.min_block",
        "r.max_block = p.max_block",
        "r.range_digest = p.range_digest",
    ]
    if kind == "erc20":
        binding.append(f"r.rewards_rate = {REWARDS_RATE}")
    idc = _ID_COL[kind]
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT {idc}, leaf_ok, root_ok, binding_ok,
               (leaf_ok AND root_ok AND binding_ok) AS valid
        FROM (
          SELECT r.{idc},
                 ({_LEAF_ENCODING[kind]} = r.leaf_hash) AS leaf_ok,
                 ({_REFOLD} = r.root) AS root_ok,
                 ({' AND '.join(binding)}) AS binding_ok
          FROM read_parquet('{response_path}/*.parquet') r
          CROSS JOIN ({_PROV_SQL.format(events=events_path)}) p
        )
        ORDER BY {idc}
        """
    ).fetchall()
    n = len(rows)
    fails = {
        "leaf_ok": [r[0] for r in rows if not r[1]],
        "root_ok": [r[0] for r in rows if not r[2]],
        "binding_ok": [r[0] for r in rows if not r[3]],
    }
    return {
        "response": response_path,
        "kind": kind,
        "rows": n,
        "valid_rows": sum(1 for r in rows if r[4]),
        "failed": {k: v[:5] for k, v in fails.items() if v},
        "verdict": "VALID"
        if n > 0 and all(r[4] for r in rows)
        else ("EMPTY" if n == 0 else "INVALID"),
    }


# ---- range responses: independent from-raw-rows root recompute ---------


def _sha(s: str) -> str:
    import hashlib

    return hashlib.sha256(s.encode()).hexdigest()


def _tile_cover_spec(b_min: int, b_max: int, max_level: int):
    """Canonical segment-tree decomposition of [b_min, b_max) over
    TILE_SIZE-block cells — restated from the published query spec:
    (tiles, edges); tiles = [(level, cell)] ≤ 2/level, edges =
    < TILE_SIZE-wide [lo, hi) block ranges at the two ends."""
    s = TILE_SIZE
    lo_cell = -(-b_min // s)
    hi_cell = b_max // s
    if lo_cell >= hi_cell:
        return [], ([(b_min, b_max)] if b_min < b_max else [])
    edges = []
    if b_min < lo_cell * s:
        edges.append((b_min, lo_cell * s))
    if hi_cell * s < b_max:
        edges.append((hi_cell * s, b_max))
    tiles, lo = [], lo_cell
    while lo < hi_cell:
        align = (lo & -lo).bit_length() - 1 if lo > 0 else max_level
        fit = (hi_cell - lo).bit_length() - 1
        k = min(align, fit, max_level)
        tiles.append((k, lo >> k))
        lo += 1 << k
    return tiles, edges


def _pair_up(hashes: "list[str]") -> str:
    """Root of a promotion Merkle tree over an ordered leaf list: pair
    (2i, 2i+1) with sha256 over hex-string concat; a lone last node
    promotes unchanged."""
    cur = list(hashes)
    while len(cur) > 1:
        cur = [
            _sha(cur[i] + cur[i + 1]) if i + 1 < len(cur) else cur[i]
            for i in range(0, len(cur), 2)
        ]
    return cur[0]


def _cell_tree(level0: "dict[int, str]", depth: int):
    """All (level, pos) → hash nodes of the promotion tree over sparse
    cell roots (pos at level k = cell >> k; absent sibling promotes)."""
    nodes = {(0, p): h for p, h in level0.items()}
    cur = dict(level0)
    for k in range(1, depth + 1):
        nxt = {}
        for p in sorted({q // 2 for q in cur}):
            l, r = cur.get(2 * p), cur.get(2 * p + 1)
            nxt[p] = _sha(l + r) if l is not None and r is not None else (l or r)
        nodes.update({(k, p): h for p, h in nxt.items()})
        cur = nxt
    return nodes


def _erc20_entry_hex(event_id: int, value, tok, rate: int) -> str:
    """The leaf circuit's per-entry reward, restated: fixed-point
    (⌊value·10⁴⌋·2⁶⁴ + event_id)·rate ÷ token, 64 hex digits.
    (NULL-balance entries never reach here — they don't qualify.)"""
    import math

    if tok is None or tok == 0:
        return "0" * 64
    scaled = math.floor(value * 10000)
    return format((scaled * (1 << 64) + event_id) * rate // int(tok), "064x")


def _recompute_range_root(
    events_path: str,
    family: str,
    owner: int,
    b_min: int,
    b_max: int,
    rate: "int | None",
) -> str:
    """Re-derive the response root for (owner, [b_min, b_max)) from the
    RAW events table: family-qualifying entries → per-cell leaf trees →
    promotion cell tree → canonical cover tiles + edge leaves in block
    order → header-bound sha256 chain. Pure Python + one DuckDB scan;
    shares no code with the prover."""
    import math

    con = duckdb.connect()
    qual = f"event_type = '{CONTRACT}'" + (
        f" AND {_TOKEN_SQL} IS NOT NULL"
        if family == "q2"
        else " AND value IS NOT NULL"  # NULL balance: not an entry
    )
    mb_q = con.execute(
        f"SELECT MAX(event_id) FROM read_parquet('{events_path}') "
        f"WHERE {qual}"
    ).fetchone()[0]
    n_cells = (int(mb_q or 0) // TILE_SIZE) + 1
    depth = max(1, math.ceil(math.log2(n_cells))) if n_cells > 1 else 1
    cover, edges = _tile_cover_spec(b_min, b_max, depth)

    # the owner's qualifying entries, block order
    if family == "q2":
        rows = con.execute(
            f"SELECT DISTINCT {_TOKEN_SQL} AS t, event_id // {TILE_SIZE} "
            f"FROM read_parquet('{events_path}') "
            f"WHERE {qual} AND user_id = {owner}"
        ).fetchall()
        # per cell: distinct keys in key order; leaf = sha256(token)
        cells: "dict[int, list]" = {}
        for t, cell in rows:
            cells.setdefault(int(cell), []).append(int(t))
        level0 = {
            c: _pair_up([_sha(str(t)) for t in sorted(ts)])
            for c, ts in cells.items()
        }
    else:
        rows = con.execute(
            f"SELECT event_id, value, {_TOKEN_SQL} AS tok "
            f"FROM read_parquet('{events_path}') "
            f"WHERE {qual} AND user_id = {owner} ORDER BY event_id"
        ).fetchall()
        cells = {}
        for eid, value, tok in rows:
            h = _sha(f"{int(eid)}:{_erc20_entry_hex(int(eid), value, tok, rate)}")
            cells.setdefault(int(eid) // TILE_SIZE, []).append((int(eid), h))
        level0 = {
            c: _pair_up([h for _, h in sorted(es)]) for c, es in cells.items()
        }
    nodes = _cell_tree(level0, depth)

    # element sequence: edge leaves + occupied cover-tile roots, block order
    elems: "list[tuple[int, str]]" = []
    if edges:
        if family == "q2":
            # a key seen in both edges contributes ONE element, at its
            # first in-edge occurrence
            pred = " OR ".join(
                f"(event_id >= {lo} AND event_id < {hi})" for lo, hi in edges
            )
            er = con.execute(
                f"SELECT {_TOKEN_SQL} AS t, MIN(event_id) "
                f"FROM read_parquet('{events_path}') "
                f"WHERE {qual} AND user_id = {owner} AND ({pred}) GROUP BY 1"
            ).fetchall()
            for t, first_id in er:
                elems.append((int(first_id), _sha(str(int(t)))))
        else:
            for eid, h in sorted(
                (e, h) for lst in cells.values() for e, h in lst
            ):
                if any(lo <= eid < hi for lo, hi in edges):
                    elems.append((eid, h))
    for k, c in cover:
        h = nodes.get((k, c))
        if h is not None:
            elems.append((c * (1 << k) * TILE_SIZE, h))
    elems.sort(key=lambda e: e[0])

    parts = [str(b_min), str(b_max), str(owner)]
    if rate is not None:
        parts.append(str(rate))
    acc = _sha("hdr:" + ":".join(parts))
    for _, h in elems:
        acc = _sha(acc + h)
    return acc


def verify_range(response_path: str, kind: str, events_path: str) -> dict:
    """Verify one published ARBITRARY-RANGE response parquet
    (kind = q2_range | erc20_range)."""
    family = kind.split("_")[0]
    idc = _ID_COL[family]
    con = duckdb.connect()

    # binding: independent recompute per distinct claimed parameter row
    param_cols = "owner, b_min, b_max" + (
        ", rewards_rate" if family == "erc20" else ""
    )
    params = con.execute(
        f"SELECT DISTINCT {param_cols} "
        f"FROM read_parquet('{response_path}/*.parquet')"
    ).fetchall()
    vals = []
    for p in params:
        owner, b_min, b_max = int(p[0]), int(p[1]), int(p[2])
        rate = int(p[3]) if family == "erc20" else None
        root = _recompute_range_root(
            events_path, family, owner, b_min, b_max, rate
        )
        vals.append(f"({owner}, {b_min}, {b_max}, '{root}')")
    exp = (
        "(VALUES " + ", ".join(vals) + ") b(owner, b_min, b_max, exp_root)"
        if vals
        else "(SELECT NULL AS owner, NULL AS b_min, NULL AS b_max, "
        "NULL AS exp_root WHERE FALSE) b"
    )

    hdr = "'hdr:' || r.b_min || ':' || r.b_max || ':' || r.owner" + (
        " || ':' || r.rewards_rate" if family == "erc20" else ""
    )
    rows = con.execute(
        f"""
        SELECT {idc}, leaf_ok, elem_ok, root_ok, binding_ok,
               (leaf_ok AND elem_ok AND root_ok AND binding_ok) AS valid
        FROM (
          SELECT r.{idc},
                 ({_LEAF_ENCODING[family]} = r.leaf_hash) AS leaf_ok,
                 ({_REFOLD} = r.elem_hash
                  AND str_split(r.elements, '/')[r.elem_idx + 1]
                      = r.elem_hash) AS elem_ok,
                 (list_reduce(
                      list_prepend(sha256({hdr}),
                          COALESCE(str_split(NULLIF(r.elements, ''), '/'),
                                   [])),
                      (a, x) -> sha256(a || x)) = r.response_root)
                     AS root_ok,
                 (r.response_root = b.exp_root) AS binding_ok
          FROM read_parquet('{response_path}/*.parquet') r
          LEFT JOIN {exp}
            ON r.owner = b.owner AND r.b_min = b.b_min
           AND r.b_max = b.b_max
        )
        ORDER BY {idc}
        """
    ).fetchall()
    n = len(rows)
    fails = {
        "leaf_ok": [r[0] for r in rows if not r[1]],
        "elem_ok": [r[0] for r in rows if not r[2]],
        "root_ok": [r[0] for r in rows if not r[3]],
        "binding_ok": [r[0] for r in rows if not r[4]],
    }
    return {
        "response": response_path,
        "kind": kind,
        "rows": n,
        "valid_rows": sum(1 for r in rows if r[5]),
        "failed": {k: v[:5] for k, v in fails.items() if v},
        "verdict": "VALID"
        if n > 0 and all(r[5] for r in rows)
        else ("EMPTY" if n == 0 else "INVALID"),
    }



# ------------------------------------------------- eth_getProof capture ---
# The fifth published family: a corpus snapshot in the eth_getProof wire
# shape (sources/eth_proof.py). Verification is PURE consumer logic —
# keccak-256, RLP, hex-prefix paths and the MPT hash chain restated here
# from the PUBLIC Ethereum spec (yellow paper / Keccak reference), never
# imported from the prover: a consumer checking chain proofs brings
# their own keccak.

_KECCAK_RC = [
    0x0000000000000001, 0x0000000000008082, 0x800000000000808A,
    0x8000000080008000, 0x000000000000808B, 0x0000000080000001,
    0x8000000080008081, 0x8000000000008009, 0x000000000000008A,
    0x0000000000000088, 0x0000000080008009, 0x000000008000000A,
    0x000000008000808B, 0x800000000000008B, 0x8000000000008089,
    0x8000000000008003, 0x8000000000008002, 0x8000000000000080,
    0x000000000000800A, 0x800000008000000A, 0x8000000080008081,
    0x8000000000008080, 0x0000000080000001, 0x8000000080008008,
]
_KECCAK_ROT = [
    [0, 36, 3, 41, 18], [1, 44, 10, 45, 2], [62, 6, 43, 15, 61],
    [28, 55, 25, 21, 56], [27, 20, 39, 8, 14],
]
_M64 = (1 << 64) - 1


def _keccak256(data: bytes) -> bytes:
    """Keccak-256 (pre-NIST padding 0x01), restated from the public
    reference permutation; pinned by the well-known empty-input vector
    c5d24601…"""
    rate = 136
    pad = rate - (len(data) % rate)
    msg = data + b"\x01" + b"\x00" * (pad - 2) + b"\x80" if pad >= 2 else (
        data + b"\x81"
    )
    a = [[0] * 5 for _ in range(5)]
    for off in range(0, len(msg), rate):
        block = msg[off : off + rate]
        for i in range(rate // 8):
            x, y = i % 5, i // 5
            a[x][y] ^= int.from_bytes(block[8 * i : 8 * i + 8], "little")
        for rc in _KECCAK_RC:
            c = [a[x][0] ^ a[x][1] ^ a[x][2] ^ a[x][3] ^ a[x][4] for x in range(5)]
            d = [
                c[(x - 1) % 5]
                ^ (((c[(x + 1) % 5] << 1) | (c[(x + 1) % 5] >> 63)) & _M64)
                for x in range(5)
            ]
            for x in range(5):
                for y in range(5):
                    a[x][y] ^= d[x]
            b = [[0] * 5 for _ in range(5)]
            for x in range(5):
                for y in range(5):
                    r = _KECCAK_ROT[x][y]
                    v = a[x][y]
                    b[y][(2 * x + 3 * y) % 5] = ((v << r) | (v >> (64 - r))) & _M64
            for x in range(5):
                for y in range(5):
                    a[x][y] = b[x][y] ^ ((~b[(x + 1) % 5][y] & _M64) & b[(x + 2) % 5][y])
            a[0][0] ^= rc
    out = b""
    for i in range(4):  # 32 bytes from the rate lanes
        x, y = i % 5, i // 5
        out += a[x][y].to_bytes(8, "little")
    return out


def _rlp_decode(data: bytes, pos: int = 0):
    b0 = data[pos]
    if b0 < 0x80:
        return data[pos : pos + 1], pos + 1
    if b0 <= 0xB7:
        n = b0 - 0x80
        return data[pos + 1 : pos + 1 + n], pos + 1 + n
    if b0 <= 0xBF:
        ln = b0 - 0xB7
        n = int.from_bytes(data[pos + 1 : pos + 1 + ln], "big")
        st = pos + 1 + ln
        return data[st : st + n], st + n
    if b0 <= 0xF7:
        n = b0 - 0xC0
    else:
        ln = b0 - 0xF7
        n = int.from_bytes(data[pos + 1 : pos + 1 + ln], "big")
        pos += ln
    end = pos + 1 + n
    items, q = [], pos + 1
    while q < end:
        it, q = _rlp_decode(data, q)
        items.append(it)
    return items, end


def _rlp(data: bytes):
    item, _ = _rlp_decode(data, 0)
    return item


def _hp_decode(b: bytes):
    flag = b[0] >> 4
    nibbles = []
    if flag & 1:
        nibbles.append(b[0] & 0x0F)
    for byte in b[1:]:
        nibbles += [byte >> 4, byte & 0x0F]
    return nibbles, bool(flag & 2)


def _nib(h: bytes):
    out = []
    for byte in h:
        out += [byte >> 4, byte & 0x0F]
    return out


def _walk_mpt(root: bytes, path, proof):
    """Hash-chain walk of an eth_getProof node list; (ok, value)."""
    by_hash = {_keccak256(n): n for n in proof}

    def walk(ref, pos):
        if isinstance(ref, (bytes, bytearray)) and len(ref) == 32:
            enc = by_hash.get(bytes(ref))
            if enc is None:
                return False, b""
            item = _rlp(enc)
        else:
            item = ref
        if not isinstance(item, list):
            return False, b""
        if len(item) == 17:
            if pos == len(path):
                # empty 17th slot = absence, never inclusion-of-empty
                return (
                    isinstance(item[16], bytes) and item[16] != b""
                ), item[16]
            child = item[path[pos]]
            if child == b"":
                return False, b""
            return walk(child, pos + 1)
        if len(item) == 2:
            nib, is_leaf = _hp_decode(item[0])
            if path[pos : pos + len(nib)] != nib:
                return False, b""
            pos += len(nib)
            if is_leaf:
                return (
                    pos == len(path)
                    and isinstance(item[1], bytes)
                    and item[1] != b""
                ), item[1]
            return walk(item[1], pos)
        return False, b""

    return walk(root, 0)


_EMPTY_ROOT = bytes.fromhex(
    "56e81f171bcc55a6ff8345e692c0f86e5b48e01b996cadc001622fb5e363b421"
)  # keccak(rlp("")) — well-known empty-trie root


def _mpt_absent(root: bytes, path, proof) -> bool:
    """True iff the node list hash-chains from root and shows `path`
    ABSENT — the real eth_getProof semantic for value 0x0 (zero is
    never stored; the RPC answers zero/absent slots with an exclusion
    proof: the walk ends at an empty branch child or diverges from a
    leaf/extension path). A withheld node is NOT absence."""
    if root == _EMPTY_ROOT:
        return True
    by_hash = {_keccak256(n): n for n in proof}

    def walk(ref, pos):
        if isinstance(ref, (bytes, bytearray)) and len(ref) == 32:
            enc = by_hash.get(bytes(ref))
            if enc is None:
                return False
            item = _rlp(enc)
        else:
            item = ref
        if not isinstance(item, list):
            return False
        if len(item) == 17:
            if pos == len(path):
                return not (isinstance(item[16], bytes) and item[16] != b"")
            child = item[path[pos]]
            if child == b"":
                return True
            return walk(child, pos + 1)
        if len(item) == 2:
            nib, is_leaf = _hp_decode(item[0])
            if path[pos : pos + len(nib)] != nib:
                return True
            pos += len(nib)
            if is_leaf:
                return pos != len(path) or not (
                    isinstance(item[1], bytes) and item[1] != b""
                )
            return walk(item[1], pos)
        return False

    try:
        return walk(root, 0)
    except Exception:  # noqa: BLE001 — malformed untrusted bytes
        return False


def _uh(s: str) -> bytes:
    return bytes.fromhex(s[2:] if s.startswith("0x") else s)


def verify_eth(fixture_path: str) -> dict:
    """Verify a published eth_getProof capture: per account, the account
    proof keccak-chains from the snapshot's state root, the decoded
    yellow-paper body matches the claimed fields, and every storage slot
    proves against the account's own storage root. Proofs are
    self-contained vs the root — no corpus table needed (the Spark-side
    oracle gate is what binds the capture to the raw events)."""
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT address, nonce, balance, storageHash, accountProof,
               storage_keys, storage_values, storage_proofs, stateRoot
        FROM read_parquet('{fixture_path}/*.parquet')
        """
    ).fetchall()
    n_valid = 0
    failed: dict[str, list[str]] = {}

    def flag(check: str, addr: str) -> None:
        failed.setdefault(check, []).append(addr)

    roots = {r[8] for r in rows}

    def check_row(
        addr_hex, nonce_hex, bal_hex, shash_hex, aproof,
        skeys, svals, sproofs, sroot_hex,
    ) -> bool:
        state_root = _uh(sroot_hex)
        addr = _uh(addr_hex)
        ok, body = _walk_mpt(
            state_root, _nib(_keccak256(addr)), [_uh(p) for p in aproof]
        )
        row_ok = ok and len(roots) == 1
        if ok:
            fields = _rlp(body)
            nonce = int.from_bytes(fields[0], "big")
            balance = int.from_bytes(fields[1], "big")
            sroot = bytes(fields[2])
            if sroot != _uh(shash_hex):
                row_ok = False
                flag("storage_root", addr_hex)
            if nonce != int.from_bytes(_uh(nonce_hex), "big") or (
                balance != int.from_bytes(_uh(bal_hex), "big")
            ):
                row_ok = False
                flag("claimed_fields", addr_hex)
            for k_hex, v_hex, sp in zip(skeys, svals, sproofs):
                spath = _nib(_keccak256(_uh(k_hex)))
                snodes = [_uh(p) for p in sp]
                sk, sv = _walk_mpt(sroot, spath, snodes)
                want = _uh(v_hex)
                enc = (
                    want
                    if len(want) == 1 and want[0] < 0x80
                    else bytes([0x80 + len(want)]) + want
                )
                if sk and sv == enc:
                    continue
                # value 0x0 proves by EXCLUSION (zero is never stored)
                if want == b"" and _mpt_absent(sroot, spath, snodes):
                    continue
                row_ok = False
                flag("storage_proof", addr_hex)
                break
        else:
            flag("account_proof", addr_hex)
        return row_ok

    for row in rows:
        # published bytes are UNTRUSTED: a malformed response (corrupt
        # RLP/hex-prefix, truncated hex) must flag the ROW as invalid
        # and keep verifying, never crash the tool mid-run
        try:
            row_ok = check_row(*row)
        except Exception:  # noqa: BLE001 — malformed published bytes
            row_ok = False
            flag("malformed", row[0])
        n_valid += int(row_ok)
    return {
        "response": fixture_path,
        "kind": "eth_state",
        "rows": len(rows),
        "valid_rows": n_valid,
        "failed": failed,
        "verdict": "VALID"
        if rows and n_valid == len(rows)
        else ("EMPTY" if not rows else "INVALID"),
    }


def default_artifacts() -> str:
    """Where the prover publishes: EUCLID_SPARK_ARTIFACTS, else the
    repo's `.artifacts/` — the deployment rule of the engine's
    `artifacts.artifact_dir()`, restated so the tool imports no prover
    code (tests/test_verify_tool.py pins the two equal)."""
    return os.environ.get(
        "EUCLID_SPARK_ARTIFACTS",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".artifacts",
        ),
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("sf_dir", help="corpus dir holding events.parquet")
    ap.add_argument("--artifacts", default=default_artifacts())
    ap.add_argument("--response", help="explicit response parquet dir")
    ap.add_argument(
        "--kind",
        choices=["q2", "erc20", "q2_range", "erc20_range", "eth_state"],
    )
    args = ap.parse_args()
    events = os.path.join(args.sf_dir, "events.parquet")
    if not os.path.exists(events):
        raise SystemExit(f"no events table at {events}")

    targets: list[tuple[str, str]] = []
    if args.response:
        if not args.kind:
            raise SystemExit("--response requires --kind")
        targets.append((args.response, args.kind))
    else:
        targets = _discover(args.artifacts, args.sf_dir)
    if not targets:
        n_any = len(
            glob.glob(os.path.join(args.artifacts, "*_response_*.parquet"))
        )
        raise SystemExit(
            f"no published responses for corpus {args.sf_dir} under "
            f"{args.artifacts} ({n_any} responses from other corpora "
            "present; run the euclid_verifiable_response / "
            "euclid_erc20_verifiable_response queries on this corpus, "
            "or pass --response/--kind explicitly)"
        )

    ok = True
    for path, kind in targets:
        if kind == "eth_state":
            v = verify_eth(path)
        else:
            fn = verify_range if kind.endswith("_range") else verify
            v = fn(path, kind, events)
        print(json.dumps(v, separators=(",", ":")))
        ok = ok and v["verdict"] == "VALID"
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
