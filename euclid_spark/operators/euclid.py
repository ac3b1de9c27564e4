"""Reference-parity operators (SURVEY.md §2.A).

Each operator re-expresses a capability of Lagrange-Labs/Euclid-database
on the synthetic testdata schema (mapping in SURVEY.md §3):

- block number / block range  → events.ts time ranges
- owner address               → events.user_id
- mapping key (NFT id)        → JSON prop `k` in events.props
- mapping value (balance)     → events.value
- storage-DB commitment       → order-independent mod-prime digest
- block DB                    → per-day digest + cumulative chain

Every query is a declarative DataFrame plan: range filters sit directly on
the scan (parquet predicate pushdown; partition pruning when the table is
written partitioned by day), aggregations are partial-agg friendly, and
the only joins are broadcast-sized. `ORACLES` carries the DuckDB SQL the
driver uses for the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from euclid_spark import artifacts
from euclid_spark.catalog import (
    _ntz_lit,
    _path_signature,
    cached_parquet,
    load_events,
    local_frame,
)
from euclid_spark.functions.hashing import DIGEST_PRIME, MIX, digest_agg, digest_term
from euclid_spark.monoid import Monoid

# Query-2 style parameters (owner + block range), fixed so the oracle SQL
# can restate them literally.
T_MIN, T_MAX = "2024-01-05", "2024-01-25"
OWNER = 7
TOP_L = 5  # revelation reveals L results (query2/revelation/mod.rs Parameters<_, L>)
REWARDS_RATE = 7  # query_erc20 rewards-rate public input analog


def u256_overflow_oracle_sql(rate: int) -> str:
    """DuckDB n_overflow expression matching the u256 leaf circuit's
    overflow flag: rows where (scaled·2^64 + event_id)·rate > 2^256-1.
    Emitted as base > (2^256-1)//rate when that threshold fits HUGEINT;
    for smaller rates the threshold exceeds 2^127-1, so ANY base DuckDB
    can represent is below it — the zero is implied by arithmetic, not a
    corpus assumption (DuckDB raises on HUGEINT overflow of the base
    itself before the predicate could misreport). Expects columns
    `scaled` (HUGEINT), `tok`, `event_id` in scope."""
    threshold = (2**256 - 1) // int(rate)
    if threshold <= 2**127 - 1:
        return (
            "CAST(SUM(CASE WHEN tok IS NOT NULL AND tok <> 0 AND "
            "(scaled * CAST('18446744073709551616' AS HUGEINT) + event_id)"
            f" > CAST('{threshold}' AS HUGEINT) THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        )
    return "CAST(0 AS BIGINT)"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_events(spark, sf_dir)


def _token_id() -> F.Column:
    return F.get_json_object("props", "$.k").cast("long")


def _range(
    spark: SparkSession,
    sf_dir: str,
    t_min: "str | None" = None,
    t_max: "str | None" = None,
) -> DataFrame:
    # Range predicate on the raw int64 ns column (inside load_events): at
    # scale this is the partition/row-group-pruning filter — the analog of
    # opening only the block-range subtree of the block DB. t_min/t_max
    # default to the pinned gate range (the parameterized public API's
    # pinned instantiation).
    return load_events(spark, sf_dir, t_min or T_MIN, t_max or T_MAX)


# The CONTRACT-ADDRESS public input analog (r9, VERDICT #4): reference
# query inputs carry the contract whose storage is queried
# (query2/api.rs, query_erc20/api.rs); here each event_type plays one
# contract's entry stream. CONTRACT is the pinned default; every
# param-API query takes `contract=` to target another one.
CONTRACT = "purchase"


def _qualifying(
    spark: SparkSession,
    sf_dir: str,
    t_min: "str | None" = None,
    t_max: "str | None" = None,
    contract: "str | None" = None,
) -> DataFrame:
    """The range-pruned scan narrowed to ONE contract's mapping entries
    — the (block range × contract address) input every reference query
    binds (query2/api.rs CircuitInput carries the contract; the MPT
    walk only opens that contract's storage trie)."""
    return _range(spark, sf_dir, t_min, t_max).filter(
        F.col("event_type") == (CONTRACT if contract is None else contract)
    )


def block_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — filtered range scan ≈ MPT mapping-entry extraction at a block
    (storage/mapping/): emit the (owner, key, value) tuples in range."""
    return (
        _range(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.to_date("ts").alias("event_day"),
            "value",
        )
    )


def q2_distinct_keys(
    spark: SparkSession,
    sf_dir: str,
    t_min: "str | None" = None,
    t_max: "str | None" = None,
    owner: "int | None" = None,
    contract: "str | None" = None,
) -> DataFrame:
    """A2 — Query2 semantics (query2/revelation): the DISTINCT set of
    mapping keys seen for each owner across the block range. Set-union is
    the aggregation monoid, exactly as the circuit unions NFT-id sets up
    the (storage × block) tree. Public parameterized surface
    (t_min, t_max, owner, contract) — defaults are the pinned gate face;
    `contract` is the contract-address input of query2/api.rs."""
    ev = _qualifying(spark, sf_dir, t_min, t_max, contract)
    if owner is not None:
        ev = ev.filter(F.col("user_id") == owner)
    return ev.select(
        F.col("user_id").alias("owner"), _token_id().alias("token_id")
    ).distinct()


def _range_provenance(
    spark: SparkSession,
    sf_dir: str,
    t_min: "str | None" = None,
    t_max: "str | None" = None,
) -> DataFrame:
    """Provenance binding for revelation results: the block range actually
    covered plus the digest of the scanned range — the Spark analog of the
    revelation public inputs exposing (min_block, max_block, block-DB
    commitment) with every result set (query2/revelation/mod.rs:60-104,
    revelation/public_inputs.rs). One-row aggregate over the same pruned
    scan the query reads — broadcast onto results for free."""
    ev = _range(spark, sf_dir, t_min, t_max)
    term = digest_term(F.col("event_id").cast("long"), F.col("user_id").cast("long"))
    return ev.agg(
        F.min("event_id").alias("min_block"),
        F.max("event_id").alias("max_block"),
        digest_agg(term).alias("range_digest"),
    )


# events path signature → its pinned window (`pinned_window`)
_WINDOWS: "dict[tuple, tuple]" = {}


def pinned_window(
    spark: SparkSession, sf_dir: str
) -> "tuple[int | None, int | None, int | None]":
    """(min_block, max_block, range_digest) of the pinned range
    [T_MIN, T_MAX) — `_range_provenance`'s values as Python scalars,
    all None when no event falls in it.

    The pinned verifiable responses (A20/A21/A23/A24) and A13 read the
    owner-clustered entry stores over the event_id window [min_block,
    max_block] in place of the ts range. That is exact under the
    CORPUS RULE, the reference's own (blocks are numbered in time
    order), which the same one-row aggregate checks: every event
    before T_MIN has a smaller event_id, and every event from T_MAX on
    a larger one, than any event in the range, and no event lacks its
    ts (nor, in the range, its event_id). So every event whose
    event_id lies in the window has its ts in the range. A corpus that
    breaks the rule raises ValueError rather than answer wrongly.
    Memoized per corpus version on the events path signature, as
    `catalog.cached_parquet` memoizes readers."""
    path = f"{sf_dir}/events.parquet"
    sig = _path_signature(path)
    if sig is not None and sig in _WINDOWS:
        return _WINDOWS[sig]
    eid, ts = F.col("event_id"), F.col("ts")
    lo, hi = _ntz_lit(T_MIN), _ntz_lit(T_MAX)
    inside = (ts >= lo) & (ts < hi)
    min_b, max_b, digest, before, after, unplaced = cached_parquet(
        spark, path
    ).agg(
        F.min(F.when(inside, eid)),
        F.max(F.when(inside, eid)),
        digest_agg(F.when(inside, digest_term(eid, F.col("user_id")))),
        F.max(F.when(ts < lo, eid)),
        F.min(F.when(ts >= hi, eid)),
        F.count(F.when(ts.isNull() | (inside & eid.isNull()), 1)),
    ).collect()[0]
    if unplaced or min_b is not None and (
        (before is not None and before >= min_b)
        or (after is not None and after <= max_b)
    ):
        raise ValueError(
            f"{path} breaks the corpus rule the pinned faces read by: "
            f"events outside [{T_MIN}, {T_MAX}) must have event_ids "
            f"outside [{min_b}, {max_b}] (max before: {before}, min "
            f"after: {after}) and none may lack its ts ({unplaced} do)"
        )
    window = (min_b, max_b, digest)
    if sig is not None:
        _WINDOWS[sig] = window
    return window


def pinned_entries(
    spark: SparkSession, sf_dir: str, tree, window: tuple, contract=None,
    rate=None,
) -> "DataFrame | None":
    """The rows of `tree`'s (a keyed range_tree.TileTree's) entry store
    in the event_id span of `window` (`pinned_window`'s) — the pinned
    range's entries under the corpus rule — or None when the window is
    empty."""
    min_b, max_b, _ = window
    if min_b is None:
        return None
    return tree.frame(spark, sf_dir, contract, rate, store=True).filter(
        F.col("event_id").between(min_b, max_b)
    )


def q2_revelation_topl(
    spark: SparkSession,
    sf_dir: str,
    owner: "int | None" = None,
    t_min: "str | None" = None,
    t_max: "str | None" = None,
    L: "int | None" = None,
    contract: "str | None" = None,
) -> DataFrame:
    """A3 — revelation step: one owner, bounded to L results in canonical
    key order (RevelationInput sorts mapping keys; revelation/mod.rs:70).
    ORDER BY + LIMIT compiles to TakeOrderedAndProject — no global sort.
    NULL keys are excluded (consistent with A11/A12; Spark sorts NULLS
    FIRST vs DuckDB NULLS LAST, so an unfiltered NULL would silently skew
    the top-L set). Every result row carries the provenance columns.
    Public parameterized surface (owner, t_min, t_max, L, contract) —
    defaults are the pinned gate face, exactly like the reference's
    RevelationInput takes (contract, owner, range) per query."""
    owner = OWNER if owner is None else int(owner)
    L = TOP_L if L is None else int(L)
    top = (
        q2_distinct_keys(spark, sf_dir, t_min, t_max, owner=owner, contract=contract)
        .filter(F.col("token_id").isNotNull())
        .select("token_id")
        .orderBy("token_id")
        .limit(L)
    )
    return top.crossJoin(
        F.broadcast(_range_provenance(spark, sf_dir, t_min, t_max))
    )


def erc20_weighted_sum(
    spark: SparkSession,
    sf_dir: str,
    t_min: "str | None" = None,
    t_max: "str | None" = None,
    rewards_rate: "int | None" = None,
    contract: "str | None" = None,
) -> DataFrame:
    """A4 — query_erc20: per entry compute value * rewards_rate / supply
    with an explicit zero-supply guard (query_erc20/storage/leaf.rs:88-106
    multiplies then guards overflow/div-by-zero), then SUM over the block
    range per owner. Single scan, map-side partial sums. Public
    parameterized surface (t_min, t_max, rewards_rate, contract) — rate
    and contract are per-query public inputs in the reference
    (public_inputs.rs; query_erc20/api.rs)."""
    rate = REWARDS_RATE if rewards_rate is None else int(rewards_rate)
    ev = _qualifying(spark, sf_dir, t_min, t_max, contract)
    supply = _token_id()  # per-row divisor analog (may be 0 or NULL)
    term = (
        F.when(supply.isNull() | (supply == 0), F.lit(0.0))
        .otherwise(F.col("value") * F.lit(rate) / supply)
    )
    return (
        ev.groupBy(F.col("user_id").alias("owner"))
        .agg(F.round(F.sum(term), 4).alias("reward"))
    )


def storage_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — order-independent per-group table commitment, the Spark analog
    of the reference's group-hashing digest (storage/digest_equal.rs): a
    commutative mod-prime sum of per-row mixes. Map-side combinable,
    traversal-order independent, skew-immune."""
    cust = cached_parquet(spark, f"{sf_dir}/customer.parquet")
    term = digest_term(F.col("c_custkey").cast("long"), F.col("c_nationkey").cast("long"))
    return (
        cust.groupBy(F.col("c_nationkey").alias("group_key"))
        .agg(digest_agg(term).alias("digest"), F.count("*").alias("n_rows"))
    )


def length_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — cardinality validation (storage/length_match.rs): the number
    of extracted entries must equal the declared length. Here: lineitem
    count per order vs the max line number."""
    li = cached_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_entries"),
        F.max("l_linenumber").alias("declared_len"),
        (F.count("*") == F.max("l_linenumber")).alias("length_ok"),
    )


def state_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — state DB analog (state/lpn/): the latest per-account state at
    each block boundary → last event value per (user, day), as a single
    hash aggregate (no window shuffle-and-sort).

    NULL semantics pinned EXPLICITLY (the null-injected crosscheck
    caught the divergence): last_value = the value of the latest event
    whose value is NON-NULL — a NULL write does not overwrite state.
    A bare max_by(value, event_id) would return the (possibly NULL)
    value at the max key while DuckDB's max_by skips NULL values; the
    skip rule is spelled by NULLing the ORDERING for NULL values —
    max_by skips NULL orderings in both engines. r12: max_by replaces
    the equivalent filtered-struct max because a STRUCT agg buffer is
    immutable and forced this row-scaling aggregate into a sorting
    SortAggregate; max_by's (double, long) buffer hash-aggregates
    under whole-stage codegen."""
    ev = _events(spark, sf_dir)
    last_nn = F.max_by(
        "value", F.when(F.col("value").isNotNull(), F.col("event_id"))
    )
    return ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        last_nn.alias("last_value"),
        F.max("event_id").alias("last_event_id"),
        F.count("*").alias("n_events"),
    )


def block_db_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — block-DB public inputs (block/public_inputs.rs exposes first
    and last block numbers + root): global range metadata in one pass."""
    ev = _events(spark, sf_dir)
    return ev.agg(
        F.min("event_id").alias("first_block"),
        F.max("event_id").alias("last_block"),
        F.count("*").alias("n_blocks"),
        F.countDistinct("user_id").alias("n_owners"),
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
    )


def _day_digest_partial(events: DataFrame) -> DataFrame:
    """A9's per-day block digest (block/mod.rs append unit) as a monoid
    partial: digest + row count per day."""
    term = digest_term(F.col("event_id").cast("long"), F.col("user_id").cast("long"))
    return (
        events.withColumn("day", F.to_date("ts"))
        .groupBy("day")
        .agg(digest_agg(term).alias("day_digest"), F.count("*").alias("n"))
    )


def _day_digest_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("day")
        .agg(
            F.pmod(F.sum("day_digest"), F.lit(DIGEST_PRIME))
            .cast("long")
            .alias("day_digest"),
            F.sum("n").alias("n"),
        )
    )


def _chain_finalize(pdf):
    """Fold per-day digests into the A9 running chain commitment — the
    derived result whose batch/incremental equality is the IVC property.
    Day-level frame: pandas cumsum is exact (int64 · #days ≪ 2⁶³)."""
    out = pdf.sort_values("day").reset_index(drop=True)
    out["day_digest"] = out["day_digest"].astype("int64")
    out["chain_digest"] = out["day_digest"].cumsum() % DIGEST_PRIME
    return out


# the D20 spec `block_db_chain_a9`: the day digests block_db_chain folds
DAY_DIGEST = Monoid(
    "block_db_chain_a9", _day_digest_partial, _day_digest_merge,
    finalize=_chain_finalize,
)


def block_db_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — append-only block DB (block/mod.rs IVC): each appended unit
    (here: a day of events) contributes a digest, and the running chain
    digest reproduces the evolving root commitment.

    The prefix sum is TWO-LEVEL so no stage ever sorts the whole history
    in one reducer (the r1 plan was `Window.orderBy(day)` → Exchange
    SinglePartition — O(days) state in one task, a bottleneck once the
    append unit is block-granular): (1) cumulative sums run per epoch
    (month) under a PARTITIONED window; (2) epoch offsets come from a
    triangular join over the per-epoch totals — a table with one row per
    epoch, broadcast. Work per task is O(days-per-epoch); nothing is
    single-partition.

    r16 (guide §2.4, the drift/preprocessing fold): `daily` is PINNED —
    it is read by the main chain join AND (twice, via e1/e2) by the
    epoch-offset build, and an unpersisted subframe re-expands its
    lineage per reference, so the r15 plan scanned the events corpus
    THREE times per call. The pinned frame is one row per day (calendar-
    bounded whatever the corpus size), so the cache is index-sized and
    the corpus is scanned exactly once (plans/r16/euclid_block_db_chain
    before: 3× Scan parquet → after: 1). Its rows are
    `DAY_DIGEST.partial`, the day digests the D20 parity spec maintains."""
    from pyspark.sql import Window

    from euclid_spark.cache import persist_tracked

    daily = persist_tracked(
        DAY_DIGEST.partial(_events(spark, sf_dir)).withColumn(
            "epoch", F.trunc("day", "month")
        )
    )

    epoch_tot = daily.groupBy("epoch").agg(F.sum("day_digest").alias("etot"))
    e1, e2 = epoch_tot.alias("e1"), epoch_tot.alias("e2")
    offsets = (
        e1.join(e2, F.col("e2.epoch") < F.col("e1.epoch"), "left")
        .groupBy(F.col("e1.epoch").alias("epoch"))
        .agg(F.coalesce(F.sum("e2.etot"), F.lit(0)).alias("offset"))
    )
    w = (
        Window.partitionBy("epoch")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        daily.join(F.broadcast(offsets), "epoch")
        .withColumn(
            "chain_digest",
            F.pmod(
                F.col("offset") + F.sum("day_digest").over(w), F.lit(DIGEST_PRIME)
            ).cast("long"),
        )
        .select("day", "day_digest", "n", "chain_digest")
    )


def membership_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — provenance join: a row together with its group commitment and
    cardinality — the SQL shape of "this entry is a member of the digest
    the query was proven against" (digest_equal binds entry set to the
    storage-DB root). The digest side is tiny → broadcast join."""
    cust = cached_parquet(spark, f"{sf_dir}/customer.parquet")
    digests = storage_digest(spark, sf_dir)
    rows = cust.filter(F.col("c_custkey") % 100 == 7)
    return rows.join(
        F.broadcast(digests), rows.c_nationkey == digests.group_key, "inner"
    ).select("c_custkey", "c_name", "group_key", "digest", "n_rows")


MAPPING_SLOT = 1  # storage slot of the demo mapping


def mapping_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — the extraction step end-to-end (storage/key.rs +
    storage/mapping/): for each mapping entry in the block range, derive
    its storage location H(pad(key) || pad(slot)) and MPT lookup key
    H(location). Hashes run over the canonical 64-char padded hex text
    (DuckDB's sha256 is VARCHAR-only; functions/mpt.py holds the
    byte-level variant). Pure projections on the scan — extraction is
    embarrassingly parallel at any scale."""
    ev = _range(spark, sf_dir).filter(F.col("event_type") == "purchase")
    key_hex = F.lpad(F.lower(F.hex(_token_id())), 64, "0")
    slot_hex = F.lpad(F.lower(F.hex(F.lit(MAPPING_SLOT))), 64, "0")
    location = F.sha2(F.concat(key_hex, slot_hex), 256)
    return ev.select(
        "event_id",
        F.col("user_id").alias("owner"),
        _token_id().alias("token_id"),
        location.alias("location"),
        F.sha2(location, 256).alias("mpt_key"),
    ).filter(F.col("token_id").isNotNull())


def q2_batch_revelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 — revelation batched over ALL owners at once: per-owner top-L
    distinct keys in canonical order via one window pass (the reference
    proves one owner per revelation; an analytics engine amortizes the
    scan across every owner in the range)."""
    from pyspark.sql import Window

    keys = q2_distinct_keys(spark, sf_dir).filter(F.col("token_id").isNotNull())
    w = Window.partitionBy("owner").orderBy("token_id")
    topl = (
        keys.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= TOP_L)
        .select("owner", "token_id", "pos")
    )
    # provenance rides along, exactly as the revelation public inputs do
    return topl.crossJoin(F.broadcast(_range_provenance(spark, sf_dir)))


KECCAK_KEY_MAP = artifacts.Artifact(
    "keccak_key_map", "events", dict(op="keccak_key_map", slot=MAPPING_SLOT)
)


def _keccak_key_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token_id, location, mpt_key) for EVERY distinct mapping key in
    the corpus — the REAL-keccak storage-location index
    (mrp2-utils/src/storage_key.rs; storage/key.rs keccak_mpt), served
    once per corpus version as a fingerprint-keyed artifact. The
    Arrow-batched keccak pass runs over the DISTINCT key universe at
    indexing time, never over the event rows and never per query —
    at 100 TB the map is |keys| rows, orders of magnitude smaller
    than the entry stream that references them."""
    from euclid_spark.functions.mpt import keccak256_hex

    def build() -> DataFrame:
        from euclid_spark.catalog import load_events

        tok = _token_id()
        toks = (
            load_events(spark, sf_dir)
            .filter(F.col("event_type") == "purchase")
            .select(tok.alias("token_id"))
            .filter(F.col("token_id").isNotNull())
            .distinct()
        )
        key32 = F.unhex(F.lpad(F.lower(F.hex(F.col("token_id"))), 64, "0"))
        slot32 = F.unhex(
            F.lpad(F.lower(F.hex(F.lit(MAPPING_SLOT))), 64, "0")
        )
        return toks.withColumn(
            "location", keccak256_hex(F.concat(key32, slot32))
        ).withColumn("mpt_key", keccak256_hex(F.unhex(F.col("location"))))

    return artifacts.serve_frame(spark, KECCAK_KEY_MAP.path(sf_dir), build)


def mapping_extract_keccak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11k — the extraction step with REAL keccak-256: bit-exact Ethereum
    storage locations and MPT keys (mrp2-utils/src/storage_key.rs;
    storage/key.rs keccak_mpt). The sha2 variant (mapping_extract) keeps
    the all-SQL oracle; this is what a user with live chain data runs.

    Hash-checked since r11 via artifact-as-oracle-input (the C31/C48/C50
    precedent): the served keccak key map is the oracle's input table
    and the extraction (pruned range scan → token decode → map join)
    replays in SQL; keccak bit-exactness itself stays pinned by the
    known-answer vectors in tests/test_keccak.py.

    Plan shape: pruned range scan joined to the served key map —
    keccak genuinely runs once at indexing time now (the map build),
    never per query; AQE broadcasts the map while it is small."""
    ev = _range(spark, sf_dir).filter(F.col("event_type") == "purchase")
    tok = _token_id()
    base = ev.filter(tok.isNotNull()).select(
        "event_id",
        F.col("user_id").alias("owner"),
        tok.alias("token_id"),
    )
    return base.join(_keccak_key_map(spark, sf_dir), "token_id").select(
        "event_id", "owner", "token_id", "location", "mpt_key"
    )


def _oracle_mapping_extract_keccak(sf_dir: str) -> str:
    """A14's replay: read the served keccak key map, re-derive the
    extraction in SQL."""
    path = KECCAK_KEY_MAP.path(sf_dir)
    return f"""
        SELECT e.event_id, e.user_id AS owner, {_TOKEN} AS token_id,
               km.location, km.mpt_key
        FROM events e
        JOIN read_parquet('{path}/*.parquet') km
          ON km.token_id = {_TOKEN}
        WHERE {_RANGE} AND e.event_type = 'purchase'
          AND {_TOKEN} IS NOT NULL
    """


def erc20_leaf_rows(
    ev: DataFrame, rewards_rate: "int | None" = None
) -> DataFrame:
    """The `query_erc20/storage/leaf.rs:88-106` circuit applied to an
    ALREADY-FILTERED purchase-entry frame: (owner, event_id, l0..l3,
    zs, of) where (l3..l0) are the 64-bit limbs of
    ⌊balance · rewards_rate / supply⌋ with the circuit's two guards
    (mul overflow → 0 + flag; zero supply → 0 + flag). Arrow-batched
    pandas UDF over exact Python bigints — the documented
    built-ins-can't-express-it case, see erc20_weighted_sum_u256's
    engineering note. Taking a frame (not sf_dir) lets the streaming
    twin apply the same leaf circuit per micro-batch."""
    from decimal import Decimal

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    LEAF_SCHEMA = (
        "l0 decimal(20,0), l1 decimal(20,0), l2 decimal(20,0), "
        "l3 decimal(20,0), zs int, of int"
    )

    # nb: no type annotations — `from __future__ import annotations`
    # stringifies them and pandas_udf's signature inspection rejects that
    rate_val = REWARDS_RATE if rewards_rate is None else int(rewards_rate)

    @pandas_udf(LEAF_SCHEMA)
    def _leaf(scaled, event_id, supply):
        rate = rate_val
        m64 = (1 << 64) - 1
        out = {k: [] for k in ("l0", "l1", "l2", "l3", "zs", "of")}
        for s, e, d in zip(scaled, event_id, supply):
            balance = (int(s) << 64) + int(e)
            prod = balance * rate
            of = prod >> 256 != 0
            d = int(d)
            q = 0 if (d == 0 or of) else (prod & ((1 << 256) - 1)) // d
            for i in range(4):
                out[f"l{i}"].append(Decimal((q >> (64 * i)) & m64))
            out["zs"].append(int(d == 0))
            out["of"].append(int(of))
        return pd.DataFrame(out)

    leaf = _leaf(
        F.floor(F.col("value") * 10000).cast("long"),
        F.col("event_id").cast("long"),
        F.coalesce(_token_id(), F.lit(0)).cast("long"),
    )
    # entries with a NULL balance reading don't qualify — the leaf
    # circuit has no input for them, and SQL aggregates drop NULL
    # measures; the predicate is mirrored verbatim in every erc20
    # oracle (A13/A29/responses) so both engines see one entry set
    ev = ev.filter(F.col("value").isNotNull())
    return ev.select(
        F.col("user_id").alias("owner"), "event_id", leaf.alias("lf")
    ).select(
        "owner",
        "event_id",
        *[F.col(f"lf.l{i}").alias(f"l{i}") for i in range(4)],
        F.col("lf.zs").alias("zs"),
        F.col("lf.of").alias("of"),
    )


def erc20_weighted_sum_u256(
    spark: SparkSession,
    sf_dir: str,
    rewards_rate: "int | None" = None,
    contract: "str | None" = None,
) -> DataFrame:
    """A4u — the ERC-20 query in FULL 256-bit integer arithmetic, matching
    query_erc20/storage/leaf.rs:88-106 exactly: per entry compute
    ⌊balance · rewards_rate / supply⌋ with the circuit's two guards (mul
    overflow asserted false; zero supply short-circuits to 0), then SUM
    per owner mod 2²⁵⁶.

    Balances are synthesized > 2⁶⁴ (real wei magnitudes, where the
    double-based A4 would silently lose precision):
    balance = ⌊value·10⁴⌋·2⁶⁴ + event_id. The per-owner u256 sum is
    limb-wise: 4 independent SUM aggregates (map-side combinable) with a
    single carry-normalization after the aggregate — order-independent and
    skew-immune like every digest here. Oracle: DuckDB HUGEINT (the data
    keeps every intermediate < 2¹²⁶, so int128 is exact there, while the
    Spark path exercises the full 256-bit semantics).

    Engineering note (measured at sf0.1, local[32]): the per-row
    ⌊balance·rate/supply⌋ runs in an Arrow-batched pandas UDF over exact
    Python bigints. The pure-column alternatives were implemented first
    (functions/u256.py, kept + randomized-tested): generic 256-step
    binary-division fold 360 s, 16-step short-division fold 151 s —
    runtime HOF folds pay ~1 ms/row in boxed struct state. The Arrow
    batch pays one Python hop but ~2 µs/row; 256-bit arithmetic is the
    documented case where built-in expressions genuinely cannot express
    the semantics efficiently. The AGGREGATION stays in columns: 4
    limb-wise SUMs are map-side combinable, so the shuffle carries one
    partial per (owner, partition), not rows.

    The entries are the ERC-20 tree's entry store (the Arrow leaf pass
    runs once per corpus version, at its build), read over the pinned
    window (`pinned_entries`); this query is then the tree's `leaf`
    per owner — the four limb-wise decimal sums — and one carry
    normalization mod 2²⁵⁶ (`u256_carry_hex`), as
    `range_tree.erc20_range_tree_reward` finishes its all-owner answer.
    Deterministic, so serve ≡ recompute, asserted by the same HUGEINT
    oracle."""
    from euclid_spark.functions.u256 import u256_carry_hex
    from euclid_spark.operators.range_tree import ERC20_REWARD_TREE

    rows = pinned_entries(
        spark, sf_dir, ERC20_REWARD_TREE, pinned_window(spark, sf_dir),
        contract, rewards_rate,
    )
    if rows is None:
        return local_frame(spark, [], _A13_DDL)
    return ERC20_REWARD_TREE.leaf(rows, ["owner"]).select(
        "owner",
        u256_carry_hex(
            F.col("s0"), F.col("s1"), F.col("s2"), F.col("s3")
        ).alias("reward_hex"),
        F.col("zs").alias("n_zero_supply"),
        F.col("of").alias("n_overflow"),
    )


_A13_DDL = "owner long, reward_hex string, n_zero_supply long, n_overflow long"


def block_linking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 — block-linking / account-state join
    (mr-plonky2-circuits/src/state/block_linking/{mod.rs,block.rs,account/}):
    bind each account's storage commitment into the per-block
    account-state commitment.

    The circuit recomputes the contract's storage root from the storage
    proof and asserts it equals the root embedded in the account's state
    node, then folds the account into the block's state commitment. The
    Spark re-expression: the per-(block, account) storage digest is
    computed along TWO independent aggregation paths — directly, and via
    sub-bucket partial digests re-folded mod P — and their equality is
    the digest_equal.rs property (order/paths-independence of the group
    hash). Linked accounts then aggregate into the per-block state
    digest over (owner, storage_digest) terms.

    Plan shape: one scan, two hash aggregations sharing the (day, owner)
    shuffle key, a co-partitioned join, and a final per-day rollup —
    every stage map-side combinable, no window, no broadcast needed."""
    ev = _range(spark, sf_dir).filter(F.col("event_type") == "purchase")
    day = F.to_date("ts").alias("day")
    owner = F.col("user_id").alias("owner")
    term = digest_term(F.col("event_id").cast("long"), F.col("user_id").cast("long"))

    direct = ev.groupBy(day, owner).agg(
        digest_agg(term).alias("storage_digest"), F.count("*").alias("n_entries")
    )
    partials = ev.groupBy(
        day, owner, F.pmod(F.col("event_id"), F.lit(4)).alias("bucket")
    ).agg(digest_agg(term).alias("pd"))
    refolded = partials.groupBy("day", "owner").agg(
        F.pmod(F.sum("pd"), F.lit(DIGEST_PRIME)).cast("long").alias("storage_digest_b")
    )
    linked = direct.join(refolded, ["day", "owner"]).withColumn(
        "is_linked", F.col("storage_digest") == F.col("storage_digest_b")
    )
    state_term = digest_term(
        F.col("owner").cast("long"), F.col("storage_digest").cast("long")
    )
    return linked.groupBy("day").agg(
        F.count("*").alias("n_accounts"),
        F.sum(F.col("is_linked").cast("int")).cast("long").alias("n_linked"),
        digest_agg(state_term).alias("state_digest"),
    )


def state_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A22 — STATE DIFF between two block heights, the natural query
    pair over the reference's versioned state DB (block/mod.rs stores
    every height; explorers and reorg audits ask "what changed between
    H1 and H2"): per account, the latest value at H1 vs at H2, emitting
    accounts that are NEW at H2 or whose value CHANGED — unchanged
    accounts are filtered out, which at scale is the point (the diff is
    sparse even when the state is huge).

    Heights are broadcast one-row aggregates (⅓ and ⅔ of the max block
    — scale-invariant probe points, not collected constants). Each side
    is one argmax-by-block aggregate; the diff is one full-outer-shaped
    left join on the account key. Values pass through unchanged (no
    arithmetic), so equality filtering is engine-exact.

    NULL discipline (r7 ADVICE + r9 null-crosscheck): "added" is keyed
    on ABSENCE AT H1 (a has_h1 join flag, not old_value IS NULL — an
    account whose latest h1 value is NULL is present, not added), and
    "changed" uses the null-safe IS DISTINCT FROM so a NULL→x or x→NULL
    transition is a change in both engines instead of silently dropping
    out of the oracle (NULL <> x is NULL in SQL). The per-height state
    read is A7's skip-NULLs rule (a NULL write does not overwrite
    state) spelled as max_by over a NULLed-out ordering (the A7 r12
    form: primitive agg buffers keep the aggregate hash-based)."""
    ev = _events(spark, sf_dir).select("user_id", "event_id", "value")
    bounds = ev.agg(
        F.floor(F.max("event_id") / 3).cast("long").alias("h1"),
        F.floor(F.max("event_id") * 2 / 3).cast("long").alias("h2"),
    )
    last_nn = F.max_by(
        "value", F.when(F.col("value").isNotNull(), F.col("event_id"))
    )
    evb = ev.join(F.broadcast(bounds))
    s1 = (
        evb.filter(F.col("event_id") <= F.col("h1"))
        .groupBy("user_id")
        .agg(last_nn.alias("old_value"))
        .withColumn("has_h1", F.lit(True))
    )
    s2 = (
        evb.filter(F.col("event_id") <= F.col("h2"))
        .groupBy("user_id")
        .agg(last_nn.alias("new_value"))
    )
    return (
        s2.join(s1, "user_id", "left")
        .join(F.broadcast(bounds))
        .filter(
            F.col("has_h1").isNull()
            | ~(F.col("old_value").eqNullSafe(F.col("new_value")))
        )
        .select(
            "user_id",
            "h1",
            "h2",
            "old_value",
            "new_value",
            F.when(F.col("has_h1").isNull(), F.lit("added"))
            .otherwise(F.lit("changed"))
            .alias("change"),
        )
    )


QUERIES = {
    "euclid_block_range_scan": block_range_scan,
    "euclid_block_linking": block_linking,
    "euclid_mapping_extract": mapping_extract,
    "euclid_q2_batch_revelation": q2_batch_revelation,
    "euclid_q2_distinct_keys": q2_distinct_keys,
    "euclid_q2_revelation_topL": q2_revelation_topl,
    "euclid_erc20_weighted_sum": erc20_weighted_sum,
    "euclid_erc20_weighted_sum_u256": erc20_weighted_sum_u256,
    "euclid_mapping_extract_keccak": mapping_extract_keccak,
    "euclid_storage_digest": storage_digest,
    "euclid_length_match": length_match,
    "euclid_state_rollup": state_rollup,
    "euclid_state_diff": state_diff,
    "euclid_block_db_metadata": block_db_metadata,
    "euclid_block_db_chain": block_db_chain,
    "euclid_membership_proof": membership_proof,
}

_RANGE = f"ts >= TIMESTAMP '{T_MIN}' AND ts < TIMESTAMP '{T_MAX}'"
_TOKEN = "CAST(json_extract_string(props, '$.k') AS BIGINT)"
_DIGEST_CUST = (
    f"CAST(SUM((c_custkey * {MIX} + c_nationkey * 97) % {DIGEST_PRIME}) "
    f"% {DIGEST_PRIME} AS BIGINT)"
)

# revelation provenance: the (min_block, max_block, range_digest) binding
# computed over the whole pruned range scan (mirrors _range_provenance)
_PROV_SQL = f"""
    SELECT MIN(event_id) AS min_block, MAX(event_id) AS max_block,
           CAST(SUM((event_id * {MIX} + user_id * 97) % {DIGEST_PRIME})
                % {DIGEST_PRIME} AS BIGINT) AS range_digest
    FROM events WHERE {_RANGE}
"""

_ACCT_TERM = f"(event_id * {MIX} + user_id * 97) % {DIGEST_PRIME}"

ORACLES = {
    "euclid_block_linking": f"""
        WITH e AS (
            SELECT CAST(ts AS DATE) AS day, user_id, event_id
            FROM events WHERE {_RANGE} AND event_type = 'purchase'
        ),
        direct AS (
            SELECT day, user_id AS owner,
                   CAST(SUM({_ACCT_TERM}) % {DIGEST_PRIME} AS BIGINT)
                       AS storage_digest,
                   COUNT(*) AS n_entries
            FROM e GROUP BY 1, 2
        ),
        partials AS (
            SELECT day, user_id AS owner, event_id % 4 AS bucket,
                   CAST(SUM({_ACCT_TERM}) % {DIGEST_PRIME} AS BIGINT) AS pd
            FROM e GROUP BY 1, 2, 3
        ),
        refolded AS (
            SELECT day, owner,
                   CAST(SUM(pd) % {DIGEST_PRIME} AS BIGINT) AS storage_digest_b
            FROM partials GROUP BY 1, 2
        )
        SELECT d.day, COUNT(*) AS n_accounts,
               CAST(SUM(CASE WHEN d.storage_digest = r.storage_digest_b
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_linked,
               CAST(SUM((d.owner * {MIX} + d.storage_digest * 97)
                        % {DIGEST_PRIME}) % {DIGEST_PRIME} AS BIGINT)
                   AS state_digest
        FROM direct d JOIN refolded r ON d.day = r.day AND d.owner = r.owner
        GROUP BY d.day
    """,
    "euclid_block_range_scan": f"""
        SELECT event_id, user_id, CAST(ts AS DATE) AS event_day, value
        FROM events
        WHERE {_RANGE} AND event_type = 'purchase'
    """,
    "euclid_mapping_extract": f"""
        SELECT event_id, user_id AS owner, {_TOKEN} AS token_id,
               sha256(lpad(lower(to_hex({_TOKEN})), 64, '0')
                      || lpad(lower(to_hex({MAPPING_SLOT})), 64, '0')) AS location,
               sha256(sha256(lpad(lower(to_hex({_TOKEN})), 64, '0')
                      || lpad(lower(to_hex({MAPPING_SLOT})), 64, '0'))) AS mpt_key
        FROM events
        WHERE {_RANGE} AND event_type = 'purchase' AND {_TOKEN} IS NOT NULL
    """,
    "euclid_q2_distinct_keys": f"""
        SELECT DISTINCT user_id AS owner, {_TOKEN} AS token_id
        FROM events
        WHERE {_RANGE} AND event_type = 'purchase'
    """,
    "euclid_q2_batch_revelation": f"""
        WITH d AS (
            SELECT DISTINCT user_id AS owner, {_TOKEN} AS token_id
            FROM events
            WHERE {_RANGE} AND event_type = 'purchase'
              AND {_TOKEN} IS NOT NULL
        )
        SELECT owner, token_id, pos, min_block, max_block, range_digest
        FROM (
            SELECT owner, token_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY owner
                        ORDER BY token_id) AS INT) AS pos
            FROM d
        ) CROSS JOIN ({_PROV_SQL})
        WHERE pos <= {TOP_L}
    """,
    "euclid_q2_revelation_topL": f"""
        SELECT token_id, min_block, max_block, range_digest FROM (
            SELECT DISTINCT {_TOKEN} AS token_id
            FROM events
            WHERE {_RANGE} AND event_type = 'purchase' AND user_id = {OWNER}
              AND {_TOKEN} IS NOT NULL
            ORDER BY token_id
            LIMIT {TOP_L}
        ) CROSS JOIN ({_PROV_SQL})
    """,
    "euclid_erc20_weighted_sum_u256": f"""
        WITH e AS (
            SELECT user_id, event_id,
                   CAST(FLOOR(value * 10000) AS HUGEINT) AS scaled,
                   {_TOKEN} AS tok
            FROM events
            WHERE {_RANGE} AND event_type = 'purchase'
              AND value IS NOT NULL
        )
        SELECT user_id AS owner,
               lpad(lower(to_hex(SUM(
                   CASE WHEN tok IS NULL OR tok = 0 THEN CAST(0 AS HUGEINT)
                        ELSE (scaled * CAST('18446744073709551616' AS HUGEINT)
                              + event_id) * {REWARDS_RATE} // tok
                   END))), 64, '0') AS reward_hex,
               CAST(SUM(CASE WHEN tok IS NULL OR tok = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_zero_supply,
               {u256_overflow_oracle_sql(REWARDS_RATE)} AS n_overflow
        FROM e GROUP BY user_id
    """,
    "euclid_erc20_weighted_sum": f"""
        SELECT user_id AS owner,
               ROUND(SUM(CASE WHEN {_TOKEN} IS NULL OR {_TOKEN} = 0 THEN 0.0
                              ELSE value * {REWARDS_RATE} / {_TOKEN} END), 4) AS reward
        FROM events
        WHERE {_RANGE} AND event_type = 'purchase'
        GROUP BY user_id
    """,
    "euclid_storage_digest": f"""
        SELECT c_nationkey AS group_key, {_DIGEST_CUST} AS digest,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM customer GROUP BY c_nationkey
    """,
    "euclid_length_match": """
        SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_entries,
               MAX(l_linenumber) AS declared_len,
               COUNT(*) = MAX(l_linenumber) AS length_ok
        FROM lineitem GROUP BY l_orderkey
    """,
    "euclid_state_rollup": """
        SELECT user_id, CAST(ts AS DATE) AS day,
               max_by(value, event_id) AS last_value,
               MAX(event_id) AS last_event_id,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    """,
    "euclid_block_db_metadata": """
        SELECT MIN(event_id) AS first_block, MAX(event_id) AS last_block,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_owners,
               MIN(CAST(ts AS DATE)) AS first_day,
               MAX(CAST(ts AS DATE)) AS last_day
        FROM events
    """,
    "euclid_block_db_chain": f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM((event_id * {MIX} + user_id * 97) % {DIGEST_PRIME})
                        % {DIGEST_PRIME} AS BIGINT) AS day_digest,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY CAST(ts AS DATE)
        )
        SELECT day, day_digest, n,
               CAST(SUM(day_digest) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    % {DIGEST_PRIME} AS BIGINT) AS chain_digest
        FROM daily
    """,
    "euclid_membership_proof": f"""
        WITH d AS (
            SELECT c_nationkey AS group_key, {_DIGEST_CUST} AS digest,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM customer GROUP BY c_nationkey
        )
        SELECT c_custkey, c_name, group_key, digest, n_rows
        FROM customer JOIN d ON c_nationkey = group_key
        WHERE c_custkey % 100 = 7
    """,
}

ORACLES["euclid_state_diff"] = """
    WITH b AS (
        SELECT CAST(FLOOR(MAX(event_id) / 3) AS BIGINT) AS h1,
               CAST(FLOOR(MAX(event_id) * 2 / 3) AS BIGINT) AS h2
        FROM events
    ),
    s1 AS (SELECT user_id, max_by(value, event_id) AS old_value
           FROM events, b WHERE event_id <= b.h1 GROUP BY user_id),
    s2 AS (SELECT user_id, max_by(value, event_id) AS new_value
           FROM events, b WHERE event_id <= b.h2 GROUP BY user_id)
    SELECT s2.user_id, b.h1, b.h2, s1.old_value, s2.new_value,
           CASE WHEN s1.user_id IS NULL THEN 'added'
                ELSE 'changed' END AS change
    FROM s2 LEFT JOIN s1 ON s1.user_id = s2.user_id, b
    WHERE s1.user_id IS NULL
       OR s1.old_value IS DISTINCT FROM s2.new_value
"""

DYNAMIC_ORACLES = {
    "euclid_mapping_extract_keccak": _oracle_mapping_extract_keccak,
}
