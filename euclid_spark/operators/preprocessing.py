"""The reference's staged preprocessing API composed into ONE deliverable
(SURVEY.md §2.A19, VERDICT r4 #1) — the Euclid-side analog of C25.

The reference's primary public API is not eight independent circuits but
a staged PIPELINE — `CircuitInput::{Mapping, LengthExtract, Storage,
LengthMatch, DigestEqual, BlockLinking, State, BlockDB}`
(mr-plonky2-circuits/src/api.rs:49-68): feed raw blocks in, get a
queryable committed block DB out. The repo has every stage as its own
registry query (A11 extraction, A6 cardinality, A5 storage digest, A17
block linking, A9 chain commitment); THIS query chains them the way a
real user runs them, with the stage semantics composed in one plan:

  1. MAPPING extraction (api.rs Mapping; storage/mapping/, key.rs):
     pruned range scan → per-entry storage location
     H(pad(key) || pad(slot)).
  2. LENGTH match (api.rs LengthExtract + LengthMatch;
     storage/length_match.rs): extracted cardinality per account must
     equal the entry count re-derived along an independent path
     (COUNT(*) vs COUNT(DISTINCT event_id) — duplicate-ingest
     detection), and key→location derivation must stay injective
     (COUNT(DISTINCT key) == COUNT(DISTINCT location)).
  3. STORAGE digest (api.rs Storage + DigestEqual;
     storage/digest_equal.rs): order-independent per-account commitment
     over the extracted (entry, key) pairs.
  4. BLOCK LINKING (api.rs BlockLinking; state/block_linking/): the
     account digest recomputed via sub-bucket partials re-folded mod P
     must equal the direct digest (the digest_equal property), then
     accounts fold into the per-day state commitment.
  5. BLOCK DB append (api.rs State + BlockDB; block/mod.rs IVC): the
     per-day state digests chain into the running block-DB commitment.

Plan shape (the 100 TB contract): ONE pruned scan of events feeds every
stage; stages 2-4 are hash aggregations sharing the (day, owner)
shuffle key (partial-agg friendly, no window over an account's whole
history); the day-level rollup reuses the day key; the chain prefix-sum
is two-level (per-epoch partitioned window + a broadcast epoch-offset
table, same as A9) so no stage ever sorts the whole history in one
reducer. The oracle embeds the stage SQL bodies composed as chained
CTEs — exactly the pattern curation.py established for C25.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from euclid_spark.cache import persist_tracked
from euclid_spark.functions.hashing import DIGEST_PRIME, MIX, digest_agg, digest_term
from euclid_spark.operators.euclid import (
    MAPPING_SLOT,
    T_MAX,
    T_MIN,
    _range,
    _token_id,
)


def _corpus_pin_level() -> StorageLevel:
    """EUCLID_CORPUS_PIN_LEVEL, checked against the StorageLevel
    constants that store data (NONE does not)."""
    name = os.environ.get("EUCLID_CORPUS_PIN_LEVEL", "MEMORY_AND_DISK")
    valid = sorted(
        k for k, v in vars(StorageLevel).items()
        if isinstance(v, StorageLevel) and v != StorageLevel.NONE
    )
    if name not in valid:
        raise ValueError(
            f"EUCLID_CORPUS_PIN_LEVEL={name!r} is not a data-storing "
            f"StorageLevel; valid values: {', '.join(valid)}"
        )
    return getattr(StorageLevel, name)


def preprocessing_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19 — Mapping → LengthMatch → Storage → DigestEqual →
    BlockLinking → State → BlockDB as one composed query. One row per
    day: validation counters for every stage plus the state and chain
    commitments."""
    # -- stage 1: mapping extraction (A11) ------------------------------
    ev = _range(spark, sf_dir).filter(F.col("event_type") == "purchase")
    tok = _token_id()
    key_hex = F.lpad(F.lower(F.hex(tok)), 64, "0")
    slot_hex = F.lpad(F.lower(F.hex(F.lit(MAPPING_SLOT))), 64, "0")
    # extraction output is PINNED: both digest paths (direct + bucketed
    # re-fold) consume it, and at production scale this frame is the
    # materialized indexing artifact every stage reads — one scan, one
    # extraction pass, exactly api.rs's staged hand-off.
    # r15: pinned PRE-PARTITIONED on the (day, owner) key every stage
    # groups or joins on — hashpartitioning(day, owner) satisfies the
    # clustering requirement of the acct aggregate (including both
    # levels of its multi-distinct resolution, which otherwise
    # re-shuffles ×(n_distincts+1)-expanded rows), the (day, owner,
    # bucket) partials, the refold, and the acct⋈refolded join: ONE
    # exchange of the extraction output where the r14 plan paid five
    # (plans/r15/euclid_preprocessing_pipeline_{before,after}.txt).
    # r16 (VERDICT r15 #4, guide §5): the pin's storage level is a
    # SCALE KNOB. The local default is PySpark's MEMORY_AND_DISK —
    # the SERIALIZED JVM variant (deserialized=False), which already
    # spills overflow batches to disk instead of OOMing. At 100 TB a
    # full-extraction pin should not compete with execution memory at
    # all: deploys set EUCLID_CORPUS_PIN_LEVEL=DISK_ONLY (local-disk
    # backed, still partitioned on (day, owner), so the shared-exchange
    # plan shape is identical — proven by the plan guards running under
    # both levels in tests/test_plans.py).
    pin_level = _corpus_pin_level()
    entries = persist_tracked(
        ev.filter(tok.isNotNull())
        .select(
            F.to_date("ts").alias("day"),
            F.col("user_id").alias("owner"),
            "event_id",
            tok.alias("token_id"),
            F.sha2(F.concat(key_hex, slot_hex), 256).alias("location"),
        )
        .repartition("day", "owner"),
        level=pin_level,
    )
    # materialize NOW (the walk_tries dec.count() pattern): a lazily
    # built cache plans as UnknownPartitioning (its inner adaptive plan
    # is not final yet), so every consumer re-inserts its own exchange;
    # once final, InMemoryTableScan exposes hashpartitioning(day, owner)
    # and the partials / refold / acct⋈refolded exchanges vanish. The
    # acct multi-distinct branch keeps its two (Expand reports unknown
    # partitioning by construction — its replicas null the columns out).
    entries.count()

    # -- stages 2+3: per-account cardinality checks + storage digest ----
    # one groupBy on the (day, owner) key every later stage reuses.
    # r15 (this session): the three COUNT(DISTINCT ·) columns are NOT
    # computed in the same aggregate — Catalyst plans a multi-distinct
    # as Expand ×(n_distincts+1) followed by TWO exchanges of the
    # expanded entry set (hashpartitioning(day, owner, value) cannot
    # reuse the cache's (day, owner) partitioning). Instead each
    # distinct count runs as its own two-level aggregate over the
    # pinned extraction artifact: groupBy(day, owner, value) then
    # groupBy(day, owner) — BOTH satisfied by the cache's
    # hashpartitioning(day, owner) ({day, owner} ⊆ grouping key), so
    # the whole stage is exchange-free, and the (day, owner)-sized
    # join that reassembles the counters is co-partitioned too. Cost
    # moves from 2 cluster-wide shuffles of 4× the entries to 3 extra
    # memory-local scans of the materialized artifact (guide §2.3/§2.4
    # — aggregate before you shuffle; remove shuffles outright).
    # COUNT(DISTINCT x) ignores NULLs, so each branch filters its
    # column first and a group whose values are all NULL re-enters as
    # 0 via the left join's coalesce — bit-equal to the fused form.
    term = digest_term(F.col("event_id").cast("long"), F.col("token_id"))
    base = entries.groupBy("day", "owner").agg(
        F.count("*").alias("n_entries"),
        digest_agg(term).alias("storage_digest"),
    )

    def n_distinct(col: str, alias: str) -> DataFrame:
        return (
            entries.filter(F.col(col).isNotNull())
            .select("day", "owner", col)
            .distinct()
            .groupBy("day", "owner")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    acct = (
        base.join(n_distinct("event_id", "n_uniq"), ["day", "owner"], "left")
        .join(n_distinct("token_id", "n_keys"), ["day", "owner"], "left")
        .join(n_distinct("location", "n_locations"), ["day", "owner"], "left")
        .select(
            "day",
            "owner",
            "n_entries",
            F.coalesce("n_uniq", F.lit(0)).alias("n_uniq"),
            F.coalesce("n_keys", F.lit(0)).alias("n_keys"),
            F.coalesce("n_locations", F.lit(0)).alias("n_locations"),
            "storage_digest",
        )
    )

    # -- stage 4: digest-equal via independent re-fold, then linking ----
    partials = entries.groupBy(
        "day", "owner", F.pmod(F.col("event_id"), F.lit(4)).alias("bucket")
    ).agg(digest_agg(term).alias("pd"))
    refolded = partials.groupBy("day", "owner").agg(
        F.pmod(F.sum("pd"), F.lit(DIGEST_PRIME)).cast("long").alias("storage_digest_b")
    )
    linked = acct.join(refolded, ["day", "owner"]).select(
        "*",
        (F.col("storage_digest") == F.col("storage_digest_b")).alias("is_linked"),
        (F.col("n_entries") == F.col("n_uniq")).alias("length_ok"),
        (F.col("n_keys") == F.col("n_locations")).alias("extract_ok"),
    )

    # -- stage 5: per-day state commitment + block-DB chain -------------
    state_term = digest_term(
        F.col("owner").cast("long"), F.col("storage_digest").cast("long")
    )
    # day-level rollup pinned too: the epoch-offset build and the final
    # chain join both read it (days-sized, not corpus-sized)
    blocks = persist_tracked(
        linked.groupBy("day").agg(
            F.count("*").alias("n_accounts"),
            F.sum("n_entries").alias("n_entries"),
            F.sum(F.col("is_linked").cast("int")).cast("long").alias("n_linked"),
            F.sum(F.col("length_ok").cast("int")).cast("long").alias("n_length_ok"),
            F.sum(F.col("extract_ok").cast("int")).cast("long").alias("n_extract_ok"),
            digest_agg(state_term).alias("state_digest"),
        ).withColumn("epoch", F.trunc("day", "month"))
    )

    # two-level prefix sum (A9's pattern): per-epoch partitioned window
    # + broadcast epoch offsets — nothing single-partition
    epoch_tot = blocks.groupBy("epoch").agg(F.sum("state_digest").alias("etot"))
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
        blocks.join(F.broadcast(offsets), "epoch")
        .withColumn(
            "chain_digest",
            F.pmod(
                F.col("offset") + F.sum("state_digest").over(w),
                F.lit(DIGEST_PRIME),
            ).cast("long"),
        )
        .select(
            "day",
            "n_accounts",
            "n_entries",
            "n_linked",
            "n_length_ok",
            "n_extract_ok",
            "state_digest",
            "chain_digest",
        )
    )


_RANGE = f"ts >= TIMESTAMP '{T_MIN}' AND ts < TIMESTAMP '{T_MAX}'"
_TOKEN = "CAST(json_extract_string(props, '$.k') AS BIGINT)"
_TERM = f"(event_id * {MIX} + {_TOKEN.replace('props', 'props')} * 97) % {DIGEST_PRIME}"

# the stage SQL bodies composed as chained CTEs — the C25 oracle pattern
_ORACLE = f"""
    WITH entries AS (
        SELECT CAST(ts AS DATE) AS day, user_id AS owner, event_id,
               {_TOKEN} AS token_id,
               sha256(lpad(lower(to_hex({_TOKEN})), 64, '0')
                      || lpad(lower(to_hex({MAPPING_SLOT})), 64, '0'))
                   AS location
        FROM events
        WHERE {_RANGE} AND event_type = 'purchase' AND {_TOKEN} IS NOT NULL
    ),
    acct AS (
        SELECT day, owner,
               COUNT(*) AS n_entries,
               COUNT(DISTINCT event_id) AS n_uniq,
               COUNT(DISTINCT token_id) AS n_keys,
               COUNT(DISTINCT location) AS n_locations,
               CAST(SUM((event_id * {MIX} + token_id * 97) % {DIGEST_PRIME})
                    % {DIGEST_PRIME} AS BIGINT) AS storage_digest
        FROM entries GROUP BY 1, 2
    ),
    partials AS (
        SELECT day, owner, event_id % 4 AS bucket,
               CAST(SUM((event_id * {MIX} + token_id * 97) % {DIGEST_PRIME})
                    % {DIGEST_PRIME} AS BIGINT) AS pd
        FROM entries GROUP BY 1, 2, 3
    ),
    refolded AS (
        SELECT day, owner,
               CAST(SUM(pd) % {DIGEST_PRIME} AS BIGINT) AS storage_digest_b
        FROM partials GROUP BY 1, 2
    ),
    blocks AS (
        SELECT a.day,
               COUNT(*) AS n_accounts,
               CAST(SUM(a.n_entries) AS BIGINT) AS n_entries,
               CAST(SUM(CASE WHEN a.storage_digest = r.storage_digest_b
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_linked,
               CAST(SUM(CASE WHEN a.n_entries = a.n_uniq
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_length_ok,
               CAST(SUM(CASE WHEN a.n_keys = a.n_locations
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_extract_ok,
               CAST(SUM((a.owner * {MIX} + a.storage_digest * 97)
                        % {DIGEST_PRIME}) % {DIGEST_PRIME} AS BIGINT)
                   AS state_digest
        FROM acct a JOIN refolded r ON a.day = r.day AND a.owner = r.owner
        GROUP BY a.day
    )
    SELECT day, n_accounts, n_entries, n_linked, n_length_ok, n_extract_ok,
           state_digest,
           CAST(SUM(state_digest) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                % {DIGEST_PRIME} AS BIGINT) AS chain_digest
    FROM blocks
"""

QUERIES = {
    "euclid_preprocessing_pipeline": preprocessing_pipeline,
}

ORACLES = {
    "euclid_preprocessing_pipeline": _ORACLE,
}
