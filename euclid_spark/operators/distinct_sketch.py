"""Mergeable DISTINCT-COUNT sketch with deterministic hashing
(SURVEY.md §2.B48) — linear counting (Whang, Vander-Zanden & Taylor
1990, "A linear-time probabilistic counting algorithm for database
applications"; the small-cardinality regime HyperLogLog implementations
fall back to).

B14's approx_count_distinct is engine-side HLL — rows-only at the
gate. This operator is the deterministic, ORACLE-CHECKABLE sibling:
the sketch is an m-bit bitmap, bit = md5(key) mod m — byte-identical
in any engine — packed as m/64 BIGINT words built with one bit_or
aggregation (the D16 Bloom-bitmap shape). Estimate = −m·ln(V) where
V = zero-bit fraction. Everything the gate hashes is either exact
integers (set-bit counts, exact distinct beside the estimate — the
B44/B47 sketch-error-audit pattern) or a libm-ln rounded like BM25.

At-scale properties, same as the CMS (B44) and HDR (B47) tiles:
- FIXED SIZE (m bits per group) regardless of row count;
- a commutative MONOID: bitmaps merge by bit_or — map-side
  combinable, mergeable across partitions / days / streams (per-day
  tiles declared once as `LC_DAY_TILES`, the D20 spec
  `lc_distinct_tiles`);
- one aggregation, no distinct shuffle: at 100 TB the exact
  COUNT(DISTINCT) side is what you drop, the bitmap is what you keep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from euclid_spark import artifacts
from euclid_spark.catalog import cached_parquet
from euclid_spark.monoid import Monoid

LC_BITS = 1024           # bitmap size m (supports ~1000s of distinct keys)
LC_WORDS = LC_BITS // 64


def lc_bitmap(df: DataFrame, grp: str, key: str) -> DataFrame:
    """(grp, word_idx, word): the m-bit bitmap as LC_WORDS packed
    BIGINTs per group — ONE map-side-combinable bit_or aggregation.
    Bit index = first 8 md5 hex chars of the key, mod m (the same
    ascii-arithmetic both engines compute byte-identically)."""
    bit = F.pmod(
        F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(LC_BITS),
    )
    return (
        df.select(F.col(grp).alias("grp"), bit.alias("bit"))
        .select(
            "grp",
            F.floor(F.col("bit") / 64).cast("int").alias("word_idx"),
            # shiftleft's bit count must be an expression-level int — the
            # PySpark wrapper only takes literals
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))")
            .alias("w"),
        )
        .groupBy("grp", "word_idx")
        .agg(F.bit_or("w").alias("word"))
    )


def lc_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B48 — distinct users per event type from the linear-counting
    bitmap, reported beside the exact COUNT(DISTINCT) (the sketch-
    error audit): (grp, n_rows, exact_distinct, n_set_bits,
    lc_estimate). The estimate is −m·ln(zero_fraction) rounded to 2
    decimals (libm-ln, the BM25 determinism class); the set-bit count
    is integer-exact."""
    ev = cached_parquet(spark, f"{sf_dir}/events.parquet").select(
        F.col("event_type").alias("grp"), F.col("user_id")
    )
    bm = lc_bitmap(ev, "grp", "user_id")
    setbits = bm.groupBy("grp").agg(
        F.sum(F.bit_count("word")).cast("long").alias("n_set_bits")
    )
    zero_frac = (F.lit(LC_BITS) - F.col("n_set_bits")) / F.lit(LC_BITS)
    exact = ev.groupBy("grp").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("exact_distinct"),
    )
    return exact.join(setbits, "grp").select(
        "grp",
        "n_rows",
        "exact_distinct",
        "n_set_bits",
        # a full bitmap means ln(0): the sketch is saturated (n ≫ m) —
        # report NULL, identically in the oracle
        F.when(
            F.col("n_set_bits") < LC_BITS,
            F.round(-F.lit(float(LC_BITS)) * F.log(zero_frac), 2),
        ).alias("lc_estimate"),
    )


def _lc_partial(events: DataFrame) -> DataFrame:
    """B48's distinct-user bitmap as PER-DAY tiles: a day-range distinct
    estimate is the bit_or of its tiles' words — the set-union monoid
    in packed form (bit_or is idempotent, so replay is free)."""
    keyed = events.select(F.to_date("ts").alias("day"), "user_id")
    return lc_bitmap(keyed, "day", "user_id").withColumnRenamed("grp", "day")


def _lc_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("day", "word_idx")
        .agg(F.bit_or("word").alias("word"))
    )


LC_DAY_TILES = Monoid(
    "lc_distinct_tiles",
    _lc_partial,
    _lc_merge,
    artifact=artifacts.Artifact(
        "lc_day_tiles", "events", dict(op="lc_day_tiles", m=LC_BITS)
    ),
)


def lc_range_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B52 — distinct users over an ARBITRARY DAY RANGE from the served
    per-day bitmaps (`LC_DAY_TILES`): range bitmap = bit_or of the days'
    words (the set-union monoid in packed form — cost ∝ days × words,
    never the events in range), estimate beside the exact
    COUNT(DISTINCT) over the range (the audit the tiles replace at
    scale). The B51 pattern for the distinct-count monoid; same probe
    bounds (⅕..⅘ days)."""
    mid = LC_DAY_TILES.middle_days(spark, sf_dir)
    if mid is None:  # zero-row corpus
        return spark.createDataFrame(
            [],
            "d_lo date, d_hi date, n_rows long, exact_distinct long, "
            "n_set_bits long, lc_estimate double",
        )
    tiles, d_lo, d_hi = mid
    merged = tiles.groupBy("word_idx").agg(F.bit_or("word").alias("word"))
    setbits = merged.agg(
        F.sum(F.bit_count("word")).cast("long").alias("n_set_bits")
    )
    exact = (
        cached_parquet(spark, f"{sf_dir}/events.parquet")
        .select(F.to_date("ts").alias("day"), "user_id")
        .filter((F.col("day") >= d_lo) & (F.col("day") < d_hi))
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("user_id").alias("exact_distinct"),
        )
    )
    zero_frac = (F.lit(LC_BITS) - F.col("n_set_bits")) / F.lit(LC_BITS)
    return exact.crossJoin(F.broadcast(setbits)).select(
        F.lit(d_lo).alias("d_lo"),
        F.lit(d_hi).alias("d_hi"),
        "n_rows",
        "exact_distinct",
        "n_set_bits",
        F.when(
            F.col("n_set_bits") < LC_BITS,
            F.round(-F.lit(float(LC_BITS)) * F.log(zero_frac), 2),
        ).alias("lc_estimate"),
    )


QUERIES = {
    "rel_linear_count_distinct": lc_distinct,
    "rel_lc_range_distinct": lc_range_distinct,
}

ORACLES = {
    "rel_lc_range_distinct": f"""
        WITH b AS (
            SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
            FROM events
        ),
        bounds AS (
            SELECT (d0 + ((d1 - d0) // 5) * INTERVAL 1 DAY)::DATE AS d_lo,
                   (d0 + (((d1 - d0) * 4) // 5) * INTERVAL 1 DAY)::DATE AS d_hi
            FROM b
        ),
        ev AS (
            SELECT user_id FROM events, bounds
            WHERE CAST(ts AS DATE) >= d_lo AND CAST(ts AS DATE) < d_hi
        ),
        bits AS (
            SELECT CAST('0x' || substr(md5(user_id::VARCHAR), 1, 8) AS BIGINT)
                       % {LC_BITS} AS bit
            FROM ev
        ),
        words AS (
            SELECT bit // 64 AS word_idx,
                   bit_or(CASE WHEN bit % 64 = 63
                               THEN -9223372036854775807 - 1
                               ELSE 1::BIGINT << (bit % 64) END) AS word
            FROM bits GROUP BY 1
        ),
        sb AS (
            SELECT CAST(SUM(bit_count(word)) AS BIGINT) AS n_set_bits
            FROM words
        ),
        ex AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
            FROM ev
        )
        SELECT bounds.d_lo, bounds.d_hi, ex.n_rows, ex.exact_distinct,
               sb.n_set_bits,
               CASE WHEN sb.n_set_bits < {LC_BITS}
                    THEN ROUND(-{float(LC_BITS)!r}
                               * ln(({LC_BITS} - sb.n_set_bits) * 1.0
                                    / {LC_BITS}), 2)
               END AS lc_estimate
        FROM ex, sb, bounds
    """,
    "rel_linear_count_distinct": f"""
        WITH ev AS (
            SELECT event_type AS grp, user_id FROM events
        ),
        bits AS (
            SELECT grp,
                   CAST('0x' || substr(md5(user_id::VARCHAR), 1, 8) AS BIGINT)
                       % {LC_BITS} AS bit
            FROM ev
        ),
        words AS (
            -- bit 63 is the sign bit: DuckDB's signed << overflows on
            -- 1<<63, so spell the min-long pattern out (Spark's
            -- shiftleft wraps to the same two's-complement value)
            SELECT grp, bit // 64 AS word_idx,
                   bit_or(CASE WHEN bit % 64 = 63
                               THEN -9223372036854775807 - 1
                               ELSE 1::BIGINT << (bit % 64) END) AS word
            FROM bits GROUP BY 1, 2
        ),
        sb AS (
            SELECT grp, CAST(SUM(bit_count(word)) AS BIGINT) AS n_set_bits
            FROM words GROUP BY grp
        ),
        ex AS (
            SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
            FROM ev GROUP BY grp
        )
        SELECT e.grp, e.n_rows, e.exact_distinct, s.n_set_bits,
               CASE WHEN s.n_set_bits < {LC_BITS}
                    THEN ROUND(-{float(LC_BITS)!r}
                               * ln(({LC_BITS} - s.n_set_bits) * 1.0
                                    / {LC_BITS}), 2)
               END AS lc_estimate
        FROM ex e JOIN sb s USING (grp)
    """,
}
