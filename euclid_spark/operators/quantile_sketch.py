"""Mergeable quantile SKETCH with deterministic integer bucketing
(SURVEY.md §2.B47) — the scale path for percentiles.

Exact percentiles (B25) need a per-group sort; at 100 TB the standard
answer is a mergeable sketch (t-digest / DDSketch / HdrHistogram). The
variant here is the HdrHistogram bucket scheme (Gray & Tene's public
design; DDSketch's log-bucket idea, Masson et al. 2019, with the
log base-2 + linear sub-bucket layout): values scaled to integers,
bucket key = (bit_length, top-SUB_BITS bits below the leading bit) —
a log₂ histogram with 2^SUB_BITS linear sub-buckets per octave, giving
a ≤ 2^-SUB_BITS (≈ 6 %, at SUB_BITS=4 ≈ 3.1 % mid-bucket) relative
error bound with a FIXED bucket universe (≤ 64·16 buckets for any
int64 range).

Why this variant and not approx_percentile / a true t-digest: the
bucket function is PURE INTEGER ARITHMETIC (binary-string length,
shifts, masks) — bit-identical in any engine — so unlike B14's
approx sketches the whole pipeline (bucket counts AND the quantile
estimates read off the cumulative histogram) is hash-checked against
the DuckDB oracle, while keeping the properties that matter at scale:

- the sketch is a (group, bucket) → count table: a commutative MONOID
  (counts add), map-side combinable, mergeable across partitions /
  days / streams — declared once as per-day tiles (`HDR_DAY_TILES`,
  the D20 parity spec `hdr_quantile_tiles`);
- fixed size regardless of data volume (the CMS/B44 property);
- quantile extraction = one cumulative-sum window over ≤ ~1000
  bucket rows per group, never a data sort.

The face reports the sketch estimates BESIDE the exact interpolated
percentiles (the B44 sketch-error-audit pattern) with the relative
error gate-checked implicitly: both columns are in the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from euclid_spark import artifacts
from euclid_spark.catalog import cached_parquet
from euclid_spark.monoid import Monoid

SUB_BITS = 4  # 16 linear sub-buckets per octave
QS = (50, 90, 99)  # report p50/p90/p99


def hdr_sketch(df: DataFrame, grp: "str | list[str]", v: str) -> DataFrame:
    """(grp, nbits, sub, cnt): the mergeable sketch rows. `v` must be a
    positive BIGINT column (scale fixed-point values first). Values
    < 2^(SUB_BITS+1) get exact singleton buckets (nbits pinned to
    SUB_BITS+1, sub = v); larger values bucket by (bit length, the
    SUB_BITS bits after the leading 1).

    `grp` may be a single column name (aliased to `grp`, the original
    contract) or a list of names kept verbatim — the r13 drift tiles
    sketch per (event_type, day)."""
    lo = 1 << (SUB_BITS + 1)  # below this, buckets are exact
    if isinstance(grp, str):
        gcols, galias = [F.col(grp).alias("grp")], ["grp"]
    else:
        gcols, galias = [F.col(g) for g in grp], list(grp)
    # bit length by unrolled integer binary search — value-identical to
    # the old LENGTH(CONV(v, 10, 2)) for v ≥ 0 (the operator's stated
    # positive-BIGINT domain) but pure shifts/compares: the conv route
    # paid a decimal-string format + binary-string format PER ROW, the
    # single hot expression of the sketch build (guide §1.2 step 2).
    # The oracle keeps its printf('%b') formulation, so the comparison
    # stays cross-engine: same bucket keys, same hashes.
    staged = (
        df.select(*gcols, F.col(v).alias("v"))
        .withColumn("w32", F.expr("IF(shiftright(v, 32) > 0, 32, 0)"))
        .withColumn("r1", F.expr("shiftright(v, w32)"))
        .withColumn("w16", F.expr("IF(shiftright(r1, 16) > 0, 16, 0)"))
        .withColumn("r2", F.expr("shiftright(r1, w16)"))
        .withColumn("w8", F.expr("IF(shiftright(r2, 8) > 0, 8, 0)"))
        .withColumn("r3", F.expr("shiftright(r2, w8)"))
        .withColumn("w4", F.expr("IF(shiftright(r3, 4) > 0, 4, 0)"))
        .withColumn("r4", F.expr("shiftright(r3, w4)"))
        .withColumn("w2", F.expr("IF(shiftright(r4, 2) > 0, 2, 0)"))
        .withColumn("r5", F.expr("shiftright(r4, w2)"))
        .withColumn(
            "nbits0",
            F.expr("w32 + w16 + w8 + w4 + w2 + IF(r5 > 1, 1, 0) + 1"),
        )
        .drop("w32", "r1", "w16", "r2", "w8", "r3", "w4", "r4", "w2", "r5")
    )
    return (
        staged.select(
            *galias,
            F.when(F.col("v") < lo, F.lit(SUB_BITS + 1))
            .otherwise(F.col("nbits0"))
            .cast("int")
            .alias("nbits"),
            F.when(F.col("v") < lo, F.col("v"))
            .otherwise(
                F.expr(
                    f"shiftright(v, CAST(nbits0 - {SUB_BITS + 1} AS INT))"
                    f" & {(1 << SUB_BITS) - 1}"
                )
            )
            .cast("long")
            .alias("sub"),
        )
        .groupBy(*galias, "nbits", "sub")
        .agg(F.count("*").alias("cnt"))
    )


def _bucket_lb() -> F.Column:
    """Deterministic lower bound of a bucket — the reported estimate."""
    return F.when(F.col("nbits") == SUB_BITS + 1, F.col("sub")).otherwise(
        F.expr(
            f"shiftleft({1 << SUB_BITS} + sub,"
            f" CAST(nbits - {SUB_BITS + 1} AS INT))"
        )
    )


def hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B47 — per-returnflag price quantiles from the mergeable integer
    sketch, reported beside the exact interpolated percentiles (the
    sketch-error audit, B44's pattern). Prices fixed-point scaled
    (cents) so every step is integer-exact in both engines; quantile
    ranks use integer ceiling division (no float thresholds)."""
    li = cached_parquet(spark, f"{sf_dir}/lineitem.parquet").select(
        F.col("l_returnflag").alias("grp"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("v"),
    )
    sk = hdr_sketch(li, "grp", "v")
    w = Window.partitionBy("grp").orderBy("nbits", "sub").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = sk.select(
        "grp", "nbits", "sub", "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("grp")).alias("n"),
        _bucket_lb().alias("lb"),
    )
    # ceil(q·n/100) in integers: (q·n + 99) div 100
    ests = [
        F.round(
            F.min(
                F.when(
                    F.col("cum") >= F.floor((F.col("n") * q + 99) / 100),
                    F.col("lb"),
                )
            )
            / 100.0,
            2,
        ).alias(f"p{q}_est")
        for q in QS
    ]
    sketch_side = cum.groupBy("grp").agg(
        F.max("n").cast("long").alias("n"), *ests
    )
    # ONE percentile aggregate with the quantile array (one per-group
    # sort, not one per quantile — measured 3.1 → ~1 s at sf0.1)
    exact_side = (
        cached_parquet(spark, f"{sf_dir}/lineitem.parquet")
        .select(
            F.col("l_returnflag").alias("grp"),
            F.floor(F.col("l_extendedprice") * 100).cast("long").alias("v"),
        )
        .groupBy("grp")
        .agg(
            F.percentile("v", F.array(*[F.lit(q / 100.0) for q in QS])).alias(
                "px"
            )
        )
        .select(
            "grp",
            *[
                F.round(F.get("px", i) / 100.0, 4).alias(f"p{q}_exact")
                for i, q in enumerate(QS)
            ],
        )
    )
    return sketch_side.join(exact_side, "grp").select(
        "grp", "n",
        *[c for q in QS for c in (f"p{q}_est", f"p{q}_exact")],
    )


def _hdr_partial(events: DataFrame) -> DataFrame:
    """B47's integer log-histogram as PER-DAY tiles over event values
    (cents): a day-range quantile is the bucket-wise sum of its tiles —
    the mergeable-sketch monoid, exactly like the CMS tiles."""
    vals = events.select(
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    ).filter(F.col("v") >= 1)
    return hdr_sketch(vals, "day", "v").withColumnRenamed("grp", "day")


def _hdr_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("day", "nbits", "sub")
        .agg(F.sum("cnt").alias("cnt"))
    )


HDR_DAY_TILES = Monoid(
    "hdr_quantile_tiles",
    _hdr_partial,
    _hdr_merge,
    artifact=artifacts.Artifact(
        "hdr_day_tiles", "events", dict(op="hdr_day_tiles", sb=SUB_BITS)
    ),
)


def hdr_range_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B51 — quantiles over an ARBITRARY DAY RANGE answered from the
    served per-day sketch tiles (`HDR_DAY_TILES`): merge = bucket-wise
    count sum (the monoid), so the query reads tile rows ∝ days ×
    buckets — never the events in range. This is the serving path the
    tile artifacts exist for (a day-range p99 at 100 TB = a few thousand
    tile rows), made gate-checkable: the estimates must hash-match the
    oracle computing the same buckets from the raw rows, and the exact
    interpolated percentiles ride beside them as the error audit (B44
    pattern). Range = the middle ⅕..⅘ of the day span."""
    mid = HDR_DAY_TILES.middle_days(spark, sf_dir)
    if mid is None:  # zero-row corpus
        return spark.createDataFrame(
            [],
            "d_lo date, d_hi date, n long, "
            + ", ".join(
                f"p{q}_est double, p{q}_exact double" for q in QS
            ),
        )
    tiles, d_lo, d_hi = mid
    merged = (
        tiles.groupBy("nbits", "sub")
        .agg(F.sum("cnt").alias("cnt"))
        # constant single-group key; (nbits - nbits) rather than a literal
        # because Catalyst folds literal partition keys away and WindowExec
        # then warns about the (bounded: ≤ bucket-universe rows) bare window
        .withColumn("grp", F.col("nbits") - F.col("nbits"))
    )
    w = Window.partitionBy("grp").orderBy("nbits", "sub").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = merged.select(
        "grp", "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("grp")).alias("n"),
        _bucket_lb().alias("lb"),
    )
    ests = [
        F.round(
            F.min(
                F.when(
                    F.col("cum") >= F.floor((F.col("n") * q + 99) / 100),
                    F.col("lb"),
                )
            )
            / 100.0,
            2,
        ).alias(f"p{q}_est")
        for q in QS
    ]
    sk = cum.groupBy("grp").agg(F.max("n").cast("long").alias("n"), *ests)
    # the exact audit side scans the range rows (what the tiles avoid)
    exact = (
        cached_parquet(spark, f"{sf_dir}/events.parquet")
        .select(
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * 100).cast("long").alias("v"),
        )
        .filter(
            (F.col("v") >= 1) & (F.col("day") >= d_lo) & (F.col("day") < d_hi)
        )
        .agg(
            F.percentile("v", F.array(*[F.lit(q / 100.0) for q in QS])).alias(
                "px"
            )
        )
        .select(
            *[
                F.round(F.get("px", i) / 100.0, 4).alias(f"p{q}_exact")
                for i, q in enumerate(QS)
            ]
        )
    )
    return sk.crossJoin(F.broadcast(exact)).select(
        F.lit(d_lo).alias("d_lo"),
        F.lit(d_hi).alias("d_hi"),
        "n",
        *[c for q in QS for c in (f"p{q}_est", f"p{q}_exact")],
    )


QUERIES = {
    "rel_hdr_quantile_sketch": hdr_quantiles,
    "rel_hdr_range_quantiles": hdr_range_quantiles,
}

_LO = 1 << (SUB_BITS + 1)
_MASK = (1 << SUB_BITS) - 1

ORACLES = {
    "rel_hdr_range_quantiles": f"""
        WITH b AS (
            SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
            FROM events
        ),
        bounds AS (
            SELECT (d0 + ((d1 - d0) // 5) * INTERVAL 1 DAY)::DATE AS d_lo,
                   (d0 + (((d1 - d0) * 4) // 5) * INTERVAL 1 DAY)::DATE AS d_hi
            FROM b
        ),
        vals AS (
            SELECT CAST(FLOOR(value * 100) AS BIGINT) AS v
            FROM events, bounds
            WHERE CAST(ts AS DATE) >= d_lo AND CAST(ts AS DATE) < d_hi
              AND CAST(FLOOR(value * 100) AS BIGINT) >= 1
        ),
        keyed AS (
            SELECT v,
                   CASE WHEN v < {_LO} THEN {SUB_BITS + 1}
                        ELSE LENGTH(printf('%b', v)) END AS nbits,
                   CASE WHEN v < {_LO} THEN v
                        ELSE (v >> (LENGTH(printf('%b', v)) - {SUB_BITS + 1}))
                             & {_MASK} END AS sub
            FROM vals
        ),
        sk AS (SELECT nbits, sub, COUNT(*) AS cnt FROM keyed GROUP BY 1, 2),
        cum AS (
            SELECT nbits, sub, cnt,
                   SUM(cnt) OVER (ORDER BY nbits, sub
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(cnt) OVER () AS n,
                   CASE WHEN nbits = {SUB_BITS + 1} THEN sub
                        ELSE ({1 << SUB_BITS} + sub)
                             << (nbits - {SUB_BITS + 1}) END AS lb
            FROM sk
        ),
        est AS (
            SELECT CAST(MAX(n) AS BIGINT) AS n,
                   {", ".join(
                       f"ROUND(MIN(CASE WHEN cum >= (n * {q} + 99) // 100 "
                       f"THEN lb END) / 100.0, 2) AS p{q}_est"
                       for q in QS
                   )}
            FROM cum
        ),
        ex AS (
            SELECT {", ".join(
                       f"ROUND(quantile_cont(v, {q / 100.0}) / 100.0, 4)"
                       f" AS p{q}_exact"
                       for q in QS
                   )}
            FROM vals
        )
        SELECT bounds.d_lo, bounds.d_hi, est.n,
               {", ".join(f"est.p{q}_est, ex.p{q}_exact" for q in QS)}
        FROM est, ex, bounds
    """,
    "rel_hdr_quantile_sketch": f"""
        WITH vals AS (
            SELECT l_returnflag AS grp,
                   CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS v
            FROM lineitem
        ),
        keyed AS (
            SELECT grp, v,
                   CASE WHEN v < {_LO} THEN {SUB_BITS + 1}
                        ELSE LENGTH(printf('%b', v)) END AS nbits,
                   CASE WHEN v < {_LO} THEN v
                        ELSE (v >> (LENGTH(printf('%b', v)) - {SUB_BITS + 1}))
                             & {_MASK} END AS sub
            FROM vals
        ),
        sk AS (
            SELECT grp, nbits, sub, COUNT(*) AS cnt
            FROM keyed GROUP BY 1, 2, 3
        ),
        cum AS (
            SELECT grp, nbits, sub, cnt,
                   SUM(cnt) OVER (PARTITION BY grp ORDER BY nbits, sub
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(cnt) OVER (PARTITION BY grp) AS n,
                   CASE WHEN nbits = {SUB_BITS + 1} THEN sub
                        ELSE ({1 << SUB_BITS} + sub)
                             << (nbits - {SUB_BITS + 1}) END AS lb
            FROM sk
        ),
        sketch_side AS (
            SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
                   {", ".join(
                       f"ROUND(MIN(CASE WHEN cum >= (n * {q} + 99) // 100 "
                       f"THEN lb END) / 100.0, 2) AS p{q}_est"
                       for q in QS
                   )}
            FROM cum GROUP BY grp
        ),
        exact_side AS (
            SELECT grp,
                   {", ".join(
                       f"ROUND(quantile_cont(v, {q / 100.0}) / 100.0, 4)"
                       f" AS p{q}_exact"
                       for q in QS
                   )}
            FROM vals GROUP BY grp
        )
        SELECT s.grp, s.n,
               {", ".join(
                   f"s.p{q}_est, e.p{q}_exact" for q in QS
               )}
        FROM sketch_side s JOIN exact_side e USING (grp)
    """,
}
