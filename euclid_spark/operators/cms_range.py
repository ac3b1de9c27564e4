"""Day-range heavy hitters from served CMS tiles (SURVEY.md §2.B53) —
the frequency member of the range-serving family (B51 quantiles, B52
distinct, A25 sums): per-day count-min tiles (the structure B44's D20
`count_min_sketch` parity spec maintains) merged cell-wise over an
arbitrary day range, probed for the range's exact top-K — estimate and
the (always ≥ 0) overcount beside the exact counts, the full sketch
audit answered from tiles whose row count is days × CMS_ROWS × CMS_W,
never the range's events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from euclid_spark.catalog import cached_parquet

from euclid_spark.operators.relational import CMS_ROWS, CMS_TOP, CMS_W


def _bucket(row_col: F.Column, key_col: F.Column) -> F.Column:
    """B44's md5 cell hash — kept textually identical so tiles built
    here merge with any other CMS tile of the same shape."""
    h = F.md5(
        F.concat_ws("|", row_col.cast("string"), key_col.cast("string"))
    )
    return F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(CMS_W)
    )


def cms_day_tiles_path(spark: SparkSession, sf_dir: str) -> str:
    """Path of the per-day CMS tiles (day, r, b, c), a fingerprint-keyed
    ARTIFACT — built once at ingest, maintained incrementally by the
    D20 `count_min_sketch` spec's monoid."""
    from euclid_spark import artifacts

    def build() -> DataFrame:
        ev = cached_parquet(spark, f"{sf_dir}/events.parquet").select(
            F.to_date("ts").alias("day"),
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(CMS_ROWS - 1))).alias("r"),
        )
        return (
            ev.select("day", "r", _bucket(F.col("r"), F.col("user_id")).alias("b"))
            .groupBy("day", "r", "b")
            .agg(F.count("*").alias("c"))
        )

    fp = artifacts.corpus_fingerprint(
        [f"{sf_dir}/events.parquet"], op="cms_day_tiles", r=CMS_ROWS, w=CMS_W
    )
    return artifacts.ensure("cms_day_tiles", fp, build)


def cms_range_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B53 — heavy hitters over an arbitrary day range from the merged
    tiles (⅕..⅘ probe bounds, the B51/B52 pattern)."""
    from datetime import timedelta

    from euclid_spark import artifacts

    path = cms_day_tiles_path(spark, sf_dir)
    tiles = cached_parquet(spark, path)
    # tile-span parameter fetch from parquet FOOTER statistics (no
    # Spark job), read after the artifact is ensured
    d0, d1 = artifacts.footer_stats(path).span("day")
    if d0 is None:  # zero-row corpus
        return spark.createDataFrame(
            [],
            "user_id long, exact_n long, est_n long, overcount long, rk int",
        )
    span = (d1 - d0).days
    d_lo = d0 + timedelta(days=span // 5)
    d_hi = d0 + timedelta(days=span * 4 // 5)

    cms = (
        tiles.filter((F.col("day") >= d_lo) & (F.col("day") < d_hi))
        .groupBy("r", "b")
        .agg(F.sum("c").alias("c"))
    )
    ev = (
        cached_parquet(spark, f"{sf_dir}/events.parquet")
        .select(F.to_date("ts").alias("day"), "user_id")
        .filter((F.col("day") >= d_lo) & (F.col("day") < d_hi))
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(CMS_TOP)
        .withColumn(
            # constant (but non-foldable: lit(0) would be optimized away)
            # partition key over the LIMIT-CMS_TOP rows — bounded input,
            # silences WindowExec's no-partition warning
            "rk",
            F.row_number().over(
                Window.partitionBy(
                    F.col("exact_n") - F.col("exact_n")
                ).orderBy(F.desc("exact_n"), "user_id")
            ),
        )
    )
    probes = top.select(
        "user_id",
        "exact_n",
        "rk",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_ROWS - 1))).alias("r"),
    ).withColumn("b", _bucket(F.col("r"), F.col("user_id")))
    return (
        probes.join(F.broadcast(cms), ["r", "b"])
        .groupBy("user_id", "exact_n", "rk")
        .agg(F.min("c").cast("long").alias("est_n"))
        .select(
            "user_id",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).cast("long").alias("overcount"),
            "rk",
        )
    )


QUERIES = {
    "rel_cms_range_topk": cms_range_topk,
}

ORACLES = {
    "rel_cms_range_topk": f"""
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
        cells AS (
            SELECT r, CAST('0x' || substr(md5(r::VARCHAR || '|' ||
                       user_id::VARCHAR), 1, 8) AS BIGINT) % {CMS_W} AS bkt,
                   COUNT(*) AS c
            FROM ev, unnest(range(0, {CMS_ROWS})) AS t(r)
            GROUP BY 1, 2
        ),
        top AS (
            SELECT user_id, COUNT(*) AS exact_n,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id) AS rk
            FROM ev GROUP BY user_id
            ORDER BY exact_n DESC, user_id LIMIT {CMS_TOP}
        ),
        probes AS (
            SELECT t.user_id, t.exact_n, t.rk, g.r,
                   CAST('0x' || substr(md5(g.r::VARCHAR || '|' ||
                        t.user_id::VARCHAR), 1, 8) AS BIGINT) % {CMS_W} AS bkt
            FROM top t, unnest(range(0, {CMS_ROWS})) AS g(r)
        )
        SELECT p.user_id, CAST(p.exact_n AS BIGINT) AS exact_n,
               CAST(MIN(c.c) AS BIGINT) AS est_n,
               CAST(MIN(c.c) - p.exact_n AS BIGINT) AS overcount,
               CAST(p.rk AS INT) AS rk
        FROM probes p JOIN cells c ON c.r = p.r AND c.bkt = p.bkt
        GROUP BY p.user_id, p.exact_n, p.rk
    """,
}
