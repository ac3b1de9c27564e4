"""Day-range heavy hitters from served CMS tiles (SURVEY.md §2.B53) —
the frequency member of the range-serving family (B51 quantiles, B52
distinct, A25 sums): per-day count-min tiles (`CMS_DAY_TILES`, B44's
sketch keyed by day, maintained by the D20 `count_min_sketch` spec)
merged cell-wise over an arbitrary day range, probed for the range's
exact top-K — estimate and the (always ≥ 0) overcount beside the exact
counts, the full sketch audit answered from tiles whose row count is
days × CMS_ROWS × CMS_W, never the range's events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from euclid_spark import artifacts
from euclid_spark.catalog import cached_parquet

from euclid_spark.monoid import Monoid
from euclid_spark.operators.relational import (
    CMS_ROWS,
    CMS_TOP,
    CMS_W,
    cms_cells,
    cms_probe,
)


def _cms_partial(events: DataFrame) -> DataFrame:
    """PER-DAY count-min sketch tiles over the batch's user_ids:
    CMS_ROWS × CMS_W bounded cells per day — the textbook
    mergeable-sketch monoid, cells ADD. A day-range estimate is the
    cell-wise sum of its tiles, and the maintained view rewrites only
    touched days."""
    return cms_cells(events.withColumn("day", F.to_date("ts")), "day")


def _cms_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("day", "r", "b")
        .agg(F.sum("c").alias("c"))
    )


CMS_DAY_TILES = Monoid(
    "count_min_sketch",
    _cms_partial,
    _cms_merge,
    artifact=artifacts.Artifact(
        "cms_day_tiles", "events", dict(op="cms_day_tiles", r=CMS_ROWS, w=CMS_W)
    ),
)


def cms_range_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B53 — heavy hitters over an arbitrary day range: the middle-days
    tiles merged cell-wise, probed by B44's audit (`cms_probe`)."""
    mid = CMS_DAY_TILES.middle_days(spark, sf_dir)
    if mid is None:  # zero-row corpus
        return spark.createDataFrame(
            [],
            "user_id long, exact_n long, est_n long, overcount long, rk int",
        )
    tiles, d_lo, d_hi = mid
    cms = tiles.groupBy("r", "b").agg(F.sum("c").alias("c"))
    ev = (
        cached_parquet(spark, f"{sf_dir}/events.parquet")
        .select(F.to_date("ts").alias("day"), "user_id")
        .filter((F.col("day") >= d_lo) & (F.col("day") < d_hi))
    )
    return cms_probe(ev, cms)


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
