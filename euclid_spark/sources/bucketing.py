"""Bucketed table layout (SURVEY.md §6): pre-shuffle data once at write
time so every later join/aggregation on the bucket key is co-located —
no Exchange in the plan. At 100 TB this converts the per-query shuffle of
a fact-fact join (the dominant cost) into a one-time layout decision,
exactly how the reference pre-builds its storage DB keyed by mapping key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from euclid_spark import artifacts


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = 16
) -> None:
    """Persist as a bucketed+sorted managed table keyed for co-located
    joins (sortBy enables sort-merge without a per-query sort)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two tables bucketed on the same key: Catalyst sees the
    matching output partitioning and elides both Exchanges."""
    return spark.table(left_table).join(spark.table(right_table), on=key)


# the bucketed tables are per-process managed tables, each named by its
# declaration's name and a fingerprint prefix of its source table
_BUCKETED = (
    artifacts.Artifact("li_bkt", "lineitem", dict(op="bucketed_join")),
    artifacts.Artifact("ord_bkt", "orders", dict(op="bucketed_join")),
)


def rel_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10's registry face — the SHUFFLE-FREE FACT-FACT JOIN: lineitem
    and orders are persisted once as bucketed+sorted tables on the
    order key (the one-time layout decision that deletes the dominant
    per-query shuffle at 100 TB), then joined co-located — Catalyst
    sees matching output partitioning and elides both Exchanges (the
    plan shape tests/test_bucketing.py asserts). The face rolls the
    join up per order month; bucketing is result-invariant, so the
    oracle is the plain join + rollup.

    The bucketed tables are per-process artifacts: with no external
    metastore a fresh session re-registers them (one write each, the
    ingest cost); the monthly rollup itself never re-shuffles the join.
    DECIMAL revenue so the total is addition-order independent."""
    from pyspark.sql import functions as F

    import os
    import shutil
    from urllib.parse import urlparse

    li_t, o_t = (f"{a.name}_{a.fingerprint(sf_dir)[:12]}" for a in _BUCKETED)
    # bucketing metadata lives in the session catalog; with no external
    # metastore a fresh process must re-register. A warehouse directory
    # left by a previous process is an orphan (its bucketing metadata
    # died with that catalog) — remove it before the managed write, or
    # saveAsTable refuses the location.
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def _ensure(table: str, df: DataFrame) -> None:
        if spark.catalog.tableExists(table):
            return
        shutil.rmtree(os.path.join(wh, table.lower()), ignore_errors=True)
        write_bucketed(df, table, "l_orderkey")

    _ensure(
        li_t,
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
    )
    _ensure(
        o_t,
        spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
        ),
    )
    joined = bucketed_join(spark, li_t, o_t, "l_orderkey")
    return joined.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.count("*").alias("n_lines"),
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(24,8)"
                )
            ),
            2,
        )
        .cast("double")
        .alias("revenue"),
    )


QUERIES = {"rel_bucketed_colocated_join": rel_bucketed_colocated_join}

ORACLES = {
    "rel_bucketed_colocated_join": """
        SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(24,8))), 2) AS DOUBLE)
                   AS revenue
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1
    """
}
