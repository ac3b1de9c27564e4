"""Day-partitioned event layout (SURVEY.md §6 / §2.D18) — the physical
layout the 100 TB sizing worksheet assumes.

The reference's whole query model is block-range scoped (every proof
carries [B_min, B_max]); at scale that only works if a range query
READS only its range. Hive-style partitioning on the derived day column
turns the events directory into one subdirectory per day, and a filter
on `day` becomes a PartitionFilter: pruned directories are never listed,
never opened — scan cost ∝ range width, not corpus size. (Locally the
unpartitioned reads get row-group pruning via PushedFilters on ts; the
partitioned layout is the stronger guarantee: whole files skipped, and
`ts`-derived predicates still push down WITHIN each day's files.)

tests/test_partitioned.py asserts the plan carries a non-empty
PartitionFilters for the range query, that pruning reads strictly fewer
files, and that results equal the unpartitioned scan."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from euclid_spark import artifacts


def write_events_partitioned(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """events → parquet partitioned by event day (one directory per
    day; Hive-style `day=YYYY-MM-DD` paths). At 100 TB add a coarser
    top level (month) if the file count per listing matters."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = ev.withColumn("day", F.to_date("ts"))
    ev.write.mode("overwrite").partitionBy("day").parquet(out_dir)


def read_events_range(
    spark: SparkSession, part_dir: str, day_from: str, day_to: str
) -> DataFrame:
    """Range scan over the partitioned layout: the `day` predicate is a
    PARTITION filter (directory pruning), not just a row-group one."""
    ev = spark.read.parquet(part_dir)
    return ev.filter((F.col("day") >= day_from) & (F.col("day") < day_to))


EVENTS_BY_DAY = artifacts.Artifact(
    "events_by_day", "events", dict(op="events_by_day")
)


def serve_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """The day-partitioned layout as a fingerprint-keyed DISK ARTIFACT
    directory (the ingest-time rewrite a production deployment runs
    once per corpus version), built through `artifacts.ensure` and
    returned as the directory path the partition-pruned reads point
    at."""
    return artifacts.ensure(
        EVENTS_BY_DAY.path(sf_dir),
        lambda: spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
            "day", F.to_date("ts")
        ),
        partition_by="day",
    )


def day_partitioned_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D18's QUERY FACE (r7, VERDICT r6 #7): the A1-style block-range
    scan answered from the day-partitioned layout — the day predicates
    become PartitionFilters (pruned directories never listed or
    opened; scan ∝ range width, the property every [B_min, B_max]
    query at 100 TB depends on), while the oracle runs the plain
    ts-range filter over the unpartitioned table. Result invariance of
    the LAYOUT is what the gate checks — the D10 bucketed-join
    precedent. tests/test_partitioned.py asserts the face's
    post-pruning numFiles == days-in-range."""
    import glob
    import os

    from euclid_spark.operators.euclid import T_MAX, T_MIN

    part_dir = serve_partitioned_events(spark, sf_dir)
    if not glob.glob(os.path.join(part_dir, "day=*")):
        # zero-row corpus: a 0-row partitioned write creates no day
        # directories and the bare read cannot infer a schema
        return spark.createDataFrame(
            [],
            "event_id long, user_id long, day date, value double, "
            "event_type string",
        )
    return read_events_range(spark, part_dir, T_MIN, T_MAX).select(
        "event_id", "user_id", "day", "value", "event_type"
    )


def _oracle_day_range() -> str:
    from euclid_spark.operators.euclid import T_MAX, T_MIN

    return f"""
        SELECT event_id, user_id, CAST(ts AS DATE) AS day, value, event_type
        FROM events
        WHERE ts >= TIMESTAMP '{T_MIN}' AND ts < TIMESTAMP '{T_MAX}'
    """


QUERIES = {
    "euclid_day_partitioned_range": day_partitioned_range,
}

ORACLES = {
    "euclid_day_partitioned_range": _oracle_day_range(),
}
