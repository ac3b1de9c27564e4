"""Catalog: load a scale-factor directory of parquet tables and register
them as temp views.

The reference's "preprocessing" phase materializes three databases
(storage / state / block — mr-plonky2-circuits/src/api.rs:49-68); here the
analogous catalog is a set of columnar parquet tables. Parquet scans give
Catalyst predicate pushdown + column pruning for free, which is the
scale-path equivalent of the reference's key-addressed Merkle lookups.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_READER_LOCK = threading.Lock()
_READER_MEMO: "dict[tuple, DataFrame]" = {}


def _path_signature(path: str) -> "tuple | None":
    """Cheap identity of a parquet path: (realpath, mtime_ns, size) of
    the file, or of the directory inode for Spark-written directories.
    Directory mtime changes whenever entries are added/removed/renamed —
    which covers every Spark/os.rename write pattern used here (writers
    always create new part-file names; artifacts land via tmp→rename).
    Returns None when the path can't be stat'd locally (remote
    filesystems) — the caller then skips memoization entirely."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (os.path.realpath(path), st.st_mtime_ns, st.st_size)


def cached_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` with the constructed READER memoized
    per (session, path identity). Building a parquet DataFrame costs
    ~100-130 ms of driver work (py4j round trips, file listing, footer
    schema read) before any row is touched; the engine's queries read
    the same corpus tables and served artifacts over and over, so the
    lazy scan node is built once and every consumer stacks its own
    projections/filters on top. No DATA is cached — each action still
    executes the scan from parquet (and column pruning / predicate
    pushdown resolve per query exactly as with a fresh reader). The
    memo key includes the path's (mtime, size) signature, so a
    replaced corpus or artifact gets a fresh reader; a stopped
    session's entries are keyed out by applicationId."""
    sig = _path_signature(path)
    if sig is None:  # remote/unstatable path: no memo, plain reader
        return spark.read.parquet(path)
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:  # session half-stopped — behave as before
        return spark.read.parquet(path)
    key = (app_id, sig)
    with _READER_LOCK:
        df = _READER_MEMO.get(key)
    if df is not None:
        return df
    df = spark.read.parquet(path)
    with _READER_LOCK:
        _READER_MEMO[key] = df
    return df


_POOL_LOCK = threading.Lock()
_FETCH_POOL = None


def collect_all(*dfs: DataFrame) -> "list[list]":
    """Collect several INDEPENDENT bounded fetches as CONCURRENT Spark
    jobs (guide §2.6: actions are only sequential because the driver
    calls them sequentially). Each input must be a bounded fetch by
    construction (tile covers, edge windows, ≤L key sets — the kinds of
    driver round trips the response faces make); overlapping them
    collapses n sequential scheduling round trips into one wave. The
    pool is persistent so worker threads keep their py4j connections
    (a per-call pool pays connection setup per thread, erasing the
    win — measured 285 ms vs 81 ms for a 3-fetch wave)."""
    global _FETCH_POOL
    if len(dfs) == 1:
        return [dfs[0].collect()]
    with _POOL_LOCK:
        if _FETCH_POOL is None:
            from concurrent.futures import ThreadPoolExecutor

            _FETCH_POOL = ThreadPoolExecutor(
                max_workers=4, thread_name_prefix="bounded-fetch"
            )
    return list(_FETCH_POOL.map(lambda d: d.collect(), dfs))


# fallback path → the times this process took it. Each path also logs a
# WARNING; `registry.run_face`'s record carries a run's delta of every
# counter under `fallbacks`, so a degraded run shows in its record.
FALLBACKS: "dict[str, int]" = {
    "local_frame_rows": 0,  # local_frame: Arrow → row path
    "footer_span_fold": 0,  # range_tree._events_footer: footers → fold
}
_FALLBACKS_LOCK = threading.Lock()  # a stream's sink thread counts too


def count_fallback(path: str) -> None:
    """Count one taking of the fallback `path` (a FALLBACKS key)."""
    with _FALLBACKS_LOCK:
        FALLBACKS[path] += 1


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A SMALL local relation (driver-held rows → DataFrame) through the
    pandas/Arrow path: `createDataFrame(list, ddl)` serializes rows via
    pickle one at a time and costs ~0.8 s to execute even for 50 rows;
    the same rows through a pandas frame ride Arrow (~0.08 s), and no
    rows an empty Arrow table, which runs no Spark job at all. Falls
    back to the list path when pandas can't represent the rows (exotic
    nesting) — behavior, schema and values are identical either way."""
    import pandas as pd
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    cols = [c.split()[0].strip("`") for c in ddl.split(",")]
    try:
        if not rows:
            schema = StructType.fromDDL(ddl)
            return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)
        pdf = pd.DataFrame.from_records(list(rows), columns=cols)
        return spark.createDataFrame(pdf, ddl)
    except Exception as ex:  # noqa: BLE001 — fall back to the classic path
        # loud on purpose: every owner-scoped query-phase answer goes
        # through here, and the row path is ~10× slower
        import logging

        logging.getLogger(__name__).warning(
            "local_frame: Arrow path fell back to the row path for %r (%s)",
            ddl, ex,
        )
        count_fallback("local_frame_rows")
        return spark.createDataFrame(list(rows), ddl)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table as a DataFrame keyed by name."""
    dfs = {t: cached_parquet(spark, f"{sf_dir}/{t}.parquet") for t in TABLES if t != "events"}
    dfs["events"] = load_events(spark, sf_dir)
    return dfs


def _ntz_lit(date_str: str):
    """TIMESTAMP_NTZ literal from an ISO date/datetime string — compared
    against the stored `ts` column as naive wall time, no zone shifts
    (a Python-datetime literal would be interpreted in the JVM's local
    zone; the string→NTZ cast is zone-independent)."""
    return F.lit(date_str).cast("timestamp_ntz")


def load_events(
    spark: SparkSession,
    sf_dir: str,
    t_min: str | None = None,
    t_max: str | None = None,
) -> DataFrame:
    """Load the events table. `ts` is stored as a microsecond
    TIMESTAMP_NTZ parquet column (naive UTC wall time).

    Range bounds are applied on the stored column BEFORE any conversion:
    timestamp min/max predicates push down to the parquet scan
    (row-group pruning), which is the block-range pruning of the
    reference's block DB — `ts` is the "block number".

    The returned `ts` is cast to the session-zoned TIMESTAMP type; every
    session this engine builds pins spark.sql.session.timeZone=UTC
    (session.py / registry.py), so the cast is instant-preserving and
    date_trunc/window semantics match the UTC-naive DuckDB oracles.
    """
    df = cached_parquet(spark, f"{sf_dir}/events.parquet")
    if t_min is not None:
        df = df.filter(F.col("ts") >= _ntz_lit(t_min))
    if t_max is not None:
        df = df.filter(F.col("ts") < _ntz_lit(t_max))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load tables and register each as a same-named temp view."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
