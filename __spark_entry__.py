"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``euclid_spark/`` (see SURVEY.md).

Cache pins: ``queries()`` returns lazy frames, and operators that pin an
intermediate (``euclid_spark.cache``) register it under the CALLER's
current cache scope — the shared default scope unless the caller entered
``with cache.scope():``. The caller owns the release: after collecting a
frame it calls ``cache.release_all()`` or leaves its scope. A caller that
does neither keeps those pins for the life of the session.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from euclid_spark import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the Query2 analog —
    distinct mapping keys per owner over a block range (SURVEY §2.A2)."""
    return registry.queries()["euclid_q2_distinct_keys"](
        spark, "/root/testdata/sf0.001"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.queries()


def oracle_sql(sf_dir: str = "/root/testdata/sf0.01") -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each queries() key
    (keys without an oracle get the driver's rows-only check). The
    optional sf_dir parameterizes the few oracles that read a served
    model artifact as an input table; the default matches the driver's
    sf=0.01 gate, so a no-arg call behaves exactly as before."""
    return registry.oracles(sf_dir)
