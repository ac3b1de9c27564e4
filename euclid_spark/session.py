"""Tuned SparkSession factory.

Local testing runs a single JVM (local[N]); the configuration below is
chosen so the same logical plans scale to a multi-executor cluster:
AQE for runtime re-planning (skew-join splitting, partition coalescing),
shuffle partitions sized to cores locally (cluster deploys override via
spark.sql.shuffle.partitions), Arrow for any pandas exchange, UTC session
time so results are timezone-stable against external oracles.
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager
from typing import Iterator, Mapping

from pyspark.sql import SparkSession


@contextmanager
def scoped_confs(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set runtime SQL confs for the duration of a block, then restore
    each to its prior value (or unset it if it had none). Operators that
    need a conf only for work fully contained in their own call use this
    instead of mutating the shared session permanently."""
    sentinel = object()
    prior: dict[str, object] = {}
    for k, v in confs.items():
        try:
            prior[k] = spark.conf.get(k)
        except Exception:
            prior[k] = sentinel
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in prior.items():
            if old is sentinel:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def _knob(name: str, default: str, pattern: str, what: str) -> str:
    """A deploy knob from the environment, checked before the JVM sees
    it: a typo fails here, naming the knob, instead of surfacing as a
    Spark master-URL or JVM-launch error."""
    value = os.environ.get(name, default)
    if not re.fullmatch(pattern, value):
        raise ValueError(f"{name}={value!r} is not {what}")
    return value


def get_session(app_name: str = "euclid_spark") -> SparkSession:
    cpus = _knob(
        "SPARK_GRAFT_CPUS", "32", r"[1-9][0-9]*", "a positive integer"
    )
    driver_mem = _knob(
        "EUCLID_SPARK_DRIVER_MEM", "16g", r"[1-9][0-9]*(?i:[kmgt]b?)?",
        "a JVM memory size such as 4g or 512m",
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        # a long-lived session compiles hundreds of whole-stage codegen
        # classes (the full-registry sweep runs 120+ queries in one JVM);
        # the JVM default 240 MB code cache fills, JIT compilation stops,
        # and every later query runs interpreted 3-5× slower — measured
        # as a creeping warm-pass slowdown late in bench.py. Only takes
        # effect at JVM launch (getOrCreate), which is where this sits.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # transformWithState (streaming/tws.py) requires the RocksDB
        # state store; making it the session default is also the right
        # production choice (bounded executor memory for large state)
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
