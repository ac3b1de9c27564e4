"""Streaming block-DB analog (SURVEY.md §2.A9 / §2.D4-D5).

The reference's block DB is an append-only IVC structure: every new block
is appended and the root commitment is updated incrementally
(mr-plonky2-circuits/src/block/mod.rs). The Spark-native equivalents:

- `windowed_event_counts`: Structured Streaming with watermark + windowed
  aggregation — the standing query over the append stream.
- `IncrementalDigest` via `foreachBatch`: each micro-batch folds its
  order-independent digest into a running chain commitment — the IVC
  step function. Exactly-once is the shared batch-id watermark
  (streaming/sink.py), with the chain and row count saved in its state
  file: across driver restarts when a `state_path` is given, within
  the process otherwise. The fold needs nothing of its own: it is one
  in-memory update, applied whole or not at all.

State stays O(windows) / O(1): the watermark bounds the agg state, the
chain folds to a single value.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from euclid_spark.functions.hashing import DIGEST_PRIME, digest_agg, digest_term
from euclid_spark.streaming.sink import BatchSink, read_feed

# events schema as stored in parquet (ts: microsecond TIMESTAMP_NTZ)
EVENTS_NS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream over a directory of event parquet files; new
    files are discovered per micro-batch (the append-only ingest path)."""
    raw = read_feed(spark, src_dir, EVENTS_NS_SCHEMA)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_event_counts(stream: DataFrame) -> DataFrame:
    """Watermarked 1-hour tumbling aggregation per event type."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@dataclass
class IncrementalDigest(BatchSink):
    """foreachBatch sink folding each micro-batch into a chain commitment.

    chain' = (chain + batch_digest) mod P — associative, so the final
    chain equals the batch-computed digest of the full table. `chain`
    and `n_rows` are saved with the watermark (sink.py), so a batch
    replayed after a driver restart is skipped, not double-counted."""

    chain: int = 0
    n_rows: int = 0
    last_batch_id: int = -1
    state_path: str | None = None

    STATE = ("chain", "n_rows")

    def __post_init__(self) -> None:
        self._load()

    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        term = digest_term(
            F.col("event_id").cast("long"), F.col("user_id").cast("long")
        )
        row = batch_df.agg(
            digest_agg(term).alias("d"), F.count("*").alias("n")
        ).collect()[0]
        if row["n"]:
            self.chain = (self.chain + row["d"]) % DIGEST_PRIME
            self.n_rows += row["n"]
