"""One exactly-once micro-batch sink for every `foreachBatch` stream.

Micro-batch ids from one checkpoint strictly increase, and a restarted
query replays the last batch it had not committed (Structured Streaming,
SIGMOD 2018). A sink that skips every id at or below the last one it
applied is therefore exactly-once — the append-only IVC discipline of
the reference's block DB (mr-plonky2-circuits/src/block/mod.rs): each
block is applied once, on top of the previous commitment.

`BatchSink` is the only place that watermark is kept:

- `last_batch_id`, and the optional JSON state file that holds it beside
  the subclass's `STATE` attributes, written temp-then-rename (atomic on
  POSIX) after each applied batch and reloaded on construction;
- `process(batch_df, batch_id)` — the foreachBatch callback: skip an
  applied id, run the subclass's `apply` in its own cache scope
  (cache.py: the batch's pins are freed when it returns, and no other
  owner's pins are touched), then stamp and save. An exception in
  `apply` leaves the watermark, the `STATE` attributes and the file as
  they were, so the replay applies the batch again;
- `start(stream, checkpoint)` — the availableNow query over `process`.

What else makes a replay of a half-applied batch safe (a watermark
stamped into the data rows, anti-joins against a store, a root ledger)
is specific to a sink and lives in its `apply`. Beside the base sit the
helpers every stream shares: `read_feed` (the file-source feed),
`_read_or_empty` (a state store that may not exist yet) and `drain`
(wait for quiescence, refuse a partial state).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from euclid_spark.cache import scope

STREAM_TIMEOUT_S = 600


class BatchSink:
    """Base of the foreachBatch sinks. A subclass implements `apply` and
    lists in `STATE` the attributes its state file carries beside
    `last_batch_id`. State-directory sinks call `__init__(spark,
    state_dir)` (state file `meta.json`); the dataclass sinks set
    `state_path` themselves (None: the watermark lives in-process only)
    and call `_load()`."""

    STATE: tuple = ()
    state_path: "str | None" = None
    last_batch_id: int = -1

    def __init__(self, spark: SparkSession, state_dir: str) -> None:
        self.spark = spark
        self.state_dir = state_dir
        self.state_path = os.path.join(state_dir, "meta.json")
        os.makedirs(state_dir, exist_ok=True)
        self._load()

    def _load(self) -> None:
        if self.state_path and os.path.exists(self.state_path):
            with open(self.state_path) as fh:
                st = json.load(fh)
            for k in ("last_batch_id", *self.STATE):
                setattr(self, k, st.get(k, getattr(self, k)))

    def _save(self) -> None:
        if not self.state_path:
            return
        tmp = f"{self.state_path}.tmp"
        with open(tmp, "w") as fh:
            json.dump({k: getattr(self, k) for k in ("last_batch_id", *self.STATE)}, fh)
        os.replace(tmp, self.state_path)

    def _read_or_empty(self, path: str, schema: str) -> DataFrame:
        """The parquet store at `path`, or an empty frame before its
        first write. Hive partition directories come back as their
        schema column."""
        if os.path.exists(path):
            return self.spark.read.schema(schema).parquet(path)
        return self.spark.createDataFrame([], schema)

    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        raise NotImplementedError

    def committed(self) -> None:
        """Runs after a batch's state file is written: drop whatever the
        previous state pointed at (superseded snapshot versions)."""

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= self.last_batch_id:
            return  # a checkpoint replay of an applied batch
        before = {k: getattr(self, k) for k in self.STATE}
        try:
            with scope():
                self.apply(batch_df, batch_id)
        except BaseException:
            for k, v in before.items():
                setattr(self, k, v)
            raise
        self.last_batch_id = batch_id
        self._save()
        self.committed()

    def start(self, stream: DataFrame, checkpoint: str) -> StreamingQuery:
        """Drain what `stream` holds now through `process`, one
        availableNow run recoverable from `checkpoint`."""
        os.makedirs(checkpoint, exist_ok=True)
        return (
            stream.writeStream.foreachBatch(self.process)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )


def read_feed(
    spark: SparkSession, feed_dir: str, schema, fmt: str = "parquet"
) -> DataFrame:
    """File-source stream over a feed directory, one file per trigger:
    new files are discovered per micro-batch (the append-only ingest)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format(fmt)
        .load(feed_dir)
    )


def drain(q: StreamingQuery, n_files: int, sink: "BatchSink | None" = None) -> None:
    """Wait for an availableNow query to drain its feed, and refuse a
    partial state: stop the query and raise when it does not quiesce
    within STREAM_TIMEOUT_S, and raise when fewer micro-batches were
    applied than feed files were written (one file per trigger).
    Applied batches are the sink's watermark when there is a sink, else
    the progress entries whose source offset advanced."""
    if not q.awaitTermination(STREAM_TIMEOUT_S):
        q.stop()
        raise RuntimeError(f"stream: did not quiesce within {STREAM_TIMEOUT_S} s")
    if sink is not None:
        applied = sink.last_batch_id + 1
    else:
        applied = sum(
            any(s["startOffset"] != s["endOffset"] for s in p["sources"])
            for p in q.recentProgress
        )
    if applied < n_files:
        raise RuntimeError(f"stream: only {applied}/{n_files} micro-batches applied")
