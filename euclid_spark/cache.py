"""Cache lifecycle: one owner-scoped registry for every pin.

Operators pin intermediates that are read more than once inside one
query (LSH signature tables, shingle inverted indexes, per-round
labels). A bare `.persist()` or `.localCheckpoint()` leaks: nothing
unpersists it until JVM GC + ContextCleaner get around to it, so a bench
loop or a long test session accumulates cached partitions. Rule here:
every pin goes through `persist_tracked` or `local_checkpoint_tracked`,
which register it under the CURRENT OWNER, and whoever owns the terminal
action releases that owner's pins once the results are materialized.

The owner lives in a `contextvars.ContextVar`:

- `with scope():` enters a fresh owner and releases everything
  registered under it on exit, exception or not. Streaming sinks run
  each micro-batch in one scope (`@scope()` on `process`): they execute
  on streaming-query threads beside driver-thread queries, and a scope
  keeps their pins — truncated-lineage checkpoints among them, which
  cannot be recomputed — out of every other caller's reach;
- every thread that has not entered a scope shares one default owner,
  so single-threaded terminal callers (bench loop, test teardown, tools,
  `__spark_entry__` callers) just call `release_all()` after each query.

`release_all()` releases only the current owner's registrations, newest
first. Double-unpersist is harmless (Spark no-ops), so releasing a frame
the operator already unpersisted (per-round loop frames) is safe.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

__all__ = ["persist_tracked", "local_checkpoint_tracked", "scope", "release_all"]

_OWNER: ContextVar[object] = ContextVar("cache_owner", default=None)
_LOCK = threading.Lock()
# owner → release callbacks, in registration order
_REGISTRY: dict[object, list[Callable[[], object]]] = {}


def _register(release: Callable[[], object]) -> None:
    with _LOCK:
        _REGISTRY.setdefault(_OWNER.get(), []).append(release)


def persist_tracked(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist `df` under the current owner."""
    df.persist(level)
    _register(df.unpersist)
    return df


def local_checkpoint_tracked(df: DataFrame, eager: bool = True) -> DataFrame:
    """`df.localCheckpoint(eager)` under the current owner.

    A local checkpoint persists its RDD outside the DataFrame cache
    manager, so iterative operators (components, merkle levels, trie
    walks) would strand one persisted RDD per round. The checkpointed
    frame's analyzed plan is a LogicalRDD wrapping exactly the persisted
    RDD; its release callback unpersists that RDD.

    `eager=False` defers materialization to the caller's NEXT action
    over the returned frame (local checkpoints cache their partitions
    as that job computes them, then truncate lineage) — an iterative
    operator that needs a per-round scalar anyway (frontier count)
    fuses checkpoint + fetch into ONE Spark job instead of two."""
    out = df.localCheckpoint(eager=eager)
    rdd = out._jdf.queryExecution().analyzed().rdd()
    _register(lambda: rdd.unpersist(False))
    return out


@contextmanager
def scope() -> Iterator[None]:
    """Run the body under a fresh owner; release its pins on exit."""
    token = _OWNER.set(object())
    try:
        yield
    finally:
        release_all()
        _OWNER.reset(token)


def release_all() -> None:
    """Release the current owner's pins (newest first). Call after the
    terminal action of a query, not before — unpersisting a lazy result's
    inputs early just forfeits the reuse the persist bought."""
    with _LOCK:
        releases = _REGISTRY.pop(_OWNER.get(), [])
    for release in reversed(releases):
        try:
            release()
        except Exception:  # session already stopped — nothing to release
            pass
