"""One maintained aggregate, declared once (SURVEY.md §2.D19/D20).

The reference's block DB is IVC: appending a block extends the old
commitment, and the result equals a recompute from scratch
(mr-plonky2-circuits/src/block/mod.rs). Here an aggregate keeps that
property as a commutative monoid: `partial(rows)` over any batch and
`merge(old, partial)` over two states, with
merge(partial(A), partial(B)) == partial(A ∪ B). A `Monoid` names that
pair once, and everything else derives from it:

- the stream face (streaming/faces.py `MAINTAINED`): the IVM sink runs
  `partial`/`merge`, its view partitioned by `key_col`;
- the parity spec (streaming/parity.py `SPECS`): the same pair driven
  through restart-per-point ingestion against a from-scratch
  `partial`, compared after `finalize`;
- the batch artifact, where one exists (`artifact`, an
  `artifacts.Artifact` over the events table): `partial` over every
  event, built once through `artifacts.ensure`;
- the range read of a day-tiled artifact (`middle_days`): its tiles
  inside the middle ⅕..⅘ of their day span.

The tile trees (range_tree.TileTree) carry the same `name`, `partial`,
`merge`, `key_col` and `finalize`, so they enter `SPECS` directly.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from euclid_spark import artifacts
from euclid_spark.catalog import cached_parquet, load_events


@dataclass(frozen=True)
class Monoid:
    """A maintained aggregate: the (partial, merge) pair, the view's
    partition column, an optional `finalize` applied to both sides of a
    parity compare (a derived result such as the A9 running chain), and
    the batch artifact's declaration."""

    name: str
    partial: Callable[..., DataFrame]
    merge: Callable[[DataFrame, DataFrame], DataFrame]
    key_col: str = "day"
    finalize: "Callable | None" = None
    artifact: "artifacts.Artifact | None" = None

    def path(self, spark: SparkSession, sf_dir: str) -> str:
        """The batch artifact, `partial` over every event, built on a
        miss."""
        return artifacts.ensure(
            self.artifact.path(sf_dir),
            lambda: self.partial(load_events(spark, sf_dir)),
        )

    def middle_days(
        self, spark: SparkSession, sf_dir: str
    ) -> "tuple[DataFrame, date, date] | None":
        """(tiles, d_lo, d_hi): the day tiles in [d_lo, d_hi), the middle
        ⅕..⅘ of the tiles' day span (scale-invariant probe bounds, the
        A22/A25 pattern), or None on a zero-row corpus. The span comes
        from the artifact's parquet footers, so no Spark job runs."""
        path = self.path(spark, sf_dir)
        d0, d1 = artifacts.footer_stats(path).span("day")
        if d0 is None:
            return None
        span = (d1 - d0).days
        d_lo = d0 + timedelta(days=span // 5)
        d_hi = d0 + timedelta(days=span * 4 // 5)
        tiles = cached_parquet(spark, path).filter(
            (F.col("day") >= d_lo) & (F.col("day") < d_hi)
        )
        return tiles, d_lo, d_hi
