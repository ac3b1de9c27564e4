"""The parquet write layout (`artifacts.save_frame`): zstd pages on every
parquet artifact, row groups of at most `artifacts.ROW_GROUP_ROWS` rows
on the stores that bounded reads serve (`artifacts.ROW_CAPPED`), and a
key-clustered store's file count derived from its input table's footer
row count (`artifacts.clustered`). `.jsonl` text artifacts take no
codec."""

from __future__ import annotations

import os

from euclid_spark import artifacts
from tests.conftest import SF_SMOKE
from tools.scale_probe import artifact_stats, parquet_files

# the sf0.1 corpus beside the smoke one, 10^5 events
SF_WIDE = os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")


def test_save_frame_writes_zstd_parquet_and_plain_text(spark, tmp_path):
    cap = artifacts.ROW_GROUP_ROWS
    df = spark.range(3 * cap).selectExpr(
        "id", "id % 3 AS part", "cast(id AS string) AS s"
    ).coalesce(1)
    whole = artifacts.save_frame(df, str(tmp_path / "whole_0.parquet"))
    capped = artifacts.save_frame(
        df, str(tmp_path / "capped_0.parquet"), artifacts.ROW_CAPPED
    )
    hive = artifacts.save_frame(
        df, str(tmp_path / "hive_0.parquet"), artifacts.ROW_CAPPED,
        partition_by="part",
    )
    for path in (whole, capped, hive):
        st = artifact_stats(path)
        assert st["rows"] == df.count(), path
        assert st["codec"] == ["ZSTD"], path
    # one file: parquet's default row group without the cap, split at it
    # with the cap
    assert artifact_stats(whole)["row_groups"] == 1
    assert artifact_stats(capped)["row_groups"] == 3
    assert artifact_stats(hive)["max_row_group_rows"] <= cap
    text = artifacts.save_frame(df.select("s"), str(tmp_path / "text_0.jsonl"))
    lines = []
    for f in parquet_files(text):
        with open(f, encoding="utf-8") as fh:  # plain text, no codec
            lines += fh.read().splitlines()
    assert sorted(lines) == sorted(str(i) for i in range(df.count()))


def test_clustered_file_count_follows_the_input_row_count(spark):
    df = spark.range(100).selectExpr("id AS k", "id AS v")
    floor, per_file = artifacts.CLUSTER_FILES, artifacts.INPUT_ROWS_PER_FILE
    for rows, files in (
        (0, floor),
        (10**5, floor),
        (floor * per_file, floor),
        ((floor + 1) * per_file, floor + 1),
    ):
        out = artifacts.clustered(spark, df, "k", (0, 99, rows), "v")
        assert out.rdd.getNumPartitions() == files, rows


def test_owner_reads_touch_at_most_their_row_groups_plus_one(spark, tmp_path):
    """A key-clustered store of ≥ 3 row groups per file, with one owner
    that spans several row groups: every owner read touches at most
    ⌈owner rows / cap⌉ + 1 row groups (pyarrow `split_by_row_group`)."""
    cap, files = artifacts.ROW_GROUP_ROWS, artifacts.CLUSTER_FILES
    rows = 3 * cap * files
    df = spark.range(rows).selectExpr(
        "CASE WHEN id % 4 = 0 THEN 40 ELSE id % 97 END AS owner", "id"
    )
    path = artifacts.save_frame(
        artifacts.clustered(spark, df, "owner", (0, 96, rows), "id"),
        str(tmp_path / "owner_store_0.parquet"),
        artifacts.ROW_CAPPED,
    )
    st = artifact_stats(path)
    assert st["files"] == files
    assert st["row_groups"] >= 3 * files
    assert st["max_row_group_rows"] <= cap
    reads = st["owner_reads"]
    assert reads["owners"] == 97 and reads["over_bound"] == 0
    # the heavy owner's read spans row groups: the bound is not vacuous
    assert reads["max_row_groups"] > 2


def test_served_stores_cap_row_groups_and_bound_owner_reads(spark):
    """Every store a `TileTree` serves at sf0.1 (the three trees and
    the two entry stores) is zstd with no row group over the cap; the
    owner-keyed ones are CLUSTER_FILES files (10^5 input rows), and no
    owner read touches more than ⌈owner rows / cap⌉ + 1 row groups."""
    from euclid_spark.operators.range_tree import (
        ERC20_REWARD_TREE,
        Q2_KEY_TREE,
        RANGE_TREE,
    )

    stores = {RANGE_TREE.name: RANGE_TREE.path(spark, SF_WIDE)}
    for tree in (Q2_KEY_TREE, ERC20_REWARD_TREE):
        stores[tree.name] = tree.path(spark, SF_WIDE)
        stores[tree.store.name] = tree.path(spark, SF_WIDE, store=True)
    for name, path in stores.items():
        st = artifact_stats(path)
        assert st["codec"] == ["ZSTD"], name
        assert st["max_row_group_rows"] <= artifacts.ROW_GROUP_ROWS, name
        if name == RANGE_TREE.name:
            continue
        assert st["files"] == artifacts.CLUSTER_FILES, name
        assert st["owner_reads"]["over_bound"] == 0, name
        assert st["owner_reads"]["max_row_groups"] >= 1, name
