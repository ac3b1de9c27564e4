"""Z-order clustered layout (D26, sources/zorder.py): the 2-D box
query — the (owner, block-range) shape of every reference query — must
touch measurably fewer files than a one-dimensional sort layout, and
the layout must be invisible to results."""

from __future__ import annotations

from pyspark.sql import functions as F

from euclid_spark.sources.zorder import zordered, zvalue
from tests.conftest import SF_SMOKE

N_FILES = 16


def _events(spark):
    return (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .withColumn("epoch", F.unix_timestamp(F.col("ts").cast("timestamp")))
    )


def _bounds(df):
    return df.agg(
        F.min("user_id"), F.max("user_id"), F.min("epoch"), F.max("epoch")
    ).collect()[0]


def _box(df):
    """A tight 2-D box: ~10% of the user range × ~7% of the time range,
    anchored mid-distribution so it hits real rows at any SF."""
    u_lo, u_hi, t_lo, t_hi = _bounds(df)
    return (
        (F.col("user_id") >= u_lo + (u_hi - u_lo) * 45 // 100)
        & (F.col("user_id") < u_lo + (u_hi - u_lo) * 55 // 100)
        & (F.col("epoch") >= t_lo + (t_hi - t_lo) * 33 // 100)
        & (F.col("epoch") < t_lo + (t_hi - t_lo) * 40 // 100)
    )


def _files_touched(spark, path, pred):
    return (
        spark.read.parquet(path)
        .filter(pred)
        .select(F.input_file_name())
        .distinct()
        .count()
    )


def test_zvalue_interleaves_bits(spark):
    df = spark.range(1).select(
        zvalue(F.lit(0b1010), F.lit(0b0101)).alias("z"),
        zvalue(F.lit(0xFFFF), F.lit(0)).alias("a_only"),
        zvalue(F.lit(0), F.lit(0xFFFF)).alias("b_only"),
    )
    r = df.collect()[0]
    # a→even bits, b→odd bits: 1010/0101 interleave to 0b01100110
    assert r["z"] == 0b01100110
    assert r["a_only"] == 0x55555555
    assert r["b_only"] == 0xAAAAAAAA


def test_zorder_prunes_2d_box(spark, tmp_path):
    ev = _events(spark)
    pred = _box(ev)

    lin = str(tmp_path / "linear")  # 1-D time-sorted baseline layout
    (
        ev.repartitionByRange(N_FILES, "epoch")
        .sortWithinPartitions("epoch")
        .write.parquet(lin)
    )
    zo = str(tmp_path / "zordered")
    zordered(ev, "user_id", "epoch", n_files=N_FILES).write.parquet(zo)

    lin_files = _files_touched(spark, lin, pred)
    zo_files = _files_touched(spark, zo, pred)
    assert lin_files > 0  # the box must hit real rows
    # time-sorted layout localizes the time range but sprays the user
    # range across it; z-order localizes both — strictly fewer files
    assert zo_files < lin_files, (zo_files, lin_files)
    # and the user-dim-only query (worst case for the time sort) still
    # beats reading everything
    u_lo, u_hi, _, _ = _bounds(ev)
    upred = (F.col("user_id") >= u_lo + (u_hi - u_lo) * 45 // 100) & (
        F.col("user_id") < u_lo + (u_hi - u_lo) * 55 // 100
    )
    assert _files_touched(spark, zo, upred) < N_FILES


def test_zorder_layout_preserves_rows(spark, tmp_path):
    ev = _events(spark)
    zo = str(tmp_path / "zordered")
    zordered(ev, "user_id", "epoch", n_files=N_FILES).write.parquet(zo)
    back = spark.read.parquet(zo)
    assert back.count() == ev.count()
    assert sorted(back.columns) == sorted(ev.columns)
    pred = _box(ev)
    want = sorted(r["event_id"] for r in ev.filter(pred).collect())
    got = sorted(r["event_id"] for r in back.filter(pred).collect())
    assert got == want


def test_zvalue_roundtrip_property(spark):
    """Property: the interleave is a bijection — compressing the even
    bits recovers a, the odd bits recover b, for random 16-bit pairs."""
    import random

    rnd = random.Random(42)
    pairs = [(rnd.randrange(1 << 16), rnd.randrange(1 << 16)) for _ in range(64)]
    df = spark.createDataFrame(pairs, "a int, b int").select(
        "a", "b", zvalue(F.col("a"), F.col("b")).alias("z")
    )
    for r in df.collect():
        a = b = 0
        for i in range(16):
            a |= ((r["z"] >> (2 * i)) & 1) << i
            b |= ((r["z"] >> (2 * i + 1)) & 1) << i
        assert (a, b) == (r["a"], r["b"])
