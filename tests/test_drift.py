"""B59 data-drift PSI + C55 epoch shards + D31 JSONL quarantine (r13):
math/mass properties each face's correctness rests on, plan-shape
guards for their 100 TB hazards, and the quarantine net that proves
damaged lines are counted rather than dropped."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from euclid_spark.operators.curation import (
    SHARD_TOKENS,
    curation_epoch_shards,
)
from euclid_spark.operators.drift import PSI_BINS, data_drift_psi
from euclid_spark.operators import textops
from euclid_spark.sources.jsonl import (
    CORRUPT_MOD,
    jsonl_fixture_path,
    src_jsonl_quarantine,
)
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- B59 PSI -----------------------------------------------------------


def test_psi_nonnegative_and_deterministic(spark):
    """Every PSI term (p_cur − p_ref)·ln(p_cur/p_ref) has matching
    signs, so PSI ≥ 0 always — a negative value means the formula
    broke. And two runs must emit identical rows (no random())."""
    a = {r["event_type"]: r.asDict() for r in data_drift_psi(spark, SF_SMOKE).collect()}
    b = {r["event_type"]: r.asDict() for r in data_drift_psi(spark, SF_SMOKE).collect()}
    assert a == b
    assert a, "no event types"
    for t, r in a.items():
        assert r["psi"] >= 0.0, (t, r)
        assert r["n_ref"] > 0, "types without a reference window are skipped"
        assert r["drifted"] == (r["psi"] > 0.1)


def test_psi_window_split_covers_all_rows(spark):
    """n_ref + n_cur across types == the non-null event rows of the
    types that have a reference window (no row silently dropped by the
    binning/clamping)."""
    out = data_drift_psi(spark, SF_SMOKE).collect()
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy("event_type")
        .count()
        .collect()
    )
    per_type = {r["event_type"]: r["count"] for r in ev}
    for r in out:
        assert r["n_ref"] + r["n_cur"] == per_type[r["event_type"]]


def test_psi_plan_two_scans_no_single_partition(spark):
    """The 100 TB contract: exactly TWO data scans (ref bounds +
    binning; the split day is footer metadata), no SinglePartition
    exchange, and the only window runs PARTITIONED on the type key
    over the bounded (type, bin) aggregate — never the raw rows."""
    plan = _plan(data_drift_psi(spark, SF_SMOKE))
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")
    assert "Exchange SinglePartition" not in plan
    import re

    # every Window node must carry the type key as its partition spec —
    # and at least one must EXIST, else the assertion is vacuous
    # (ADVICE r13)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "no window nodes found in the PSI plan"
    for spec in specs:
        assert spec.strip().startswith("event_type"), spec


def test_psi_quantile_plan_one_scan(spark):
    """The r15 one-scan fold: the quantile face reads the corpus ONCE
    (one (type, is_ref, key) aggregate, persisted); the old ref-sketch
    scan is the reference slice of that same aggregate, so a second
    `Scan parquet` reappearing means the fold regressed. The cached
    bounded aggregate must actually be read back (InMemoryTableScan),
    and no SinglePartition exchange anywhere.

    The executedPlan string re-prints the cached relation's inner plan
    under EVERY InMemoryTableScan, so "one physical scan" asserts as:
    every `Scan parquet` occurrence sits inside an InMemoryRelation
    (count equality — an independent second scan would break it), and
    both consumers (ref sketch, bin map) read the cache."""
    plan = _plan(data_drift_psi(spark, SF_SMOKE, edges="quantile"))
    assert plan.count("Scan parquet") == plan.count("InMemoryRelation"), plan
    assert plan.count("InMemoryTableScan") == 2, plan
    assert "Exchange SinglePartition" not in plan


# --- C55 epoch shards --------------------------------------------------


def test_epoch_shards_mass_and_contiguity(spark):
    """Σ shard token mass == Σ per-doc tokens (nothing lost at shard
    cuts), shard ids are contiguous from 0, and every shard's doc count
    is positive. Docs are assigned by START offset, so every shard
    except possibly the last holds ≥ SHARD_TOKENS worth of starts."""
    man = curation_epoch_shards(spark, SF_SMOKE).orderBy("shard_id").collect()
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter(F.col("doc_id").isNotNull())
        .select(
            F.size(
                F.regexp_extract_all(
                    F.lower("text"), F.lit(textops.TOKEN_RE), 0
                )
            ).alias("n")
        )
        .filter(F.col("n") > 0)
        .agg(F.sum("n").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()[0]
    )
    assert sum(r["total_tokens"] for r in man) == docs["s"]
    assert sum(r["n_docs"] for r in man) == docs["c"]
    assert [r["shard_id"] for r in man] == list(range(len(man)))
    assert all(r["n_docs"] > 0 for r in man)
    # key ranges are disjoint and ordered: the shuffle order is global
    for prev, cur in zip(man, man[1:]):
        assert prev["max_key"] < cur["min_key"]


def test_epoch_shards_reshuffle_under_new_seed(spark):
    """The point of the seed parameter: a different epoch seed produces
    a different document order (manifest key ranges move), while the
    total token mass is invariant; and the pinned default equals the
    registry face (the §4 parameterized-API rule)."""
    base = curation_epoch_shards(spark, SF_SMOKE).collect()
    pinned = curation_epoch_shards(
        spark, SF_SMOKE, seed="epoch0", shard_tokens=SHARD_TOKENS
    ).collect()
    assert sorted(map(tuple, base), key=str) == sorted(
        map(tuple, pinned), key=str
    )
    other = curation_epoch_shards(spark, SF_SMOKE, seed="epoch1").collect()
    assert sum(r["total_tokens"] for r in base) == sum(
        r["total_tokens"] for r in other
    )
    assert {r["min_key"] for r in base} != {r["min_key"] for r in other}
    # a smaller budget makes at least as many shards, same mass
    fine = curation_epoch_shards(
        spark, SF_SMOKE, shard_tokens=SHARD_TOKENS // 4
    ).collect()
    assert len(fine) >= len(base)
    assert sum(r["total_tokens"] for r in fine) == sum(
        r["total_tokens"] for r in base
    )


def test_epoch_shards_plan_two_level_prefix_sum(spark):
    """The global prefix sum must run under the PARTITIONED bucket key
    — a SinglePartition exchange would funnel the corpus through one
    reducer at 100 TB — and the manifest aggregate must stay a HASH
    aggregate: min/max over the string key planned a keyed
    SortAggregate (the r12 immutable-buffer class), which is why the
    key range is aggregated as a 60-bit numeric prefix."""
    import re

    plan = _plan(curation_epoch_shards(spark, SF_SMOKE))
    assert "Exchange SinglePartition" not in plan
    assert not re.search(r"SortAggregate\(key=\[[^\]]", plan)


def test_epoch_shards_bucket_width_invariance(spark):
    """The r14 adaptive bucket width's contract: the bucket is a PREFIX
    of the sort key, so ANY width yields the identical manifest —
    including widths past _SHARD_SUPER's triangular-join cutoff, which
    exercise the hierarchical super-bucket offsets path."""
    from euclid_spark.operators.curation import _shard_bucket_hex

    base = sorted(
        map(tuple, curation_epoch_shards(spark, SF_SMOKE).collect()), key=str
    )
    for hexn in (2, 5):  # 5 > log16(_SHARD_SUPER) → hierarchical path
        got = sorted(
            map(
                tuple,
                curation_epoch_shards(
                    spark, SF_SMOKE, bucket_hex=hexn
                ).collect(),
            ),
            key=str,
        )
        assert got == base, f"bucket_hex={hexn} changed the manifest"
    # the derived width is sane and derived from real row counts
    assert 2 <= _shard_bucket_hex(SF_SMOKE) <= 6
    assert _shard_bucket_hex("/nonexistent/dir") == 3  # pinned fallback


def test_shard_roundtrip_all_ok_and_tamper_detected(spark, tmp_path):
    """C55b loader contract: every written shard re-validates against
    the manifest (ok for all), and corrupting one shard's FILE flips
    exactly that shard to ok=false — the checksum a dataloader trusts
    actually binds the bytes on disk. Runs under a redirected artifact
    dir so the clean corpus's served layout is never touched."""
    import glob
    import os

    import pyarrow.parquet as pq

    from euclid_spark.operators.curation import curation_shard_roundtrip

    old = os.environ.get("EUCLID_SPARK_ARTIFACTS")
    os.environ["EUCLID_SPARK_ARTIFACTS"] = str(tmp_path)
    try:
        out = curation_shard_roundtrip(spark, SF_SMOKE).collect()
        assert out and all(r["ok"] for r in out)
        # tamper: drop one doc row from one shard's parquet file
        # (schema-preserving pyarrow rewrite), then refresh Spark's
        # cached file listing — the file shrank in place, and a stale
        # cached length would fail the footer seek instead of reading
        shard_dirs = glob.glob(str(tmp_path / "epoch_shard_files_*" / "shard_id=0"))
        assert shard_dirs
        art_dir = os.path.dirname(shard_dirs[0])
        part = glob.glob(os.path.join(shard_dirs[0], "*.parquet"))[0]
        pq.write_table(pq.read_table(part).slice(1), part)
        # drop Hadoop's .crc sidecar (it would reject the read before
        # OUR checksum ever saw the bytes — a tamperer removes it too)
        crc = os.path.join(
            shard_dirs[0], f".{os.path.basename(part)}.crc"
        )
        if os.path.exists(crc):
            os.remove(crc)
        spark.catalog.refreshByPath(art_dir)
        tampered = {
            r["shard_id"]: r["ok"]
            for r in curation_shard_roundtrip(spark, SF_SMOKE).collect()
        }
        assert tampered[0] is False
        assert all(ok for sid, ok in tampered.items() if sid != 0)
    finally:
        if old is None:
            os.environ.pop("EUCLID_SPARK_ARTIFACTS", None)
        else:
            os.environ["EUCLID_SPARK_ARTIFACTS"] = old


# --- D31 JSONL quarantine ---------------------------------------------


def test_jsonl_quarantine_counts_damaged_lines(spark):
    out = src_jsonl_quarantine(spark, SF_SMOKE).collect()
    bad = [r for r in out if r["quarantined"]]
    good_rows = sum(r["n_rows"] for r in out if not r["quarantined"])
    expect_bad = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter(F.col("doc_id").isNotNull() & (F.col("doc_id") % CORRUPT_MOD == 0))
        .count()
    )
    total = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert len(bad) == 1 and bad[0]["source"] is None
    assert bad[0]["n_rows"] == expect_bad
    assert good_rows == total - expect_bad  # nothing dropped


def test_jsonl_damaged_lines_are_never_valid_json(spark):
    """A prefix of minimal JSON is never valid JSON — check it on the
    actual fixture bytes, not by trusting the parser."""
    path = jsonl_fixture_path(spark, SF_SMOKE)
    lines = [r["value"] for r in spark.read.text(path).collect()]
    n_bad = 0
    for ln in lines:
        try:
            json.loads(ln)
        except json.JSONDecodeError:
            n_bad += 1
    expect_bad = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter(F.col("doc_id").isNotNull() & (F.col("doc_id") % CORRUPT_MOD == 0))
        .count()
    )
    assert n_bad == expect_bad


def test_jsonl_good_rows_round_trip_doc_ids(spark):
    """Every undamaged document arrives with its doc_id intact: the
    parsed good set equals the source set minus the damaged ids."""
    from euclid_spark.sources.jsonl import _DOC_SCHEMA

    path = jsonl_fixture_path(spark, SF_SMOKE)
    parsed = (
        spark.read.schema(_DOC_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    got = {
        r["doc_id"]
        for r in parsed.filter(F.col("_corrupt").isNull()).select("doc_id").collect()
    }
    src = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    expect = {
        r["doc_id"]
        for r in src.filter(
            F.col("doc_id").isNull() | (F.col("doc_id") % CORRUPT_MOD != 0)
        )
        .select("doc_id")
        .collect()
    }
    assert got == expect


# --- D32 streamed drift -----------------------------------------------


def test_drift_tiles_underflow_bucket_covers_batch_population(spark):
    """The r14 population-gap closure: fixed-point values < 1 (zeros
    and negatives — absent from the testdata, present in any real
    deployment) land in the reserved (nbits=0, sub=0) tile instead of
    being dropped, so the tile store's row coverage equals batch
    B59's; NULL values stay excluded on both sides."""
    from euclid_spark.streaming.parity import _drift_partial

    import datetime as dt

    d1, d2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    ev = spark.createDataFrame(
        [
            (1, "a", d1, -5.0),    # negative → underflow
            (2, "a", d1, 0.0),     # zero → underflow
            (3, "a", d2, 0.004),   # < 0.01 → underflow
            (4, "a", d2, 7.5),     # normal bucket
            (5, "a", d2, None),    # NULL → excluded
            (6, None, None, 1.0),  # NULL ts → excluded
        ],
        "event_id long, event_type string, ts timestamp, value double",
    )
    tiles = _drift_partial(ev).collect()
    total = sum(r["cnt"] for r in tiles)
    assert total == 4  # NULL value + NULL ts rows excluded
    under = {
        (r["day"].isoformat(), r["cnt"])
        for r in tiles
        if r["nbits"] == 0 and r["sub"] == 0
    }
    assert under == {("2024-01-01", 2), ("2024-01-02", 1)}
    # the underflow key sorts before every real bucket (nbits ≥ 5)
    assert all(r["nbits"] == 0 or r["nbits"] >= 5 for r in tiles)


def test_stream_drift_psi_served_and_stable(spark):
    """The streamed face serves a deterministic PSI table: repeat call
    == first call (artifact-served), schema pinned, and every row
    satisfies the same invariants as the batch monitor."""
    from euclid_spark.streaming.faces import QUERIES

    stream_drift_psi = QUERIES["stream_drift_psi"]

    a = sorted(
        (tuple(r) for r in stream_drift_psi(spark, SF_SMOKE).collect()),
        key=str,
    )
    b = sorted(
        (tuple(r) for r in stream_drift_psi(spark, SF_SMOKE).collect()),
        key=str,
    )
    assert a == b and a
    cols = stream_drift_psi(spark, SF_SMOKE).columns
    assert cols == [
        "event_type", "n_ref", "n_cur", "n_buckets", "psi", "drifted"
    ]
    for r in a:
        et, n_ref, n_cur, n_buckets, psi, drifted = r
        assert n_ref > 0 and n_buckets > 0 and psi >= 0.0
        assert drifted == (psi > 0.1)


def test_psi_parameterized_pinned_equals_face(spark):
    """§4 rule: the face is the pinned instantiation. Explicitly passing
    the derived split day / default bins / default alert reproduces the
    face bit-for-bit; a split past the day span empties the reference
    side (no baseline → no rows); fewer bins still satisfies PSI ≥ 0."""
    import datetime as dt

    from euclid_spark.operators.drift import PSI_ALERT, _event_day_span

    d0, d1 = _event_day_span(spark, SF_SMOKE)
    split = d0 + dt.timedelta(days=(d1 - d0).days // 2)
    face = sorted(map(tuple, data_drift_psi(spark, SF_SMOKE).collect()), key=str)
    pinned = sorted(
        map(
            tuple,
            data_drift_psi(
                spark, SF_SMOKE, split_day=split, bins=PSI_BINS, alert=PSI_ALERT
            ).collect(),
        ),
        key=str,
    )
    assert face == pinned
    none_ref = data_drift_psi(
        spark, SF_SMOKE, split_day=d0 - dt.timedelta(days=1)
    ).collect()
    assert none_ref == []
    coarse = data_drift_psi(spark, SF_SMOKE, bins=4).collect()
    assert coarse and all(r["psi"] >= 0.0 for r in coarse)
    # the edges parameter: explicit 'width' IS the face; the quantile
    # registry face IS edges='quantile'; bad values rejected
    import pytest as _pt

    from euclid_spark.operators.drift import data_drift_psi_quantile

    w = sorted(
        map(tuple, data_drift_psi(spark, SF_SMOKE, edges="width").collect()),
        key=str,
    )
    assert w == face
    q_face = sorted(
        map(tuple, data_drift_psi_quantile(spark, SF_SMOKE).collect()),
        key=str,
    )
    q_param = sorted(
        map(
            tuple,
            data_drift_psi(spark, SF_SMOKE, edges="quantile").collect(),
        ),
        key=str,
    )
    assert q_face == q_param
    with _pt.raises(ValueError, match="edges"):
        data_drift_psi(spark, SF_SMOKE, edges="bogus")


def test_psi_quantile_edges_equalize_reference_mass(spark):
    """The point of quantile edges: the reference window's mass spreads
    across bins instead of collapsing under an outlier. Both faces see
    the same populations (n_ref/n_cur identical — the underflow bucket
    covers values < 0.01 that the D32 tile domain excludes), and the
    quantile binning's reference distribution over OCCUPIED bins is
    no more concentrated than fixed-width's on this corpus."""
    from euclid_spark.operators.drift import (
        PSI_BINS,
        _with_hdr_key,
        data_drift_psi_quantile,
    )

    w = {r["event_type"]: r for r in data_drift_psi(spark, SF_SMOKE).collect()}
    q = {
        r["event_type"]: r
        for r in data_drift_psi_quantile(spark, SF_SMOKE).collect()
    }
    assert set(w) == set(q)
    for t in w:
        assert w[t]["n_ref"] == q[t]["n_ref"], t
        assert w[t]["n_cur"] == q[t]["n_cur"], t
        assert q[t]["psi"] >= 0.0
    # bucket-key sanity: underflow key for negatives/zeros, ordered keys
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame({"value": [-5.0, 0.0, 0.004, 0.01, 0.5, 3.0, 1e9]})
    )
    keys = [
        r["key"]
        for r in _with_hdr_key(docs, "value", [("value", F.col("value"))])
        .orderBy("value")
        .collect()
    ]
    assert keys[0] == 0 and keys[1] == 0 and keys[2] == 0  # underflow
    assert keys[3] > 0 and keys == sorted(keys)
