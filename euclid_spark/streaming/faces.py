"""Registry faces for the streaming twins (SURVEY.md §2.D25 / r6).

The incremental structures (D15-D24) were until r6 verified only by
pytest: the driver's DuckDB gate runs `queries()` entries, and a
streaming sink is not a DataFrame expression. These faces close that
gap: each one REALLY RUNS a Structured Streaming sink — the input
written as N_SPLITS feed files (hash-split, NOT time-ordered, so
late/out-of-order data exercises the merge), a real file-source stream
with `maxFilesPerTrigger=1`, a real checkpoint — and returns the FINAL
MAINTAINED STATE as a DataFrame. Because every maintained structure is
designed so that incremental == batch (the IVC property of the
reference's block DB, mr-plonky2-circuits/src/block/mod.rs:
proof_{n+1} = step(proof_n, block_{n+1}) must equal the from-scratch
proof), the batch SQL in ORACLES is a valid oracle for the streamed
result — the driver's gate checks the streaming engine itself.

Declared, not hand-run (the Structured Streaming idea: the user
declares the query, the engine owns the incremental run):

- `MAINTAINED` is a table of the 14 D19 faces — each a (partial, merge)
  monoid kept by `ivm.MaintainedAggregate`. A row declares the artifact
  name, fingerprint params, source frame, split key, partial, merge,
  partition key, empty-result DDL and read transform; the row comment
  says why the face is shaped the way it is. `_serve_maintained` is the
  one builder that runs a row.
- The other 10 faces drive their own sinks (the digest chain, dedup,
  curation, spans, MPT, shards, the watermarked join and window).
- Every face shares the same three pieces: `_write_feed` (the feed
  files), `_run_stream` (wait, then fail loudly on a timeout or a
  missing micro-batch) and `_serve_streamed` (`artifacts.serve_frame`
  around a scratch dir). Oracle SQL stays per face.

Cost model: a face pays the full streaming run ONCE per corpus version
— the final state is a fingerprint-keyed disk artifact
(euclid_spark/artifacts.py), so sweeps and repeated runs serve a plain
parquet scan. That mirrors production: the stream runs continuously,
queries read its committed output.
"""

from __future__ import annotations

import functools
import glob
import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from euclid_spark.catalog import cached_parquet

from euclid_spark import artifacts
from euclid_spark.functions.hashing import DIGEST_PRIME, MIX, digest_agg, digest_term
from euclid_spark.operators import curation, dedup, euclid, mpt_ingest, timeseries
# IVF_FACE_K: seed-centroid count for the gate-checkable IVF model — one
# constant with the batch search face (similarity.sim_ivf_pinned_topk),
# so the maintained lists and the pinned search path describe one model
from euclid_spark.operators.similarity import N_QUERIES, SEED_K as IVF_FACE_K
from euclid_spark.sources import eth_proof, jsonl
from euclid_spark.streaming import parity as _p
from euclid_spark.streaming.ivm import (
    _rollup_merge,
    _rollup_partial,
    run_maintained_aggregate,
)

N_SPLITS = 3
STREAM_TIMEOUT_S = 600


def _serve_streamed(
    spark: SparkSession,
    name: str,
    fp: str,
    build: "Callable[[str], DataFrame]",
) -> DataFrame:
    """`artifacts.serve_frame` around a scratch dir: `build(tmp)` may use
    `tmp` for the feed files / checkpoint / view; the directory is
    removed once the result is committed to the artifact store."""
    with tempfile.TemporaryDirectory(
        prefix=f"euclid_{name}_", ignore_cleanup_errors=True
    ) as tmp:
        return artifacts.serve_frame(spark, name, fp, lambda: build(tmp))


def _write_feed(
    df: DataFrame,
    feed_dir: str,
    key: str,
    by_time: bool = False,
    fmt: str = "parquet",
) -> int:
    """Write `df` as N_SPLITS feed files b0 < b1 < b2 (mtime = batch
    order) into the flat directory the file source lists.

    Default split: by hash of `key` — a deterministic, deliberately NOT
    time-ordered partition, so each micro-batch carries rows from the
    whole time range (the adversarial order the monoid merges must
    tolerate). `by_time`: N_SPLITS consecutive equal-width ranges of the
    timestamp column `key` — the approximately-ordered arrival a
    watermarked operator is specified against; its bounds come from one
    broadcast stats row, the only split that pays an extra job.

    Spark-native (the input never leaves the executors): each split is
    a filtered write, its single part file moved into the feed
    directory. In production there is no feed construction at all — the
    stream IS the arrival order; this harness only manufactures one.

    Returns the number of feed files ACTUALLY written (r7 ADVICE): an
    empty bucket may produce no part file — whether a zero-row write
    emits one is an undocumented engine behavior — so callers hand this
    count to _run_stream instead of assuming N_SPLITS micro-batches."""
    os.makedirs(feed_dir, exist_ok=True)
    cols = df.columns
    if by_time:
        # NTZ has no direct numeric cast — go through TIMESTAMP (UTC session)
        sec = F.col(key).cast("timestamp").cast("double")
        stats = df.agg(F.min(sec).alias("lo"), F.max(sec).alias("hi"))
        frac = (sec - F.col("lo")) / (F.col("hi") - F.col("lo") + F.lit(1e-9))
        df = df.join(F.broadcast(stats))
        bucket = F.least(F.lit(N_SPLITS - 1), F.floor(frac * N_SPLITS).cast("int"))
    else:
        bucket = F.pmod(F.xxhash64(F.col(key)), F.lit(N_SPLITS))
    written = 0
    for i in range(N_SPLITS):
        part_dir = os.path.join(feed_dir, f"_tmp{i}")
        df.filter(bucket == i).select(*cols).coalesce(1).write.mode(
            "overwrite"
        ).format(fmt).save(part_dir)
        parts = glob.glob(os.path.join(part_dir, "part-*"))
        if parts:
            ext = os.path.splitext(parts[0])[1]
            os.replace(parts[0], os.path.join(feed_dir, f"b{i}{ext}"))
            written += 1
        shutil.rmtree(part_dir, ignore_errors=True)
    return written


def _read_feed(
    spark: SparkSession, feed_dir: str, schema, fmt: str = "parquet"
) -> DataFrame:
    """File-source stream over a feed directory, one file per trigger."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format(fmt)
        .load(feed_dir)
    )


def _run_stream(q, n_files: int, sink=None) -> None:
    """Wait for an availableNow query to drain its feed, and refuse to
    serve a partial state: raise when the query does not quiesce within
    STREAM_TIMEOUT_S, and when fewer micro-batches were applied than
    feed files were written (one file per trigger). Applied batches are
    the sink's own watermark when it keeps one (`last_batch_id`), else
    the progress entries whose source offset advanced."""
    if not q.awaitTermination(STREAM_TIMEOUT_S):
        q.stop()
        raise RuntimeError(
            f"stream face: did not quiesce within {STREAM_TIMEOUT_S} s"
        )
    if sink is not None:
        applied = sink.last_batch_id + 1
    else:
        applied = sum(
            any(s["startOffset"] != s["endOffset"] for s in p["sources"])
            for p in q.recentProgress
        )
    if applied < n_files:
        raise RuntimeError(
            f"stream face: only {applied}/{n_files} micro-batches applied"
        )


# ------------------------------------------------- table-driven D19 faces

def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as the feed carries it: `ts` cast to the
    session-zoned TIMESTAMP (UTC) the partials are written against."""
    return cached_parquet(spark, f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


@dataclass(frozen=True)
class Maintained:
    """One maintained-aggregate face: feed `source` through the
    (partial, merge) monoid sink, then `read` the face's rows off the
    maintained view (default: the `empty` DDL's columns)."""

    name: str  # artifact name
    params: dict  # fingerprint params (op, v, ...); n=N_SPLITS is added
    partial: Callable[..., DataFrame]
    merge: Callable[[DataFrame, DataFrame], DataFrame]
    empty: str  # result DDL when nothing was merged (empty corpus)
    read: "Callable[[DataFrame], DataFrame] | None" = None
    table: str = "events"  # the fingerprinted corpus table
    # resolved at CALL time, cached or not — so a fixture an oracle
    # reads (the eth capture) is served even when the face is cached
    source: Callable[[SparkSession, str], DataFrame] = _events
    split: str = "event_id"  # hash-split key of the feed
    key_col: str = "day"  # the view's partition column
    fmt: str = "parquet"  # feed file format
    # a static up-front model fitted from the source before the stream
    # starts, handed to partial(batch, model=...)
    model: "Callable[[DataFrame], DataFrame] | None" = None


def _serve_maintained(spark: SparkSession, sf_dir: str, face: Maintained) -> DataFrame:
    """The one builder for the MAINTAINED table: write the feed, run the
    IVM sink to quiescence, read the face's rows off the view, and serve
    the result as a fingerprint-keyed artifact."""
    src = face.source(spark, sf_dir)
    fp = artifacts.corpus_fingerprint(
        [f"{sf_dir}/{face.table}.parquet"], n=N_SPLITS, **face.params
    )

    def build(tmp: str) -> DataFrame:
        feed, view, ck = (os.path.join(tmp, d) for d in ("feed", "view", "ck"))
        n_files = _write_feed(src, feed, face.split, fmt=face.fmt)
        partial = face.partial
        if face.model is not None:
            partial = functools.partial(partial, model=face.model(src))
        q, sink = run_maintained_aggregate(
            _read_feed(spark, feed, src.schema, face.fmt),
            view,
            ck,
            partial,
            face.merge,
            face.key_col,
        )
        _run_stream(q, n_files, sink)
        if not os.path.exists(view):  # zero-row corpus: nothing merged
            return spark.createDataFrame([], face.empty)
        v = sink.view(spark)
        if face.read is not None:
            return face.read(v)
        return v.select(*(c.split()[0] for c in face.empty.split(",")))

    return _serve_streamed(spark, face.name, fp, build)


def _dec_partial(events: DataFrame) -> DataFrame:
    """The D19 count/sum/digest partials with DECIMAL value sums:
    decimal addition is exact, so the streamed merge tree and the
    one-pass batch oracle agree bit-for-bit (a double sum could drift
    at a round-off boundary depending on merge order — the q15 hazard)."""
    term = digest_term(F.col("event_id").cast("long"), F.col("user_id").cast("long"))
    return (
        events.withColumn("day", F.to_date("ts"))
        .groupBy("user_id", "day")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .alias("total_value"),
            digest_agg(term).alias("digest"),
        )
    )


def _dec_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("user_id", "day")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value").cast("decimal(18,6)").alias("total_value"),
            (F.sum("digest") % F.lit(DIGEST_PRIME)).cast("long").alias("digest"),
        )
    )


_PSI_DDL = (
    "event_type string, n_ref bigint, n_cur bigint,"
    " n_buckets bigint, psi double, drifted boolean"
)


def _psi_from_tiles(tiles: DataFrame) -> DataFrame:
    """The drift READ: PSI per event_type off the maintained tile
    store. Split day = the tile store's own day span midpoint (one
    bounded fold over index-sized tiles — never the raw events);
    smoothing runs over the per-type OBSERVED bucket support (HDR's
    bucket universe is open-ended, so there is no fixed B to close
    over — supp is part of the output so the reader sees the support
    the statistic was computed on)."""
    import datetime as _dt

    from euclid_spark.operators.drift import PSI_ALERT

    row = tiles.agg(F.min("day").alias("d0"), F.max("day").alias("d1")).collect()[0]
    if row["d0"] is None:
        return tiles.sparkSession.createDataFrame([], _PSI_DDL)
    split = row["d0"] + _dt.timedelta(days=(row["d1"] - row["d0"]).days // 2)
    split_lit = F.to_date(F.lit(split.isoformat()))
    perb = tiles.groupBy("event_type", "nbits", "sub").agg(
        F.sum(
            F.when(F.col("day") < split_lit, F.col("cnt")).otherwise(F.lit(0))
        ).alias("cnt_ref"),
        F.sum(
            F.when(F.col("day") < split_lit, F.lit(0)).otherwise(F.col("cnt"))
        ).alias("cnt_cur"),
    )
    w = Window.partitionBy("event_type")
    wt = perb.select(
        "*",
        F.sum("cnt_ref").over(w).alias("n_ref"),
        F.sum("cnt_cur").over(w).alias("n_cur"),
        F.count(F.lit(1)).over(w).alias("supp"),
    )
    pr = (F.col("cnt_ref") + F.lit(0.5)) / (F.col("n_ref") + F.col("supp") / F.lit(2.0))
    pc = (F.col("cnt_cur") + F.lit(0.5)) / (F.col("n_cur") + F.col("supp") / F.lit(2.0))
    term = F.round((pc - pr) * F.log(pc / pr), 9).cast("decimal(38,9)")
    return (
        wt.select("event_type", "n_ref", "n_cur", "supp", term.alias("term"))
        .groupBy("event_type")
        .agg(
            F.first("n_ref").alias("n_ref"),
            F.first("n_cur").alias("n_cur"),
            F.first("supp").alias("n_buckets"),
            F.round(F.sum("term").cast("double"), 6).alias("psi"),
        )
        .filter(F.col("n_ref") > 0)
        .select(
            "event_type", "n_ref", "n_cur", "n_buckets", "psi",
            (F.col("psi") > F.lit(PSI_ALERT)).alias("drifted"),
        )
    )


def _jsonl_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.text(jsonl.jsonl_fixture_path(spark, sf_dir))


def _jsonl_partial(lines: DataFrame) -> DataFrame:
    """Each micro-batch parsed PERMISSIVE with the batch reader's
    corrupt-record contract (from_json carries columnNameOfCorruptRecord),
    folded to the per-(quarantined, source) count/char-mass ledger."""
    d = F.from_json(
        "value",
        jsonl._DOC_SCHEMA,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )
    return (
        lines.select(d.alias("d"))
        .select(
            F.col("d._corrupt").isNotNull().alias("quarantined"),
            F.col("d.source").alias("source"),
            F.col("d.n_chars").alias("n_chars"),
        )
        .groupBy("quarantined", "source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


def _jsonl_merge(old: DataFrame, partial: DataFrame) -> DataFrame:
    return (
        old.unionByName(partial)
        .groupBy("quarantined", "source")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("sum_chars").alias("sum_chars"),
        )
    )


def _cell_roots(view: DataFrame, leaves: str, leaf_hash, n_col: str) -> DataFrame:
    """The in-cell Merkle fold both cell-root faces read off their
    maintained per-(owner, cell) leaf sets: leaves → merkle_levels →
    top-level root, joined to the per-cell leaf count."""
    from euclid_spark.cache import persist_tracked
    from euclid_spark.operators.merkle import merkle_levels

    lv = persist_tracked(
        view.select("owner", "cell", F.posexplode(leaves).alias("pos", "lf"))
        .select(
            F.concat_ws("|", "owner", "cell").alias("group_key"),
            "owner", "cell", "pos",
            leaf_hash.alias("node_hash"),
        )
    )
    nodes, _ = merkle_levels(lv.select("group_key", "pos", "node_hash"))
    wl = Window.partitionBy("group_key")
    roots = (
        nodes.withColumn("ml", F.max("level").over(wl))
        .filter(F.col("level") == F.col("ml"))
        .select("group_key", F.col("node_hash").alias("root"))
    )
    meta = lv.groupBy("group_key", "owner", "cell").agg(
        F.count(F.lit(1)).alias(n_col)
    )
    return meta.join(roots, "group_key").select("owner", "cell", n_col, "root")


def _ivf_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        cached_parquet(spark, f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") >= N_QUERIES)
        .select("vec_id", "embedding")
    )


def _ivf_seed(corpus: DataFrame) -> DataFrame:
    """The fixed up-front model: the IVF_FACE_K lowest-vec_id corpus
    vectors (bounded parameter fetch, broadcast into every batch)."""
    rows = (
        corpus.orderBy("vec_id").limit(IVF_FACE_K)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb"))
        .collect()
    )
    return corpus.sparkSession.createDataFrame(
        [(r["cid"], [float(x) for x in r["cemb"]]) for r in rows],
        "cid long, cemb array<double>",
    )


def _ivf_assign(batch: DataFrame, model: DataFrame) -> DataFrame:
    """Each arriving vector to its nearest centroid — C5's rule: rounded
    cosine, (csim DESC, cid ASC) tiebreak, zero-norm guarded."""
    from euclid_spark.functions.vectors import cosine

    scored = batch.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
    ).crossJoin(F.broadcast(model)).select(
        "cid",
        "neighbor_id",
        F.round(cosine(F.col("ce").cast("array<double>"), F.col("cemb")), 6)
        .alias("csim"),
    )
    w = Window.partitionBy("neighbor_id").orderBy(F.desc("csim"), "cid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cid", "neighbor_id", "csim")
    )


def _eth_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events feed; also serves the BATCH eth_getProof capture the
    oracle compares against (cheap load when cached)."""
    eth_proof.eth_proof_fixture(spark, sf_dir)
    return _events(spark, sf_dir)


def _erc20_read(view: DataFrame) -> DataFrame:
    from euclid_spark.functions.u256 import u256_carry_hex

    return view.select(
        "owner",
        u256_carry_hex(F.col("s0"), F.col("s1"), F.col("s2"), F.col("s3"))
        .alias("reward_hex"),
        F.col("zs").alias("n_zero_supply"),
        F.col("of").alias("n_overflow"),
    )


MAINTAINED: "dict[str, Maintained]" = {
    # D30 streamed: the eth_getProof capture's ACCOUNT-STATE COMMITMENTS
    # maintained as blocks arrive. State = the distinct (owner,
    # mapping-key) ledger, an idempotent set-union monoid partitioned by
    # owner bucket; at read each account's SECURE storage trie rebuilds
    # from its key set (the level-batched keccak builder the batch
    # capture uses), and the roots must equal the capture's storageHash.
    "stream_eth_account_state": Maintained(
        "stream_eth_state",
        dict(op="stream_eth_state", slot=eth_proof.MAPPING_SLOT, v=1),
        _p._eth_pairs_partial,
        _p._eth_pairs_merge,
        "address string, nonce long, balance long, storage_root string",
        read=lambda v: eth_proof.account_state_rows(
            v.select("user_id", "token_id")
        ),
        source=_eth_source,
        key_col="pb",
    ),
    # D19: the maintained (user, day) count/sum/digest view. Sums are
    # DECIMAL so partial-merge order cannot drift a float at a rounding
    # boundary; served as double, as the oracle computes it.
    "stream_ivm_view": Maintained(
        "stream_ivm_view",
        dict(op="stream_ivm_view", v=2),
        _dec_partial,
        _dec_merge,
        "user_id long, day date, n_events bigint, total_value double, "
        "digest bigint",
        read=lambda v: v.select(
            "user_id", "day", "n_events",
            F.col("total_value").cast("double").alias("total_value"),
            "digest",
        ),
    ),
    # D19 with A7's argmax-by-event-id monoid: the per-(account, day)
    # latest-state snapshot — the reference's state DB (state/lpn/).
    # v=3: r8 changed the NULL-write semantics (skip-NULL argmax,
    # last_nn_id state column) — caches of the old monoid rebuild.
    "stream_state_rollup": Maintained(
        "stream_state_rollup",
        dict(op="stream_state_rollup", v=3),
        _rollup_partial,
        _rollup_merge,
        "user_id long, day date, last_value double, last_event_id bigint, "
        "n_events bigint",
    ),
    # A25's range-tree tiles, the streamed analog of
    # query2/block/partial_node.rs: appending blocks updates one path of
    # tiles, not the tree. The gate compares the FULL tile store with
    # every (chunk, level, cell) tile computed from raw events.
    "stream_range_tree_tiles": Maintained(
        "stream_range_tree_tiles",
        dict(op="stream_range_tree", v=1),
        _p._range_tree_partial,
        _p._range_tree_merge,
        "day int, level int, cell long, n_events bigint, sum_value double, "
        "min_block long, max_block long, digest bigint",
        read=lambda v: v.select(
            "day", "level", "cell", "n_events",
            F.col("sum_value").cast("double").alias("sum_value"),
            "min_block", "max_block", "digest",
        ),
    ),
    # A26's Query2 FIRST-L distinct-key tiles (query2/block/full_node.rs).
    # Per-batch TRUNCATED partials must re-merge to the from-scratch
    # first-L: a dropped key is larger than ≥L keys of its own slice, so
    # no truncation evicts a key the answer needs. Read explodes to
    # (tile, pos, token_id) so the oracle's ROW_NUMBER compares exactly.
    "stream_q2_key_tiles": Maintained(
        "stream_q2_key_tiles",
        dict(op="stream_q2_key_tiles", v=1),
        _p._q2_tiles_partial,
        _p._q2_tiles_merge,
        "day int, level int, cell long, owner long, pos int, token_id long",
        read=lambda v: v.select(
            "day", "level", "cell", "owner",
            F.posexplode("keys").alias("pos0", "token_id"),
        ).select(
            "day", "level", "cell", "owner",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            "token_id",
        ),
    ),
    # B47's per-day integer log-histogram tiles — the mergeable-sketch
    # path a 100 TB deployment serves quantiles from.
    "stream_hdr_quantile_tiles": Maintained(
        "stream_hdr_quantile_tiles",
        dict(op="stream_hdr_tiles", v=1),
        _p._hdr_partial,
        _p._hdr_merge,
        "day date, nbits int, sub long, cnt bigint",
    ),
    # B48's per-day distinct-user bitmaps: bit_or is idempotent, so
    # replay is free.
    "stream_lc_distinct_tiles": Maintained(
        "stream_lc_distinct_tiles",
        dict(op="stream_lc_tiles", v=1),
        _p._lc_partial,
        _p._lc_merge,
        "day date, word_idx int, word bigint",
    ),
    # D32: the drift monitor SERVED FROM MAINTAINED STATE — per-(type,
    # day) HDR tiles (the 18th D20 spec `drift_tiles`; bins are split-
    # invariant by construction, which is what makes PSI maintainable),
    # PSI read off the tiles: cost ∝ tiles, never a history rescan.
    # v=2 (r14): the RESERVED UNDERFLOW bucket (nbits=0, sub=0) joined
    # the tiles, so batch B59 and the streamed monitor bin the same rows.
    "stream_drift_psi": Maintained(
        "stream_drift_psi",
        dict(op="stream_drift_psi", v=2),
        _p._drift_partial,
        _p._drift_merge,
        _PSI_DDL,
        read=_psi_from_tiles,
    ),
    # D33, D31's streaming twin: the damaged-JSONL crawl tail arrives as
    # a text-file stream; the ledger is partitioned by the quarantine
    # flag. Same oracle as D31, so the gate binds stream parse →
    # quarantine → merge against the parquet ground truth.
    "stream_jsonl_ingest": Maintained(
        "stream_jsonl_ingest",
        dict(op="stream_jsonl_ingest", v=1),
        _jsonl_partial,
        _jsonl_merge,
        "quarantined boolean, source string, n_rows bigint, sum_chars bigint",
        # the Hive-style partition directory round-trips the flag
        # through partition-value inference — pin it back to boolean
        read=lambda v: v.select(
            F.col("quarantined").cast("boolean").alias("quarantined"),
            "source", "n_rows", "sum_chars",
        ),
        table="documents",
        source=_jsonl_source,
        split="value",
        key_col="quarantined",
        fmt="text",
    ),
    # A13's u256 reward view (query_erc20 + block/mod.rs): the leaf
    # circuit runs per micro-batch, per-owner limb sums form a plain
    # monoid, and the carry normalizes at read into A13's reward_hex.
    "stream_erc20_rewards": Maintained(
        "stream_erc20_rewards",
        dict(op="stream_erc20_rewards", v=1),
        _p._erc20_partial,
        _p._erc20_merge,
        "owner long, reward_hex string, n_zero_supply long, n_overflow long",
        read=_erc20_read,
    ),
    # A31's response commitments: the per-(owner, cell) in-cell Merkle
    # leaf sets of the rr_erc20 trees, folded to CELL ROOTS at read —
    # a live ingest maintains the structure responses open into.
    "stream_erc20_cell_roots": Maintained(
        "stream_erc20_cell_roots",
        dict(op="stream_erc20_cell_roots", v=1),
        _p._rr_cell_leaves_partial,
        _p._rr_cell_leaves_merge,
        "owner long, cell long, n_entries long, root string",
        read=lambda v: _cell_roots(
            v, "leaves", F.col("lf.node_hash"), "n_entries"
        ),
    ),
    # The Q2 twin (A30): per-(owner, cell) DISTINCT-KEY leaf sets
    # (idempotent set union — 16th D20 spec), leaf = sha256(token_id).
    # With the ERC-20 row, both reference query families' response
    # commitments have gate-checked incremental maintenance.
    "stream_q2_cell_roots": Maintained(
        "stream_q2_cell_roots",
        dict(op="stream_q2_cell_roots", v=1),
        _p._rr_q2_cell_leaves_partial,
        _p._rr_q2_cell_leaves_merge,
        "owner long, cell long, n_keys long, root string",
        read=lambda v: _cell_roots(
            v, "tokens", F.sha2(F.col("lf").cast("string"), 256), "n_keys"
        ),
    ),
    # B56's per-(user, hour) OHLC bars as a SELECTION monoid: the state
    # carries each selection's (ts, event_id) order key beside its
    # value, so the argmin/argmax lattice re-merges under any split.
    "stream_ohlc_bars": Maintained(
        "stream_ohlc_bars",
        dict(op="stream_ohlc_bars", v=1),
        _p._ohlc_partial,
        _p._ohlc_merge,
        "user_id long, hour_start timestamp, open double, high double, "
        "low double, close double, n_ticks bigint",
        read=lambda v: v.select(
            "user_id", "hour_start",
            F.col("o.v").alias("open"), "high", "low",
            F.col("c.v").alias("close"), "n_ticks",
        ),
    ),
    # D27: the IVF inverted-list store — each batch's vectors assigned
    # to their nearest centroid and merged into that cid's list
    # partition (a batch touches only the lists it lands in). The model
    # is pinned to a SQL-expressible seed so the gate can hash-check
    # the store; vec_ids are disjoint across batches, so the merge is a
    # plain union (replays are excluded by the per-cid watermark).
    "stream_ivf_assign": Maintained(
        "stream_ivf_assign",
        dict(op="stream_ivf_assign", k=IVF_FACE_K, v=1),
        _ivf_assign,
        DataFrame.unionByName,
        "cid long, neighbor_id long, csim double",
        table="embeddings",
        source=_ivf_corpus,
        split="vec_id",
        key_col="cid",
        model=_ivf_seed,
    ),
}


# ------------------------------------------------------- hand-run faces

def stream_block_db_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 face — the IncrementalDigest chain commitment after folding
    the corpus in N_SPLITS micro-batches: the IVC step function itself
    (block/mod.rs). chain = Σ batch_digest ≡ batch digest of the whole
    table (mod P), because the fold is associative and commutative."""
    from euclid_spark.streaming.block_db import read_event_stream, run_digest_chain

    fp = artifacts.corpus_fingerprint(
        [f"{sf_dir}/events.parquet"], op="stream_block_db_chain", n=N_SPLITS, v=2
    )

    def build(tmp: str) -> DataFrame:
        feed = os.path.join(tmp, "feed")
        n_files = _write_feed(
            cached_parquet(spark, f"{sf_dir}/events.parquet"), feed, "event_id"
        )
        q, sink = run_digest_chain(
            read_event_stream(spark, feed), os.path.join(tmp, "ck")
        )
        _run_stream(q, n_files, sink)
        return spark.createDataFrame(
            [(sink.chain, sink.n_rows)], "chain_digest long, n_rows long"
        )

    return _serve_streamed(spark, "stream_block_db_chain", fp, build)


def _streamed_dedup_state(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame]":
    """Run the D21 incremental dedup stream ONCE per corpus version and
    serve BOTH of its maintained outputs — the pair ledger and the
    component labels — under one shared fingerprint. In production
    there is one maintained index with many consumers."""
    from euclid_spark.operators import dedup as _d
    from euclid_spark.streaming.dedup_stream import (
        read_document_stream,
        run_incremental_dedup,
    )

    fp = artifacts.corpus_fingerprint(
        [f"{sf_dir}/documents.parquet"],
        op="stream_dedup_state",
        n=N_SPLITS,
        n_hashes=_d.N_HASHES,
        band=_d.BAND_SIZE,
        cap=_d.MAX_BUCKET,
        v=1,
    )
    pairs = artifacts.load_frame(spark, "stream_dedup_pairs", fp)
    labels = artifacts.load_frame(spark, "stream_dedup_labels", fp)
    if pairs is not None and labels is not None:
        return pairs, labels
    with tempfile.TemporaryDirectory(
        prefix="euclid_stream_dedup_state_", ignore_cleanup_errors=True
    ) as tmp:
        feed = os.path.join(tmp, "feed")
        n_files = _write_feed(
            cached_parquet(spark, f"{sf_dir}/documents.parquet").select(
                "doc_id", "text"
            ),
            feed,
            "doc_id",
        )
        q, sink = run_incremental_dedup(
            read_document_stream(spark, feed), os.path.join(tmp, "state")
        )
        _run_stream(q, n_files, sink)
        artifacts.save_frame(sink.pairs(), "stream_dedup_pairs", fp)
        artifacts.save_frame(sink.labels(), "stream_dedup_labels", fp)
    pairs = artifacts.load_frame(spark, "stream_dedup_pairs", fp)
    labels = artifacts.load_frame(spark, "stream_dedup_labels", fp)
    assert pairs is not None and labels is not None
    return pairs, labels


def stream_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D21 face — the candidate-pair ledger of the incremental
    MinHash/LSH index after ingesting the documents table in N_SPLITS
    batches. Equals C2's batch pair set by the induction argument
    (every pair is found when its younger member arrives); the oracle
    is C2's SQL, so the gate verifies the induction on real data.
    Served from the SHARED streamed-state build (_streamed_dedup_state
    — one stream run feeds this face and the two label consumers)."""
    pairs, _ = _streamed_dedup_state(spark, sf_dir)
    return pairs


def _streamed_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document with its INCREMENTALLY MAINTAINED component label
    (the shared D21 streamed state); a doc no pair touched is its own
    component. Row-local over the served label scan — no second stream,
    no extra artifact."""
    _, labels = _streamed_dedup_state(spark, sf_dir)
    docs = cached_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.join(labels, "doc_id", "left").withColumn(
        "component", F.coalesce(F.col("component"), F.col("doc_id"))
    )


def stream_leakage_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D28 face — C46's leakage-safe train/valid/test split computed
    from the incrementally maintained component labels: the assignment
    a live ingestion pipeline would serve, where a newly arrived
    near-duplicate is pulled into its partner's component and therefore
    its partner's split — eval sets stay clean without re-running the
    batch dedup. Split rule identical to C46 (md5-bucket of the
    component, fixed thresholds); oracle = the same rule over the
    LSH-pair recursive closure (the pair universe D21 maintains)."""
    from euclid_spark.operators.curation import SPLIT_TRAIN, SPLIT_VALID

    assigned = _streamed_components(spark, sf_dir)
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("split|"), F.col("component").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    )
    return assigned.select(
        "doc_id",
        "component",
        bucket.alias("bucket"),
        F.when(bucket < SPLIT_TRAIN, F.lit("train"))
        .when(bucket < SPLIT_VALID, F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def stream_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D35 face (r15) — C54's soft-dedup TRAINING WEIGHTS computed from
    the incrementally maintained component labels (the third consumer
    of the shared streamed dedup state): as near-duplicates stream in,
    cluster sizes grow and every member's weight 1/|cluster| decays
    WITHOUT re-running batch dedup — the sampling weights a soft-dedup
    trainer (Abbas et al. 2023, SemDeDup-style down-weighting practice)
    reads stay fresh against a growing corpus. Two aggregates over the
    served label scan (groupBy component, then an equi-join on the same
    key — one exchange, reused); oracle = the same 1/|component| rule
    over the LSH-pair recursive closure."""
    assigned = _streamed_components(spark, sf_dir)
    sizes = assigned.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return assigned.join(sizes, "component").select(
        "doc_id",
        "component",
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size"), 9).alias("weight"),
    )


def stream_curation_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D22 face — the maintained curated training set (kept ∖ revoked)
    after streaming the corpus through the curation sink. The dedup
    stage is D21's LSH-candidate component labeling (revocation ledger),
    so the oracle composes sample/repetition/contamination with the
    recursive-CTE closure over the LSH pair set."""
    from euclid_spark.operators import dedup as _d
    from euclid_spark.operators.quality_model import quality_model_weights
    from euclid_spark.operators.textops import BENCH_SOURCES, benchmark_shingles
    from euclid_spark.streaming.curation_stream import run_streaming_curation

    fp = artifacts.corpus_fingerprint(
        [f"{sf_dir}/documents.parquet"],
        op="stream_curation_kept",
        n=N_SPLITS,
        n_hashes=_d.N_HASHES,
        band=_d.BAND_SIZE,
        cap=_d.MAX_BUCKET,
        v=4,  # r15: C61 learned filter joined (r14 v=3: C60 safety)
    )

    def build(tmp: str) -> DataFrame:
        docs = cached_parquet(spark, f"{sf_dir}/documents.parquet")
        feed = os.path.join(tmp, "feed")
        cols = docs.select("doc_id", "text", "lang", "source")
        n_files = _write_feed(cols, feed, "doc_id")
        # the STATIC held-out benchmark index (the streaming contract:
        # the eval suite is fixed up front) — same set the batch
        # operator derives from the corpus's bench sources
        bench = benchmark_shingles(
            docs.filter(F.col("source").isin(*BENCH_SOURCES))
        )
        # the C61 model is STATIC too (offline-trained on the reference
        # corpus, served weights handed to the sink up front — r15)
        model = quality_model_weights(spark, sf_dir)
        q, sink = run_streaming_curation(
            _read_feed(spark, feed, cols.schema),
            os.path.join(tmp, "state"),
            bench,
            model,
        )
        _run_stream(q, n_files, sink)
        return sink.kept()

    return _serve_streamed(spark, "stream_curation_kept", fp, build)


def stream_substring_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D24 face — the incremental substring-span index's verdict table
    after ingesting the corpus in N_SPLITS batches. The index re-scores
    RETROACTIVELY (an old doc's verdict flips when its first duplicate
    arrives later), so the final table equals batch C28 — the oracle is
    C28's SQL, making the retroactive re-scoring gate-checked."""
    from euclid_spark.operators import dedup as _d
    from euclid_spark.streaming.dedup_stream import read_document_stream
    from euclid_spark.streaming.spans_stream import run_incremental_spans

    fp = artifacts.corpus_fingerprint(
        [f"{sf_dir}/documents.parquet"],
        op="stream_substring_verdicts",
        n=N_SPLITS,
        w=_d.SPAN_W,
        frac=_d.SPAN_DUP_FRAC,
        v=2,
    )

    def build(tmp: str) -> DataFrame:
        feed = os.path.join(tmp, "feed")
        n_files = _write_feed(
            cached_parquet(spark, f"{sf_dir}/documents.parquet").select(
                "doc_id", "text"
            ),
            feed,
            "doc_id",
        )
        q, sink = run_incremental_spans(
            read_document_stream(spark, feed), os.path.join(tmp, "state")
        )
        _run_stream(q, n_files, sink)
        return sink.verdicts()

    return _serve_streamed(spark, "stream_substring_verdicts", fp, build)


def stream_mpt_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D15 face — the incremental MPT reassembly's entries store after
    the raw trie nodes arrive in N_SPLITS batches in HASH order (parents
    and children scattered across batches, cursors parking on missing
    nodes). Equals batch A16 once every node has arrived, so A16's
    original-derivation SQL is the oracle — the park/resume walk is
    gate-checked."""
    from euclid_spark.operators.mpt_ingest import synthesize_owner_tries
    from euclid_spark.streaming.mpt_stream import (
        read_node_stream,
        run_incremental_mpt,
    )

    fp = artifacts.corpus_fingerprint(
        [f"{sf_dir}/events.parquet"], op="stream_mpt_entries", n=N_SPLITS, v=2
    )

    def build(tmp: str) -> DataFrame:
        feed = os.path.join(tmp, "feed")
        # hash-split on the content address: a child can arrive batches
        # before its parent and vice versa (structure-ignoring scatter)
        n_files = _write_feed(
            synthesize_owner_tries(spark, sf_dir), feed, "node_hash"
        )
        q, sink = run_incremental_mpt(
            read_node_stream(spark, feed), os.path.join(tmp, "state")
        )
        _run_stream(q, n_files, sink)
        if not sink.pending().isEmpty():
            raise RuntimeError("stream_mpt_entries: cursors still parked")
        return sink.entries()

    return _serve_streamed(spark, "stream_mpt_entries", fp, build)


def stream_ss_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D13 face — the watermarked STREAM-STREAM range join (purchase ⋈
    prior same-user clicks within 30 min) run as a real streaming
    query over the 3-batch feed, results landed by the parquet sink.
    Inner stream-stream joins emit on match, so once every batch is
    processed the landed pairs equal the batch range join — the oracle.
    The time-range predicate is what bounds both join states at scale
    (O(rate × window), not stream lifetime)."""
    from euclid_spark.streaming.block_db import read_event_stream
    from euclid_spark.streaming.joins import purchases_with_clicks

    fp = artifacts.corpus_fingerprint(
        [f"{sf_dir}/events.parquet"], op="stream_ss_join", n=N_SPLITS, v=3
    )

    def build(tmp: str) -> DataFrame:
        feed = os.path.join(tmp, "feed")
        # TIME-RANGE splits, not the hash scatter: a watermarked join
        # CONTRACTUALLY drops rows later than the watermark bound, so
        # the feed must be approximately time-ordered (as a real stream
        # is) — the 1-hour watermark absorbs the boundary raggedness.
        # The monoid faces tolerate arbitrary order; eviction-based
        # operators define correctness only within their lateness bound.
        n_files = _write_feed(
            cached_parquet(spark, f"{sf_dir}/events.parquet"), feed, "ts",
            by_time=True,
        )
        out = os.path.join(tmp, "out")
        q = (
            purchases_with_clicks(read_event_stream(spark, feed))
            .select("purchase_id", "click_id", "p_user", "p_value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        _run_stream(q, n_files)
        schema = "purchase_id long, click_id long, p_user long, p_value double"
        if not glob.glob(os.path.join(out, "part-*")):  # no pairs landed
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(out)

    return _serve_streamed(spark, "stream_ss_join", fp, build)


def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 face — the WATERMARKED TUMBLING-WINDOW aggregation (the
    standing query over the append stream) run as a real streaming
    query in complete mode over the time-split feed (time-ordered for
    the same watermark reason as stream_ss_join); the final state must
    equal the batch per-(hour, type) aggregate. DECIMAL sums so
    streamed partial merges and the one-pass oracle agree exactly."""
    from euclid_spark.streaming.block_db import read_event_stream

    fp = artifacts.corpus_fingerprint(
        [f"{sf_dir}/events.parquet"], op="stream_windowed_counts", n=N_SPLITS, v=1
    )

    def build(tmp: str) -> DataFrame:
        feed = os.path.join(tmp, "feed")
        n_files = _write_feed(
            cached_parquet(spark, f"{sf_dir}/events.parquet"), feed, "ts",
            by_time=True,
        )
        agg = (
            read_event_stream(spark, feed)
            .withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("decimal(18,6)")
                .alias("total_value"),
            )
        )
        qname = f"wc_{fp[:12]}"
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        _run_stream(q, n_files)
        return spark.table(qname).select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n",
            F.col("total_value").cast("double").alias("total_value"),
        )

    return _serve_streamed(spark, "stream_windowed_counts", fp, build)


def stream_epoch_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D34 face (r15) — the epoch-shard manifest served from the
    INCREMENTALLY MAINTAINED bucket-keyed shard-row store after
    streaming the corpus through the D34 sink in N_SPLITS adversarial
    hash-split batches (shard_stream.py: per-doc tokenize+hash paid
    once at ingest, appends touch only the hash-buckets a batch hits).
    The gate compares the maintained manifest against C55's own batch
    SQL over the full corpus — incremental ≡ batch for the exact
    artifact a training dataloader consumes (the D19/D20 discipline)."""
    from euclid_spark.operators.curation import EPOCH_SEED, SHARD_TOKENS
    from euclid_spark.streaming.dedup_stream import read_document_stream
    from euclid_spark.streaming.shard_stream import run_streaming_shards

    fp = artifacts.corpus_fingerprint(
        [f"{sf_dir}/documents.parquet"],
        op="stream_epoch_shards",
        n=N_SPLITS,
        seed=EPOCH_SEED,
        budget=SHARD_TOKENS,
        v=1,
    )

    def build(tmp: str) -> DataFrame:
        docs = cached_parquet(spark, f"{sf_dir}/documents.parquet")
        feed = os.path.join(tmp, "feed")
        n_files = _write_feed(docs.select("doc_id", "text"), feed, "doc_id")
        q, sink = run_streaming_shards(
            read_document_stream(spark, feed), os.path.join(tmp, "state")
        )
        _run_stream(q, n_files, sink)
        return sink.manifest()

    return _serve_streamed(spark, "stream_epoch_shards", fp, build)


# ---------------------------------------------------------------- oracles

# The streamed view sums DECIMAL(18,6); mirrored exactly.
_IVM_SQL = f"""
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           CAST(SUM((event_id * {MIX} + user_id * 97) % {DIGEST_PRIME})
                % {DIGEST_PRIME} AS BIGINT) AS digest
    FROM events GROUP BY user_id, CAST(ts AS DATE)
"""

_ROLLUP_SQL = """
    SELECT user_id, CAST(ts AS DATE) AS day,
           max_by(value, event_id) AS last_value,
           MAX(event_id) AS last_event_id,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id, CAST(ts AS DATE)
"""

_CHAIN_SQL = f"""
    SELECT CAST(SUM((event_id * {MIX} + user_id * 97) % {DIGEST_PRIME})
                % {DIGEST_PRIME} AS BIGINT) AS chain_digest,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events
"""


def _lsh_closure_ctes() -> str:
    """LSH candidate pairs (C2's oracle CTE chain) → symmetrized edges
    → transitive closure → min-label components: the pair universe the
    incremental index maintains, as recursive SQL."""
    from euclid_spark.operators.dedup import (
        MAX_BUCKET,
        _BAND_SELECTS,
        _SH,
        _SIG_COLS,
    )

    return f"""
        {_SH},
        sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
        bands AS ({_BAND_SELECTS}),
        guarded AS (
            SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_val) AS bucket_n
            FROM bands
        ),
        lsh_pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM guarded a JOIN guarded b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
            WHERE a.bucket_n <= {MAX_BUCKET} AND b.bucket_n <= {MAX_BUCKET}
        ),
        sym AS (
            SELECT doc_a AS a, doc_b AS b FROM lsh_pairs
            UNION SELECT doc_b, doc_a FROM lsh_pairs
        ),
        reach(a, b) AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        ),
        comp AS (
            SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
            FROM reach GROUP BY a
        )
    """


def _components_ctes() -> str:
    """_lsh_closure_ctes plus `assign`: every document with its
    component (a doc no pair touched is its own) — the oracle side of
    _streamed_components."""
    return f"""
        {_lsh_closure_ctes()},
        assign AS (
            SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        )
    """


def _leakage_splits_sql() -> str:
    from euclid_spark.operators.curation import SPLIT_TRAIN, SPLIT_VALID

    return f"""
        WITH RECURSIVE
        {_components_ctes()},
        b AS (
            SELECT doc_id, component,
                   CAST('0x' || substr(md5('split|' ||
                        CAST(component AS VARCHAR)), 1, 8) AS BIGINT)
                   % 100 AS bucket
            FROM assign
        )
        SELECT doc_id, component, CAST(bucket AS BIGINT) AS bucket,
               CASE WHEN bucket < {SPLIT_TRAIN} THEN 'train'
                    WHEN bucket < {SPLIT_VALID} THEN 'valid'
                    ELSE 'test' END AS split
        FROM b
    """


def _soft_dedup_weights_sql() -> str:
    return f"""
        WITH RECURSIVE
        {_components_ctes()},
        csize AS (
            SELECT component, COUNT(*) AS cluster_size
            FROM comp GROUP BY component
        )
        SELECT a.doc_id, a.component,
               CAST(COALESCE(s.cluster_size, 1) AS BIGINT) AS cluster_size,
               ROUND(1.0 / COALESCE(s.cluster_size, 1), 9) AS weight
        FROM assign a LEFT JOIN csize s ON a.component = s.component
    """


def _curation_kept_sql() -> str:
    from euclid_spark.operators.quality_model import ORACLES as _QM
    from euclid_spark.operators.textops import BENCH_SOURCES, ORACLES as _TO

    samp = _TO["text_stratified_sample"]
    rep = _TO["text_repetition_filter"]
    contam = _TO["text_benchmark_overlap"]
    safety = _TO["text_safety_screen"]
    qmodel = _QM["text_quality_model"]
    bench = ", ".join(f"'{s}'" for s in BENCH_SOURCES)
    return f"""
        WITH RECURSIVE
        {_lsh_closure_ctes()}
        SELECT s.doc_id, s.lang, s.source, s.bucket_hex
        FROM ({samp}) s
        JOIN (SELECT doc_id FROM ({rep}) WHERE keep) r ON s.doc_id = r.doc_id
        LEFT JOIN (SELECT doc_id FROM ({contam}) WHERE contaminated) c
               ON s.doc_id = c.doc_id
        LEFT JOIN (SELECT doc_id FROM ({safety}) WHERE blocked) x
               ON s.doc_id = x.doc_id
        LEFT JOIN (SELECT doc_id FROM ({qmodel}) WHERE NOT model_keep) qm
               ON s.doc_id = qm.doc_id
        WHERE c.doc_id IS NULL
          AND x.doc_id IS NULL
          AND qm.doc_id IS NULL
          AND s.source NOT IN ({bench})
          AND s.doc_id NOT IN (
              SELECT doc_id FROM comp WHERE doc_id <> component
          )
    """


def _q2_key_tiles_sql() -> str:
    from euclid_spark.operators.euclid import TOP_L
    from euclid_spark.operators.range_tree import TILE_SIZE
    from euclid_spark.streaming.parity import _RT_LEVELS

    return f"""
        WITH e AS (
            SELECT (event_id // {TILE_SIZE}) AS cell0, user_id AS owner,
                   CAST(json_extract_string(props, '$.k') AS BIGINT)
                       AS token_id
            FROM events
            WHERE event_type = 'purchase'
              AND json_extract_string(props, '$.k') IS NOT NULL
        ),
        x AS (
            SELECT DISTINCT CAST(cell0 >> {_RT_LEVELS} AS INT) AS day,
                   CAST(g.level AS INT) AS level,
                   cell0 >> g.level AS cell, owner, token_id
            FROM e CROSS JOIN
                 (SELECT unnest(range(0, {_RT_LEVELS + 1})) AS level) g
        )
        SELECT day, level, cell, owner, CAST(rn AS INT) AS pos, token_id
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY day, level, cell, owner ORDER BY token_id) AS rn
            FROM x
        )
        WHERE rn <= {TOP_L}
    """


def _range_tree_tiles_sql() -> str:
    from euclid_spark.operators.range_tree import TILE_SIZE
    from euclid_spark.streaming.parity import _RT_LEVELS

    return f"""
        SELECT CAST((event_id // {TILE_SIZE}) >> {_RT_LEVELS} AS INT) AS day,
               CAST(g.level AS INT) AS level,
               (event_id // {TILE_SIZE}) >> g.level AS cell,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
               MIN(event_id) AS min_block,
               MAX(event_id) AS max_block,
               CAST(SUM((event_id * {MIX} + user_id * 97) % {DIGEST_PRIME})
                    % {DIGEST_PRIME} AS BIGINT) AS digest
        FROM events
        CROSS JOIN (SELECT unnest(range(0, {_RT_LEVELS + 1})) AS level) g
        GROUP BY 1, 2, 3
    """


def _drift_psi_sql() -> str:
    from euclid_spark.operators.drift import PSI_ALERT
    from euclid_spark.operators.quantile_sketch import SUB_BITS

    lo, mask = 1 << (SUB_BITS + 1), (1 << SUB_BITS) - 1
    return f"""
        WITH vals AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(FLOOR(value * 100) AS BIGINT) AS v
            FROM events
            WHERE ts IS NOT NULL AND value IS NOT NULL
        ),
        sp AS (
            SELECT MIN(day) + CAST((MAX(day) - MIN(day)) // 2 AS INTEGER)
                   AS split_day
            FROM vals
        ),
        keyed AS (
            SELECT event_type, day,
                   CASE WHEN v < 1 THEN 0
                        WHEN v < {lo} THEN {SUB_BITS + 1}
                        ELSE LENGTH(printf('%b', v)) END AS nbits,
                   CASE WHEN v < 1 THEN 0
                        WHEN v < {lo} THEN v
                        ELSE (v >> (LENGTH(printf('%b', v)) - {SUB_BITS + 1}))
                             & {mask} END AS sub
            FROM vals
        ),
        perb AS (
            SELECT k.event_type, k.nbits, k.sub,
                   SUM(CASE WHEN k.day < sp.split_day THEN 1 ELSE 0 END)
                       AS cnt_ref,
                   SUM(CASE WHEN k.day < sp.split_day THEN 0 ELSE 1 END)
                       AS cnt_cur
            FROM keyed k, sp GROUP BY 1, 2, 3
        ),
        wt AS (
            SELECT *,
                   SUM(cnt_ref) OVER (PARTITION BY event_type) AS n_ref,
                   SUM(cnt_cur) OVER (PARTITION BY event_type) AS n_cur,
                   COUNT(*) OVER (PARTITION BY event_type) AS supp
            FROM perb
        ),
        terms AS (
            SELECT event_type, n_ref, n_cur, supp,
                   CAST(ROUND(
                       ((cnt_cur + 0.5) / (n_cur + supp / 2.0)
                        - (cnt_ref + 0.5) / (n_ref + supp / 2.0))
                       * ln(((cnt_cur + 0.5) / (n_cur + supp / 2.0))
                            / ((cnt_ref + 0.5) / (n_ref + supp / 2.0))),
                       9) AS DECIMAL(38,9)) AS term
            FROM wt
        ),
        agg AS (
            SELECT event_type, MIN(n_ref) AS n_ref, MIN(n_cur) AS n_cur,
                   MIN(supp) AS n_buckets,
                   ROUND(CAST(SUM(term) AS DOUBLE), 6) AS psi
            FROM terms GROUP BY 1
        )
        SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref,
               CAST(n_cur AS BIGINT) AS n_cur,
               CAST(n_buckets AS BIGINT) AS n_buckets, psi,
               psi > {PSI_ALERT} AS drifted
        FROM agg WHERE n_ref > 0
    """


def _cell_roots_sql(base: str, order: str, leaf: str, n_col: str) -> str:
    """The in-cell Merkle fold replayed in SQL over `base` (owner, cell,
    ...): leaves in `order`, then one halving CTE per tree level —
    pairs hash, an unpaired tail promotes unchanged — down to the root;
    a cell holds ≤ TILE_SIZE leaves, so log2(TILE_SIZE) halvings reach it."""
    from euclid_spark.operators.range_tree import TILE_SIZE

    depth = TILE_SIZE.bit_length() - 1
    halvings = ",\n".join(
        f"""l{k} AS (
  SELECT owner, cell, pos // 2 AS pos,
         CASE WHEN count(*) = 2
              THEN sha256(string_agg(node_hash, '' ORDER BY pos))
              ELSE min(node_hash) END AS node_hash
  FROM l{k - 1} GROUP BY owner, cell, pos // 2
)"""
        for k in range(1, depth + 1)
    )
    return f"""
WITH base AS ({base}),
l0 AS (
  SELECT owner, cell,
         row_number() OVER (PARTITION BY owner, cell
                            ORDER BY {order}) - 1 AS pos,
         {leaf} AS node_hash
  FROM base
),
{halvings},
counts AS (
  SELECT owner, cell, count(*) AS {n_col} FROM l0 GROUP BY owner, cell
)
SELECT c.owner, c.cell, CAST(c.{n_col} AS BIGINT) AS {n_col},
       r.node_hash AS root
FROM counts c JOIN l{depth} r ON r.owner = c.owner AND r.cell = c.cell
"""


def _q2_cell_roots_sql() -> str:
    from euclid_spark.operators.euclid import _TOKEN
    from euclid_spark.operators.range_tree import TILE_SIZE

    return _cell_roots_sql(
        f"""
  SELECT DISTINCT user_id AS owner, {_TOKEN} AS token_id,
         event_id // {TILE_SIZE} AS cell
  FROM events
  WHERE event_type = 'purchase' AND {_TOKEN} IS NOT NULL""",
        "token_id",
        "sha256(token_id::VARCHAR)",
        "n_keys",
    )


def _erc20_cell_roots_sql() -> str:
    from euclid_spark.operators.euclid import REWARDS_RATE, _TOKEN
    from euclid_spark.operators.range_tree import TILE_SIZE

    return _cell_roots_sql(
        f"""
  SELECT user_id AS owner, event_id,
         lpad(lower(to_hex(
             CASE WHEN tok IS NULL OR tok = 0 THEN CAST(0 AS HUGEINT)
                  ELSE (CAST(FLOOR(value * 10000) AS HUGEINT)
                        * CAST('18446744073709551616' AS HUGEINT)
                        + event_id) * {REWARDS_RATE} // tok
             END)), 64, '0') AS entry_reward_hex,
         event_id // {TILE_SIZE} AS cell
  FROM (SELECT user_id, event_id, value, {_TOKEN} AS tok FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL)""",
        "event_id",
        "sha256(event_id::VARCHAR || ':' || entry_reward_hex)",
        "n_entries",
    )


def _ivf_assign_sql() -> str:
    from euclid_spark.operators.similarity import _DOT, _NC, _NQ

    dot = _DOT.replace("qe", "cemb")
    nq = _NQ.replace("qe", "cemb")
    return f"""
        WITH c AS (SELECT vec_id AS neighbor_id, embedding AS ce
                   FROM embeddings WHERE vec_id >= {N_QUERIES}),
        cent AS (SELECT vec_id AS cid, embedding AS cemb
                 FROM embeddings WHERE vec_id >= {N_QUERIES}
                 ORDER BY vec_id LIMIT {IVF_FACE_K}),
        s AS (SELECT cid, neighbor_id,
                     ROUND(CASE WHEN {nq} * {_NC} = 0 THEN 0.0
                                ELSE {dot} / ({nq} * {_NC}) END, 6) AS csim
              FROM c CROSS JOIN cent),
        r AS (SELECT cid, neighbor_id, csim,
                     ROW_NUMBER() OVER (PARTITION BY neighbor_id
                         ORDER BY csim DESC, cid) AS rn
              FROM s)
        SELECT cid, neighbor_id, csim FROM r WHERE rn = 1
    """


def _hdr_tiles_sql() -> str:
    from euclid_spark.operators.quantile_sketch import SUB_BITS

    lo = 1 << (SUB_BITS + 1)
    mask = (1 << SUB_BITS) - 1
    return f"""
        WITH vals AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(FLOOR(value * 100) AS BIGINT) AS v
            FROM events
        )
        SELECT day,
               CAST(CASE WHEN v < {lo} THEN {SUB_BITS + 1}
                         ELSE LENGTH(printf('%b', v)) END AS INT) AS nbits,
               CASE WHEN v < {lo} THEN v
                    ELSE (v >> (LENGTH(printf('%b', v)) - {SUB_BITS + 1}))
                         & {mask} END AS sub,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM vals WHERE v >= 1
        GROUP BY 1, 2, 3
    """


def _lc_tiles_sql() -> str:
    from euclid_spark.operators.distinct_sketch import LC_BITS

    return f"""
        WITH bits AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST('0x' || substr(md5(user_id::VARCHAR), 1, 8) AS BIGINT)
                       % {LC_BITS} AS bit
            FROM events
        )
        SELECT day, CAST(bit // 64 AS INT) AS word_idx,
               bit_or(CASE WHEN bit % 64 = 63
                           THEN -9223372036854775807 - 1
                           ELSE 1::BIGINT << (bit % 64) END) AS word
        FROM bits GROUP BY 1, 2
    """


def _eth_state_sql(sf_dir: str) -> str:
    """Oracle: the BATCH capture's commitments joined to relational
    expectations — streamed trie roots must equal the from-scratch
    capture's storageHash (the IVC gate)."""
    path = os.path.join(
        artifacts.artifact_dir(),
        f"eth_proof_fixture_{eth_proof._fixture_fp(sf_dir)}.parquet",
    )
    tok = "CAST(json_extract_string(props, '$.k') AS BIGINT)"
    return f"""
        WITH d AS (
            SELECT DISTINCT user_id, {tok} AS token_id
            FROM events
            WHERE event_type = 'purchase' AND {tok} IS NOT NULL
        ),
        per AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS nonce,
                   CAST(SUM(token_id) AS BIGINT) AS balance
            FROM d GROUP BY user_id
        ),
        fx AS (
            SELECT user_id, address, storageHash
            FROM read_parquet('{path}/*.parquet')
        )
        SELECT fx.address, per.nonce, per.balance,
               fx.storageHash AS storage_root
        FROM per JOIN fx USING (user_id)
    """


def _maintained_face(key: str) -> Callable[[SparkSession, str], DataFrame]:
    face = MAINTAINED[key]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _serve_maintained(spark, sf_dir, face)

    run.__name__ = key
    return run


DYNAMIC_ORACLES = {"stream_eth_account_state": _eth_state_sql}

_HAND_RUN = {
    "stream_block_db_chain": stream_block_db_chain,
    "stream_dedup_pairs": stream_dedup_pairs,
    "stream_curation_kept": stream_curation_kept,
    "stream_substring_verdicts": stream_substring_verdicts,
    "stream_mpt_entries": stream_mpt_entries,
    "stream_ss_join": stream_ss_join,
    "stream_windowed_counts": stream_windowed_counts,
    "stream_leakage_splits": stream_leakage_splits,
    "stream_epoch_shards": stream_epoch_shards,
    "stream_soft_dedup_weights": stream_soft_dedup_weights,
}

# registry order (the driver's key windows depend on it)
QUERIES = {
    k: _HAND_RUN[k] if k in _HAND_RUN else _maintained_face(k)
    for k in (
        "stream_eth_account_state",
        "stream_ivm_view",
        "stream_state_rollup",
        "stream_block_db_chain",
        "stream_dedup_pairs",
        "stream_curation_kept",
        "stream_substring_verdicts",
        "stream_mpt_entries",
        "stream_ss_join",
        "stream_windowed_counts",
        "stream_range_tree_tiles",
        "stream_q2_key_tiles",
        "stream_hdr_quantile_tiles",
        "stream_lc_distinct_tiles",
        "stream_erc20_rewards",
        "stream_erc20_cell_roots",
        "stream_q2_cell_roots",
        "stream_ivf_assign",
        "stream_leakage_splits",
        "stream_ohlc_bars",
        "stream_drift_psi",
        "stream_jsonl_ingest",
        "stream_epoch_shards",
        "stream_soft_dedup_weights",
    )
}

ORACLES = {
    "stream_epoch_shards": curation.ORACLES["curation_epoch_shards"],
    "stream_soft_dedup_weights": _soft_dedup_weights_sql(),
    "stream_range_tree_tiles": _range_tree_tiles_sql(),
    "stream_q2_key_tiles": _q2_key_tiles_sql(),
    "stream_hdr_quantile_tiles": _hdr_tiles_sql(),
    "stream_lc_distinct_tiles": _lc_tiles_sql(),
    "stream_erc20_rewards": euclid.ORACLES["euclid_erc20_weighted_sum_u256"],
    "stream_erc20_cell_roots": _erc20_cell_roots_sql(),
    "stream_q2_cell_roots": _q2_cell_roots_sql(),
    "stream_ivf_assign": _ivf_assign_sql(),
    "stream_leakage_splits": _leakage_splits_sql(),
    "stream_ohlc_bars": timeseries.ORACLES["rel_ohlc_resample"],
    "stream_drift_psi": _drift_psi_sql(),
    "stream_jsonl_ingest": jsonl.ORACLES["src_jsonl_quarantine"],
    "stream_ivm_view": _IVM_SQL,
    "stream_state_rollup": _ROLLUP_SQL,
    "stream_block_db_chain": _CHAIN_SQL,
    "stream_dedup_pairs": dedup.ORACLES["dedup_minhash_lsh"],
    "stream_curation_kept": _curation_kept_sql(),
    "stream_substring_verdicts": dedup.ORACLES["dedup_substring_spans"],
    "stream_mpt_entries": mpt_ingest.ORACLES["euclid_mpt_reassemble"],
    "stream_ss_join": """
        SELECT p.event_id AS purchase_id, c.event_id AS click_id,
               p.user_id AS p_user, p.value AS p_value
        FROM events p
        JOIN events c
          ON c.user_id = p.user_id
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL 30 MINUTE
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    "stream_windowed_counts": """
        SELECT to_timestamp(FLOOR(epoch(ts) / 3600) * 3600) AS win_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   AS total_value
        FROM events
        GROUP BY 1, 2
    """,
}
