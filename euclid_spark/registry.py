"""Central registry: merges every operator module's QUERIES / ORACLES.

`__spark_entry__.py` (the driver contract) is a thin shim over this.
Every key in SURVEY.md §2 appears here once its module lands.

`run_face` is the one face runner: every tool and bench pass that
builds a face, acts on it and times it goes through it, and gets back
the same record.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from euclid_spark import cache
from euclid_spark.catalog import FALLBACKS
from euclid_spark.sources import bucketing, eth_proof, jsonl, partitioned, zorder
from euclid_spark.streaming import faces
from euclid_spark.operators import (
    cdc,
    cms_range,
    drift,
    components,
    contract_param,
    skew,
    curation,
    dedup,
    distinct_sketch,
    euclid,
    merkle,
    mpt_ingest,
    multimodal,
    preprocessing,
    quality_model,
    quantile_sketch,
    range_response,
    range_tree,
    relational,
    similarity,
    textops,
    timeseries,
)

# Newest faces first: the driver's per-round correctness gate compares the
# FIRST 50 registry keys against their DuckDB oracles, so the keys most in
# need of an independent gate (this round's and recent rounds' additions)
# must sit inside that window — not r1's long-proven euclid/tpch rows.
# Ordered newest → oldest by the round that introduced each key (r15 first);
# everything not listed follows in stable module order. A listed key that
# doesn't exist (yet) is skipped, so entries can be staged ahead of their
# module landing.
_NEWEST_FIRST = [
    # r15
    "text_quality_model",
    "text_quality_model_calibration",
    "stream_soft_dedup_weights",
    "curation_model_filtered_mix",
    "sim_matryoshka_recall_report",
    "stream_epoch_shards",
    # r14
    "sim_ivf_exact_fit_topk",
    "curation_shard_roundtrip",
    "text_safety_screen",
    "rel_data_drift_psi_quantile",
    # r13/r12
    "sim_ann_recall_report",
    "curation_epoch_shards",
    "curation_soft_dedup_weights",
    "rel_data_drift_psi",
    "src_jsonl_quarantine",
    "stream_jsonl_ingest",
    "stream_drift_psi",
    "text_tokenizer_fertility",
    "mm_audio_triage",
    "mm_feature_census",
    # r11/r10
    "euclid_eth_proof_verify",
    "euclid_verifiable_response_alt_contract",
    "stream_eth_account_state",
    # r9
    "euclid_q2_range_response",
    "euclid_erc20_range_response",
    "euclid_verify_q2_range_response",
    "euclid_verify_erc20_range_response",
    "euclid_q2_distinct_keys_alt_contract",
    "euclid_q2_range_tree_topL_alt_contract",
    "rel_events_profile",
    "stream_q2_cell_roots",
    "stream_erc20_cell_roots",
    # r8
    "euclid_q2_range_tree_topL",
    "euclid_erc20_range_tree_reward",
    "euclid_verify_response",
    "euclid_verify_erc20_response",
    "sim_range_search",
    "stream_q2_key_tiles",
    # r7 (fills the 50-key window)
    "euclid_range_tree_agg",
    "rel_hdr_quantile_sketch",
    "rel_hdr_range_quantiles",
    "rel_linear_count_distinct",
    "rel_lc_range_distinct",
    "rel_cms_range_topk",
    "rel_table_profile",
    "rel_gap_fill_locf",
    "rel_time_weighted_avg",
    "rel_ohlc_resample",
    "rel_event_dedup_window",
    "rel_value_outliers",
    "rel_seasonal_profile",
    "curation_leakage_safe_split",
    "dedup_provenance_report",
]

_MODULES = [
    euclid,
    relational,
    dedup,
    similarity,
    textops,
    multimodal,
    components,
    mpt_ingest,
    merkle,
    curation,
    preprocessing,
    skew,
    cdc,
    bucketing,
    partitioned,
    zorder,
    faces,
    range_tree,
    quantile_sketch,
    distinct_sketch,
    timeseries,
    cms_range,
    contract_param,   # } last: keep the driver's first-50 key prefix stable
    range_response,   # }
    eth_proof,        # }
    drift,            # }
    jsonl,            # }
    quality_model,    # r15 — gated via _NEWEST_FIRST
]

def _with_session_confs(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Pin the runtime confs results depend on, whatever session the
    caller built: UTC (date truncation and NTZ→TIMESTAMP casts must
    match the UTC-naive oracle)."""

    def inner(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # local-mode tuning only (results unaffected): a default 200
        # shuffle partitions over-parallelizes tiny local shuffles
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism
            )
        return fn(spark, sf_dir)

    inner.__name__ = getattr(fn, "__name__", "query")
    inner.__doc__ = fn.__doc__
    return inner


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        merged.update({k: _with_session_confs(v) for k, v in m.QUERIES.items()})
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        k: merged[k] for k in _NEWEST_FIRST if k in merged
    }
    out.update(merged)  # re-inserting an existing key keeps its position
    return out


def oracles(sf_dir: str = "/root/testdata/sf0.01") -> dict[str, str]:
    """Static ORACLES plus each module's DYNAMIC_ORACLES — generators
    called with the corpus dir at lookup time. Dynamic oracles exist for
    queries whose oracle takes a SERVED MODEL ARTIFACT as an input table
    (read_parquet of the fitted k-means centroids): the artifact path is
    corpus-fingerprint-keyed, so the SQL string depends on sf_dir. The
    default is the driver's correctness-gate corpus. A generator that
    raises (e.g. corpus missing) degrades that key to the rows-only
    check instead of failing the whole lookup — loudly: see
    `oracle_lookup`."""
    return oracle_lookup(sf_dir)[0]


def oracle_lookup(sf_dir: str) -> "tuple[dict[str, str], dict[str, str]]":
    """(oracles, degraded): `oracles()`'s key → SQL map, and key → error
    for every key whose dynamic generator raised. Each degraded key is
    also logged at WARNING."""
    out: dict[str, str] = {}
    degraded: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
        for k, gen in getattr(m, "DYNAMIC_ORACLES", {}).items():
            try:
                out[k] = gen(sf_dir)
            except Exception as ex:  # noqa: BLE001 — degrade to rows-only
                out.pop(k, None)
                degraded[k] = f"{type(ex).__name__}: {ex}"
                logging.getLogger(__name__).warning(
                    "oracle for %s degraded to a rows-only check: %s",
                    k, degraded[k],
                )
    return out, degraded


def noop(df: DataFrame) -> None:
    """Execute `df`'s full physical plan into the noop sink: the engine's
    cost, without moving rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def to_pandas(df: DataFrame):
    return df.toPandas()


class StatusStore:
    """Jobs and stages in Spark's status store past an id mark.

    Status updates arrive on the listener bus asynchronously, so each
    read drains it first. The store's job and stage views are iterated
    newest-first and stop at the mark, so a read costs O(new entries);
    the retention limit (spark.ui.retainedJobs/Stages) matters only if
    one call runs more jobs than the store retains."""

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._kv = self._sc.statusStore().store()
        cls = sc._jvm.java.lang.Class.forName
        self._jobs = cls("org.apache.spark.status.JobDataWrapper")
        self._stages = cls("org.apache.spark.status.StageDataWrapper")

    def _newest(self, cls) -> Iterator:
        it = self._kv.view(cls).reverse().closeableIterator()
        try:
            while it.hasNext():
                yield it.next().info()
        finally:
            it.close()

    def mark(self) -> "tuple[int, int]":
        """(newest job id, newest stage id), -1 when there is none."""
        self._sc.listenerBus().waitUntilEmpty()
        job = next((j.jobId() for j in self._newest(self._jobs)), -1)
        stage = next((s.stageId() for s in self._newest(self._stages)), -1)
        return job, stage

    def since(self, mark: "tuple[int, int]") -> dict:
        """Counts of the jobs and (not skipped) stages past `mark`, and
        `submitted_ms`: each such job's submission time, epoch ms."""
        self._sc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(
            ("jobs", "stages", "input_records", "input_bytes",
             "shuffle_write_bytes", "spill_bytes"), 0,
        )
        submitted: "list[int]" = []
        for j in self._newest(self._jobs):
            if j.jobId() <= mark[0]:
                break
            out["jobs"] += 1
            t = j.submissionTime()
            if t.isDefined():
                submitted.append(t.get().getTime())
        for s in self._newest(self._stages):
            if s.stageId() <= mark[1]:
                break
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["input_records"] += s.inputRecords()
            out["input_bytes"] += s.inputBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["submitted_ms"] = submitted
        return out


def run_face(
    spark: SparkSession,
    key: str,
    sf_dir: str,
    act: Callable[[DataFrame], object] = noop,
) -> dict:
    """Build face `key` over `sf_dir`, act on the frame (`noop`,
    `to_pandas`, or any frame → value callable) and release the face's
    pins, all inside one `cache.scope()`; return the run's record.

    `wall_s` is the timed region, from the face call to the act's
    return (the release is not in it). It splits into `construct_s`
    (until the face returns its frame: driver-side plan building,
    bounded fetches, eager pins), `plan_s` (from the act's start to the
    submission of its first Spark job, or the whole act when it runs
    none) and `exec_s` (the rest). `jobs`, `stages`, `input_records`,
    `input_bytes`, `shuffle_write_bytes` and `spill_bytes` count every
    job and stage the call ran, construct included; they are read from
    the status store after the timed region, so the record adds no work
    to it. `fallbacks` counts, per `catalog.FALLBACKS` path, the times
    the process took it during the call: process-wide, as the status
    store's counts are, so a fallback another thread takes meanwhile (a
    stream's sink thread) is counted too. The act's return value, when
    not None, is under `result`."""
    fn = queries()[key]
    status = StatusStore(spark)
    mark = status.mark()
    taken = dict(FALLBACKS)
    with cache.scope():
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        act_epoch = time.time()
        out = act(df)
        t2 = time.perf_counter()
    counts = status.since(mark)
    # a job the act submitted; construct's jobs all ended before it began
    in_act = [
        ms / 1000 - act_epoch
        for ms in counts.pop("submitted_ms")
        if ms >= int(act_epoch * 1000)
    ]
    act_s = t2 - t1
    plan_s = min(max(min(in_act, default=act_s), 0.0), act_s)
    rec = {
        "key": key,
        "act": getattr(act, "__name__", "act"),
        "wall_s": round(t2 - t0, 6),
        "construct_s": round(t1 - t0, 6),
        "plan_s": round(plan_s, 6),
        "exec_s": round(act_s - plan_s, 6),
        **counts,
        "fallbacks": {k: n - taken[k] for k, n in FALLBACKS.items()},
    }
    if out is not None:
        rec["result"] = out
    return rec
