"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE compact JSON line:
  {"metric": "...", "value": <total cold sec>, "unit": "sec",
   "queries": {name: cold sec, ...}, "queries_warm": {name: warm sec, ...},
   "warm_total": <sec>, "build_total": <sec>, "sf": <sf>,
   "detail": "BENCH_DETAIL.json"}

Three passes: INGEST — run in a SUBPROCESS with its own JVM (every
one-time corpus artifact served; total reported as build_total — the
analog of the reference's preprocessing stage), then COLD (per-query
FIRST in-JVM run: planning + codegen + execution, artifacts on disk),
then WARM ×2 (min per query — the marginal cost that scales with
data). Separating ingest keeps the cold total comparable across rounds
whether or not the checkout already has .artifacts/ (VERDICT r10 #3);
isolating it in a child process keeps cold honest — an in-process
ingest pass left cold measuring a second execution with codegen JIT'd
and caches warm (VERDICT r11 #2).

The printed line carries the per-query COLD (`queries`) and WARM
(`queries_warm`) maps rounded to 1 ms (~3.3 KB each for 107 faces) —
restored in r16 (VERDICT r15 #3: the driver's comparator reads only
this line, so without them PERF per_query/scaling were empty two
rounds running). The line has a byte budget (`LINE_BUDGET`): over it,
the maps are dropped and `"maps_omitted": true` says so, rather than a
truncated line parsing as null (the r6 loss). The full-precision
cold+warm+reps detail remains in BENCH_DETAIL.json.

Each query runs through `registry.run_face`: its full physical plan
executes into the noop sink (no driver collect — we measure the engine,
not row transfer). `queries` is the cold pass (includes Catalyst
planning + whole-stage codegen compile); `queries_warm` re-executes the
identical plan so compile overhead is amortized — the warm number is the
per-query marginal cost that scales with data volume, the cold-warm gap
is fixed overhead. Each face runs in its own cache scope, so no query
benefits from another's persisted intermediates. BENCH_DETAIL.json's
`records` holds every face's run record for each pass (ingest, cold,
both warm reps): its wall split into construct / plan / exec, and its
jobs, stages, input, shuffle and spill counts.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from euclid_spark import registry
from euclid_spark.session import get_session

# Reference host speed for the fixed 50M-row JVM range-sum probe
# (_calibrate's spark_ms): the healthy-host band on the r12/r13 driver
# boxes was ~115-190 ms, so 150 ms is the pinned midpoint. calib_norm_*
# on the JSON line = wall / (measured_spark_ms / this) — a number
# comparable across rounds run on differently-loaded hosts.
REF_CALIB_SPARK_MS = 150.0

HEADLINE = [
    "euclid_q2_distinct_keys",
    "euclid_erc20_weighted_sum",
    "euclid_erc20_weighted_sum_u256",
    "euclid_storage_digest",
    "euclid_state_rollup",
    "euclid_block_db_chain",
    "euclid_block_linking",
    "euclid_mpt_reassemble",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q8_market_share",
    "tpch_q13_order_distribution",
    "tpch_q18_large_volume",
    "tpch_q21_waiting_supplier",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_type_profit",
    "euclid_preprocessing_pipeline",
    "euclid_verifiable_response",
    "euclid_batch_verifiable_responses",
    "euclid_erc20_verifiable_response",
    "euclid_erc20_batch_responses",
    "euclid_range_tree_agg",
    "euclid_q2_range_tree_topL",
    "euclid_erc20_range_tree_reward",
    "euclid_verify_response",
    "euclid_verify_erc20_response",
    "euclid_q2_range_response",
    "euclid_erc20_range_response",
    "euclid_verify_q2_range_response",
    "euclid_verify_erc20_range_response",
    "euclid_q2_range_tree_topL_alt_contract",
    "euclid_verifiable_response_alt_contract",
    "euclid_eth_proof_verify",
    "euclid_day_partitioned_range",
    "euclid_zorder_box_scan",
    "graph_doc_pagerank",
    "graph_triangle_count",
    "sim_prefix_rerank",
    "rel_full_outer_reconcile",
    "rel_table_profile",
    "rel_events_profile",
    "rel_heavy_hitters_cms",
    "cdc_scd2_time_travel",
    "rel_skew_salted_join",
    "rel_bloom_join_prune",
    "rel_range_join_bucketed",
    "rel_hdr_quantile_sketch",
    "rel_linear_count_distinct",
    "rel_gap_fill_locf",
    "rel_time_weighted_avg",
    "rel_event_dedup_window",
    "rel_ohlc_resample",
    "rel_value_outliers",
    "rel_seasonal_profile",
    "rel_hdr_range_quantiles",
    "rel_lc_range_distinct",
    "rel_cms_range_topk",
    "euclid_merkle_proof",
    "rel_window_running_agg",
    "rel_sessionize",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_substring_spans",
    "dedup_keep_list",
    "curation_pipeline",
    "sim_topk_cosine",
    "sim_quantized_topk",
    "sim_ivf_topk",
    "sim_ivf_pinned_topk",
    "text_fingerprint",
    "text_bm25_topk",
    "text_winnowing",
    "text_rag_chunks",
    "text_data_card",
    "text_lang_confusion",
    "dedup_minhash_estimate",
    "dedup_containment",
    "curation_leakage_safe_split",
    "curation_soft_dedup_weights",
    "dedup_source_overlap",
    "mm_image_dhash",
    "dedup_provenance_report",
    "text_benchmark_overlap",
    "text_pack_sequences",
    "text_bpe_token_count",
    "text_importance_resample",
    "curation_training_mix",
    # r13 faces
    "rel_data_drift_psi",
    "curation_epoch_shards",
    "src_jsonl_quarantine",
    "stream_drift_psi",
    "text_tokenizer_fertility",
    "mm_feature_census",
    "mm_audio_triage",
    "sim_ann_recall_report",
    # r14 faces
    "curation_shard_roundtrip",
    "text_safety_screen",
    "rel_data_drift_psi_quantile",
    "sim_ivf_exact_fit_topk",
    # r15 faces
    "text_quality_model",
    "curation_model_filtered_mix",
    "sim_matryoshka_recall_report",
    "stream_epoch_shards",
    "text_quality_model_calibration",
    "stream_soft_dedup_weights",
]


def _pass(spark, sf_dir: str) -> "dict[str, dict]":
    """One run of every headline face: key → its `registry.run_face`
    record (noop act)."""
    return {name: registry.run_face(spark, name, sf_dir) for name in HEADLINE}


def _walls(records: "dict[str, dict]") -> "dict[str, float]":
    return {name: round(rec["wall_s"], 3) for name, rec in records.items()}


def _ingest_pass(sf_dir: str) -> None:
    """INGEST in a CHILD PROCESS (own JVM, exits before the timed
    passes): run every headline query once so each one-time corpus
    artifact (tile trees, pinned responses, IVF centroids, MinHash
    ledgers, BPE merges…) is on disk BEFORE the timed passes. On a
    fresh checkout .artifacts/ is empty, so without this the r10
    driver's "cold" total silently paid ~110 s of one-time corpus
    builds and read as a 2.5× regression vs the steady state (VERDICT
    r10 #3). Running it in-process re-introduced the opposite bias
    (VERDICT r11 #2): "cold" was a SECOND in-JVM execution — codegen
    JIT'd, broadcasts and page cache warm — so cold/warm converged
    (60.8/52.3). The subprocess keeps cold = first execution of each
    plan in a fresh JVM with artifacts served, the r10-comparable
    steady-state protocol. Its records go to the parent as the last
    line of its stdout."""
    spark = get_session("euclid_spark_bench_ingest")
    records = _pass(spark, sf_dir)
    spark.stop()
    print(json.dumps(records))


def _duckdb_pass(sf_dir: str, budget_s: float) -> "dict[str, dict]":
    """Cross-engine denominator (VERDICT r14 #2): time each headline
    face's DuckDB oracle on the same host and corpus, so BENCH_DETAIL
    carries a measured spark_s / duckdb_s / ratio column instead of an
    aspirational "within 2× of baseline". Protocol mirrors warm-min2:
    min of 2 reps, except oracles whose first rep exceeds 10 s keep the
    single rep (a second execution of a 2-minute recursive CTE buys no
    precision worth its wall). `budget_s` bounds the whole pass; once
    spent, remaining oracles are recorded as skipped_budget — an
    explicit record, never a silent cap. Notes on reading the ratios:
    DuckDB here is a single-process columnar engine over the same
    parquet with NO distribution overhead — at tiny SF it SHOULD win
    on scan-bound faces (Spark pays scheduler + exchange latency that
    amortizes only at scale), while faces with served-artifact reads
    or iterative/recursive shapes favor whichever engine's algorithm
    is better, not the runtime. The honest comparison is the one this
    records: same query semantics, same host, same files."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    ors = registry.oracles(sf_dir)
    out: dict[str, dict] = {}
    t_start = time.perf_counter()
    for name in HEADLINE:
        sql = ors.get(name)
        if sql is None:
            out[name] = {"duckdb": None, "note": "no_oracle"}
            continue
        if time.perf_counter() - t_start > budget_s:
            out[name] = {"duckdb": None, "note": "skipped_budget"}
            continue
        reps: list[float] = []
        err = None
        for _ in range(2):
            t0 = time.perf_counter()
            try:
                con.execute(sql).fetchall()
            except Exception as ex:  # noqa: BLE001 — record, keep going
                err = f"error:{type(ex).__name__}"
                break
            reps.append(round(time.perf_counter() - t0, 3))
            if reps[0] > 10.0:
                break
        if err:
            out[name] = {"duckdb": None, "note": err}
        else:
            out[name] = {"duckdb": min(reps), "duckdb_reps": len(reps)}
    con.close()
    return out


def _calibrate(spark) -> "dict[str, float]":
    """Fixed-work host-speed probes, reported on the JSON line so
    cross-round wall-clock comparisons can be normalized: this box's
    Spark timings drift ±30-40% across hours with no repo change
    (SURVEY §6 r12 — invisible co-tenancy on the VM). `py_ms` is a
    single-core 200k-chained-md5 wall; `spark_ms` is a fixed 50M-row
    JVM range-sum wall (captures JIT/scheduler health, not just the
    CPU). Divide a round's cold/warm by (its calib / the other
    round's calib) before calling anything a regression."""
    import hashlib

    t0 = time.perf_counter()
    h = b"x" * 64
    for _ in range(200_000):
        h = hashlib.md5(h).digest()
    py_ms = round((time.perf_counter() - t0) * 1000, 1)
    # an untimed warmup at the probe's own size + min-of-3, so the
    # probe's own codegen/JIT, a JVM still settling after the session's
    # first faces and a transient stall don't pollute the measurement
    # (the probe exists to measure the HOST, not the session's
    # first-job costs)
    spark.range(50_000_000).selectExpr("sum(id)").collect()
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr("sum(id)").collect()
        reps.append((time.perf_counter() - t0) * 1000)
    return {"py_ms": py_ms, "spark_ms": round(min(reps), 1)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    if os.environ.get("_BENCH_INGEST_ONLY") == "1":
        _ingest_pass(sf_dir)
        return

    import subprocess

    t0 = time.perf_counter()
    child = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        env={**os.environ, "_BENCH_INGEST_ONLY": "1"},
        check=True,
        stdout=subprocess.PIPE,
        text=True,
    )
    build_total = round(time.perf_counter() - t0, 3)
    ingest = json.loads(child.stdout.strip().splitlines()[-1])

    spark = get_session("euclid_spark_bench")

    qs = registry.queries()
    # JVM/session warmup on the smallest SF so measurements exclude
    # startup; the second query also spins up the Python/Arrow workers
    # (pandas-UDF paths otherwise pay ~9 s once in their first timing).
    # These touch ONLY the sf0.001 corpus — no sf_dir plan executes
    # before its cold timing.
    qs["tpch_q1_pricing_summary"](spark, "/root/testdata/sf0.001").count()
    qs["euclid_erc20_weighted_sum_u256"](spark, "/root/testdata/sf0.001").count()

    calib_pre = _calibrate(spark)

    cold = _pass(spark, sf_dir)
    times = _walls(cold)
    # warm = MIN of 2 repetitions per query: a single warm pass is at the
    # mercy of host contention (the r8 driver record showed warm > cold
    # from a contended host; builder and judge reruns both got ~56 s) —
    # min-of-2 reads through a transient stall on either rep and reports
    # the query's true marginal cost
    warm_records = [_pass(spark, sf_dir) for _ in range(2)]
    warm_reps = [_walls(rep) for rep in warm_records]
    warm = {name: min(rep[name] for rep in warm_reps) for name in HEADLINE}

    calib_post = _calibrate(spark)

    # cross-engine pass AFTER the Spark timings so DuckDB's threads
    # never contend with a timed Spark query
    cross: dict[str, dict] = {}
    if os.environ.get("SPARK_GRAFT_NO_DUCKDB") != "1":
        duck = _duckdb_pass(
            sf_dir,
            float(os.environ.get("SPARK_GRAFT_DUCKDB_BUDGET", "480")),
        )
        for name, info in duck.items():
            d = info.get("duckdb")
            cross[name] = {
                "spark_warm": warm[name],
                **info,
                **(
                    {"ratio": round(warm[name] / d, 3)}
                    if d and d > 0
                    else {}
                ),
            }

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "queries_warm": warm,
        "queries_warm_reps": warm_reps,
        "warm_total": round(sum(warm.values()), 3),
        "build_total": build_total,
        "sf": sf_val,
        # r9: steady-state in-JVM; r10: fresh-checkout cold incl. builds;
        # r11: in-process ingest + cold + warm-min2; r12+: subprocess
        # ingest, cold = first in-JVM execution. Self-describing so
        # cross-round tables don't mix protocols silently.
        "protocol": "subprocess-ingest+calib+cold+warm-min2",
        "calib_pre": calib_pre,
        "calib_post": calib_post,
        # per-query cross-engine table (VERDICT r14 #2): spark warm
        # vs the DuckDB oracle wall on the same host/corpus
        "cross_engine": cross,
        # every face's run_face record per pass: the wall above, its
        # construct / plan / exec split, and its jobs, stages and bytes
        "records": {"ingest": ingest, "cold": cold, "warm": warm_records},
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    calib_mean = round((calib_pre["spark_ms"] + calib_post["spark_ms"]) / 2, 1)
    out = {
        "metric": "headline_queries_total_wall",
        "value": detail["value"],
        "unit": "sec",
        "n_queries": len(times),
        # per-query maps (VERDICT r15 #3): the driver's comparator reads
        # ONLY this line, so these feed PERF per_query, regression
        # status and the low/high-core scaling ratios (rounded and
        # budgeted by stdout_line)
        "queries": times,
        "queries_warm": warm,
        "warm_total": detail["warm_total"],
        "build_total": build_total,
        "sf": sf_val,
        "protocol": "subprocess-ingest+calib+cold+warm-min2",
        # fixed-work host-speed probes (see _calibrate): normalize
        # cross-round wall-clock by the spark_ms ratio before reading
        # any delta as a regression
        "calib_spark_ms": [calib_pre["spark_ms"], calib_post["spark_ms"]],
        # host-normalized totals (r13 verdict #3): cold divided by the
        # pre-pass probe factor, warm by the post-pass one, each
        # relative to REF_CALIB_SPARK_MS — so cross-round tables can
        # compare calib_norm_* directly without re-deriving the host
        # ratio (r12->r13 cold read 1.28x purely from a 4.8x-slower
        # probe)
        "calib_norm_cold": round(
            detail["value"] / (calib_pre["spark_ms"] / REF_CALIB_SPARK_MS), 3
        ),
        "calib_norm_warm": round(
            detail["warm_total"]
            / (calib_post["spark_ms"] / REF_CALIB_SPARK_MS),
            3,
        ),
        # the pre-pass probe still reads 1.6-2.7x the post-pass one (JVM
        # warm-up left in it), so the same totals are also normalized by
        # the mean of the two probes that bracket the passes
        "calib_spark_ms_mean": calib_mean,
        "calib_norm_mean_cold": round(
            detail["value"] / (calib_mean / REF_CALIB_SPARK_MS), 3
        ),
        "calib_norm_mean_warm": round(
            detail["warm_total"] / (calib_mean / REF_CALIB_SPARK_MS), 3
        ),
        "detail": "BENCH_DETAIL.json",
    }
    ratios = sorted(
        c["ratio"] for c in cross.values() if "ratio" in c
    )
    if ratios:
        # cross-engine summary: spark_warm / duckdb_oracle per query
        # (full table in BENCH_DETAIL.json cross_engine)
        out["duckdb_total"] = round(
            sum(c["duckdb"] for c in cross.values() if c.get("duckdb")), 3
        )
        out["n_duckdb"] = len(ratios)
        out["ratio_median"] = round(ratios[len(ratios) // 2], 3)
        out["n_duckdb_skipped"] = sum(
            1 for c in cross.values() if c.get("note") == "skipped_budget"
        )
    if detail["warm_total"] > detail["value"]:
        # self-labeling sanity flag: warm (min-of-2) exceeding cold means
        # the host was contended during this run — treat totals as noisy
        out["noisy_host"] = True
    print(stdout_line(out))


# The line's size budget, in bytes. It is the only output read back,
# and a line cut short by a capped stdout capture parses as null (the
# r6/r7 loss: 3-decimal maps plus per-rep detail). 107 faces take
# ~7 KB; the budget leaves room for the registry to grow by half.
LINE_BUDGET = 12 * 1024
_MAPS = ("queries", "queries_warm")


def stdout_line(out: dict, budget: int = LINE_BUDGET) -> str:
    """`out` as the one compact JSON line, its per-query maps rounded to
    1 ms (a 4 ms face stays nonzero, so scaling ratios stay finite).
    Over `budget` bytes the maps are dropped and `maps_omitted` set —
    BENCH_DETAIL.json keeps them at full precision either way."""
    line = {
        k: {q: round(v, 3) for q, v in val.items()} if k in _MAPS else val
        for k, val in out.items()
    }
    text = json.dumps(line, separators=(",", ":"))
    if len(text.encode()) <= budget:
        return text
    line = {k: val for k, val in line.items() if k not in _MAPS}
    line["maps_omitted"] = True
    return json.dumps(line, separators=(",", ":"))


if __name__ == "__main__":
    main()
