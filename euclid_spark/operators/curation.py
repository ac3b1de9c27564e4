"""End-to-end training-data curation pipeline (SURVEY.md §2.C25).

The production deliverable of the LLM-data surface: one query that
composes the individual curation operators into the final kept
training set —

  1. near-duplicate DEDUP keep-list (C16: MinHash/Jaccard candidate
     pairs → connected components → canonical member per cluster),
  2. within-document REPETITION rules (C21, Gopher/MassiveText),
  3. benchmark CONTAMINATION screen (C23, GPT-3 app. C n-gram
     overlap) — contaminated docs AND the benchmark sources
     themselves are excluded,
  4. SAFETY/BLOCKLIST screen (C60, the C4 bad-words rule: any
     blocklisted hit drops the doc — r14),
  5. LEARNED quality filter (C61, the FineWeb-Edu/DCLM model-filter
     stage: docs the trained classifier rejects are dropped — r15;
     the verdicts come from the SERVED quality_model_scores artifact,
     so the fit never re-runs inside this pipeline),
  6. deterministic STRATIFIED SAMPLING to the target language mix
     (C22, md5-bucket thresholds — no random()).

Plan shape: the sample predicate is row-local (applied on the scan);
the three survivorship checks are semi/anti joins on doc_id — same
shuffle key throughout, so AQE plans one exchange per branch and the
expensive branch (the dedup pipeline) is computed once. Every stage is
individually oracle-checked by its own registry entry; the composition
is oracle-checked here by embedding those same SQL bodies as
subqueries (DuckDB evaluates the identical semantics end-to-end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from euclid_spark import artifacts
from euclid_spark.cache import persist_tracked
from euclid_spark.catalog import cached_parquet

from euclid_spark.operators import components, quality_model, textops
from euclid_spark.operators.textops import BENCH_SOURCES


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C25 — the final kept set: (doc_id, lang, source, bucket_hex) of
    every document that survives dedup, repetition, contamination, and
    safety/blocklist screening and is selected by the stratified
    sample."""
    sample = textops.text_stratified_sample(spark, sf_dir).filter(
        ~F.col("source").isin(*BENCH_SOURCES)
    )
    kept = components.dedup_keep_list(spark, sf_dir).select("doc_id")
    rep_ok = (
        textops.text_repetition_filter(spark, sf_dir)
        .filter("keep")
        .select("doc_id")
    )
    contaminated = (
        textops.text_benchmark_overlap(spark, sf_dir)
        .filter("contaminated")
        .select("doc_id")
    )
    blocked = (
        textops.text_safety_screen(spark, sf_dir)
        .filter("blocked")
        .select("doc_id")
    )
    model_drop = (
        quality_model.text_quality_model(spark, sf_dir)
        .filter(~F.col("model_keep"))
        .select("doc_id")
    )
    return (
        sample.join(kept, "doc_id", "left_semi")
        .join(rep_ok, "doc_id", "left_semi")
        .join(contaminated, "doc_id", "left_anti")
        .join(blocked, "doc_id", "left_anti")
        .join(model_drop, "doc_id", "left_anti")
    )


def _oracle() -> str:
    samp = textops.ORACLES["text_stratified_sample"]
    rep = textops.ORACLES["text_repetition_filter"]
    contam = textops.ORACLES["text_benchmark_overlap"]
    safety = textops.ORACLES["text_safety_screen"]
    qmodel = quality_model.ORACLES["text_quality_model"]
    keep = components.ORACLES["dedup_keep_list"]
    bench = ", ".join(f"'{s}'" for s in BENCH_SOURCES)
    return f"""
        SELECT s.doc_id, s.lang, s.source, s.bucket_hex
        FROM ({samp}) s
        JOIN ({keep}) k ON s.doc_id = k.doc_id
        JOIN (SELECT doc_id FROM ({rep}) WHERE keep) r ON s.doc_id = r.doc_id
        LEFT JOIN (SELECT doc_id FROM ({contam}) WHERE contaminated) c
               ON s.doc_id = c.doc_id
        LEFT JOIN (SELECT doc_id FROM ({safety}) WHERE blocked) x
               ON s.doc_id = x.doc_id
        LEFT JOIN (SELECT doc_id FROM ({qmodel}) WHERE NOT model_keep) qm
               ON s.doc_id = qm.doc_id
        WHERE c.doc_id IS NULL AND x.doc_id IS NULL AND qm.doc_id IS NULL
          AND s.source NOT IN ({bench})
    """


def _training_mix(
    spark: SparkSession, sf_dir: str, model_filtered: bool
) -> DataFrame:
    """C32 (and its C61b model-filtered twin) — the r5 curation stages
    composed into the TRAINING-READY layout (the C25 pattern applied to
    the newer operator family): keep documents that

      1. sit in the head or middle perplexity tercile of their
         language (C30, CCNet),
      2. are DSIR-selected toward the target distribution (C29),
      3. carry ≤ 20 % duplicated-substring material (C28, Lee et al.),
      4. [model_filtered only] are KEPT by the C61 learned quality
         classifier (the FineWeb-Edu model-filter stage, read off the
         served quality_model_scores artifact — r15),

    then SEQUENCE-PACK the survivors (C26): the output row per kept
    document is its place in the packed context-window stream
    (n_tokens, start_tok, bin range) — what a training loader consumes.

    Plan shape: every survivorship check is a LEFT SEMI join on
    doc_id — one shuffle key end-to-end; packing's prefix sum is the
    two-level bucket construction (no single-reducer window); the
    oracle composes the same stage SQL bodies as chained CTEs (the
    model stage embeds the C61 exact-refit SQL, so even the learned
    filter is replayed by the oracle end-to-end)."""
    from euclid_spark.operators import dedup as _dd

    ppl_ok = (
        textops.text_perplexity_buckets(spark, sf_dir)
        .filter(F.col("bucket") != "tail")
        .select("doc_id")
    )
    dsir_ok = (
        textops.text_importance_resample(spark, sf_dir)
        .filter("selected")
        .select("doc_id")
    )
    span_ok = (
        _dd.dedup_substring_spans(spark, sf_dir)
        .filter(~F.col("flagged"))
        .select("doc_id")
    )
    docs = cached_parquet(spark, f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id",
        "lang",
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(textops.TOKEN_RE), 0)
        )
        .cast("long")
        .alias("n_tokens"),
    )
    from euclid_spark.cache import persist_tracked

    # the survivor set is read FOUR times downstream (pack_stream's
    # bucket totals + its final join, plus the lang join here) — without
    # a persist the whole three-stage screening chain re-executes per
    # reference (measured 32 s vs 4 s at sf0.1)
    surv = (
        toks.join(ppl_ok, "doc_id", "left_semi")
        .join(dsir_ok, "doc_id", "left_semi")
        .join(span_ok, "doc_id", "left_semi")
        .filter(F.col("n_tokens") > 0)
    )
    if model_filtered:
        mdl_ok = (
            quality_model.text_quality_model(spark, sf_dir)
            .filter("model_keep")
            .select("doc_id")
        )
        surv = surv.join(mdl_ok, "doc_id", "left_semi")
    survivors = persist_tracked(surv)
    # the pinned frame itself, not a projection: pack_stream reads its
    # cache instead of pinning a second copy of the same rows
    packed = textops.pack_stream(survivors)
    return packed.join(survivors.select("doc_id", "lang"), "doc_id")


def curation_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C32 — the heuristic training mix (docstring: _training_mix)."""
    return _training_mix(spark, sf_dir, model_filtered=False)


def curation_model_filtered_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C61b — C32's training mix with the C61 LEARNED quality filter as
    a fourth survivorship stage (docstring: _training_mix). Packing runs
    over the model-filtered survivor set, so start_tok/bin assignments
    differ from C32's — this is the corpus a model-filtered run trains
    on, not a column bolted onto C32."""
    return _training_mix(spark, sf_dir, model_filtered=True)


def _oracle_mix(model_filtered: bool = False) -> str:
    from euclid_spark.operators import dedup as _dd

    ppl = textops.ORACLES["text_perplexity_buckets"]
    dsir = textops.ORACLES["text_importance_resample"]
    span = _dd.ORACLES["dedup_substring_spans"]
    mdl = (
        f"""JOIN (SELECT doc_id FROM
                ({quality_model.ORACLES["text_quality_model"]})
                WHERE model_keep) q
              ON d.doc_id = q.doc_id"""
        if model_filtered
        else ""
    )
    return f"""
        WITH surv AS (
            SELECT d.doc_id, d.lang,
                   CAST(len(regexp_extract_all(lower(d.text),
                        '{textops.TOKEN_RE}')) AS BIGINT) AS n_tokens
            FROM documents d
            JOIN (SELECT doc_id FROM ({ppl}) WHERE bucket <> 'tail') p
              ON d.doc_id = p.doc_id
            JOIN (SELECT doc_id FROM ({dsir}) WHERE selected) s
              ON d.doc_id = s.doc_id
            JOIN (SELECT doc_id FROM ({span}) WHERE NOT flagged) z
              ON d.doc_id = z.doc_id
            {mdl}
            WHERE len(regexp_extract_all(lower(d.text),
                      '{textops.TOKEN_RE}')) > 0
        ),
        c AS (SELECT doc_id, lang, n_tokens,
                     SUM(n_tokens) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tokens AS start_tok
              FROM surv)
        SELECT doc_id, lang, n_tokens, CAST(start_tok AS BIGINT) AS start_tok,
               CAST(start_tok // {textops.CTX_LEN} AS BIGINT) AS bin_start,
               CAST((start_tok + n_tokens - 1) // {textops.CTX_LEN} AS BIGINT)
                   AS bin_end,
               CAST(start_tok % {textops.CTX_LEN} AS BIGINT) AS bin_offset
        FROM c
    """


# ------------------------------------- C46: leakage-safe corpus split
# train/valid/test boundaries as md5-bucket thresholds (the C22
# deterministic-sampling rule): bucket < 90 → train, < 95 → valid.
SPLIT_TRAIN, SPLIT_VALID = 90, 95


def curation_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C46 — DEDUP-AWARE train/valid/test split: every document is
    assigned a split by hashing its near-dup COMPONENT label (C14's
    connected components over the verified Jaccard pairs), not its own
    doc_id — so a cluster of near-duplicates lands entirely in ONE
    split and the eval sets cannot leak training material through a
    paraphrase (the reason naive per-doc random splits are wrong for
    LLM corpora; cf. Lee et al. 2022 §6, eval contamination via
    near-dups).

    Deterministic and engine-exact: split = md5('split|' + component)
    first-8-hex-chars mod 100 against fixed thresholds — the C22
    md5-bucket rule, no random(). Docs outside any near-dup pair are
    their own singleton component (component = doc_id via the
    left-join coalesce).

    Scale shape: ONE left join of the corpus keys against the SERVED
    component-labels artifact (index-sized, built once per corpus
    version — the C16 serving economics); the hash and the CASE are
    row-local. No shuffle beyond the doc_id join.

    Leakage property (asserted in tests/test_dedup_guards.py): for
    every verified near-dup pair, split(doc_a) == split(doc_b)."""
    docs = cached_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    comp = components.component_labels(spark, sf_dir)
    assigned = docs.join(comp, "doc_id", "left").withColumn(
        "component", F.coalesce(F.col("component"), F.col("doc_id"))
    )
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


def _oracle_split() -> str:
    return f"""
        WITH RECURSIVE
        {components._COMP_CTES},
        assign AS (
            SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        ),
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


QUERIES = {
    "curation_pipeline": curation_pipeline,
    "curation_training_mix": curation_training_mix,
    "curation_model_filtered_mix": curation_model_filtered_mix,
    "curation_leakage_safe_split": curation_leakage_safe_split,
}

ORACLES = {
    "curation_pipeline": _oracle(),
    "curation_training_mix": _oracle_mix(),
    "curation_model_filtered_mix": _oracle_mix(model_filtered=True),
    "curation_leakage_safe_split": _oracle_split(),
}


def dedup_provenance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C51 — the consolidated PER-DOCUMENT DEDUP PROVENANCE REPORT: one
    wide row per doc with every dedup family's verdict side by side —
    exact copy (C1), near-dup component membership (C14's verified-
    Jaccard components), nested-document containment (C45), duplicated-
    substring fraction (C28), and winnowing fingerprint matches (C42).
    This is the review table a curation team actually reads: WHY a doc
    was dropped, and which methods agree (a doc flagged by winnowing
    but not MinHash is a localized-copy case; flagged by containment
    only is a quote/nesting case).

    Every input is a SERVED artifact (pair ledgers, labels, verdicts),
    so the report is doc_id-keyed joins over index-sized tables — no
    pipeline re-runs, no pairwise term. Fully hash-checked: the oracle
    composes the same stage SQL bodies (the C25/C32 precedent)."""
    from euclid_spark.functions.text import normalized_text
    from euclid_spark.operators import dedup as _dd

    docs = cached_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    dmd5 = docs.select(
        "doc_id", F.md5(normalized_text("text")).alias("text_md5")
    )
    exact = dmd5.join(_dd.dedup_exact(spark, sf_dir), "text_md5").select(
        "doc_id",
        (F.col("n_copies") > 1).alias("exact_dup"),
        (F.col("doc_id") == F.col("keep_id")).alias("exact_keeper"),
    )
    comp = components.component_labels(spark, sf_dir)
    cont = _dd.dedup_containment(spark, sf_dir)
    nested = (
        cont.filter(
            F.col("nested_doc")
            & (F.col("contain_a_in_b") >= _dd.CONTAINMENT_THRESHOLD)
        )
        .select(F.col("doc_a").alias("doc_id"))
        .unionByName(
            cont.filter(
                F.col("nested_doc")
                & (F.col("contain_b_in_a") >= _dd.CONTAINMENT_THRESHOLD)
            ).select(F.col("doc_b").alias("doc_id"))
        )
        .distinct()
        .withColumn("nested_doc", F.lit(True))
    )
    spans = _dd.dedup_substring_spans(spark, sf_dir).select(
        "doc_id",
        F.col("flagged").alias("substring_flagged"),
        F.col("dup_frac").alias("substring_dup_frac"),
    )
    wp = _dd.dedup_winnow_pairs(spark, sf_dir)
    wdocs = (
        wp.selectExpr("doc_a AS doc_id")
        .unionByName(wp.selectExpr("doc_b AS doc_id"))
        .distinct()
        .withColumn("winnow_matched", F.lit(True))
    )
    return (
        exact.join(comp.withColumn("near_dup", F.lit(True)), "doc_id", "left")
        .join(nested, "doc_id", "left")
        .join(spans, "doc_id", "left")
        .join(wdocs, "doc_id", "left")
        .select(
            "doc_id",
            "exact_dup",
            "exact_keeper",
            F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
            F.coalesce("component", F.col("doc_id")).alias("component"),
            F.coalesce("nested_doc", F.lit(False)).alias("nested_doc"),
            F.coalesce("substring_flagged", F.lit(False)).alias(
                "substring_flagged"
            ),
            F.coalesce("substring_dup_frac", F.lit(0.0)).alias(
                "substring_dup_frac"
            ),
            F.coalesce("winnow_matched", F.lit(False)).alias(
                "winnow_matched"
            ),
        )
    )


def _oracle_provenance() -> str:
    from euclid_spark.operators import dedup as _dd

    c1 = _dd.ORACLES["dedup_exact"]
    c45 = _dd.ORACLES["dedup_containment"]
    c28 = _dd.ORACLES["dedup_substring_spans"]
    c42 = _dd.ORACLES["dedup_winnow_pairs"]
    thr = _dd.CONTAINMENT_THRESHOLD
    return f"""
        WITH RECURSIVE
        {components._COMP_CTES},
        dmd5 AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS text_md5
            FROM documents
        ),
        ex AS ({c1}),
        cont AS ({c45}),
        -- DISTINCT over UNION ALL, not UNION: inside a WITH RECURSIVE
        -- chain DuckDB gives ANY union-bodied CTE recursive-union
        -- semantics and stops deduplicating (verified:
        -- WITH RECURSIVE t AS (SELECT 1 UNION SELECT 1) has 2 rows)
        nested AS (
            SELECT DISTINCT doc_id FROM (
                SELECT doc_a AS doc_id FROM cont
                WHERE nested_doc AND contain_a_in_b >= {thr}
                UNION ALL
                SELECT doc_b FROM cont
                WHERE nested_doc AND contain_b_in_a >= {thr}
            )
        ),
        spans AS ({c28}),
        wp AS ({c42}),
        wdocs AS (
            SELECT DISTINCT doc_id FROM (
                SELECT doc_a AS doc_id FROM wp
                UNION ALL SELECT doc_b FROM wp
            )
        )
        SELECT d.doc_id,
               ex.n_copies > 1 AS exact_dup,
               d.doc_id = ex.keep_id AS exact_keeper,
               c.doc_id IS NOT NULL AS near_dup,
               COALESCE(c.component, d.doc_id) AS component,
               n.doc_id IS NOT NULL AS nested_doc,
               COALESCE(s.flagged, FALSE) AS substring_flagged,
               COALESCE(s.dup_frac, 0.0) AS substring_dup_frac,
               w.doc_id IS NOT NULL AS winnow_matched
        FROM dmd5 d
        JOIN ex ON d.text_md5 = ex.text_md5
        LEFT JOIN comp c ON c.doc_id = d.doc_id
        LEFT JOIN nested n ON n.doc_id = d.doc_id
        LEFT JOIN spans s ON s.doc_id = d.doc_id
        LEFT JOIN wdocs w ON w.doc_id = d.doc_id
    """


QUERIES["dedup_provenance_report"] = dedup_provenance_report
ORACLES["dedup_provenance_report"] = _oracle_provenance()


def curation_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C54 — SOFT dedup: a per-document TRAINING WEIGHT instead of a
    keep/drop verdict. Every member of a near-dup cluster is kept but
    down-weighted to 1/|cluster|, so each cluster contributes exactly
    one document's worth of sampling mass and singletons weigh 1.0 —
    the reweight-don't-remove alternative to the C16 keep-list
    (duplicate-frequency down-weighting per SoftDedup, He et al. 2024;
    the practice behind dedup-aware sampling in large-corpus training
    mixes). Emitting BOTH cluster_size and the rounded weight keeps the
    gate exact: weight = ROUND(1/size, 9) is the same double in both
    engines (1/n is correctly rounded IEEE; the only 10-digit half-way
    cases are n = 2^a·5^b, where the double is exact and both engines
    round half-up).

    Scale shape: one doc_id left join against the SERVED component-
    labels artifact (index-sized, built once per corpus version) + one
    count over it — no pair pipeline re-run, no shuffle wider than the
    labels. The weight column is what a training loader joins on at
    sample time, so serving it per corpus version is the entire cost."""
    docs = cached_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    comp = components.component_labels(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    assigned = (
        docs.join(comp, "doc_id", "left")
        .withColumn(
            "component", F.coalesce(F.col("component"), F.col("doc_id"))
        )
        .join(F.broadcast(sizes), "component", "left")
        .withColumn(
            "cluster_size", F.coalesce(F.col("cluster_size"), F.lit(1))
        )
    )
    return assigned.select(
        "doc_id",
        "component",
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size"), 9).alias("weight"),
    )


def _oracle_soft_weights() -> str:
    return f"""
        WITH RECURSIVE
        {components._COMP_CTES},
        csize AS (
            SELECT component, COUNT(*) AS cluster_size
            FROM comp GROUP BY component
        ),
        assign AS (
            SELECT d.doc_id,
                   COALESCE(c.component, d.doc_id) AS component
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        )
        SELECT a.doc_id, a.component,
               CAST(COALESCE(s.cluster_size, 1) AS BIGINT) AS cluster_size,
               ROUND(1.0 / COALESCE(s.cluster_size, 1), 9) AS weight
        FROM assign a LEFT JOIN csize s ON a.component = s.component
    """


QUERIES["curation_soft_dedup_weights"] = curation_soft_dedup_weights
ORACLES["curation_soft_dedup_weights"] = _oracle_soft_weights()


# ---------------------------------------------------------------------------
# C55 — deterministic epoch shuffle + token-budget shard manifest (r13)

EPOCH_SEED = "epoch0"  # one seed string per epoch: 'epoch1', ... reshuffles
SHARD_TOKENS = 4096  # shard budget in tokens (a dataloader's file quantum)
_SHARD_BUCKET_HEX = 3  # fallback md5-prefix width when footer stats fail
_SHARD_ROWS_PER_BUCKET = 4096  # target within-bucket sort size
_SHARD_MAX_HEX = 6  # 16^6 = 16M buckets covers ~7e10 docs at the target
_SHARD_SUPER = 4096  # buckets per super-bucket in the hierarchical offsets


def _shard_bucket_hex(sf_dir: str) -> int:
    """Derive the md5-prefix bucket width from the corpus ROW COUNT
    (parquet footer metadata — a stat read, never a data scan: the B59
    footer discipline), sized so within-bucket sorts stay ~bounded at
    _SHARD_ROWS_PER_BUCKET rows whatever the corpus size (r14, closing
    the r13 "grow with the corpus" comment the code didn't honor).
    RESULT-INVARIANT by construction: the bucket is a PREFIX of the
    sort key, so any width yields the identical global order and
    manifest (property-tested in tests/test_drift.py). Any
    filesystem/pyarrow error (remote sf_dir) falls back to the pinned
    default — the width only tunes cost, never output."""
    import math

    try:
        n = artifacts.footer_stats(f"{sf_dir}/documents.parquet").num_rows
    except Exception:  # noqa: BLE001 — remote/odd fs: pinned default
        return _SHARD_BUCKET_HEX
    if n <= 0:
        return _SHARD_BUCKET_HEX
    return max(
        2,
        min(
            _SHARD_MAX_HEX,
            math.ceil(math.log(max(n / _SHARD_ROWS_PER_BUCKET, 1.0), 16)),
        ),
    )


def _shard_rows(docs: DataFrame, seed: str, hexn: int) -> DataFrame:
    """ROW-LOCAL shard-ingest step: (doc_id, key, n_tokens, bucket)
    for a documents frame — seeded hash key, token count, hash-prefix
    bucket. Shared verbatim by the batch face and the D34 streaming
    sink (r15): a micro-batch runs exactly this on its own rows, so
    the maintained store holds the identical rows the batch pipeline
    would derive (the parity argument's whole premise)."""
    return (
        docs.filter(F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            F.md5(
                F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string"))
            ).alias("key"),
            F.size(
                F.regexp_extract_all(F.lower("text"), F.lit(textops.TOKEN_RE), 0)
            )
            .cast("long")
            .alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "bucket",
            F.conv(F.substring("key", 1, hexn), 16, 10).cast("long"),
        )
    )


def _assignments_from_rows(
    t: DataFrame, hexn: int, shard_tokens: int
) -> DataFrame:
    """The two-level global prefix sum over pre-derived shard rows
    (doc_id, key, n_tokens, bucket) → + shard_id. Split out of
    _shard_assignments (r15) so the D34 streaming sink can run the
    identical cut over its bucket-partitioned maintained store.

    r16 (guide §2.4/§8): `t` and `btot` are PINNED — t is referenced
    by the bucket-total build and the final join, and btot twice via
    the triangular join's aliases; unpinned, the batch face re-ran the
    md5 + regexp tokenization of every document once per reference
    (3 corpus passes). The pin is the narrow shard-row proxy (~60 B
    per doc); the streaming sink's manifest() path pins its already-
    materialized store rows, which costs one narrow cache instead of
    three parquet re-reads. Both pins register under the caller's cache
    scope (cache.py); the caller's release_all() or scope exit frees
    them after its terminal action."""
    t = persist_tracked(t)
    btot = persist_tracked(
        t.groupBy("bucket").agg(F.sum("n_tokens").alias("btot"))
    )
    if 16**hexn <= _SHARD_SUPER:
        b1, b2 = btot.alias("b1"), btot.alias("b2")
        offsets = (
            b1.join(b2, F.col("b2.bucket") < F.col("b1.bucket"), "left")
            .groupBy(F.col("b1.bucket").alias("bucket"))
            .agg(F.coalesce(F.sum("b2.btot"), F.lit(0)).alias("offset"))
        )
    else:
        # hierarchical offsets: the triangular join is O(B²) pairs, so
        # past _SHARD_SUPER buckets it runs one level up over bucket
        # GROUPS (super-bucket = bucket div _SHARD_SUPER — still a key
        # prefix, so group order ≡ key order), then a bounded window
        # inside each group. ≤4096 rows in any sort or join side.
        sbt = btot.withColumn(
            "sb", F.expr(f"bucket div {_SHARD_SUPER}").cast("long")
        )
        stot = sbt.groupBy("sb").agg(F.sum("btot").alias("stot"))
        s1, s2 = stot.alias("s1"), stot.alias("s2")
        soff = (
            s1.join(s2, F.col("s2.sb") < F.col("s1.sb"), "left")
            .groupBy(F.col("s1.sb").alias("sb"))
            .agg(F.coalesce(F.sum("s2.stot"), F.lit(0)).alias("soff"))
        )
        wb = (
            Window.partitionBy("sb")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        offsets = (
            sbt.join(F.broadcast(soff), "sb")
            .withColumn(
                "offset",
                F.col("soff") + F.sum("btot").over(wb) - F.col("btot"),
            )
            .select("bucket", "offset")
        )
    w = (
        Window.partitionBy("bucket")
        .orderBy("key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = F.col("offset") + F.sum("n_tokens").over(w) - F.col("n_tokens")
    # broadcast the offsets ONLY while the bucket space is small; past
    # the cutoff, offsets is ~n_docs/_SHARD_ROWS_PER_BUCKET rows —
    # corpus-proportional, exactly what must never be collected to the
    # driver. The plain equi-join shuffles on `bucket`, the SAME key
    # the window below partitions on, so the exchange is reused — the
    # join costs nothing extra at any scale (caught in r14 review:
    # the forced broadcast contradicted the bounded-stage claim).
    offs = (
        F.broadcast(offsets) if 16**hexn <= _SHARD_SUPER else offsets
    )
    return (
        t.join(offs, "bucket")
        .withColumn("start_tok", start)
        .withColumn(
            "shard_id", F.expr(f"start_tok div {shard_tokens}").cast("long")
        )
        .select("doc_id", "key", "n_tokens", "shard_id")
    )


def _shard_assignments(
    spark: SparkSession,
    sf_dir: str,
    seed: str,
    shard_tokens: int,
    bucket_hex: "int | None" = None,
) -> DataFrame:
    """Doc-level epoch-shuffle shard assignment: (doc_id, key,
    n_tokens, shard_id) where shard_id cuts the seeded-hash-ordered
    token stream at `shard_tokens`. The global prefix sum is two-level
    on the hash-prefix bucket (see curation_epoch_shards); when the
    derived bucket space exceeds _SHARD_SUPER, bucket offsets
    themselves go through a second two-level pass (triangular join
    over ≤_SHARD_SUPER super-buckets + a window partitioned by
    super-bucket) so no stage ever sorts or joins more than ~4096
    rows per group at any corpus size."""
    hexn = _shard_bucket_hex(sf_dir) if bucket_hex is None else bucket_hex
    docs = cached_parquet(spark, f"{sf_dir}/documents.parquet")
    return _assignments_from_rows(
        _shard_rows(docs, seed, hexn), hexn, shard_tokens
    )


def curation_epoch_shards(
    spark: SparkSession,
    sf_dir: str,
    seed: str = EPOCH_SEED,
    shard_tokens: int = SHARD_TOKENS,
    bucket_hex: "int | None" = None,
) -> DataFrame:
    """C55 — EPOCH SHUFFLE + SHARDING: the reproducible global shuffle a
    training dataloader needs — order the corpus by a seeded hash
    (md5(seed:doc_id): a new seed string is a fresh epoch-order, no
    stored permutation), then cut the hash-ordered token stream into
    fixed-budget shards and emit the PER-SHARD MANIFEST (doc count,
    token mass, key range, order-free checksum) that a loader uses to
    open/validate exactly the shards it owns. Deterministic by
    construction (hash order + integer token counts), so the whole
    manifest — checksums included — is hash-checked against the oracle.

    Scale shape: the shard cut needs a GLOBAL prefix sum over the
    hash order; a bare Window.orderBy(key) would funnel the corpus
    through one reducer (the A9 hazard), so it runs TWO-LEVEL like
    text_pack_sequences but keyed on the hash itself: bucket = the
    first _shard_bucket_hex(corpus) hex chars of the key (uniform by
    md5; bucket order ≡ key order because the bucket IS the key's
    prefix),
    within-bucket cumulative window under the partitioned bucket key,
    bucket offsets from a triangular join over the per-bucket totals
    (broadcast; past _SHARD_SUPER buckets the offsets themselves go
    two-level — see _shard_assignments). The per-shard checksum is a
    SUM of per-doc hash prefixes — commutative, so no ordered fold
    anywhere. The bucket width GROWS WITH THE CORPUS (r14): derived
    from footer row counts by _shard_bucket_hex, result-invariant."""
    return _manifest_from_assignments(
        _shard_assignments(spark, sf_dir, seed, shard_tokens, bucket_hex)
    )


def _manifest_from_assignments(assigned: DataFrame) -> DataFrame:
    """Per-shard manifest rollup over (doc_id, key, n_tokens,
    shard_id) rows — split out of curation_epoch_shards (r15) for the
    D34 streaming sink."""
    return (
        assigned
        .withColumn(
            # the key's first 15 hex chars as a LONG: min/max over it
            # keep the keyed aggregate's buffers MUTABLE (hash agg under
            # codegen). min/max over the STRING key itself planned a
            # KEYED SortAggregate over the doc-level rows — the exact
            # r12 immutable-buffer regression class, caught in PLANS.md
            # on first generation. 60 bits of md5 prefix order the
            # shard boundaries identically (and both engines truncate
            # identically, so this is a definition, not an estimate).
            "key_pre",
            F.conv(F.substring("key", 1, 15), 16, 10).cast("long"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("key_pre").alias("min_pre"),
            F.max("key_pre").alias("max_pre"),
            F.sum(
                F.conv(F.substring("key", 1, 8), 16, 10).cast("long")
            ).alias("checksum"),
        )
        .select(
            "shard_id",
            "n_docs",
            "total_tokens",
            F.lower(F.lpad(F.hex("min_pre"), 15, "0")).alias("min_key"),
            F.lower(F.lpad(F.hex("max_pre"), 15, "0")).alias("max_key"),
            "checksum",
        )
    )


def _oracle_epoch_shards() -> str:
    return f"""
        WITH t0 AS (
            SELECT doc_id,
                   md5('{EPOCH_SEED}:' || doc_id::VARCHAR) AS key,
                   CAST(len(regexp_extract_all(lower(text), '{textops.TOKEN_RE}'))
                        AS BIGINT) AS n_tokens
            FROM documents WHERE doc_id IS NOT NULL
        ),
        t AS (SELECT * FROM t0 WHERE n_tokens > 0),
        o AS (
            SELECT *,
                   SUM(n_tokens) OVER (ORDER BY key, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS start_tok
            FROM t
        )
        SELECT CAST(start_tok // {SHARD_TOKENS} AS BIGINT) AS shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               printf('%015x',
                   MIN(CAST('0x' || substr(key, 1, 15) AS BIGINT)))
                   AS min_key,
               printf('%015x',
                   MAX(CAST('0x' || substr(key, 1, 15) AS BIGINT)))
                   AS max_key,
               CAST(SUM(CAST('0x' || substr(key, 1, 8) AS BIGINT)) AS BIGINT)
                   AS checksum
        FROM o GROUP BY 1
    """


QUERIES["curation_epoch_shards"] = curation_epoch_shards
ORACLES["curation_epoch_shards"] = _oracle_epoch_shards()


# ---------------------------------------------------------------------------
# C55b — epoch shard FILES + loader-contract round-trip (r14: the r13
# manifest was emitted but nothing wrote or re-opened the shards it
# describes — the artifact a training dataloader actually opens)

# both keyed by the epoch's (seed, budget) on each call
EPOCH_SHARD_FILES = artifacts.Artifact(
    "epoch_shard_files", "documents", dict(op="epoch_shard_files")
)
EPOCH_SHARD_MANIFEST = artifacts.Artifact(
    "epoch_shard_manifest", "documents", dict(op="epoch_shard_manifest")
)


def serve_epoch_shard_files(
    spark: SparkSession,
    sf_dir: str,
    seed: str = EPOCH_SEED,
    shard_tokens: int = SHARD_TOKENS,
) -> str:
    """The epoch's shard FILES as a fingerprint-keyed disk artifact:
    doc-level rows (doc_id, key, n_tokens) written partitionBy
    shard_id — one directory per shard (the D18/D26 layout precedent:
    Hive-style `shard_id=K` paths, atomic temp+rename), so a loader
    opens exactly the shard directories it owns and a shard_id filter
    is a partition-pruning read, never a scan. Built once per (corpus,
    seed, budget); the bucket width is NOT in the key — it never
    changes the assignment (result-invariance, property-tested)."""
    return artifacts.ensure(
        EPOCH_SHARD_FILES.path(sf_dir, seed=seed, budget=shard_tokens),
        lambda: _shard_assignments(spark, sf_dir, seed, shard_tokens),
        partition_by="shard_id",
    )


def serve_epoch_shard_manifest(
    spark: SparkSession,
    sf_dir: str,
    seed: str = EPOCH_SEED,
    shard_tokens: int = SHARD_TOKENS,
) -> DataFrame:
    """The per-shard manifest as a SERVED artifact next to the shard
    files (same fingerprint scheme): what a dataloader actually opens
    to validate the shards it owns — it never recomputes the manifest
    from the corpus. The manifest's own corpus binding is C55's gate
    (curation_epoch_shards is hash-checked against the corpus-derived
    SQL), so serving it loses no verification: C55 pins
    corpus ≡ manifest, C55b pins manifest ≡ bytes-on-disk."""
    return artifacts.serve_frame(
        spark,
        EPOCH_SHARD_MANIFEST.path(sf_dir, seed=seed, budget=shard_tokens),
        lambda: curation_epoch_shards(spark, sf_dir, seed, shard_tokens),
    )


def curation_shard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C55b — LOADER-CONTRACT CHECK over the WRITTEN shard files: read
    the served shard layout back off disk, recompute every shard's
    manifest row (doc count, token mass, key range, order-free
    checksum) FROM THE FILES, and match it against the SERVED manifest
    — exactly what a dataloader does before trusting a shard it is
    about to stream (open shard k, validate against the manifest it
    shipped with; r14.2: the manifest is read from its artifact, not
    recomputed from the corpus per call — the corpus binding is C55's
    own hash gate). `ok` is false for any shard whose files were lost,
    truncated, or tampered with (tamper test in tests/test_drift.py).
    Hash-checked end to end: the oracle reads the SAME two artifacts
    (artifact-as-oracle-input, the C56/C57/C58 precedent), so a write
    that dropped or duplicated rows diverges on both engines
    identically and surfaces as ok=false rows.

    Scale shape: two index-sized scans (shard layout → bounded
    per-shard aggregate; manifest) and one sort-free equi-join — no
    corpus-scale work anywhere in the serving path."""
    path = serve_epoch_shard_files(spark, sf_dir)
    # explicit data schema (partition column still discovered from the
    # shard_id=K directory names): skipping footer schema-merge across
    # the per-shard files halved the read wall on a 67-shard layout
    raw = spark.read.schema("doc_id long, key string, n_tokens long").parquet(
        path
    )
    if "shard_id" not in raw.columns:
        # an EMPTY corpus writes an empty layout — no shard_id=K dirs,
        # so the partition column never materializes; the contract is
        # "no shards, nothing to validate", not an analysis error
        recomputed = spark.createDataFrame(
            [],
            "shard_id long, f_n_docs long, f_total_tokens long,"
            " f_min_key string, f_max_key string, f_checksum long",
        )
    else:
        files = raw.withColumn(
            "key_pre", F.conv(F.substring("key", 1, 15), 16, 10).cast("long")
        )
        recomputed = (
            files.groupBy(F.col("shard_id").cast("long").alias("shard_id"))
            .agg(
                F.count(F.lit(1)).alias("f_n_docs"),
                F.sum("n_tokens").alias("f_total_tokens"),
                F.min("key_pre").alias("f_min_pre"),
                F.max("key_pre").alias("f_max_pre"),
                F.sum(
                    F.conv(F.substring("key", 1, 8), 16, 10).cast("long")
                ).alias("f_checksum"),
            )
            .select(
                "shard_id", "f_n_docs", "f_total_tokens",
                F.lower(F.lpad(F.hex("f_min_pre"), 15, "0")).alias(
                    "f_min_key"
                ),
                F.lower(F.lpad(F.hex("f_max_pre"), 15, "0")).alias(
                    "f_max_key"
                ),
                "f_checksum",
            )
        )
    man = serve_epoch_shard_manifest(spark, sf_dir)
    eq = (
        (F.col("n_docs") == F.col("f_n_docs"))
        & (F.col("total_tokens") == F.col("f_total_tokens"))
        & (F.col("min_key") == F.col("f_min_key"))
        & (F.col("max_key") == F.col("f_max_key"))
        & (F.col("checksum") == F.col("f_checksum"))
    )
    return (
        man.join(recomputed, "shard_id", "full_outer")
        .select(
            "shard_id",
            "n_docs", "total_tokens", "checksum",
            "f_n_docs", "f_total_tokens", "f_checksum",
            F.coalesce(eq, F.lit(False)).alias("ok"),
        )
    )


def _oracle_shard_roundtrip(sf_dir: str) -> str:
    axes = dict(seed=EPOCH_SEED, budget=SHARD_TOKENS)
    path = EPOCH_SHARD_FILES.path(sf_dir, **axes)
    mpath = EPOCH_SHARD_MANIFEST.path(sf_dir, **axes)
    # An empty corpus writes a manifest but no shard_id=K directories,
    # and DuckDB's read_parquet errors on a glob with zero matches while
    # the Spark face handles the missing partition column and returns 0
    # rows — so when the layout will have no shard subdirectories, emit
    # a statically-empty rec CTE instead of the glob (same schema). The
    # decision comes from the CORPUS (the C55 membership rule: non-null
    # doc_id, ≥1 token), not from the layout on disk: the generator may
    # run before the face has written the layout (the null-crosscheck
    # ordering), so a disk stat would pick the empty branch spuriously.
    import os as _os

    import duckdb as _duck

    docs = f"{sf_dir}/documents.parquet"
    if _os.path.isdir(docs):  # Spark-written layout: a part-file dir
        docs = f"{docs}/*.parquet"
    has_shards = bool(
        _duck.connect()
        .execute(
            f"""SELECT COUNT(*) FROM read_parquet('{docs}')
                WHERE doc_id IS NOT NULL
                  AND len(regexp_extract_all(lower(text),
                          '{textops.TOKEN_RE}')) > 0
                LIMIT 1"""
        )
        .fetchone()[0]
    )
    rec_sql = (
        f"""
            SELECT CAST(shard_id AS BIGINT) AS shard_id,
                   CAST(COUNT(*) AS BIGINT) AS f_n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS f_total_tokens,
                   printf('%015x',
                       MIN(CAST('0x' || substr(key, 1, 15) AS BIGINT)))
                       AS f_min_key,
                   printf('%015x',
                       MAX(CAST('0x' || substr(key, 1, 15) AS BIGINT)))
                       AS f_max_key,
                   CAST(SUM(CAST('0x' || substr(key, 1, 8) AS BIGINT))
                        AS BIGINT) AS f_checksum
            FROM read_parquet('{path}/*/*.parquet', hive_partitioning=1)
            GROUP BY 1"""
        if has_shards
        else """
            SELECT CAST(NULL AS BIGINT) AS shard_id,
                   CAST(NULL AS BIGINT) AS f_n_docs,
                   CAST(NULL AS BIGINT) AS f_total_tokens,
                   CAST(NULL AS VARCHAR) AS f_min_key,
                   CAST(NULL AS VARCHAR) AS f_max_key,
                   CAST(NULL AS BIGINT) AS f_checksum
            WHERE FALSE"""
    )
    return f"""
        WITH man AS (
            SELECT * FROM read_parquet('{mpath}/*.parquet')
        ),
        rec AS ({rec_sql}
        )
        SELECT COALESCE(man.shard_id, rec.shard_id) AS shard_id,
               man.n_docs, man.total_tokens, man.checksum,
               rec.f_n_docs, rec.f_total_tokens, rec.f_checksum,
               COALESCE(man.n_docs = rec.f_n_docs
                        AND man.total_tokens = rec.f_total_tokens
                        AND man.min_key = rec.f_min_key
                        AND man.max_key = rec.f_max_key
                        AND man.checksum = rec.f_checksum,
                        FALSE) AS ok
        FROM man FULL OUTER JOIN rec ON man.shard_id = rec.shard_id
    """


QUERIES["curation_shard_roundtrip"] = curation_shard_roundtrip
DYNAMIC_ORACLES = {"curation_shard_roundtrip": _oracle_shard_roundtrip}
