"""Text analysis operators (SURVEY.md §2.C7-C10) over documents.

All pure column expressions (regex + array higher-order functions): no
UDFs, whole-stage codegen end-to-end, embarrassingly parallel per row —
the shape that scales linearly to 100 TB of documents. Every operator is
oracle-checked: the heuristics are defined only with functions both
engines implement identically (md5, regex classes, array filters).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from euclid_spark import artifacts
from euclid_spark.catalog import cached_parquet

from euclid_spark.cache import persist_tracked
from euclid_spark.functions.hashing import DIGEST_PRIME
from euclid_spark.functions.text import normalized_text, shingles, words

# BPE-ish tokenizer: letter runs, digit runs, single punctuation marks.
TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

# Synthetic marker-word language heuristic (vocabulary-calibrated; the
# operator shape — per-language evidence scores + argmax — is what a real
# n-gram language ID computes).
LANG_MARKERS = {
    "de": ("scan", "merge", "part"),
    "en": ("the", "fast", "key"),
    "es": ("order", "sort", "table"),
    "fr": ("window", "small", "hash"),
    "zh": ("join", "data", "row"),
}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cached_parquet(spark, f"{sf_dir}/documents.parquet")


def _nonempty_words() -> F.Column:
    return F.filter(words("text"), lambda w: w != "")


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 — whitespace and regex token counts per document."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(_nonempty_words()).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)).alias(
            "n_re_tokens"
        ),
        F.length("text").alias("n_chars_actual"),
    )


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 — quality scoring from length / alpha-ratio / stopword-ratio,
    the standard pre-training corpus filter signals."""
    docs = _docs(spark, sf_dir)
    ws = _nonempty_words()
    n_words = F.size(ws)
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", "")) / F.length("text")
    stop_n = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS)))
    stop_ratio = F.when(n_words > 0, stop_n / n_words).otherwise(F.lit(0.0))
    quality = (
        F.lit(0.5) * alpha
        + F.lit(0.3) * (1 - stop_ratio)
        + F.lit(0.2) * F.least(F.lit(1.0), n_words / F.lit(50.0))
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(alpha, 4).alias("alpha_ratio"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(quality, 4).alias("quality"),
    )


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 — marker-word language scores + deterministic argmax
    (ties resolve in lexicographic language order)."""
    docs = _docs(spark, sf_dir)
    ws = _nonempty_words()
    def _score(markers: tuple[str, ...]) -> F.Column:
        # nb: F.filter lambdas must take exactly one arg (a second would
        # be interpreted as the element index)
        return F.size(F.filter(ws, lambda w: w.isin(*markers)))

    scores = {lang: _score(m) for lang, m in LANG_MARKERS.items()}
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[scores[lg] for lg in langs])
    pred = F.lit(None).cast("string")
    for lg in reversed(langs):  # earlier langs win ties → apply last
        pred = F.when(scores[lg] == best, F.lit(lg)).otherwise(pred)
    out = docs.select(
        "doc_id",
        "lang",
        *[scores[lg].alias(f"s_{lg}") for lg in langs],
        pred.alias("predicted"),
    )
    return out.withColumn("label_match", F.col("predicted") == F.col("lang"))


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10 — document fingerprints: full md5 of the canonical text, a
    64-bit hex prefix, and a rolling polynomial hash over the word
    sequence (order-sensitive, unlike the digest in functions/hashing —
    two docs with the same words in different order differ here)."""
    docs = _docs(spark, sf_dir)
    norm = normalized_text("text")
    word_h = lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")  # noqa: E731
    rolling = F.aggregate(
        _nonempty_words(),
        F.lit(0).cast("long"),
        lambda acc, w: (acc * 31 + word_h(w)) % DIGEST_PRIME,
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        F.substring(F.md5(norm), 1, 16).alias("fp64"),
        rolling.alias("fp_rolling"),
    )


TFIDF_TOP = 5


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12 — top TF-IDF terms per document. Term frequencies and document
    frequencies are two hash aggregates over the exploded words; the
    corpus size joins in as a broadcast single-row aggregate (no
    driver-side count()). Ranking uses the rounded score + term tiebreak
    so the oracle reproduces the exact row set."""
    docs = _docs(spark, sf_dir)
    w = docs.select("doc_id", F.explode(_nonempty_words()).alias("word"))
    tf = w.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_ = w.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    nd = docs.agg(F.count("*").alias("nd"))
    scored = (
        tf.join(df_, "word")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "word",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("nd") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    win = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "word")
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= TFIDF_TOP)
        .select("doc_id", "word", "tf", "tfidf", "rn")
    )


# PII patterns, kept to syntax Java regex and RE2 (DuckDB) treat
# identically: no backrefs, no lookaround.
PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_IDRUN = r"\d{6,}"


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C18 — PII scrubbing, the compliance pass every training corpus
    runs before release: emails, IPv4 literals, and long digit runs
    (ids/phones) are replaced with typed placeholder tags, counts
    reported per doc. Pure regexp column expressions — codegen'd,
    per-row parallel; the md5 of the redacted text rides along so the
    oracle verifies the FULL output without hauling text through the
    compare."""
    docs = _docs(spark, sf_dir)
    low = F.lower(F.col("text"))
    red = F.regexp_replace(low, PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, PII_IPV4, "<IP>")
    red = F.regexp_replace(red, PII_IDRUN, "<ID>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(low, F.lit(PII_EMAIL), 0)).alias("n_email"),
        F.size(F.regexp_extract_all(low, F.lit(PII_IPV4), 0)).alias("n_ipv4"),
        F.size(F.regexp_extract_all(low, F.lit(PII_IDRUN), 0)).alias("n_idrun"),
        F.md5(red).alias("redacted_md5"),
        F.length(red).alias("redacted_len"),
    )


# ---------------------------------------------------------------------------
# C60 — safety / blocklist document screen (r14)

# Category → phrase blocklist. STAND-IN LEXICONS: the real deployment
# swaps these for its vetted taboo/NSFW word lists (the public C4
# "bad words" filter, Raffel et al. 2020 — the screen every production
# corpus pipeline runs before training); this synthetic corpus has a
# closed ~30-word vocabulary, so the stand-ins are phrases that occur
# in it at realistic rates (~10% of docs). What is UNDER TEST is the
# machinery a lexicon swap inherits unchanged: word-boundary matching
# in the Java-regex ∩ RE2 dialect (byte-identical on both engines),
# per-category counts, the any-hit verdict, and the C25/C35/D22
# compositions.
SAFETY_BLOCKLISTS = {
    "cat_a": ("slow slow", "dup dup"),
    "cat_b": ("big big", "big dup"),
    "cat_c": ("hash dup", "vector dup"),
}
SAFETY_MAX_HITS = 0  # the C4 rule: ANY blocklisted hit drops the doc


def _safety_re(terms: "tuple[str, ...]") -> str:
    """Word-boundary alternation over literal phrases — `\\b` and `|`
    mean the same thing in Java regex (Spark) and RE2 (DuckDB), and
    the terms are escaped literals, so both engines match identical
    spans."""
    import re as _re

    return r"\b(" + "|".join(_re.escape(t) for t in terms) + r")\b"


def safety_counts(docs: DataFrame) -> DataFrame:
    """Frame-level body of C60 (reused per micro-batch by
    streaming/curation_stream.py — every signal is row-local, so batch
    and streamed evaluation agree doc for doc): per category, the
    number of blocklisted matches in the lowercased text; `blocked` =
    total hits > SAFETY_MAX_HITS. NULL text counts as empty (never
    blocked), the repetition-filter convention."""
    low = F.lower(F.coalesce(F.col("text"), F.lit("")))
    counts = [
        F.size(
            F.regexp_extract_all(low, F.lit(_safety_re(terms)), 0)
        ).alias(f"n_{cat}")
        for cat, terms in SAFETY_BLOCKLISTS.items()
    ]
    out = docs.select("doc_id", *counts)
    total = sum(
        (F.col(f"n_{cat}") for cat in SAFETY_BLOCKLISTS),
        F.lit(0),
    )
    return out.withColumn("n_hits", total.cast("long")).withColumn(
        "blocked", F.col("n_hits") > SAFETY_MAX_HITS
    )


def text_safety_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C60 — SAFETY / BLOCKLIST SCREEN: the taboo-content document
    filter every production corpus pipeline runs (the C4 bad-words
    screen, Raffel et al. 2020: any blocklisted term drops the page;
    category counts kept for the data card's incidence reporting).
    Pure regexp column expressions like C18 — codegen'd, per-row
    parallel, no shuffle; the verdict composes into C25's keep-list
    and D22's streamed twin as one more row-local stage."""
    return safety_counts(_docs(spark, sf_dir))


def _safety_sql(rel: str = "documents") -> str:
    cols, tot = [], []
    for cat, terms in SAFETY_BLOCKLISTS.items():
        # '' doubling: re.escape does NOT escape apostrophes, and real
        # bad-word lists contain them — an unescaped ' would terminate
        # the SQL string literal (r14 review)
        pat = _safety_re(terms).replace("'", "''")
        cols.append(
            f"len(regexp_extract_all(lower(coalesce(text, '')), '{pat}'))"
            f" AS n_{cat}"
        )
        tot.append(f"n_{cat}")
    total = " + ".join(tot)
    return f"""
        SELECT doc_id, {", ".join(tot)},
               CAST({total} AS BIGINT) AS n_hits,
               ({total}) > {SAFETY_MAX_HITS} AS blocked
        FROM (SELECT doc_id, {", ".join(cols)} FROM {rel})
    """


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C19 — unigram language-model score, the cheap perplexity filter
    used for corpus curation: mean log p(word) under the corpus's own
    unigram distribution (docs full of rare/garbage tokens score low).
    Two hash aggregates (corpus frequencies, per-doc means) + one join
    shuffled on `word` — word frequency is Zipf-skewed, but the join
    carries only (word, logp), and the per-doc mean re-shuffles on
    doc_id, so no single reducer sees a hot word's full document list."""
    docs = _docs(spark, sf_dir)
    w = docs.select("doc_id", F.explode(_nonempty_words()).alias("word"))
    tot = w.agg(F.count("*").alias("total"))
    freq = (
        w.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .select("word", F.log(F.col("cnt") / F.col("total")).alias("logp"))
    )
    return (
        w.join(freq, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.round(F.avg("logp"), 4).alias("avg_logprob"),
        )
    )


# --- C21: Gopher-style repetition filter --------------------------------------

DUP_LINE_MAX = 0.30  # Gopher: drop docs whose duplicate-line share is high
TOP_WORD_MAX = 0.20  # ... or dominated by a single repeated word


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Frame-level body of C21 (used per micro-batch by
    streaming/curation_stream.py — every signal is row-local or a
    per-doc aggregate, so batch and full-corpus evaluation agree)."""
    lines = F.filter(
        F.transform(F.split(F.coalesce(F.col("text"), F.lit("")), "\n"), F.trim),
        lambda x: x != "",
    )
    line_stats = docs.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        (F.size(lines) - F.size(F.array_distinct(lines))).alias("n_dup_lines"),
    )
    wc = (
        docs.select("doc_id", F.explode(_nonempty_words()).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_words"))
    )
    dup_frac = F.when(
        F.col("n_lines") > 0, F.col("n_dup_lines") / F.col("n_lines")
    ).otherwise(F.lit(0.0))
    top_frac = F.when(
        F.coalesce(F.col("n_words"), F.lit(0)) > 0, F.col("top_c") / F.col("n_words")
    ).otherwise(F.lit(0.0))
    return (
        line_stats.join(wc, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.round(dup_frac, 4).alias("dup_line_frac"),
            F.coalesce(F.col("n_words"), F.lit(0)).alias("n_words"),
            F.round(top_frac, 4).alias("top_word_frac"),
            ((dup_frac <= DUP_LINE_MAX) & (top_frac <= TOP_WORD_MAX)).alias("keep"),
        )
    )


REPETITION_VERDICTS = artifacts.Artifact(
    "repetition_verdicts", "documents", dict(op="repetition_verdicts")
)


def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C21 — within-document repetition signals (the Gopher/MassiveText
    repetition rules, public: Rae et al. 2021): duplicate-line fraction
    and top-word dominance, plus the keep/drop verdict. Line stats are
    pure array expressions; word dominance is explode → two hash
    aggregates on (doc_id, word) → doc_id — no windows over the corpus,
    everything map-side combinable.

    r7: the verdict table is a served quality-signal ARTIFACT (the
    dsir/ppl/substring precedent) — a production pipeline stores the
    per-doc verdicts beside the corpus and C25 composes the stored
    column."""
    return artifacts.serve_frame(
        spark,
        REPETITION_VERDICTS.path(sf_dir),
        lambda: repetition_stats(_docs(spark, sf_dir)),
    )


# --- C22: deterministic stratified sampling -----------------------------------

# per-language keep rates as 4-hex-char thresholds over md5("samp|"+id):
# lexicographic hex compare == uniform [0,1) draw, identical in any
# engine — reproducible sampling with NO random() (re-runs and the
# oracle agree bit-for-bit)
SAMPLE_THR = {"en": 0.50, "de": 0.25, "es": 0.25, "fr": 0.25, "zh": 0.10}
_THR_HEX = {k: format(int(v * 65536), "04x") for k, v in SAMPLE_THR.items()}


def stratified_sample(docs: DataFrame) -> DataFrame:
    """Frame-level body of C22 — row-local, so per-batch and
    full-corpus evaluation select the identical doc set."""
    bucket = F.substring(
        F.md5(F.concat(F.lit("samp|"), F.col("doc_id").cast("string"))), 1, 4
    )
    thr = None
    for lang, hx in _THR_HEX.items():
        c = F.when(F.col("lang") == lang, F.lit(hx))
        thr = c if thr is None else thr.when(F.col("lang") == lang, F.lit(hx))
    thr = thr.otherwise(F.lit("0ccc"))  # 5% default for unknown strata
    return (
        docs.select("doc_id", "lang", "source", bucket.alias("bucket_hex"),
                    thr.alias("thr_hex"))
        .filter(F.col("bucket_hex") < F.col("thr_hex"))
        .drop("thr_hex")
    )


def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C22 — domain/language-mix curation: deterministic hash-bucket
    sampling at a per-stratum rate (the "data mixture" step of a
    pre-training pipeline). Pure row-local expressions — sampling a
    100 TB corpus is a single filtered scan, no shuffle at all."""
    return stratified_sample(_docs(spark, sf_dir))


# --- C23: benchmark-contamination screen --------------------------------------

BENCH_SOURCES = ("src0", "src1")  # the held-out eval set stand-in
CONTAM_MIN_SHARED = 2
# GPT-3 app. C flags on LONG n-gram collisions (13-grams) because short
# shingles saturate: with this synthetic vocabulary, 3-word shingles
# mark ~100% of a sf0.1 corpus as contaminated (measured) while 8-word
# shingles isolate the ~1% of docs genuinely overlapping the benchmark.
CONTAM_SHINGLE_K = 8


BENCH_OVERLAP = artifacts.Artifact(
    "bench_overlap", "documents",
    dict(op="bench_overlap", k=CONTAM_SHINGLE_K, m=CONTAM_MIN_SHARED),
)


def text_benchmark_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C23 — train/test contamination screen (the n-gram overlap check of
    GPT-3/PaLM data cards, public: Brown et al. 2020 app. C): flag
    training documents sharing ≥ CONTAM_MIN_SHARED distinct
    CONTAM_SHINGLE_K-word shingles with a benchmark set (here: sources
    {src0, src1}).
    Scale shape (the r5 rewrite): the TRAIN side never shuffles at
    corpus width. One pass over the corpus — per-doc distinct shingles
    via row-local `array_distinct` + ONE explode (the old shape's
    explode→DISTINCT shuffled every shingle string of the corpus, and
    its separate totals/shared branches evaluated the shingle pipeline
    twice), a LEFT join against the broadcast BENCHMARK shingle set
    with a hit flag, and one doc_id aggregation computing n_shingles
    (count) and n_shared (sum of hits) together. The benchmark side is
    fixed-size by construction (a held-out eval suite does not grow
    with the corpus) — broadcast by hint; the doc_id aggregation
    combines map-side, so the only exchange carries ≈ one row per
    document, not per shingle.

    r7: served as a quality-signal ARTIFACT (the repetition-verdict
    precedent) — contamination flags are corpus-version state a
    production pipeline stores once and composes from."""
    def build() -> DataFrame:
        docs = _docs(spark, sf_dir)
        is_bench = F.col("source").isin(*BENCH_SOURCES)
        return contamination_overlap(
            docs.filter(~is_bench), benchmark_shingles(docs.filter(is_bench))
        )

    return artifacts.serve_frame(spark, BENCH_OVERLAP.path(sf_dir), build)


def _per_doc_distinct_shingles(df: DataFrame) -> DataFrame:
    from euclid_spark.functions.text import shingles, words as words_of

    # ws staged first: shingles() indexes a materialized array
    return df.select("doc_id", words_of("text").alias("ws")).select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles(F.col("ws"), k=CONTAM_SHINGLE_K))
        ).alias("shingle"),
    )


def benchmark_shingles(bench_docs: DataFrame) -> DataFrame:
    """Distinct CONTAM_SHINGLE_K-shingles of the held-out set — the
    fixed-size probe index the screen broadcasts."""
    return _per_doc_distinct_shingles(bench_docs).select("shingle").distinct()


def contamination_overlap(train_docs: DataFrame, bench: DataFrame) -> DataFrame:
    """Frame-level body of C23 (used per micro-batch by
    streaming/curation_stream.py with a STATIC benchmark index — the
    screen is per-doc row-local given the bench set, so batch and
    full-corpus evaluation agree)."""
    flagged = _per_doc_distinct_shingles(train_docs).join(
        F.broadcast(bench.withColumn("hit", F.lit(1))), "shingle", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_shared"),
        )
        .filter(F.col("n_shared") >= 1)  # = the old totals⋈shared inner join
        .select(
            "doc_id",
            "n_shared",
            "n_shingles",
            F.round(F.col("n_shared") / F.col("n_shingles"), 4).alias(
                "overlap_frac"
            ),
            (F.col("n_shared") >= CONTAM_MIN_SHARED).alias("contaminated"),
        )
    )


TEMP_K = 50  # temperature-sampling scale: expected take ≈ sqrt(K·n_s)


def text_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C27 — α=0.5 TEMPERATURE sampling across sources (the
    domain-mixing flattening of Pile/PaLM-style data cards, public:
    p(source) ∝ n^α with α<1 downweights overrepresented domains).
    Keep rate per source: p_s = min(1, sqrt(K/n_s)), so the expected
    take is ≈ sqrt(K·n_s) ∝ n_s^0.5 — the α=0.5 mix — with the scale K
    a CONFIG, not a data-derived normalizer: a global Σ n^α normalizer
    is a float sum whose value depends on addition order (different
    partitionings → last-ulp drift → boundary docs flip between runs);
    a per-source sqrt of an exact integer ratio is bit-identical on
    every engine and every run. Selection is the md5-bucket rule of
    C22: deterministic, join-free re-derivable, no random().
    Per-source stats are scale-invariant (a handful of rows) →
    broadcast."""
    docs = _docs(spark, sf_dir)
    stats = docs.groupBy("source").agg(F.count("*").alias("n_src"))
    rates = stats.select(
        "source",
        "n_src",
        F.least(
            F.lit(1.0), F.sqrt(F.lit(float(TEMP_K)) / F.col("n_src"))
        ).alias("p_keep"),
    )
    bucket_frac = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("temp|"), F.col("doc_id").cast("string"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(65536.0)
    )
    return (
        docs.join(F.broadcast(rates), "source")
        # compare on the EXACT fraction (int / 2^16 is exact binary);
        # round only for output
        .filter(bucket_frac < F.col("p_keep"))
        .select(
            "doc_id",
            "source",
            "n_src",
            F.round("p_keep", 6).alias("p_keep"),
            F.round(bucket_frac, 6).alias("bucket_frac"),
        )
    )


CTX_LEN = 2048  # training context window (tokens)
PACK_BUCKET_BITS = 12  # 4096 doc_ids per prefix-sum bucket


def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C26 — sequence PACKING for training: concatenate the corpus's
    token stream in doc_id order and chunk it into fixed CTX_LEN
    windows (the concat-and-chunk batching GPT-family pipelines use —
    Brown et al. 2020 §2.1 train on packed 2048-token contexts).
    Emits, per document, its place in the packed stream:
    (start_tok, bin_start, bin_end, bin_offset) — everything a packer
    needs to materialize examples, without ever materializing them.

    Scale shape: the global running total is a TWO-LEVEL prefix sum
    (the A9 chain pattern, euclid.py:184): within-bucket cumulative
    window under a PARTITIONED key (doc_id >> PACK_BUCKET_BITS), bucket
    offsets from a triangular join over per-bucket totals (one row per
    4096 docs, broadcast). No Exchange SinglePartition anywhere —
    a bare `Window.orderBy(doc_id)` would funnel the corpus through one
    reducer. Integer-only arithmetic end-to-end, so the oracle
    hash-matches exactly."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)
        ).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)  # empty docs add nothing to the stream
    return pack_stream(toks)


def pack_stream(toks: DataFrame) -> DataFrame:
    """The packing core of C26, reusable over ANY (doc_id, n_tokens>0)
    frame (e.g. a curated survivor set — C32): global start offsets via
    the two-level prefix sum, then fixed-CTX_LEN bin coordinates.

    r16 (guide §2.4/§8): the input is PINNED — it is referenced by the
    bucket-total build (twice, via the triangular join's b1/b2 aliases)
    and by the final join side, and an unpersisted lineage re-runs the
    upstream derivation (for the C26 faces: the regexp tokenization of
    every document) once per reference — 3 corpus passes per call. The
    pin is the lightweight proxy (doc_id, n_tokens, bucket — ~24 B/doc
    whatever the document size); `btot` (one row per 4096 docs) is
    pinned too so its own double reference costs bounded rows, not two
    more passes over the proxy. An input the caller has already pinned
    (C32's survivor set) is read through its own cache instead — a proxy
    pin of the same rows would only add a second cache build. Both pins
    register under the caller's cache scope (cache.py)."""
    pinned = toks.storageLevel != StorageLevel.NONE
    toks = toks.withColumn("bucket", F.shiftright(F.col("doc_id"), PACK_BUCKET_BITS))
    if not pinned:
        toks = persist_tracked(toks)
    btot = persist_tracked(
        toks.groupBy("bucket").agg(F.sum("n_tokens").alias("btot"))
    )
    b1, b2 = btot.alias("b1"), btot.alias("b2")
    offsets = (
        b1.join(b2, F.col("b2.bucket") < F.col("b1.bucket"), "left")
        .groupBy(F.col("b1.bucket").alias("bucket"))
        .agg(F.coalesce(F.sum("b2.btot"), F.lit(0)).alias("offset"))
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = F.col("offset") + F.sum("n_tokens").over(w) - F.col("n_tokens")
    return (
        toks.join(F.broadcast(offsets), "bucket")
        .withColumn("start_tok", start)
        .select(
            "doc_id",
            "n_tokens",
            "start_tok",
            (F.col("start_tok") / CTX_LEN).cast("long").alias("bin_start"),
            ((F.col("start_tok") + F.col("n_tokens") - 1) / CTX_LEN)
            .cast("long")
            .alias("bin_end"),
            F.pmod(F.col("start_tok"), F.lit(CTX_LEN)).alias("bin_offset"),
        )
    )


DSIR_BUCKETS = 128  # hashed n-gram feature space
DSIR_TARGET_LANG = "en"  # target distribution: the English slice


DSIR_WEIGHTS = artifacts.Artifact(
    "dsir_weights", "documents",
    dict(op="dsir_weights", b=DSIR_BUCKETS, target=DSIR_TARGET_LANG),
)


def text_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C29 — DSIR-style importance resampling (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling", public):
    score every raw document by how much more likely its hashed n-gram
    features are under a TARGET distribution (here the lang='en' slice)
    than under the raw corpus, then keep the docs the target model
    prefers. The per-doc log importance weight is
        λ_d = Σ_b count_d(b) · [ln p_T(b) − ln p_R(b)]
    over md5-hashed unigram+bigram buckets b ∈ [0, DSIR_BUCKETS) with
    add-1 smoothing — exactly the paper's hashed-n-gram construction,
    with DSIR's random resample replaced by the deterministic rule
    selected = λ > 0 (more target-like than raw-like), so the result is
    run-stable and oracle-checkable.

    Scale shape: the two bucket language models are FIXED-SIZE
    (DSIR_BUCKETS rows each, independent of corpus size) — built by one
    map-combinable aggregate and then BROADCAST to the per-doc scoring
    join; the corpus-sized side is touched by exactly two hash
    aggregates (doc×bucket counts, per-doc λ sum) on keys that carry no
    skew beyond bucket load, which the hash spreads uniformly. The
    global totals are a one-row aggregate (bounded payload, same
    pattern as text_unigram_logprob's total).

    The per-doc weight table is a fingerprint-keyed DISK ARTIFACT
    (the served-quality-signal pattern of dedup_substring_spans):
    deterministic, computed once per corpus version, read thin by the
    C32 composition."""
    return artifacts.serve_frame(
        spark, DSIR_WEIGHTS.path(sf_dir), lambda: _dsir_build(spark, sf_dir)
    )


def _dsir_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    ws = docs.select(
        "doc_id", "lang", _nonempty_words().alias("ws")
    )
    uni = ws.select(
        "doc_id", "lang", F.explode("ws").alias("g")
    ).select("doc_id", "lang", F.concat(F.lit("u|"), F.col("g")).alias("feat"))
    bi = ws.select(
        "doc_id", "lang", F.explode(shingles(F.col("ws"), k=2)).alias("g")
    ).select("doc_id", "lang", F.concat(F.lit("b|"), F.col("g")).alias("feat"))
    feats = uni.unionByName(bi).select(
        "doc_id",
        "lang",
        F.pmod(
            F.conv(F.substring(F.md5("feat"), 1, 4), 16, 10).cast("long"),
            F.lit(DSIR_BUCKETS),
        ).alias("b"),
    )
    # one read feeds three aggregates below
    feats = persist_tracked(feats)
    is_t = (F.col("lang") == DSIR_TARGET_LANG).cast("long")
    bucket_counts = feats.groupBy("b").agg(
        F.count("*").alias("cr"), F.sum(is_t).alias("ct")
    )
    tot = feats.agg(
        F.count("*").alias("nr"), F.sum(is_t).alias("nt")
    )
    ratio = bucket_counts.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("ct") + 1) / (F.col("nt") + DSIR_BUCKETS))
            - F.log((F.col("cr") + 1) / (F.col("nr") + DSIR_BUCKETS))
        ).alias("lr"),
    )
    docfeat = feats.groupBy("doc_id", "lang", "b").agg(
        F.count("*").alias("cnt")
    )
    wt = F.sum(F.col("cnt") * F.col("lr"))
    return (
        docfeat.join(F.broadcast(ratio), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.round(wt, 4).alias("dsir_weight"),
            # compare on the exact sum; round only for output
            (wt > 0).alias("selected"),
        )
    )


PPL_BUCKETS = artifacts.Artifact(
    "ppl_buckets", "documents", dict(op="ppl_buckets")
)


def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C30 — CCNet-style perplexity bucketing (Wenzek et al. 2020,
    public): split each language's documents into head/middle/tail
    TERCILES by language-model score — the head is kept, the tail is
    high-perplexity noise. The LM is the corpus's own unigram model
    (same score as text_unigram_logprob, standing in for CCNet's
    KenLM), higher avg logprob = better.

    Scale design — deliberately NOT `NTILE(3) OVER (PARTITION BY
    lang)`: an exact per-doc ntile funnels every document of a language
    through ONE reducer (the per-group total-order problem; 'en' alone
    is most of a 100 TB corpus). Instead, CCNet's actual construction:
    derive per-lang cutoff VALUES from the score HISTOGRAM — whose size
    is bounded by the number of distinct ROUNDED scores (≈10⁴ cells),
    independent of corpus size — then bucket by value comparison
    against the broadcast cutoffs. Ties share a bucket (all docs with
    the cutoff score land on its upper side), so bucket sizes deviate
    from n/3 by at most the tie mass; the assignment depends only on a
    doc's own score, never its global rank.

    Served as a fingerprint-keyed DISK ARTIFACT like the other per-doc
    quality-signal tables (deterministic; C32 reads it thin)."""
    return artifacts.serve_frame(
        spark, PPL_BUCKETS.path(sf_dir), lambda: _ppl_buckets_build(spark, sf_dir)
    )


def _ppl_buckets_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    w = docs.select("doc_id", "lang", F.explode(_nonempty_words()).alias("word"))
    tot = w.agg(F.count("*").alias("total"))
    freq = (
        w.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .select("word", F.log(F.col("cnt") / F.col("total")).alias("logp"))
    )
    doc = (
        w.join(freq, "word")
        .groupBy("doc_id", "lang")
        .agg(F.round(F.avg("logp"), 4).alias("avg_logprob"))
    )
    doc = persist_tracked(doc)  # read twice: histogram + final bucketing
    hist = doc.groupBy("lang", "avg_logprob").agg(F.count("*").alias("c"))
    wl = (
        Window.partitionBy("lang")
        .orderBy(F.desc("avg_logprob"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hist = hist.withColumn("cum", F.sum("c").over(wl))
    nl = hist.groupBy("lang").agg(F.sum("c").alias("n_l"))
    hj = hist.join(nl, "lang")
    t1 = (
        hj.filter(F.col("cum") >= F.expr("(n_l + 2) div 3"))
        .groupBy("lang")
        .agg(F.max("avg_logprob").alias("t1"))
    )
    t2 = (
        hj.filter(F.col("cum") >= F.expr("(2 * n_l + 2) div 3"))
        .groupBy("lang")
        .agg(F.max("avg_logprob").alias("t2"))
    )
    thr = t1.join(t2, "lang")  # one row per language — broadcast
    bucket = (
        F.when(F.col("avg_logprob") >= F.col("t1"), F.lit("head"))
        .when(F.col("avg_logprob") >= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return doc.join(F.broadcast(thr), "lang").select(
        "doc_id", "lang", "avg_logprob", bucket.alias("bucket")
    )


NGRAM_N = 5  # n-gram order
NGRAM_MIN_COUNT = 2  # emit repeated n-grams (prune the singleton tail)


def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C33 — the corpus N-GRAM COUNT TABLE (the n-gram-LM / infini-gram
    / contamination-index build: count every 5-gram occurrence across
    the corpus, keep those at or above a min-count threshold — the
    standard Google-n-grams-style pruning that bounds the table).
    Occurrences, not per-doc distinct: a doc repeating a 5-gram
    contributes each repetition, plus a distinct-doc count for df-style
    consumers.

    Scale shape: ONE map-side-combinable aggregate on the n-gram key —
    no join anywhere, so a viral hot n-gram is just a heavy reduce key
    with partial aggregation already done map-side (the shape that
    absorbs Zipf skew by construction). The threshold prunes the long
    tail BEFORE any consumer join."""
    docs = _docs(spark, sf_dir)
    ws = docs.select("doc_id", words("text").alias("ws"))
    grams = ws.select(
        "doc_id", F.explode(shingles(F.col("ws"), k=NGRAM_N)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= NGRAM_MIN_COUNT)
    )


# ----------------------------------------------------------- C34: BM25
# Okapi BM25 (Robertson & Walker 1994; the Lucene/Elasticsearch default
# scoring function) — the retrieval scorer a training-data pipeline uses
# for benchmark-decontamination sweeps, deduplication triage, and
# RAG-corpus indexing.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "vector", "stream", "window")  # fixed query, the
# watchlist pattern: a query is scale-invariant config, not data
BM25_TOPK = 50


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C34 — BM25 top-k document ranking for a fixed query term set.

    Scale shape (the reason BM25 fits a 100 TB corpus in ONE pass):
    per-doc term frequencies and length come from row-local array
    filters over the words array — no explode, no per-token shuffle.
    The corpus-level statistics BM25 needs (N, avgdl, per-term df) are
    ONE map-side-combinable scalar aggregate producing a single row,
    broadcast back; scoring is then pure arithmetic per row and the
    top-k is TakeOrderedAndProject (no global sort). Zero wide
    exchanges over the corpus anywhere.

    Determinism: the per-doc score sums its |Q| term contributions in
    fixed expression order (it is a column expression, not an
    aggregation), so Spark and DuckDB compute bit-identical doubles up
    to libm's ln; scores are rounded before the ORDER BY so the top-k
    cutoff set is engine-independent, ties broken by doc_id."""
    docs = _docs(spark, sf_dir)
    ws = docs.select("doc_id", _nonempty_words().alias("ws"))
    def _tf(term: str) -> F.Column:
        # nb: the F.filter lambda must take exactly ONE arg — a second
        # (even a defaulted one) is interpreted as the element index
        return F.size(F.filter(F.col("ws"), lambda w: w == F.lit(term)))

    tf_cols = [_tf(t).alias(f"tf_{i}") for i, t in enumerate(BM25_QUERY)]
    d = ws.select("doc_id", F.size("ws").alias("dl"), *tf_cols)
    stats = d.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(BM25_QUERY))
        ],
    )
    scored = d.join(F.broadcast(stats))
    norm = F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
    score = None
    for i in range(len(BM25_QUERY)):
        tf = F.col(f"tf_{i}").cast("double")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        part = idf * (
            (tf * F.lit(BM25_K1 + 1.0)) / (tf + F.lit(BM25_K1) * norm)
        )
        score = part if score is None else score + part
    any_tf = reduce(
        lambda a, b: a + b,
        [F.col(f"tf_{i}") for i in range(len(BM25_QUERY))],
    )
    return (
        scored.filter(any_tf > 0)
        .select("doc_id", F.round(score, 6).alias("bm25_score"))
        .orderBy(F.desc("bm25_score"), "doc_id")
        .limit(BM25_TOPK)
    )


# ------------------------------------------------------ C35: data card
DOC_SIGNALS = artifacts.Artifact(
    "doc_signals", "documents", dict(op="doc_signals")
)


def doc_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc QUALITY-SIGNAL table as ONE served artifact
    (VERDICT r7 #6 — the C51/repetition-verdict pattern applied to the
    row-local scorers): doc_id, labels, whitespace token count, quality
    score, predicted language, PII flag, normalized-text md5 — built in
    one pass per corpus version, then every audit query (C35 data card,
    C52 confusion matrix) is a join/aggregate over the stored columns
    instead of re-running the scorers. This is how a production
    pipeline stores signals beside the corpus; at 100 TB the build is
    the ingest job and the consumers never touch the text."""
    from euclid_spark.functions.text import normalized_text

    def build() -> DataFrame:
        docs = _docs(spark, sf_dir)
        base = docs.select(
            "doc_id",
            "lang",
            "source",
            F.md5(normalized_text("text")).alias("norm_md5"),
        )
        tok = text_token_count(spark, sf_dir).select("doc_id", "n_ws_tokens")
        qual = text_quality_score(spark, sf_dir).select("doc_id", "quality")
        pred = text_lang_id(spark, sf_dir).select("doc_id", "predicted")
        pii = text_pii_redact(spark, sf_dir).select(
            "doc_id",
            (F.col("n_email") + F.col("n_ipv4") + F.col("n_idrun") > 0).alias(
                "has_pii"
            ),
        )
        return (
            base.join(tok, "doc_id")
            .join(qual, "doc_id")
            .join(pred, "doc_id")
            .join(pii, "doc_id")
        )

    return artifacts.serve_frame(spark, DOC_SIGNALS.path(sf_dir), build)


def text_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C35 — the per-(source, lang) CORPUS DATA CARD: the statistics
    report every released training corpus ships (public practice:
    Datasheets for Datasets, Gebru et al. 2018; the Pile/Dolma data
    cards) — volume, token counts, exact median length, quality,
    exact-duplicate rate, PII incidence, repetition-rule failures, all
    per stratum in one table.

    Composition (the C25/C32 pattern applied to profiling): ALL the
    row-local signals (C7 tokens, C8 quality, C18 PII, the dup md5)
    come from the SERVED doc_signals artifact — no scorer re-runs —
    joined with the served repetition verdicts on doc_id; the exact-dup
    count is one two-level aggregate on the stored md5; the final
    rollup is ONE (source, lang) hash aggregate. Exact median via
    `percentile` (interpolating — matches DuckDB quantile_cont, the
    B25 parity)."""
    sig = doc_signals(spark, sf_dir)
    rep = text_repetition_filter(spark, sf_dir).select("doc_id", "keep")
    safety = text_safety_screen(spark, sf_dir).select("doc_id", "blocked")
    mc = sig.groupBy(F.col("norm_md5").alias("m")).agg(
        F.count("*").alias("copies")
    )
    return (
        sig.join(mc, sig.norm_md5 == mc.m)
        .withColumn("is_dup", F.col("copies") > 1)
        .join(rep, "doc_id")
        .join(safety, "doc_id")
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_ws_tokens").cast("long").alias("total_tokens"),
            F.round(F.expr("percentile(n_ws_tokens, 0.5)"), 4).alias(
                "median_tokens"
            ),
            # decimal accumulation (the q15/B57 rule): per-doc quality
            # is 4dp-rounded, so the sum is exact and order-independent;
            # ONE double division then round — float avg drifted a ulp
            # once the artifact changed the merge order (caught at sf0.1)
            F.round(
                F.sum(F.col("quality").cast("decimal(18,4)")).cast("double")
                / F.count("quality"),
                6,
            ).alias("mean_quality"),
            F.sum(F.col("is_dup").cast("long")).alias("n_exact_dup"),
            F.sum(F.col("has_pii").cast("long")).alias("n_pii_docs"),
            F.sum((~F.col("keep")).cast("long")).alias("n_rep_flagged"),
            F.sum(F.col("blocked").cast("long")).alias("n_blocked_docs"),
        )
    )


# -------------------------------------------------- C36: RAG chunking
CHUNK_LEN = 64   # tokens per passage
CHUNK_STRIDE = 48  # 16-token overlap between consecutive passages


def text_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C36 — OVERLAPPING PASSAGE CHUNKING, the corpus→passage-table
    step of every retrieval/RAG index build (fixed-size windows with
    overlap so no answer span is cut at a boundary — the standard
    LangChain/DPR-style splitter, public practice): each document's
    token stream becomes windows of CHUNK_LEN tokens starting every
    CHUNK_STRIDE tokens (every start < n_tokens; the tail window is
    shorter). Emits (doc_id, chunk_idx, start_tok, n_chunk_tokens,
    chunk_md5) — the row a downstream embedder consumes.

    Scale shape: entirely row-local — the starts array, the slices and
    their md5s are computed INSIDE one higher-order transform before a
    single posexplode, so nothing wider than the output rows ever
    shuffles (and the output needs no shuffle at all: zero exchanges)."""
    docs = _docs(spark, sf_dir)
    ws = docs.select("doc_id", _nonempty_words().alias("ws"))
    n = F.size("ws")
    starts = F.when(
        n > 0, F.sequence(F.lit(0), n - 1, F.lit(CHUNK_STRIDE))
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start_tok"),
            F.least(F.lit(CHUNK_LEN), n - s).alias("n_chunk_tokens"),
            F.md5(
                F.array_join(F.slice(F.col("ws"), s + 1, CHUNK_LEN), " ")
            ).alias("chunk_md5"),
        ),
    )
    return ws.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "c")
    ).select(
        "doc_id",
        "chunk_idx",
        F.col("c.start_tok").cast("int").alias("start_tok"),
        F.col("c.n_chunk_tokens").cast("int").alias("n_chunk_tokens"),
        F.col("c.chunk_md5").alias("chunk_md5"),
    )


# ---------------------------------------------------- C41: winnowing
WINNOW_K = 5  # words per k-gram
WINNOW_W = 8  # hashes per selection window


def _winnow_select_batches(it):
    """Vectorized winnowing selection per Arrow batch: for each doc's
    hash array, one numpy sliding-window view gives every window's min
    and (via the reversed view) the RIGHTMOST argmin — the
    Schleimer et al. tie rule — with no per-window Python loop."""
    import numpy as np
    import pandas as pd

    w = WINNOW_W
    for pdf in it:
        out_doc, out_pos, out_fp = [], [], []
        for doc_id, hs in zip(pdf["doc_id"], pdf["hs"]):
            h = np.asarray(hs, dtype=np.int64)
            win = np.lib.stride_tricks.sliding_window_view(h, w)
            mins = win.min(axis=1)
            # rightmost argmin: argmin of the column-reversed windows
            rpos = (w - 1) - np.argmin(win[:, ::-1], axis=1)
            pos = rpos + np.arange(len(win))
            sel = np.unique(np.stack([pos, mins], axis=1), axis=0)
            out_doc.extend([doc_id] * len(sel))
            out_pos.extend(sel[:, 0].tolist())
            out_fp.extend(sel[:, 1].tolist())
        yield pd.DataFrame(
            {"doc_id": out_doc, "pos": out_pos, "fp": out_fp}
        )


WINNOW_FPS = artifacts.Artifact(
    "winnow_fps", "documents", dict(op="winnow_fps", k=WINNOW_K, w=WINNOW_W)
)


def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C41 — WINNOWING fingerprint selection (Schleimer, Wilkerson &
    Aiken 2003 — the MOSS scheme, the local-sampling guarantee MinHash
    lacks: every match of ≥ w+k-1 tokens is caught, because each
    window of w consecutive k-gram hashes contributes its minimum,
    rightmost on ties). Output: the selected (doc_id, pos, fp) rows —
    the fingerprint index a plagiarism/near-dup system stores, at
    ~2/(w+1) the density of the full hash stream.

    Hashing is columnar; the per-window argmin scan is a vectorized
    Arrow batch (see _winnow_select_batches); the only exchange
    carries the SELECTED fingerprints, not the token stream. The
    fingerprint table is a fingerprint-keyed DISK ARTIFACT (the
    MinHash-signature precedent — a winnowing index is what MOSS
    stores per corpus version)."""
    return artifacts.serve_frame(
        spark, WINNOW_FPS.path(sf_dir), lambda: _winnow_build(spark, sf_dir)
    )


def _winnow_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # PERSIST the words array — a plain projection is collapsed by
    # Catalyst into the shingle transform, whose k index accesses then
    # re-run the full regex split per access (k× per shingle — the
    # functions/text.shingles staging note, measured ~30 s at sf0.1
    # for k=5; ~1 s against the materialized array).
    ws = persist_tracked(
        docs.select("doc_id", _nonempty_words().alias("ws"))
    )
    hashes = F.transform(
        shingles(F.col("ws"), k=WINNOW_K),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )
    staged = ws.select("doc_id", hashes.alias("hs")).filter(
        F.size("hs") >= WINNOW_W
    )
    # The per-window argmin scan is the documented
    # built-ins-can't-express-it-efficiently case (the A13 u256
    # precedent): as nested higher-order array expressions the
    # selection falls off whole-stage codegen onto the interpreted
    # path — MEASURED 20-65 s at sf0.1 — while one vectorized numpy
    # sliding-window pass over the same staged hash arrays is ~1 s.
    # Hashing stays columnar (md5 in the JVM); only the integer
    # selection crosses the Arrow boundary, batch-at-a-time.
    return staged.mapInPandas(
        _winnow_select_batches, schema="doc_id long, pos int, fp long"
    ).distinct()


BPE_N_MERGES = 256   # learned merge-table size
BPE_VOCAB_TOP = 10_000  # histogram rows the trainer sees (scale-invariant)


BPE_MERGES = artifacts.Artifact(
    "bpe_merges", "documents",
    dict(op="bpe_merges", n=BPE_N_MERGES, v=BPE_VOCAB_TOP),
)


def bpe_merges_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table (rank, left, right) as a
    fingerprint-keyed DISK ARTIFACT — a tokenizer vocabulary is
    corpus-version state, trained once and applied everywhere (the
    production shape: GPT-2's merges file is exactly this table).

    Training input is the word HISTOGRAM: one map-side-combinable
    aggregate over the corpus, truncated to the top BPE_VOCAB_TOP
    words by (count DESC, word ASC) — a deterministic, bounded,
    scale-invariant table the driver can hold (TakeOrderedAndProject,
    no full sort). The merge loop itself is inherently sequential
    (each merge conditions on the last) and runs driver-side over that
    bounded histogram — orchestration on ~10⁴ rows, not data work."""
    from euclid_spark.functions.bpe import train_bpe

    def build() -> DataFrame:
        hist = (
            _docs(spark, sf_dir)
            .select(F.explode(_nonempty_words()).alias("word"))
            .groupBy("word")
            .agg(F.count("*").alias("c"))
            .orderBy(F.col("c").desc(), F.col("word"))
            .limit(BPE_VOCAB_TOP)
            .collect()
        )
        merges = train_bpe({r["word"]: r["c"] for r in hist}, BPE_N_MERGES)
        return spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(merges)],
            "rank int, left string, right string",
        )

    return artifacts.serve_frame(spark, BPE_MERGES.path(sf_dir), build)


BPE_TOKEN_COUNTS = artifacts.Artifact(
    "bpe_token_counts", "documents",
    dict(op="bpe_token_counts", n=BPE_N_MERGES, v=BPE_VOCAB_TOP),
)


def _bpe_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc EXACT BPE token counts, served as an artifact (the
    quality-signal-table precedent: tokenize once per corpus version,
    read thin everywhere). The encode loop is word-local and the
    vocabulary Zipf-shaped, so an Arrow-batched pandas UDF with a
    per-batch word→count memo does a dict hit for all but first
    sightings — the A13/C41 documented Python-boundary case (a merge
    loop is not expressible as efficient column expressions)."""
    from euclid_spark.functions.bpe import count_tokens, merge_ranks

    def build() -> DataFrame:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        mrows = bpe_merges_table(spark, sf_dir).collect()  # ≤ BPE_N_MERGES
        ranks = merge_ranks(
            [(r["left"], r["right"]) for r in sorted(mrows, key=lambda r: r["rank"])]
        )

        @pandas_udf("long")
        def _count(texts):
            import re

            cache: dict = {}
            out = []
            for t in texts:
                ws = re.sub(r"\s+", " ", (t or "").lower()).strip().split(" ")
                out.append(count_tokens(ws, ranks, cache))
            return pd.Series(out, dtype="int64")

        return _docs(spark, sf_dir).select(
            "doc_id",
            F.size(_nonempty_words()).alias("n_ws_tokens"),
            _count(F.col("text")).alias("n_bpe_tokens"),
        )

    return artifacts.serve_frame(spark, BPE_TOKEN_COUNTS.path(sf_dir), build)


def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7x — EXACT BPE token counts per document (VERDICT r6 #6: the
    regex counts feeding the token-economics operators were
    approximations). Rows-only at the driver (a merge loop is not
    SQL); bit-exactness is pinned instead by tests/test_bpe.py — the
    trainer against hand-derived merges on the Sennrich fixture, and
    the whole Spark pipeline against an independent pure-Python
    reference over every smoke-corpus document."""
    return _bpe_counts(spark, sf_dir)


def text_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C26x — C26's sequence packing computed over EXACT BPE token
    counts: every packed-stream offset (start_tok, bin coordinates) is
    now true token economics under the learned tokenizer, not a regex
    estimate. Same two-level prefix sum core (pack_stream); rows-only
    like its input, with the gapless-stream invariant asserted in
    tests/test_bpe.py."""
    toks = _bpe_counts(spark, sf_dir).select(
        "doc_id", F.col("n_bpe_tokens").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    return pack_stream(toks)


def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C56 — TOKENIZER FERTILITY AUDIT (r13): per language, BPE tokens
    per whitespace word (fertility — the standard multilingual
    tokenizer-quality metric: a language whose fertility is far above
    the corpus mean pays more sequence length per word, cf. the
    tokenizer analyses of multilingual LMs) and characters per BPE
    token, off the SERVED exact token-count artifact (C43). The BPE
    counts themselves are rows-only (a merge loop is not SQL — pinned
    by tests/test_bpe.py); THIS consumer face is hash-checked via
    artifact-as-oracle-input (the C31/C48/A14 precedent), so the
    artifact's values are bound into a DuckDB-verified result anyway.

    Scale shape: index-sized artifact scan ⋈ documents on doc_id, one
    bounded (lang) aggregate; ratios as ROUND(double/double, 6) with
    the identical operation sequence in both engines (the B57 rule)."""
    counts = _bpe_counts(spark, sf_dir).filter(F.col("n_ws_tokens") > 0)
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    return (
        counts.join(docs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ws_tokens").alias("ws_tokens"),
            F.sum("n_bpe_tokens").alias("bpe_tokens"),
            F.round(
                F.sum("n_bpe_tokens").cast("double")
                / F.sum("n_ws_tokens").cast("double"),
                6,
            ).alias("fertility"),
            F.round(
                F.sum("n_chars").cast("double")
                / F.sum("n_bpe_tokens").cast("double"),
                6,
            ).alias("chars_per_token"),
        )
    )


def _fertility_oracle(sf_dir: str) -> str:
    path = BPE_TOKEN_COUNTS.path(sf_dir)
    return f"""
        SELECT d.lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(c.n_ws_tokens) AS BIGINT) AS ws_tokens,
               CAST(SUM(c.n_bpe_tokens) AS BIGINT) AS bpe_tokens,
               ROUND(CAST(SUM(c.n_bpe_tokens) AS DOUBLE)
                     / CAST(SUM(c.n_ws_tokens) AS DOUBLE), 6) AS fertility,
               ROUND(CAST(SUM(d.n_chars) AS DOUBLE)
                     / CAST(SUM(c.n_bpe_tokens) AS DOUBLE), 6)
                   AS chars_per_token
        FROM read_parquet('{path}/*.parquet') c
        JOIN documents d ON d.doc_id = c.doc_id
        WHERE c.n_ws_tokens > 0
        GROUP BY d.lang
    """


QUERIES = {
    "text_repetition_filter": text_repetition_filter,
    "text_bm25_topk": text_bm25_topk,
    "text_data_card": text_data_card,
    "text_rag_chunks": text_rag_chunks,
    "text_winnowing": text_winnowing,
    "text_stratified_sample": text_stratified_sample,
    "text_benchmark_overlap": text_benchmark_overlap,
    "text_token_count": text_token_count,
    "text_quality_score": text_quality_score,
    "text_lang_id": text_lang_id,
    "text_fingerprint": text_fingerprint,
    "text_tfidf_topk": text_tfidf_topk,
    "text_pii_redact": text_pii_redact,
    "text_unigram_logprob": text_unigram_logprob,
    "text_pack_sequences": text_pack_sequences,
    "text_temperature_sample": text_temperature_sample,
    "text_importance_resample": text_importance_resample,
    "text_perplexity_buckets": text_perplexity_buckets,
    "text_ngram_counts": text_ngram_counts,
    # rows-only (a BPE merge loop is not SQL): pinned by tests/test_bpe.py
    # against a pure-Python reference, the keccak/A14 precedent
    "text_bpe_token_count": text_bpe_token_count,
    "text_pack_sequences_bpe": text_pack_sequences_bpe,
    "text_tokenizer_fertility": text_tokenizer_fertility,
}

_WS = r"list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), w -> w <> '')"
_STOP_LIST = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def _marker_score(lang: str) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) + "]"
    return f"len(list_filter({_WS}, w -> list_contains({lst}, w)))"


_LANGS = sorted(LANG_MARKERS)
_BEST = "greatest(" + ", ".join(_marker_score(lg) for lg in _LANGS) + ")"
_PRED = (
    "CASE "
    + " ".join(
        f"WHEN {_marker_score(lg)} = {_BEST} THEN '{lg}'" for lg in _LANGS
    )
    + " END"
)

_CASE_THR = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in _THR_HEX.items())
    + " ELSE '0ccc' END"
)
_BENCH_IN = ", ".join(f"'{s}'" for s in BENCH_SOURCES)

ORACLES = {
    "text_repetition_filter": f"""
        WITH l AS (
            SELECT doc_id,
                   list_filter(list_transform(string_split(coalesce(text, ''),
                               chr(10)), x -> trim(x)), x -> x <> '') AS ls
            FROM documents),
        ln AS (SELECT doc_id, len(ls) AS n_lines,
                      len(ls) - len(list_distinct(ls)) AS n_dup
               FROM l),
        w AS (SELECT doc_id, unnest({_WS}) AS word FROM documents),
        wc AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2),
        wd AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_words
               FROM wc GROUP BY 1)
        SELECT ln.doc_id,
               CAST(n_lines AS INT) AS n_lines,
               ROUND(CASE WHEN n_lines > 0
                          THEN n_dup * 1.0 / n_lines ELSE 0 END, 4)
                   AS dup_line_frac,
               CAST(coalesce(n_words, 0) AS BIGINT) AS n_words,
               ROUND(CASE WHEN coalesce(n_words, 0) > 0
                          THEN top_c * 1.0 / n_words ELSE 0 END, 4)
                   AS top_word_frac,
               (CASE WHEN n_lines > 0
                     THEN n_dup * 1.0 / n_lines ELSE 0 END) <= {DUP_LINE_MAX}
               AND (CASE WHEN coalesce(n_words, 0) > 0
                         THEN top_c * 1.0 / n_words ELSE 0 END) <= {TOP_WORD_MAX}
                   AS keep
        FROM ln LEFT JOIN wd ON ln.doc_id = wd.doc_id
    """,
    "text_stratified_sample": f"""
        SELECT doc_id, lang, source,
               substring(md5('samp|' || doc_id::VARCHAR), 1, 4) AS bucket_hex
        FROM documents
        WHERE substring(md5('samp|' || doc_id::VARCHAR), 1, 4) < {_CASE_THR}
    """,
    "text_benchmark_overlap": f"""
        WITH w AS (
            SELECT doc_id, source,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                'g')), ' ') AS ws
            FROM documents),
        sh AS (SELECT DISTINCT doc_id, source,
                      unnest(list_transform(
                          range(1, len(ws) - {CONTAM_SHINGLE_K - 2}),
                          i -> list_aggregate(ws[i:i+{CONTAM_SHINGLE_K - 1}],
                                              'string_agg', ' ')))
                          AS shingle
               FROM w WHERE len(ws) >= {CONTAM_SHINGLE_K}),
        bench AS (SELECT DISTINCT shingle FROM sh
                  WHERE source IN ({_BENCH_IN})),
        train AS (SELECT doc_id, shingle FROM sh
                  WHERE source NOT IN ({_BENCH_IN})),
        tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY 1),
        shd AS (SELECT t.doc_id, COUNT(*) AS n_shared
                FROM train t JOIN bench b ON t.shingle = b.shingle
                GROUP BY 1)
        SELECT tot.doc_id,
               CAST(n_shared AS BIGINT) AS n_shared,
               CAST(n_shingles AS BIGINT) AS n_shingles,
               ROUND(n_shared * 1.0 / n_shingles, 4) AS overlap_frac,
               n_shared >= {CONTAM_MIN_SHARED} AS contaminated
        FROM tot JOIN shd ON tot.doc_id = shd.doc_id
    """,
    "text_pii_redact": f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '{PII_EMAIL}'))
                    AS INT) AS n_email,
               CAST(len(regexp_extract_all(lower(text), '{PII_IPV4}'))
                    AS INT) AS n_ipv4,
               CAST(len(regexp_extract_all(lower(text), '{PII_IDRUN}'))
                    AS INT) AS n_idrun,
               md5(regexp_replace(regexp_replace(regexp_replace(lower(text),
                   '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_IPV4}', '<IP>', 'g'),
                   '{PII_IDRUN}', '<ID>', 'g')) AS redacted_md5,
               CAST(length(regexp_replace(regexp_replace(regexp_replace(
                   lower(text),
                   '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_IPV4}', '<IP>', 'g'),
                   '{PII_IDRUN}', '<ID>', 'g')) AS INT) AS redacted_len
        FROM documents
    """,
    "text_unigram_logprob": f"""
        WITH w AS (SELECT doc_id, unnest({_WS}) AS word FROM documents),
        tot AS (SELECT COUNT(*) AS total FROM w),
        freq AS (
            SELECT word, ln(COUNT(*) * 1.0 / (SELECT total FROM tot)) AS logp
            FROM w GROUP BY word
        )
        SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
               ROUND(AVG(f.logp), 4) AS avg_logprob
        FROM w JOIN freq f ON w.word = f.word
        GROUP BY w.doc_id
    """,
    "text_token_count": f"""
        SELECT doc_id,
               CAST(len({_WS}) AS INT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS INT)
                   AS n_re_tokens,
               CAST(length(text) AS INT) AS n_chars_actual
        FROM documents
    """,
    "text_quality_score": f"""
        SELECT doc_id,
               CAST(len({_WS}) AS INT) AS n_words,
               ROUND(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                     * 1.0 / length(text), 4) AS alpha_ratio,
               ROUND(CASE WHEN len({_WS}) > 0
                     THEN len(list_filter({_WS}, w -> list_contains({_STOP_LIST}, w)))
                          * 1.0 / len({_WS}) ELSE 0.0 END, 4) AS stop_ratio,
               ROUND(0.5 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                            * 1.0 / length(text))
                   + 0.3 * (1 - CASE WHEN len({_WS}) > 0
                     THEN len(list_filter({_WS}, w -> list_contains({_STOP_LIST}, w)))
                          * 1.0 / len({_WS}) ELSE 0.0 END)
                   + 0.2 * least(1.0, len({_WS}) / 50.0), 4) AS quality
        FROM documents
    """,
    "text_lang_id": f"""
        SELECT doc_id, lang,
               {", ".join(f"CAST({_marker_score(lg)} AS INT) AS s_{lg}" for lg in _LANGS)},
               {_PRED} AS predicted,
               {_PRED} = lang AS label_match
        FROM documents
    """,
    "text_tfidf_topk": f"""
        WITH w AS (
            SELECT doc_id, unnest({_WS}) AS word FROM documents
        ),
        tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
               FROM w GROUP BY 1, 2),
        dfreq AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1),
        nd AS (SELECT COUNT(*) AS nd FROM documents),
        scored AS (
            SELECT doc_id, word, tf,
                   ROUND(tf * ln(nd * 1.0 / df), 4) AS tfidf
            FROM tf JOIN dfreq USING (word) CROSS JOIN nd
        )
        SELECT doc_id, word, tf, tfidf, rn FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY tfidf DESC, word) AS INT) AS rn
            FROM scored
        ) WHERE rn <= {TFIDF_TOP}
    """,
    "text_fingerprint": rf"""
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5,
               substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16)
                   AS fp64,
               -- NULL text -> NULL fingerprint (pinned by the
               -- null-injected crosscheck; Spark's fold over a NULL
               -- array is NULL, list_prepend(0, NULL) here is [0])
               CASE WHEN text IS NULL THEN NULL ELSE
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform({_WS},
                           w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT))),
                   (acc, h) -> (acc * 31 + h) % {DIGEST_PRIME}) END
                   AS fp_rolling
        FROM documents
    """,
    "text_pack_sequences": f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(lower(text), '{TOKEN_RE}'))
                        AS BIGINT) AS n_tokens
            FROM documents),
        nz AS (SELECT * FROM t WHERE n_tokens > 0),
        c AS (SELECT doc_id, n_tokens,
                     SUM(n_tokens) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tokens AS start_tok
              FROM nz)
        SELECT doc_id, n_tokens, CAST(start_tok AS BIGINT) AS start_tok,
               CAST(start_tok // {CTX_LEN} AS BIGINT) AS bin_start,
               CAST((start_tok + n_tokens - 1) // {CTX_LEN} AS BIGINT)
                   AS bin_end,
               CAST(start_tok % {CTX_LEN} AS BIGINT) AS bin_offset
        FROM c
    """,
    "text_temperature_sample": f"""
        WITH s AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src,
                   LEAST(1.0, sqrt({float(TEMP_K)} / COUNT(*))) AS p_keep
            FROM documents GROUP BY source
        )
        SELECT d.doc_id, d.source, s.n_src,
               ROUND(s.p_keep, 6) AS p_keep,
               ROUND(CAST('0x' || substr(md5('temp|' || d.doc_id::VARCHAR),
                                         1, 4) AS BIGINT) / 65536.0, 6)
                   AS bucket_frac
        FROM documents d JOIN s ON d.source = s.source
        WHERE CAST('0x' || substr(md5('temp|' || d.doc_id::VARCHAR), 1, 4)
                   AS BIGINT) / 65536.0 < s.p_keep
    """,
}

# text_importance_resample oracle: identical hashed-bucket construction —
# 'u|'/'b|'-prefixed unigram/bigram features, md5 4-hex-char buckets,
# add-1-smoothed target (lang = DSIR_TARGET_LANG) vs raw bucket LMs.
ORACLES["text_importance_resample"] = f"""
    WITH w AS (SELECT doc_id, lang, {_WS} AS ws FROM documents),
    uni AS (SELECT doc_id, lang, 'u|' || unnest(ws) AS feat FROM w),
    bi AS (SELECT doc_id, lang,
                  'b|' || unnest(list_transform(range(1, len(ws)),
                                 i -> ws[i] || ' ' || ws[i+1])) AS feat
           FROM w WHERE len(ws) >= 2),
    feats AS (SELECT doc_id, lang,
                     CAST('0x' || substr(md5(feat), 1, 4) AS BIGINT)
                         % {DSIR_BUCKETS} AS b
              FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
    bc AS (SELECT b, COUNT(*) AS cr,
                  SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                      AS ct
           FROM feats GROUP BY b),
    tot AS (SELECT COUNT(*) AS nr,
                   SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                       AS nt
            FROM feats),
    ratio AS (SELECT b,
                     ln((ct + 1) * 1.0 / (nt + {DSIR_BUCKETS}))
                   - ln((cr + 1) * 1.0 / (nr + {DSIR_BUCKETS})) AS lr
              FROM bc, tot),
    docfeat AS (SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM feats GROUP BY 1, 2, 3)
    SELECT d.doc_id, d.lang,
           ROUND(SUM(d.cnt * r.lr), 4) AS dsir_weight,
           SUM(d.cnt * r.lr) > 0 AS selected
    FROM docfeat d JOIN ratio r USING (b)
    GROUP BY 1, 2
"""

# text_perplexity_buckets oracle: same unigram scores, same
# histogram-derived per-lang tercile cutoffs, same >=-comparison
# bucketing (ties land on the upper side on both engines).
ORACLES["text_perplexity_buckets"] = f"""
    WITH w AS (SELECT doc_id, lang, unnest({_WS}) AS word FROM documents),
    tot AS (SELECT COUNT(*) AS total FROM w),
    freq AS (SELECT word, ln(COUNT(*) * 1.0 / ANY_VALUE(tot.total)) AS logp
             FROM w, tot GROUP BY word),
    doc AS (SELECT w.doc_id, ANY_VALUE(w.lang) AS lang,
                   ROUND(AVG(f.logp), 4) AS avg_logprob
            FROM w JOIN freq f USING (word) GROUP BY w.doc_id),
    hist AS (SELECT lang, avg_logprob, COUNT(*) AS c FROM doc GROUP BY 1, 2),
    cum AS (SELECT lang, avg_logprob, c,
                   SUM(c) OVER (PARTITION BY lang ORDER BY avg_logprob DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM hist),
    nl AS (SELECT lang, SUM(c) AS n_l FROM hist GROUP BY lang),
    t1 AS (SELECT lang, MAX(avg_logprob) AS t1
           FROM cum JOIN nl USING (lang)
           WHERE cum >= (n_l + 2) // 3 GROUP BY lang),
    t2 AS (SELECT lang, MAX(avg_logprob) AS t2
           FROM cum JOIN nl USING (lang)
           WHERE cum >= (2 * n_l + 2) // 3 GROUP BY lang)
    SELECT d.doc_id, d.lang, d.avg_logprob,
           CASE WHEN d.avg_logprob >= t1.t1 THEN 'head'
                WHEN d.avg_logprob >= t2.t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM doc d JOIN t1 USING (lang) JOIN t2 USING (lang)
"""

# text_ngram_counts oracle: same shingle expression (1-indexed list
# slices), occurrence counts (no DISTINCT) + distinct-doc counts,
# min-count pruning.
ORACLES["text_ngram_counts"] = f"""
    WITH w AS (SELECT doc_id,
                      string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                   'g')), ' ') AS ws
               FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(ws) - {NGRAM_N - 2}),
                        i -> list_aggregate(ws[i:i+{NGRAM_N - 1}],
                                            'string_agg', ' '))) AS ngram
          FROM w WHERE len(ws) >= {NGRAM_N})
    SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM g GROUP BY ngram
    HAVING COUNT(*) >= {NGRAM_MIN_COUNT}
"""

_BM25_TF_COLS = ", ".join(
    f"len(list_filter(ws, w -> w = '{t}')) AS tf_{i}"
    for i, t in enumerate(BM25_QUERY)
)
_BM25_DF_COLS = ", ".join(
    f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
    for i in range(len(BM25_QUERY))
)
# expression grouping mirrors the Spark column tree exactly — doubles
# must agree bit-for-bit up to libm's ln before the ROUND(…, 6)
_BM25_SCORE = " + ".join(
    f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
    f" * ((tf_{i} * {BM25_K1 + 1.0!r})"
    f" / (tf_{i} + {BM25_K1!r} * ({1.0 - BM25_B!r} + {BM25_B!r} * dl / avgdl)))"
    for i in range(len(BM25_QUERY))
)
_BM25_ANY = " + ".join(f"tf_{i}" for i in range(len(BM25_QUERY)))

ORACLES["text_bm25_topk"] = f"""
    WITH ws AS (SELECT doc_id, {_WS} AS ws FROM documents),
    d AS (SELECT doc_id, len(ws) AS dl, {_BM25_TF_COLS} FROM ws),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl,
                  {_BM25_DF_COLS}
           FROM d)
    SELECT doc_id, ROUND({_BM25_SCORE}, 6) AS bm25_score
    FROM d, st
    WHERE {_BM25_ANY} > 0
    ORDER BY bm25_score DESC, doc_id
    LIMIT {BM25_TOPK}
"""

# C35: composes the stage oracle bodies (the C25 pattern for profiling).
ORACLES["text_data_card"] = f"""
    WITH tok AS ({ORACLES["text_token_count"]}),
    qual AS ({ORACLES["text_quality_score"]}),
    rep AS ({ORACLES["text_repetition_filter"]}),
    pii AS ({ORACLES["text_pii_redact"]}),
    saf AS ({_safety_sql()}),
    md AS (SELECT doc_id,
                  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS m
           FROM documents),
    mc AS (SELECT m, COUNT(*) AS copies FROM md GROUP BY m)
    SELECT d.source, d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok.n_ws_tokens) AS BIGINT) AS total_tokens,
           ROUND(quantile_cont(tok.n_ws_tokens, 0.5), 4) AS median_tokens,
           ROUND(CAST(SUM(CAST(qual.quality AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(qual.quality), 6) AS mean_quality,
           CAST(SUM(CASE WHEN mc.copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_dup,
           CAST(SUM(CASE WHEN pii.n_email + pii.n_ipv4 + pii.n_idrun > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
           CAST(SUM(CASE WHEN rep.keep THEN 0 ELSE 1 END) AS BIGINT)
               AS n_rep_flagged,
           CAST(SUM(CASE WHEN saf.blocked THEN 1 ELSE 0 END) AS BIGINT)
               AS n_blocked_docs
    FROM documents d
    JOIN tok  ON tok.doc_id = d.doc_id
    JOIN qual ON qual.doc_id = d.doc_id
    JOIN rep  ON rep.doc_id = d.doc_id
    JOIN pii  ON pii.doc_id = d.doc_id
    JOIN saf  ON saf.doc_id = d.doc_id
    JOIN md   ON md.doc_id = d.doc_id
    JOIN mc   ON mc.m = md.m
    GROUP BY d.source, d.lang
"""

# C36: DuckDB range() excludes the stop, lists are 1-indexed inclusive
# slices — both mirrored to the Spark sequence/slice semantics.
ORACLES["text_rag_chunks"] = f"""
    WITH w AS (SELECT doc_id, {_WS} AS ws FROM documents),
    s AS (SELECT doc_id, len(ws) AS n, ws,
                 unnest(range(0, len(ws), {CHUNK_STRIDE})) AS start_tok
          FROM w WHERE len(ws) > 0)
    SELECT doc_id,
           CAST(start_tok / {CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(start_tok AS INT) AS start_tok,
           CAST(LEAST({CHUNK_LEN}, n - start_tok) AS INT) AS n_chunk_tokens,
           md5(list_aggregate(ws[start_tok + 1 : start_tok + {CHUNK_LEN}],
                              'string_agg', ' ')) AS chunk_md5
    FROM s
"""

# C41: k-gram list (1-indexed), min via list_aggregate, rightmost-tie
# via first position in the reversed slice — mirrors the Spark exprs.
_WIN_SH = (
    f"list_transform(range(1, len(ws) - {WINNOW_K - 2}), "
    f"i -> ws[i]" + "".join(f" || ' ' || ws[i+{j}]" for j in range(1, WINNOW_K))
    + ")"
)
ORACLES["text_winnowing"] = f"""
    WITH w AS (SELECT doc_id, {_WS} AS ws FROM documents),
    h AS (SELECT doc_id,
                 list_transform({_WIN_SH},
                     s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hs
          FROM w WHERE len(ws) >= {WINNOW_K}),
    st AS (SELECT doc_id, hs FROM h WHERE len(hs) >= {WINNOW_W}),
    sel AS (
        SELECT doc_id,
               unnest(list_transform(range(0, len(hs) - {WINNOW_W - 1}),
                   i -> struct_pack(
                       pos := i + {WINNOW_W}
                              - list_position(
                                    list_reverse(hs[i+1 : i+{WINNOW_W}]),
                                    list_aggregate(hs[i+1 : i+{WINNOW_W}],
                                                   'min')),
                       fp := list_aggregate(hs[i+1 : i+{WINNOW_W}], 'min')
                   ))) AS s
        FROM st)
    SELECT DISTINCT doc_id, CAST(s.pos AS INT) AS pos, s.fp AS fp FROM sel
"""


def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C52 — CONFUSION MATRIX of the C9 language classifier against the
    corpus's labeled lang column — the model-evaluation audit every
    heuristic classifier in the pipeline needs (which languages it
    confuses tells you which marker lists to grow; per-cell counts and
    per-true-lang recall are the reviewable deliverable). Reads the
    SERVED doc_signals artifact (C9's stored predictions — no scorer
    re-run, VERDICT r7 #6); one (true, predicted) aggregate; recall
    denominator via a window over the same key."""
    pred = doc_signals(spark, sf_dir).select("doc_id", "lang", "predicted")
    cells = pred.groupBy(
        F.col("lang").alias("true_lang"),
        F.col("predicted").alias("pred_lang"),
    ).agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("true_lang")
    return cells.select(
        "true_lang",
        "pred_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4).alias(
            "frac_of_true"
        ),
    )


QUERIES["text_lang_confusion"] = text_lang_confusion
ORACLES["text_lang_confusion"] = f"""
    WITH pred AS ({ORACLES["text_lang_id"]}),
    cells AS (
        SELECT lang AS true_lang, predicted AS pred_lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pred GROUP BY 1, 2
    )
    SELECT true_lang, pred_lang, n_docs,
           ROUND(n_docs * 1.0 / SUM(n_docs) OVER (PARTITION BY true_lang),
                 4) AS frac_of_true
    FROM cells
"""


DYNAMIC_ORACLES = {"text_tokenizer_fertility": _fertility_oracle}

QUERIES["text_safety_screen"] = text_safety_screen
ORACLES["text_safety_screen"] = _safety_sql()
