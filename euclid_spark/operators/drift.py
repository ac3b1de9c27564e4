"""Data-drift monitoring over the event stream (SURVEY.md §2.B59) —
the distribution-shift check every production ingest pipeline runs
before letting a new window of data into training (PSI — population
stability index, the standard monitoring statistic; public shapes:
Evidently's DataDriftPreset, TFDV's skew/drift validators).

PSI per event_type between a REFERENCE window (the first half of the
corpus's day span) and the CURRENT window (the second half):

    PSI = Σ_bins (p_cur − p_ref) · ln(p_cur / p_ref)

over B fixed-width value bins whose edges come from the reference
window's own per-type [min, max] (the convention: bin on the baseline,
clamp the current window into it).  p's are Laplace-smoothed
((cnt + 0.5) / (N + B/2)) so empty bins — the strongest drift signal —
contribute finite mass.  Bins no row landed in are not materialized:
their per-bin term is a per-type constant, folded in closed form as
(B − bins_present) · term(0, 0) — identical mass to a dense B-bin
grid, without the grid.

Determinism: bin assignment is a shared double operation sequence
(identical IEEE ops in both engines — the B57 rule); each bin's PSI
term is ROUND(·, 9) then DECIMAL-accumulated so the B-term sum is
order-independent (the libm-ln precedent of the B48 linear-counting
estimate); the final PSI is ROUND(·, 6).  Hash-checked end to end.

Scale shape (the r13 plan lesson: a first draft that re-referenced a
shared events subframe planned TWENTY scans — every DataFrame re-use
re-expands its lineage): the split day comes from PARQUET FOOTER
STATISTICS (O(row groups) metadata, never a data scan — the stat_min_max
discipline), the reference bounds are ONE scan whose ts < split
predicate PUSHES DOWN to the parquet reader (row-group / partition
pruning: at 100 TB the baseline window is usually a thin recent
slice), and the binning is ONE more scan into a groupBy on
(event_type, bin) — ≤ types × B groups whatever the row count.  The
per-type totals ride a window PARTITIONED BY event_type over that
bounded aggregate.  Exactly TWO data scans for the WIDTH face (the
edges='quantile' face folds to ONE — see _quantile_perbin's scale-shape
note), no keyless window, no SinglePartition exchange (plan-asserted in
tests/test_drift.py).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from euclid_spark import cache, catalog

PSI_BINS = 16
PSI_ALERT = 0.1  # the conventional "moderate shift, investigate" bar


def _event_day_span(spark: SparkSession, sf_dir: str):
    """[min, max] event day from parquet FOOTER statistics (nulls are
    excluded from parquet min/max by spec, matching the oracle's
    ts IS NOT NULL). Falls back to a one-row Spark fold if any footer
    lacks ts stats (same value either way)."""
    path = f"{sf_dir}/events.parquet"

    def _from_footers():
        import pyarrow.parquet as pq

        from euclid_spark.artifacts import data_files

        files = data_files(path)
        lo = hi = None
        for p in files:
            md = pq.ParquetFile(p).metadata
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                for j in range(rg.num_columns):
                    c = rg.column(j)
                    if c.path_in_schema != "ts":
                        continue
                    st = c.statistics
                    if st is None or not st.has_min_max:
                        return None, None  # any statless group: fall back
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
        return lo, hi

    try:
        lo, hi = _from_footers()
    except Exception:  # noqa: BLE001 — non-local sf_dir (s3://, hdfs://):
        # the driver-local glob/pyarrow path can't list or open it;
        # every other face goes through the Spark reader only, so this
        # one falls back to the same one-row Spark fold (ADVICE r13)
        lo = hi = None
    if lo is None or hi is None:  # footer without stats: one bounded fold
        row = (
            spark.read.parquet(path)
            .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
            .collect()[0]
        )
        lo, hi = row["lo"], row["hi"]
    if lo is None:
        return None, None
    if isinstance(lo, _dt.datetime):
        lo, hi = lo.date(), hi.date()
    return lo, hi


def _psi_from_perbin(
    perbin: DataFrame, bins: int, alert: float
) -> DataFrame:
    """The shared PSI tail over a bounded (event_type, bin,
    cnt_ref, cnt_cur) aggregate — Laplace smoothing, ROUND(·,9)
    decimal-accumulated per-bin terms, the absent-bin closed form, one
    type-partitioned window. Both binning strategies (fixed-width,
    reference-quantile) feed this identical arithmetic."""
    w = Window.partitionBy("event_type")
    half_b = float(bins) / 2.0
    with_tot = perbin.select(
        "*",
        F.sum("cnt_ref").over(w).alias("n_ref"),
        F.sum("cnt_cur").over(w).alias("n_cur"),
    )

    def _term(cr, cc):
        pr = (cr + F.lit(0.5)) / (F.col("n_ref") + F.lit(half_b))
        pc = (cc + F.lit(0.5)) / (F.col("n_cur") + F.lit(half_b))
        return F.round((pc - pr) * F.log(pc / pr), 9).cast("decimal(38,9)")

    terms = with_tot.select(
        "event_type",
        "n_ref",
        "n_cur",
        _term(F.col("cnt_ref"), F.col("cnt_cur")).alias("term"),
        # the closed-form per-type constant every ABSENT bin contributes
        _term(F.lit(0).cast("long"), F.lit(0).cast("long")).alias("term0"),
    )
    # the absent-bin product runs at pinned width: decimal(38,9) × a
    # bare bigint would overflow precision 38 and silently DROP SCALE
    # (Spark's allowPrecisionLoss) — a real 1e-6 drift caught by the
    # oracle on first run
    absent = (F.lit(bins) - F.count(F.lit(1))).cast("decimal(4,0)")
    psi = F.round(
        (
            F.sum("term")
            + absent * F.first("term0").cast("decimal(20,9)")
        ).cast("double"),
        6,
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.first("n_ref").alias("n_ref"),
            F.first("n_cur").alias("n_cur"),
            psi.alias("psi"),
        )
        .filter(F.col("n_ref") > 0)  # no baseline window → no PSI
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            "psi",
            (F.col("psi") > F.lit(alert)).alias("drifted"),
        )
    )


def data_drift_psi(
    spark: SparkSession,
    sf_dir: str,
    split_day: "str | _dt.date | None" = None,
    bins: int = PSI_BINS,
    alert: float = PSI_ALERT,
    edges: str = "width",
) -> DataFrame:
    """B59 — per-event_type PSI between the corpus's two half-windows.
    Emits (event_type, n_ref, n_cur, psi, drifted); types with no
    reference-window rows are skipped (PSI needs a baseline).

    Parameterized (the §4 discipline — the gate face is the pinned
    default instantiation, property-tested equal in tests/test_drift.py):
    `split_day` sets the reference/current boundary explicitly (ISO
    string or date; default = the corpus day-span midpoint from footer
    stats), `bins` the bin count, `alert` the drifted threshold,
    `edges` the binning strategy — 'width' (fixed-width bins over the
    reference [min,max]: the pinned default) or 'quantile' (bins on
    reference quantile edges — PSI practice for outlier-heavy
    measures: ONE extreme reference value flattens every populated
    fixed-width bin into one, while quantile edges keep ~equal
    reference mass per bin; r14, VERDICT r13 #7; see
    data_drift_psi_quantile for the mechanism).

    Cache ownership note (ADVICE r15): edges='quantile' registers ONE
    small persisted aggregate (≤ types × 2 × ~1100 rows) via
    cache.persist_tracked; the caller that owns the terminal action
    must call cache.release_all() afterwards (bench loop and test
    fixtures already do) — a long-lived external caller that never
    releases accumulates one bounded cached frame per call."""
    if edges not in ("width", "quantile"):
        raise ValueError(f"edges must be width|quantile, got {edges!r}")
    if split_day is None:
        d0, d1 = _event_day_span(spark, sf_dir)
        if d0 is None:  # empty corpus: no types, stable schema
            split = _dt.date(1970, 1, 1)
        else:
            split = d0 + _dt.timedelta(days=(d1 - d0).days // 2)
    else:
        split = (
            _dt.date.fromisoformat(split_day)
            if isinstance(split_day, str)
            else split_day
        )
    split_lit = F.to_date(F.lit(split.isoformat()))

    # scan 2's source: row-local day/type/value projection (built once;
    # the binning strategies differ only in how `bin` is derived)
    ev = (
        catalog.load_events(spark, sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(F.to_date("ts").alias("day"), "event_type", "value")
    )
    is_ref = F.col("day") < split_lit

    if edges == "quantile":
        perbin = _quantile_perbin(ev, is_ref, bins)
    else:
        # scan 1: per-type reference bounds — the ts < split predicate
        # is applied on the STORED column (load_events), so it reaches
        # the parquet reader as a pushed filter
        bounds = (
            catalog.load_events(spark, sf_dir, t_max=split.isoformat())
            .filter(F.col("value").isNotNull())
            .groupBy("event_type")
            .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
            .withColumn(
                "width",
                F.when(
                    F.col("vmax") > F.col("vmin"),
                    (F.col("vmax") - F.col("vmin")) / F.lit(float(bins)),
                ).otherwise(F.lit(1.0)),
            )
        )
        # scan 2: row-local bin assignment, bounded (type, bin) groups
        # with the ref/cur split folded as conditional counts — one
        # aggregate, no side dimension, no per-side re-reference
        bin_col = F.least(
            F.lit(bins - 1).cast("long"),
            F.greatest(
                F.lit(0).cast("long"),
                F.floor((F.col("value") - F.col("vmin")) / F.col("width")),
            ),
        )
        perbin = (
            ev.join(F.broadcast(bounds), "event_type")
            .select(
                "event_type", bin_col.alias("bin"), is_ref.alias("is_ref")
            )
            .groupBy("event_type", "bin")
            .agg(
                F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias(
                    "cnt_ref"
                ),
                F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias(
                    "cnt_cur"
                ),
            )
        )

    return _psi_from_perbin(perbin, bins, alert)


# --- quantile-edge binning (r14, VERDICT r13 #7) ---------------------------

# bucket-key packing: key = nbits·64 + sub (sub < 32 in the exact
# range, < 16 in the log range) — one comparable long per HDR bucket,
# ordered exactly as the bucket lower bounds. Key 0 is the reserved
# UNDERFLOW bucket for fixed-point values < 1 (zeros and negatives):
# the width face bins every non-null value, so the quantile face must
# cover the same domain (the D32 tile store's v ≥ 1 filter is the
# documented population gap this bucket closes for the batch face).
_KEY_STRIDE = 64


def _with_hdr_key(
    df: DataFrame, col: str, keep: "list[tuple[str, F.Column]]"
) -> DataFrame:
    """(*keep, key): the B47 HDR bucket key of floor(`col`·100) as ONE
    comparable long — pure integer arithmetic after one shared IEEE
    multiply+floor. r15: bit length via the unrolled integer binary
    search (quantile_sketch's staged chain, proven value-identical to
    length(conv(v, 10, 2)) for v ≥ 1 over every power-of-two boundary),
    replacing the decimal-string + binary-string format the conv route
    paid PER ROW on both full-corpus scans of the quantile face. The
    oracle keeps LENGTH(printf('%b', v)) so the cross-engine gate still
    compares independent formulations. Underflow guard first (key 0 for
    v < 1 — zeros and negatives): the staged nbits is garbage there
    (sign-extending shifts) but unreachable through the CASE."""
    from euclid_spark.operators.quantile_sketch import SUB_BITS

    lo, mask = 1 << (SUB_BITS + 1), (1 << SUB_BITS) - 1
    staged = (
        df.select(
            *[c.alias(n) for n, c in keep],
            F.expr(f"CAST(FLOOR({col} * 100) AS BIGINT)").alias("_v"),
        )
        .withColumn("_w32", F.expr("IF(shiftright(_v, 32) > 0, 32, 0)"))
        .withColumn("_r1", F.expr("shiftright(_v, _w32)"))
        .withColumn("_w16", F.expr("IF(shiftright(_r1, 16) > 0, 16, 0)"))
        .withColumn("_r2", F.expr("shiftright(_r1, _w16)"))
        .withColumn("_w8", F.expr("IF(shiftright(_r2, 8) > 0, 8, 0)"))
        .withColumn("_r3", F.expr("shiftright(_r2, _w8)"))
        .withColumn("_w4", F.expr("IF(shiftright(_r3, 4) > 0, 4, 0)"))
        .withColumn("_r4", F.expr("shiftright(_r3, _w4)"))
        .withColumn("_w2", F.expr("IF(shiftright(_r4, 2) > 0, 2, 0)"))
        .withColumn("_r5", F.expr("shiftright(_r4, _w2)"))
        .withColumn(
            "_nbits",
            F.expr("_w32 + _w16 + _w8 + _w4 + _w2 + IF(_r5 > 1, 1, 0) + 1"),
        )
    )
    key = F.expr(
        f"CAST(CASE WHEN _v < 1 THEN 0"
        f" WHEN _v < {lo} THEN {SUB_BITS + 1} * {_KEY_STRIDE} + _v"
        f" ELSE _nbits * {_KEY_STRIDE}"
        f" + (shiftright(_v, CAST(_nbits - {SUB_BITS + 1} AS INT)) & {mask})"
        f" END AS BIGINT)"
    )
    return staged.select(*[n for n, _ in keep], key.alias("key"))


def _quantile_perbin(
    ev: DataFrame, is_ref: F.Column, bins: int
) -> DataFrame:
    """(event_type, bin, cnt_ref, cnt_cur) under REFERENCE-QUANTILE
    edges: every value lands in a B47 HDR integer bucket (bounded,
    deterministic, mergeable — the same sketch the D32 tile store
    maintains per day, so a deployment reads this off served tiles
    instead of the scan), the REFERENCE slice of the bucket histogram's
    cumulative masses cuts B ~equal-mass bins (bin of a bucket =
    ⌊cum_before·B/n⌋, capped), and bins are assigned PER BUCKET through
    the ≤ B−1 edge keys (broadcast as one sorted array per type; the
    fold runs over ~1100 bucket rows per type, not corpus rows).
    Bucket-granularity edges mean ties collapse honestly: a bucket
    never splits across bins, so heavily-repeated values stay in one
    bin on both engines.

    Scale shape (r15, was two corpus scans): ONE corpus scan folds to
    the ≤ types × 2 × ~1100-row (event_type, is_ref, key) aggregate,
    persisted; the reference slice of that aggregate IS the old
    pushed-filter ref sketch (`ts < split` ≡ `to_date(ts) < split` on
    non-null ts — bit-identical counts, re-proven hash-green), the
    cumulative/edge windows run PARTITIONED BY event_type over it, and
    the bin map regroups the same bounded rows — cnt_ref/cnt_cur are
    sums of per-bucket counts, exactly the row counts the per-row pass
    produced. Everything after the one scan is index-sized."""
    keyed = _with_hdr_key(
        ev, "value", [("event_type", F.col("event_type")), ("is_ref", is_ref)]
    )
    perkey = cache.persist_tracked(
        keyed.groupBy("event_type", "is_ref", "key").agg(
            F.count(F.lit(1)).alias("cnt")
        )
    )
    ref_sketch = perkey.filter(F.col("is_ref")).select(
        "event_type", "key", "cnt"
    )
    wk = (
        Window.partitionBy("event_type")
        .orderBy("key")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wt = Window.partitionBy("event_type")
    # bin of a bucket = min(B−1, (cum_before · B) div n): integer `div`
    # on both engines — nonnegative operands, so trunc ≡ floor and the
    # edge set is exact, never a double-rounding artifact
    binned = (
        ref_sketch.select(
            "event_type",
            "key",
            F.coalesce(F.sum("cnt").over(wk), F.lit(0)).alias("cb"),
            F.sum("cnt").over(wt).alias("n"),
        )
        .select(
            "event_type",
            "key",
            F.least(
                F.lit(bins - 1).cast("long"), F.expr(f"cb * {bins} div n")
            ).alias("qbin"),
        )
    )
    edges = (
        binned.filter(F.col("qbin") >= 1)
        .groupBy("event_type", "qbin")
        .agg(F.min("key").alias("ekey"))
        .groupBy("event_type")
        .agg(F.sort_array(F.collect_list("ekey")).alias("edges"))
    )
    bin_col = F.size(
        F.filter(
            F.coalesce(F.col("edges"), F.expr("array()")),
            lambda e: e <= F.col("key"),
        )
    ).cast("long")
    return (
        perkey.join(F.broadcast(edges), "event_type", "left")
        .select("event_type", bin_col.alias("bin"), "is_ref", "cnt")
        .groupBy("event_type", "bin")
        .agg(
            F.sum(F.when(F.col("is_ref"), F.col("cnt")).otherwise(0)).alias(
                "cnt_ref"
            ),
            F.sum(F.when(F.col("is_ref"), 0).otherwise(F.col("cnt"))).alias(
                "cnt_cur"
            ),
        )
    )


def data_drift_psi_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B59b — the quantile-edge PSI face (the pinned default
    instantiation of data_drift_psi(edges='quantile'))."""
    return data_drift_psi(spark, sf_dir, edges="quantile")


QUERIES = {
    "rel_data_drift_psi": data_drift_psi,
    "rel_data_drift_psi_quantile": data_drift_psi_quantile,
}


def _psi_tail_sql() -> str:
    """The shared PSI-tail CTEs over a `perbin` CTE — the oracle mirror
    of _psi_from_perbin (smoothing, ROUND(·,9) decimal terms,
    absent-bin closed form)."""
    return f"""
        with_tot AS (
            SELECT *,
                   SUM(cnt_ref) OVER (PARTITION BY event_type) AS n_ref,
                   SUM(cnt_cur) OVER (PARTITION BY event_type) AS n_cur
            FROM perbin
        ),
        terms AS (
            SELECT event_type, n_ref, n_cur,
                   CAST(ROUND(
                       ((cnt_cur + 0.5) / (n_cur + {PSI_BINS / 2.0})
                        - (cnt_ref + 0.5) / (n_ref + {PSI_BINS / 2.0}))
                       * ln(((cnt_cur + 0.5) / (n_cur + {PSI_BINS / 2.0}))
                            / ((cnt_ref + 0.5) / (n_ref + {PSI_BINS / 2.0}))),
                       9) AS DECIMAL(38,9)) AS term,
                   CAST(ROUND(
                       ((0 + 0.5) / (n_cur + {PSI_BINS / 2.0})
                        - (0 + 0.5) / (n_ref + {PSI_BINS / 2.0}))
                       * ln(((0 + 0.5) / (n_cur + {PSI_BINS / 2.0}))
                            / ((0 + 0.5) / (n_ref + {PSI_BINS / 2.0}))),
                       9) AS DECIMAL(38,9)) AS term0
            FROM with_tot
        ),
        agg AS (
            SELECT event_type,
                   MIN(n_ref) AS n_ref, MIN(n_cur) AS n_cur,
                   ROUND(CAST(SUM(term)
                         + CAST({PSI_BINS} - COUNT(*) AS DECIMAL(4,0))
                           * CAST(MIN(term0) AS DECIMAL(20,9))
                         AS DOUBLE), 6) AS psi
            FROM terms GROUP BY 1
        )
        SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref,
               CAST(n_cur AS BIGINT) AS n_cur, psi,
               psi > {PSI_ALERT} AS drifted
        FROM agg WHERE n_ref > 0
    """


_SP_CTE = """
        sp AS (
            SELECT CAST(MIN(ts) AS DATE)
                   + CAST((CAST(MAX(ts) AS DATE) - CAST(MIN(ts) AS DATE)) // 2
                          AS INTEGER) AS split_day
            FROM events WHERE ts IS NOT NULL
        ),
        ev AS (
            SELECT CAST(ts AS DATE) AS day, event_type, value
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        )"""


def _hdr_key_sql(v: str) -> str:
    """DuckDB mirror of _hdr_key: LENGTH(printf('%b', v)) ≡ Spark's
    length(conv(v, 10, 2)) for positive v; key 0 = underflow."""
    from euclid_spark.operators.quantile_sketch import SUB_BITS

    lo, mask = 1 << (SUB_BITS + 1), (1 << SUB_BITS) - 1
    nbits = f"LENGTH(printf('%b', {v}))"
    return (
        f"CAST(CASE WHEN {v} < 1 THEN 0"
        f" WHEN {v} < {lo} THEN {SUB_BITS + 1} * {_KEY_STRIDE} + {v}"
        f" ELSE {nbits} * {_KEY_STRIDE}"
        f" + (({v} >> ({nbits} - {SUB_BITS + 1})) & {mask})"
        f" END AS BIGINT)"
    )


ORACLES = {
    "rel_data_drift_psi": f"""
        WITH {_SP_CTE},
        bounds AS (
            SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax,
                   CASE WHEN MAX(value) > MIN(value)
                        THEN (MAX(value) - MIN(value)) / {float(PSI_BINS)}
                        ELSE 1.0 END AS width
            FROM ev, sp WHERE day < split_day GROUP BY event_type
        ),
        perbin AS (
            SELECT e.event_type,
                   LEAST({PSI_BINS - 1}, GREATEST(0,
                       CAST(FLOOR((e.value - b.vmin) / b.width) AS BIGINT)
                   )) AS bin,
                   SUM(CASE WHEN e.day < sp.split_day THEN 1 ELSE 0 END)
                       AS cnt_ref,
                   SUM(CASE WHEN e.day < sp.split_day THEN 0 ELSE 1 END)
                       AS cnt_cur
            FROM ev e JOIN bounds b USING (event_type), sp
            GROUP BY 1, 2
        ),
        {_psi_tail_sql()}
    """,
    "rel_data_drift_psi_quantile": f"""
        WITH {_SP_CTE},
        keyed AS (
            SELECT event_type, day,
                   {_hdr_key_sql("CAST(FLOOR(value * 100) AS BIGINT)")} AS key
            FROM ev
        ),
        refk AS (
            SELECT k.event_type, k.key, COUNT(*) AS cnt
            FROM keyed k, sp WHERE k.day < sp.split_day GROUP BY 1, 2
        ),
        binned AS (
            SELECT event_type, key,
                   LEAST({PSI_BINS - 1},
                       (COALESCE(SUM(cnt) OVER (
                            PARTITION BY event_type ORDER BY key
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) * {PSI_BINS})
                       // SUM(cnt) OVER (PARTITION BY event_type)
                   ) AS qbin
            FROM refk
        ),
        edges AS (
            SELECT event_type, list_sort(list(ekey)) AS edges
            FROM (SELECT event_type, qbin, MIN(key) AS ekey
                  FROM binned WHERE qbin >= 1 GROUP BY 1, 2)
            GROUP BY event_type
        ),
        rows_b AS (
            SELECT k.event_type,
                   CAST(len(list_filter(COALESCE(e.edges, []),
                                        x -> x <= k.key)) AS BIGINT) AS bin,
                   k.day < sp.split_day AS is_ref
            FROM keyed k LEFT JOIN edges e USING (event_type), sp
        ),
        perbin AS (
            SELECT event_type, bin,
                   SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS cnt_ref,
                   SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cnt_cur
            FROM rows_b GROUP BY 1, 2
        ),
        {_psi_tail_sql()}
    """,
}
