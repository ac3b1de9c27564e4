"""Core relational engine coverage (SURVEY.md §2.B).

TPC-H-shaped queries plus the remaining OLAP operator surface (semi/anti
join, windows, rollup, pivot, JSON, as-of join, sessionization, set ops,
explode). The reference's query engine only aggregates over tree-indexed
block ranges; a user replacing it with this engine gets the full
relational algebra these queries exercise.

Plan-shape rules applied throughout:
- filters & projections directly on scans (pushdown / pruning),
- `broadcast()` only for dimensions that stay small at 100 TB
  (region/nation — customer-sized tables go through shuffle joins AQE can
  re-plan),
- top-N always ORDER BY + LIMIT (TakeOrderedAndProject, no global sort),
- doubles rounded at the boundary so the DuckDB oracle hashes match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from euclid_spark import artifacts
from euclid_spark.catalog import load_events


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    from euclid_spark.catalog import cached_parquet

    return cached_parquet(spark, f"{sf_dir}/{name}.parquet")


# --- B1: TPC-H Q1 pricing summary -------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --- B2: TPC-H Q3 shipping priority ------------------------------------------

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("orderdate"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# --- B3: TPC-H Q5 local supplier volume --------------------------------------

def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# --- B4: TPC-H Q6 forecast revenue -------------------------------------------

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


# --- B5: TPC-H Q10 returned items --------------------------------------------

def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --- B6: TPC-H Q14 promo effect ----------------------------------------------

def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4).alias(
                "promo_revenue_pct"
            ),
            F.count("*").alias("n_items"),
        )
    )


# --- B7: TPC-H Q18 large-volume customers ------------------------------------

def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 — agg-subquery → semi join → agg, with RUNTIME SEMI-JOIN
    PUSHDOWN on the orders probe side (operators/runtime_filters.py):
    Spark's own InjectRuntimeFilter never fires here (the build side is
    an aggregate, not a filter-over-scan), so the filter is explicit —
    qualifying orderkeys are ~1e-5 of orders at scale, so pruning
    orders BEFORE its joins keeps non-matching rows out of every
    downstream exchange. Exact (not bloom: the qualifying-key set is
    broadcast-sized by Q18's selectivity; `rel_bloom_join_prune` is the
    beyond-broadcast variant). Single action: ReuseExchange shares the
    lineitem aggregation between the semi side and the final join, so
    no persist/count jobs are needed."""
    from euclid_spark.operators.runtime_filters import semi_prune

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    orders = semi_prune(orders, "o_orderkey", big, "l_orderkey")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("orderdate"),
            "o_totalprice",
            F.round("sum_qty", 2).alias("sum_qty"),
        )
    )


# --- B19: TPC-H Q7 volume shipping between two nations ------------------------

NATION_A, NATION_B = "NATION_1", "NATION_2"


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-nation vs customer-nation trade volume per year: the
    dual-dimension join — the same small nation table joins twice under
    different roles, both broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == NATION_A) & (F.col("cust_nation") == NATION_B)
    ) | ((F.col("supp_nation") == NATION_B) & (F.col("cust_nation") == NATION_A))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# --- B20: event funnel ---------------------------------------------------------

def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup → first later purchase per user; two hash aggregates and a
    broadcast-sized join of per-user firsts (no window over raw events)."""
    ev = _t(spark, sf_dir, "events")
    first_signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("event_id").alias("first_signup"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id")
    )
    first_after = (
        purchases.join(first_signup, "user_id")
        .filter(F.col("p_id") > F.col("first_signup"))
        .groupBy("user_id")
        .agg(F.min("p_id").alias("first_purchase_after"))
    )
    return (
        first_signup.join(first_after, "user_id", "left")
        .select(
            "user_id",
            "first_signup",
            "first_purchase_after",
            F.col("first_purchase_after").isNotNull().alias("converted"),
        )
    )


# --- B23: TPC-H Q8 market share -------------------------------------------------

SHARE_NATION = "NATION_3"
SHARE_REGION = "ASIA"


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market share of one supplier nation inside a region per year —
    conditional-fraction aggregation over a snowflake join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n_cust = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_supp = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == SHARE_REGION)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    national = F.when(F.col("supp_nation") == SHARE_NATION, rev).otherwise(F.lit(0.0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(F.sum(national) / F.sum(rev), 6).alias("mkt_share"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
    )


# --- B24: TPC-H Q13 customer order-count distribution ---------------------------

def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of order counts per customer (left join so customers
    with zero orders count too) — the two-level aggregation shape."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --- B25: exact percentiles -----------------------------------------------------

def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median/p90 per group (`percentile`, linear interpolation —
    same semantics as DuckDB quantile_cont). The exact variant
    complements the sketch-based rel_approx_agg: exact needs a per-group
    sort, approx is mergeable — at 100 TB pick per use-case."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        F.count("*").alias("n"),
    )


# --- B21: histogram ------------------------------------------------------------

def histogram_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event values via width_bucket — a single
    hash aggregate, the scan-friendly profiling primitive."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.width_bucket(F.col("value"), F.lit(0.0), F.lit(200.0), F.lit(20))
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 2).alias("lo"),
        F.round(F.max("value"), 2).alias("hi"),
    )


# --- B22: correlated-subquery shape --------------------------------------------

def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders priced above their customer's average — the correlated
    scalar-subquery pattern, decorrelated into an aggregate + self-join
    (what Catalyst's subquery decorrelation produces).

    The threshold test runs in exact integer cents (price·n > Σcents):
    a float average lands exactly on round-off boundaries for 2-decimal
    money values, where cross-engine ulp differences flip strict
    comparisons — integer arithmetic makes the predicate deterministic."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    avgs = (
        orders.select(F.col("o_custkey").alias("ck"), cents.alias("cents"))
        .groupBy("ck")
        .agg(F.sum("cents").alias("sum_cents"), F.count("*").alias("n"))
    )
    return (
        orders.withColumn("cents", cents)
        .join(avgs, orders.o_custkey == avgs.ck)
        .filter(F.col("cents") * F.col("n") > F.col("sum_cents"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.round(F.col("sum_cents") / (F.lit(100.0) * F.col("n")), 6).alias(
                "cust_avg"
            ),
        )
    )


# --- B8: semi / anti join -----------------------------------------------------

def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no urgent order — left_anti is Catalyst's NOT
    EXISTS; the filter lands on the build side before the join."""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# --- B9: window top-N per group ----------------------------------------------

def window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rn")
    )


# --- B10: window running aggregate -------------------------------------------

def window_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    wr = w.rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.round(F.sum("value").over(wr), 2).alias("running_value"),
        F.lag("event_id").over(w).alias("prev_event"),
    )


RANGE_WINDOW_US = 3_600_000_000  # trailing 1 hour, in microseconds


def window_time_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B41 — time-RANGE window frame (vs B14's ROWS frame): per user,
    each event's trailing-1-hour activity (count + value sum). RANGE
    frames bound the window by the ORDER value, not row offsets — ties
    are peers and sparse/bursty streams get their true time horizon,
    which a ROWS frame cannot express. Ordered on epoch MICROSECONDS
    (integer) so the frame bound is exact and engine-agnostic; the
    frame CONTENT is a set, so the aggregate is order-independent
    (float sum rounded, as everywhere)."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-RANGE_WINDOW_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.count("*").over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 2).alias("sum_1h"),
    )


# --- B11: rollup --------------------------------------------------------------

def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B40 — CUBE over (region, market segment): all four grouping
    combinations in ONE pass (Spark expands grouping sets inside the
    aggregate — the input is scanned once and each row feeds every set,
    vs four scans for a UNION ALL of GROUP BYs). GROUPING() ids
    disambiguate real NULLs from subtotal rows, as the SQL spec
    prescribes."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    j = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return j.cube("r_name", "c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        F.grouping("r_name").cast("int").alias("g_region"),
        F.grouping("c_mktsegment").cast("int").alias("g_segment"),
    )


def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    j = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return j.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
    )


# --- B12: pivot ----------------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES],
    )


# --- B13: JSON extraction -------------------------------------------------------

def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.count("*").alias("n_events"),
    )


# --- B14: approximate aggregates (rows-only: engine-specific sketches) ----------

def approx_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("median_price"),
        F.count("*").alias("n"),
    )


# --- B15: as-of join ------------------------------------------------------------

def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each error event, the most recent prior purchase of the same
    user. Spark has no native as-of join; expressed as a single sorted
    window pass (last purchase id carried forward) — one shuffle on
    user_id, no self-join, no `merge_asof` UDF needed."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior_purchase = F.last(
        F.when(F.col("event_type") == "purchase", F.col("event_id")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("asof_purchase", prior_purchase)
        .filter(F.col("event_type") == "error")
        .select("event_id", "user_id", "asof_purchase")
    )


# --- B16: sessionization ---------------------------------------------------------

SESSION_GAP_US = 30 * 60 * 1_000_000


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative sum
    of session-start flags. Batch analog of streaming session_window."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    us = F.unix_micros(F.col("ts"))
    prev_us = F.lag(us).over(w)
    new_sess = F.when(
        prev_us.isNull() | ((us - prev_us) > SESSION_GAP_US), F.lit(1)
    ).otherwise(F.lit(0))
    sess_id = F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ev.withColumn("session_id", sess_id)
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )


# --- B17: set operations ----------------------------------------------------------

def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    u = lambda t: (  # noqa: E731
        ev.filter(F.col("event_type") == t)
        .select("user_id", F.to_date("ts").alias("day"))
    )
    return u("purchase").intersect(u("view")).exceptAll(u("error").distinct())


# --- B18: explode / unnest ----------------------------------------------------------

def exploded_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from euclid_spark.functions.text import words

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(words("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(20)
    )


# --- D16: runtime bloom filter on the lineitem⋈orders fact join --------------

BLOOM_PRICE_CUT = 490_000.0  # ~top 1-2% of orders — the selective build side


def bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D16 — RUNTIME BLOOM FILTER on the canonical fact⋈filtered-dim
    shape (operators/runtime_filters.py): the build side (orders above a
    price cut, ~1% selective) sets a dense bitmap; the probe side —
    lineitem, the 100 TB fact — is pruned by k inline O(1) bit tests
    BEFORE its join shuffle, so ~99% of fact rows never enter the
    exchange. The inner join afterwards removes bloom false positives,
    making the result exact and oracle-checkable. This is the
    beyond-broadcast regime: when the build keys outgrow a broadcast
    list, the bitmap stays m/8 bytes (vs `semi_prune` in tpch_q18,
    the broadcast-sized exact regime)."""
    from euclid_spark.operators.runtime_filters import bloom_build, bloom_prune

    li = _t(spark, sf_dir, "lineitem")
    sel = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > BLOOM_PRICE_CUT)
    pruned = bloom_prune(li, "l_orderkey", bloom_build(sel, "o_orderkey"))
    return (
        pruned.join(sel, pruned.l_orderkey == sel.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# --- B26-B32: the remaining TPC-H query shapes -------------------------------
# The testdata schema is TPC-H-ish but reduced (no partsupp table; lineitem
# has no commitdate/receiptdate/shipmode; customer has no phone). Queries
# whose predicates touch missing columns are adapted on documented
# stand-ins that preserve the OPERATOR SHAPE the original exercises —
# that shape (decorrelated subquery, disjunctive join predicate,
# multi-way EXISTS) is what the engine must support at 100 TB.

def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join + per-priority count. Stand-in
    for the missing l_commitdate < l_receiptdate: a lineitem shipped
    AFTER its order date + 90 days (a "late" line). Plan: lineitem is
    filtered then semi-joins orders — no fact-side aggregation state."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    late = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90))
    return (
        orders.join(
            late.select("l_orderkey").distinct(),
            orders.o_orderkey == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q12_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + dual conditional count per class.
    l_returnflag stands in for the missing l_shipmode; the "late
    delivery" predicate is shipdate > orderdate + 60 days. One join,
    map-side-combinable CASE sums."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: revenue view per supplier over a quarter, then the
    supplier(s) whose revenue equals the global max — a scalar subquery
    against an aggregated view. The view is PERSISTED (supplier-sized,
    not fact-sized) because both its consumers — the one-row max and
    the equality join — would otherwise each re-scan lineitem: exchange
    reuse does not fire across an aggregate boundary. The one-row max
    is broadcast into the per-supplier frame."""
    from euclid_spark.cache import persist_tracked

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = persist_tracked(
        li.groupBy("l_suppkey").agg(
            # DECIMAL accumulation (ADVICE r4): the argmax below compares
            # ROUND(total, 2) for EQUALITY with the max — a float sum's
            # accumulation-order noise at a cent boundary could change
            # which suppliers tie. Exact decimal sums make the rounded
            # total (and so the argmax set) order-independent, the same
            # hazard range_join_bucketed already fixes.
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(24,8)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    sup = _t(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(sup, F.col("l_suppkey") == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: correlated AVG subquery per part — yearly revenue
    lost to small orders. Brand + type filters stand in for brand +
    container. Decorrelated as an UNBOUNDED WINDOW avg over l_partkey:
    one scan of the (part-pruned) fact and one shuffle, where the
    aggregate-then-self-join form scans lineitem twice (Spark's
    exchange reuse does not fire across an aggregate boundary —
    verified on the executed plan)."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_type") == "PROMO")
    )
    li = _t(spark, sf_dir, "lineitem")
    li_of_part = li.join(
        F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey")
    )
    qty_cut = 0.2 * F.avg("l_quantity").over(Window.partitionBy("l_partkey"))
    return (
        li_of_part.withColumn("qty_cut", qty_cut)
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


def q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: a join whose predicate is a DISJUNCTION of three
    brand/size/quantity conjunct groups — the optimizer must extract the
    common equi-key (partkey) and evaluate the residual OR post-join
    rather than falling back to a nested-loop cross product."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    arm1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 11))
    )
    arm2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(1, 25))
        & (F.col("l_quantity").between(10, 20))
    )
    arm3 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size").between(1, 35))
        & (F.col("l_quantity").between(20, 30))
    )
    return j.filter(arm1 | arm2 | arm3).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue"),
        F.count("*").alias("n_lines"),
    )


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers whose line was the ONLY late one on a
    multi-supplier order. "Late" = shipped > 60 days after the order
    date (commit/receipt stand-in, as in q4/q12).

    The textbook EXISTS + NOT EXISTS pair is two more passes over the
    same fact (the pre-r15 shape: semi + anti join, three lineitem
    scans). Both quantifiers are per-order supplier statistics, so ONE
    two-level aggregate answers them: per (order, supplier) count the
    late lines, then per order count the suppliers and the late
    suppliers — a row qualifies iff n_supp >= 2 (EXISTS another
    supplier) and n_late_supp = 1 (NOT EXISTS another late one), and
    the lone late supplier's late-line count is exactly the number of
    l1 rows the quantifier pair used to keep. ONE fact scan instead of
    three; the quantifier joins' shuffles become two map-side-combined
    aggregate exchanges over 3-column rows — and when the upstream
    orders join runs as a sort-merge join at scale (hashpartitioned on
    l_orderkey), both groupings are already co-partitioned (grouping
    keys ⊇ partition key) and neither aggregate exchanges at all.

    Null semantics replay the quantifiers exactly: a NULL-suppkey line
    never witnesses EXISTS, never blocks NOT EXISTS, and never itself
    qualifies (the `<>` correlation evaluates to NULL in all three
    roles), so both per-order counters count NON-NULL suppliers only
    and the lone-supplier extraction skips the NULL group."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem").join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    late = F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(late, 1).otherwise(0)).alias("n_late_lines")
    )
    supp_ok = F.col("l_suppkey").isNotNull()
    is_late = supp_ok & (F.col("n_late_lines") > 0)
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.when(supp_ok, 1)).alias("n_supp"),
        F.count(F.when(is_late, 1)).alias("n_late_supp"),
        F.max(F.when(is_late, F.col("l_suppkey"))).alias("lone_suppkey"),
        F.max(F.when(is_late, F.col("n_late_lines"))).alias("lone_late_lines"),
    )
    waiting = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
    )
    sup = _t(spark, sf_dir, "supplier")
    return (
        waiting.join(F.broadcast(sup), F.col("lone_suppkey") == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("lone_late_lines").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: anti-join customers with no RECENT orders, kept only
    when their balance beats the global positive-balance average (scalar
    subquery, broadcast as a 1-row frame). c_nationkey stands in for
    the missing phone country code; "no orders since 2001" stands
    in for "no orders ever" (this generator gives every customer at
    least one order, which would make the anti-join vacuous)."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(1, 2, 3, 4, 5, 6, 7)
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2001-01-01"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# --- B33: bucketized range (interval) join -----------------------------------

RANGE_DAYS = 30  # interval width (the query's semantic window)
# bucket width DECOUPLED from the window (r15): pairs examined by the
# cell equi-join scale as |points|·|intervals|·(w + B)/span — B = w
# paid (30+30), B = 8 pays (30+8), a measured ~0.6× on the join stage
# for a 5-cell explode of the (tiny) interval side. The residual
# bounds filter is unchanged, so the result set is identical.
RANGE_BUCKET_DAYS = 8
RANGE_EPOCH = "1995-01-01"
# interval side = orders of a FIXED customer watchlist: the interval
# count stays ~200 at every SF, so the join result grows linearly with
# the corpus (points), never quadratically (intervals × points). An
# interval side that is a corpus FRACTION (e.g. a price cut) makes the
# true result itself O(corpus²) — no join strategy can save a query
# whose answer is quadric-sized.
RANGE_WATCHLIST = 20


def range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 — point-in-interval join, the shape Spark has no native
    operator for (a naive `ON p BETWEEN lo AND hi` plans as a
    broadcast-nested-loop: build × probe work, dead at 100 TB).

    The scalable rewrite: quantize time into fixed BUCKET-wide cells;
    an interval overlaps ≤ ⌈w/BUCKET⌉+1 cells, so EXPLODE the interval
    to its covered cells (bounded fan-out), map each point to its one
    cell, equi-join on the cell id (plain shuffle hash join — AQE
    handles skew), then re-check the exact bounds as a residual filter.
    Neither side is broadcast-REQUIRED: the rewrite stays a shuffle
    hash join however large both sides grow, and the bucket key gives
    the join locality a range condition can't.

    Here: lineitems shipped within 30 days of a watchlist customer's
    order date, aggregated per order. Oracle = the direct inequality
    join (DuckDB plans it as an IEJoin).

    r16 (guide §2.3/§8 — decide with small rows): every join decision
    depends ONLY on l_shipdate, which is calendar-granular (~2.5k
    distinct days whatever the corpus size), so the corpus folds to a
    per-day (n, Σrev) aggregate BEFORE the interval join — map-side
    partial aggregation does the 600k→2.5k reduction inside the scan
    stage, and the pair stage evaluates days × intervals (~7k pairs)
    instead of rows × intervals (~1.7M at sf0.1). Decimal partial sums
    re-summed per order are exact (integer arithmetic), so the result
    is bit-identical; n_lines rides as Σ per-day counts. The interval
    side carries a precomputed `o_hi` bound so the residual is two
    plain comparisons, and it is broadcast EXPLICITLY — its ~200-row
    size is a watchlist invariant the planner's post-filter estimate
    can't see at scale (guide §3.1)."""
    big = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < RANGE_WATCHLIST)
        .select("o_orderkey", "o_orderdate")
    )
    bucket_of = lambda c: F.floor(  # noqa: E731
        F.datediff(c, F.lit(RANGE_EPOCH)) / RANGE_BUCKET_DAYS
    )
    intervals = big.select(
        "o_orderkey",
        "o_orderdate",
        # per-interval upper bound, precomputed once on the ~200-row
        # side instead of date_add+cast per joined pair (same
        # midnight-NTZ value the inline cast produced)
        F.date_add(F.col("o_orderdate"), RANGE_DAYS)
        .cast("timestamp_ntz")
        .alias("o_hi"),
        F.explode(
            F.sequence(
                bucket_of(F.col("o_orderdate")),
                bucket_of(F.date_add(F.col("o_orderdate"), RANGE_DAYS - 1)),
            )
        ).alias("cell"),
    )
    # corpus → per-day fold: count + exact decimal revenue per ship day
    # (sum in DECIMAL so accumulation order can't straddle a cent
    # boundary between engines; per-day partials re-summed per order
    # are the same exact sum)
    points = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_shipdate")
        .agg(
            F.count("*").alias("n_day"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(24,8)"
                )
            ).alias("rev_day"),
        )
        .withColumn("cell", bucket_of(F.col("l_shipdate")))
    )
    return (
        points.join(F.broadcast(intervals), "cell")
        .filter(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") < F.col("o_hi"))
        )
        .groupBy("o_orderkey")
        .agg(
            F.sum("n_day").alias("n_lines"),
            F.round(F.sum("rev_day"), 2).cast("double").alias("revenue"),
        )
        .orderBy("o_orderkey")
    )


# --- B34: rank-function window coverage --------------------------------------

def window_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34 — the rank family over one window pass: dense_rank, ntile,
    percent_rank, cume_dist per nation by account balance. Ties are
    broken by c_custkey so every function is deterministic (and the
    oracle's ORDER BY matches byte-for-byte)."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.col("c_custkey")
    )
    return (
        cust.select(
            "c_nationkey",
            "c_custkey",
            F.col("c_acctbal"),
            F.dense_rank().over(w).alias("drank"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .filter(F.col("drank") <= 10)
    )


# --- B35-B39: the partsupp-blocked TPC-H queries (VERDICT r4 #5) -------------
#
# The testdata ships no partsupp table; it is SYNTHESIZED deterministically
# from the fact table — the distinct (l_partkey, l_suppkey) pairs that
# actually traded, with availqty/supplycost derived by exact integer
# arithmetic on the keys. The identical derivation runs as a Spark frame
# and as a DuckDB CTE (oracle), so all five queries are hash-checkable.
# At scale the distinct-pairs aggregation is a one-time indexing artifact
# (like the IVF centroids), not a per-query cost.

_PS_AVAIL = "(ps_partkey * 7 + ps_suppkey * 11) % 9999 + 1"
_PS_COST = "((ps_partkey * 31 + ps_suppkey * 17) % 100000) / 100.0 + 1.0"
_PARTSUPP_CTE = f"""partsupp AS (
        SELECT ps_partkey, ps_suppkey,
               {_PS_AVAIL} AS ps_availqty,
               {_PS_COST} AS ps_supplycost
        FROM (SELECT DISTINCT l_partkey AS ps_partkey,
                              l_suppkey AS ps_suppkey FROM lineitem))"""


PARTSUPP_SYNTH = artifacts.Artifact(
    "partsupp_synth", "lineitem", dict(op="partsupp_synth")
)


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized partsupp: one row per distinct (part, supplier)
    pair in lineitem, costs/quantities a pure function of the keys.

    Served as a fingerprint-keyed DISK ARTIFACT: partsupp is a TABLE
    (the five TPC-H queries that need it treat it as base data), and
    deriving it per query re-paid a fact-table distinct-shuffle each
    run — build it once per lineitem version, then every consumer reads
    a dimension-sized parquet. Deterministic (pure key arithmetic), so
    build-then-serve equals recompute; the DuckDB oracles keep the same
    derivation inline as a CTE."""
    return artifacts.serve_frame(
        spark, PARTSUPP_SYNTH.path(sf_dir), lambda: _partsupp_build(spark, sf_dir)
    )


def _partsupp_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
    )
    return pairs.select(
        "ps_partkey",
        "ps_suppkey",
        ((F.col("ps_partkey") * 7 + F.col("ps_suppkey") * 11) % 9999 + 1).alias(
            "ps_availqty"
        ),
        (
            ((F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17) % 100000)
            / 100.0
            + 1.0
        ).alias("ps_supplycost"),
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35 / TPC-H Q2: for each ECONOMY part of size ≤ 15, the EUROPE
    supplier(s) offering the minimum supply cost — the correlated-MIN
    subquery shape. Decorrelated as a groupBy-min over the
    region-filtered partsupp + an equality join back (one shuffle on
    ps_partkey for both the min and the join — no per-part subquery
    execution). nation/region broadcast; supplier joins by key via AQE."""
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_ps = (
        _partsupp(spark, sf_dir)
        .join(sup, F.col("ps_suppkey") == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    from euclid_spark.cache import persist_tracked

    eu_ps = persist_tracked(
        eu_ps.select(
            "ps_partkey", "ps_suppkey", "ps_supplycost",
            "s_acctbal", "s_name", "n_name",
        )
    )
    min_cost = eu_ps.groupBy(
        F.col("ps_partkey").alias("mc_partkey")
    ).agg(F.min("ps_supplycost").alias("min_cost"))
    parts = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") <= 15)
    )
    return (
        parts.join(eu_ps, parts.p_partkey == eu_ps.ps_partkey)
        .join(
            min_cost,
            (F.col("ps_partkey") == F.col("mc_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_type",
            F.round("ps_supplycost", 2).alias("ps_supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36 / TPC-H Q9: profit per supplier-nation per year over 'red'
    parts — the multi-fact join (lineitem × partsupp on the COMPOSITE
    (partkey, suppkey) key, plus orders/part/supplier/nation). Profit
    terms accumulate in DECIMAL so the rounded totals are
    order-independent (the q15 hazard). Part filter reaches the scan;
    nation broadcasts; everything else shuffles on its join key."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    ps = _partsupp(spark, sf_dir)
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("ps_supplycost") * F.col("l_quantity")
    ).cast("decimal(24,8)")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(
            ps,
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B37 / TPC-H Q11: per-part stock value in one nation, HAVING value
    above a fraction of the GLOBAL total — the global-scalar-threshold
    shape. The nation-filtered partsupp is pinned (both the per-part agg
    and the one-row total read it); the total broadcasts into the
    filter. DECIMAL accumulation end-to-end: the > comparison against
    0.001·total must not depend on float summation order."""
    from euclid_spark.cache import persist_tracked

    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    val = (F.col("ps_supplycost") * F.col("ps_availqty")).cast("decimal(24,8)")
    ps = persist_tracked(
        _partsupp(spark, sf_dir)
        .join(sup, F.col("ps_suppkey") == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select("ps_partkey", val.alias("val"))
    )
    per_part = ps.groupBy("ps_partkey").agg(F.sum("val").alias("value_d"))
    total = ps.agg(F.sum("val").alias("total_d"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_d") > F.col("total_d") * F.lit(0.0001))
        .select(
            "ps_partkey",
            F.round(F.col("value_d"), 2).cast("double").alias("value"),
        )
        .orderBy(F.desc("value"), "ps_partkey")
    )


def q16_parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B38 / TPC-H Q16: supplier count per (brand, type, size) bucket,
    excluding one brand, a type prefix, and a supplier deny-list — the
    NOT-IN shape (planned as an anti join; the deny-list stands in for
    the reference's complaints filter with the deterministic
    s_acctbal < 0 predicate since the testdata has no s_comment)."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    bad_supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        _partsupp(spark, sf_dir)
        .join(part, F.col("ps_partkey") == part.p_partkey)
        .join(bad_supp, F.col("ps_suppkey") == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B39 / TPC-H Q20: suppliers in one nation holding excess stock of
    'red' parts — availqty above half of what that (part, supplier)
    pair actually shipped in 1996. The nested-EXISTS chain planned as
    semi joins: shipped-quantity agg → partsupp threshold filter →
    supplier semi join. Every join is an equi-join on the composite
    key; nothing correlated executes per row."""
    li96 = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    shipped = li96.groupBy("l_partkey", "l_suppkey").agg(
        (F.sum("l_quantity") * 0.5).alias("half_qty")
    )
    red_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    excess = (
        _partsupp(spark, sf_dir)
        .join(red_parts, F.col("ps_partkey") == F.col("p_partkey"), "left_semi")
        .join(
            shipped,
            (F.col("ps_partkey") == shipped.l_partkey)
            & (F.col("ps_suppkey") == shipped.l_suppkey),
        )
        .filter(F.col("ps_availqty") > F.col("half_qty"))
        .select("ps_suppkey")
        .distinct()
    )
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    sup = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey
    )
    return (
        sup.join(excess, F.col("s_suppkey") == excess.ps_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


CMS_ROWS = 4   # independent hash rows
CMS_W = 256    # buckets per row
CMS_TOP = 20   # heavy-hitter candidates reported


def cms_bucket(row_col: F.Column, key_col: F.Column) -> F.Column:
    """B44's cell hash, the one every CMS tile and probe uses: the
    first 8 md5 hex digits of "row|key", mod CMS_W (ascii arithmetic
    both engines compute byte-identically)."""
    h = F.md5(F.concat_ws("|", row_col.cast("string"), key_col.cast("string")))
    return F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(CMS_W))


def _cms_row() -> F.Column:
    return F.explode(F.sequence(F.lit(0), F.lit(CMS_ROWS - 1))).alias("r")


def cms_cells(rows: DataFrame, *keys: str) -> DataFrame:
    """(*keys, r, b, c): the count-min sketch of `rows`' user_ids per
    `keys` — one explode(CMS_ROWS) and one bounded aggregate."""
    return (
        rows.select(*keys, "user_id", _cms_row())
        .select(*keys, "r", cms_bucket(F.col("r"), F.col("user_id")).alias("b"))
        .groupBy(*keys, "r", "b")
        .agg(F.count("*").alias("c"))
    )


def cms_probe(ev: DataFrame, cms: DataFrame) -> DataFrame:
    """The sketch-error audit over `ev`'s user_ids: the exact
    top-CMS_TOP users, each probed against the (r, b, c) sketch `cms`
    — exact count, estimate (min over rows of its cell) and the
    (always ≥ 0) overcount. The top-N is ORDER BY + LIMIT
    (TakeOrderedAndProject — no global sort), so the rank window and
    the probes run over CMS_TOP rows, and the probes join the
    CMS_ROWS × CMS_W sketch by broadcast."""
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(CMS_TOP)
        .withColumn(
            # constant partition key: input is the LIMIT-CMS_TOP rows, so
            # the single-partition window is bounded by construction — the
            # explicit key silences WindowExec's no-partition warning.
            # (exact_n - exact_n) rather than lit(0) because Catalyst
            # constant-folds foldable partition specs away, reintroducing
            # the bare-window warning
            "rk",
            F.row_number().over(
                Window.partitionBy(
                    F.col("exact_n") - F.col("exact_n")
                ).orderBy(F.desc("exact_n"), "user_id")
            ),
        )
    )
    probes = top.select("user_id", "exact_n", "rk", _cms_row()).withColumn(
        "b", cms_bucket(F.col("r"), F.col("user_id"))
    )
    return (
        probes.join(F.broadcast(cms), ["r", "b"])
        .groupBy("user_id", "exact_n", "rk")
        .agg(F.min("c").alias("est_n"))
        .select(
            "user_id",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("overcount"),
            "rk",
        )
    )


def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B44 — COUNT-MIN SKETCH heavy hitters (Cormode & Muthukrishnan
    2005, public): the sketch is a (row, bucket) → count table of
    CMS_ROWS × CMS_W cells — a FIXED-SIZE commutative monoid (cells
    add), which is the whole point: it map-side-combines to ~1 KB per
    task regardless of corpus size, merges across batches/streams
    (its per-day tiles, cms_range.CMS_DAY_TILES, run through the D20
    harness), and answers est(key) = min over rows of its cell. This
    query reports, for the exact top-CMS_TOP users, the exact count
    next to the sketch estimate and the (always ≥ 0) overcount — the
    honest sketch-error audit, like C37 for MinHash (`cms_probe`)."""
    ev = _t(spark, sf_dir, "events").select("user_id")
    return cms_probe(ev, cms_cells(ev))


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B46 — COHORT RETENTION: users grouped by first-purchase week,
    tracked by distinct activity in each later week — the canonical
    product-analytics triangle every event warehouse serves. Two hash
    aggregates (first month per user; distinct user-months) joined on
    the user key, then one rollup per (cohort, month offset); the
    retention rate divides exact integers, rounded once."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.date_trunc("week", "ts").cast("date").alias("week"),
        )
    )
    first = ev.groupBy("user_id").agg(F.min("week").alias("cohort"))
    activity = ev.distinct()
    sizes = first.groupBy("cohort").agg(
        F.count("*").alias("cohort_size")
    )
    # both dates are week-truncated Mondays, so the day delta is an
    # exact multiple of 7 in both engines
    joined = activity.join(first, "user_id").select(
        "cohort",
        (F.datediff("week", "cohort") / 7).cast("int").alias("week_offset"),
        "user_id",
    )
    return (
        joined.groupBy("cohort", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .join(sizes, "cohort")
        .select(
            "cohort",
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") / F.col("cohort_size"), 4).alias(
                "retention"
            ),
        )
    )


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B45 — UNPIVOT/MELT (the inverse of B12's pivot): lineitem's
    measure columns to long (measure, value) rows via `stack` — the
    wide→long reshape feeding generic per-measure pipelines (profiling,
    anomaly screens) without one query per column. Aggregated per
    (returnflag, measure) so the result is compact and exact: stack is
    row-local (zero extra shuffle beyond the final rollup), decimal
    sums keep totals order-independent."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.selectExpr(
        "l_returnflag",
        "stack(3, 'quantity', CAST(l_quantity AS DECIMAL(18,4)),"
        " 'extendedprice', CAST(l_extendedprice AS DECIMAL(18,4)),"
        " 'discount', CAST(l_discount AS DECIMAL(18,4)))"
        " AS (measure, value)",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).cast("double").alias("total"),
    )


def full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B43 — FULL OUTER reconciliation report (the one join type the
    inventory lacked): per-day order volume vs event volume with BOTH
    unmatched sides preserved and classified — the daily audit every
    multi-feed ingest pipeline runs (which days have orders but no
    events, and vice versa). One shuffle per side on the day key; the
    join key is the aggregation key, so no extra exchange; decimal
    sums keep the totals order-independent."""
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("order_total"),
        )
    )
    e = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n_events"))
    )
    status = (
        F.when(F.col("n_orders").isNull(), F.lit("events_only"))
        .when(F.col("n_events").isNull(), F.lit("orders_only"))
        .otherwise(F.lit("both"))
    )
    return o.join(e, "day", "full_outer").select(
        "day",
        status.alias("status"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("order_total", F.lit(0.0)).alias("order_total"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
    )


# B55: columns profiled (name, kind, auto distinct mode) — lineitem's
# analysis columns. kind pins the min/max STRING format both engines can
# produce identically: num → decimal(38,6) (fixed 6-digit text, no
# float-repr divergence), ts → explicit yyyy-MM-dd HH:mm:ss, str → as-is.
# The third field is the `auto` distinct strategy: "sketch" for columns
# whose cardinality grows with the data (l_extendedprice is ~unique per
# row — at 100 TB an exact COUNT(DISTINCT) on it shuffles every key),
# "exact" for the bounded-cardinality columns.
# B55 profile spec is DERIVED FROM THE SCHEMA (r9, VERDICT #3 — the r8
# version hardcoded a lineitem column list): every primitive column of
# the profiled table gets a (kind, auto-mode) from its type and name
# alone. Cardinality is data knowledge the schema does not carry, so the
# auto-mode prior errs toward sketch: a wrongly-EXACT choice costs a
# full-width distinct shuffle at 100 TB, a wrongly-SKETCH choice merely
# estimates what it could have counted. distinct_mode="exact" remains
# the audit override that counts everything exactly.
_PROFILE_PAYLOAD_RE = None  # compiled lazily below


def _profile_auto_mode(name: str, t: str) -> str:
    """Schema-only exact/sketch prior. `t` is the normalized type:
    int | frac | ts | date | str.
      - fractional numerics are measures → row-scaling → sketch;
      - integral surrogate keys (*key / *_id / id) → sketch;
      - other integrals (line numbers, small codes) → exact;
      - µs timestamps are row-scaling by construction → sketch;
        dates are calendar-bounded → exact;
      - strings are categorical codes unless payload-named
        (props/comment/json/…) → exact, payload → sketch."""
    import re as _re

    global _PROFILE_PAYLOAD_RE
    if _PROFILE_PAYLOAD_RE is None:
        _PROFILE_PAYLOAD_RE = _re.compile(
            r"(props|comment|json|payload|body|text|desc|url|address|phone)",
            _re.I,
        )
    low = name.lower()
    if t == "frac":
        return "sketch"
    if t == "int":
        return (
            "sketch"
            if low.endswith("key") or low.endswith("_id") or low == "id"
            else "exact"
        )
    if t == "ts":
        return "sketch"
    if t == "date":
        return "exact"
    return "sketch" if _PROFILE_PAYLOAD_RE.search(low) else "exact"


def profile_spec(fields: "list[tuple[str, str]]") -> "list[tuple[str, str, str]]":
    """(column, kind, auto-mode) for every profilable column, from a
    list of (name, normalized_type). kind collapses the type for the
    profile branches: num (int|frac), ts (ts|date), str. Complex /
    binary columns are skipped (not profilable in this long format).
    Shared by the Spark side (fed from df.schema) and the DuckDB oracle
    generator (fed from the parquet footer via pyarrow) so both derive
    the identical spec from the identical schema."""
    kind_of = {"int": "num", "frac": "num", "ts": "ts", "date": "ts"}
    out = []
    for name, t in fields:
        if t not in ("int", "frac", "ts", "date", "str"):
            continue
        out.append((name, kind_of.get(t, "str"), _profile_auto_mode(name, t)))
    return out


_SPARK_TYPE_NORM = {
    "byte": "int", "short": "int", "integer": "int", "long": "int",
    "float": "frac", "double": "frac",
    "timestamp": "ts", "timestamp_ntz": "ts", "date": "date",
    "string": "str",
}


def _spec_from_spark_schema(schema) -> "list[tuple[str, str, str]]":
    fields = []
    for f in schema.fields:
        tn = f.dataType.typeName()
        if tn.startswith("decimal"):
            tn = "double"  # scaled measure → fractional
        fields.append((f.name, _SPARK_TYPE_NORM.get(tn, tn)))
    return profile_spec(fields)


def _spec_from_parquet(path: str) -> "list[tuple[str, str, str]]":
    import pyarrow.types as pt

    from euclid_spark.artifacts import footer_stats

    fields = []
    for f in footer_stats(path).schema:
        t = f.type
        if pt.is_integer(t):
            n = "int"
        elif pt.is_floating(t) or pt.is_decimal(t):
            n = "frac"
        elif pt.is_timestamp(t):
            n = "ts"
        elif pt.is_date(t):
            n = "date"
        elif pt.is_string(t) or pt.is_large_string(t):
            n = "str"
        else:
            n = "skip"
        fields.append((f.name, n))
    return profile_spec(fields)

# linear-counting bitmap size for the profile's distinct estimates —
# sized for ~10⁶ distinct keys at full precision (the B48 monoid at a
# bigger m; still a fixed-size, map-side-combinable structure: ≤ 16384
# occupied words per column regardless of row count)
_PROFILE_LC_BITS = 1 << 20
_PROFILE_LC_WORDS = _PROFILE_LC_BITS // 64


def _profile_text_sql(x: str, kind: str) -> str:
    """The pinned cross-engine text form of a profiled value (min/max
    display): decimal(38,6) text for numerics, a second-truncated
    strftime for timestamps, the raw string otherwise."""
    if kind == "num":
        return f"CAST(CAST({x} AS DECIMAL(38,6)) AS STRING)"
    if kind == "ts":
        return f"date_format({x}, 'yyyy-MM-dd HH:mm:ss')"
    return x


def _profile_lc_bit_sql(c: str, kind: str) -> str:
    """The B48 linear-counting bit index (Spark SQL text), per column
    kind. Numeric and timestamp columns use PURE INTEGER arithmetic
    (fixed-point micros / epoch µs through the digest mix —
    engine-identical and ~3× cheaper than an md5-over-text pass on the
    raw rows); strings use md5 (their exact branches hash ≤ n_distinct
    keys, where md5 is free). NULL propagates to NULL through every
    arm (excluded by COUNT(DISTINCT ...)). Signed inputs are
    well-defined on both engines: Spark's pmod never goes negative and
    the DuckDB oracle folds its signed remainder up with
    (x % P + P) % P."""
    from euclid_spark.functions.hashing import DIGEST_PRIME, MIX

    m = _PROFILE_LC_BITS
    if kind == "num":
        u = f"CAST(FLOOR({c} * 1000000) AS BIGINT)"
    elif kind == "ts":
        # epoch MICROS (r9): second-resolution collapsed distinct
        # timestamps within a second once real µs columns (events.ts)
        # joined the profiled set; µs is the native parquet resolution
        u = f"unix_micros(CAST({c} AS TIMESTAMP))"
    else:
        return (
            f"pmod(CAST(conv(substring(md5({c}), 1, 8), 16, 10)"
            f" AS BIGINT), {m})"
        )
    return f"pmod(pmod(pmod({u}, {DIGEST_PRIME}) * {MIX}, {DIGEST_PRIME}), {m})"


# the IEEE fixed-point micros form both engines compute bit-identically
# (r14): one double multiply, one signed half-offset, truncate. The
# same double arithmetic runs on Spark and DuckDB, so the per-row
# integer — and therefore the sum and the mean — match by construction
# (the prior CAST(x AS DECIMAL(38,6)) route rounded HALF_UP on the
# exact decimal; this form rounds on the double image, so a value whose
# true micros sit exactly on a .5 boundary can truncate one micro apart
# from the decimal route — a 1-ulp/1e-6 tolerance on displayed means
# versus pre-r14 baselines, NOT a cross-engine divergence, since both
# engines changed in lockstep. The decimal route also paid a
# Double.toString → BigDecimal parse per row, the single most
# expensive expression in the profile's hot scan). Domain:
# |x| < 2^63/1e6 ≈ 9.2e12 — the same fixed-point domain the LC bit
# expression above already pins.
def _profile_micros_sql(c: str) -> str:
    return (
        f"CAST({c} * 1000000 +"
        f" (CASE WHEN {c} >= 0 THEN 0.5 ELSE -0.5 END) AS BIGINT)"
    )


def _profile_lc_estimate_sql(n_set: str) -> str:
    """−m·ln(zero_fraction) from an n_set reference, rounded to 2
    decimals; NULL when saturated or when n_set itself is NULL
    (exact-mode rows). The `+ 0.0` normalizes IEEE −0.0 → 0.0 on an
    empty bitmap, identically in the oracle."""
    m = _PROFILE_LC_BITS
    return (
        f"CASE WHEN {n_set} < {m} THEN"
        f" ROUND(-{float(m)!r} * LN(({m} - {n_set}) / {m}), 2) + 0.0 END"
    )


def table_profile(
    spark: SparkSession,
    sf_dir: str,
    distinct_mode: str = "auto",
    table: str = "lineitem",
) -> DataFrame:
    """B55 — TABLE PROFILING (the ANALYZE-TABLE / data-quality-report
    shape every pipeline runs on ingest): per column, row count, null
    count, a distinct count, min/max (as strings — one schema for mixed
    types), and the numeric mean where applicable. Output is LONG
    format (one row per column) so the profile of any table has one
    stable schema.

    `distinct_mode` picks the per-column distinct strategy (VERDICT r7
    #4 — the "at 100 TB" note made a real code path):
      - "exact":  every column gets the exact two-level distinct branch
                  (the audit mode — what the sketch is tested against);
      - "sketch": every column gets the B48 linear-counting estimate
                  only (the 100 TB mode — no per-key shuffle anywhere);
      - "auto" (default, the gate face): per-column choice DERIVED
        FROM THE SCHEMA (profile_spec — type+name prior, r9): measures,
        surrogate keys, µs timestamps and payload strings are sketched,
        bounded codes stay exact, so the profile's cost contains NO
        full-width distinct shuffle whatever table it is pointed at.
    Columns report `n_distinct` (exact modes), `distinct_est` (the LC
    estimate, sketch modes — the oracle replays its exact bit
    derivation, so the estimate itself is hash-checked) and `d_mode`.
    The estimate-vs-exact audit (the B51/B52 pairing) runs as a test
    (tests/test_relational_guards.py): auto's estimate must sit within
    linear counting's error envelope of exact's count — paying BOTH per
    query is exactly the cost the mode switch exists to drop.

    Determinism: min/max/count order-independent; per-row values enter
    the mean as IEEE fixed-point micros (one double multiply + signed
    half-offset + truncate — bit-identical on both engines), the sum is
    an exact integer, and the displayed mean is the half-up integer
    quotient of that sum (the q15 rule, replayed identically by the
    oracle); the sketch is md5 over strings / integer bit ops otherwise
    + one rounded libm-ln — all hash-checked.

    Scale shape (r14, third rewrite — this one measured against the
    per-branch floor): the whole face is ONE GENERATED SQL STATEMENT
    (plan construction cost was ~1 s of py4j chatter for the ~400
    Column objects the r12 shape built per call; the driver re-plans
    per call, so construction is part of the marginal cost). Branches:
    one full-width stats aggregate (counts, min/max, integer-micros
    sums — the r12 decimal(38,6) sums paid a Double.toString →
    BigDecimal parse per row, ~1.3 s of the old 3.5 s), one
    multi-distinct aggregate for the bounded exact columns, ONE
    SINGLE-DISTINCT AGGREGATE PER SKETCHED COLUMN (r14: Catalyst's
    multi-distinct rewrite Expands every row ×(n_distincts+1) — 5.4 M
    expanded rows cost 2.2 s where eight independent two-level
    single-distinct branches cost 1.0 s and read the same total bytes,
    each scan pruned to its one column), and one keyless string-extrema
    fold (a string agg buffer is immutable — near a keyed aggregate it
    would force a sorting SortAggregate). All branches are one-row
    outputs broadcast-crossJoined and run CONCURRENTLY in one job; the
    long format is a stack() over the one wide row. No full-width
    distinct shuffle anywhere: a sketched column's raw value never
    enters a grouping key — the 100 TB shape. (An r12 melt variant —
    explode per-column structs → two-level groupBy — lost ~5×: struct
    allocation + string group keys pushed the exploded rows off the
    vectorized path.)"""
    if distinct_mode not in ("auto", "exact", "sketch"):
        raise ValueError(f"distinct_mode must be auto|exact|sketch, got {distinct_mode!r}")
    path = f"{sf_dir}/{table}.parquet"
    try:
        # the spec needs only the schema: one local pyarrow footer read
        # (~5 ms) instead of a Spark reader resolution (~150 ms of
        # listing + py4j). Identical spec by construction — both
        # derivations feed the shared profile_spec (the oracle uses
        # this same footer path).
        cols = _spec_from_parquet(path)
    except Exception:  # noqa: BLE001 — non-local sf_dir (s3://, hdfs://):
        # pyarrow raises ArrowInvalid (a ValueError) for URIs it can't
        # open, not just OSError — catch broadly (the _event_day_span /
        # _shard_bucket_hex precedent) and resolve through Spark
        cols = _spec_from_spark_schema(spark.read.parquet(path).schema)
    modes = {
        c: (auto if distinct_mode == "auto" else distinct_mode)
        for c, _, auto in cols
    }
    # one `src` CTE so the parquet relation resolves ONCE at analysis —
    # referencing parquet.`path` from every branch re-ran file listing
    # + footer schema per branch (~0.1 s × n_branches of pure planning)
    rel = "src"

    stats_sel = ["COUNT(1) AS n_rows"]
    exact_sel, str_sel, sketch_ctes = [], [], []
    for i, (c, kind, _) in enumerate(cols):
        q = f"`{c}`"
        stats_sel.append(f"COUNT({q}) AS nn_{i}")
        if kind in ("num", "ts"):
            # native-type min/max buffers stay mutable → hash agg
            stats_sel.append(f"MIN({q}) AS mn_{i}")
            stats_sel.append(f"MAX({q}) AS mx_{i}")
        else:
            str_sel.append(f"MIN({q}) AS mn_{i}")
            str_sel.append(f"MAX({q}) AS mx_{i}")
        if kind == "num":
            # integer micros summed in decimal(38,0): per-row work is a
            # long→Decimal lift (no string parse), the buffer never
            # wraps at any corpus size
            stats_sel.append(
                f"SUM(CAST({_profile_micros_sql(q)} AS DECIMAL(38,0)))"
                f" AS s_{i}"
            )
        if modes[c] == "exact":
            exact_sel.append(f"COUNT(DISTINCT {q}) AS nd_{i}")
        else:
            # n_set ≡ COUNT(DISTINCT bit) — the oracle's own form; one
            # branch PER column keeps every distinct single (two-level
            # partial-distinct hash aggs, no Expand)
            sketch_ctes.append(
                (
                    f"sk_{i}",
                    f"SELECT COUNT(DISTINCT {_profile_lc_bit_sql(q, kind)})"
                    f" AS ns_{i} FROM {rel}",
                )
            )

    ctes = [("stats", f"SELECT {', '.join(stats_sel)} FROM {rel}")]
    if exact_sel:
        ctes.append(("ex", f"SELECT {', '.join(exact_sel)} FROM {rel}"))
    ctes.extend(sketch_ctes)
    if str_sel:
        ctes.append(("strs", f"SELECT {', '.join(str_sel)} FROM {rel}"))

    stack_rows = []
    for i, (c, kind, _) in enumerate(cols):
        mode = modes[c]
        nd = f"nd_{i}" if mode == "exact" else "CAST(NULL AS BIGINT)"
        ns = "CAST(NULL AS BIGINT)" if mode == "exact" else f"ns_{i}"
        if kind == "num":
            # exact half-up integer quotient of the micro sum — `div`
            # on the decimal returns BIGINT, and a mean in micros
            # always fits one (the SUM buffer is what must not wrap)
            mean = (
                f"CAST(CASE WHEN s_{i} >= 0"
                f" THEN (2 * s_{i} + nn_{i}) div (2 * nn_{i})"
                f" ELSE -((-2 * s_{i} + nn_{i}) div (2 * nn_{i})) END"
                f" AS DOUBLE) / 1000000.0"
            )
        else:
            mean = "CAST(NULL AS DOUBLE)"
        stack_rows.append(
            f"'{c}', n_rows, n_rows - nn_{i}, '{mode}', {nd}, {ns}, "
            f"{_profile_text_sql(f'mn_{i}', kind)}, "
            f"{_profile_text_sql(f'mx_{i}', kind)}, {mean}"
        )

    with_sql = ",\n".join(
        [f"src AS (SELECT * FROM parquet.`{path}`)"]
        + [f"{name} AS ({q})" for name, q in ctes]
    )
    hint = ", ".join(name for name, _ in ctes[1:])
    hint_sql = f"/*+ BROADCAST({hint}) */ " if hint else ""
    joins = " CROSS JOIN ".join(name for name, _ in ctes)
    stacked = ",\n        ".join(stack_rows)
    sql = f"""
    WITH {with_sql}
    SELECT `column`, n_rows, n_nulls, d_mode, n_distinct,
           {_profile_lc_estimate_sql("n_set")} AS distinct_est,
           min_s, max_s, mean
    FROM (
      SELECT {hint_sql}stack({len(stack_rows)},
        {stacked}
      ) AS (`column`, n_rows, n_nulls, d_mode, n_distinct, n_set,
            min_s, max_s, mean)
      FROM {joins}
    )
    """
    return spark.sql(sql)


def events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B55b — the generalized profiler pointed at a SECOND table with a
    different shape (events: surrogate keys, a µs timestamp, a JSON
    payload string): same long-format schema, spec fully derived from
    the schema — event_id/user_id/value/ts/props sketch, event_type
    exact — so the auto plan stays free of full-width distinct shuffles
    on the row-scaling columns."""
    return table_profile(spark, sf_dir, table="events")


QUERIES = {
    "tpch_q1_pricing_summary": q1_pricing_summary,
    "rel_bloom_join_prune": bloom_join_prune,
    "tpch_q3_shipping_priority": q3_shipping_priority,
    "tpch_q5_local_supplier": q5_local_supplier,
    "tpch_q6_forecast_revenue": q6_forecast_revenue,
    "tpch_q10_returned_items": q10_returned_items,
    "tpch_q14_promo_effect": q14_promo_effect,
    "tpch_q18_large_volume": q18_large_volume,
    "tpch_q7_nation_volume": q7_nation_volume,
    "rel_funnel_conversion": funnel_conversion,
    "rel_histogram": histogram_values,
    "rel_above_avg_subquery": orders_above_customer_avg,
    "tpch_q8_market_share": q8_market_share,
    "tpch_q13_order_distribution": q13_order_distribution,
    "rel_exact_percentiles": exact_percentiles,
    "rel_semi_anti_join": semi_anti_join,
    "rel_window_topn_per_group": window_topn_per_group,
    "rel_window_running_agg": window_running_agg,
    "rel_rollup_agg": rollup_agg,
    "rel_grouping_sets": grouping_sets_agg,
    "rel_pivot_events": pivot_events,
    "rel_json_extract": json_extract,
    "rel_approx_agg": approx_agg,
    "rel_asof_join": asof_join,
    "rel_sessionize": sessionize,
    "rel_set_ops": set_ops,
    "rel_full_outer_reconcile": full_outer_reconcile,
    "rel_table_profile": table_profile,
    "rel_heavy_hitters_cms": heavy_hitters_cms,
    "rel_unpivot_measures": unpivot_measures,
    "rel_cohort_retention": cohort_retention,
    "rel_exploded_agg": exploded_agg,
    "tpch_q4_order_priority": q4_order_priority,
    "tpch_q12_ship_priority": q12_ship_priority,
    "tpch_q15_top_supplier": q15_top_supplier,
    "tpch_q17_small_quantity_revenue": q17_small_quantity_revenue,
    "tpch_q19_disjunctive_join": q19_disjunctive_join,
    "tpch_q21_waiting_supplier": q21_waiting_supplier,
    "tpch_q22_global_sales_opportunity": q22_global_sales_opportunity,
    "rel_range_join_bucketed": range_join_bucketed,
    "rel_window_rank_stats": window_rank_stats,
    "rel_window_time_range": window_time_range_agg,
    "tpch_q2_min_cost_supplier": q2_min_cost_supplier,
    "tpch_q9_product_type_profit": q9_product_type_profit,
    "tpch_q11_important_stock": q11_important_stock,
    "tpch_q16_parts_supplier_relationship": q16_parts_supplier_relationship,
    "tpch_q20_potential_promotion": q20_potential_promotion,
    # appended (r9): keep the first-50 registry prefix stable — the
    # driver's gate window covers euclid + the head of this dict
    "rel_events_profile": events_profile,
}

_REV = "l_extendedprice * (1 - l_discount)"

ORACLES = {
    "rel_bloom_join_prune": f"""
        SELECT o_orderpriority,
               ROUND(SUM({_REV}), 2) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_totalprice > 490000
        GROUP BY o_orderpriority
    """,
    "tpch_q1_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM({_REV}), 2) AS sum_disc_price,
               ROUND(SUM({_REV} * (1 + l_tax)), 2) AS sum_charge,
               ROUND(AVG(l_quantity), 4) AS avg_qty,
               ROUND(AVG(l_extendedprice), 4) AS avg_price,
               ROUND(AVG(l_discount), 4) AS avg_disc,
               CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "tpch_q3_shipping_priority": f"""
        SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
               ROUND(SUM({_REV}), 2) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "tpch_q5_local_supplier": f"""
        SELECT n_name, ROUND(SUM({_REV}), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    "tpch_q6_forecast_revenue": """
        SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "tpch_q10_returned_items": f"""
        SELECT c_custkey, c_name, c_acctbal, n_name,
               ROUND(SUM({_REV}), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "tpch_q14_promo_effect": f"""
        SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO' THEN {_REV}
                                      ELSE 0.0 END) / SUM({_REV}), 4)
                   AS promo_revenue_pct,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01'
          AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
    "tpch_q18_large_volume": """
        WITH big AS (
            SELECT l_orderkey, SUM(l_quantity) AS sum_qty
            FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
        )
        SELECT c_name, c_custkey, o_orderkey,
               CAST(o_orderdate AS DATE) AS orderdate, o_totalprice,
               ROUND(sum_qty, 2) AS sum_qty
        FROM big JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "tpch_q7_nation_volume": f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               ROUND(SUM({_REV}), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND ((n1.n_name = '{NATION_A}' AND n2.n_name = '{NATION_B}')
            OR (n1.n_name = '{NATION_B}' AND n2.n_name = '{NATION_A}'))
        GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    """,
    "rel_funnel_conversion": """
        WITH fs AS (
            SELECT user_id, MIN(event_id) AS first_signup
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ), fp AS (
            SELECT e.user_id, MIN(e.event_id) AS first_purchase_after
            FROM events e JOIN fs ON e.user_id = fs.user_id
            WHERE e.event_type = 'purchase' AND e.event_id > fs.first_signup
            GROUP BY e.user_id
        )
        SELECT fs.user_id, fs.first_signup, fp.first_purchase_after,
               fp.first_purchase_after IS NOT NULL AS converted
        FROM fs LEFT JOIN fp ON fs.user_id = fp.user_id
    """,
    "tpch_q8_market_share": f"""
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               ROUND(SUM(CASE WHEN n2.n_name = '{SHARE_NATION}'
                              THEN {_REV} ELSE 0.0 END) / SUM({_REV}), 6)
                   AS mkt_share,
               ROUND(SUM({_REV}), 2) AS total_revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = '{SHARE_REGION}'
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY year(o_orderdate)
    """,
    "tpch_q13_order_distribution": """
        WITH pc AS (
            SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        )
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM pc GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "rel_exact_percentiles": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
               ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_returnflag
    """,
    "rel_histogram": """
        -- width_bucket(v, 0, 200, 20) spelled out (absent in DuckDB 1.0):
        -- 0 below range, 21 above, else floor(v/10)+1
        SELECT CAST(CASE WHEN value < 0 THEN 0
                         WHEN value >= 200 THEN 21
                         ELSE floor(value / 10) + 1 END AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(MIN(value), 2) AS lo, ROUND(MAX(value), 2) AS hi
        FROM events GROUP BY 1
    """,
    "rel_above_avg_subquery": """
        WITH a AS (
            SELECT o_custkey AS ck,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS sum_cents,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY o_custkey
        )
        SELECT o_orderkey, o_custkey, o_totalprice,
               ROUND(sum_cents / (100.0 * n), 6) AS cust_avg
        FROM orders JOIN a ON o_custkey = ck
        WHERE CAST(round(o_totalprice * 100) AS BIGINT) * n > sum_cents
    """,
    "rel_semi_anti_join": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND o_orderpriority = '1-URGENT')
    """,
    "rel_window_topn_per_group": """
        SELECT c_mktsegment, o_orderkey, o_totalprice, rn
        FROM (
            SELECT c_mktsegment, o_orderkey, o_totalprice,
                   CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                        ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
            FROM orders JOIN customer ON o_custkey = c_custkey
        ) WHERE rn <= 3
    """,
    "rel_window_running_agg": """
        SELECT event_id, user_id, value,
               ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS running_value,
               LAG(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
                   AS prev_event
        FROM events
    """,
    "rel_window_time_range": f"""
        SELECT event_id, user_id, value,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
               ROUND(SUM(value) OVER w, 2) AS sum_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN {RANGE_WINDOW_US} PRECEDING
                           AND CURRENT ROW)
    """,
    "rel_grouping_sets": """
        SELECT r_name, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               ROUND(SUM(c_acctbal), 2) AS sum_acctbal,
               CAST(GROUPING(r_name) AS INT) AS g_region,
               CAST(GROUPING(c_mktsegment) AS INT) AS g_segment
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY CUBE (r_name, c_mktsegment)
    """,
    "rel_rollup_agg": """
        SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_customers,
               ROUND(SUM(c_acctbal), 2) AS sum_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    "rel_pivot_events": """
        SELECT user_id,
               CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click,
               CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_error,
               CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase,
               CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signup,
               CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_view
        FROM events GROUP BY user_id
    """,
    "rel_json_extract": """
        SELECT event_type,
               ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
               MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
               MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type
    """,
    # rel_approx_agg: intentionally no oracle — sketch outputs are
    # engine-specific (HLL++ vs DuckDB's approx_count_distinct).
    "rel_asof_join": """
        SELECT event_id, user_id,
               (SELECT MAX(p.event_id) FROM events p
                WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
                  AND p.event_id < e.event_id) AS asof_purchase
        FROM events e WHERE e.event_type = 'error'
    """,
    "rel_sessionize": f"""
        WITH g AS (
            SELECT user_id, event_id,
                   CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                                > {SESSION_GAP_US}
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        ), s AS (
            SELECT user_id, event_id,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
            FROM g
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(event_id) AS first_event, MAX(event_id) AS last_event
        FROM s GROUP BY user_id, session_id
    """,
    "rel_set_ops": """
        SELECT user_id, CAST(ts AS DATE) AS day FROM events
        WHERE event_type = 'purchase'
        INTERSECT
        SELECT user_id, CAST(ts AS DATE) FROM events WHERE event_type = 'view'
        EXCEPT
        SELECT user_id, CAST(ts AS DATE) FROM events WHERE event_type = 'error'
    """,
    "rel_exploded_agg": r"""
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        FROM (
            SELECT unnest(string_split(trim(regexp_replace(lower(text),
                          '\s+', ' ', 'g')), ' ')) AS word
            FROM documents
        ) WHERE word <> ''
        GROUP BY word ORDER BY n DESC, word LIMIT 20
    """,
    "tpch_q4_order_priority": """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 90 DAY
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "tpch_q12_ship_priority": """
        SELECT l_returnflag,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "tpch_q15_top_supplier": f"""
        WITH revenue AS (
          SELECT l_suppkey,
                 CAST(ROUND(SUM(CAST({_REV} AS DECIMAL(24,8))), 2)
                      AS DOUBLE) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """,
    "tpch_q17_small_quantity_revenue": """
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1' AND p_type = 'PROMO'
          AND l_quantity < (
            SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
            JOIN part p2 ON p2.p_partkey = l2.l_partkey
            WHERE p2.p_brand = 'Brand#1' AND p2.p_type = 'PROMO'
              AND l2.l_partkey = lineitem.l_partkey
          )
    """,
    "tpch_q19_disjunctive_join": f"""
        SELECT ROUND(SUM({_REV}), 2) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "tpch_q21_waiting_supplier": """
        WITH li AS (
          SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderstatus = 'F'
        )
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM li l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
            SELECT 1 FROM li l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM li l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > l3.o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    "tpch_q22_global_sales_opportunity": """
        SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
               ROUND(SUM(c_acctbal), 2) AS totacctbal
        FROM customer
        WHERE c_nationkey IN (1, 2, 3, 4, 5, 6, 7)
          AND c_acctbal > (
            SELECT AVG(c_acctbal) FROM customer
            WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 2, 3, 4, 5, 6, 7)
          )
          AND NOT EXISTS (
            SELECT 1 FROM orders WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2001-01-01'
          )
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """,
    "rel_range_join_bucketed": f"""
        SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(ROUND(SUM(CAST({_REV} AS DECIMAL(24,8))), 2)
                    AS DOUBLE) AS revenue
        FROM orders JOIN lineitem
          ON l_shipdate >= o_orderdate
         AND l_shipdate < o_orderdate + INTERVAL {RANGE_DAYS} DAY
        WHERE o_custkey < {RANGE_WATCHLIST}
        GROUP BY o_orderkey
        ORDER BY o_orderkey
    """,
    "rel_window_rank_stats": """
        SELECT c_nationkey, c_custkey, c_acctbal,
               drank, quartile, ROUND(pct_rank, 6) AS pct_rank,
               ROUND(cume, 6) AS cume
        FROM (
          SELECT c_nationkey, c_custkey, c_acctbal,
                 DENSE_RANK() OVER w AS drank,
                 NTILE(4) OVER w AS quartile,
                 PERCENT_RANK() OVER w AS pct_rank,
                 CUME_DIST() OVER w AS cume
          FROM customer
          WINDOW w AS (PARTITION BY c_nationkey
                       ORDER BY c_acctbal DESC, c_custkey)
        )
        WHERE drank <= 10
    """,
    "tpch_q2_min_cost_supplier": f"""
        WITH {_PARTSUPP_CTE},
        eu AS (
            SELECT ps_partkey, ps_suppkey, ps_supplycost,
                   s_acctbal, s_name, n_name
            FROM partsupp
            JOIN supplier ON ps_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        ),
        mc AS (SELECT ps_partkey, MIN(ps_supplycost) AS min_cost
               FROM eu GROUP BY ps_partkey)
        SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
               ROUND(e.ps_supplycost, 2) AS ps_supplycost
        FROM part
        JOIN eu e ON p_partkey = e.ps_partkey
        JOIN mc   ON e.ps_partkey = mc.ps_partkey
               AND e.ps_supplycost = mc.min_cost
        WHERE p_type = 'ECONOMY' AND p_size <= 15
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """,
    "tpch_q9_product_type_profit": f"""
        WITH {_PARTSUPP_CTE}
        SELECT n_name AS nation,
               CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   - ps_supplycost * l_quantity
                                   AS DECIMAL(24,8))), 2) AS DOUBLE)
                   AS sum_profit
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN orders   ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%red%'
        GROUP BY 1, 2
        ORDER BY nation, o_year DESC
    """,
    "tpch_q11_important_stock": f"""
        WITH {_PARTSUPP_CTE},
        natps AS (
            SELECT ps_partkey,
                   CAST(ps_supplycost * ps_availqty AS DECIMAL(24,8)) AS val
            FROM partsupp
            JOIN supplier ON ps_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
        )
        SELECT ps_partkey,
               CAST(ROUND(SUM(val), 2) AS DOUBLE) AS value
        FROM natps
        GROUP BY ps_partkey
        HAVING SUM(val) > (SELECT SUM(val) * 0.0001 FROM natps)
        ORDER BY value DESC, ps_partkey
    """,
    "tpch_q16_parts_supplier_relationship": f"""
        WITH {_PARTSUPP_CTE}
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        FROM partsupp
        JOIN part ON ps_partkey = p_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_type NOT LIKE 'PROMO%'
          AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
          AND ps_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    "tpch_q20_potential_promotion": f"""
        WITH {_PARTSUPP_CTE},
        shipped AS (
            SELECT l_partkey, l_suppkey, SUM(l_quantity) * 0.5 AS half_qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_partkey, l_suppkey
        ),
        excess AS (
            SELECT DISTINCT ps_suppkey
            FROM partsupp
            JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
            WHERE ps_partkey IN
                  (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
              AND ps_availqty > half_qty
        )
        SELECT s_suppkey, s_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
          AND s_suppkey IN (SELECT ps_suppkey FROM excess)
        ORDER BY s_name
    """,
}

ORACLES["rel_full_outer_reconcile"] = """
    WITH o AS (
        SELECT o_orderdate AS day, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                    AS DOUBLE) AS order_total
        FROM orders GROUP BY o_orderdate
    ),
    e AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY CAST(ts AS DATE)
    )
    SELECT COALESCE(o.day, e.day) AS day,
           CASE WHEN o.n_orders IS NULL THEN 'events_only'
                WHEN e.n_events IS NULL THEN 'orders_only'
                ELSE 'both' END AS status,
           COALESCE(o.n_orders, 0) AS n_orders,
           COALESCE(o.order_total, 0.0) AS order_total,
           COALESCE(e.n_events, 0) AS n_events
    FROM o FULL OUTER JOIN e ON o.day = e.day
"""

ORACLES["rel_heavy_hitters_cms"] = f"""
    WITH keyed AS (
        SELECT user_id, unnest(range(0, {CMS_ROWS})) AS r FROM events
    ),
    cells AS (
        SELECT r,
               CAST('0x' || substr(md5(r::VARCHAR || '|' || user_id::VARCHAR),
                                   1, 8) AS BIGINT) % {CMS_W} AS b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM keyed GROUP BY 1, 2
    ),
    top AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM events GROUP BY user_id
        ORDER BY exact_n DESC, user_id
        LIMIT {CMS_TOP}
    ),
    ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY exact_n DESC, user_id)
                       AS INT) AS rk
        FROM top
    ),
    probes AS (
        SELECT t.user_id, t.exact_n, t.rk, g.r,
               CAST('0x' || substr(md5(g.r::VARCHAR || '|'
                                       || t.user_id::VARCHAR),
                                   1, 8) AS BIGINT) % {CMS_W} AS b
        FROM ranked t
        CROSS JOIN (SELECT unnest(range(0, {CMS_ROWS})) AS r) g
    )
    SELECT p.user_id, p.exact_n, MIN(c.c) AS est_n,
           MIN(c.c) - p.exact_n AS overcount, p.rk
    FROM probes p JOIN cells c ON c.r = p.r AND c.b = p.b
    GROUP BY p.user_id, p.exact_n, p.rk
"""

ORACLES["rel_unpivot_measures"] = """
    WITH long AS (
        SELECT l_returnflag, 'quantity' AS measure,
               CAST(l_quantity AS DECIMAL(18,4)) AS value FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'extendedprice',
               CAST(l_extendedprice AS DECIMAL(18,4)) FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount',
               CAST(l_discount AS DECIMAL(18,4)) FROM lineitem
    )
    SELECT l_returnflag, measure, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(value), 2) AS DOUBLE) AS total
    FROM long GROUP BY l_returnflag, measure
"""

ORACLES["rel_cohort_retention"] = """
    WITH ev AS (
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events WHERE event_type = 'purchase'
    ),
    first AS (SELECT user_id, MIN(week) AS cohort FROM ev GROUP BY user_id),
    sizes AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size
              FROM first GROUP BY cohort),
    act AS (SELECT DISTINCT user_id, week FROM ev),
    j AS (
        SELECT f.cohort,
               CAST(date_diff('day', f.cohort, a.week) // 7 AS INT)
                   AS week_offset,
               a.user_id
        FROM act a JOIN first f ON f.user_id = a.user_id
    ),
    r AS (
        SELECT cohort, week_offset,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
        FROM j GROUP BY cohort, week_offset
    )
    SELECT r.cohort, r.week_offset, r.n_active, s.cohort_size,
           ROUND(r.n_active * 1.0 / s.cohort_size, 4) AS retention
    FROM r JOIN sizes s ON s.cohort = r.cohort
"""


def _profile_sql(table: str, spec: "list[tuple[str, str, str]]") -> str:
    """B55 oracle: one SELECT per profiled column, UNION ALL into the
    same long format; min/max formatted AFTER aggregation with the
    same pinned representations (decimal(38,6) text / strftime); the
    LC distinct estimate replays the identical bit derivation
    (integer fixed-point/epoch-µs mix for num/ts, md5 for str). The
    column spec is DERIVED from the parquet schema by the same
    profile_spec the Spark side uses — generated per corpus via
    DYNAMIC_ORACLES, never a hardcoded list."""
    from euclid_spark.functions.hashing import DIGEST_PRIME, MIX

    m = _PROFILE_LC_BITS
    parts = []
    for c, kind, auto in spec:
        if kind == "num":
            # (x % P + P) % P keeps the oracle total over signed inputs:
            # DuckDB % returns negative remainders for negatives while
            # Spark pmod never does — without the fold-up, any signed
            # column entering the derived spec would silently diverge
            bit = (
                f"(((CAST(FLOOR({c} * 1000000) AS BIGINT) % {DIGEST_PRIME}"
                f" + {DIGEST_PRIME}) % {DIGEST_PRIME})"
                f" * {MIX}) % {DIGEST_PRIME} % {m}"
            )
            mn = f"CAST(CAST(MIN({c}) AS DECIMAL(38,6)) AS VARCHAR)"
            mx = f"CAST(CAST(MAX({c}) AS DECIMAL(38,6)) AS VARCHAR)"
            # per-row IEEE fixed-point micros (r14, mirrors the Spark
            # side's _profile_micros_sql byte-for-byte: one double
            # multiply, signed half-offset, truncate — both engines run
            # the identical IEEE ops, so the integer sum matches by
            # construction); the displayed mean replays the half-up
            # quotient in integer micros: (2S+n)//(2n), sign-folded
            # (DuckDB's SUM(BIGINT) is HUGEINT — never wraps, like the
            # Spark side's DECIMAL(38,0) buffer)
            su = (
                f"SUM(CAST(trunc({c} * 1000000 +"
                f" (CASE WHEN {c} >= 0 THEN 0.5 ELSE -0.5 END))"
                f" AS BIGINT))"
            )
            cnt = f"COUNT({c})"
            mean = f"""CAST(CASE WHEN {cnt} = 0 THEN NULL
                 WHEN {su} >= 0 THEN (2 * {su} + {cnt}) // (2 * {cnt})
                 ELSE -((-2 * {su} + {cnt}) // (2 * {cnt}))
            END / 1000000.0 AS DOUBLE)"""
        elif kind == "ts":
            bit = (
                f"(((CAST(epoch_us({c}) AS BIGINT) % {DIGEST_PRIME}"
                f" + {DIGEST_PRIME}) % {DIGEST_PRIME})"
                f" * {MIX}) % {DIGEST_PRIME} % {m}"
            )
            mn = f"strftime(MIN({c}), '%Y-%m-%d %H:%M:%S')"
            mx = f"strftime(MAX({c}), '%Y-%m-%d %H:%M:%S')"
            mean = "CAST(NULL AS DOUBLE)"
        else:
            bit = f"CAST('0x' || substr(md5({c}), 1, 8) AS BIGINT) % {m}"
            mn, mx = f"MIN({c})", f"MAX({c})"
            mean = "CAST(NULL AS DOUBLE)"
        nd = (
            f"CAST(COUNT(DISTINCT {c}) AS BIGINT)"
            if auto == "exact"
            else "CAST(NULL AS BIGINT)"
        )
        # both arms aggregate: the one-row shape must hold even on an
        # empty corpus (MIN over zero rows is one NULL row)
        ns = (
            f"CAST(COUNT(DISTINCT {bit}) AS BIGINT)"
            if auto != "exact"
            else "MIN(CAST(NULL AS BIGINT))"
        )
        parts.append(f"""
            SELECT '{c}' AS "column", s.n_rows, s.n_nulls,
                   '{auto}' AS d_mode, s.n_distinct,
                   CASE WHEN b.n_set < {m}
                        THEN ROUND(-{float(m)!r}
                                   * ln(({m} - b.n_set) * 1.0 / {m}), 2)
                             + 0.0
                   END AS distinct_est,
                   s.min_s, s.max_s, s.mean
            FROM (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                     CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_nulls,
                     {nd} AS n_distinct,
                     {mn} AS min_s, {mx} AS max_s,
                     {mean} AS mean
              FROM {table}
            ) s CROSS JOIN (
              SELECT {ns} AS n_set
              FROM {table} WHERE {c} IS NOT NULL
            ) b""")
    return " UNION ALL ".join(parts)


def _oracle_table_profile(table: str):
    def gen(sf_dir: str) -> str:
        return _profile_sql(
            table, _spec_from_parquet(f"{sf_dir}/{table}.parquet")
        )

    return gen


DYNAMIC_ORACLES = {
    "rel_table_profile": _oracle_table_profile("lineitem"),
    "rel_events_profile": _oracle_table_profile("events"),
}
