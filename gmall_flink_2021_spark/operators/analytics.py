"""Analytic (OVER-window) and multidimensional aggregation operators.

The reference has no ranking/frame functions (SURVEY.md §2.6) and no
grouping sets (§2.5 note) — these extend the engine beyond reference
parity with the standard warehouse analytics a serving layer needs,
plus gap-based sessionization (the batch formulation of session
windows, §2.9 O11).

All are single-shuffle window/rollup plans; monetary arithmetic stays
in exact decimals so results are engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import literal_frame, money, wmoney
from ..functions.timeutil import dated
from ..functions.handles import CacheHandle


def top_orders_per_segment(customer: DataFrame, orders: DataFrame,
                           k: int = 3) -> DataFrame:
    """Top-k orders by value within each market segment (row_number)."""
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (orders
            .join(F.broadcast(customer.select("c_custkey", "c_mktsegment")),
                  orders.o_custkey == F.col("c_custkey"))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("c_mktsegment", "rank", "o_orderkey", "o_totalprice"))


def gmv_daily_delta(orders: DataFrame) -> DataFrame:
    """Daily GMV with day-over-day delta (lag) and running cumulative
    total (frame: unbounded preceding).

    Order-dependent (the dated() contract): an undated order has no
    position on the time axis — a NULL day group would enter the
    running total FIRST on Spark and LAST in SQL, shifting every
    cumulative value by a constant (seeded relational fuzz, r9).
    The plain gmv_daily keeps undated orders as a visible NULL
    group; the delta/cumulative form excludes them."""
    daily = (orders
             .filter(F.col("o_orderdate").isNotNull())
             .groupBy(F.date_trunc("DAY", "o_orderdate").alias("order_day"))
             .agg(F.sum(wmoney("o_totalprice")).cast("decimal(18,2)")
                  .alias("gmv")))
    w = Window.orderBy("order_day")
    run = Window.orderBy("order_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "order_day", "gmv",
        (F.col("gmv") - F.lag("gmv").over(w)).cast("decimal(18,2)")
        .alias("gmv_delta"),
        F.sum("gmv").over(run).cast("decimal(18,2)").alias("gmv_running"))


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based sessionization: a new session starts when the user's
    inter-event gap exceeds ``gap``; emits one row per session with
    bounds and event count (batch form of session_window).  Undated
    events are out of domain (functions.timeutil.dated)."""
    events = dated(events)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(
        F.col("ts") > F.expr(f"prev_ts + interval {gap}"), 1) \
        .otherwise(0)
    sess = (events
            .withColumn("prev_ts", F.lag("ts").over(w))
            .withColumn("is_new_session",
                        F.when(F.col("prev_ts").isNull(), F.lit(1))
                         .otherwise(new_sess))
            .withColumn("session_seq",
                        F.sum("is_new_session").over(
                            w.rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow))))
    return (sess.groupBy("user_id", "session_seq")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"))
            .withColumn("duration_sec",
                        F.expr("timestampdiff(MICROSECOND, session_start,"
                               " session_end) div 1000000").cast("long")))


def priority_rollup(orders: DataFrame) -> DataFrame:
    """ROLLUP(priority, status): per-combination, per-priority and
    grand-total order counts and GMV in one pass."""
    return (orders
            .rollup("o_orderpriority", "o_orderstatus")
            .agg(F.count(F.lit(1)).alias("order_ct"),
                 F.sum(wmoney("o_totalprice")).cast("decimal(18,2)")
                 .alias("gmv")))


def revenue_forecast(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6-style: revenue increase from discounted small-quantity
    items within a shipping year."""
    return (lineitem
            .filter((F.col("l_shipdate") >= F.lit("1998-01-01")
                     .cast("timestamp_ntz"))
                    & (F.col("l_shipdate") < F.lit("1999-01-01")
                       .cast("timestamp_ntz"))
                    & (F.col("l_discount") >= 0.02)
                    & (F.col("l_discount") <= 0.06)
                    & (F.col("l_quantity") < 10))
            .agg(F.sum(wmoney("l_extendedprice") * wmoney("l_discount"))
                 .cast("decimal(18,2)").alias("revenue"),
                 F.count(F.lit(1)).alias("item_ct")))


def customers_without_orders(customer: DataFrame,
                             orders: DataFrame) -> DataFrame:
    """Anti-join: customers that never placed an order."""
    return (customer
            .join(orders.select("o_custkey"),
                  customer.c_custkey == F.col("o_custkey"), "left_anti")
            .select("c_custkey", "c_name", "c_mktsegment"))


def funnel_conversion(events: DataFrame) -> DataFrame:
    """Sequential funnel over the events stream: users who viewed,
    then clicked strictly after their first view, then purchased
    strictly after that first qualifying click — the batch analog of a
    CEP sequence pattern (each stage anchored on the earliest
    qualifying event). One summary row with stage counts and
    conversion rates."""
    v = (events.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("v_ts")))
    c = (events.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter(F.col("ts") > F.col("v_ts"))
         .groupBy("user_id").agg(F.min("ts").alias("c_ts")))
    p = (events.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter(F.col("ts") > F.col("c_ts"))
         .groupBy("user_id").agg(F.min("ts").alias("p_ts")))
    counts = (v.agg(F.count(F.lit(1)).alias("viewers"))
              .crossJoin(c.agg(F.count(F.lit(1)).alias("clickers")))
              .crossJoin(p.agg(F.count(F.lit(1)).alias("purchasers"))))
    # try_divide: an empty funnel stage divides by zero — NULL, not
    # an ANSI error or a NaN (oracle mirrors with nullif)
    return counts.select(
        "viewers", "clickers", "purchasers",
        F.try_divide(F.col("clickers").cast("double"),
                     F.col("viewers").cast("double"))
        .alias("view_to_click"),
        F.try_divide(F.col("purchasers").cast("double"),
                     F.col("clickers").cast("double"))
        .alias("click_to_purchase"))


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def hourly_activity_pivot(events: DataFrame) -> DataFrame:
    """Hour-of-day × event-type activity matrix via PIVOT (explicit
    value list keeps the plan a single pass — no distinct-values
    pre-scan — and fixes the output schema for the oracle)."""
    return (events
            .groupBy(F.hour("ts").alias("hour_of_day"))
            .pivot("event_type", EVENT_TYPES)
            .agg(F.count(F.lit(1)))
            .na.fill(0, EVENT_TYPES))


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort retention: users bucketed by first-active day, counted
    per (cohort day, day offset) of later activity — the standard
    training-corpus/product analytics triangle."""
    day = F.date_trunc("DAY", F.col("ts"))
    first = (events.groupBy("user_id")
             .agg(F.min(day).alias("cohort_day")))
    active = (events
              .select("user_id", day.alias("active_day"))
              .distinct())
    return (active
            .join(first, "user_id")
            .groupBy("cohort_day",
                     F.datediff("active_day", "cohort_day").cast("long")
                     .alias("day_offset"))
            .agg(F.countDistinct("user_id").alias("user_ct")))


def order_count_distribution(customer: DataFrame,
                             orders: DataFrame) -> DataFrame:
    """TPC-H Q13-style: distribution of customers by how many orders
    they placed, including the zero-order bucket (left outer join +
    two-level aggregation)."""
    per_cust = (customer.select("c_custkey")
                .join(orders.select("o_custkey", "o_orderkey"),
                      F.col("c_custkey") == F.col("o_custkey"), "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("order_ct")))
    return (per_cust.groupBy("order_ct")
            .agg(F.count(F.lit(1)).alias("cust_ct")))


def large_volume_customers(customer: DataFrame, orders: DataFrame,
                           lineitem: DataFrame,
                           min_qty: int = 300) -> DataFrame:
    """TPC-H Q18-style: orders whose total lineitem quantity exceeds
    ``min_qty``, joined back to orders and customers (HAVING over a
    fact-side aggregate, then enrichment joins)."""
    big = (lineitem
           .groupBy("l_orderkey")
           .agg(F.sum(wmoney("l_quantity")).cast("decimal(18,2)")
                .alias("total_qty"))
           .filter(F.col("total_qty") > min_qty))
    return (orders
            .join(big, orders.o_orderkey == big.l_orderkey)
            .join(F.broadcast(customer.select("c_custkey", "c_name")),
                  orders.o_custkey == F.col("c_custkey"))
            .select("c_name", "c_custkey", "o_orderkey",
                    F.col("o_orderdate"),
                    wmoney("o_totalprice").alias("o_totalprice"),
                    "total_qty"))


def bilateral_trade(nation: DataFrame, customer: DataFrame,
                    supplier: DataFrame, orders: DataFrame,
                    lineitem: DataFrame) -> DataFrame:
    """TPC-H Q7-style: revenue flowing between each (customer nation,
    supplier nation) pair per order year — a fact table enriched twice
    against the same broadcast dimension chain under different roles."""
    revenue = wmoney("l_extendedprice") * (F.lit(1).cast("decimal(18,2)")
                                          - wmoney("l_discount"))
    cust_n = (customer.select("c_custkey", "c_nationkey")
              .join(F.broadcast(nation), F.col("c_nationkey")
                    == nation.n_nationkey)
              .select("c_custkey", F.col("n_name").alias("cust_nation")))
    supp_n = (supplier.select("s_suppkey", "s_nationkey")
              .join(F.broadcast(nation), F.col("s_nationkey")
                    == nation.n_nationkey)
              .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    return (lineitem
            .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
                  lineitem.l_orderkey == F.col("o_orderkey"))
            .join(F.broadcast(cust_n),
                  F.col("o_custkey") == cust_n.c_custkey)
            .join(F.broadcast(supp_n),
                  lineitem.l_suppkey == supp_n.s_suppkey)
            .filter(F.col("cust_nation") != F.col("supp_nation"))
            .groupBy("cust_nation", "supp_nation",
                     F.year("o_orderdate").alias("trade_year"))
            .agg(F.sum(revenue).cast("decimal(18,2)").alias("revenue"),
                 F.count(F.lit(1)).alias("item_ct")))


def top_revenue_supplier(supplier: DataFrame, lineitem: DataFrame,
                         start: str = "1997-01-01",
                         end: str = "1998-01-01") -> DataFrame:
    """TPC-H Q15-style: the supplier(s) with the maximum lineitem
    revenue inside a shipping window (aggregate view + scalar-max
    subquery; exact decimals make the equality join safe)."""
    revenue = wmoney("l_extendedprice") * (F.lit(1).cast("decimal(18,2)")
                                          - wmoney("l_discount"))
    rev = (lineitem
           .filter((F.col("l_shipdate") >= F.lit(start)
                    .cast("timestamp_ntz"))
                   & (F.col("l_shipdate") < F.lit(end)
                      .cast("timestamp_ntz")))
           .groupBy("l_suppkey")
           .agg(F.sum(revenue).cast("decimal(18,2)")
                .alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (rev
            .join(F.broadcast(mx), rev.total_revenue == F.col("mx"))
            .join(F.broadcast(supplier.select("s_suppkey", "s_name")),
                  rev.l_suppkey == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "total_revenue"))


def small_qty_part_revenue(part: DataFrame, lineitem: DataFrame,
                           brand: str = "Brand#1") -> DataFrame:
    """TPC-H Q17-style: revenue from lineitems whose quantity is below
    half the average quantity for their part.

    The threshold is evaluated as ``2 * qty * cnt < total_qty`` in
    exact decimals — algebraically identical to qty < avg/2 but free
    of engine-dependent double averaging."""
    per_part = (lineitem
                .groupBy(F.col("l_partkey").alias("pk"))
                .agg(F.sum(wmoney("l_quantity")).cast("decimal(18,2)")
                     .alias("part_total_qty"),
                     F.count(F.lit(1)).alias("part_item_ct")))
    return (lineitem
            .join(F.broadcast(part.filter(F.col("p_brand") == brand)
                              .select("p_partkey", "p_brand")),
                  lineitem.l_partkey == F.col("p_partkey"))
            .join(per_part, lineitem.l_partkey == F.col("pk"))
            .filter(wmoney("l_quantity") * 2 * F.col("part_item_ct")
                    < F.col("part_total_qty"))
            .agg(F.sum(wmoney("l_extendedprice")).cast("decimal(18,2)")
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("item_ct")))


def high_balance_inactive_customers(nation: DataFrame,
                                    customer: DataFrame,
                                    orders: DataFrame) -> DataFrame:
    """TPC-H Q22-style: customers with above-average positive account
    balance and no orders, counted per nation (anti-join + scalar-avg
    subquery; the avg comparison is ``bal * cnt > total`` in exact
    decimals so no double averaging crosses engines)."""
    pos = customer.filter(F.col("c_acctbal") > 0)
    stats = pos.agg(F.sum(wmoney("c_acctbal")).cast("decimal(18,2)")
                    .alias("pos_total"),
                    F.count(F.lit(1)).alias("pos_ct"))
    return (customer
            .crossJoin(F.broadcast(stats))
            .filter(wmoney("c_acctbal") * F.col("pos_ct")
                    > F.col("pos_total"))
            .join(orders.select("o_custkey"),
                  F.col("c_custkey") == F.col("o_custkey"), "left_anti")
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("cust_ct"),
                 F.sum(wmoney("c_acctbal")).cast("decimal(18,2)")
                 .alias("total_acctbal")))


def nation_year_revenue(nation: DataFrame, supplier: DataFrame,
                        orders: DataFrame,
                        lineitem: DataFrame) -> DataFrame:
    """TPC-H Q9-style: revenue by supplying nation and order year —
    the fact stream enriched through the supplier→nation broadcast
    chain plus the orders join for the time axis."""
    revenue = wmoney("l_extendedprice") * (F.lit(1).cast("decimal(18,2)")
                                          - wmoney("l_discount"))
    supp_n = (supplier.select("s_suppkey", "s_nationkey")
              .join(F.broadcast(nation), F.col("s_nationkey")
                    == nation.n_nationkey)
              .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    return (lineitem
            .join(orders.select("o_orderkey", "o_orderdate"),
                  lineitem.l_orderkey == F.col("o_orderkey"))
            .join(F.broadcast(supp_n),
                  lineitem.l_suppkey == supp_n.s_suppkey)
            .groupBy("supp_nation",
                     F.year("o_orderdate").alias("order_year"))
            .agg(F.sum(revenue).cast("decimal(18,2)").alias("revenue"),
                 F.count(F.lit(1)).alias("item_ct")))


def late_shipment_priority(orders: DataFrame,
                           lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4-style semi-join: orders with at least one lineitem
    shipped more than 90 days after the order date, counted by
    priority (left_semi — each order counted once)."""
    late = lineitem.select(
        "l_orderkey", "l_shipdate")
    cond = ((orders.o_orderkey == late.l_orderkey)
            & (late.l_shipdate
               > F.expr("o_orderdate + interval 90 days")))
    return (orders
            .join(late, cond, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_ct")))


def purchase_attribution(events: DataFrame) -> DataFrame:
    """As-of join: each purchase attributed to the user's most recent
    view at-or-before it (last-touch attribution).

    Implemented as a union + carry-forward window rather than a range
    join: one shuffle keyed by user, no per-pair blowup — the scalable
    formulation of an as-of join when the right side is dense."""
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("kind"))
    buys = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("kind"))
    w = (Window.partitionBy("user_id").orderBy("ts", "kind")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # NULL identity attributes to nothing: the window groups NULL
    # users into one pseudo-partition (crediting one anonymous
    # user's view to another's purchase) while the equivalent as-of
    # JOIN formulation never matches NULL — the r8 formulation-fork
    # class, surfaced again by the seeded fuzz. The purchase row
    # itself stays (with NULL last_view), matching the oracle's
    # correlated-subquery shape.
    last_view = F.when(
        F.col("user_id").isNotNull(),
        F.max(F.when(F.col("kind") == 0, F.col("ts"))).over(w))
    return (views.unionByName(buys)
            .withColumn("last_view_ts", last_view)
            .filter(F.col("kind") == 1)
            .select("event_id", "user_id", "ts", "last_view_ts",
                    F.expr("timestampdiff(MICROSECOND, last_view_ts, ts)"
                           " div 1000000").cast("long")
                    .alias("gap_sec")))


def rfm_segments(orders: DataFrame) -> DataFrame:
    """RFM customer segmentation — the classic CRM rollup: each
    ordering customer scored by Recency (days from their last order
    to the corpus' latest order date), Frequency (order count) and
    Monetary (total spend in floor-cents), each metric cut into
    exact quartiles (1 = best: most recent / most frequent / highest
    spend), customers grouped into 'R#F#M#' segments with counts and
    total spend. Extends customer_value_quartiles' single-metric
    NTILE to the three-axis grid a campaign pipeline keys on.

    Exactness discipline: quartiles use the integer rank formula
    ((4·(rank−1)) DIV n) + 1 over a deterministic (metric, custkey)
    order — winsorize's discipline, no percentile interpolation;
    spend is floor-cents of exact decimal sums.

    Scale shape: one corpus scan reduces orders to a per-customer
    aggregate (map-side combined); the three rank windows sort that
    |customers|-row AGGREGATE, never raw orders; the segment rollup
    is a second small aggregation. At 1e9 customers swap the exact
    rank passes for percentile_approx cuts, as winsorize documents.
    """
    per_cust = (orders
                .groupBy(F.col("o_custkey").alias("ck"))
                .agg(F.max("o_orderdate").alias("last_order"),
                     F.count(F.lit(1)).alias("freq"),
                     F.floor(F.sum(wmoney("o_totalprice")) * 100)
                     .cast("long").alias("spend_cents")))
    maxd = per_cust.agg(F.max("last_order").alias("corpus_last"))
    base = (per_cust.crossJoin(F.broadcast(maxd))
            .select("ck", "freq", "spend_cents",
                    F.datediff("corpus_last", "last_order")
                    .cast("long").alias("recency_days")))
    scored = (base
              .withColumn("nn", F.count(F.lit(1)).over(
                  Window.partitionBy()))
              .withColumn("r_rn", F.row_number().over(
                  Window.orderBy(F.asc("recency_days"), F.asc("ck"))))
              .withColumn("f_rn", F.row_number().over(
                  Window.orderBy(F.desc("freq"), F.asc("ck"))))
              .withColumn("m_rn", F.row_number().over(
                  Window.orderBy(F.desc("spend_cents"), F.asc("ck"))))
              .select("ck", "spend_cents",
                      F.expr("(4 * (r_rn - 1)) DIV nn + 1").alias("r_q"),
                      F.expr("(4 * (f_rn - 1)) DIV nn + 1").alias("f_q"),
                      F.expr("(4 * (m_rn - 1)) DIV nn + 1")
                      .alias("m_q")))
    return (scored
            .groupBy(F.concat(F.lit("R"), "r_q", F.lit("F"), "f_q",
                              F.lit("M"), "m_q").alias("segment"))
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum("spend_cents").alias("segment_spend_cents")))


def linear_attribution(events: DataFrame) -> DataFrame:
    """Multi-touch (linear) attribution — the complement of
    ``purchase_attribution``'s last-touch rule: every view credits
    the user's NEXT purchase at-or-after it, and each purchase splits
    credit equally across its attributed views (integer permille
    share per touch). Views after a user's final purchase stay
    unconverted and purchases with no prior views since the previous
    purchase report zero touches.

    Scale shape: the same union + carry-forward merge as the as-of
    family, run in REVERSE time order (purchases sort before views at
    equal timestamps so a view on the purchase instant converts):
    ONE user-keyed shuffle, single-row carry state, then a
    map-side-combined count per purchase — no view×purchase pair
    join at any window size.
    """
    buys = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(0).alias("side"),
        F.col("event_id").alias("pid"))
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("pid"))
    w = (Window.partitionBy("user_id")
         .orderBy(F.desc("ts"), F.asc("side"), F.desc("event_id"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    merged = (buys.unionByName(views)
              .withColumn("next_pid",
                          F.last("pid", ignorenulls=True).over(w)))
    touches = (merged
               .filter((F.col("side") == 1)
                       & F.col("next_pid").isNotNull())
               .groupBy(F.col("next_pid").alias("pid"))
               .agg(F.count(F.lit(1)).alias("n_touch")))
    return (buys.select("user_id", "ts",
                        F.col("event_id").alias("purchase_event_id"),
                        "pid")
            .join(touches, "pid", "left")
            .select("purchase_event_id", "user_id", "ts",
                    F.coalesce("n_touch", F.lit(0)).cast("long")
                    .alias("n_touch"),
                    F.expr("CASE WHEN coalesce(n_touch, 0) > 0"
                           " THEN 1000 DIV n_touch ELSE 0 END")
                    .cast("long").alias("touch_share_permille")))


PRICE_TIERS = [("budget", 0.0, 100_000.0),
               ("mid", 100_000.0, 250_000.0),
               ("premium", 250_000.0, 1e12)]


def price_tier_stats(orders: DataFrame) -> DataFrame:
    """Range join: orders banded into price tiers given as [lo, hi)
    intervals. The tier table is literal/dimension-sized, so the
    right plan is a broadcast nested-loop range join — the fact side
    streams through once, no shuffle. (If the interval table were
    large, the scalable rewrite is band-key decomposition: emit one
    row per fixed-width band an interval overlaps, then equi-join on
    the band key.)"""
    tiers = literal_frame(orders.sparkSession,
                          PRICE_TIERS, "tier string, lo double, hi double")
    return (orders
            .join(F.broadcast(tiers),
                  (F.col("o_totalprice") >= F.col("lo"))
                  & (F.col("o_totalprice") < F.col("hi")))
            .groupBy("tier")
            .agg(F.count(F.lit(1)).alias("order_ct"),
                 F.sum(wmoney("o_totalprice")).cast("decimal(18,2)")
                 .alias("gmv")))


def region_segment_cube(region: DataFrame, nation: DataFrame,
                        customer: DataFrame,
                        orders: DataFrame) -> DataFrame:
    """CUBE(region, segment): all four aggregation granularities in
    one pass, with grouping_id distinguishing the subtotal level."""
    dims = (customer.select("c_custkey", "c_nationkey", "c_mktsegment")
            .join(F.broadcast(nation.select("n_nationkey", "n_regionkey")),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(region.select("r_regionkey", "r_name")),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .select("c_custkey", "r_name", "c_mktsegment"))
    return (orders
            .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
            .cube("r_name", "c_mktsegment")
            .agg(F.grouping_id().cast("long").alias("gid"),
                 F.count(F.lit(1)).alias("order_ct"),
                 F.sum(wmoney("o_totalprice")).cast("decimal(18,2)")
                 .alias("gmv")))


def native_session_windows(events: DataFrame,
                           gap: str = "30 minutes") -> DataFrame:
    """Spark's native session_window gap aggregation (the built-in
    form of ``sessionize``; O11 extension): one row per user session,
    where the window end is last-event + gap by definition.
    ``dated()`` is explicit here even though session_window already
    drops NULL event times — the oracle mirrors the same filter."""
    return (dated(events)
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events"))


def returnflag_priority_stats(orders: DataFrame,
                              lineitem: DataFrame) -> DataFrame:
    """TPC-H Q12-style conditional aggregation: per return flag, how
    many 1997-shipped lines belong to high- vs low-priority orders
    (CASE-sum inside a fact⋈fact join; reference has no conditional
    aggregate — added for SQL-surface completeness, cf. SURVEY §2.5
    note)."""
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (lineitem
            .filter((F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
                    & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
            .join(orders.select("o_orderkey", "o_orderpriority"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .agg(F.sum(F.when(high, 1).otherwise(0)).cast("long")
                 .alias("high_line_ct"),
                 F.sum(F.when(high, 0).otherwise(1)).cast("long")
                 .alias("low_line_ct")))


def part_supplier_variety(part: DataFrame, supplier: DataFrame,
                          lineitem: DataFrame) -> DataFrame:
    """TPC-H Q16-style: distinct suppliers able to ship each
    (brand, size) bucket, excluding a NOT IN supplier blacklist.
    Spark-first: the blacklist is a broadcast left_anti join (no
    correlated NOT IN at runtime); supplier-part pairs come from the
    lineitem fact (this schema has no partsupp table)."""
    blacklist = supplier.filter(F.col("s_acctbal") < 1000).select("s_suppkey")
    pairs = (lineitem.select("l_partkey", "l_suppkey").distinct()
             .join(F.broadcast(blacklist),
                   F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"))
    return (pairs
            .join(F.broadcast(part.select("p_partkey", "p_brand", "p_size")
                              .filter((F.col("p_brand") != "Brand#45")
                                      & F.col("p_size").isin(
                                          1, 4, 7, 10, 13, 16, 19, 22))),
                  F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_ct")))


def sole_late_suppliers(supplier: DataFrame, orders: DataFrame,
                        lineitem: DataFrame) -> DataFrame:
    """TPC-H Q21-style: suppliers who were the ONLY late shipper in a
    finished multi-supplier order ("late" = shipped >60 days after
    the order date). The classic EXISTS / NOT EXISTS double
    correlation is re-expressed Spark-first as ONE per-order
    aggregation (distinct-supplier count, distinct-late-supplier
    count, late-line count) — a single shuffle instead of two
    correlated re-scans of lineitem; the DuckDB oracle keeps the
    textbook correlated form to pin equivalence."""
    li = (lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(orders.filter(F.col("o_orderstatus") == "F")
                .select("o_orderkey", "o_orderdate"),
                F.col("l_orderkey") == F.col("o_orderkey")))
    late = F.col("l_shipdate") > F.expr("o_orderdate + interval 60 days")
    # numwait counts the sole supplier's OWN late lines: a late line
    # with NULL l_suppkey belongs to no supplier, and the correlated
    # NOT-EXISTS form never attributes it (NULL never equi-joins) —
    # the aggregate form must not count it either (seeded relational
    # fuzz, round 9)
    late_owned = late & F.col("l_suppkey").isNotNull()
    per_order = (li.groupBy("l_orderkey")
                 .agg(F.countDistinct("l_suppkey").alias("supp_ct"),
                      F.countDistinct(F.when(late, F.col("l_suppkey")))
                      .alias("late_supp_ct"),
                      F.max(F.when(late, F.col("l_suppkey")))
                      .alias("late_supp"),
                      F.sum(F.when(late_owned, 1).otherwise(0))
                      .alias("late_line_ct")))
    return (per_order
            .filter((F.col("supp_ct") >= 2) & (F.col("late_supp_ct") == 1))
            .join(F.broadcast(supplier.select("s_suppkey", "s_name")),
                  F.col("late_supp") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.sum("late_line_ct").cast("long").alias("numwait")))


def grouping_sets_revenue(lineitem: DataFrame) -> DataFrame:
    """GROUPING SETS ((flag, status), (flag), ()): three aggregation
    granularities in one pass — the explicit-sets sibling of
    region_segment_cube (SURVEY §2.5 note: absent in the reference,
    free in Spark).

    Two-level form (r11, guide §2.3 "aggregate before you shuffle"):
    a direct groupingSets over the fact EXPANDs every line 3x before
    the partial aggregation, tripling the map-side decimal work; here
    the fact first reduces to one exact (flag, status) partial per
    group (count + decimal sum — associative, so sum-of-sums is the
    same value), and the grouping sets then expand only the handful
    of partial rows. Data-borne NULL keys stay distinguishable from
    rollup NULLs exactly as before: the inner aggregate keeps NULL
    group keys as keys, and grouping_id marks only the rollup arms."""
    revenue = wmoney("l_extendedprice") * (F.lit(1).cast("decimal(18,2)")
                                          - wmoney("l_discount"))
    pre = (lineitem
           .groupBy("l_returnflag", "l_linestatus")
           .agg(F.count(F.lit(1)).alias("_ct"),
                F.sum(revenue).alias("_rev")))
    return (pre
            .groupingSets([["l_returnflag", "l_linestatus"],
                           ["l_returnflag"], []],
                          "l_returnflag", "l_linestatus")
            .agg(F.grouping_id().cast("long").alias("gid"),
                 F.sum("_ct").alias("line_ct"),
                 F.sum("_rev").cast("decimal(18,2)").alias("revenue")))


def returnflag_part_overlap(lineitem: DataFrame) -> DataFrame:
    """INTERSECT / EXCEPT set ops (SURVEY §2.7: none in the
    reference; added): partition the part space by whether a part was
    returned ('R') in the late period vs accepted ('N') in the early
    period — the date windows keep all three buckets non-trivial."""
    r = (lineitem.filter((F.col("l_returnflag") == "R")
                         & (F.col("l_shipdate")
                            >= F.lit("2000-01-01").cast("timestamp")))
         .select("l_partkey"))
    n = (lineitem.filter((F.col("l_returnflag") == "N")
                         & (F.col("l_shipdate")
                            < F.lit("1996-01-01").cast("timestamp")))
         .select("l_partkey"))

    def bucket(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.lit(name).alias("bucket"),
                      F.count(F.lit(1)).alias("part_ct"))

    return (bucket(r.intersect(n), "both")
            .unionByName(bucket(r.subtract(n), "returned_only"))
            .unionByName(bucket(n.subtract(r), "accepted_only")))


def returned_item_customers(nation: DataFrame, customer: DataFrame,
                            orders: DataFrame,
                            lineitem: DataFrame) -> DataFrame:
    """TPC-H Q10-style: customers ranked by revenue lost to returned
    items in one quarter — fact⋈fact shuffle join, broadcast dim
    chain, heap top-20 (TakeOrderedAndProject; c_custkey is the
    unique tie-break the oracle hash-compare needs)."""
    revenue = wmoney("l_extendedprice") * (F.lit(1).cast("decimal(18,2)")
                                          - wmoney("l_discount"))
    return (lineitem
            .filter(F.col("l_returnflag") == "R")
            .join(orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp")))
                .select("o_orderkey", "o_custkey"),
                F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(customer
                              .select("c_custkey", "c_name", "c_nationkey")),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation.select("n_nationkey", "n_name")),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(F.sum(revenue).cast("decimal(18,2)").alias("revenue"))
            .orderBy(F.desc("revenue"), "c_custkey")
            .limit(20))


def nation_market_share(region: DataFrame, nation: DataFrame,
                        customer: DataFrame, supplier: DataFrame,
                        orders: DataFrame, lineitem: DataFrame,
                        target_nation: str = "NATION_3",
                        target_region: str = "ASIA") -> DataFrame:
    """TPC-H Q8-style market share: per order year, the fraction of
    ASIA-customer revenue supplied by one nation. Numerator and
    denominator stay DECIMAL (order-independent exact sums); only the
    final ratio is a double — one IEEE division of identical operands
    on both engines, rounded to 6 for belt-and-braces."""
    revenue = wmoney("l_extendedprice") * (F.lit(1).cast("decimal(18,2)")
                                          - wmoney("l_discount"))
    cust_in_region = (customer.select("c_custkey", "c_nationkey")
                      .join(F.broadcast(nation
                                        .select("n_nationkey", "n_regionkey")),
                            F.col("c_nationkey") == F.col("n_nationkey"))
                      .join(F.broadcast(region.filter(
                          F.col("r_name") == target_region)),
                          F.col("n_regionkey") == F.col("r_regionkey"))
                      .select("c_custkey"))
    supp_nation = (supplier.select("s_suppkey", "s_nationkey")
                   .join(F.broadcast(nation.select(
                       "n_nationkey", F.col("n_name").alias("supp_nation"))),
                       F.col("s_nationkey") == F.col("n_nationkey"))
                   .select("s_suppkey", "supp_nation"))
    target = F.col("supp_nation") == target_nation
    return (lineitem
            .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(cust_in_region),
                  F.col("o_custkey") == F.col("c_custkey"), "left_semi")
            .join(F.broadcast(supp_nation),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
            .agg(F.sum(F.when(target, revenue)
                       .otherwise(F.lit(0).cast("decimal(18,2)")))
                 .cast("decimal(18,2)").alias("nation_revenue"),
                 F.sum(revenue).cast("decimal(18,2)").alias("total_revenue"))
            .select("order_year", "nation_revenue", "total_revenue",
                    F.round(F.col("nation_revenue").cast("double")
                            / F.col("total_revenue").cast("double"), 6)
                    .alias("mkt_share")))


def event_metrics_unpivot(events: DataFrame) -> DataFrame:
    """Wide→long metric reshaping: per-day conditional counts pivoted
    wide (the DWS sparse-metric shape), then unpivoted back to
    (day, metric, ct) rows with ``stack`` — the inverse of
    ``hourly_activity_pivot`` and the standard feed shape for metric
    stores. Spark's unpivot is a generator expression in the
    projection: no shuffle beyond the original aggregate."""
    day = F.date_trunc("DAY", F.col("ts")).alias("day")
    wide = (events.groupBy(day)
            .agg(*[F.sum((F.col("event_type") == t).cast("long"))
                   .alias(t) for t in ("click", "view", "purchase")]))
    return wide.select(
        "day",
        F.expr("stack(3, 'click', click, 'view', view, "
               "'purchase', purchase) AS (metric, ct)"))


def customer_value_quartiles(customer: DataFrame,
                             orders: DataFrame) -> DataFrame:
    """NTILE quartiles over customer lifetime value: customers ranked
    by total order spend, cut into 4 equal-frequency buckets, one
    summary row per bucket (count, spend bounds, bucket total). The
    remaining OVER-window family member alongside row_number/lag/
    running sums (§2.6 extension) — one shuffle for the per-customer
    aggregate, one global-order window over the (much smaller)
    customer aggregate."""
    spend = (orders.groupBy("o_custkey")
             .agg(F.sum(wmoney("o_totalprice")).cast("decimal(18,2)")
                  .alias("spend")))
    w = Window.orderBy(F.desc("spend"), F.asc("o_custkey"))
    tiled = (customer.select("c_custkey")
             .join(spend, F.col("c_custkey") == F.col("o_custkey"))
             .withColumn("quartile", F.ntile(4).over(w).cast("long")))
    return (tiled.groupBy("quartile")
            .agg(F.count(F.lit(1)).alias("cust_ct"),
                 F.min("spend").alias("min_spend"),
                 F.max("spend").alias("max_spend"),
                 F.sum("spend").cast("decimal(18,2)").alias("total_spend"))
            .orderBy("quartile"))


def snapshot_diff(old: DataFrame, new: DataFrame, pk: str,
                  cols: list[str],
                  include_unchanged: bool = False) -> DataFrame:
    """Snapshot reconciliation: classify every primary key across two
    versions of a table as inserted / deleted / updated (optionally
    unchanged) — the audit a CDC pipeline (S2/S3 family) runs to prove
    a replayed changelog converged to the source, and the diff step of
    any dataset-versioning workflow.

    Each side is reduced in its scan projection to (pk, md5 row
    digest) — ONE column comparison downstream regardless of table
    width, and the only shuffled payload is pk + 32 hex chars. The
    digest never crosses engines (the oracle classifies with direct
    IS DISTINCT FROM column compares), so engine-specific string casts
    inside md5 are safe. The digest input is JSON (null fields kept),
    so field boundaries are escaped — values containing separator
    bytes, and null vs the string "null", cannot collide across
    columns the way a naive concat_ws digest can.

    Scale shape: one full-outer sort-merge join keyed by pk — a single
    shuffle of digests per side; with both versions bucketed by pk
    (operators/bucketing.py) it is shuffle-free. Never collects,
    never broadcasts a corpus-sized side.
    """
    def digest(df: DataFrame, out: str) -> DataFrame:
        d = F.md5(F.to_json(
            F.struct(*[F.col(c).cast("string").alias(c) for c in cols]),
            {"ignoreNullFields": "false"}))
        return df.select(F.col(pk).alias("pk"), d.alias(out))

    j = digest(old, "oh").join(digest(new, "nh"), "pk", "full_outer")
    change = (F.when(F.col("oh").isNull(), F.lit("inserted"))
              .when(F.col("nh").isNull(), F.lit("deleted"))
              .when(F.col("oh") != F.col("nh"), F.lit("updated"))
              .otherwise(F.lit("unchanged")))
    out = j.select("pk", change.alias("change_type"))
    if not include_unchanged:
        out = out.filter(F.col("change_type") != "unchanged")
    return out


def daily_value_zscores(events: DataFrame, trailing: int = 7,
                        min_prior: int = 3) -> DataFrame:
    """Time-series anomaly scoring for pipeline monitoring: each
    (event_type, day)'s value mass gets a z-score against its own
    TRAILING ``trailing``-day window (rowsBetween(-trailing, -1) — a
    bounded frame, not the running unbounded-preceding family), the
    drift detector a warehouse runs over its daily loads.

    Exactness discipline: the frame aggregates run over INTEGER cents
    (exact decimal day sums × 100), so sliding-frame summation order
    (Spark's buffer walk vs DuckDB's segment tree) cannot produce ulp
    drift; mean/variance/z are then derived by an identical float
    expression tree on both engines and the z is rounded to 6 dp.
    Variance uses the sum-of-squares identity on exact integers; the
    per-day square is widened to decimal(38,0) (HUGEINT in the
    oracle) so a $92M+ day cannot silently wrap int64.
    Days with fewer than ``min_prior`` trailing observations or zero
    variance get a null z (cold start / constant series).

    Scale shape: one map-side-combined daily aggregation, then a
    window over the DAYS-sized frame (per event_type) — the window
    input is O(days·types), not O(events)."""
    day = F.date_trunc("day", F.col("ts"))
    daily = (dated(events)
             .groupBy("event_type", day.alias("day"))
             .agg((F.sum(money("value")) * 100).cast("long")
                  .alias("cents")))
    return score_daily_cents(daily, trailing, min_prior)


def score_daily_cents(daily: DataFrame, trailing: int = 7,
                      min_prior: int = 3) -> DataFrame:
    """The shared scoring half of daily_value_zscores: trailing-frame
    mean/variance/z over a (event_type, day, cents) frame, kept
    apart from the daily cent sums it reads."""
    daily = daily.withColumn(
        "cents_sq",
        F.col("cents").cast("decimal(38,0)") * F.col("cents"))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(-trailing, -1))
    n = F.count("cents").over(w)
    s = F.sum("cents").over(w).cast("double")
    ss = F.sum("cents_sq").over(w).cast("double")
    mean = s / n
    var = (ss - s * s / n) / (n - 1)
    # fixed-point quantization instead of round(z, 6): at large |z|
    # (a 1e12-value outlier day) a 6-dp round sits past double
    # precision and Spark (HALF_UP on the exact decimal expansion)
    # and SQL engines (binary rounding) fork on half-way cases —
    # floor(x·1e6 + ½)/1e6 is pure IEEE arithmetic, bit-identical
    # everywhere (the kmeans-fingerprint discipline; seeded-fuzz
    # find, round 9)
    zraw = (F.col("cents") - mean) / F.sqrt(var)
    # quantize only while zraw·1e6 is far inside the long range:
    # Spark's floor(double) returns LONG (clamps at 2^63) while
    # DuckDB's floor stays DOUBLE, so the engines fork when
    # |zraw|·1e6 ≥ 2^63.  Above 9e12 a 1e-6 quantum is already below
    # double ULP (~2e-3 at that magnitude), so passing zraw through
    # unquantized keeps the two sides bit-identical — both compute
    # the same IEEE (cents−mean)/sqrt(var).  Mirrored in the
    # daily_value_zscores oracle (plans/analytics.py).
    z = F.when(F.abs(zraw) < F.lit(9e12),
               F.floor(zraw * 1e6 + F.lit(0.5)) / F.lit(1e6)
               ).otherwise(zraw)
    return (daily
            .select("event_type", "day", "cents",
                    n.cast("long").alias("n_prior"),
                    F.when((n >= min_prior) & (var > 0), z).alias("z")))


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over event types: for
    every consecutive event pair within a user's timeline (ordered by
    ts, event_id ties deterministic), count (prev_type → next_type)
    transitions and each row's within-prev share in permille — the
    behavior-sequence audit a funnel/recommendation pipeline runs
    before modeling (which step follows which, where do flows die).

    Integer-exact throughout: counts are longs and the share is
    truncating integer division (1000·n) DIV row_total — no float
    ratio anywhere.

    Scale shape: ONE shuffle keyed by user (the lag window — state is
    a single previous row per user, never the whole timeline), then a
    map-side-combined aggregation onto a |types|² result; the permille
    window runs over that tiny aggregate, not the corpus. Extends the
    reference's per-event funnel (dwm UserJumpDetailApp's CEP pairs,
    gmall-realtime/.../app/dwm/UserJumpDetailApp.java:60) to the full
    type×type matrix.
    """
    # final tiebreak on event_type: two events tied on (ts, NULL
    # event_id) with DIFFERENT types have no deterministic order
    # otherwise, and the transition pair they form flips per engine
    # (seeded fuzz, seed 10002); identical (ts, id, type) triples
    # commute, so this closes the ambiguity completely
    w = Window.partitionBy("user_id").orderBy("ts", "event_id",
                                              "event_type")
    pairs = (dated(events)
             .select("user_id", "ts", "event_id", "event_type")
             .withColumn("prev_type", F.lag("event_type").over(w))
             .filter(F.col("prev_type").isNotNull())
             .groupBy("prev_type",
                      F.col("event_type").alias("next_type"))
             .agg(F.count(F.lit(1)).alias("transitions")))
    return (pairs
            .withColumn("row_total",
                        F.sum("transitions").over(
                            Window.partitionBy("prev_type")))
            .select("prev_type", "next_type", "transitions",
                    F.expr("(1000 * transitions) DIV row_total")
                    .cast("long").alias("row_permille")))


def session_path_ngrams(events: DataFrame, n: int = 3,
                        top_k: int = 20,
                        gap: str = "30 minutes") -> DataFrame:
    """Most common n-step user paths: events are sessionized (same
    gap rule as ``sessionize``), each session's event-type sequence
    is shingled into order-preserving n-grams ('view>click>purchase'),
    and the corpus-wide top-``top_k`` paths are ranked by exact count
    — the 'common paths' report behind funnel design, one level up
    from event_transitions' bigram matrix (paths keep ORDER WITHIN
    SESSION, transitions span sessions and lose it).

    Scale shape: one user-keyed window pass assigns session ids (two
    stacked windows, same shuffle), sessions collapse to ordered
    type arrays (bounded by session length — the n-gram fan-out is
    |session|−n+1 per session, never a self-join), and the count is
    map-side combined into a |distinct paths| aggregate with the
    top-k off a heap. Ties at the boundary break on the path string.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = (Window.partitionBy("user_id").orderBy("ts", "event_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sess = (dated(events)
            .select("user_id", "ts", "event_id", "event_type")
            .withColumn("prev_ts", F.lag("ts").over(w))
            .withColumn("is_new",
                        F.when(F.col("prev_ts").isNull()
                               | (F.col("ts") > F.expr(
                                   f"prev_ts + interval {gap}")),
                               1).otherwise(0))
            .withColumn("sess", F.sum("is_new").over(cum)))
    # NULL event_type is coded as a literal token: concat_ws SKIPS
    # NULLs (a ['click', NULL, NULL] trigram would silently shrink
    # to 'click') while SQL || propagates them (whole path NULL) —
    # the seeded fuzz forked here. An untyped event still splits/
    # extends sessions; it just shows up named in the path.
    arrs = (sess
            .groupBy("user_id", "sess")
            .agg(F.array_sort(F.collect_list(
                F.struct("ts", "event_id", "event_type"))).alias("ev"))
            .select(F.expr(
                "transform(ev, x -> coalesce(x.event_type, '(null)'))")
                .alias("types")))
    grams = (arrs
             .filter(F.size("types") >= n)
             .select(F.explode(F.expr(
                 f"transform(sequence(0, size(types) - {n}), i -> "
                 f"concat_ws('>', {', '.join(f'types[i + {j}]' for j in range(n))}))"))
                 .alias("path")))
    return (grams.groupBy("path")
            .agg(F.count(F.lit(1)).alias("path_ct"))
            .orderBy(F.desc("path_ct"), "path")
            .limit(top_k)
            .withColumn("path_rank",
                        F.row_number().over(
                            Window.orderBy(F.desc("path_ct"), "path"))
                        .cast("long")))


def scd2_dim_join(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Effective-dated (SCD-type-2) dimension enrichment — the
    read side of the warehouse's dim-upsert story (K4,
    streaming/sinks.upsert_dim writes versioned dims; this is how a
    fact scan consumes them): each lineitem is joined to the order-
    status version in effect ON ITS SHIP DATE, then revenue rolls up
    by effective status. Versions are derived deterministically here
    (v1 = the order's status from o_orderdate; v2 = status 'X' from
    o_orderdate + 365 days for o_orderkey % 5 == 0 — snapshot_diff's
    mutation rule), so the operator doubles as the documented recipe
    for any real SCD2 table with (key, eff_from, attrs) rows.

    Scale shape: the as-of semantics use the union + carry-forward
    window (purchase_attribution's formulation) — versions tagged
    side 0, facts side 1, ONE shuffle keyed by order with
    last(status) carried over (eff_from/ship-date, side) order — so a
    dim with many versions per key never pair-joins against the
    fact table (the inequality-join form the oracle uses is ≤
    |versions/key|·|facts| and blows up when versions accumulate;
    the merge form is linear in rows whatever the version count).
    Revenue is floor-cents of exact decimal sums.
    """
    enriched = scd2_enrich(orders, lineitem)
    revenue = wmoney("px") * (F.lit(1).cast("decimal(18,2)")
                             - wmoney("dc"))
    return (enriched
            .groupBy("eff_status")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.countDistinct("k").alias("order_ct"),
                 F.floor(F.sum(revenue) * 100).cast("long")
                 .alias("revenue_cents")))


def scd2_enrich(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Per-row half of scd2_dim_join: each fact row tagged with the
    dimension version in effect on its ship date, via the union +
    carry-forward merge (one order-keyed shuffle). Facts shipping
    before their key's first version (the synthetic corpus has many)
    get the explicit 'pre-order' category rather than silently
    inheriting anything. Effective status depends only on the fact
    row and the static version table, so batching cannot change any
    row's assignment (Flink's temporal-table-join semantics, FOR
    SYSTEM_TIME AS OF, on a static dim)."""
    # SCD2 date domain (seeded relational fuzz, round 9): a version
    # with NULL eff_from is effective from nothing — in the window
    # form it would sort NULLS FIRST and poison every later fact,
    # while the oracle's inequality join never matches it; an
    # undated or keyless fact has no as-of point and no partition —
    # both are out of the operator's domain on BOTH sides.
    dated_orders = orders.filter(F.col("o_orderdate").isNotNull()
                                 & F.col("o_orderkey").isNotNull())
    v1 = dated_orders.select(F.col("o_orderkey").alias("k"),
                             F.col("o_orderstatus").alias("status"),
                             F.col("o_orderdate").alias("t"))
    v2 = (dated_orders.filter(F.col("o_orderkey") % 5 == 0)
          .select(F.col("o_orderkey").alias("k"),
                  F.lit("X").alias("status"),
                  (F.col("o_orderdate")
                   + F.expr("interval 365 days")).alias("t")))
    versions = v1.unionByName(v2).select(
        "k", "t", F.lit(0).alias("side"), "status",
        F.lit(None).cast("double").alias("px"),
        F.lit(None).cast("double").alias("dc"))
    facts = (lineitem
             .filter(F.col("l_shipdate").isNotNull()
                     & F.col("l_orderkey").isNotNull())
             .select(
                 F.col("l_orderkey").alias("k"),
                 F.col("l_shipdate").alias("t"),
                 F.lit(1).alias("side"),
                 F.lit(None).cast("string").alias("status"),
                 F.col("l_extendedprice").alias("px"),
                 F.col("l_discount").alias("dc")))
    w = (Window.partitionBy("k").orderBy("t", "side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (versions.unionByName(facts)
            .withColumn("eff_status",
                        F.last("status", ignorenulls=True).over(w))
            .filter(F.col("side") == 1)
            .select("k", "t", "px", "dc",
                    F.coalesce("eff_status", F.lit("pre-order"))
                    .alias("eff_status")))


def trade_pagerank(nation: DataFrame, customer: DataFrame,
                   supplier: DataFrame, orders: DataFrame,
                   lineitem: DataFrame, iters: int = 3
                   ) -> tuple[DataFrame, CacheHandle]:
    """PageRank-style trade centrality over the nation trade graph:
    revenue flows supplier-nation → customer-nation (bilateral_trade's
    edges, collapsed over years), and a fixed number of
    weight-proportional rank iterations scores which nations sit at
    the center of the flow — the iterative-graph-analytics shape
    (joins + aggregations per round) on top of one fact scan.

    Exactness: edge weights are exact decimal revenue summed then
    taken as integer cents; ranks start at 1e6 and every update is
    pure integer arithmetic — contribution = (r·w) DIV w_out per
    edge, new rank = 150000 + (850·inflow) DIV 1000 — so the result
    is bit-identical on any engine and the oracle can unroll the same
    ``iters`` rounds as CTEs. (Damping mass lost to integer floors
    and dangling redistribution are deliberately NOT modeled — this
    is a centrality score with PageRank's shape, not a stochastic
    matrix; the simplification is part of the contract.)

    Scale shape: the fact scan aggregates to a ≤|nations|² edge list
    (map-side combined, broadcast dimension chain — bilateral_trade's
    plan), which is BOUNDED BY SCHEMA at 25² rows no matter the
    corpus size — so it is collected once and the rank recurrence
    runs driver-side (the dup_clusters / BPE sub-threshold
    precedent: one bounded collect, exact Python loop, local result
    frame). At 100 TB the only data pass is the single edge
    aggregation. A billion-NODE graph — where the edge list is not
    schema-bounded — swaps the driver loop for the same joins as
    distributed frames checkpointed per round; this operator's graph
    never is.
    """
    revenue = wmoney("l_extendedprice") * (F.lit(1).cast("decimal(18,2)")
                                          - wmoney("l_discount"))
    cust_n = (customer.select("c_custkey", "c_nationkey")
              .join(F.broadcast(nation), F.col("c_nationkey")
                    == nation.n_nationkey)
              .select("c_custkey", F.col("n_name").alias("dst")))
    supp_n = (supplier.select("s_suppkey", "s_nationkey")
              .join(F.broadcast(nation), F.col("s_nationkey")
                    == nation.n_nationkey)
              .select("s_suppkey", F.col("n_name").alias("src")))
    edges = (lineitem
             .join(orders.select("o_orderkey", "o_custkey"),
                   lineitem.l_orderkey == F.col("o_orderkey"))
             .join(F.broadcast(cust_n),
                   F.col("o_custkey") == cust_n.c_custkey)
             .join(F.broadcast(supp_n),
                   lineitem.l_suppkey == supp_n.s_suppkey)
             .filter(F.col("src") != F.col("dst"))
             .groupBy("src", "dst")
             .agg(F.floor(F.sum(revenue) * 100).cast("long")
                  .alias("w")))
    # ONE action over the corpus; output bounded at |nations|² rows
    edge_rows = [(r.src, r.dst, r.w) for r in edges.collect()]
    nodes = sorted(r.n_name for r in
                   nation.select("n_name").collect())
    wout: dict[str, int] = {}
    in_deg: dict[str, int] = {}
    out_deg: dict[str, int] = {}
    for s, d, w in edge_rows:
        wout[s] = wout.get(s, 0) + w
        in_deg[d] = in_deg.get(d, 0) + 1
        out_deg[s] = out_deg.get(s, 0) + 1
    ranks = {n: 1_000_000 for n in nodes}
    for _ in range(iters):
        inflow: dict[str, int] = {}
        for s, d, w in edge_rows:
            inflow[d] = inflow.get(d, 0) + (ranks[s] * w) // wout[s]
        ranks = {n: 150_000 + (850 * inflow.get(n, 0)) // 1000
                 for n in nodes}
    spark = nation.sparkSession
    out = literal_frame(
        spark,
        [(n, ranks[n], in_deg.get(n, 0), out_deg.get(n, 0))
         for n in nodes],
        "node string, rank_micro long, in_edges long, out_edges long")
    # edges: recomputable lineage, for audits/tests (never persisted —
    # the handle is an access channel here, not a release obligation)
    return out, CacheHandle(edges=edges)


def part_cooccurrence(lineitem: DataFrame, top_k: int = 20
                      ) -> tuple[DataFrame, CacheHandle]:
    """Market-basket co-occurrence mining: the ``top_k`` part pairs
    most often bought together in one order, with exact counts and an
    integer-permille lift (observed co-rate vs the independence
    expectation) — the 'frequently bought together' serving query.

    Scale shape: NO self-join of the fact table. Each order's part
    set is collected once (baskets are small — TPC-H orders hold ≤7
    lineitems, so the within-array pair fan-out is bounded by
    |basket|², a constant), pairs explode from the array, and one
    map-side-combined count keyed by (part_a, part_b) follows. The
    lift join runs AFTER the top-k heap, against |parts|-row count
    aggregates with the k-row side broadcast. A self-join formulation
    (the oracle's shape) would shuffle the fact table twice and
    blow up on any skewed basket; the array form caps the fan-out at
    the basket-size bound by construction.

    Integer-exact: lift_permille = (1000·pair_ct·n_baskets) DIV
    (ct_a·ct_b); ties at the top-k boundary break on (a, b).
    """
    # baskets feeds the pair fan-out, the per-part counts and the
    # basket total — persist so the fact table is scanned ONCE;
    # caller releases via the returned handle (recompute-on-reuse)
    baskets = lineitem.select("l_orderkey", "l_partkey").distinct() \
        .persist()
    arr = (baskets.groupBy("l_orderkey")
           .agg(F.sort_array(F.collect_set("l_partkey"))
                .alias("parts")))
    pairs = (arr
             .select(F.explode(F.flatten(F.expr(
                 "transform(parts, (a, i) -> "
                 "transform(slice(parts, i + 2, size(parts)), "
                 "b -> struct(a, b)))"))).alias("p"))
             .select(F.col("p.a").alias("part_a"),
                     F.col("p.b").alias("part_b")))
    top = (pairs.groupBy("part_a", "part_b")
           .agg(F.count(F.lit(1)).alias("pair_ct"))
           .orderBy(F.desc("pair_ct"), "part_a", "part_b")
           .limit(top_k))
    part_ct = (baskets.groupBy(F.col("l_partkey").alias("pk"))
               .agg(F.count(F.lit(1)).alias("pct")))
    n_baskets = arr.agg(F.count(F.lit(1)).alias("nb"))
    out = (part_ct
           .join(F.broadcast(top.crossJoin(F.broadcast(n_baskets))),
                 F.col("pk") == F.col("part_a"))
           .select("part_a", "part_b", "pair_ct", "nb",
                   F.col("pct").alias("ct_a"))
           .join(part_ct, F.col("pk") == F.col("part_b"))
           .select("part_a", "part_b", "pair_ct",
                   F.expr("(1000 * pair_ct * nb) DIV (ct_a * pct)")
                   .cast("long").alias("lift_permille")))
    return out, CacheHandle(baskets=baskets)


def gap_fill_daily(events: DataFrame) -> DataFrame:
    """Dense daily series per event type with gap filling and
    last-observation-carried-forward — the regularization step before
    any drift/z-score/forecast consumer (daily_value_zscores assumes
    a dense index; real feeds have holes, and a silently missing day
    reads as 'no change' instead of 'no data' without this).

    Per type, a calendar spine spans the CORPUS day range (shared
    extent, so every series aligns); missing days join to null and
    are emitted with ``n_events = 0``, ``is_gap = 1`` and
    ``locf_events`` carrying the last observed count (0 before the
    first observation). Counts are integers end to end.

    Scale shape: the corpus collapses to a (type, day) count
    aggregate first (map-side combined); the spine is |types|·|days|
    rows built from a broadcast 1-row extent; the LOCF window sorts
    the AGGREGATE per type, never raw events.
    """
    day = F.date_trunc("DAY", "ts")
    daily = (events
             .groupBy(F.col("event_type"), day.alias("day"))
             .agg(F.count(F.lit(1)).alias("n_obs")))
    ext = events.agg(F.min(day).alias("d_min"),
                     F.max(day).alias("d_max"))
    spine = (events.select("event_type").distinct()
             .crossJoin(F.broadcast(ext))
             .select("event_type",
                     F.explode(F.sequence(
                         F.col("d_min"), F.col("d_max"),
                         F.expr("interval 1 day"))).alias("day")))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (spine
            .join(daily, ["event_type", "day"], "left")
            .select("event_type", "day",
                    F.coalesce("n_obs", F.lit(0)).cast("long")
                    .alias("n_events"),
                    F.col("n_obs").isNull().cast("long").alias("is_gap"),
                    F.coalesce(F.last("n_obs", ignorenulls=True).over(w),
                               F.lit(0)).cast("long")
                    .alias("locf_events")))


def rolling_active_users(events: DataFrame,
                         window_days: int = 7) -> DataFrame:
    """Exact rolling N-day active users (WAU when N=7) per day, plus
    same-day actives and the DAU/WAU stickiness ratio in integer
    permille — the product-analytics rollup the reference's DWS layer
    serves daily (VisitorStats day grain,
    gmall-realtime/.../app/dws/VisitorStatsApp.java), extended to the
    sliding-distinct form Spark has no native window frame for
    (COUNT(DISTINCT) OVER RANGE is unsupported — and at scale would
    hold the whole window's user set per day anyway).

    The scalable formulation is contribution expansion: dedupe to
    (user, active_day) once, fan each row out to the ≤N window days
    it contributes to, dedupe (user, window_day), count per day. Both
    shuffles are linear·N with map-side combine; no per-day user-set
    state, no self-join of days. Trailing days past the last observed
    day are trimmed (they'd report windows that haven't closed).
    Counts and the permille ratio are integer-exact.
    """
    user_days = (events
                 .select("user_id",
                         F.date_trunc("DAY", "ts").alias("day"))
                 .distinct())
    expanded = user_days.select(
        "user_id",
        F.explode(F.sequence(
            F.col("day"),
            F.col("day") + F.expr(f"interval {window_days - 1} days"),
            F.expr("interval 1 day"))).alias("day"))
    rolling = (expanded
               .groupBy("user_id", "day").agg(F.lit(1))
               .groupBy("day")
               .agg(F.count(F.lit(1)).alias("rolling_users")))
    daily = (user_days.groupBy("day")
             .agg(F.count(F.lit(1)).alias("day_users")))
    maxday = user_days.agg(F.max("day").alias("max_day"))
    return (rolling
            .crossJoin(F.broadcast(maxday))
            .filter(F.col("day") <= F.col("max_day"))
            .join(daily, "day", "left")
            .select("day",
                    F.coalesce("day_users", F.lit(0)).cast("long")
                    .alias("day_users"),
                    "rolling_users",
                    F.expr("(1000 * coalesce(day_users, 0))"
                           " DIV rolling_users").cast("long")
                    .alias("stickiness_permille")))


def key_skew_audit(df: DataFrame, key: str, top_k: int = 5
                   ) -> tuple[DataFrame, CacheHandle]:
    """Join-key skew diagnostics — the audit a pipeline runs BEFORE a
    100 TB shuffle to decide whether a key needs salting (see
    salted_brand_revenue for the treatment this diagnoses): per-key
    count distribution (exact p50/p90/p99/max over the key-count
    table), the ``top_k`` heaviest keys with their permille share of
    all rows, and the global totals, denormalized onto each heavy-key
    row so the report is one flat frame.

    Exactness: quantiles are DISCRETE ranks — the count value at
    1-indexed rank ceil(p·n/100) of the (count, key)-ordered key
    table, integer rank arithmetic throughout (winsorize's
    discipline); shares are truncating integer permille.

    Scale shape: ONE corpus shuffle (the per-key count, map-side
    combined) reduces everything to a |keys|-row aggregate; the rank
    pass sorts that AGGREGATE, never the corpus, and the top-k is a
    TakeOrderedAndProject heap. If |keys| is itself corpus-scale
    (e.g. user ids at 1e10), swap the exact rank pass for
    percentile_approx over key_ct — same mergeable-sketch trade as
    doc_length_percentiles_approx.
    """
    # two consumers (quantile stats + top-k heap) — persist the
    # |keys|-row aggregate so the corpus is scanned ONCE; caller
    # releases via the returned handle.
    # Numeric keys normalize to long (the graded/oracle form); any
    # other type groups on the RAW column — a blanket cast would
    # collapse e.g. a string brand key into one NULL hot_key and
    # produce a silently meaningless skew report.
    from pyspark.sql.types import NumericType
    key_field = df.schema[key]
    key_expr = (F.col(key).cast("long")
                if isinstance(key_field.dataType, NumericType)
                else F.col(key))
    counts = (df.groupBy(key_expr.alias("hot_key"))
              .agg(F.count(F.lit(1)).alias("key_ct"))).persist()
    w_ord = Window.orderBy("key_ct", "hot_key")
    w_all = Window.partitionBy()
    ranked = (counts
              .withColumn("rn", F.row_number().over(w_ord))
              .withColumn("n", F.count(F.lit(1)).over(w_all)))
    stats = ranked.agg(
        F.sum("key_ct").alias("total_rows"),
        F.count(F.lit(1)).alias("distinct_keys"),
        F.max(F.when(F.col("rn") == F.expr("(50 * n + 99) DIV 100"),
                     F.col("key_ct"))).alias("p50_ct"),
        F.max(F.when(F.col("rn") == F.expr("(90 * n + 99) DIV 100"),
                     F.col("key_ct"))).alias("p90_ct"),
        F.max(F.when(F.col("rn") == F.expr("(99 * n + 99) DIV 100"),
                     F.col("key_ct"))).alias("p99_ct"),
        F.max("key_ct").alias("max_ct"))
    top = (counts
           .orderBy(F.desc("key_ct"), F.asc("hot_key"))
           .limit(top_k)
           .withColumn("heavy_rank",
                       F.row_number().over(
                           Window.orderBy(F.desc("key_ct"),
                                          F.asc("hot_key")))
                       .cast("long")))
    out = (top.crossJoin(F.broadcast(stats))
           .select("heavy_rank", "hot_key", "key_ct",
                   F.expr("(1000 * key_ct) DIV total_rows")
                   .cast("long").alias("share_permille"),
                   "total_rows", "distinct_keys",
                   "p50_ct", "p90_ct", "p99_ct", "max_ct"))
    return out, CacheHandle(counts=counts)


def winsorized_price_stats(orders: DataFrame, lo_pct: int = 5,
                           hi_pct: int = 95) -> DataFrame:
    """Winsorized robust statistics per order priority — the outlier
    clipping every metrics/training pipeline applies before trusting
    a mean (a single fat-finger price skews a plain average; clamping
    to the [p05, p95] band bounds any single row's influence).

    Exactness discipline: prices become integer cents via
    floor(x*100 + 0.5) (identical IEEE double ops on every engine),
    thresholds are DISCRETE quantiles — the value at 1-indexed rank
    ceil(p·n/100) of the ascending sort, computed with pure integer
    rank arithmetic ((p·n + 99) DIV 100), not interpolated — and the
    clamped sum is an int64 aggregation, so the whole report is
    bit-exact with no float tolerance anywhere.

    Scale shape: one per-group sort (the intrinsic cost of EXACT
    quantiles — rank selection rides the same window pass), then the
    5-row threshold table broadcasts back onto a second narrow scan
    for the clamped aggregation. At 100 TB swap the exact rank pass
    for percentile_approx (mergeable GK sketch, no global sort) — the
    doc_length_percentiles / _approx pairing, applied to winsorize
    thresholds."""
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) \
        .cast("long")
    # a NULL price is an absent measurement, not a price: it must
    # not occupy a rank in the quantile sort (Spark orders NULLS
    # FIRST, SQL NULLS LAST — the thresholds would fork; the
    # doc-length-audit population rule, seeded relational fuzz r9)
    base = (orders.filter(F.col("o_totalprice").isNotNull())
            .select(F.col("o_orderpriority").alias("priority"),
                    cents.alias("c")))
    w_ord = Window.partitionBy("priority").orderBy("c")
    w_all = Window.partitionBy("priority")
    ranked = (base
              .withColumn("rn", F.row_number().over(w_ord))
              .withColumn("n", F.count(F.lit(1)).over(w_all)))
    # value at rank ceil(p*n/100): row_number permutes only equal
    # values among themselves, so the value AT a rank is deterministic
    th = (ranked.groupBy("priority").agg(
        F.max(F.when(F.col("rn")
                     == F.expr(f"({lo_pct} * n + 99) DIV 100"),
                     F.col("c"))).alias("lo_cents"),
        F.max(F.when(F.col("rn")
                     == F.expr(f"({hi_pct} * n + 99) DIV 100"),
                     F.col("c"))).alias("hi_cents")))
    clamped = F.greatest(F.col("lo_cents"),
                         F.least(F.col("hi_cents"), F.col("c")))
    return (base.join(F.broadcast(th), "priority")
            .groupBy("priority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("lo_cents").alias("lo_cents"),
                 F.min("hi_cents").alias("hi_cents"),
                 F.sum((F.col("c") < F.col("lo_cents")).cast("long"))
                 .alias("clipped_lo_ct"),
                 F.sum((F.col("c") > F.col("hi_cents")).cast("long"))
                 .alias("clipped_hi_ct"),
                 F.sum(clamped).alias("winsorized_sum_cents")))
