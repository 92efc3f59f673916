"""DWS-layer windowed aggregations, re-expressed over the driver's
``events`` table.

Reference parity:
 - visitor_stats: tumbling event-time window keyed by dimensions with
   summed metrics + window stt/edt stamps (A2+A3:
   gmall-realtime/.../app/dws/VisitorStatsApp.java:144-180).
 - product_stats: 7 sparse per-source metric projections unioned then
   window-reduced (P6+T2+A1: app/dws/ProductStatsApp.java:86-262,
   corrected exer form gmall-realtime-exer/.../ProductStatsApp.java:73-288).
 - keyword_stats: tokenizer UDTF → explode → windowed count (U1+A5:
   app/dws/KeywordStatsApp.java:46-74).

Scale notes: each aggregation is a single hash-shuffle on the group
keys with map-side partial aggregation (Spark plans
ObjectHashAggregate/HashAggregate partial+final automatically); the
sparse-union form keeps one shuffle because the union is computed
before the groupBy.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import money
from ..functions.timeutil import dated, window_stamps


def visitor_stats_window(events: DataFrame,
                         window_duration: str = "10 minutes") -> DataFrame:
    """Tumbling-window stats keyed by event_type (A2/A3 analog).

    pv_ct = events in window, uv_ct = distinct users, value_sum =
    exact decimal sum of `value`. stt/edt are the window bounds, as in
    VisitorStats (bean/VisitorStats.java:11-36). The distinct count
    is countDistinct, which plans a partial/final hash aggregate.
    """
    # dated() is explicit though window() already drops NULL event
    # times — the oracle mirrors the same filter
    return (
        dated(events)
        .groupBy(F.window("ts", window_duration), "event_type")
        .agg(
            F.count(F.lit(1)).alias("pv_ct"),
            F.countDistinct("user_id").alias("uv_ct"),
            F.sum(money("value")).alias("value_sum"),
        )
        .select(*window_stamps(), "event_type", "pv_ct", "uv_ct",
                "value_sum")
    )


def event_stats_daily(events: DataFrame) -> DataFrame:
    """Daily sparse-metric stats via the union-of-projections pattern.

    Mirrors ProductStatsApp's shape: each source stream is projected
    into a sparse stats row (one metric set, the rest zero), the
    streams are unioned (T2) and reduced per window (A1). Here the
    "streams" are the event_type slices of the events table; the
    result is equivalent to conditional aggregation, which is what the
    DuckDB oracle uses.
    """
    day = F.date_trunc("DAY", F.col("ts")).alias("day")
    zero_ct = F.lit(0).cast("long")
    zero_amt = F.lit(0).cast("decimal(18,2)")

    def sparse(evt: str, **metrics) -> DataFrame:
        cols = {
            "view_ct": zero_ct, "click_ct": zero_ct, "signup_ct": zero_ct,
            "error_ct": zero_ct, "purchase_ct": zero_ct,
            "purchase_amount": zero_amt,
        }
        cols.update(metrics)
        return (events.filter(F.col("event_type") == evt)
                .select(day, *[c.alias(n) for n, c in cols.items()]))

    one = F.lit(1).cast("long")
    parts = [
        sparse("view", view_ct=one),
        sparse("click", click_ct=one),
        sparse("signup", signup_ct=one),
        sparse("error", error_ct=one),
        sparse("purchase", purchase_ct=one, purchase_amount=money("value")),
    ]
    unioned = reduce(DataFrame.unionByName, parts)
    return (
        unioned.groupBy("day")
        .agg(*[F.sum(c).alias(c) for c in
               ("view_ct", "click_ct", "signup_ct", "error_ct",
                "purchase_ct")],
             F.sum("purchase_amount").alias("purchase_amount"))
    )


def keyword_stats(documents: DataFrame, top_n: int = 20) -> DataFrame:
    """Tokenize → explode → count, the KeywordStatsApp pipeline (U1+A5)
    with the serving-style top-N (T1) on the end.

    The reference tokenizes with the IK segmenter UDTF; our engine
    uses a deterministic JVM-side whitespace tokenizer (split +
    explode stays in whole-stage codegen — no Python UDF).
    """
    from ..functions.text import tokens

    return (
        documents
        .select(F.explode(tokens("text")).alias("keyword"))
        .groupBy("keyword")
        .agg(F.count(F.lit(1)).alias("ct"))
        .orderBy(F.desc("ct"), F.asc("keyword"))
        .limit(top_n)
    )


def province_stats_sql(spark, orders: DataFrame, customer: DataFrame,
                       nation: DataFrame) -> DataFrame:
    """Nation-level order stats through the pure-SQL surface (A5/A7).

    Parity with ProvinceStatsSqlApp (corrected exer SQL at
    gmall-realtime-exer/.../app/dws/ProvinceStatsSqlApp.java:34-53):
    group window + count(distinct) + sum, expressed as Spark SQL over
    temp views. Daily grain replaces the 10 s tumble for the batch
    table.
    """
    orders.createOrReplaceTempView("_ps_orders")
    customer.createOrReplaceTempView("_ps_customer")
    nation.createOrReplaceTempView("_ps_nation")
    return spark.sql("""
        SELECT date_trunc('DAY', o.o_orderdate)      AS stt,
               n.n_name                              AS province_name,
               count(DISTINCT o.o_custkey)           AS customer_ct,
               count(*)                              AS order_count,
               sum(cast(o.o_totalprice AS decimal(18,2))) AS order_amount
        FROM _ps_orders o
        JOIN _ps_customer c ON o.o_custkey = c.c_custkey
        JOIN _ps_nation  n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    """)


def visitor_stats_sliding(events: DataFrame,
                          size: str = "10 minutes",
                          slide: str = "5 minutes") -> DataFrame:
    """Hopping/sliding-window stats keyed by event_type — the sliding
    sibling of ``visitor_stats_window`` (SURVEY §2.9 O11 notes the
    reference is tumbling-only; Spark gives hopping windows in the
    same ``window()`` call). With size = 2×slide every event lands in
    exactly two overlapping windows; Spark plans this as one Expand
    (×2) feeding the same partial/final hash aggregate as the
    tumbling form — no extra shuffle versus tumbling.
    """
    return (dated(events)
            .groupBy(F.window("ts", size, slide), "event_type")
            .agg(F.count(F.lit(1)).alias("pv_ct"),
                 F.countDistinct("user_id").alias("uv_ct"),
                 F.sum(money("value")).alias("value_sum"))
            .select(*window_stamps(), "event_type", "pv_ct", "uv_ct",
                    F.col("value_sum").cast("decimal(18,2)")
                    .alias("value_sum")))
