"""The gmall-shaped DWS layer: ProductStats / VisitorStats /
ProvinceStats / KeywordStats, plus the publisher serving queries.

Reference parity:
 - ProductStats (P6+T2+A1+A4): 7 sparse metric streams unioned and
   reduced per 10 s tumbling window keyed by sku_id, with the
   exer-corrected display/click semantics
   (gmall-realtime-exer/.../app/dws/ProductStatsApp.java:73-288 — the
   canonical module's 'dispaly'→click_ct bug is NOT reproduced) and
   exact distinct order counts carried as sets
   (bean/ProductStats.java:74-85 → collect_set here).
 - VisitorStats (A2): 4-dim key (vc,ch,ar,is_new)
   (app/dws/VisitorStatsApp.java:144-180).
 - ProvinceStats (A5): the SQL-surface job
   (corrected exer SQL, ProvinceStatsSqlApp.java:34-53).
 - KeywordStats (U1+A5): search phrases from good_list pages,
   tokenized and exploded (app/dws/KeywordStatsApp.java:46-74).
 - serving queries (A7/T1): gmv + trademark top-N
   (gmall-publisher/.../mapper/ProductStatsMapper.java:13-21).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import money
from ..functions.text import tokens
from ..functions.timeutil import window_stamps

# Every DWS stat is a 10 s tumbling event-time window closed by a 1 s
# bounded-out-of-orderness watermark. The same function builds the
# batch plan and the streaming query: on a batch frame Spark drops the
# watermark, so batch results are unchanged.
WINDOW = "10 seconds"
WATERMARK = "1 second"


def _sparse(df: DataFrame, et, sku, **metrics) -> DataFrame:
    """Project one source stream into the shared sparse ProductStats
    row shape (ProductStatsApp's per-source map functions)."""
    zero_l = F.lit(0).cast("long")
    zero_m = F.lit(0).cast("decimal(18,2)")
    null_l = F.lit(None).cast("long")
    cols = {
        "click_ct": zero_l, "display_ct": zero_l, "favor_ct": zero_l,
        "cart_ct": zero_l, "order_sku_num": zero_l,
        "order_amount": zero_m, "order_id": null_l,
        "payment_amount": zero_m, "paid_order_id": null_l,
        "refund_amount": zero_m, "refund_order_id": null_l,
        "comment_ct": zero_l, "good_comment_ct": zero_l,
    }
    cols.update(metrics)
    return df.select(et.alias("et"), sku.cast("long").alias("sku_id"),
                     *[c.alias(n) for n, c in cols.items()])


def product_stats(page: DataFrame, display: DataFrame,
                  favor: DataFrame, cart: DataFrame,
                  order_wide: DataFrame, payment_wide: DataFrame,
                  refund: DataFrame, comment: DataFrame) -> DataFrame:
    """The 7-source union → tumbling window reduce, keyed by sku_id.

    The union carries one watermarked event-time column, so the same
    aggregation runs in append-mode streaming. The distinct order
    counts are exact sets (bean/ProductStats.java:74-85), which
    streaming aggregation allows — A4's exact-within-window semantics.
    """
    one = F.lit(1).cast("long")
    et_ms = F.timestamp_millis(F.col("ts"))

    clicks = _sparse(
        page.filter((F.col("page.page_id") == "good_detail")
                    & (F.col("page.item_type") == "sku_id")),
        et_ms, F.col("page.item"), click_ct=one)
    displays = _sparse(
        display.filter(F.col("item_type") == "sku_id"),
        et_ms, F.col("item"), display_ct=one)
    t = F.to_timestamp("create_time")
    favors = _sparse(favor, t, F.col("sku_id"), favor_ct=one)
    carts = _sparse(cart, t, F.col("sku_id"), cart_ct=one)
    orders = _sparse(
        order_wide, F.col("order_et"), F.col("sku_id"),
        order_sku_num=F.col("sku_num").cast("long"),
        order_amount=money("split_total_amount"),
        order_id=F.col("order_id").cast("long"))
    payments = _sparse(
        payment_wide, F.col("payment_et"), F.col("sku_id"),
        payment_amount=money("split_total_amount"),
        paid_order_id=F.col("order_id").cast("long"))
    refunds = _sparse(
        refund, t, F.col("sku_id"),
        refund_amount=money("refund_amount"),
        refund_order_id=F.col("order_id").cast("long"))
    comments = _sparse(
        comment, t, F.col("sku_id"), comment_ct=one,
        good_comment_ct=F.when(F.col("appraise") == "1201", one)
                         .otherwise(F.lit(0).cast("long")))

    unioned = reduce(DataFrame.unionByName,
                     [clicks, displays, favors, carts, orders, payments,
                      refunds, comments])
    unioned = unioned.withColumn(
        "et", F.col("et").cast("timestamp")) \
        .withWatermark("et", WATERMARK)

    def distinct_ct(col: str):
        return F.size(F.collect_set(col)).cast("long")

    agg = (unioned
           .groupBy(F.window("et", WINDOW), "sku_id")
           .agg(F.sum("click_ct").alias("click_ct"),
                F.sum("display_ct").alias("display_ct"),
                F.sum("favor_ct").alias("favor_ct"),
                F.sum("cart_ct").alias("cart_ct"),
                F.sum("order_sku_num").alias("order_sku_num"),
                F.sum("order_amount").cast("decimal(18,2)")
                 .alias("order_amount"),
                distinct_ct("order_id").alias("order_ct"),
                F.sum("payment_amount").cast("decimal(18,2)")
                 .alias("payment_amount"),
                distinct_ct("paid_order_id").alias("paid_order_ct"),
                F.sum("refund_amount").cast("decimal(18,2)")
                 .alias("refund_amount"),
                distinct_ct("refund_order_id").alias("refund_order_ct"),
                F.sum("comment_ct").alias("comment_ct"),
                F.sum("good_comment_ct").alias("good_comment_ct")))
    return agg.select(*window_stamps(), "*").drop("window")


def enrich_product_stats(stats: DataFrame,
                         dims: dict[str, DataFrame]) -> DataFrame:
    """Post-window dim enrichment (ProductStatsApp.java:266-325):
    sku → spu/trademark/category3 broadcast joins."""
    sku = F.broadcast(dims["sku_info"].select(
        F.col("id").alias("s_id"), "sku_name", F.col("price").alias("sku_price"),
        "spu_id", "category3_id", "tm_id"))
    spu = F.broadcast(dims["spu_info"].select(
        F.col("id").alias("spu_join_id"), "spu_name"))
    tm = F.broadcast(dims["base_trademark"].select(
        F.col("id").alias("tm_join_id"), "tm_name"))
    c3 = F.broadcast(dims["base_category3"].select(
        F.col("id").alias("c3_join_id"), F.col("name").alias("category3_name")))
    return (stats
            .join(sku, stats.sku_id == F.col("s_id"), "left").drop("s_id")
            .join(spu, F.col("spu_id") == F.col("spu_join_id"), "left")
            .drop("spu_join_id")
            .join(tm, F.col("tm_id") == F.col("tm_join_id"), "left")
            .drop("tm_join_id")
            .join(c3, F.col("category3_id") == F.col("c3_join_id"), "left")
            .drop("c3_join_id"))


def mid_dimensions(page: DataFrame) -> DataFrame:
    """Per-mid dimension tuple (first value wins); a static lookup
    used to re-key the UV/bounce streams."""
    return (page
            .groupBy(F.col("common.mid").alias("mid"))
            .agg(F.first("common.vc").alias("vc"),
                 F.first("common.ch").alias("ch"),
                 F.first("common.ar").alias("ar"),
                 F.first("common.is_new").alias("is_new")))


def visitor_stats_union(page: DataFrame, uv: DataFrame, jumps: DataFrame,
                        mid_dims: DataFrame) -> DataFrame:
    """The sparse 3-stream union (T3/O7). Streaming-safe: ``mid_dims``
    is a static broadcast lookup, the union carries one event-time
    column ``et`` and only additive metrics."""
    dims4 = [F.col("common.vc").alias("vc"), F.col("common.ch").alias("ch"),
             F.col("common.ar").alias("ar"),
             F.col("common.is_new").alias("is_new")]
    et = F.timestamp_millis(F.col("ts"))
    zero = F.lit(0).cast("long")

    pv = page.select(
        et.alias("et"), *dims4,
        F.lit(1).cast("long").alias("pv_ct"),
        F.when(F.col("page.last_page_id").isNull()
               | (F.length("page.last_page_id") == 0), F.lit(1))
         .otherwise(F.lit(0)).cast("long").alias("sv_ct"),
        zero.alias("uv_ct"), zero.alias("uj_ct"),
        F.col("page.during_time").cast("long").alias("dur_sum"))

    def keyed(stream: DataFrame, metric: str) -> DataFrame:
        joined = stream.join(F.broadcast(mid_dims), "mid")
        return joined.select(
            F.timestamp_millis(F.col("ts")).alias("et"),
            "vc", "ch", "ar", "is_new",
            zero.alias("pv_ct"), zero.alias("sv_ct"),
            (F.lit(1).cast("long") if metric == "uv_ct" else zero)
            .alias("uv_ct"),
            (F.lit(1).cast("long") if metric == "uj_ct" else zero)
            .alias("uj_ct"),
            zero.alias("dur_sum"))

    return pv.unionByName(keyed(uv, "uv_ct")) \
             .unionByName(keyed(jumps, "uj_ct"))


def visitor_stats_agg(unioned: DataFrame) -> DataFrame:
    """The windowed reduce over the sparse union (A2) — additive sums
    only, so it runs identically in batch and append-mode streaming."""
    return (unioned
            .withWatermark("et", WATERMARK)
            .groupBy(F.window("et", WINDOW),
                     "vc", "ch", "ar", "is_new")
            .agg(F.sum("pv_ct").alias("pv_ct"),
                 F.sum("sv_ct").alias("sv_ct"),
                 F.sum("uv_ct").alias("uv_ct"),
                 F.sum("uj_ct").alias("uj_ct"),
                 F.sum("dur_sum").alias("dur_sum"))
            .select(*window_stamps(), "vc", "ch", "ar", "is_new",
                    "pv_ct", "sv_ct", "uv_ct", "uj_ct", "dur_sum"))


def visitor_stats(page: DataFrame, uv: DataFrame,
                  jumps: DataFrame) -> DataFrame:
    """VisitorStats: union of the pv/sv/dur stream, the UV stream and
    the bounce stream on the 4-dim key (VisitorStatsApp.java:64-180).

    ``uv``/``jumps`` carry (mid, ts) from the DWM operators; their
    dimensions are re-attached from the page stream's per-mid common
    fields (first value wins — the fixture keeps them stable per mid).
    """
    unioned = visitor_stats_union(page, uv, jumps, mid_dimensions(page))
    return visitor_stats_agg(unioned)


def keyword_stats(page: DataFrame) -> DataFrame:
    """Search phrases from good_list pages → tokenizer UDTF analog →
    windowed counts (KeywordStatsApp.java:55-74, exer item_type filter).
    The watermark sits on the page stream, before the filter."""
    searches = (page
                .withColumn("et", F.timestamp_millis("ts"))
                .withWatermark("et", WATERMARK)
                .filter((F.col("page.page_id") == "good_list")
                        & (F.col("page.item_type") == "keyword")
                        & F.col("page.item").isNotNull()))
    words = searches.select(
        "et", F.explode(tokens(F.lower(F.col("page.item"))))
        .alias("keyword"))
    return (words
            .groupBy(F.window("et", WINDOW), "keyword")
            .agg(F.count(F.lit(1)).alias("ct"))
            .select(*window_stamps(), "keyword", "ct"))


def province_stats_sql(spark: SparkSession,
                       order_wide: DataFrame) -> DataFrame:
    """The SQL-surface DWS job on the enriched order stream (corrected
    exer SQL shape: tumble window + count(distinct) + sum). Batch
    only: the reference the streaming province job is checked
    against."""
    order_wide.createOrReplaceTempView("_gm_order_wide")
    return spark.sql(f"""
        SELECT window(order_et, '{WINDOW}').start AS stt,
               window(order_et, '{WINDOW}').end   AS edt,
               province_id,
               province_name,
               province_area_code,
               province_iso_code,
               province_3166_2_code,
               cast(sum(cast(split_total_amount AS decimal(18,2)))
                    AS decimal(18,2))                      AS order_amount,
               count(DISTINCT order_id)                    AS order_count
        FROM _gm_order_wide
        GROUP BY window(order_et, '{WINDOW}'), province_id,
                 province_name, province_area_code, province_iso_code,
                 province_3166_2_code
    """)


# ------------------------------------------------------------- serving
def gmv(product_stats_df: DataFrame, date: str) -> DataFrame:
    """GMV for one day (ProductStatsMapper.java:13-14:
    sum(order_amount) where toYYYYMMDD(stt) = date)."""
    return (product_stats_df
            .filter(F.date_format("stt", "yyyyMMdd") == date)
            .agg(F.coalesce(F.sum("order_amount"),
                            F.lit(0).cast("decimal(18,2)"))
                  .cast("decimal(18,2)").alias("gmv")))


def trademark_top(product_stats_enriched: DataFrame, date: str,
                  limit: int = 5) -> DataFrame:
    """Trademark top-N by order amount (ProductStatsMapper.java:21)."""
    return (product_stats_enriched
            .filter(F.date_format("stt", "yyyyMMdd") == date)
            .groupBy("tm_id", "tm_name")
            .agg(F.sum("order_amount").cast("decimal(18,2)")
                 .alias("order_amount"))
            .orderBy(F.desc("order_amount"), F.asc("tm_id"))
            .limit(limit))
