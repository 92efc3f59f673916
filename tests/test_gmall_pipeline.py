"""End-to-end gmall pipeline on the CDC + page-log fixtures:
typed fact parsing (P5), interval joins with exact reference bounds
(J1/J2), 6-dim enrichment with age derivation (J3/F7), the 7-source
ProductStats window reduce (P6/T2/A1/A4), VisitorStats (A2),
KeywordStats (U1), ProvinceStats SQL (A5), and the serving queries
(A7/T1)."""

import pytest

from pyspark.sql import functions as F

from gmall_flink_2021_spark.operators import dwd, dwm, gmall_dwm, gmall_dws
from gmall_flink_2021_spark.schemas import CDC_SCHEMA, TABLE_PROCESS_SCHEMA
from gmall_flink_2021_spark.sources import gmall_fixtures as fx
from gmall_flink_2021_spark.streaming import stateful


@pytest.fixture(scope="module")
def routed(spark):
    cdc = spark.createDataFrame(fx.cdc_rows(), CDC_SCHEMA)
    cfg = spark.createDataFrame(fx.table_process_rows(),
                                TABLE_PROCESS_SCHEMA)
    return dwd.route_cdc(dwd.filter_deletes(cdc), cfg).cache()


@pytest.fixture(scope="module")
def dims(spark, routed):
    names = ["sku_info", "base_trademark", "user_info", "base_province",
             "spu_info", "base_category3"]
    cols = {
        "sku_info": ["id", "sku_name", "price", "spu_id", "category3_id",
                     "tm_id"],
        "base_trademark": ["id", "tm_name"],
        "user_info": ["id", "birthday", "gender"],
        "base_province": ["id", "name", "area_code", "iso_code",
                          "iso_3166_2"],
        "spu_info": ["id", "spu_name"],
        "base_category3": ["id", "name"],
    }
    out = {}
    for n in names:
        df = dwd.project_sink_columns(routed, f"dim_{n}", cols[n])
        out[n] = df.withColumn("id", F.col("id").cast("long"))
    return out


@pytest.fixture(scope="module")
def order_wide(spark, routed):
    oi = gmall_dwm.parse_fact(routed, "order_info")
    od = gmall_dwm.parse_fact(routed, "order_detail")
    return gmall_dwm.order_wide_join(oi, od).cache()


def test_interval_join_bounds(order_wide, spark, routed):
    # every order has one detail at +0 s; odd orders add one at +5 s
    # (inclusive bound — kept); even orders add one at +60 s (dropped)
    assert order_wide.count() == 10 + 5
    per_order = {r.order_id: r["count"] for r in
                 order_wide.groupBy("order_id").count().collect()}
    for oid, n in per_order.items():
        assert n == (2 if oid % 2 == 1 else 1), (oid, n)


def test_payment_wide_bounds(order_wide, routed):
    pay = gmall_dwm.parse_fact(routed, "payment_info")
    pw = gmall_dwm.payment_wide_join(pay, order_wide)
    # payment at exactly +15 min (inclusive) kept; +16 min dropped
    paid_orders = {r.order_id for r in pw.select("order_id").collect()}
    assert paid_orders == {o for o in range(1, 11) if o % 3 != 0}


def test_enrichment(order_wide, dims):
    wide = gmall_dwm.enrich_order_wide(order_wide, dims,
                                       now_date="2020-10-01")
    row = wide.filter(F.col("order_id") == 2).first()
    assert row.province_name and row.province_name.startswith("province_")
    assert row.tm_name in {"tm-a", "tm-b", "tm-c"}
    assert row.spu_name and row.category3_name and row.dim_sku_name
    assert row.user_age is not None and 15 <= row.user_age <= 70
    # left join: no fact rows lost by enrichment
    assert wide.count() == order_wide.count()


@pytest.fixture(scope="module")
def log_streams(spark):
    lines = fx.page_log_lines()
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    return {k: v.cache() for k, v in dwd.split_log(dwd.parse_log(raw)).items()}


def test_product_stats(spark, routed, order_wide, dims, log_streams):
    pay = gmall_dwm.parse_fact(routed, "payment_info")
    pw = gmall_dwm.payment_wide_join(pay, order_wide)
    stats = gmall_dws.product_stats(
        page=log_streams["page"], display=log_streams["display"],
        favor=gmall_dwm.parse_fact(routed, "favor_info"),
        cart=gmall_dwm.parse_fact(routed, "cart_info"),
        order_wide=order_wide, payment_wide=pw,
        refund=gmall_dwm.parse_fact(routed, "order_refund_info"),
        comment=gmall_dwm.parse_fact(routed, "comment_info")).cache()
    total = stats.agg(
        F.sum("click_ct"), F.sum("display_ct"), F.sum("favor_ct"),
        F.sum("cart_ct"), F.sum("order_ct"), F.sum("refund_order_ct"),
        F.sum("comment_ct"), F.sum("good_comment_ct")).collect()[0]
    clicks, displays, favors, carts, orders, refunds, comments, good = total
    assert favors == 5 and carts == 5
    assert comments == 3 and good == 2          # appraise 1201 for i=1,3
    assert refunds == 3
    # order_ct is per-sku distinct orders; the 5 two-detail orders span
    # two sku groups each, so the cross-sku sum is 10 + 5
    assert orders == 15
    assert displays > 0 and clicks > 0
    # corrected semantics: displays are NOT counted as clicks (the
    # canonical module's bug); click rows come only from good_detail
    page_clicks = log_streams["page"].filter(
        (F.col("page.page_id") == "good_detail")
        & (F.col("page.item_type") == "sku_id")).count()
    assert clicks == page_clicks

    enriched = gmall_dws.enrich_product_stats(stats, dims)
    assert enriched.filter(F.col("sku_name").isNull()).count() == 0

    # serving readbacks (A7/T1)
    g = gmall_dws.gmv(stats, "20200913").collect()[0].gmv
    assert g is not None and float(g) > 0
    top = gmall_dws.trademark_top(enriched, "20200913").collect()
    assert 1 <= len(top) <= 3
    assert top[0].order_amount >= top[-1].order_amount


def test_visitor_stats(spark, log_streams):
    page = log_streams["page"]
    proj = stateful.page_events_projection(page)
    uv = (proj.filter(F.col("last_page_id").isNull()
                      | (F.length("last_page_id") == 0))
          .withColumn("day", F.to_date(F.timestamp_millis("ts")))
          .groupBy("mid", "day").agg(F.min("ts").alias("ts"))
          .select("mid", "ts"))
    jumps = dwm.user_jumps_page_log(proj)
    vs = gmall_dws.visitor_stats(page, uv, jumps).cache()
    tot = vs.agg(F.sum("pv_ct"), F.sum("sv_ct"), F.sum("uv_ct"),
                 F.sum("uj_ct"), F.sum("dur_sum")).collect()[0]
    assert tot[0] == page.count()
    assert tot[2] == uv.count() and tot[3] == jumps.count()
    assert tot[1] >= tot[2] and tot[4] > 0
    assert set(vs.columns) == {"stt", "edt", "vc", "ch", "ar", "is_new",
                               "pv_ct", "sv_ct", "uv_ct", "uj_ct",
                               "dur_sum"}


def test_keyword_stats(spark, log_streams):
    ks = gmall_dws.keyword_stats(log_streams["page"])
    rows = ks.collect()
    assert rows and all(r.ct >= 1 for r in rows)
    kws = {r.keyword for r in rows}
    # multi-token phrases were split by the tokenizer
    assert {"apple", "red"} & kws


def test_province_stats_sql(spark, order_wide, dims):
    wide = gmall_dwm.enrich_order_wide(order_wide, dims,
                                       now_date="2020-10-01")
    ps = gmall_dws.province_stats_sql(spark, wide)
    rows = ps.collect()
    assert rows and all(r.order_count >= 1 for r in rows)
    assert {r.province_name for r in rows} <= {"province_1", "province_2",
                                               "province_3"}

def test_training_release_composition(spark, tmp_path):
    """End-to-end release: the funnel's survivors are chunked,
    shard-assigned by content hash, and written partitioned by shard;
    the materialized release must reconcile exactly with the audit
    queries — survivor count == funnel unique_ct, every written shard
    row belongs to a survivor, and shard dirs match the shard-plan's
    ids."""
    import os

    from pyspark.sql import functions as F

    from gmall_flink_2021_spark.operators import textstats
    from gmall_flink_2021_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")

    survivors, sh = textstats.corpus_survivors(docs)
    surv_rows = survivors.collect()
    sh.unpersist()
    funnel, fh = textstats.corpus_funnel(docs)
    fun = funnel.agg(F.sum("unique_ct"), F.sum("kept_tokens")).first()
    fh.unpersist()
    surv = spark.createDataFrame(surv_rows, survivors.schema)
    assert surv.count() == fun[0]
    tok_mass = surv.select(
        F.sum(F.size(F.filter(F.split(F.coalesce("text", F.lit("")), " "),
                              lambda t: F.length(t) > 0)))).first()[0]
    assert tok_mass == fun[1]

    # shard-assign and materialize
    def nib(i):
        a = F.ascii(F.substring(
            F.md5(F.coalesce(F.col("text"), F.lit(""))), i, 1))
        return F.when(a >= 97, a - 87).otherwise(a - 48)

    sharded = surv.withColumn(
        "shard", ((nib(1) * 16 + nib(2)) % 16).cast("long"))
    out = str(tmp_path / "release")
    sharded.write.partitionBy("shard").mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == fun[0]
    written_shards = {r[0] for r in back.select("shard").distinct().collect()}
    dirs = {int(d.split("=")[1]) for d in os.listdir(out)
            if d.startswith("shard=")}
    assert written_shards == dirs
    # shard ids agree with the audit's assignment on the same corpus
    plan_shards = {
        r["shard"] for r in
        textstats.training_shard_plan(surv).select("shard").collect()}
    assert written_shards == plan_shards

    # round 4: the model-based filter composes onto the release —
    # classifier scores join the survivor set 1:1 on doc_id, the kept
    # subset is exactly the keep_label=1 survivors, and re-scoring
    # the written release reproduces the stored labels (per-doc
    # scores depend only on the doc and the weights)
    scores = textstats.hashed_classifier_scores(surv)
    scored_release = surv.join(
        scores.select("doc_id", "keep_label"), "doc_id")
    assert scored_release.count() == surv.count()
    kept = scored_release.filter(F.col("keep_label") == 1)
    n_kept = kept.count()
    assert 0 < n_kept < surv.count()  # the stand-in model splits both ways
    rescored = textstats.hashed_classifier_scores(
        kept.select(*docs.columns))
    assert rescored.filter(F.col("keep_label") == 0).count() == 0
    assert rescored.count() == n_kept
