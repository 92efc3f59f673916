"""The composed warehouse topology end-to-end: ODS files in, serving
answers out, everything through the warehouse's streaming queries."""

import datetime
import os
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gmall_flink_2021_spark.sources import cdc as cdc_src
from gmall_flink_2021_spark.sources import gmall_fixtures as fx
from gmall_flink_2021_spark.streaming import sinks
from gmall_flink_2021_spark.streaming.warehouse import Warehouse


def _closed(df, horizon) -> set:
    return {tuple(r) for r in df.filter(F.col("edt") <= horizon).collect()}


def _load_fixture(work: str) -> None:
    cdc_src.write_changelog_fixture(fx.cdc_rows(),
                                    os.path.join(work, "ods_db"))
    with open(os.path.join(work, "ods_log", "log-0.txt"), "w") as f:
        f.write("\n".join(fx.page_log_lines()))


def test_warehouse_end_to_end(spark, tmp_path):
    work = str(tmp_path / "wh")
    wh = Warehouse(spark, work, fx.table_process_rows())
    _load_fixture(work)

    wh.run_all()
    assert not spark.streams.active

    def read(*parts):
        return spark.read.parquet(os.path.join(work, *parts)) \
                    .drop("batch_id")

    # dims materialized and merged
    assert wh.dim("dim_sku_info").count() == 9
    assert wh.dim("dim_base_trademark").count() == 3
    # DWD topics exist with expected shapes
    page = read("dwd", "log_page")
    assert page.count() > 0
    assert read("dwd", "dirty").count() > 0
    # DWM wide table enriched
    ow = read("dwd", "dwm_order_wide")
    assert ow.count() == 15
    assert ow.filter(F.col("tm_name").isNull()).count() == 0
    # stateful outputs landed
    uv = read("dwd", "dwm_unique_visit")
    uj = read("dwd", "dwm_user_jump")
    assert uv.count() > 0

    # every DWS stream table equals its gmall_dws batch recomputation
    # on every watermark-closed window (edt <= max event time - 1 s)
    from gmall_flink_2021_spark.operators import gmall_dws

    sec = datetime.timedelta(seconds=1)
    batch_vs = gmall_dws.visitor_stats(page, uv.select("mid", "ts"),
                                       uj.select("mid", "ts"))
    assert batch_vs.agg(F.sum("pv_ct")).collect()[0][0] == page.count()
    page_max = page.agg(F.max(F.timestamp_millis("ts"))).collect()[0][0]
    want = _closed(batch_vs, page_max - sec)
    assert want and _closed(read("dws", "visitor_stats_stream"),
                            page_max - sec) == want

    # streaming PaymentWide + ProductStats (topic-to-topic chaining)
    pw = read("dwd", "dwm_payment_wide")
    facts = {t: wh.typed_fact(t) for t in
             ("favor_info", "cart_info", "order_refund_info",
              "comment_info")}
    display = read("dwd", "log_display")
    batch_ps = gmall_dws.product_stats(
        page=page, display=display, favor=facts["favor_info"],
        cart=facts["cart_info"], order_wide=ow, payment_wide=pw,
        refund=facts["order_refund_info"], comment=facts["comment_info"])
    assert pw.count() == batch_ps.agg(
        F.sum("paid_order_ct")).collect()[0][0]
    # the watermark tracks the max event time reaching the window
    # operator (the union of the 8 sources), not the page max
    ts = F.to_timestamp("create_time")
    union_max = reduce(DataFrame.unionByName, [
        page.filter(F.col("page.page_id") == "good_detail")
            .select(F.timestamp_millis("ts").alias("et")),
        display.filter(F.col("item_type") == "sku_id")
               .select(F.timestamp_millis("ts").alias("et")),
        ow.select(F.col("order_et").alias("et")),
        pw.select(F.col("payment_et").alias("et")),
        *[f.select(ts.alias("et")) for f in facts.values()],
    ]).agg(F.max("et")).collect()[0][0]
    horizon = union_max - sec
    stream_ps = read("dws", "product_stats_stream")
    wantp = _closed(batch_ps, horizon)
    assert wantp and _closed(stream_ps, horizon) == wantp

    # serving reads product_stats_stream: it answers exactly what the
    # batch stats restricted to closed windows answer
    closed_ps = batch_ps.filter(F.col("edt") <= horizon)
    g = wh.gmv("20200913").collect()
    assert g == gmall_dws.gmv(closed_ps, "20200913").collect()
    assert g[0].gmv is not None and float(g[0].gmv) > 0
    top = wh.trademark_top("20200913").collect()
    dims = {n: wh.dim(f"dim_{n}") for n in
            ("sku_info", "spu_info", "base_trademark", "base_category3")}
    assert top == gmall_dws.trademark_top(
        gmall_dws.enrich_product_stats(closed_ps, dims),
        "20200913").collect()
    assert top and top[0].tm_name in {"tm-a", "tm-b", "tm-c"}

    # streaming KeywordStats + ProvinceStats
    kmax = page.filter(F.col("page.page_id") == "good_list").agg(
        F.max(F.timestamp_millis("ts"))).collect()[0][0]
    assert (_closed(read("dws", "keyword_stats_stream"), kmax - sec)
            == _closed(gmall_dws.keyword_stats(page), kmax - sec))
    omax = ow.agg(F.max("order_et")).collect()[0][0]
    assert (_closed(read("dws", "province_stats_stream"), omax - sec)
            == _closed(gmall_dws.province_stats_sql(spark, ow),
                       omax - sec))

    # idempotent re-run: same checkpoints, no new input → no duplicates
    before = ow.count()
    wh.run_base_db()
    wh.run_order_wide()
    assert read("dwd", "dwm_order_wide").count() == before


def test_order_wide_reads_dims_per_batch(spark, tmp_path, monkeypatch):
    """A dim row merged while an order-wide query runs enriches every
    later batch of that query: the dims are read per micro-batch, not
    once when the query starts. Each fact file is its own batch here;
    sku 99 is merged after the first batch is written, and order 11,
    the one order that buys it, lands in a later batch."""
    import json

    from pyspark.sql.streaming import DataStreamReader

    work = str(tmp_path / "wh_ow_dims")
    wh = Warehouse(spark, work, fx.table_process_rows())
    _load_fixture(work)
    wh.run_base_db()
    t = datetime.datetime.utcfromtimestamp(
        (fx.BASE_TS + 11 * fx.MINUTE) / 1000).strftime("%Y-%m-%d %H:%M:%S")
    order = {"id": 11, "province_id": 1, "order_status": "1001",
             "user_id": 101, "total_amount": 80.0,
             "activity_reduce_amount": 0, "coupon_reduce_amount": 0,
             "original_total_amount": 80.0, "feight_fee": 5,
             "expire_time": t, "create_time": t, "operate_time": t}
    detail = {"id": 110, "order_id": 11, "sku_id": 99, "order_price": 80.0,
              "sku_num": 1, "sku_name": "sku 99", "create_time": t,
              "split_total_amount": 80.0, "split_activity_amount": 0,
              "split_coupon_amount": 0}
    with open(os.path.join(work, "ods_db", "changelog-1.jsonl"), "w") as f:
        for table, data in (("order_info", order), ("order_detail", detail)):
            f.write(json.dumps(fx._cdc(table, "insert", data)) + "\n")
    wh.run_base_db()

    sku = wh.dim("dim_sku_info")
    row = sku.filter(F.col("id") == 1).collect()[0].asDict()
    late_sku = spark.createDataFrame(
        [tuple({**row, "id": 99, "sku_name": "late sku"}[c]
               for c in sku.columns)], sku.schema)
    real_parquet, real_write = DataStreamReader.parquet, \
        sinks.write_idempotent
    merged_after = []

    def one_file_per_batch(reader, path, **kw):
        return real_parquet(reader.option("maxFilesPerTrigger", 1), path,
                            **kw)

    def write_then_merge_sku(df, bid, path):
        real_write(df, bid, path)
        if not merged_after:
            sinks.upsert_dim(late_sku, os.path.join(work, "dim",
                                                    "dim_sku_info"))
            merged_after.append(bid)

    monkeypatch.setattr(DataStreamReader, "parquet", one_file_per_batch)
    monkeypatch.setattr(sinks, "write_idempotent", write_then_merge_sku)
    wh.run_order_wide()
    monkeypatch.undo()

    got = (spark.read.parquet(os.path.join(work, "dwd", "dwm_order_wide"))
           .filter(F.col("order_id") == 11).collect())
    assert got and all(r.batch_id > merged_after[0] for r in got)
    assert {(r.dim_sku_name, r.tm_name) for r in got} == {
        ("late sku", wh.dim("dim_base_trademark")
         .filter(F.col("id") == row["tm_id"]).collect()[0].tm_name)}


def test_drain_reraises_sink_failure_and_leaves_no_query(spark, tmp_path):
    """A sink that raises fails its query: sinks.drain re-raises the
    error to the caller and no streaming query is left running."""
    work = str(tmp_path / "wh_fail")
    Warehouse(spark, work, fx.table_process_rows())
    _load_fixture(work)
    stream = spark.readStream.text(os.path.join(work, "ods_log"))

    def sink(batch, bid):
        raise RuntimeError("sink exploded")

    with pytest.raises(Exception, match="sink exploded"):
        sinks.drain(stream, sink, os.path.join(work, "ck", "fail"))
    assert not spark.streams.active


def test_failed_base_log_write_releases_its_persisted_batch(
        spark, tmp_path, monkeypatch):
    """run_base_log persists each micro-batch for its four writes. A
    write that raises fails the query, and the persisted batch is
    released all the same: the session's persisted-RDD count is back
    where it was and no query is left running."""
    work = str(tmp_path / "wh_log_fail")
    wh = Warehouse(spark, work, fx.table_process_rows())
    _load_fixture(work)
    real_write = sinks.write_idempotent

    def fail_on_log_page(df, bid, path):
        if os.path.basename(path) == "log_page":
            raise RuntimeError("log_page write failed")
        real_write(df, bid, path)

    def persisted() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    before = persisted()
    monkeypatch.setattr(sinks, "write_idempotent", fail_on_log_page)
    with pytest.raises(Exception, match="log_page write failed"):
        wh.run_base_log()
    monkeypatch.undo()
    assert persisted() == before
    assert not spark.streams.active


def test_dim_tables_are_config_driven(spark, tmp_path):
    """K4 runtime DDL + broadcast-state semantics: a table_process row
    arriving MID-STREAM materializes an unseen dim table for every
    later batch — name, column list, and pk all come from the config,
    nothing is hardcoded (TableProcessFunction.java:62-121,
    BaseDBApp.java:78-88). Records that arrive before their config row
    are dropped, exactly as the reference's unmatched-key path."""
    import json

    def color_row(cid, name):
        return {"database": "gmall2021", "table": "base_color",
                "type": "insert",
                "data": json.dumps({"color_id": cid, "color_name": name,
                                    "stray_field": "dropped"}),
                "before_data": "{}"}

    work = str(tmp_path / "wh_cfg")
    wh = Warehouse(spark, work, fx.table_process_rows())
    # batch 1: base_color has NO config yet -> its rows are dropped
    cdc_src.write_changelog_fixture(
        fx.cdc_rows() + [color_row(1, "pre-config-dropped")],
        os.path.join(work, "ods_db"))
    wh.run_base_db()
    assert not os.path.isdir(os.path.join(work, "dim", "dim_base_color"))

    # config row arrives mid-stream; later batches route the new table
    wh.add_config_rows([{
        "source_table": "base_color", "operate_type": "insert",
        "sink_type": "hbase", "sink_table": "dim_base_color",
        "sink_columns": "color_id,color_name", "sink_pk": "color_id",
        "sink_extend": None}])
    with open(os.path.join(work, "ods_db", "changelog-1.jsonl"), "w") as f:
        f.write(json.dumps(color_row(7, "crimson")) + "\n")
    wh.run_base_db()

    got = wh.dim("dim_base_color")
    # configured projection applied; configured (non-"id") pk respected;
    # only the post-config record landed
    assert got.columns == ["color_id", "color_name"]
    assert [tuple(r) for r in got.collect()] == [(7, "crimson")]
    # discovered by the dims() helper alongside the standard tables
    d = wh.dims()
    assert "base_color" in d and "sku_info" in d

    # schema evolution mid-stream: a config update widens the column
    # list; existing rows keep nulls in the new column (additive DDL)
    wh.add_config_rows([{
        "source_table": "base_color", "operate_type": "insert",
        "sink_type": "hbase", "sink_table": "dim_base_color",
        "sink_columns": "color_id,color_name,hex", "sink_pk": "color_id",
        "sink_extend": None}])
    with open(os.path.join(work, "ods_db", "changelog-2.jsonl"), "w") as f:
        f.write(json.dumps({
            "database": "gmall2021", "table": "base_color",
            "type": "insert",
            "data": json.dumps({"color_id": 8, "color_name": "navy",
                                "hex": "#001f3f"}),
            "before_data": "{}"}) + "\n")
    wh.run_base_db()
    evolved = {r["color_id"]: r for r in
               wh.dim("dim_base_color").collect()}
    assert set(evolved) == {7, 8}
    assert evolved[8]["hex"] == "#001f3f"
    assert evolved[7]["hex"] is None

    # cold fallback: a spec with NO column list derives column names
    # from the JSON payload itself (reference keeps such records
    # unfiltered, TableProcessFunction.java:62-68) — exercised via
    # the DataFrame-only json_object_keys scan, no .rdd hop
    wh.add_config_rows([{
        "source_table": "base_material", "operate_type": "insert",
        "sink_type": "hbase", "sink_table": "dim_base_material",
        "sink_columns": None, "sink_pk": "id", "sink_extend": None}])
    with open(os.path.join(work, "ods_db", "changelog-3.jsonl"), "w") as f:
        f.write(json.dumps({
            "database": "gmall2021", "table": "base_material",
            "type": "insert",
            "data": json.dumps({"id": 3, "material_name": "cotton",
                                "extra": "kept"}),
            "before_data": "{}"}) + "\n")
    wh.run_base_db()
    mat = wh.dim("dim_base_material")
    assert sorted(mat.columns) == ["extra", "id", "material_name"]
    row = mat.collect()[0]
    assert (row["id"], row["material_name"], row["extra"]) \
        == (3, "cotton", "kept")


@pytest.mark.parametrize("files", ["one", "two"])
def test_last_change_to_a_dim_key_wins_within_a_batch(spark, tmp_path,
                                                       files):
    """Phoenix applies a batch's upserts in changelog order, so the
    last change to a dim key wins. One micro-batch holds 40 inserts
    (name=old<k>) and then updates of the same ids. In one file, the
    updates (name=new<k>) follow the inserts. With two files, the
    later-named one holds two rounds of updates (mid<k>, then new<k>)
    and is the larger one, which Spark reads first (it packs file
    splits largest first): neither the first row read per key nor the
    last one is the last change. Every key ends at new<k>."""
    import json

    def change(op, k, name):
        return json.dumps({
            "database": "gmall2021", "table": "t", "type": op,
            "data": json.dumps({"id": k, "name": name}),
            "before_data": "{}"})

    work = str(tmp_path / f"wh_last_{files}")
    wh = Warehouse(spark, work, [
        {"source_table": "t", "operate_type": op, "sink_type": "hbase",
         "sink_table": "dim_t", "sink_columns": "id,name", "sink_pk": "id",
         "sink_extend": None} for op in ("insert", "update")])
    inserts = [change("insert", k, f"old{k}") for k in range(40)]
    updates = [change("update", k, f"new{k}") for k in range(40)]
    ods = os.path.join(work, "ods_db")
    chunks = ([inserts + updates] if files == "one" else
              [inserts, [change("update", k, f"mid{k}")
                         for k in range(40)] + updates])
    for i, lines in enumerate(chunks):
        with open(os.path.join(ods, f"changelog-{i}.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")
    wh.run_base_db()
    got = {r.id: r.name for r in wh.dim("dim_t").collect()}
    assert got == {k: f"new{k}" for k in range(40)}
