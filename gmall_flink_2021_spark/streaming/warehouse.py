"""The composed warehouse: every reference job wired as one streaming
topology over file-backed ODS directories (swap the readers for
sources/kafka.py builders in production — the operator layer is
transport-agnostic).

Topology (mirrors SURVEY.md §0's layer diagram):

  ods_log/   ──text──► parse → dirty/│start│page│display   (BaseLogApp)
  ods_db/    ──jsonl──► normalize → route via table_process (BaseDBApp)
      ├─ dims → P3 per spec → merge-by-pk, new version       (DimSink)
      └─ facts → typed streams
  page ──► UV dedup / bounce detect (stateful)              (UniqueVisit/UserJump)
  order⋈detail ──► order_wide  ──⋈payment──► payment_wide   (OrderWide/PaymentWide)
  all ──► visitor/product/keyword/province stats → dws/*_stream (DWS apps)
  product_stats_stream ──► gmv / trademark top-N readback   (publisher)

Each job builds one DataFrame and hands it to sinks.drain, which runs
it as an availableNow foreachBatch query checkpointed under ck/; each
writer is an idempotent parquet append (sinks.write_idempotent) — the
exactly-once analog of the reference's transactional producers. Each
DWS stat has one table, written by its streaming job, as each
reference DWS app writes one ClickHouse table; the batch functions in
operators/gmall_dws are the check the tests compare it against.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators import dwd, gmall_dwm, gmall_dws
from ..schemas import TABLE_PROCESS_SCHEMA
from ..sources import cdc as cdc_src
from . import sinks, stateful

class Warehouse:
    """Paths + SparkSession for one warehouse instance."""

    def __init__(self, spark: SparkSession, workdir: str,
                 config_rows: list[dict]):
        self.spark = spark
        self.work = workdir
        self._schemas: dict[str, StructType] = {}
        for d in ("ods_log", "ods_db", "ods_config", "dwd", "dwd_facts",
                  "dim", "dws", "ck"):
            os.makedirs(os.path.join(workdir, d), exist_ok=True)
        self._config_seq = len(os.listdir(self._p("ods_config")))
        if config_rows:
            self.add_config_rows(config_rows)

    def _p(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # --------------------------------------------------------- config feed
    def add_config_rows(self, rows: list[dict]) -> None:
        """The table_process config is itself a change stream (the
        reference broadcasts the MySQL-CDC of that table into keyed
        broadcast state — BaseDBApp.java:78-88). Appending a changelog
        file here is the transport analog: rows take effect from the
        NEXT micro-batch, exactly like a broadcast-state update racing
        the data stream."""
        import json

        path = self._p("ods_config", f"config-{self._config_seq:06d}.jsonl")
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps({**r, "_seq": self._config_seq}) + "\n")
        self._config_seq += 1

    @property
    def config(self) -> DataFrame:
        """Latest config state: per (source_table, operate_type) key,
        the highest-_seq row wins (the ValueState upsert analog)."""
        from pyspark.sql import Window
        from pyspark.sql.types import LongType, StructField, StructType

        # NB: StructType.add mutates in place — build a fresh copy
        schema = StructType(list(TABLE_PROCESS_SCHEMA.fields)
                            + [StructField("_seq", LongType())])
        raw = self.spark.read.schema(schema).json(self._p("ods_config"))
        w = Window.partitionBy("source_table", "operate_type") \
                  .orderBy(F.desc("_seq"))
        return (raw.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn", "_seq"))

    # ------------------------------------------------------------ ODS→DWD
    def run_base_db(self) -> None:
        """BaseDBApp: changelog → route → dim merge + fact topics.

        Routing happens INSIDE foreachBatch against the config state
        as of that batch, so a table_process row arriving mid-stream
        re-routes every later batch — the reference's
        BroadcastProcessFunction semantics (BaseDBApp.java:78-88)
        without restarting the query."""
        stream = cdc_src.read_changelog_stream(self.spark,
                                               self._p("ods_db"))
        stream = dwd.filter_deletes(stream)

        def sink(cdc_batch: DataFrame, bid: int) -> None:
            # each row's place in the changelog: file path, then line
            # order within the file (split start, then the row's id,
            # which grows along a split), so a key's last change wins
            pos = F.struct(F.input_file_name(), F.input_file_block_start(),
                           F.monotonically_increasing_id())
            batch = dwd.route_cdc(cdc_batch.withColumn("_pos", pos),
                                  self.config).persist()
            try:
                facts = batch.filter(F.col("sink_type") == "kafka")
                sinks.write_routed(facts.drop("_pos"), bid,
                                   self._p("dwd_facts"))
                self._merge_dims(batch.filter(F.col("sink_type") == "hbase"))
            finally:
                batch.unpersist()

        sinks.drain(stream, sink, self._p("ck", "base_db"))

    def _merge_dims(self, dims: DataFrame) -> None:
        """K4, config-driven end-to-end: table, column list and pk
        travel on the routed rows — straight from the table_process
        config — so a config row arriving mid-stream materializes a
        brand-new dim table on its first batch
        (TableProcessFunction.java:62-121). One table can carry several
        specs (e.g. different sink_columns per operate_type): each
        row is projected with ITS spec's column list, as the reference
        does per record (ibid:155-172). A table's rows merge as one
        batch holding each key's last change, as Phoenix applies the
        upserts in order."""
        specs: dict[tuple[str, str], list] = {}
        for s in dims.select("sink_table", "sink_columns",
                             "sink_pk").distinct().collect():
            specs.setdefault((s.sink_table, s.sink_pk or "id"), []) \
                .append(s.sink_columns)
        for (table, pk), columns in sorted(specs.items()):
            key = F.get_json_object("data", f"$.{pk}").cast("long")
            last = (dims.filter((F.col("sink_table") == table)
                                & (F.coalesce("sink_pk", F.lit("id")) == pk))
                    .withColumn("_rn", F.row_number().over(
                        Window.partitionBy(key).orderBy(F.desc("_pos"))))
                    .filter(F.col("_rn") == 1))
            parts = []
            for sink_columns in sorted(columns, key=lambda c: c or ""):
                rows = last.filter(
                    F.col("sink_columns").eqNullSafe(sink_columns))
                cols = dwd.sink_column_list(rows, table, sink_columns, pk)
                if cols is not None:
                    parts.append(dwd.project_sink_columns(rows, table, cols))
            if parts:
                batch = reduce(lambda a, b: a.unionByName(
                    b, allowMissingColumns=True), parts)
                sinks.upsert_dim(
                    batch.withColumn(pk, F.col(pk).cast("long")),
                    self._p("dim", table), pk=pk)

    def run_base_log(self) -> None:
        """BaseLogApp: raw log → dirty + start/page/display topics."""
        raw = self.spark.readStream.format("text").load(self._p("ods_log"))
        parsed = dwd.parse_log(raw)

        def sink(batch: DataFrame, bid: int) -> None:
            batch = batch.persist()
            try:
                sinks.write_idempotent(
                    dwd.dirty_records(batch), bid,
                    self._p("dwd", "dirty"))
                streams = dwd.split_log(batch)
                for name in ("start", "page"):
                    sinks.write_idempotent(streams[name], bid,
                                           self._p("dwd", f"log_{name}"))
                sinks.write_idempotent(
                    streams["display"].withColumn(
                        "common", F.col("common").cast("string")),
                    bid, self._p("dwd", "log_display"))
            finally:
                batch.unpersist()

        sinks.drain(parsed, sink, self._p("ck", "base_log"))

    # ------------------------------------------------------------ helpers
    def _drain_to(self, stream: DataFrame, table: str,
                  checkpoint: str) -> None:
        """Drain ``stream`` into the idempotent parquet table at
        ``table``, checkpointed under ck/``checkpoint``."""
        sinks.drain(
            stream, lambda b, i: sinks.write_idempotent(b, i, table),
            self._p("ck", checkpoint))

    def dim(self, name: str) -> DataFrame:
        return sinks.read_dim(self.spark, self._p("dim", name))

    def dims(self) -> dict[str, DataFrame]:
        """Every dim table materialized so far, discovered from the dim
        store itself (the table set is config-driven, not a constant)."""
        base = self._p("dim")
        names = sorted(d for d in os.listdir(base)
                       if d.startswith("dim_"))
        return {n.removeprefix("dim_"): self.dim(n) for n in names}

    def fact(self, sink_table: str):
        df = (self.spark.read
              .option("basePath", self._p("dwd_facts"))
              .parquet(self._p("dwd_facts")))
        return df.filter(F.col("sink_table") == sink_table)

    def typed_fact(self, table: str) -> DataFrame:
        rows = self.fact(f"dwd_{table}")
        return (rows.select(F.from_json(
            "data", gmall_dwm.FACT_SCHEMAS[table]).alias("d"))
            .select("d.*"))

    def page_stream(self) -> DataFrame:
        return self._parquet_stream(self._p("dwd", "log_page"))

    # ------------------------------------------------------------ DWM
    def run_unique_visitors(self) -> None:
        """UniqueVisitApp: stateful daily-UV dedup → dwm_unique_visit."""
        proj = stateful.page_events_projection(self.page_stream()) \
            .withWatermark("et", "1 second")
        self._drain_to(stateful.dedup_uv(proj),
                       self._p("dwd", "dwm_unique_visit"), "uv")

    def run_user_jumps(self) -> None:
        """UserJumpDetailApp: stateful bounce detect → dwm_user_jump."""
        proj = stateful.page_events_projection(self.page_stream()) \
            .withWatermark("et", "1 second")
        self._drain_to(stateful.detect_jumps(proj),
                       self._p("dwd", "dwm_user_jump"), "uj")

    def typed_fact_stream(self, table: str) -> DataFrame:
        """The fact topic as a stream: reads the routed parquet dir
        directly (partition pruning on sink_table), so the job's
        checkpoint tracks the real topic files — re-runs without new
        ODS input process nothing (exactly-once)."""
        rows = self._parquet_stream(self._p("dwd_facts")).filter(
            F.col("sink_table") == f"dwd_{table}")
        return (rows.select(F.from_json(
            "data", gmall_dwm.FACT_SCHEMAS[table]).alias("d"))
            .select("d.*"))

    def run_order_wide(self) -> None:
        """OrderWideApp: streaming interval join + dim enrichment."""
        oi_s = self.typed_fact_stream("order_info")
        od_s = self.typed_fact_stream("order_detail")
        wide = gmall_dwm.order_wide_join(oi_s, od_s, streaming=True)

        def sink(batch: DataFrame, bid: int) -> None:
            # dims as of this batch: a dim row merged while the query
            # runs enriches every later batch
            enriched = gmall_dwm.enrich_order_wide(batch, self.dims())
            sinks.write_idempotent(enriched, bid,
                                   self._p("dwd", "dwm_order_wide"))

        sinks.drain(wide, sink, self._p("ck", "order_wide"))

    def run_payment_wide(self) -> None:
        """PaymentWideApp: payment topic ⋈ the materialized order-wide
        stream (topic-to-topic, as the reference chains jobs through
        Kafka), watermarked stream-stream join, −0..+15 min bounds."""
        pay = self.typed_fact_stream("payment_info")
        ow_path = self._p("dwd", "dwm_order_wide")
        ow = self._parquet_stream(ow_path).drop("batch_id")
        wide = gmall_dwm.payment_wide_join(pay, ow, streaming=True)
        self._drain_to(wide, self._p("dwd", "dwm_payment_wide"),
                       "payment_wide")

    def _schema(self, path: str) -> StructType:
        """The schema of the topic table at ``path``, inferred from a
        footer on first use and then kept: a topic's columns are fixed
        by the job that writes it, so each query start and each read
        of it needs no inference job."""
        if path not in self._schemas:
            self._schemas[path] = self.spark.read.parquet(path).schema
        return self._schemas[path]

    def _parquet_stream(self, path: str) -> DataFrame:
        return (self.spark.readStream.schema(self._schema(path))
                .option("basePath", path).parquet(path))

    # ------------------------------------------------------------ DWS
    def run_visitor_stats_streaming(self) -> None:
        """VisitorStatsApp: 3-stream union behind one watermark (O7 —
        Spark tracks the min watermark across inputs), additive window
        reduce in append mode. Only watermark-closed windows are
        emitted."""
        page_path = self._p("dwd", "log_page")
        page_static = self.spark.read.schema(self._schema(page_path)) \
            .parquet(page_path)
        unioned = gmall_dws.visitor_stats_union(
            self.page_stream(),
            self._parquet_stream(self._p("dwd", "dwm_unique_visit"))
                .select("mid", "ts"),
            self._parquet_stream(self._p("dwd", "dwm_user_jump"))
                .select("mid", "ts"),
            gmall_dws.mid_dimensions(page_static))
        self._drain_to(gmall_dws.visitor_stats_agg(unioned),
                       self._p("dws", "visitor_stats_stream"), "vs_stream")

    def run_product_stats_streaming(self) -> None:
        """ProductStatsApp: the 8 source streams unioned behind one
        watermark, set-based distinct order counts, append-mode window
        reduce. Dim enrichment happens at read time (trademark_top)."""
        stats = gmall_dws.product_stats(
            page=self.page_stream(),
            display=self._parquet_stream(self._p("dwd", "log_display"))
                .drop("batch_id"),
            favor=self.typed_fact_stream("favor_info"),
            cart=self.typed_fact_stream("cart_info"),
            order_wide=self._parquet_stream(
                self._p("dwd", "dwm_order_wide")).drop("batch_id"),
            payment_wide=self._parquet_stream(
                self._p("dwd", "dwm_payment_wide")).drop("batch_id"),
            refund=self.typed_fact_stream("order_refund_info"),
            comment=self.typed_fact_stream("comment_info"))
        self._drain_to(stats, self._p("dws", "product_stats_stream"),
                       "ps_stream")

    def run_keyword_stats_streaming(self) -> None:
        """KeywordStatsApp: good_list search phrases tokenized and
        window-counted behind a watermark (the U1 tokenizer explode
        feeding an A5 tumble window)."""
        self._drain_to(gmall_dws.keyword_stats(self.page_stream()),
                       self._p("dws", "keyword_stats_stream"), "kw_stream")

    def run_province_stats_streaming(self) -> None:
        """ProvinceStatsSqlApp as a streaming job over the enriched
        order-wide topic; the exact distinct order count uses
        collect_set (streaming-legal, A4 semantics). Checked against
        gmall_dws.province_stats_sql."""
        ow = (self._parquet_stream(self._p("dwd", "dwm_order_wide"))
              .drop("batch_id")
              .withWatermark("order_et", gmall_dws.WATERMARK))
        stats = (ow.groupBy(
                    F.window("order_et", gmall_dws.WINDOW),
                    "province_id", "province_name", "province_area_code",
                    "province_iso_code", "province_3166_2_code")
                 .agg(F.sum(F.col("split_total_amount")
                            .cast("decimal(18,2)"))
                      .cast("decimal(18,2)").alias("order_amount"),
                      F.size(F.collect_set("order_id")).cast("long")
                      .alias("order_count"))
                 .select(F.col("window.start").alias("stt"),
                         F.col("window.end").alias("edt"),
                         "province_id", "province_name",
                         "province_area_code", "province_iso_code",
                         "province_3166_2_code", "order_amount",
                         "order_count"))
        self._drain_to(stats, self._p("dws", "province_stats_stream"),
                       "prov_stream")

    # ------------------------------------------------------------ serving
    def _product_stats(self) -> DataFrame:
        path = self._p("dws", "product_stats_stream")
        return self.spark.read.schema(self._schema(path)).parquet(path) \
            .drop("batch_id")

    def gmv(self, date: str) -> DataFrame:
        """GMV for one day (ProductStatsMapper.java:13-14) from
        product_stats_stream, the table the dashboards read. Like the
        reference's ClickHouse table it holds only watermark-closed
        windows, so the answer covers events up to the product-stats
        watermark, not the last event ingested."""
        return gmall_dws.gmv(self._product_stats(), date)

    def trademark_top(self, date: str, limit: int = 5) -> DataFrame:
        """Trademark top-N by order amount (ProductStatsMapper.java:21)
        from product_stats_stream (watermark-closed windows, as in
        gmv), enriched at read time with the sku/spu/trademark/
        category3 dims as the dashboards do."""
        dims = {n: self.dim(f"dim_{n}") for n in
                ("sku_info", "spu_info", "base_trademark",
                 "base_category3")}
        return gmall_dws.trademark_top(
            gmall_dws.enrich_product_stats(self._product_stats(), dims),
            date, limit)

    # ------------------------------------------------------------ one shot
    def run_all(self) -> None:
        """Every streaming job once, in dependency order: each reads
        only tables the jobs before it write."""
        for job in ("run_base_db", "run_base_log", "run_unique_visitors",
                    "run_user_jumps", "run_order_wide", "run_payment_wide",
                    "run_visitor_stats_streaming",
                    "run_product_stats_streaming",
                    "run_keyword_stats_streaming",
                    "run_province_stats_streaming"):
            getattr(self, job)()
