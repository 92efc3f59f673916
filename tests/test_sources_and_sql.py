"""Source modeling + SQL-surface coverage: the Python tokenizer UDTF
(U1/U2), the CDC changelog source with type normalization (S2/S3),
exactly-once recovery via checkpoints (O9), and the four SQL
stream-stream join modes (J5)."""

import json

import pytest

from pyspark.sql import functions as F

from gmall_flink_2021_spark.functions.text import register_tokenizer_udtf
from gmall_flink_2021_spark.sources import cdc as cdc_src
from gmall_flink_2021_spark.sources import gmall_fixtures as fx

from .stream_helpers import run_to_completion


def test_tokenizer_udtf_lateral(spark):
    register_tokenizer_udtf(spark)
    spark.createDataFrame(
        [(1, "apple phone case"), (2, ""), (3, None), (4, "red  dress")],
        "doc_id long, text string").createOrReplaceTempView("_udtf_docs")
    rows = spark.sql("""
        SELECT d.doc_id, t.keyword
        FROM _udtf_docs d, LATERAL ik_analyze(d.text) t
    """).collect()
    got = sorted((r.doc_id, r.keyword) for r in rows)
    assert got == [(1, "apple"), (1, "case"), (1, "phone"),
                   (4, "dress"), (4, "red")]


def test_cdc_changelog_stream(spark, tmp_path):
    rows = fx.cdc_rows()
    # disguise some rows with Debezium-style op codes to exercise the
    # create/read→insert normalization path
    rows[0] = dict(rows[0], type="c")
    rows[1] = dict(rows[1], type="r")
    path = str(tmp_path / "changelog")
    cdc_src.write_changelog_fixture(rows, path)

    out = run_to_completion(cdc_src.read_changelog_stream(spark, path),
                            str(tmp_path / "ck_cdc"))
    assert out.count() == len(rows)
    assert out.filter(F.col("type").isin("c", "r", "read")).count() == 0
    batch = cdc_src.read_changelog(spark, path)
    assert batch.filter(F.col("type") == "insert").count() == \
        out.filter(F.col("type") == "insert").count()


def test_checkpoint_recovery_no_duplicates(spark, tmp_path):
    """O9: restarting a checkpointed stream over a grown source dir
    must process only the new file — the already-committed batch is
    not re-emitted (the exactly-once analog of the transactional
    producer)."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("\n".join(f"a{i}" for i in range(10)))
    stream = spark.readStream.format("text").load(str(src))
    from gmall_flink_2021_spark.streaming import sinks

    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def write(df, bid):
        sinks.write_idempotent(df, bid, out_dir)

    q = (stream.writeStream.foreachBatch(write)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.read.parquet(out_dir).count() == 10

    (src / "b.txt").write_text("\n".join(f"b{i}" for i in range(5)))
    q = (stream.writeStream.foreachBatch(write)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.read.parquet(out_dir)
    assert got.count() == 15
    assert got.filter(F.col("value").startswith("b")).count() == 5


@pytest.mark.parametrize("how,expect", [
    ("inner", {(1, 1)}),
    ("left", {(1, 1), (2, None)}),
    ("right", {(1, 1), (None, 3)}),
    ("full", {(1, 1), (2, None), (None, 3)}),
])
def test_sql_stream_joins(spark, tmp_path, how, expect):
    """J5: the four SQL join modes as watermarked stream-stream joins
    (FlinkSQLJoinTest.java:20-47); outer sides emit their null rows
    once the watermark passes the join window."""
    import datetime

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def mk(dirname, rows):
        d = tmp_path / dirname
        d.mkdir()
        with open(d / "p.jsonl", "w") as f:
            for rid, sec in rows:
                f.write(json.dumps({
                    "id": rid,
                    "t": (base + datetime.timedelta(seconds=sec))
                        .strftime("%Y-%m-%d %H:%M:%S")}) + "\n")
        return (spark.readStream.schema("id long, t string")
                .json(str(d))
                .withColumn("t", F.to_timestamp("t")))

    # id 1 matches; id 2 only left; id 3 only right; a far-future row
    # on each side advances the watermark so outer results flush
    left = mk("l", [(1, 0), (2, 1), (99, 4000)])
    right = mk("r", [(1, 2), (3, 3), (98, 4000)])
    l = left.withWatermark("t", "1 second").alias("l")
    r = right.withWatermark("t", "1 second").alias("r")
    joined = l.join(
        r, F.expr("l.id = r.id AND r.t BETWEEN l.t - INTERVAL 10 SECONDS "
                  "AND l.t + INTERVAL 10 SECONDS"), how)
    out = run_to_completion(joined.select(F.col("l.id").alias("lid"),
                                          F.col("r.id").alias("rid")),
                            str(tmp_path / f"ck_{how}"))
    got = {(r.lid, r.rid) for r in out.collect()
           if r.lid not in (98, 99) and r.rid not in (98, 99)}
    assert got == expect

def test_kafka_builder_contracts(spark):
    """K1/K2/S1 pinned without a broker: exact option sets and the
    dynamic-topic projection shape (MyKafkaUtil.java:15-37)."""
    from gmall_flink_2021_spark.sources import kafka as k

    assert k.consumer_options("b:9092", "ods_base_log", "g1") == {
        "kafka.bootstrap.servers": "b:9092",
        "subscribe": "ods_base_log",
        "kafka.group.id": "g1",
        "startingOffsets": "latest",
        "failOnDataLoss": "false",
    }
    # replay mode (startup mode earliest) is caller-selectable
    assert k.consumer_options("b:9092", "t", "g",
                              "earliest")["startingOffsets"] == "earliest"

    assert k.producer_options("b:9092", "/ck/x") == {
        "kafka.bootstrap.servers": "b:9092",
        "checkpointLocation": "/ck/x",
    }

    df = spark.createDataFrame(
        [("dwd_order_info", '{"id":1}', 9)],
        "sink_table string, value string, extra int")
    # K2: dynamic routing keeps exactly (topic, value), both strings
    routed = k.route_topic(df, topic_col="sink_table")
    assert routed.columns == ["topic", "value"]
    assert dict(routed.dtypes) == {"topic": "string", "value": "string"}
    assert routed.collect()[0]["topic"] == "dwd_order_info"
    # K1: fixed topic -> value-only frame, topic set on the writer
    assert k.route_topic(df).columns == ["value"]


def test_kafka_value_decode_and_routed_roundtrip(spark, tmp_path):
    """Schema-level round-trip of the S1→K2 path without a broker
    (environmental gap — no broker exists in this sandbox; every
    semantic below is what the wire path would carry):

    1. decode_value on a Kafka-SHAPED frame (binary key/value, topic,
       partition, offset — the exact columns the kafka source emits)
       must UTF-8-decode values bit-exactly, including CJK payloads;
    2. the routed projection fed through the file analog
       (streaming/sinks.write_routed) must land every record under
       its route directory — same per-record routing contract the
       kafka sink's `topic` column honors."""
    import os

    from gmall_flink_2021_spark.sources import kafka as k
    from gmall_flink_2021_spark.streaming.sinks import write_routed

    payloads = ['{"id":1,"name":"苹果手机"}', '{"id":2}', "plain"]
    topics = ["dwd_order_info", "dwd_order_detail", "dwd_order_info"]
    kafka_shaped = spark.createDataFrame(
        [(None, p.encode("utf-8"), t, 0, i, None, 0)
         for i, (p, t) in enumerate(zip(payloads, topics))],
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp, timestampType int")
    decoded = k.decode_value(kafka_shaped)
    assert decoded.columns == ["value"]
    assert dict(decoded.dtypes) == {"value": "string"}
    assert [r.value for r in decoded.orderBy(F.lit(1)).collect()] \
        == payloads or sorted(
            r.value for r in decoded.collect()) == sorted(payloads)

    routed = k.route_topic(
        kafka_shaped.select(
            F.col("topic").alias("sink_table"),
            F.col("value").cast("string").alias("value")),
        topic_col="sink_table")
    out = str(tmp_path / "routed")
    write_routed(routed, 0, out, route_col="topic")
    got = {(r.topic, r.value) for r in
           spark.read.parquet(os.path.join(out, "batch_id=0")).collect()}
    assert got == set(zip(topics, payloads))


def test_micros_reads_unaffected_by_nanos_flag(spark, tmp_path):
    """Session-conf hygiene for the nanosAsLong flag: after a
    nanos-encoded streaming query has run (the flag is session-global
    and must stay set for its scans), a MICROS-encoded parquet read in
    the same session must still surface timestamps, not bigints — the
    legacy flag is type-scoped to NANOS physical columns. Both the raw
    read and the load_table path are pinned."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmall_flink_2021_spark.sources.tables import (
        events_ts_is_nanos, load_table)

    # the engine session keeps the flag set (session factory default,
    # and any nanos streaming scan needs it at execution time)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    base = datetime.datetime(2024, 1, 1)
    table = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["view", "click"]),
        "ts": pa.array([base, base + datetime.timedelta(seconds=5)],
                       pa.timestamp("us")),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array([{"k": "v"}, {"k": "w"}],
                          pa.map_(pa.string(), pa.string())),
    })
    d = tmp_path / "micros_sf"
    d.mkdir()
    pq.write_table(table, str(d / "events.parquet"))
    assert not events_ts_is_nanos(str(d / "events.parquet"))

    raw = spark.read.parquet(str(d / "events.parquet"))
    assert dict(raw.dtypes)["ts"].startswith("timestamp")
    via_loader = load_table(spark, str(d), "events")
    assert dict(via_loader.dtypes)["ts"].startswith("timestamp")
    assert via_loader.count() == 2
