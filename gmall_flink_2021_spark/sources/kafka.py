"""Kafka source/sink wiring (S1/S6/K1/K2).

No broker exists in the test environment, so these builders return
the configured reader without starting it; the warehouse's
file-backed ODS sources (streaming/warehouse.py) present the
identical ``value: string`` surface to every operator, which is what
makes the operator layer transport-agnostic. The option sets and the dynamic
topic routing are plain-Python/DataFrame constructions so the
contract is pinned by test (tests/test_sources_and_sql.py) even
without a broker. Reference parity:
 - consumer: MyKafkaUtil.getKafkaConsumer (MyKafkaUtil.java:29-37)
 - producer: getKafkaProducer / getKafkaProducerWithSchema with
   exactly-once + dynamic topic from the record (MyKafkaUtil.java:15-27)
 - SQL DDL connector: getKafkaDDL (MyKafkaUtil.java:39-49)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_STARTING_OFFSETS = "latest"   # scan.startup.mode latest-offset


def consumer_options(brokers: str, topic: str, group_id: str,
                     starting_offsets: str | None = None) -> dict[str, str]:
    """The consumer contract (MyKafkaUtil.java:29-37): subscribe by
    topic + group id, start at the latest offset unless asked to
    replay, and never fail the job on an expired/compacted offset."""
    return {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "kafka.group.id": group_id,
        "startingOffsets": starting_offsets or DEFAULT_STARTING_OFFSETS,
        "failOnDataLoss": "false",
    }


def kafka_source(spark: SparkSession, brokers: str, topic: str,
                 group_id: str, starting_offsets: str | None = None):
    """S1: subscribe and surface value as string (SimpleStringSchema)."""
    return (spark.readStream.format("kafka")
            .options(**consumer_options(brokers, topic, group_id,
                                        starting_offsets)))


def decode_value(df: DataFrame) -> DataFrame:
    """Kafka frame → DataFrame[value: string]."""
    return df.select(F.col("value").cast("string").alias("value"))


def route_topic(df: DataFrame, topic_col: str | None = None) -> DataFrame:
    """K2's dynamic routing as a pure projection: the Spark kafka sink
    honors a ``topic`` column per record, replacing the reference's
    KafkaSerializationSchema (MyKafkaUtil.java:15-27). With no
    ``topic_col`` the frame carries only ``value`` and the writer's
    fixed-topic option applies (K1)."""
    if topic_col is not None:
        return df.select(F.col(topic_col).cast("string").alias("topic"),
                         F.col("value").cast("string").alias("value"))
    return df.select(F.col("value").cast("string").alias("value"))


def producer_options(brokers: str, checkpoint: str) -> dict[str, str]:
    """The producer contract: exactly-once comes from the checkpointed
    offsets + idempotent re-writes (the analog of the reference's
    Semantic.EXACTLY_ONCE transactional producer)."""
    return {
        "kafka.bootstrap.servers": brokers,
        "checkpointLocation": checkpoint,
    }


# The DWD split-topic topology (BaseLogApp.java:110-117 side-output
# tags → Kafka topics; the file analogs in streaming/warehouse use
# the same names as directory suffixes).
SPLIT_TOPICS = {"start": "dwd_start_log", "page": "dwd_page_log",
                "display": "dwd_display_log"}


def wire_envelopes(streams: dict[str, DataFrame]) -> DataFrame:
    """The exact per-record (topic, value) rows a broker producer
    would transmit for the split log streams (operators/dwd.split_log
    output): value is the record's JSON (to_json drops null fields —
    the reference serializes JSONObject beans the same way,
    BaseLogApp.java:110-117 + MyKafkaUtil.java:15-27), topic comes
    from SPLIT_TOPICS. The Spark kafka sink UTF-8-encodes the string
    value; tests/test_kafka_wire_fixture.py pins the serialized form
    byte-for-byte against a committed golden fixture so a future
    broker environment can replay it unchanged."""
    from functools import reduce

    if not streams:
        raise ValueError("wire_envelopes needs at least one stream; "
                         "got an empty dict")
    unknown = sorted(set(streams) - set(SPLIT_TOPICS))
    if unknown:
        raise ValueError(
            f"unknown stream key(s) {unknown}: wire_envelopes routes "
            f"only the DWD split streams {sorted(SPLIT_TOPICS)}")
    outs = []
    for name in sorted(streams):
        df = streams[name]
        outs.append(df.select(
            F.lit(SPLIT_TOPICS[name]).alias("topic"),
            F.to_json(F.struct(*df.columns)).alias("value")))
    return reduce(DataFrame.unionByName, outs)
