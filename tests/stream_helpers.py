"""Test-side stream helpers: a file-backed events stream and a
memory-sink runner that the streaming==batch tests read back.

The package's only query runner is ``streaming/sinks.drain``;
``run_to_completion`` lives here because only tests read a stream
back through a memory sink.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from gmall_flink_2021_spark.sources.tables import (
    convert_events_ts, events_ts_is_nanos, load_table)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver events table replayed as a file stream with event
    time. Schema comes from the batch loader (incl. the nanos fix).

    The file streaming source only accepts directories, so the single
    parquet file is staged (hard-linked/copied once) into a per-sf
    spool directory under /tmp.
    """
    src = os.path.join(sf_dir, "events.parquet")
    src_stat = os.stat(src)
    # key the spool by file identity, not just path: the source parquet
    # can be regenerated in place between runs, and a stale staged copy
    # would silently diverge from the batch loader
    ident = f"{sf_dir}:{src_stat.st_mtime_ns}:{src_stat.st_size}"
    spool = os.path.join(
        "/tmp", "gmall_stream_spool",
        hashlib.md5(ident.encode()).hexdigest()[:12])
    os.makedirs(spool, exist_ok=True)
    dst = os.path.join(spool, "events.parquet")
    if not os.path.exists(dst):
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy(src, dst)
    # the physical ts encoding varies between generator versions:
    # TIMESTAMP(NANOS) surfaces as bigint (needs the shared nanos→NTZ
    # conversion), TIMESTAMP(MICROS) reads natively — probe the footer
    # metadata so the session-global nanosAsLong flag is only touched
    # when the file actually needs it (and then it must stay set: the
    # streaming scan consults it at execution time)
    if not events_ts_is_nanos(src):
        return (spark.readStream
                .schema(spark.read.parquet(src).schema)
                .format("parquet").load(spool))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = load_table(spark, sf_dir, "events")
    raw_schema = StructType([
        StructField("ts", LongType(), f.nullable) if f.name == "ts" else f
        for f in batch.schema.fields])
    raw = spark.readStream.schema(raw_schema).format("parquet").load(spool)
    return convert_events_ts(raw)


def run_to_completion(stream_df: DataFrame, checkpoint: str) -> DataFrame:
    """Drain a file-backed stream with availableNow into a memory sink
    and return it as a DataFrame."""
    name = "sink_" + uuid.uuid4().hex[:12]
    query = (stream_df.writeStream
             .format("memory")
             .queryName(name)
             .outputMode("append")
             .option("checkpointLocation", checkpoint)
             .trigger(availableNow=True)
             .start())
    query.awaitTermination()
    return stream_df.sparkSession.table(name)
