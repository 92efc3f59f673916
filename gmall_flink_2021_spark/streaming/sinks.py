"""Streaming sinks, replacing the reference's Kafka/ClickHouse/Phoenix
writers with Spark-managed parquet tables.

 - K1/K3: idempotent foreachBatch append — the exactly-once analog of
   the reference's transactional Kafka producer + JDBC batch sink
   (utils/MyKafkaUtil.java:21-23, utils/ClickhouseUtil.java:17-52):
   each micro-batch writes to a batchId-named subdirectory, so batch
   replay after failure overwrites instead of duplicating (O9).
 - K2: dynamic routing — the reference picks the Kafka topic from the
   record's sinkTable field; here one partitioned write sends each
   sink_table group to its own directory in a single pass.
 - K4: dim upsert — Phoenix `upsert into` becomes a merge-by-pk
   (last-write-wins on the pk) into a copy-on-write parquet dim
   table: each merge writes the whole table as a new version
   ``<table>/v<N>/`` in one Spark write and commits it by renaming
   its schema onto ``v<N>/_schema.json``. A read takes the newest
   committed version with that schema, so it is a file listing with
   no footer job and never sees a half-written merge.

Every streaming job runs through :func:`drain`.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def drain(stream: DataFrame, sink: Callable[[DataFrame, int], None],
          checkpoint: str) -> None:
    """Run ``sink(batch, batch_id)`` over everything ``stream`` has
    available (an availableNow foreachBatch query checkpointed at
    ``checkpoint``) and return once it is consumed. A sink that
    raises fails the query and the error is re-raised here; either
    way no query outlives the call."""
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination()
    finally:
        q.stop()


def with_row_audit(df: DataFrame, name: str = "row_audit") -> DataFrame:
    """Attach an in-flight reconciliation metric to any stream (or
    batch frame): rows seen and non-null keys, surfaced per
    micro-batch through StreamingQueryProgress.observedMetrics —
    production monitoring without a second scan or a side query. Pair
    with the sink's own counts to detect silent row loss between
    stages (the observability layer every ingest pipeline carries)."""
    first = df.columns[0]
    return df.observe(
        name,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col(first).isNotNull().cast("long"))
        .alias("first_col_nonnull"))


def write_idempotent(df: DataFrame, batch_id: int, path: str) -> None:
    """foreachBatch body: overwrite-by-batchId append (O9)."""
    df.write.mode("overwrite").parquet(
        os.path.join(path, f"batch_id={batch_id}"))


def write_routed(df: DataFrame, batch_id: int, path: str,
                 route_col: str = "sink_table") -> None:
    """K2 analog: route each record to its sink_table directory with a
    single partitioned write (no per-topic loop, no second shuffle)."""
    (df.write.mode("overwrite")
       .partitionBy(route_col)
       .parquet(os.path.join(path, f"batch_id={batch_id}")))


# A version's recorded schema, inside the version dir; the `_` prefix
# keeps it out of Spark's file listing. Its appearance commits the
# version.
DIM_SCHEMA_FILE = "_schema.json"


def read_dim(spark, dim_path: str) -> DataFrame:
    """Read the newest committed version of a dim table with the
    schema :func:`upsert_dim` recorded for it: a file listing and no
    Spark job. The frame lists the version's files when it is built,
    so it reads the same rows after the next merge commits."""
    fs, P = store_fs(spark, dim_path)
    versions = _committed_versions(fs, P, dim_path)
    if not versions:
        raise FileNotFoundError(f"no dim table at {dim_path}")
    return _read_version(spark, fs, P, _version_dir(dim_path, versions[0]))


def upsert_dim(batch: DataFrame, dim_path: str, pk: str = "id") -> None:
    """K4 analog: merge a micro-batch into the dim table keyed on the
    sink_pk (default 'id', TableProcessFunction.java:71-73): new rows
    replace old rows with the same pk (DimSinkFunction.java:56-69
    upsert semantics). Of several batch rows with one pk an arbitrary
    one is kept (dropDuplicates), so a caller that knows the change
    order passes each key's last change (run_base_db does).

    Copy-on-write: the merge reads the newest committed version
    ``<table>/v<N>``, drops the batch's pks from it, appends the batch
    rows and writes the whole result as ``<table>/v<N+1>`` in one
    Spark write. Renaming the merged schema onto
    ``v<N+1>/_schema.json`` commits it (:func:`_commit`): the
    recorded columns first, then any new column of the batch, which
    the old rows read as null. Versions older than ``v<N>`` are then
    deleted; ``v<N>`` stays for readers that resolved it before the
    commit.

    Crash recovery is one rule: an uncommitted version is never read,
    and the next merge overwrites it. Replaying a batch on top of the
    last committed version converges to the same rows."""
    spark = batch.sparkSession
    fs, P = store_fs(spark, dim_path)
    versions = _committed_versions(fs, P, dim_path)
    merged = batch.dropDuplicates([pk])
    if versions:
        # allowMissingColumns: a mid-stream config change can evolve
        # the dim's column set (the runtime-DDL path) — new columns
        # arrive as nulls on old rows, removed ones stay null on new
        # rows, mirroring Phoenix's additive ALTER behavior. The
        # anti-join removes every batch pk; its new row comes back
        # from the union.
        current = _read_version(spark, fs, P,
                                _version_dir(dim_path, versions[0]))
        merged = (current.join(merged.select(pk), pk, "left_anti")
                  .unionByName(merged, allowMissingColumns=True))
    new = _version_dir(dim_path, versions[0] + 1 if versions else 0)
    merged.write.mode("overwrite").parquet(new)
    _commit(fs, P, new, merged.schema)
    for old in versions[1:]:
        fs.delete(P(_version_dir(dim_path, old)), True)


def _version_dir(dim_path: str, n: int) -> str:
    return os.path.join(dim_path, f"v{n}")


def _committed_versions(fs, P, dim_path: str) -> list[int]:
    """The numbers of ``dim_path``'s committed versions, newest first;
    empty before its first merge."""
    if not fs.exists(P(dim_path)):
        return []
    names = (st.getPath().getName() for st in fs.listStatus(P(dim_path)))
    return sorted(
        (int(n[1:]) for n in names if n[:1] == "v" and n[1:].isdigit()
         and fs.exists(P(os.path.join(dim_path, n, DIM_SCHEMA_FILE)))),
        reverse=True)


def _read_version(spark, fs, P, version: str) -> DataFrame:
    stream = fs.open(P(os.path.join(version, DIM_SCHEMA_FILE)))
    try:
        text = bytes(stream.readAllBytes())
    finally:
        stream.close()
    return spark.read.schema(StructType.fromJson(json.loads(text))) \
        .parquet(version)


def _commit(fs, P, version: str, schema: StructType) -> None:
    """Commit the version written at ``version``: write ``schema``
    (every column nullable) to a temp file, then rename it onto
    ``_schema.json``, so the marker appears whole or not at all."""
    schema = StructType([StructField(f.name, f.dataType, True)
                         for f in schema.fields])
    tmp = P(os.path.join(version, DIM_SCHEMA_FILE + ".tmp"))
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(schema.json().encode()))
    finally:
        out.close()
    # FileSystem.rename reports failure by returning false
    if not fs.rename(tmp, P(os.path.join(version, DIM_SCHEMA_FILE))):
        raise RuntimeError(f"could not commit {version}")


def store_fs(spark, path: str):
    """(Hadoop FileSystem, Path constructor) for ``path`` — the dim
    store's path operations must work on any Hadoop-supported
    filesystem (file:/, hdfs://), not just the driver's local disk,
    so exists/rename/delete go through the JVM FileSystem API rather
    than os.path/os.rename."""
    P = spark._jvm.org.apache.hadoop.fs.Path
    fs = P(path).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, P
