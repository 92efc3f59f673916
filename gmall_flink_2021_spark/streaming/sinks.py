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
   (last-write-wins on the pk) into a pk-bucketed parquet dim table:
   one partitioned write stages the touched buckets, each is
   published by directory rename. The table records its own schema
   in ``<table>/_schema.json``, written before any bucket is
   published, so a read is a file listing with no footer job; a
   bucket older than a column reads it as null.

Every streaming job runs through :func:`drain`. :func:`upsert_dim`
publishes each touched dim bucket through one crash-safe rename
protocol (:func:`_write_stage`, :func:`_swap_in`,
:func:`_recover_swap`).
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


# Pk-hash bucket count for the dim tables. Local tests use a handful
# of buckets; at 100 TB this is the knob that bounds the per-batch
# rewrite to (touched buckets / n_buckets) of the table instead of a
# full rewrite.
N_DIM_BUCKETS = 16

# The bucket partition column. Deliberately NOT underscore-prefixed:
# Hadoop file listing hides `_*` paths, so `_bucket=N` directories
# would be invisible to readers. `read_dim` strips it back off.
DIM_BUCKET_COL = "pkbucket"

# The recorded table schema, inside the table dir; the `_` prefix
# keeps it out of Spark's file listing.
DIM_SCHEMA_FILE = "_schema.json"


def dim_bucket(pk_col):
    """Deterministic pk → bucket assignment (hash of the stringified
    pk, stable across batches and sessions)."""
    return F.pmod(F.xxhash64(pk_col.cast("string")),
                  F.lit(N_DIM_BUCKETS)).cast("int")


def read_dim(spark, dim_path: str) -> DataFrame:
    """Read a bucketed dim table with the schema :func:`upsert_dim`
    recorded in ``<table>/_schema.json``: a file listing and no Spark
    job. A bucket whose files predate a mid-stream column evolution
    (only touched buckets are rewritten with the new columns) reads
    the newer columns as null. The bucket partition column is an
    implementation detail the consumer never sees."""
    schema = _recorded_schema(*store_fs(spark, dim_path), dim_path)
    if schema is None:
        raise FileNotFoundError(f"no dim table at {dim_path}")
    return spark.read.schema(schema).parquet(dim_path).drop(DIM_BUCKET_COL)


def upsert_dim(batch: DataFrame, dim_path: str, pk: str = "id") -> None:
    """K4 analog: merge a micro-batch into the dim table keyed on the
    sink_pk (default 'id', TableProcessFunction.java:71-73). Within a
    batch one row per key is kept (dropDuplicates); against the
    existing table new rows replace old rows with the same pk
    (DimSinkFunction.java:56-69 upsert semantics).

    Incremental copy-on-write: the table is laid out as
    ``pkbucket=N`` hash-bucket partitions and a batch rewrites ONLY
    the buckets containing its keys — untouched buckets' files stay
    byte-identical, so a batch costs O(table · touched /
    N_DIM_BUCKETS), not O(table). The touched buckets are read once
    and their merged rows written in ONE partitioned write to
    ``<table>/_stage``, which readers never see (Spark's file listing
    skips ``_``-prefixed dirs). Each touched bucket is then published
    by :func:`_swap_in`, set aside under ``<table>/_prev`` while its
    staged successor is renamed in. Every merge first completes or
    undoes a crashed one (:func:`_recover_buckets`).

    The table's schema lives in ``<table>/_schema.json``: the recorded
    columns in order, then any new column of the batch appended
    (``pkbucket`` is never recorded). The merge reads the touched
    buckets with it and rewrites it, by temp file and rename, only
    when it grows and before any bucket is published, so it is always
    a superset of every bucket's columns and :func:`read_dim` needs
    no footer.

    Replaying a batch after a crash at any point converges without
    markers: the buckets the crashed merge already published lose and
    regain exactly the batch's keys."""
    spark = batch.sparkSession
    fs, P = store_fs(spark, dim_path)
    stage = os.path.join(dim_path, "_stage")
    prev = os.path.join(dim_path, "_prev")
    _recover_buckets(fs, P, dim_path)
    recorded = _recorded_schema(fs, P, dim_path)
    latest = batch.dropDuplicates([pk]).withColumn(
        DIM_BUCKET_COL, dim_bucket(F.col(pk))).persist()
    try:
        # bounded collect: at most N_DIM_BUCKETS rows
        touched = [f"{DIM_BUCKET_COL}={b}" for b in sorted(
            r[0] for r in latest.select(DIM_BUCKET_COL).distinct()
            .collect())]
        merged = latest
        live = [os.path.join(dim_path, b) for b in touched
                if fs.exists(P(os.path.join(dim_path, b)))]
        if live:
            # allowMissingColumns: a mid-stream config change can
            # evolve the dim's column set (the runtime-DDL path) —
            # new columns arrive as nulls on old rows, removed ones
            # stay null on new rows, mirroring Phoenix's additive
            # ALTER behavior. The anti-join removes every batch pk;
            # its new row comes back from the union.
            existing = (spark.read.schema(recorded)
                        .option("basePath", dim_path).parquet(*live))
            merged = (existing.join(latest.select(pk), pk, "left_anti")
                      .unionByName(merged, allowMissingColumns=True))
        grown = _grow_schema(recorded, merged.schema)
        if grown is not None:
            _write_schema(fs, P, dim_path, grown)
        _write_stage(merged.repartition(DIM_BUCKET_COL).write
                     .partitionBy(DIM_BUCKET_COL), fs, P, stage)
        fs.mkdirs(P(prev))
        for b in touched:
            _swap_in(fs, P(os.path.join(stage, b)),
                     P(os.path.join(dim_path, b)),
                     P(os.path.join(prev, b)))
        fs.delete(P(stage), True)
        fs.delete(P(prev), True)
    finally:
        latest.unpersist()


def _recorded_schema(fs, P, dim_path: str) -> StructType | None:
    """The schema :func:`upsert_dim` recorded for ``dim_path``, or
    None before its first merge. A merge that died inside
    :func:`_write_schema` after deleting the old file left the new
    one, whole, at the temp name; a temp file cut short earlier (no
    strict prefix of a JSON object parses) does not count."""
    final = os.path.join(dim_path, DIM_SCHEMA_FILE)
    for path in (final, final + ".tmp"):
        if not fs.exists(P(path)):
            continue
        stream = fs.open(P(path))
        try:
            text = bytes(stream.readAllBytes())
        finally:
            stream.close()
        try:
            return StructType.fromJson(json.loads(text))
        except ValueError:
            pass
    return None


def _grow_schema(recorded: StructType | None,
                 merged: StructType) -> StructType | None:
    """``recorded`` with every column of ``merged`` it lacks appended
    (nullable, ``pkbucket`` left out), or None when nothing is new."""
    have = set() if recorded is None else set(recorded.fieldNames())
    new = [StructField(f.name, f.dataType, True) for f in merged.fields
           if f.name not in have and f.name != DIM_BUCKET_COL]
    if not new:
        return None
    return StructType((recorded.fields if recorded else []) + new)


def _write_schema(fs, P, dim_path: str, schema: StructType) -> None:
    """Replace ``<table>/_schema.json``: write the temp file whole,
    delete the old file, rename the temp in (FileSystem.rename
    refuses an existing target). Every crash state reads back as the
    old or the new schema (:func:`_recorded_schema`), and the next
    merge finishes the rename (:func:`_recover_buckets`)."""
    final = P(os.path.join(dim_path, DIM_SCHEMA_FILE))
    tmp = P(os.path.join(dim_path, DIM_SCHEMA_FILE + ".tmp"))
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(schema.json().encode()))
    finally:
        out.close()
    fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise RuntimeError(f"could not publish the schema of {dim_path}")


def _recover_buckets(fs, P, dim_path: str) -> None:
    """Crash recovery for :func:`upsert_dim`: every bucket a crashed
    merge left set aside under ``_prev`` gets its staged successor if
    the stage committed, else its old files back; then ``_stage`` and
    ``_prev`` are deleted. Buckets the crashed merge had not reached
    keep their old rows until the replayed batch merges them. A
    schema left whole at its temp name is renamed in; one cut short
    (only a first merge can leave that, before any bucket) is
    dropped."""
    stage = os.path.join(dim_path, "_stage")
    prev = P(os.path.join(dim_path, "_prev"))
    final = P(os.path.join(dim_path, DIM_SCHEMA_FILE))
    tmp = P(os.path.join(dim_path, DIM_SCHEMA_FILE + ".tmp"))
    if not fs.exists(final) and fs.exists(tmp):
        if _recorded_schema(fs, P, dim_path) is None:
            fs.delete(tmp, False)
        elif not fs.rename(tmp, final):
            raise RuntimeError(
                f"could not publish the schema of {dim_path}")
    if fs.exists(prev):
        complete = fs.exists(P(os.path.join(stage, "_SUCCESS")))
        for st in fs.listStatus(prev):
            b = st.getPath().getName()
            _recover_swap(fs, P(os.path.join(stage, b)),
                          P(os.path.join(dim_path, b)), st.getPath(),
                          complete)
    fs.delete(P(stage), True)
    fs.delete(prev, True)


def store_fs(spark, path: str):
    """(Hadoop FileSystem, Path constructor) for ``path`` — the dim
    store's path operations must work on any Hadoop-supported
    filesystem (file:/, hdfs://), not just the driver's local disk,
    so exists/rename/delete go through the JVM FileSystem API rather
    than os.path/os.rename."""
    P = spark._jvm.org.apache.hadoop.fs.Path
    fs = P(path).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, P


# The rename protocol behind upsert_dim (each touched bucket):
# stage, swap in, recover.

def _write_stage(writer, fs, P, stage: str) -> None:
    """Write ``writer``'s frame to ``stage`` and insist on the
    _SUCCESS marker Spark stamps on job commit — the completeness
    witness recovery trusts."""
    writer.mode("overwrite").parquet(stage)
    if not fs.exists(P(os.path.join(stage, "_SUCCESS"))):
        raise RuntimeError(
            f"staging write {stage} committed without _SUCCESS; "
            "refusing to publish")


def _swap_in(fs, stage, live, prev) -> None:
    """Publish the directory ``stage`` at ``live``: rename the live
    dir aside to ``prev``, rename the stage in, delete ``prev``. A
    crash between any two steps leaves a state :func:`_recover_swap`
    completes or undoes."""
    # FileSystem.rename reports failure by RETURNING false, not by
    # raising — an unchecked call would silently skip the publish
    if fs.exists(live) and not fs.rename(live, prev):
        raise RuntimeError(f"could not set aside {live}")
    if not fs.rename(stage, live):
        raise RuntimeError(f"could not publish {stage} into {live}")
    fs.delete(prev, True)


def _recover_swap(fs, stage, live, prev, complete: bool) -> None:
    """Finish or undo a :func:`_swap_in` that died with ``live``
    missing: a ``complete`` stage is renamed in, else the set-aside
    ``prev`` is renamed back. The caller deletes what is left."""
    if fs.exists(live):
        return
    # a failed recovery rename must raise: falling through to the
    # caller's cleanup deletes would destroy the only surviving copies
    if complete and fs.exists(stage):
        if not fs.rename(stage, live):
            raise RuntimeError(
                f"could not publish surviving stage {stage} into "
                f"{live}; leaving stage/prev intact")
    elif fs.exists(prev) and not fs.rename(prev, live):
        raise RuntimeError(
            f"could not roll back {prev} into {live}; leaving prev "
            "intact")


def compact_table(spark, path: str,
                  target_files_per_partition: int = 1) -> dict:
    """Small-file compaction — the maintenance job behind every
    streaming sink: overwrite-by-batchId appends (write_idempotent)
    accumulate one directory per micro-batch, each holding however
    many files its write's parallelism produced, and a long-running
    table degrades into thousands of KB-files whose per-file open
    cost dominates scans.

    Compaction happens PER PARTITION DIRECTORY (batch_id=N,
    pkbucket=N, day=...): each leaf directory's files are rewritten
    to ``target_files_per_partition`` via a stage-then-republish
    copy — the hive layout, the batch_id column, downstream
    `batch_id < bid` state filters, and replay-overwrite semantics
    all survive, and no moment exists
    where the table as a whole is missing — with one caveat: the
    final republish into a LEAF directory is itself non-atomic, so a
    crash mid-republish can leave that one partition partial while
    its fully-written ._compact staging dir survives. Crash RECOVERY
    is therefore part of the contract: on entry, any leftover
    ._compact staging dir that reads as a complete parquet dataset is
    re-published into its target before compaction proceeds (and an
    unreadable/partial staging leftover — crash mid-STAGE, target
    still intact — is simply discarded). Returns
    {files_before, files_after, rows} for the maintenance log; raises
    if any directory's rewrite would change its row count."""
    import os
    import shutil

    def count_files(p):
        return sum(1 for root, _, files in os.walk(p)
                   for f in files
                   if f.endswith(".parquet") and not f.startswith("."))

    def leaf_dirs(p):
        for root, dirs, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                yield root

    # crash recovery: re-publish any completed staging left behind by
    # a previous run that died between staging and republish
    for root, dirs, _ in os.walk(path):
        for dname in list(dirs):
            if not dname.endswith("._compact"):
                continue
            stage = os.path.join(root, dname)
            target = stage[: -len("._compact")]
            # Spark writes _SUCCESS on job commit: its presence proves
            # the stage is COMPLETE (crash was after staging, possibly
            # mid-republish → target may be partial → re-publish);
            # its absence proves the crash was mid-STAGE (target still
            # intact → discard the partial stage)
            if os.path.exists(os.path.join(stage, "_SUCCESS")):
                spark.read.parquet(stage).write.mode("overwrite") \
                    .parquet(target)
            shutil.rmtree(stage, ignore_errors=True)
            dirs.remove(dname)

    before = count_files(path)
    rows_total = 0
    for d in sorted(leaf_dirs(path)):
        part = spark.read.parquet(d)
        n = part.count()
        rows_total += n
        tmp = d + "._compact"
        part.repartition(target_files_per_partition) \
            .write.mode("overwrite").parquet(tmp)
        staged = spark.read.parquet(tmp)
        if staged.count() != n:
            raise RuntimeError(
                f"compaction of {d} would change row count")
        staged.write.mode("overwrite").parquet(d)
        shutil.rmtree(tmp, ignore_errors=True)
    return {"files_before": before,
            "files_after": count_files(path),
            "rows": rows_total}
