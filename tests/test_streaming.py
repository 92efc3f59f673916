"""Streaming sinks and stream-shaped operators: idempotent and routed
writes, the bucketed dim upsert with its crash recovery, compaction,
checkpoint resume through ``sinks.drain``, and the streaming==batch
pins for operators that run unchanged behind a watermark."""

import pytest
from pyspark.sql import functions as F

from gmall_flink_2021_spark.sources.tables import load_table

from .conftest import SF_SMOKE
from .stream_helpers import read_events_stream, run_to_completion


def test_streaming_sinks(spark, tmp_path):
    """K1/K2/K3 analogs: idempotent batch write, routed write, dim
    upsert (K4)."""
    from gmall_flink_2021_spark.streaming import sinks

    df = spark.createDataFrame(
        [(1, "a", "dwd_t1"), (2, "b", "dwd_t1"), (3, "c", "dwd_t2")],
        "id long, v string, sink_table string")
    # idempotent: re-writing the same batch_id must not duplicate
    p = str(tmp_path / "idem")
    sinks.write_idempotent(df, 7, p)
    sinks.write_idempotent(df, 7, p)
    assert spark.read.parquet(p).count() == 3

    r = str(tmp_path / "routed")
    sinks.write_routed(df, 1, r)
    routed = spark.read.parquet(r)
    assert routed.filter(F.col("sink_table") == "dwd_t1").count() == 2
    assert routed.filter(F.col("sink_table") == "dwd_t2").count() == 1

    d = str(tmp_path / "dim")
    sinks.upsert_dim(
        spark.createDataFrame([(1, "x"), (2, "y")], "id long, name string"),
        d)
    sinks.upsert_dim(
        spark.createDataFrame([(2, "y2"), (3, "z")], "id long, name string"),
        d)
    got = {(r.id, r.name) for r in spark.read.parquet(d).collect()}
    assert got == {(1, "x"), (2, "y2"), (3, "z")}


def test_upsert_dim_rewrites_only_touched_buckets(spark, tmp_path):
    """Incremental copy-on-write: a micro-batch whose keys hash to one
    bucket must leave every other bucket's files byte-identical (the
    100 TB requirement — a batch upsert must not rewrite the table)."""
    import hashlib
    import os

    from gmall_flink_2021_spark.streaming import sinks

    d = str(tmp_path / "dim_cow")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "id long, name string")
    sinks.upsert_dim(base, d)

    def snap():
        out = {}
        for root, _, files in os.walk(d):
            for fn in files:
                p = os.path.join(root, fn)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, d)] = hashlib.md5(
                        fh.read()).hexdigest()
        return out

    before = snap()
    new_key = 1000
    bucket = spark.range(1).select(
        sinks.dim_bucket(F.lit(new_key).cast("long"))).collect()[0][0]
    sinks.upsert_dim(
        spark.createDataFrame([(new_key, "new")], "id long, name string"), d)
    after = snap()
    touched = f"{sinks.DIM_BUCKET_COL}={bucket}"
    untouched_before = {p: h for p, h in before.items()
                        if not p.startswith(touched)}
    assert untouched_before, "test needs at least one untouched bucket"
    for path, digest in untouched_before.items():
        assert after.get(path) == digest, f"untouched bucket changed: {path}"
    got = {r.id for r in sinks.read_dim(spark, d).collect()}
    assert got == set(range(40)) | {new_key}


def _dim_crash_case(spark, tmp_path, name):
    """A 40-row bucketed dim at ``name``, a batch that updates every
    third key and adds one, and what the uncrashed merge reads back.
    Returns (table, batch, rows_before, rows_after, bucket_of, read)."""
    from gmall_flink_2021_spark.streaming import sinks

    schema = "id long, name string"
    base = spark.createDataFrame([(i, f"v{i}") for i in range(40)], schema)
    batch = spark.createDataFrame(
        [(i, f"w{i}") for i in range(0, 40, 3)] + [(100, "new")], schema)
    bucket_of = dict(spark.range(101).select(
        "id", sinks.dim_bucket(F.col("id"))).collect())

    def read(path):
        return sorted(tuple(r) for r in sinks.read_dim(spark, path).collect())

    clean = str(tmp_path / f"{name}_uncrashed")
    sinks.upsert_dim(base, clean)
    sinks.upsert_dim(batch, clean)
    table = str(tmp_path / name)
    sinks.upsert_dim(base, table)
    return table, batch, read(table), read(clean), bucket_of, read


def _no_merge_debris(table):
    import os

    return not any(os.path.exists(os.path.join(table, d))
                   for d in ("_stage", "_prev"))


def test_upsert_dim_discards_a_stage_without_success(spark, tmp_path):
    """Crash mid-stage: a partial ``_stage`` (no _SUCCESS) inside the
    table dir is never read, and re-running the merge discards it and
    writes exactly the uncrashed result."""
    import os

    from gmall_flink_2021_spark.streaming import sinks

    table, batch, before, want, _, read = _dim_crash_case(
        spark, tmp_path, "dim_stage_crash")
    stage = os.path.join(table, "_stage")
    (spark.createDataFrame([(7, "STAGED", 3)],
                           "id long, name string, pkbucket int")
     .write.partitionBy("pkbucket").parquet(stage))
    os.remove(os.path.join(stage, "_SUCCESS"))
    assert read(table) == before
    sinks.upsert_dim(batch, table)
    assert read(table) == want
    assert _no_merge_debris(table)


def test_upsert_dim_recovers_a_bucket_set_aside(spark, tmp_path):
    """Crash between a bucket's rename-aside and its rename-in: while
    the bucket sits in ``_prev`` it is missing from the read (no
    staged or set-aside row shows), and the next merge — whether the
    stage committed (roll forward) or not (roll back) — converges to
    the uncrashed result."""
    import os
    import shutil

    from gmall_flink_2021_spark.streaming import sinks

    for committed in (True, False):
        table, batch, before, want, bucket_of, read = _dim_crash_case(
            spark, tmp_path, f"dim_aside_{committed}")
        b = bucket_of[0]
        clean = table + "_uncrashed"
        stage = os.path.join(table, "_stage")
        for d in sorted(os.listdir(clean)):
            if d.startswith(f"{sinks.DIM_BUCKET_COL}="):
                shutil.copytree(os.path.join(clean, d),
                                os.path.join(stage, d))
        if committed:
            open(os.path.join(stage, "_SUCCESS"), "w").close()
        os.makedirs(os.path.join(table, "_prev"))
        os.rename(os.path.join(table, f"pkbucket={b}"),
                  os.path.join(table, "_prev", f"pkbucket={b}"))
        assert read(table) == [r for r in before if bucket_of[r[0]] != b]
        sinks.upsert_dim(batch, table)
        assert read(table) == want, committed
        assert _no_merge_debris(table)


def test_upsert_dim_crash_between_bucket_renames(spark, tmp_path,
                                                monkeypatch):
    """A merge that dies after publishing one bucket and setting the
    next aside leaves a table whose read has no staged or set-aside
    row: published buckets read new, the set-aside one is missing,
    the rest read old. Re-running the same merge gives exactly the
    uncrashed rows."""
    from gmall_flink_2021_spark.streaming import sinks

    table, batch, before, want, bucket_of, read = _dim_crash_case(
        spark, tmp_path, "dim_multi_crash")
    touched = sorted({bucket_of[r.id] for r in batch.collect()})
    assert len(touched) > 2
    real = sinks._swap_in
    calls = []

    def crash_on_second_bucket(fs, stage, live, prev):
        calls.append(live)
        if len(calls) == 2:
            fs.rename(live, prev)
            raise RuntimeError("injected crash")
        real(fs, stage, live, prev)

    monkeypatch.setattr(sinks, "_swap_in", crash_on_second_bucket)
    with pytest.raises(RuntimeError, match="injected crash"):
        sinks.upsert_dim(batch, table)
    monkeypatch.undo()
    first, second = touched[:2]
    assert read(table) == sorted(
        [r for r in want if bucket_of[r[0]] == first]
        + [r for r in before if bucket_of[r[0]] not in (first, second)])
    sinks.upsert_dim(batch, table)
    assert read(table) == want
    assert _no_merge_debris(table)


def test_upsert_dim_crash_after_schema_grows(spark, tmp_path, monkeypatch):
    """A merge that adds a column records the wider schema before it
    publishes any bucket: killed at its first bucket swap, the table
    reads exactly its old rows with the new column all null (no
    staged or set-aside row), and re-running the merge gives exactly
    the uncrashed rows and schema."""
    from gmall_flink_2021_spark.streaming import sinks

    base = spark.createDataFrame([(i, f"v{i}") for i in range(40)],
                                 "id long, name string")
    batch = spark.createDataFrame(
        [(i, f"w{i}", f"#{i}") for i in range(0, 40, 3)]
        + [(100, "new", "#0")], "id long, name string, hex string")

    def read(path):
        df = sinks.read_dim(spark, path)
        return df.schema, sorted(tuple(r) for r in df.collect())

    clean = str(tmp_path / "dim_widen_uncrashed")
    sinks.upsert_dim(base, clean)
    sinks.upsert_dim(batch, clean)
    table = str(tmp_path / "dim_widen")
    sinks.upsert_dim(base, table)

    def crash_before_first_swap(fs, stage, live, prev):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(sinks, "_swap_in", crash_before_first_swap)
    with pytest.raises(RuntimeError, match="injected crash"):
        sinks.upsert_dim(batch, table)
    monkeypatch.undo()
    schema, rows = read(table)
    assert schema == read(clean)[0]
    assert rows == sorted((i, f"v{i}", None) for i in range(40))
    sinks.upsert_dim(batch, table)
    assert read(table) == read(clean)
    assert _no_merge_debris(table)


def test_upsert_dim_recovers_a_schema_cut_mid_write(spark, tmp_path):
    """The recorded schema is replaced by temp file, delete, rename.
    Killed after the delete, the table still reads under the new
    schema and the next merge renames it in; a temp file cut short by
    a first merge (no bucket published yet) is dropped."""
    import os

    from gmall_flink_2021_spark.streaming import sinks

    def read(path):
        df = sinks.read_dim(spark, path)
        return df.columns, sorted(tuple(r) for r in df.collect())

    table = str(tmp_path / "dim_schema_cut")
    sinks.upsert_dim(spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "id long, name string"), table)
    sinks.upsert_dim(spark.createDataFrame(
        [(1, "w1", "#1")], "id long, name string, hex string"), table)
    want = read(table)
    # the state after the delete: the new schema (and the checksum a
    # local Hadoop FS keeps beside it) only under the temp name
    f = sinks.DIM_SCHEMA_FILE
    for old, cut in ((f, f"{f}.tmp"), (f".{f}.crc", f".{f}.tmp.crc")):
        if os.path.exists(os.path.join(table, old)):
            os.rename(os.path.join(table, old), os.path.join(table, cut))
    assert read(table) == want
    sinks.upsert_dim(spark.createDataFrame(
        [(2, "w2")], "id long, name string"), table)
    assert os.path.exists(os.path.join(table, f))
    assert not os.path.exists(os.path.join(table, f"{f}.tmp"))
    assert read(table)[0] == want[0]

    fresh = str(tmp_path / "dim_first_cut")
    os.makedirs(fresh)
    with open(os.path.join(fresh, sinks.DIM_SCHEMA_FILE + ".tmp"),
              "w") as fh:
        fh.write('{"fields":[{"metadata":{},"name":"id"')
    with pytest.raises(FileNotFoundError):
        sinks.read_dim(spark, fresh)
    sinks.upsert_dim(spark.createDataFrame(
        [(7, "x")], "id long, name string"), fresh)
    assert read(fresh) == (["id", "name"], [(7, "x")])


def test_read_dim_launches_no_job(spark, tmp_path):
    """A dim read is a file listing under the recorded schema: after
    a column-adding merge into a multi-bucket table, neither read_dim
    nor Warehouse.dims() launches a Spark job, and the new column
    reads in recorded order, null on the rows that predate it."""
    import os

    from gmall_flink_2021_spark.streaming import sinks
    from gmall_flink_2021_spark.streaming.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"), [])
    table = os.path.join(wh.work, "dim", "dim_color")
    sinks.upsert_dim(spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "id long, name string"), table)
    sinks.upsert_dim(spark.createDataFrame(
        [(100, "new", "#fff")], "id long, name string, hex string"), table)
    assert sum(d.startswith(f"{sinks.DIM_BUCKET_COL}=")
               for d in os.listdir(table)) >= 2

    def next_job_id():
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    before = next_job_id()
    dim = sinks.read_dim(spark, table)
    assert dim.columns == ["id", "name", "hex"]
    assert next_job_id() - before == 0
    before = next_job_id()
    dims = wh.dims()
    assert list(dims) == ["color"]
    assert dims["color"].columns == ["id", "name", "hex"]
    assert next_job_id() - before == 0
    rows = dim.collect()
    assert next_job_id() > before, "the probe must see a collect's job"
    assert sorted(tuple(r) for r in rows) == sorted(
        [(i, f"v{i}", None) for i in range(40)] + [(100, "new", "#fff")])


def test_session_window_streaming_matches_batch(spark, tmp_path):
    """Native session_window behind a watermark: sessions whose merged
    end closed under the final watermark equal the batch sessions."""
    import datetime

    from gmall_flink_2021_spark.operators.analytics import (
        native_session_windows,
    )

    stream = (read_events_stream(spark, SF_SMOKE)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "1 second"))
    out = run_to_completion(native_session_windows(stream),
                            str(tmp_path / "ckpt_sess"))
    got = {tuple(r) for r in out.collect()}

    events = load_table(spark, SF_SMOKE, "events")
    batch = native_session_windows(events)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(seconds=1)
    want = {tuple(r) for r in
            batch.filter(F.col("session_end") <= horizon).collect()}
    assert want and got == want


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """Streaming exact dedup (the O6 primitive generalized to an
    arbitrary key set): dropDuplicates over a stream must equal batch
    distinct once drained."""
    stream = read_events_stream(spark, SF_SMOKE)
    out = run_to_completion(
        stream.select("user_id", "event_type")
              .dropDuplicates(["user_id", "event_type"]),
        str(tmp_path / "ckpt_dd"))
    got = {tuple(r) for r in out.collect()}

    events = load_table(spark, SF_SMOKE, "events")
    want = {tuple(r) for r in
            events.select("user_id", "event_type").distinct().collect()}
    assert want and got == want


def test_observed_metrics_reconcile_with_sink_counts(spark, tmp_path):
    """The observe() row-audit must report, per micro-batch, exactly
    the rows the sink received — in-flight reconciliation with no
    second scan (QueryProgress.observedMetrics)."""
    import uuid

    from gmall_flink_2021_spark.streaming.sinks import with_row_audit

    docs = load_table(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "obs_docs")
    docs.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    name = "obs_" + uuid.uuid4().hex[:8]
    q = (with_row_audit(stream, "row_audit").writeStream
         .format("memory").queryName(name).outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_obs"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    observed = sum(
        p["observedMetrics"]["row_audit"]["rows_seen"]
        for p in (q.recentProgress or [])
        if p.get("observedMetrics", {}).get("row_audit"))
    assert observed == spark.table(name).count() == docs.count()


def test_compaction_preserves_content_and_reduces_files(spark, tmp_path):
    """compact_table must collapse the per-batch small-file layout of
    an idempotent streaming sink into the target file count with
    byte-for-byte identical content (as a multiset of rows)."""
    from gmall_flink_2021_spark.streaming import sinks

    p = str(tmp_path / "smallfiles")
    events = load_table(spark, SF_SMOKE, "events") \
        .select("event_id", "user_id", "event_type")
    # simulate 12 micro-batches of appends
    rows_total = 0
    for b in range(12):
        part = events.filter(F.col("event_id") % 12 == b)
        rows_total += part.count()
        sinks.write_idempotent(part.repartition(3), b, p)

    before = {tuple(r) for r in spark.read.parquet(p).collect()}
    stats = sinks.compact_table(spark, p, target_files_per_partition=1)
    back = spark.read.parquet(p)
    after = {tuple(r) for r in back.collect()}
    assert stats["rows"] == rows_total
    assert stats["files_before"] >= 12 * 3
    assert stats["files_after"] <= 12
    assert before == after
    # the hive batch_id layout survives: partition column still reads,
    # and the `batch_id < N` state-filter pattern still prunes
    assert "batch_id" in back.columns
    half = back.filter(F.col("batch_id") < 6).count()
    assert 0 < half < stats["rows"]
    assert back.select("batch_id").distinct().count() == 12


def test_checkpoint_resume_continues_from_offset(spark, tmp_path):
    """True restart semantics (O9) of ``sinks.drain``: a stream is
    drained with only part of the data present, the process
    'restarts' (same checkpoint), more files arrive, and the second
    run must continue from the recorded offset — no reprocessing of
    batch 0 — ending in exactly the source rows, each once."""
    import os
    import time as _time

    from gmall_flink_2021_spark.streaming import sinks

    docs = load_table(spark, SF_SMOKE, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    parts = [docs.filter(F.col("doc_id") <= hi // 2),
             docs.filter(F.col("doc_id") > hi // 2)]
    src = str(tmp_path / "cr_docs")
    os.makedirs(src)
    ck = str(tmp_path / "cr_ck")
    out = str(tmp_path / "cr_out")
    now = _time.time()

    def stage(i):
        d = str(tmp_path / f"cr_stage_{i}")
        parts[i].coalesce(1).write.parquet(d)
        f = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        dst = os.path.join(src, f"part_{i}.parquet")
        os.rename(os.path.join(d, f), dst)
        os.utime(dst, (now + i * 10, now + i * 10))

    def run():
        stream = (spark.readStream.schema(docs.schema)
                  .option("maxFilesPerTrigger", 1)
                  .option("latestFirst", "false").parquet(src))
        sinks.drain(stream,
                    lambda b, i: sinks.write_idempotent(b, i, out), ck)

    stage(0)
    run()                      # drains file 0, records offset
    first_batches = set(os.listdir(out))
    stage(1)
    run()                      # 'restart': must process ONLY file 1
    second_batches = set(os.listdir(out)) - first_batches
    assert first_batches == {"batch_id=0"}
    assert second_batches == {"batch_id=1"}

    got = sorted(tuple(map(str, r)) for r in
                 spark.read.parquet(out).drop("batch_id").collect())
    want = sorted(tuple(map(str, r)) for r in docs.collect())
    assert want and got == want


def test_compaction_recovers_interrupted_republish(spark, tmp_path):
    """Crash-window recovery: a previous compaction that died between
    writing its ._compact staging dir (complete, _SUCCESS present) and
    republishing it leaves the target leaf partial. The next
    compact_table run must re-publish the staging dir FIRST — no rows
    lost — while a partial staging (no _SUCCESS: crash mid-stage,
    target intact) is simply discarded."""
    import os
    import shutil

    from gmall_flink_2021_spark.streaming import sinks

    p = str(tmp_path / "crashy")
    events = load_table(spark, SF_SMOKE, "events") \
        .select("event_id", "user_id", "event_type")
    rows_total = 0
    for b in range(3):
        part = events.filter(F.col("event_id") % 3 == b)
        rows_total += part.count()
        sinks.write_idempotent(part.repartition(2), b, p)
    before = {tuple(r) for r in spark.read.parquet(p).collect()}

    # simulate the crash on batch_id=1's leaf: stage completed (real
    # write, _SUCCESS present), then the republish died halfway —
    # model that as the target having lost some of its files
    leaf = os.path.join(p, "batch_id=1")
    stage = leaf + "._compact"
    spark.read.parquet(leaf).repartition(1).write.mode("overwrite") \
        .parquet(stage)
    assert os.path.exists(os.path.join(stage, "_SUCCESS"))
    for f in sorted(os.listdir(leaf))[:1]:
        if f.endswith(".parquet"):
            os.remove(os.path.join(leaf, f))
    # ... and a mid-STAGE crash on batch_id=2: partial staging dir
    # (no _SUCCESS), target untouched
    bad_stage = os.path.join(p, "batch_id=2") + "._compact"
    os.makedirs(bad_stage)
    with open(os.path.join(bad_stage, "part-junk.parquet"), "wb") as fh:
        fh.write(b"\x00not a real parquet file")

    stats = sinks.compact_table(spark, p, target_files_per_partition=1)
    after = {tuple(r) for r in spark.read.parquet(p).collect()}
    assert after == before          # no row lost to either crash mode
    assert stats["rows"] == rows_total
    assert not os.path.exists(stage)
    assert not os.path.exists(bad_stage)


def test_novelty_gate_store_backed_matches_recompute(spark, tmp_path):
    """Persisted snapshot index: incremental_dedup against the stored
    fingerprint/signature projection (zero text reads on the snapshot
    side) must equal the recompute-from-text form row-for-row."""
    from gmall_flink_2021_spark.operators import dedup

    docs = load_table(spark, SF_SMOKE, "documents")
    snap = docs.filter(F.col("doc_id") % 10 != 7)
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    store = str(tmp_path / "snap_index")
    dedup.save_snapshot_index(snap, store)

    ref, rh = dedup.incremental_dedup(snap, batch)
    want = {tuple(r) for r in ref.collect()}
    rh.unpersist()

    got_df, gh = dedup.incremental_dedup_from_store(spark, store, batch)
    got = {tuple(r) for r in got_df.collect()}
    gh.unpersist()
    assert want and got == want


def test_codebook_persistence_roundtrip_encodes_identically(spark, tmp_path):
    """Train-once / encode-anywhere: PQ codebooks written to parquet
    and reloaded must equal the in-memory codebooks integer for
    integer (fixed-point on disk — no float serialization drift), so
    any encoder fed the reloaded codebooks assigns the same codes."""
    from gmall_flink_2021_spark.operators.similarity import (
        _pq_learn, load_codebooks, save_codebooks)

    emb = load_table(spark, SF_SMOKE, "embeddings")
    sub, assigned, final = _pq_learn(emb)
    sub.unpersist()
    assigned.unpersist()
    art = str(tmp_path / "codebooks")
    save_codebooks(final, art, spark)
    reloaded = load_codebooks(art, spark)
    assert final and reloaded == {k: list(map(int, v))
                                  for k, v in final.items()}


def test_drift_readout_from_streamed_store(spark, tmp_path):
    """Monitoring readout: drift of today's profile store against a
    baseline profile — same schema as batch profile_drift, exact
    counters, no rescan of either snapshot. The store is the
    mergeable profile_sketches frame a per-batch merge would
    publish."""
    from gmall_flink_2021_spark.operators import expectations

    cols = ["doc_id", "lang", "source"]
    docs = load_table(spark, SF_SMOKE, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 7)
    store = str(tmp_path / "drift_store")
    expectations.profile_sketches(docs, cols).write.parquet(store)

    baseline = expectations.profile_sketches(old, cols)
    out = expectations.drift_from_profile_stores(
        baseline, spark.read.parquet(store))
    rows = {r.col_name: r for r in out.collect()}
    assert set(rows) == set(cols)
    n_old, n_new = old.count(), docs.count()
    for c in cols:
        assert (rows[c].old_ct, rows[c].new_ct) == (n_old, n_new)
        assert rows[c].null_permille_delta == 0
    # low-cardinality columns: estimates exact -> the REAL drift
    # (the baseline slice genuinely misses some sources)
    for c in ("lang", "source"):
        exact_delta = (docs.select(c).distinct().count()
                       - old.select(c).distinct().count())
        assert rows[c].distinct_delta == exact_delta
