"""Streaming sinks and stream-shaped operators: idempotent and routed
writes, the versioned dim upsert with its snapshot reads and crash
points, checkpoint resume through ``sinks.drain``, and the
streaming==batch pins for operators that run unchanged behind a
watermark."""

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
    got = {(r.id, r.name) for r in sinks.read_dim(spark, d).collect()}
    assert got == {(1, "x"), (2, "y2"), (3, "z")}


def _dim_merge_case(spark):
    """A 40-row dim batch and a batch that updates every third key,
    adds one and widens the table by a column."""
    base = spark.createDataFrame([(i, f"v{i}") for i in range(40)],
                                 "id long, name string")
    batch = spark.createDataFrame(
        [(i, f"w{i}", f"#{i}") for i in range(0, 40, 3)]
        + [(100, "new", "#0")], "id long, name string, hex string")
    return base, batch


def _read_dim_rows(spark, path):
    from gmall_flink_2021_spark.streaming import sinks

    df = sinks.read_dim(spark, path)
    return df.schema, sorted(tuple(r) for r in df.collect())


def test_read_dim_is_a_snapshot(spark, tmp_path):
    """A frame read_dim resolved before a merge still collects exactly
    the old rows after the merge commits: a merge never moves or
    deletes the files of the version it replaces."""
    from gmall_flink_2021_spark.streaming import sinks

    base, batch = _dim_merge_case(spark)
    table = str(tmp_path / "dim_snapshot")
    sinks.upsert_dim(base, table)
    old = sinks.read_dim(spark, table)
    sinks.upsert_dim(batch, table)
    assert sorted(tuple(r) for r in old.collect()) == [
        (i, f"v{i}") for i in range(40)]
    assert len(sinks.read_dim(spark, table).collect()) == 41


@pytest.mark.parametrize("point", ["mid_write", "before_commit",
                                   "after_commit"])
def test_upsert_dim_crash_points(spark, tmp_path, monkeypatch, point):
    """A merge killed while it writes its version (the dir left
    partial), after the write but before the commit rename, or after
    the commit but before old versions are deleted: read_dim equals
    the last committed version exactly, schema included, so a
    widening merge reads the old schema until it commits. Re-running
    the merge gives exactly the uncrashed rows and schema and leaves
    at most two committed versions, and no uncommitted one."""
    import os

    from gmall_flink_2021_spark.streaming import sinks

    base, batch = _dim_merge_case(spark)
    clean = str(tmp_path / "dim_uncrashed")
    sinks.upsert_dim(base, clean)
    sinks.upsert_dim(batch, clean)
    want = _read_dim_rows(spark, clean)
    table = str(tmp_path / f"dim_{point}")
    sinks.upsert_dim(base, table)
    sinks.upsert_dim(base, table)
    before = _read_dim_rows(spark, table)
    real = sinks._commit

    def crash(fs, P, version, schema):
        if point == "mid_write":
            os.remove(os.path.join(version, "_SUCCESS"))
            part = sorted(f for f in os.listdir(version)
                          if f.endswith(".parquet"))[0]
            with open(os.path.join(version, part), "r+b") as fh:
                fh.truncate(16)
        elif point == "after_commit":
            real(fs, P, version, schema)
        raise RuntimeError("injected crash")

    monkeypatch.setattr(sinks, "_commit", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        sinks.upsert_dim(batch, table)
    monkeypatch.undo()
    assert _read_dim_rows(spark, table) == (
        want if point == "after_commit" else before)
    sinks.upsert_dim(batch, table)
    assert _read_dim_rows(spark, table) == want
    versions = os.listdir(table)
    assert all(os.path.exists(os.path.join(table, v, sinks.DIM_SCHEMA_FILE))
               for v in versions)
    assert 1 <= len(versions) <= 2


def test_read_dim_launches_no_job(spark, tmp_path):
    """A dim read is a file listing under the recorded schema: after
    a column-adding second merge, neither read_dim
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
    assert sorted(os.listdir(table)) == ["v0", "v1"], "two merges"

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
