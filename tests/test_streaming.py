"""Streaming == batch for the windowed aggregation path (A2/O2/O7):
the same visitor_stats operator behind a watermark must produce, for
every closed window, exactly the batch answer."""

import pytest
from pyspark.sql import functions as F

from gmall_flink_2021_spark.operators.dws import visitor_stats_window
from gmall_flink_2021_spark.sources.tables import load_table
from gmall_flink_2021_spark.streaming.jobs import (
    read_events_stream,
    run_to_completion,
    visitor_stats_stream,
)

from .conftest import SF_SMOKE


def test_visitor_stats_streaming_matches_batch(spark, tmp_path):
    stream = read_events_stream(spark, SF_SMOKE)
    out = run_to_completion(visitor_stats_stream(stream),
                            str(tmp_path / "ckpt_vs"))
    got = {tuple(r) for r in out.collect()}

    events = load_table(spark, SF_SMOKE, "events")
    batch = visitor_stats_window(events)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    # append mode only emits windows closed by the final watermark
    # (max event time - 1 s delay)
    import datetime

    horizon = max_ts - datetime.timedelta(seconds=1)
    want = {tuple(r) for r in batch.filter(F.col("edt") <= horizon).collect()}
    assert want and got == want


def test_visitor_stats_streaming_approx_uv_matches_batch_approx(
        spark, tmp_path):
    """The constant-state deployment form (approx_uv=True): HLL++
    registers are per-value maxes, so the streaming estimate for a
    closed window equals the batch estimate EXACTLY — the
    approximation is vs the true count (gated separately in
    test_sketch_accuracy), not vs the batch run."""
    stream = read_events_stream(spark, SF_SMOKE)
    out = run_to_completion(visitor_stats_stream(stream, approx_uv=True),
                            str(tmp_path / "ckpt_vs_approx"))
    got = {tuple(r) for r in out.collect()}

    events = load_table(spark, SF_SMOKE, "events")
    batch = visitor_stats_window(events, approx_uv=True)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    import datetime

    horizon = max_ts - datetime.timedelta(seconds=1)
    want = {tuple(r) for r in batch.filter(F.col("edt") <= horizon).collect()}
    assert want and got == want


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


def test_uv_sketch_rollup_streaming_matches_batch(spark, tmp_path):
    """Sketch-rollup ingest as a stream: per-micro-batch daily HLL
    sketches union-merged into the store must yield EXACTLY the batch
    rollup (HLL registers are per-item maxes, so incremental union ==
    single-pass sketch — asserted equal, not approximately equal)."""
    from gmall_flink_2021_spark.operators import dwm
    from gmall_flink_2021_spark.streaming.jobs import uv_sketch_stream

    events = load_table(spark, SF_SMOKE, "events")
    src = str(tmp_path / "events_multi")
    # several files + maxFilesPerTrigger=1 → a genuinely multi-batch
    # stream, so the union-merge path actually merges
    events.repartition(4).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    store = str(tmp_path / "uv_daily")
    uv_sketch_stream(stream, store, str(tmp_path / "ck_uv_sketch"))

    got = {tuple(map(str, r)) for r in
           dwm.uv_rollup_from_daily(spark.read.parquet(store)).collect()}
    want = {tuple(map(str, r)) for r in dwm.uv_sketch_rollup(events).collect()}
    assert want and got == want


def test_contamination_streaming_matches_batch(spark, tmp_path):
    """Decontamination as a stream: the static benchmark index scoring
    a multi-batch corpus stream must reproduce the batch operator
    row-for-row (per-doc scores are independent of batching)."""
    from gmall_flink_2021_spark.operators import textstats
    from gmall_flink_2021_spark.streaming.jobs import contamination_stream

    docs = load_table(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "docs_multi")
    docs.repartition(3).write.parquet(src)
    corpus_stream = (spark.readStream
                     .schema(spark.read.parquet(src).schema)
                     .option("maxFilesPerTrigger", 1).parquet(src)
                     .filter(F.col("doc_id") % 100 != 0))
    bench = textstats.benchmark_shingle_index(docs).persist()
    out = str(tmp_path / "contam_out")
    contamination_stream(corpus_stream, bench, out,
                         str(tmp_path / "ck_contam"))
    bench.unpersist()

    got = {tuple(map(str, r)) for r in
           spark.read.parquet(out).drop("batch_id").collect()}
    want = {tuple(map(str, r))
            for r in textstats.contamination_check(docs).collect()}
    assert want and got == want


def test_sliding_window_streaming_matches_batch(spark, tmp_path):
    """O11 sliding form behind a watermark: every closed hopping
    window must equal the batch answer (collect_set distinct in
    streaming == countDistinct in batch)."""
    import datetime

    from gmall_flink_2021_spark.operators.dws import visitor_stats_sliding

    stream = (read_events_stream(spark, SF_SMOKE)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "1 second"))
    out = run_to_completion(visitor_stats_sliding(stream, streaming=True),
                            str(tmp_path / "ckpt_slide"))
    got = {tuple(r) for r in out.collect()}

    events = load_table(spark, SF_SMOKE, "events")
    batch = visitor_stats_sliding(events)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(seconds=1)
    want = {tuple(r)
            for r in batch.filter(F.col("edt") <= horizon).collect()}
    assert want and got == want


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


def test_segment_dedup_streaming_matches_batch(spark, tmp_path):
    """Incremental paragraph dedup over a multi-batch corpus stream
    (first-seen-wins against the grow-only segment state) must equal
    the batch operator when arrival order is doc_id order — pinned by
    feeding three doc_id-range files with staggered mtimes, one per
    micro-batch."""
    import os
    import time as _time

    from gmall_flink_2021_spark.operators import dedup
    from gmall_flink_2021_spark.streaming.jobs import segment_dedup_stream

    docs = load_table(spark, SF_SMOKE, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    cuts = [hi // 3, 2 * hi // 3]
    src = str(tmp_path / "docs_ordered")
    os.makedirs(src)
    parts = [docs.filter(F.col("doc_id") <= cuts[0]),
             docs.filter((F.col("doc_id") > cuts[0])
                         & (F.col("doc_id") <= cuts[1])),
             docs.filter(F.col("doc_id") > cuts[1])]
    now = _time.time()
    for i, part in enumerate(parts):
        tmp_dir = str(tmp_path / f"stage_{i}")
        part.coalesce(1).write.parquet(tmp_dir)
        f = next(p for p in os.listdir(tmp_dir) if p.endswith(".parquet"))
        dst = os.path.join(src, f"part_{i}.parquet")
        os.rename(os.path.join(tmp_dir, f), dst)
        os.utime(dst, (now + i * 10, now + i * 10))  # arrival order

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false").parquet(src))
    out = str(tmp_path / "segdedup_out")
    segment_dedup_stream(stream, out, str(tmp_path / "seg_state"),
                         str(tmp_path / "ck_segdedup"))

    got = {tuple(map(str, r)) for r in
           spark.read.parquet(out).drop("batch_id").collect()}
    want = {tuple(map(str, r))
            for r in dedup.segment_dedup(docs).collect()}
    assert want and got == want


def test_kmeans_scoring_streaming_matches_batch(spark, tmp_path):
    """Static k-means model scoring a stream (train offline / score
    online): assignments over a multi-batch embedding stream must
    equal the batch assignment for the same centroids — stateless
    projection, so no arrival-order caveat."""
    from gmall_flink_2021_spark.operators import similarity
    from gmall_flink_2021_spark.streaming.jobs import (
        kmeans_score_stream, run_to_completion)

    emb = load_table(spark, SF_SMOKE, "embeddings")
    assigned, vh = similarity.kmeans_assignments(emb)
    cents = [(r.cluster, list(r.centroid)) for r in
             similarity._kmeans_recompute(assigned).collect()]
    vh.unpersist()
    # the model the stream scores with: the final trained centroids —
    # batch reference is one more assignment pass with those centroids
    want = {(r.vec_id, r.cluster) for r in similarity._kmeans_assign(
        emb.select("vec_id",
                   F.col("embedding").cast("array<double>").alias("v"))
           .withColumn("q", similarity.quantized(F.col("v"))),
        cents).select("vec_id", "cluster").collect()}

    src = str(tmp_path / "emb_stream")
    emb.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = run_to_completion(kmeans_score_stream(stream, cents),
                            str(tmp_path / "ck_kmscore"))
    got = {(r.vec_id, r.cluster) for r in out.collect()}
    assert want and got == want


def test_segment_dedup_stream_replay_is_exactly_once(spark, tmp_path):
    """Failure-replay semantics: re-running a micro-batch (same
    batch_id) against state that already contains its own write must
    neither double-drop (the batch's own hashes must not suppress its
    replay) nor double-emit (overwrite-by-batchId), leaving output
    and state byte-identical in content."""
    import glob

    from gmall_flink_2021_spark.operators import dedup
    from gmall_flink_2021_spark.streaming.jobs import segment_dedup_stream

    docs = load_table(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "docs_one")
    docs.coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema(docs.schema).parquet(src))
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    segment_dedup_stream(stream, out, state, str(tmp_path / "ck1"))
    first = sorted(tuple(map(str, r)) for r in
                   spark.read.parquet(out).collect())

    # replay batch 0: fresh checkpoint, same source, same state dir —
    # foreachBatch reruns with bid=0 against the existing state
    segment_dedup_stream(
        (spark.readStream.schema(docs.schema).parquet(src)),
        out, state, str(tmp_path / "ck2"))
    replayed = sorted(tuple(map(str, r)) for r in
                      spark.read.parquet(out).collect())
    assert replayed == first
    # the batch dir was overwritten, not appended
    assert len(glob.glob(f"{out}/batch_id=*")) == 1
    want = sorted(tuple(map(str, r))
                  for r in dedup.segment_dedup(docs).collect())
    got = sorted(tuple(map(str, r)) for r in
                 spark.read.parquet(out).drop("batch_id").collect())
    assert got == want


def test_duplicate_spans_streaming_matches_batch(spark, tmp_path):
    """Incremental substring-dedup (new-batch spans vs the grow-only
    span index) must equal the batch arrival-order operator
    duplicate_spans_vs_prior when arrival order is doc_id order —
    three doc_id-range files, one per micro-batch."""
    import os
    import time as _time

    from gmall_flink_2021_spark.operators import dedup
    from gmall_flink_2021_spark.streaming.jobs import duplicate_spans_stream

    docs = load_table(spark, SF_SMOKE, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    cuts = [hi // 3, 2 * hi // 3]
    src = str(tmp_path / "docs_ordered_spans")
    os.makedirs(src)
    parts = [docs.filter(F.col("doc_id") <= cuts[0]),
             docs.filter((F.col("doc_id") > cuts[0])
                         & (F.col("doc_id") <= cuts[1])),
             docs.filter(F.col("doc_id") > cuts[1])]
    now = _time.time()
    for i, part in enumerate(parts):
        tmp_dir = str(tmp_path / f"span_stage_{i}")
        part.coalesce(1).write.parquet(tmp_dir)
        f = next(p for p in os.listdir(tmp_dir) if p.endswith(".parquet"))
        dst = os.path.join(src, f"part_{i}.parquet")
        os.rename(os.path.join(tmp_dir, f), dst)
        os.utime(dst, (now + i * 10, now + i * 10))

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false").parquet(src))
    out = str(tmp_path / "spans_out")
    duplicate_spans_stream(stream, out, str(tmp_path / "span_state"),
                           str(tmp_path / "ck_spans"))

    got = {tuple(map(str, r)) for r in
           spark.read.parquet(out).drop("batch_id").collect()}
    want = {tuple(map(str, r))
            for r in dedup.duplicate_spans_vs_prior(docs).collect()}
    assert want and got == want


def test_heavy_hitter_stream_state_is_bounded_and_within_mg_error(
        spark, tmp_path):
    """Streaming Misra-Gries heavy hitters over a 3-batch corpus
    stream: state stays ≤ counters+1 rows, the total-token row is
    exact, every stored count c obeys the MG bound
    true − n/(counters+1) ≤ c ≤ true, and every term whose true share
    exceeds 1/(counters+1) is present. counters=8 < vocab forces real
    prunes — with counters ≥ vocab the summary would simply be exact
    counts and the bound trivially tight."""
    import os
    import time as _time

    from gmall_flink_2021_spark.streaming.jobs import heavy_hitter_stream

    COUNTERS = 8
    docs = load_table(spark, SF_SMOKE, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    cuts = [hi // 3, 2 * hi // 3]
    src = str(tmp_path / "hh_docs")
    os.makedirs(src)
    parts = [docs.filter(F.col("doc_id") <= cuts[0]),
             docs.filter((F.col("doc_id") > cuts[0])
                         & (F.col("doc_id") <= cuts[1])),
             docs.filter(F.col("doc_id") > cuts[1])]
    now = _time.time()
    for i, part in enumerate(parts):
        tmp_dir = str(tmp_path / f"hh_stage_{i}")
        part.coalesce(1).write.parquet(tmp_dir)
        f = next(p for p in os.listdir(tmp_dir) if p.endswith(".parquet"))
        dst = os.path.join(src, f"part_{i}.parquet")
        os.rename(os.path.join(tmp_dir, f), dst)
        os.utime(dst, (now + i * 10, now + i * 10))

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false").parquet(src))
    store = str(tmp_path / "hh_store")
    heavy_hitter_stream(stream, store, str(tmp_path / "ck_hh"),
                        counters=COUNTERS)

    from gmall_flink_2021_spark.functions.text import tokens

    exact = {r["term"]: r["cnt"] for r in
             docs.select(F.explode(tokens("text")).alias("term"))
             .groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
             .collect()}
    n = sum(exact.values())
    state = {r["term"]: r["cnt"]
             for r in spark.read.parquet(store).collect()}
    total = state.pop("<total tokens>")
    state.pop("<merged batches>")  # embedded replay guard, not a term
    assert total == n
    assert len(state) <= COUNTERS
    err = n / (COUNTERS + 1)
    for term, c in state.items():
        assert 0 < c <= exact[term]
        assert exact[term] - c <= err, (term, c, exact[term], err)
    for term, t in exact.items():
        if t > err:
            assert term in state, (term, t, err)
    # a prune actually happened (vocab exceeds the counter budget)
    assert len(exact) > COUNTERS


def test_changelog_apply_converges_to_source_snapshot(spark, tmp_path):
    """CDC replay end-to-end: an initial load plus a 3-batch
    insert/update/delete changelog applied through
    changelog_apply_stream must converge the bucketed table to the
    target snapshot — proven by snapshot_diff returning ZERO rows
    (the reconciliation audit composed with the CDC apply path)."""
    import os
    import time as _time

    from gmall_flink_2021_spark.operators.analytics import snapshot_diff
    from gmall_flink_2021_spark.streaming.jobs import changelog_apply_stream
    from gmall_flink_2021_spark.streaming.sinks import read_dim, upsert_dim

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    orders = load_table(spark, SF_SMOKE, "orders").select(*cols)
    key = F.col("o_orderkey")

    # initial load: everything except the later-inserted keys
    table = str(tmp_path / "orders_replica")
    upsert_dim(orders.filter(key % 7 != 0), table, pk="o_orderkey")

    # target snapshot: keys %11 removed, status rewritten on %5
    target = (orders.filter(key % 11 != 0)
              .withColumn("o_orderstatus",
                          F.when(key % 5 == 0, F.lit("X"))
                          .otherwise(F.col("o_orderstatus"))))

    mk = lambda df, op, seq: df.select(  # noqa: E731
        F.lit(op).alias("op"), F.lit(seq).alias("seq"), *cols)
    batches = [
        mk(orders.filter((key % 7 == 0) & (key % 11 != 0)), "insert", 1),
        mk(orders.filter(key % 5 == 0)
           .withColumn("o_orderstatus", F.lit("X")), "update", 2),
        mk(orders.filter(key % 11 == 0), "delete", 3),
    ]
    src = str(tmp_path / "changelog")
    os.makedirs(src)
    now = _time.time()
    for i, b in enumerate(batches):
        stage = str(tmp_path / f"cl_stage_{i}")
        b.coalesce(1).write.parquet(stage)
        f = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        dst = os.path.join(src, f"part_{i}.parquet")
        os.rename(os.path.join(stage, f), dst)
        os.utime(dst, (now + i * 10, now + i * 10))

    stream = (spark.readStream.schema(batches[0].schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false").parquet(src))
    changelog_apply_stream(stream, table, str(tmp_path / "ck_cl"),
                           pk="o_orderkey", order_col="seq")

    applied = read_dim(spark, table)
    # changelog plumbing (op/seq) must not leak into the replica schema
    assert set(applied.columns) == set(cols)
    diff = snapshot_diff(applied, target, "o_orderkey",
                         [c for c in cols if c != "o_orderkey"])
    assert diff.count() == 0
    # sanity: the replay actually changed the table
    assert applied.count() == target.count() != orders.count()


def test_minhash_dedup_streaming_matches_batch(spark, tmp_path):
    """Document-level incremental MinHash dedup over a 3-batch stream
    (grow-only bucket index, first-seen-wins) must equal the batch
    minhash_dedup_marks when arrival order is doc_id order."""
    import os
    import time as _time

    from gmall_flink_2021_spark.operators import dedup
    from gmall_flink_2021_spark.streaming.jobs import minhash_dedup_stream

    docs = load_table(spark, SF_SMOKE, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    cuts = [hi // 3, 2 * hi // 3]
    src = str(tmp_path / "mh_docs")
    os.makedirs(src)
    parts = [docs.filter(F.col("doc_id") <= cuts[0]),
             docs.filter((F.col("doc_id") > cuts[0])
                         & (F.col("doc_id") <= cuts[1])),
             docs.filter(F.col("doc_id") > cuts[1])]
    now = _time.time()
    for i, part in enumerate(parts):
        stage = str(tmp_path / f"mh_stage_{i}")
        part.coalesce(1).write.parquet(stage)
        f = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        dst = os.path.join(src, f"part_{i}.parquet")
        os.rename(os.path.join(stage, f), dst)
        os.utime(dst, (now + i * 10, now + i * 10))

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false").parquet(src))
    out = str(tmp_path / "mh_out")
    minhash_dedup_stream(stream, out, str(tmp_path / "mh_state"),
                         str(tmp_path / "ck_mh"))

    got = {tuple(map(str, r)) for r in
           spark.read.parquet(out).drop("batch_id").collect()}
    batch_out, bh = dedup.minhash_dedup_marks(docs)
    want = {tuple(map(str, r)) for r in batch_out.collect()}
    bh.unpersist()
    assert want and got == want
    # the corpus actually contains cross-batch duplicates
    assert any(r[1] == "1" for r in got)


def test_corpus_funnel_streaming_partials_sum_to_batch(spark, tmp_path):
    """Streaming funnel partials over a 3-batch corpus stream must sum
    (per source) to the batch corpus_funnel — gates are per-doc and
    the dedup rule matches the incremental index, so the report is
    additive."""
    import os
    import time as _time

    from gmall_flink_2021_spark.operators import textstats
    from gmall_flink_2021_spark.streaming.jobs import corpus_funnel_stream

    docs = load_table(spark, SF_SMOKE, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    cuts = [hi // 3, 2 * hi // 3]
    src = str(tmp_path / "cf_docs")
    os.makedirs(src)
    parts = [docs.filter(F.col("doc_id") <= cuts[0]),
             docs.filter((F.col("doc_id") > cuts[0])
                         & (F.col("doc_id") <= cuts[1])),
             docs.filter(F.col("doc_id") > cuts[1])]
    now = _time.time()
    for i, part in enumerate(parts):
        stage = str(tmp_path / f"cf_stage_{i}")
        part.coalesce(1).write.parquet(stage)
        f = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        dst = os.path.join(src, f"part_{i}.parquet")
        os.rename(os.path.join(stage, f), dst)
        os.utime(dst, (now + i * 10, now + i * 10))

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false").parquet(src))
    out = str(tmp_path / "cf_out")
    corpus_funnel_stream(stream, out, str(tmp_path / "cf_state"),
                         str(tmp_path / "ck_cf"))

    got = {tuple(map(str, r)) for r in
           spark.read.parquet(out)
           .groupBy("source")
           .agg(*[F.sum(c).cast("long").alias(c)
                  for c in ("total_ct", "lang_ct", "len_ct",
                            "quality_ct", "unique_ct", "kept_tokens")])
           .collect()}
    batch_out, bh = textstats.corpus_funnel(docs)
    want = {tuple(map(str, r)) for r in batch_out.collect()}
    bh.unpersist()
    assert want and got == want


def test_pq_encoding_streaming_matches_batch(spark, tmp_path):
    """PQ codes assigned to a vector stream against statically-trained
    codebooks must equal the batch _pq_learn assignment row-for-row
    (train-offline / encode-online split of the IVF-PQ write path)."""
    import numpy as np

    from gmall_flink_2021_spark.operators.similarity import (
        _pq_learn, _quant_py)
    from gmall_flink_2021_spark.streaming.jobs import (
        pq_encode_stream, run_to_completion)

    emb = load_table(spark, SF_SMOKE, "embeddings")
    sub, assigned, final = _pq_learn(emb)
    # independent reference: numpy int64 argmin of every quantized
    # subvector against the FINAL codebooks (the codebooks the stream
    # encoder ships — one half-step past the last training assignment)
    subrows = sub.select("vec_id", "s", "q").collect()
    sub.unpersist()
    assigned.unpersist()
    ks = sorted({c for (_, c) in final})
    want = set()
    for r in subrows:
        q = np.array(r["q"], dtype=np.int64)
        dists = [int(((q - np.array(final[(r["s"], c)], dtype=np.int64))
                      ** 2).sum()) for c in ks]
        want.add((r["vec_id"], r["s"], ks[int(np.argmin(dists))]))

    src = str(tmp_path / "emb_stream")
    emb.write.parquet(src)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    got_df = run_to_completion(pq_encode_stream(stream, final),
                               str(tmp_path / "ck_pq"))
    got = {(r["vec_id"], r["s"], r["code"]) for r in got_df.collect()}
    assert want and got == want


def test_observed_metrics_reconcile_with_sink_counts(spark, tmp_path):
    """The observe() row-audit must report, per micro-batch, exactly
    the rows the sink received — in-flight reconciliation with no
    second scan (QueryProgress.observedMetrics)."""
    import uuid

    from gmall_flink_2021_spark.streaming.jobs import with_row_audit

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


def test_heavy_hitter_stream_replay_is_idempotent(spark, tmp_path):
    """Replaying the whole stream with a FRESH checkpoint (batch ids
    re-fire from 0) against the existing store must be a no-op: the
    batch-id sentinel embedded in the store (atomic with the data it
    guards — no publish/marker crash window) skips every
    already-merged batch, so counts and the token total do not
    double."""
    import os
    import time as _time

    from gmall_flink_2021_spark.streaming.jobs import heavy_hitter_stream

    docs = load_table(spark, SF_SMOKE, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    src = str(tmp_path / "hhr_docs")
    os.makedirs(src)
    parts = [docs.filter(F.col("doc_id") <= hi // 2),
             docs.filter(F.col("doc_id") > hi // 2)]
    now = _time.time()
    for i, part in enumerate(parts):
        stage = str(tmp_path / f"hhr_stage_{i}")
        part.coalesce(1).write.parquet(stage)
        f = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        dst = os.path.join(src, f"part_{i}.parquet")
        os.rename(os.path.join(stage, f), dst)
        os.utime(dst, (now + i * 10, now + i * 10))

    def run(ck):
        stream = (spark.readStream.schema(docs.schema)
                  .option("maxFilesPerTrigger", 1)
                  .option("latestFirst", "false").parquet(src))
        heavy_hitter_stream(stream, store, str(tmp_path / ck),
                            counters=8)

    store = str(tmp_path / "hhr_store")
    run("ck_a")
    first = {(r["term"], r["cnt"])
             for r in spark.read.parquet(store).collect()}
    run("ck_b")  # full replay, fresh checkpoint → same batch ids
    second = {(r["term"], r["cnt"])
              for r in spark.read.parquet(store).collect()}
    assert first and second == first


def test_codebook_persistence_roundtrip_encodes_identically(spark, tmp_path):
    """Train-once / encode-anywhere: PQ codebooks written to parquet
    and reloaded must drive the streaming encoder to the exact codes
    the in-memory codebooks produce (fixed-point integers on disk —
    no float serialization drift)."""
    from gmall_flink_2021_spark.operators.similarity import (
        _pq_learn, load_codebooks, save_codebooks)
    from gmall_flink_2021_spark.streaming.jobs import (
        pq_encode_stream, run_to_completion)

    emb = load_table(spark, SF_SMOKE, "embeddings")
    sub, assigned, final = _pq_learn(emb)
    sub.unpersist()
    assigned.unpersist()
    art = str(tmp_path / "codebooks")
    save_codebooks(final, art, spark)
    reloaded = load_codebooks(art, spark)
    assert reloaded == {k: list(map(int, v)) for k, v in final.items()}

    src = str(tmp_path / "emb_rt")
    emb.write.parquet(src)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    a = {(r["vec_id"], r["s"], r["code"]) for r in run_to_completion(
        pq_encode_stream(stream, final),
        str(tmp_path / "ck_a")).collect()}
    stream2 = spark.readStream.schema(emb.schema).parquet(src)
    b = {(r["vec_id"], r["s"], r["code"]) for r in run_to_completion(
        pq_encode_stream(stream2, reloaded),
        str(tmp_path / "ck_b")).collect()}
    assert a and a == b


def test_quality_gate_quarantines_poisoned_batch(spark, tmp_path):
    """Dead-letter gate: a 3-batch stream where one file carries null
    custkeys must land that whole batch (and its verdicts) in
    quarantine while clean batches commit — nothing dropped, counts
    reconcile exactly."""
    import os
    import time as _time

    from gmall_flink_2021_spark.streaming.jobs import quality_gated_sink

    orders = load_table(spark, SF_SMOKE, "orders") \
        .select("o_orderkey", "o_custkey", "o_totalprice")
    hi = orders.agg(F.max("o_orderkey")).first()[0]
    cuts = [hi // 3, 2 * hi // 3]
    parts = [
        orders.filter(F.col("o_orderkey") <= cuts[0]),
        # poison the middle batch: 1 in 3 custkeys nulled
        orders.filter((F.col("o_orderkey") > cuts[0])
                      & (F.col("o_orderkey") <= cuts[1]))
        .withColumn("o_custkey",
                    F.when(F.col("o_orderkey") % 3 == 0, None)
                    .otherwise(F.col("o_custkey"))),
        orders.filter(F.col("o_orderkey") > cuts[1]),
    ]
    src = str(tmp_path / "qg_src")
    os.makedirs(src)
    now = _time.time()
    for i, part in enumerate(parts):
        stage = str(tmp_path / f"qg_stage_{i}")
        part.coalesce(1).write.parquet(stage)
        f = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        dst = os.path.join(src, f"part_{i}.parquet")
        os.rename(os.path.join(stage, f), dst)
        os.utime(dst, (now + i * 10, now + i * 10))

    stream = (spark.readStream.schema(parts[0].schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false").parquet(src))
    out = str(tmp_path / "qg_out")
    quar = str(tmp_path / "qg_quarantine")
    rules = [{"name": "custkey_not_null", "kind": "not_null",
              "column": "o_custkey", "min_permille": 1000}]
    quality_gated_sink(stream, rules, out, quar,
                       str(tmp_path / "ck_qg"))

    committed = spark.read.parquet(out)
    quarantined = spark.read.parquet(quar)
    assert committed.count() == parts[0].count() + parts[2].count()
    assert quarantined.count() == parts[1].count()
    assert committed.filter(F.col("o_custkey").isNull()).count() == 0
    verdicts = spark.read.parquet(quar + "._verdicts")
    v = verdicts.collect()
    assert len(v) == 1 and v[0]["passed"] == 0
    assert v[0]["metric_permille"] < 1000


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


def test_drift_monitor_streaming_store_matches_batch_zscores(
        spark, tmp_path):
    """The continuously-fed daily store must reproduce the batch
    trailing-frame z-scores exactly once the stream drains (integer
    cent sums are additive across micro-batches)."""
    from gmall_flink_2021_spark.operators.analytics import (
        daily_value_zscores)
    from gmall_flink_2021_spark.streaming.jobs import (
        daily_value_store_stream, zscores_from_daily_store)

    events = load_table(spark, SF_SMOKE, "events")
    src = str(tmp_path / "ev_multi")
    events.repartition(4).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    store = str(tmp_path / "daily_store")
    daily_value_store_stream(stream, store, str(tmp_path / "ck_dv"))

    got = {tuple(map(str, r)) for r in
           zscores_from_daily_store(spark, store).collect()}
    want = {tuple(map(str, r)) for r in
            daily_value_zscores(events).collect()}
    assert want and got == want


def test_checkpoint_resume_continues_from_offset(spark, tmp_path):
    """True restart semantics (O9): a stream is drained with only
    part of the data present, the process 'restarts' (same
    checkpoint), more files arrive, and the second run must continue
    from the recorded offset — no reprocessing of batch 0, state
    carried forward — ending in exactly the batch result."""
    import os
    import time as _time

    from gmall_flink_2021_spark.operators import dedup
    from gmall_flink_2021_spark.streaming.jobs import minhash_dedup_stream

    docs = load_table(spark, SF_SMOKE, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    parts = [docs.filter(F.col("doc_id") <= hi // 2),
             docs.filter(F.col("doc_id") > hi // 2)]
    src = str(tmp_path / "cr_docs")
    os.makedirs(src)
    ck = str(tmp_path / "cr_ck")
    out = str(tmp_path / "cr_out")
    state = str(tmp_path / "cr_state")
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
        minhash_dedup_stream(stream, out, state, ck)

    stage(0)
    run()                      # drains file 0, records offset
    first_batches = set(os.listdir(out))
    stage(1)
    run()                      # 'restart': must process ONLY file 1
    second_batches = set(os.listdir(out)) - first_batches
    assert first_batches == {"batch_id=0"}
    assert second_batches == {"batch_id=1"}

    got = {tuple(map(str, r)) for r in
           spark.read.parquet(out).drop("batch_id").collect()}
    batch_out, bh = dedup.minhash_dedup_marks(docs)
    want = {tuple(map(str, r)) for r in batch_out.collect()}
    bh.unpersist()
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


def test_classifier_scores_streaming_matches_batch(spark, tmp_path):
    """Model-based filtering at ingestion: the static weight table
    scoring a multi-batch corpus stream must reproduce the batch
    operator row-for-row (per-doc integer logits are independent of
    batching)."""
    from gmall_flink_2021_spark.operators import textstats
    from gmall_flink_2021_spark.streaming.jobs import (
        classifier_scores_stream)

    docs = load_table(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "docs_cls")
    docs.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    weights = textstats.classifier_weights(spark).persist()
    out = str(tmp_path / "cls_out")
    classifier_scores_stream(stream, weights, out,
                             str(tmp_path / "ck_cls"))
    weights.unpersist()

    got = {tuple(r) for r in
           spark.read.parquet(out).drop("batch_id").collect()}
    want = {tuple(r)
            for r in textstats.hashed_classifier_scores(docs).collect()}
    assert want and got == want


def test_merged_store_streams_fail_loud_on_corrupt_store(spark, tmp_path):
    """A merged store missing its embedded replay guard (crash
    mid-swap, or external truncation) must make the next run raise —
    silently re-seeding would reset accumulated counts and break the
    exactly-once claim. Covers both merged-store streams."""
    import os

    import pytest

    from gmall_flink_2021_spark.streaming.jobs import (
        heavy_hitter_stream, uv_sketch_stream)

    docs = load_table(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "docs_corrupt")
    docs.limit(50).write.parquet(src)

    # heavy hitters: store present but missing the sentinel rows
    hh_store = str(tmp_path / "hh_corrupt_store")
    spark.createDataFrame([("term_only", 3)], "term string, cnt long") \
        .write.parquet(hh_store)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .parquet(src))
    with pytest.raises(Exception, match="corrupt"):
        heavy_hitter_stream(stream, hh_store, str(tmp_path / "ck_hc"),
                            counters=4)

    # uv sketch: store present but no merged_bid column
    events = load_table(spark, SF_SMOKE, "events")
    esrc = str(tmp_path / "ev_corrupt")
    events.limit(50).write.parquet(esrc)
    uv_store = str(tmp_path / "uv_corrupt_store")
    from gmall_flink_2021_spark.operators.dwm import uv_daily_sketches

    uv_daily_sketches(events.limit(10)).withColumn(
        "merged_bid", F.lit(None).cast("long")).write.parquet(uv_store)
    estream = (spark.readStream.schema(spark.read.parquet(esrc).schema)
               .parquet(esrc))
    with pytest.raises(Exception, match="corrupt"):
        uv_sketch_stream(estream, uv_store, str(tmp_path / "ck_uc"))


def test_publish_store_atomic_swap_and_crash_recovery(spark, tmp_path):
    """publish_store must never leave a partial store readable: every
    crash point (complete stage + store renamed aside; stage without
    _SUCCESS; leftover ._prev) is recovered by recover_store into
    exactly the old or the new store, never a mix. This is the fix
    for the non-atomic two-phase copy whose partial republish could
    silently skip a replayed batch (every surviving part file still
    carried the constant merged_bid)."""
    import os
    import shutil

    from gmall_flink_2021_spark.streaming import sinks

    store = str(tmp_path / "store")
    old = spark.createDataFrame([(1, "old")], "k int, v string")
    new = spark.createDataFrame([(2, "new")], "k int, v string")

    # normal publish over an existing store: all-new content, no debris
    sinks.publish_store(old, store)
    sinks.publish_store(new, store)
    assert [tuple(r) for r in spark.read.parquet(store).collect()] \
        == [(2, "new")]
    assert not os.path.exists(store + "._stage")
    assert not os.path.exists(store + "._prev")

    # crash between rename-aside and rename-in: store missing, a
    # complete stage (_SUCCESS present) and ._prev both on disk
    new.write.mode("overwrite").parquet(store + "._stage")
    os.rename(store, store + "._prev")
    shutil.rmtree(store, ignore_errors=True)
    sinks.recover_store(store)
    assert [tuple(r) for r in spark.read.parquet(store).collect()] \
        == [(2, "new")]
    assert not os.path.exists(store + "._prev")

    # crash mid-STAGE: stage has no _SUCCESS, store intact -> stage
    # discarded, store untouched
    os.makedirs(store + "._stage")
    with open(os.path.join(store + "._stage", "part-partial.parquet"),
              "wb") as f:
        f.write(b"\x00partial")
    sinks.recover_store(store)
    assert not os.path.exists(store + "._stage")
    assert [tuple(r) for r in spark.read.parquet(store).collect()] \
        == [(2, "new")]

    # crash with store renamed aside and stage LOST (no _SUCCESS):
    # roll the old store back rather than re-seed from nothing
    os.rename(store, store + "._prev")
    sinks.recover_store(store)
    assert [tuple(r) for r in spark.read.parquet(store).collect()] \
        == [(2, "new")]


def test_publish_store_works_on_uri_store_paths(spark, tmp_path):
    """The store path ops go through Hadoop's FileSystem API, so a
    store addressed by URI (here file:, standing in for hdfs: which
    shares the FileSystem contract) publishes and recovers exactly
    like a bare local path — os.path/os.rename would silently fail
    the existence probe on any URI and re-seed the store every
    batch."""
    import os

    from gmall_flink_2021_spark.streaming import sinks

    store = "file:" + str(tmp_path / "uri_store")
    local = str(tmp_path / "uri_store")
    old = spark.createDataFrame([(1, "old")], "k int, v string")
    new = spark.createDataFrame([(2, "new")], "k int, v string")
    sinks.publish_store(old, store)
    sinks.publish_store(new, store)  # second publish must SEE the first
    assert [tuple(r) for r in spark.read.parquet(store).collect()] \
        == [(2, "new")]
    assert not os.path.exists(local + "._stage")
    assert not os.path.exists(local + "._prev")
    # recovery path resolves the same FileSystem from the URI
    os.rename(local, local + "._prev")
    sinks.recover_store(store)
    assert [tuple(r) for r in spark.read.parquet(store).collect()] \
        == [(2, "new")]


def test_ann_query_stream_matches_batch_ivf(spark, tmp_path):
    """Online ANN serving: a static IVF index (per-label centroids
    built once, persisted for the stream's lifetime) answering a
    multi-batch stream of query vectors must reproduce the batch
    ivf_ann operator row-for-row — per-query results depend only on
    the query and the index, so batching cannot change them."""
    from gmall_flink_2021_spark.operators.similarity import ivf_ann
    from gmall_flink_2021_spark.streaming.jobs import ann_query_stream

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    src = str(tmp_path / "ann_queries")
    queries.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "ann_out")
    ann_query_stream(stream, emb, out, str(tmp_path / "ck_ann"))

    got = {tuple(r) for r in
           spark.read.parquet(out).drop("batch_id").collect()}
    want = {tuple(r) for r in ivf_ann(emb, n_queries=5).collect()}
    assert want and got == want


def test_dsir_streaming_matches_batch(spark, tmp_path):
    """Online data selection: the static llr table (built from the
    full reference corpus) scoring a multi-batch stream of the same
    corpus must reproduce batch dsir_importance_weights row-for-row
    (per-doc integer weights are independent of batching)."""
    from gmall_flink_2021_spark.operators import textstats
    from gmall_flink_2021_spark.streaming.jobs import dsir_score_stream

    docs = load_table(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "docs_dsir")
    docs.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "dsir_out")
    dsir_score_stream(stream, docs, out, str(tmp_path / "ck_dsir"))

    got = {tuple(r) for r in
           spark.read.parquet(out).drop("batch_id").collect()}
    want = {tuple(r)
            for r in textstats.dsir_importance_weights(docs).collect()}
    assert want and got == want


def test_failed_stream_releases_its_persisted_index(spark, tmp_path):
    """A job that persists a frame — a static helper (dsir's llr
    table) or a per-batch one (heavy_hitter's batch counts, which are
    materialized before the store publish) — must release it when its
    query fails, not only on success: each sink's write lands under a
    regular file, so the first micro-batch raises, and the session's
    persisted-RDD count is back where it was."""
    from gmall_flink_2021_spark.streaming.jobs import (
        dsir_score_stream,
        heavy_hitter_stream,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "docs_dsir_fail")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("")

    def persisted() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    runs = {
        "dsir": lambda: dsir_score_stream(
            stream, docs, str(blocker / "out"),
            str(tmp_path / "ck_dsir_fail")),
        "heavy_hitter": lambda: heavy_hitter_stream(
            stream, str(blocker / "store"), str(tmp_path / "ck_hh_fail")),
    }
    for name, run in runs.items():
        before = persisted()
        with pytest.raises(Exception):
            run()
        assert persisted() == before, name
        assert not spark.streams.active, name


def test_bpe_encode_streaming_matches_batch(spark, tmp_path):
    """Tokenizer serving: the offline-trained BPE vocabulary encoding
    a multi-batch stream of the training corpus must reproduce batch
    bpe_encode_stats row-for-row."""
    from gmall_flink_2021_spark.operators import textstats
    from gmall_flink_2021_spark.streaming.jobs import bpe_encode_stream

    docs = load_table(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "docs_bpe")
    docs.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "bpe_out")
    bpe_encode_stream(stream, docs, out, str(tmp_path / "ck_bpe"))

    got = {tuple(r) for r in
           spark.read.parquet(out).drop("batch_id").collect()}
    bpe_ref, bref_h = textstats.bpe_encode_stats(docs)
    want = {tuple(r) for r in bpe_ref.collect()}
    bref_h.unpersist()
    assert want and got == want


def test_dsir_stream_resume_scores_only_new_files(spark, tmp_path):
    """Restart semantics for the serving-shaped streams: drain with
    half the corpus, 'restart' on the same checkpoint with the rest
    staged, and the second run must score ONLY the new file (offset
    carried), with the union of both runs equal to the batch operator
    (the static llr table makes per-doc scores batching-invariant)."""
    import os
    import time as _time

    from gmall_flink_2021_spark.operators import textstats
    from gmall_flink_2021_spark.streaming.jobs import dsir_score_stream

    docs = load_table(spark, SF_SMOKE, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    parts = [docs.filter(F.col("doc_id") <= hi // 2),
             docs.filter(F.col("doc_id") > hi // 2)]
    src = str(tmp_path / "dr_docs")
    os.makedirs(src)
    ck = str(tmp_path / "dr_ck")
    out = str(tmp_path / "dr_out")
    now = _time.time()

    def stage(i):
        d = str(tmp_path / f"dr_stage_{i}")
        parts[i].coalesce(1).write.parquet(d)
        f = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        dst = os.path.join(src, f"part_{i}.parquet")
        os.rename(os.path.join(d, f), dst)
        os.utime(dst, (now + i * 10, now + i * 10))

    def run():
        stream = (spark.readStream.schema(docs.schema)
                  .option("maxFilesPerTrigger", 1)
                  .option("latestFirst", "false").parquet(src))
        dsir_score_stream(stream, docs, out, ck)

    stage(0)
    run()
    first_batches = set(os.listdir(out))
    stage(1)
    run()
    second_batches = set(os.listdir(out)) - first_batches
    assert first_batches == {"batch_id=0"}
    assert second_batches == {"batch_id=1"}
    got = {tuple(r) for r in
           spark.read.parquet(out).drop("batch_id").collect()}
    want = {tuple(r)
            for r in textstats.dsir_importance_weights(docs).collect()}
    assert want and got == want


def test_novelty_gate_streaming_matches_batch(spark, tmp_path):
    """Ingest novelty gate: a multi-batch stream of 'today's crawl'
    classified against the static snapshot index must reproduce batch
    incremental_dedup row-for-row (verdicts are batching-invariant),
    with all three verdicts exercised."""
    from gmall_flink_2021_spark.operators import dedup
    from gmall_flink_2021_spark.streaming.jobs import novelty_gate_stream

    docs = load_table(spark, SF_SMOKE, "documents")
    snap = docs.filter(F.col("doc_id") % 10 != 7)
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    src = str(tmp_path / "novelty_docs")
    batch.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "novelty_out")
    novelty_gate_stream(stream, snap, out, str(tmp_path / "ck_novelty"))

    got = {tuple(r) for r in
           spark.read.parquet(out).drop("batch_id").collect()}
    ref, rh = dedup.incremental_dedup(snap, batch)
    want = {tuple(r) for r in ref.collect()}
    rh.unpersist()
    assert want and got == want
    assert {r[1] for r in want} >= {"novel"}


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


def test_profile_sketch_streaming_merge_matches_batch(spark, tmp_path):
    """Mergeable column profiling: the store built by merging 3
    micro-batches' sketch rows must read out with EXACT counters,
    bit-identical estimates for sparse-mode (low-cardinality)
    columns, and estimates within the HLL band of the true distinct
    count for the high-cardinality ones (datasketches sketches near
    the sparse→dense promotion boundary may differ by a few counts
    from the single-pass build)."""
    from gmall_flink_2021_spark.operators import expectations
    from gmall_flink_2021_spark.streaming.jobs import (
        profile_sketch_stream,
    )

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    docs = load_table(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "prof_docs")
    docs.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    store = str(tmp_path / "prof_store")
    profile_sketch_stream(stream, cols, store,
                          str(tmp_path / "ck_prof"))

    merged = spark.read.parquet(store)
    assert merged.agg(F.max("merged_bid")).first()[0] >= 2
    got = {r.col_name: r for r in expectations.profile_estimates(
        merged.drop("merged_bid")).collect()}
    want = {r.col_name: r for r in expectations.profile_estimates(
        expectations.profile_sketches(docs, cols)).collect()}
    exact = {c: docs.select(c).na.drop().distinct().count()
             for c in cols}
    assert set(got) == set(cols)
    for c in cols:
        assert (got[c].ct, got[c].null_ct) == (want[c].ct,
                                               want[c].null_ct)
        if exact[c] <= 100:  # sparse mode: merge is bit-exact
            assert got[c].distinct_est == want[c].distinct_est == exact[c]
        else:
            assert abs(got[c].distinct_est - exact[c]) <= 0.05 * exact[c]


def test_drift_readout_from_streamed_store(spark, tmp_path):
    """End-to-end monitoring loop: stream today's docs into a profile
    store, then read drift against a baseline profile — same schema
    as batch profile_drift, exact counters, no rescan of either
    snapshot."""
    from gmall_flink_2021_spark.operators import expectations
    from gmall_flink_2021_spark.streaming.jobs import (
        profile_sketch_stream,
    )

    cols = ["doc_id", "lang", "source"]
    docs = load_table(spark, SF_SMOKE, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 7)
    src = str(tmp_path / "drift_docs")
    docs.repartition(2).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    store = str(tmp_path / "drift_store")
    profile_sketch_stream(stream, cols, store,
                          str(tmp_path / "ck_drift"))

    baseline = expectations.profile_sketches(old, cols)
    out = expectations.drift_from_profile_stores(
        baseline, spark.read.parquet(store).drop("merged_bid"))
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


def _stream_transition_counts(spark, tmp_path, chunk_dfs, schema_src,
                              delay="0 seconds"):
    """Write chunks as single parquet files with increasing mtimes,
    replay with maxFilesPerTrigger=1 through the watermark-buffered
    transition stream, and return the aggregated (prev, next, ct)
    set (sentinel user -1, the watermark heartbeat, filtered out)."""
    import os
    import shutil

    from gmall_flink_2021_spark.streaming.stateful import (
        event_transitions_stream,
    )

    src = str(tmp_path / "events_chunks")
    os.makedirs(src)
    for i, ch in enumerate(chunk_dfs):
        d = str(tmp_path / f"chunk{i}")
        ch.coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"{i}.parquet")
        shutil.copy(os.path.join(d, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
    stream = (spark.readStream.schema(schema_src.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = run_to_completion(event_transitions_stream(stream, delay),
                            str(tmp_path / "ck_transitions"))
    return {(r.prev_type, r.next_type, r.cnt) for r in
            out.filter(F.col("user_id") >= 0)
               .groupBy("prev_type", "next_type")
               .agg(F.count(F.lit(1)).alias("cnt")).collect()}


def _ts_proj(df):
    return df.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id", "event_type")


def _sentinel_chunk(spark, after_df):
    """One max-ts heartbeat row for sentinel user -1: advances the
    global watermark past every real event so the final no-data batch
    fires the EventTimeTimeout flush for all buffered keys. Must
    clear max(ts) by MORE than the watermark delay — the final
    watermark is sentinel_ts - delay and timeout flushes need it
    strictly past the newest buffered row."""
    top = after_df.agg(F.max("ts_us").alias("m")).collect()[0].m
    return spark.createDataFrame(
        [(-1, int(top) + 60_000_000, 0, "view")],
        "user_id long, ts_us long, event_id long, event_type string")


def test_event_transitions_streaming_matches_batch(spark, tmp_path):
    """The stateful Markov stream on a ts-ordered multi-batch replay
    must reproduce the batch transition matrix exactly: per-user
    ordering state carries across micro-batches, and transition
    counts are associative so the appended rows aggregate to the
    batch operator's `transitions` column. Files are ts-RANGE chunks
    (equal timestamps kept within one chunk) with increasing mtimes;
    a final sentinel heartbeat advances the watermark so the buffered
    tail flushes."""
    from gmall_flink_2021_spark.operators.analytics import (
        event_transitions,
    )

    events = load_table(spark, SF_SMOKE, "events")
    ts_bounds = (events.orderBy("ts")
                 .selectExpr("ts").collect())
    n = len(ts_bounds)
    q1, q2 = ts_bounds[n // 3].ts, ts_bounds[2 * n // 3].ts
    proj = _ts_proj(events)
    chunks = [_ts_proj(events.filter(F.col("ts") < F.lit(q1))),
              _ts_proj(events.filter((F.col("ts") >= F.lit(q1))
                                     & (F.col("ts") < F.lit(q2)))),
              _ts_proj(events.filter(F.col("ts") >= F.lit(q2))),
              _sentinel_chunk(spark, proj)]
    got = _stream_transition_counts(spark, tmp_path, chunks, proj)
    want = {(r.prev_type, r.next_type, r.transitions) for r in
            event_transitions(events).collect()}
    assert want and got == want


def test_event_transitions_stream_out_of_order_arrival(spark, tmp_path):
    """Out-of-order delivery ACROSS micro-batches (the round-6 fix):
    arrival order is event time perturbed by a bounded displacement
    (±5 s) smaller than the watermark delay (10 s) — the reordering a
    multi-partition Kafka fan-in produces — then chunked into
    micro-batches in ARRIVAL order, so a user's earlier event
    routinely lands one or two batches after a later one. The
    watermark-buffered ordering must still reproduce the batch
    transition matrix exactly."""
    import random

    from gmall_flink_2021_spark.operators.analytics import (
        event_transitions,
    )

    rng = random.Random(42)
    types = ["view", "click", "cart", "purchase"]
    base = 1_600_000_000_000_000
    rows = []
    eid = 0
    for u in range(40):
        t = 0
        for _ in range(rng.randint(2, 12)):
            t += rng.randint(1, 3)  # 1-3 s steps: swaps are common
            rows.append((u, base + t * 1_000_000, eid,
                         rng.choice(types)))
            eid += 1
    events = spark.createDataFrame(
        rows, "user_id long, ts_us long, event_id long, "
              "event_type string")

    # arrival order = ts + uniform(±5 s) displacement; chunk that
    # order into 5 micro-batches
    arrival = sorted(
        rows, key=lambda r: r[1] + rng.randint(-5, 5) * 1_000_000)
    n_chunks = 5
    schema = "user_id long, ts_us long, event_id long, event_type string"
    chunks = [spark.createDataFrame(
        arrival[len(arrival) * i // n_chunks:
                len(arrival) * (i + 1) // n_chunks], schema)
        for i in range(n_chunks)]
    # sanity: the arrival really is intra-user out of order
    by_user_arrival = {}
    for r in arrival:
        by_user_arrival.setdefault(r[0], []).append(r[1])
    assert any(ts != sorted(ts) for ts in by_user_arrival.values())
    chunks.append(_sentinel_chunk(spark, events))

    got = _stream_transition_counts(spark, tmp_path, chunks, events,
                                    delay="10 seconds")
    batch_in = events.select(
        "user_id", F.timestamp_micros("ts_us").alias("ts"),
        "event_id", "event_type")
    want = {(r.prev_type, r.next_type, r.transitions) for r in
            event_transitions(batch_in).collect()}
    assert want and got == want


def test_rolling_uv_from_streamed_store_matches_batch(spark, tmp_path):
    """The rolling N-day UV read off the incrementally union-merged
    streaming sketch store must equal the batch operator EXACTLY
    (HLL registers are per-item maxes: merge of micro-batch sketches
    == single-pass sketch, so the window union over the store is
    bit-equivalent)."""
    from gmall_flink_2021_spark.operators import dwm
    from gmall_flink_2021_spark.streaming.jobs import uv_sketch_stream

    events = load_table(spark, SF_SMOKE, "events")
    src = str(tmp_path / "events_multi")
    events.repartition(4).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    store = str(tmp_path / "uv_daily_store")
    uv_sketch_stream(stream, store, str(tmp_path / "ck_roll_uv"))

    got = {(str(r.day), r.day_uv_est, r.rolling_uv_est) for r in
           dwm.rolling_uv_from_daily(
               spark.read.parquet(store)).collect()}
    want = {(str(r.day), r.day_uv_est, r.rolling_uv_est) for r in
            dwm.rolling_uv_sketches(events).collect()}
    assert want and got == want


def test_scd2_enrich_streaming_matches_batch(spark, tmp_path):
    """The stream-static temporal join must reproduce the batch
    effective-status assignment exactly on a multi-batch fact replay
    (per-row effectivity depends only on the row and the static
    version table, so batching is invisible)."""
    from gmall_flink_2021_spark.operators.analytics import scd2_enrich
    from gmall_flink_2021_spark.streaming.jobs import scd2_enrich_stream

    orders = load_table(spark, SF_SMOKE, "orders")
    lineitem = load_table(spark, SF_SMOKE, "lineitem")
    src = str(tmp_path / "lineitem_multi")
    lineitem.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "scd2_out")
    scd2_enrich_stream(stream, orders, out,
                       str(tmp_path / "ck_scd2"))

    agg = lambda df: {  # noqa: E731
        (r.eff_status, r.n): None for r in
        df.groupBy("eff_status").agg(F.count(F.lit(1)).alias("n"))
          .collect()}
    got = agg(spark.read.parquet(out))
    want = agg(scd2_enrich(orders, lineitem))
    assert want and got == want


def test_event_transitions_flush_promptly_not_only_at_end(spark, tmp_path):
    """The round-6 timer fix pinned: a key whose old events are
    finalized by the GLOBAL watermark must emit its transitions at
    the next watermark advance (EventTimeTimeout armed at the OLDEST
    buffered row), not wait for its own newest event to age out or
    for the stream to end. User 1 sends two early events and then
    goes silent; other users keep advancing the watermark. With the
    per-batch foreachBatch capture, user 1's transition must appear
    BEFORE the final batch."""
    import os

    from gmall_flink_2021_spark.streaming.stateful import (
        event_transitions_stream,
    )

    schema = "user_id long, ts_us long, event_id long, event_type string"
    base = 1_600_000_000_000_000
    s = 1_000_000
    chunks = [
        # batch 0: user 1's whole (short) life + user 2 activity
        [(1, base + 1 * s, 0, "view"), (1, base + 2 * s, 1, "click"),
         (2, base + 3 * s, 2, "view")],
        # batch 1: only user 2, far ahead: watermark passes user 1
        [(2, base + 60 * s, 3, "click")],
        # batch 2: further ahead still (lets batch-1 timeouts fire)
        [(2, base + 120 * s, 4, "cart")],
        # batch 3: sentinel tail flush
        [(-1, base + 600 * s, 5, "view")],
    ]
    import shutil
    src = str(tmp_path / "chunks")
    os.makedirs(src)
    for i, cr in enumerate(chunks):
        d = str(tmp_path / f"c{i}")
        spark.createDataFrame(cr, schema).coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"{i}.parquet")
        shutil.copy(os.path.join(d, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    stream = (spark.readStream
              .schema(spark.createDataFrame(chunks[0], schema).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out_dir = str(tmp_path / "per_batch")

    def capture(batch, bid):
        batch.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"bid={bid}"))

    q = (event_transitions_stream(stream).writeStream
         .foreachBatch(capture)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    emitted = {}  # (user, prev, next) -> first batch id
    bids = sorted(int(d.split("=")[1]) for d in os.listdir(out_dir))
    for bid in bids:
        p = os.path.join(out_dir, f"bid={bid}")
        for r in spark.read.parquet(p).collect():
            emitted.setdefault((r.user_id, r.prev_type, r.next_type), bid)
    u1 = emitted.get((1, "view", "click"))
    assert u1 is not None, emitted
    # must flush strictly before the last batch (old behavior: only
    # the sentinel's no-data batch at the very end flushed user 1)
    assert u1 < bids[-1], (u1, bids, emitted)


@pytest.mark.slow  # ~60 s state-bound soak (VERDICT r11 #2 split)
def test_event_transitions_hot_key_state_stays_bounded(spark, tmp_path):
    """Adversarial skew (VERDICT r6 #5): ONE user owns ~all events,
    arrival is shuffled within the watermark delay, and the delay is
    nonzero. Two assertions: (a) streaming == batch exactly, and (b)
    the hot key's buffered state never exceeds the documented bound —
    (micro-batch event-time span + delay + displacement) x event rate
    — i.e. it tracks the watermark lag, NOT the key's history. The
    real stateful fn is wrapped only to record the post-update buffer
    length the engine itself persisted."""
    import os
    import random
    import shutil

    from gmall_flink_2021_spark.operators.analytics import (
        event_transitions,
    )
    from gmall_flink_2021_spark.streaming import stateful
    from pyspark.sql.streaming.state import GroupStateTimeout

    rng = random.Random(7)
    types = ["view", "click", "cart", "purchase"]
    base = 1_600_000_000_000_000
    rows = []
    # hot user 0: 570 events, exactly 1 event/second
    for i in range(570):
        rows.append((0, base + i * 1_000_000, i, rng.choice(types)))
    # 30 background events across 5 cold users, same time range
    for j in range(30):
        rows.append((1 + j % 5, base + rng.randint(0, 569) * 1_000_000,
                     1000 + j, rng.choice(types)))
    total = len(rows)

    # arrival order: event time displaced by +-5 s (< 10 s delay)
    arrival = sorted(
        rows, key=lambda r: r[1] + rng.randint(-5, 5) * 1_000_000)
    schema = "user_id long, ts_us long, event_id long, event_type string"
    n_chunks = 20  # ~30 events = ~30 s of event time per micro-batch
    chunks = [spark.createDataFrame(
        arrival[total * i // n_chunks: total * (i + 1) // n_chunks],
        schema) for i in range(n_chunks)]
    chunks.append(_sentinel_chunk(spark, spark.createDataFrame(
        rows, schema)))

    buf_log = str(tmp_path / "buf_sizes.log")
    real_fn = stateful._transitions_fn

    def recording_fn(key, pdfs, state):
        yield from real_fn(key, pdfs, state)
        if state.exists:
            _, _, _, bts, _, _ = state.get
            with open(buf_log, "a") as fh:
                fh.write(f"{key[0]} {len(bts)}\n")

    src = str(tmp_path / "events_chunks")
    os.makedirs(src)
    for i, ch in enumerate(chunks):
        d = str(tmp_path / f"chunk{i}")
        ch.coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"{i:03d}.parquet")
        shutil.copy(os.path.join(d, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
    stream = (spark.readStream.schema(chunks[0].schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    wm = (stream
          .withColumn("et", F.timestamp_micros(F.col("ts_us")))
          .withWatermark("et", "10 seconds"))
    out = run_to_completion(
        wm.groupBy("user_id").applyInPandasWithState(
            recording_fn, stateful.TRANSITION_OUT,
            stateful._TRANSITION_STATE, "append",
            GroupStateTimeout.EventTimeTimeout),
        str(tmp_path / "ck_hotkey"))

    got = {(r.prev_type, r.next_type, r.cnt) for r in
           out.filter(F.col("user_id") >= 0)
              .groupBy("prev_type", "next_type")
              .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    batch_in = spark.createDataFrame(rows, schema).select(
        "user_id", F.timestamp_micros("ts_us").alias("ts"),
        "event_id", "event_type")
    want = {(r.prev_type, r.next_type, r.transitions) for r in
            event_transitions(batch_in).collect()}
    assert want and got == want

    sizes = [int(ln.split()[1]) for ln in open(buf_log)
             if ln.split()[0] == "0"]
    assert sizes, "hot key never recorded"
    # bound: (chunk span ~30 s + delay 10 s + displacement 10 s) x
    # 1 ev/s = ~50; assert with a little slack, and that it is far
    # below the 570-event history
    assert max(sizes) <= 80, max(sizes)
    assert max(sizes) < 570 / 4


def test_event_transitions_idle_ttl_drops_frontier(spark, tmp_path):
    """idle_ttl (ADVICE r6): a key whose frontier has seen no event
    for the TTL is dropped; on revival exactly ONE transition (the
    gap-spanning one) is lost, everything else still matches batch."""
    import collections
    import os
    import shutil

    from gmall_flink_2021_spark.operators.analytics import (
        event_transitions,
    )
    from gmall_flink_2021_spark.streaming.stateful import (
        event_transitions_stream,
    )

    H = 3_600_000_000  # 1 h in micros
    base = 1_600_000_000_000_000
    A, B = 0, 1
    rows = [
        # A pre-gap: view -> click -> cart, then idle > 90 min
        (A, base, 0, "view"), (A, base + 10_000_000, 1, "click"),
        (A, base + 20_000_000, 2, "cart"),
        # B keeps the watermark moving; its own gaps stay < TTL
        (B, base + H, 10, "view"), (B, base + H + 10_000_000, 11, "click"),
        (B, base + 2 * H, 12, "cart"),
        (B, base + 2 * H + 10_000_000, 13, "purchase"),
        (B, base + 5 * H // 2, 14, "view"),
        (B, base + 5 * H // 2 + 10_000_000, 15, "click"),
        # A revival after ~3 h of frontier inactivity
        (A, base + 3 * H, 3, "view"),
        (A, base + 3 * H + 10_000_000, 4, "click"),
    ]
    schema = "user_id long, ts_us long, event_id long, event_type string"
    all_df = spark.createDataFrame(rows, schema)
    chunk_rows = [rows[0:3],    # A pre-gap
                  rows[3:5],    # B @1h (flushes A, arms A's TTL)
                  rows[5:7],    # B @2h (wm passes A.last + 90 min)
                  rows[7:9],    # B @2h30 -> A timeout fires, removal
                  rows[9:11]]   # A revival
    chunks = [spark.createDataFrame(c, schema) for c in chunk_rows]
    chunks.append(_sentinel_chunk(spark, all_df))

    src = str(tmp_path / "ttl_chunks")
    os.makedirs(src)
    for i, ch in enumerate(chunks):
        d = str(tmp_path / f"ttlchunk{i}")
        ch.coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"{i}.parquet")
        shutil.copy(os.path.join(d, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
    stream = (spark.readStream.schema(all_df.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = run_to_completion(
        event_transitions_stream(stream, delay="10 seconds",
                                 idle_ttl="90 minutes"),
        str(tmp_path / "ck_ttl"))

    got = collections.Counter(
        (r.prev_type, r.next_type) for r in
        out.filter(F.col("user_id") >= 0).collect())
    want = collections.Counter()
    for r in event_transitions(all_df.select(
            "user_id", F.timestamp_micros("ts_us").alias("ts"),
            "event_id", "event_type")).collect():
        want[(r.prev_type, r.next_type)] = r.transitions
    # exactly A's gap-spanning transition (cart @20s -> view @3h) is
    # traded away by the TTL; everything else is intact
    want[("cart", "view")] -= 1
    want = +want
    assert got == want, (got, want)


def _stage_doc_chunks(spark, tmp_path, docs, tag, n_chunks=3):
    """Split docs into doc_id-ordered chunks staged as one parquet
    file each with increasing mtimes (maxFilesPerTrigger=1 replay)."""
    import os
    import time as _time

    hi = docs.agg(F.max("doc_id")).first()[0]
    cuts = [hi * (i + 1) // n_chunks for i in range(n_chunks - 1)]
    bounds = [None] + cuts + [None]
    src = str(tmp_path / f"{tag}_docs")
    os.makedirs(src)
    now = _time.time()
    for i in range(n_chunks):
        part = docs
        if bounds[i] is not None:
            part = part.filter(F.col("doc_id") > bounds[i])
        if bounds[i + 1] is not None:
            part = part.filter(F.col("doc_id") <= bounds[i + 1])
        stage = str(tmp_path / f"{tag}_stage_{i}")
        part.coalesce(1).write.parquet(stage)
        f = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        dst = os.path.join(src, f"part_{i}.parquet")
        os.rename(os.path.join(stage, f), dst)
        os.utime(dst, (now + i * 10, now + i * 10))
    return (spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false").parquet(src))


def test_script_mix_streaming_partials_sum_to_batch(spark, tmp_path):
    """Per-source script-mix counters are per-doc and associative, so
    the readout over 3 appended micro-batch partials must equal the
    batch report EXACTLY (permilles are ratios of summed counters)."""
    from gmall_flink_2021_spark.operators import textstats
    from gmall_flink_2021_spark.streaming.jobs import script_mix_stream

    docs = load_table(spark, SF_SMOKE, "documents")
    stream = _stage_doc_chunks(spark, tmp_path, docs, "sm")
    out = str(tmp_path / "sm_out")
    script_mix_stream(stream, out, str(tmp_path / "ck_sm"))

    got = {tuple(map(str, r)) for r in textstats.script_mix_readout(
        spark.read.parquet(out)).collect()}
    want = {tuple(map(str, r)) for r in
            textstats.script_mix_stats(docs).collect()}
    assert want and got == want


def test_token_fertility_streaming_partials_sum_to_batch(spark,
                                                         tmp_path):
    """Per-lang fertility counters (engine tokenizer + whitespace
    baseline) are additive; readout over appended partials == batch."""
    from gmall_flink_2021_spark.operators import textstats
    from gmall_flink_2021_spark.streaming.jobs import (
        token_fertility_stream,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    stream = _stage_doc_chunks(spark, tmp_path, docs, "tf")
    out = str(tmp_path / "tf_out")
    token_fertility_stream(stream, out, str(tmp_path / "ck_tf"))

    got = {tuple(map(str, r)) for r in textstats.token_fertility_readout(
        spark.read.parquet(out)).collect()}
    want = {tuple(map(str, r)) for r in
            textstats.token_fertility_stats(docs).collect()}
    assert want and got == want


def test_near_dup_rate_streaming_matches_batch(spark, tmp_path):
    """Streaming per-source dup-rate over the grow-only MinHash index
    must equal the batch near_dup_rate_by_source when arrival order
    is doc_id order: each batch's marks are final on arrival (the
    index only grows), so the (source, doc_ct, dup_ct) partials sum
    to the batch counts."""
    from gmall_flink_2021_spark.operators import dedup
    from gmall_flink_2021_spark.streaming.jobs import (
        near_dup_rate_stream,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    stream = _stage_doc_chunks(spark, tmp_path, docs, "ndr")
    out = str(tmp_path / "ndr_out")
    near_dup_rate_stream(stream, out, str(tmp_path / "ndr_state"),
                         str(tmp_path / "ck_ndr"))

    got = {tuple(map(str, r)) for r in dedup.near_dup_rate_readout(
        spark.read.parquet(out)).collect()}
    batch_out, bh = dedup.near_dup_rate_by_source(docs)
    want = {tuple(map(str, r)) for r in batch_out.collect()}
    bh.unpersist()
    assert want and got == want


def test_profiling_streams_resume_from_checkpoint(spark, tmp_path):
    """Restart semantics for the round-7 partials streams: drain
    script-mix and near-dup-rate with half the corpus, 'restart' on
    the same checkpoint with the rest staged — the second run must
    append ONLY the new batch's partials (offset carried, no re-emit)
    and the readout over the union must equal the batch report (for
    near-dup-rate: the grow-only index carried across the restart)."""
    import os
    import time as _time

    from gmall_flink_2021_spark.operators import dedup, textstats
    from gmall_flink_2021_spark.streaming.jobs import (
        near_dup_rate_stream,
        script_mix_stream,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    parts = [docs.filter(F.col("doc_id") <= hi // 2),
             docs.filter(F.col("doc_id") > hi // 2)]
    src = str(tmp_path / "pr_docs")
    os.makedirs(src)
    now = _time.time()

    def stage(i):
        d = str(tmp_path / f"pr_stage_{i}")
        parts[i].coalesce(1).write.parquet(d)
        f = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        dst = os.path.join(src, f"part_{i}.parquet")
        os.rename(os.path.join(d, f), dst)
        os.utime(dst, (now + i * 10, now + i * 10))

    def stream():
        return (spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .option("latestFirst", "false").parquet(src))

    sm_out = str(tmp_path / "sm_out")
    nd_out = str(tmp_path / "nd_out")
    nd_state = str(tmp_path / "nd_state")
    stage(0)
    script_mix_stream(stream(), sm_out, str(tmp_path / "ck_sm"))
    near_dup_rate_stream(stream(), nd_out, nd_state,
                         str(tmp_path / "ck_nd"))
    first = set(os.listdir(sm_out)), set(os.listdir(nd_out))
    stage(1)
    script_mix_stream(stream(), sm_out, str(tmp_path / "ck_sm"))
    near_dup_rate_stream(stream(), nd_out, nd_state,
                         str(tmp_path / "ck_nd"))
    assert set(os.listdir(sm_out)) - first[0] == {"batch_id=1"}
    assert set(os.listdir(nd_out)) - first[1] == {"batch_id=1"}

    got_sm = {tuple(map(str, r)) for r in textstats.script_mix_readout(
        spark.read.parquet(sm_out)).collect()}
    want_sm = {tuple(map(str, r)) for r in
               textstats.script_mix_stats(docs).collect()}
    assert want_sm and got_sm == want_sm

    got_nd = {tuple(map(str, r)) for r in dedup.near_dup_rate_readout(
        spark.read.parquet(nd_out)).collect()}
    batch_nd, nh = dedup.near_dup_rate_by_source(docs)
    want_nd = {tuple(map(str, r)) for r in batch_nd.collect()}
    nh.unpersist()
    assert want_nd and got_nd == want_nd
