"""The stateful trio: streaming applyInPandasWithState operators must
agree with their batch oracles on the gmall fixtures (SURVEY.md §5.2
'streaming == batch')."""

import json

import pytest

from pyspark.sql import functions as F

from gmall_flink_2021_spark.operators import dwd, dwm
from gmall_flink_2021_spark.sources import gmall_fixtures as fx
from gmall_flink_2021_spark.streaming import stateful

from .stream_helpers import run_to_completion


@pytest.fixture(scope="module")
def log_stream_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("log_stream")
    lines = fx.page_log_lines()
    (d / "part-0.txt").write_text("\n".join(lines))
    return str(d), lines


def _page_projection(spark, path):
    raw = spark.readStream.format("text").load(path)
    page = dwd.split_log(dwd.parse_log(raw))["page"]
    return stateful.page_events_projection(page).withWatermark("et",
                                                               "1 second")


def _batch_page(spark, lines):
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    page = dwd.split_log(dwd.parse_log(raw))["page"]
    return stateful.page_events_projection(page)


def test_streaming_uv_dedup(spark, log_stream_path, tmp_path):
    path, lines = log_stream_path
    out = run_to_completion(stateful.dedup_uv(_page_projection(spark, path)),
                            str(tmp_path / "ckpt_uv"))
    got = {(r.mid, r.ts) for r in out.collect()}
    # batch oracle: first session-entry event per mid per day
    batch = _batch_page(spark, lines)
    oracle = (batch
              .filter(F.col("last_page_id").isNull()
                      | (F.length("last_page_id") == 0))
              .withColumn("day", F.to_date(F.timestamp_millis("ts")))
              .groupBy("mid", "day").agg(F.min("ts").alias("ts")))
    want = {(r.mid, r.ts) for r in oracle.collect()}
    assert got == want and len(want) > 0


def test_streaming_is_new_repair(spark, log_stream_path, tmp_path):
    path, lines = log_stream_path
    raw = spark.readStream.format("text").load(path)
    page = dwd.split_log(dwd.parse_log(raw))["page"]
    proj = page.select(F.col("common.mid").alias("mid"), "ts",
                       F.col("common.is_new").alias("is_new"))
    out = run_to_completion(stateful.repair_is_new(proj),
                            str(tmp_path / "ckpt_isnew"))
    repaired = {(r.mid, r.ts): r.is_new for r in out.collect()}
    assert len(repaired) > 0
    # every is_new=1 surviving repair must be on the mid's first day
    batch = _batch_page(spark, lines).withColumn(
        "day", F.to_date(F.timestamp_millis("ts")))
    first_day = {r.mid: r.d for r in
                 batch.groupBy("mid").agg(F.min("day").alias("d")).collect()}
    days = {(r.mid, r.ts): r.day for r in batch.collect()}
    for (mid, ts), flag in repaired.items():
        if flag == "1":
            assert days[(mid, ts)] == first_day[mid]
    # and at least one claimed-new record was actually repaired to 0
    lied = 0
    parsed = [json.loads(l) for l in lines
              if l.startswith("{") and "page" in json.loads(l)]
    claimed = {(e["common"]["mid"], e["ts"]): e["common"]["is_new"]
               for e in parsed}
    for k, flag in repaired.items():
        if claimed.get(k) == "1" and flag == "0":
            lied += 1
    assert lied > 0


def test_streaming_bounce_matches_batch_oracle(spark, log_stream_path,
                                               tmp_path):
    path, lines = log_stream_path
    out = run_to_completion(
        stateful.detect_jumps(_page_projection(spark, path)),
        str(tmp_path / "ckpt_jump"))
    got = {(r.mid, r.ts) for r in out.collect()}
    oracle = dwm.user_jumps_page_log(_batch_page(spark, lines))
    want = {(r.mid, r.ts) for r in oracle.collect()}
    # the stream's final pending entries can only resolve via the
    # event-time timeout, which needs the watermark to pass entry+10 s;
    # entries later than (max_ts - 1 s watermark - 10 s) stay pending.
    max_ts = max(json.loads(l)["ts"] for l in lines if l.startswith("{"))
    horizon = max_ts - 1_000 - stateful.JUMP_TIMEOUT_MS
    want_closed = {(m, t) for (m, t) in want if t <= horizon}
    got_closed = {(m, t) for (m, t) in got if t <= horizon}
    assert got_closed == want_closed and len(want_closed) > 0
    assert got - want == set()          # no false bounces ever


def _stage_chunks(spark, tmp_path, chunk_rows, schema, tag):
    """Stage row-chunks as one parquet file each with increasing
    mtimes so maxFilesPerTrigger=1 replays them as ordered
    micro-batches (the pattern of tests/test_streaming.py)."""
    import os
    import shutil

    src = str(tmp_path / f"{tag}_chunks")
    os.makedirs(src)
    for i, rows in enumerate(chunk_rows):
        d = str(tmp_path / f"{tag}_stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"{i}.parquet")
        shutil.copy(os.path.join(d, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src))


def test_is_new_repair_idle_ttl_revival_semantics(spark, tmp_path):
    """idle_ttl on the is_new frontier (VERDICT r7 #6): a mid whose
    last sighting aged past the TTL (event-time watermark) is dropped
    from state; on revival its is_new=1 claim is honored AGAIN — the
    documented trade — while every other repair decision matches the
    no-TTL form, which (run on the same replay) still repairs the
    revival. The differential proves the drop came from the TTL, not
    from a repair-logic change."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    D = 86_400_000
    base = 1_600_000_000_000
    schema = StructType([
        StructField("mid", StringType()), StructField("ts", LongType()),
        StructField("is_new", StringType())])
    chunk_rows = [
        # A day0: claim honored, same-day repeat honored
        [("A", base, "1"), ("A", base + 10_000, "1")],
        # B keeps the watermark moving (A's TTL timer arms)
        [("B", base + 3_600_000, "1")],
        # B day1: repaired; wm passes A.last + TTL (fires next batch)
        [("B", base + D + 7_200_000, "1")],
        # heartbeat batch: A's timer fires -> frontier dropped
        [("B", base + D + 10_800_000, "0")],
        # A revival on day2: honored under TTL, repaired without
        [("A", base + 2 * D, "1")],
    ]
    want_common = {
        ("A", base): "1", ("A", base + 10_000): "1",
        ("B", base + 3_600_000): "1",
        ("B", base + D + 7_200_000): "0",
        ("B", base + D + 10_800_000): "0",
    }
    revival = ("A", base + 2 * D)

    ttl_out = run_to_completion(
        stateful.repair_is_new(
            _stage_chunks(spark, tmp_path, chunk_rows, schema, "ttl"),
            idle_ttl="1 day", delay="1 second"),
        str(tmp_path / "ck_isnew_ttl"))
    got_ttl = {(r.mid, r.ts): r.is_new for r in ttl_out.collect()}

    plain_out = run_to_completion(
        stateful.repair_is_new(
            _stage_chunks(spark, tmp_path, chunk_rows, schema, "plain")),
        str(tmp_path / "ck_isnew_plain"))
    got_plain = {(r.mid, r.ts): r.is_new for r in plain_out.collect()}

    assert got_ttl == {**want_common, revival: "1"}, got_ttl
    assert got_plain == {**want_common, revival: "0"}, got_plain
