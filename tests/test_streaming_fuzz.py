"""Streaming-side seeded fuzz (VERDICT r10 #5).

The 44 batch fuzz seeds to date generate dirty CORPORA; the
streaming==batch equivalence for the stateful trio (O4 bounce / O5
is_new repair / O6 UV dedup) and the interval joins (J1 ±5 s, J2
0..+15 min) was previously tested on fixed micro-sequences only.
This module generates seeded EVENT STREAMS — out-of-order arrival,
duplicate delivery, watermark-boundary timestamps (gaps of exactly
the 10 s jump window, exactly the ±5 s / +15 min join edges, day
boundaries) — replays them as ordered micro-batches through the real
streaming operators, and asserts the result equals an independently
formulated batch oracle.

Soundness envelope (why exact equality MUST hold): every event's
arrival displacement is bounded by 0.45x the watermark delay, and
per-key arrival order is preserved (the stateful fns sort WITHIN a
micro-batch, so intra-batch inversion is free game, but cross-batch
per-key inversion would legitimately change results — a real
bounded-out-of-orderness source upholds exactly this envelope).
Under it: (a) no row is ever late relative to the watermark (when a
row with event time t arrives, every earlier arrival has event time
<= t + 2*0.45*delay, so watermark <= t); (b) an event-time timeout
can never fire while an in-window successor is still in flight; and
(c) interval-join state is never evicted while a matching row is
still in flight (the eviction threshold already includes the join
range).  Any divergence is therefore an engine bug, not fuzz noise.

Round discipline mirrors test_seeded_fuzz: STREAM_SEEDS rotates each
round; each seed exercises ONE watermark delay (the delay rotates
with the seed so every round covers the 1 s / 10 s / 1 min tiers),
and any divergence gets fixed and pinned as a literal fixture.

Seed history: see the tally comment above STREAM_CASES.
"""

from __future__ import annotations

import datetime
import os
import random
import shutil

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from gmall_flink_2021_spark.operators import gmall_dwm
from gmall_flink_2021_spark.streaming import stateful

from .stream_helpers import run_to_completion

# Suite split (VERDICT r11 #2): the streaming fuzz sweeps cost
# ~7.5 min; the deterministic streaming==batch pins in
# test_streaming.py stay in the default run, these generated sweeps
# run opt-in (python -m pytest -m slow).
pytestmark = pytest.mark.slow

# seed -> watermark delay tier (rotates each round; see module doc)
STREAM_CASES = [
    (31001, "1 second", 1_000),
    (31002, "10 seconds", 10_000),
    (31003, "1 minute", 60_000),
]

PAGE_SCHEMA = StructType([
    StructField("mid", StringType()), StructField("ts", LongType()),
    StructField("last_page_id", StringType()),
    StructField("page_id", StringType()),
    StructField("is_new", StringType()),
])

_DAY_MS = 86_400_000
_BASE_TS = 1_600_000_000_000


def _utc_day(ts_ms: int) -> str:
    return datetime.datetime.fromtimestamp(
        ts_ms / 1000, tz=datetime.timezone.utc).strftime("%Y-%m-%d")


def _gen_page_events(seed: int, delay_ms: int):
    """Seeded page-event stream: per-mid strictly-increasing event
    times with increments straddling the 10 s jump window and the UTC
    day boundary, ~8% duplicate delivery, entry/browse mixes, lying
    is_new claims.  Returns (rows_in_event_order, arrival_chunks)
    where the arrival order displaces each row by < 0.45*delay and
    preserves per-mid order (the soundness envelope)."""
    rng = random.Random(seed)
    mids = [f"m{i}" for i in range(rng.randint(3, 7))]
    cur = {m: _BASE_TS + rng.randrange(0, 5_000) for m in mids}
    pages = ["home", "detail", "cart", "pay", "list"]
    rows = []
    for _ in range(rng.randint(150, 260)):
        m = rng.choice(mids)
        cur[m] += rng.choice([
            1, 7, 450, 3_000, 9_999, 10_000, 10_001, 25_000,
            3_600_000, _DAY_MS - 1, _DAY_MS, _DAY_MS + 1,
            rng.randrange(1, 90_000)])
        ts = cur[m]
        entry = rng.random() < 0.45
        last = rng.choice([None, ""]) if entry else rng.choice(pages)
        row = (m, ts, last, rng.choice(pages),
               rng.choice(["0", "1", "1"]))
        rows.append(row)
        if rng.random() < 0.08:
            rows.append(row)              # duplicate delivery
    jb = max(1, int(delay_ms * 0.45) - 2)
    ak, prev = [], {}
    for i, r in enumerate(rows):
        k = r[1] + rng.randint(-jb, jb)
        # preserve per-mid arrival order; the +1 bump stays inside
        # the envelope because per-mid ts is strictly increasing
        # (duplicates add at most +1 ms on top)
        k = max(k, prev.get(r[0], -(1 << 62)) + 1)
        prev[r[0]] = k
        ak.append((k, i))
    arrived = [rows[i] for _, i in sorted(ak)]
    chunks, i = [], 0
    while i < len(arrived):
        n = rng.randint(12, 45)
        chunks.append(arrived[i:i + n])
        i += n
    return rows, chunks


def _stage_chunks(spark, tmp_path, chunk_rows, schema, tag):
    """Stage row-chunks as one parquet file each with increasing
    mtimes so maxFilesPerTrigger=1 replays them as ordered
    micro-batches (the pattern of test_stateful/_streaming)."""
    src = str(tmp_path / f"{tag}_chunks")
    os.makedirs(src)
    for i, rows in enumerate(chunk_rows):
        d = str(tmp_path / f"{tag}_stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"{i:04d}.parquet")
        shutil.copy(os.path.join(d, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src))


def _page_stream(spark, tmp_path, chunks, delay, tag):
    s = _stage_chunks(spark, tmp_path, chunks, PAGE_SCHEMA, tag)
    return (s.withColumn("et", F.timestamp_millis(F.col("ts")))
            .withWatermark("et", delay))


# --------------------------------------------------- batch oracles
# Independent hand-written replays over the EVENT-TIME order (plain
# Python, not the streaming code path, not the registered batch
# operators — a third formulation, so agreement is three-way).

def _oracle_uv(rows):
    first = {}
    for m, ts, last, page, _ in sorted(rows, key=lambda r: r[1]):
        if last not in (None, ""):
            continue
        day = _utc_day(ts)
        k = (m, day)
        if k not in first or ts < first[k]:
            first[k] = ts
    return {(m, ts) for (m, _), ts in first.items()}


def _oracle_is_new(rows):
    out = []
    state = {}
    for m, ts, _, _, claim in sorted(rows, key=lambda r: r[1]):
        day = _utc_day(ts)
        repaired = claim
        if claim == "1":
            if m not in state:
                state[m] = day
            elif state[m] != day:
                repaired = "0"
        elif m not in state:
            state[m] = _utc_day(ts - _DAY_MS)
        out.append((m, ts, repaired))
    return sorted(out)


def _oracle_jumps(rows):
    per_mid = {}
    for m, ts, last, _, _ in sorted(rows, key=lambda r: r[1]):
        per_mid.setdefault(m, []).append(
            (ts, last is None or last == ""))
    bounces = set()
    for m, seq in per_mid.items():
        for i, (ts, is_entry) in enumerate(seq):
            if not is_entry:
                continue
            if i + 1 >= len(seq):
                bounces.add((m, ts))
                continue
            nts, nentry = seq[i + 1]
            if nts - ts > stateful.JUMP_TIMEOUT_MS or nentry:
                bounces.add((m, ts))
    return bounces


@pytest.mark.parametrize("seed,delay,delay_ms", STREAM_CASES)
def test_fuzz_stateful_trio_streaming_matches_batch(
        spark, tmp_path, seed, delay, delay_ms):
    rows, chunks = _gen_page_events(seed, delay_ms)
    repro = (f"seed {seed} delay {delay!r} diverged — regen via "
             f"tests/test_streaming_fuzz._gen_page_events({seed}, "
             f"{delay_ms})")

    # O6 UV dedup (set compare: duplicate delivery collapses)
    uv_in = _page_stream(spark, tmp_path, chunks, delay, "uv")
    got_uv = {(r.mid, r.ts) for r in run_to_completion(
        stateful.dedup_uv(uv_in),
        str(tmp_path / "ck_uv")).collect()}
    assert got_uv == _oracle_uv(rows), repro

    # O5 is_new repair (TTL form = the watermark-carrying form, with
    # a TTL far beyond the stream span so revival semantics never
    # engage; multiset compare — duplicates repair identically)
    isnew_in = _stage_chunks(
        spark, tmp_path,
        [[(m, ts, n) for (m, ts, _, _, n) in ch] for ch in chunks],
        stateful.IS_NEW_IN, "isnew")
    got_new = sorted((r.mid, r.ts, r.is_new) for r in run_to_completion(
        stateful.repair_is_new(isnew_in, idle_ttl="3650 days",
                               delay=delay),
        str(tmp_path / "ck_isnew")).collect())
    assert got_new == _oracle_is_new(rows), repro

    # O4 bounce: exact equality up to the resolution horizon (the
    # final pending entries need the watermark to pass entry+10 s),
    # and NO false bounces ever, horizon or not
    jump_in = _page_stream(spark, tmp_path, chunks, delay, "jump")
    got_j = {(r.mid, r.ts) for r in run_to_completion(
        stateful.detect_jumps(jump_in),
        str(tmp_path / "ck_jump")).collect()}
    want_j = _oracle_jumps(rows)
    horizon = (max(r[1] for r in rows) - delay_ms
               - stateful.JUMP_TIMEOUT_MS)
    assert ({p for p in got_j if p[1] <= horizon}
            == {p for p in want_j if p[1] <= horizon}), repro
    assert got_j - want_j == set(), repro


# ------------------------------------------------- interval joins
ORDER_SCHEMA = StructType([
    StructField("id", LongType()), StructField("province_id", LongType()),
    StructField("order_status", StringType()),
    StructField("user_id", LongType()),
    StructField("total_amount", DoubleType()),
    StructField("activity_reduce_amount", DoubleType()),
    StructField("coupon_reduce_amount", DoubleType()),
    StructField("original_total_amount", DoubleType()),
    StructField("feight_fee", DoubleType()),
    StructField("create_time", StringType()),
])
DETAIL_SCHEMA = StructType([
    StructField("id", LongType()), StructField("order_id", LongType()),
    StructField("sku_id", LongType()),
    StructField("order_price", DoubleType()),
    StructField("sku_num", LongType()),
    StructField("sku_name", StringType()),
    StructField("split_total_amount", DoubleType()),
    StructField("split_activity_amount", DoubleType()),
    StructField("split_coupon_amount", DoubleType()),
    StructField("create_time", StringType()),
])

_JOIN_BASE = 1_611_000_000  # seconds


def _fmt(sec: int) -> str:
    return datetime.datetime.fromtimestamp(
        sec, tz=datetime.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def _gen_join_corpus(seed: int):
    """Seeded order/detail rows: detail offsets straddle the ±5 s
    J1 boundary exactly (the +5 s edge is IN, +6 s OUT); orphan
    details and detail-less orders included."""
    rng = random.Random(seed)
    orders, details, want = [], [], set()
    t = _JOIN_BASE
    did = 0
    for oid in range(1, rng.randint(35, 60)):
        t += rng.randrange(1, 30)
        has_order = rng.random() > 0.10   # 10%: orphan details
        if has_order:
            orders.append((oid, rng.randrange(1, 5), "1001",
                           rng.randrange(1, 20), 100.0, 0.0, 0.0,
                           100.0, 5.0, _fmt(t)))
        for _ in range(rng.randint(0, 3)):
            did += 1
            off = rng.choice([-7, -6, -5, -4, -1, 0, 1, 4, 5, 6, 7])
            details.append((did, oid, rng.randrange(1, 30), 10.0,
                            2, "sku", 20.0, 0.0, 0.0, _fmt(t + off)))
            if has_order and abs(off) <= 5:
                want.add((oid, did))
    return orders, details, want


def _arrival_chunks(rng, rows, ts_of, jb, n_chunks):
    """Bounded-displacement arrival order + chunking for join sides
    (no per-key order requirement: joins are order-free within the
    envelope)."""
    keyed = sorted((ts_of(r) + rng.randint(-jb, jb), i)
                   for i, r in enumerate(rows))
    arrived = [rows[i] for _, i in keyed]
    out, step = [], max(1, len(arrived) // n_chunks)
    for i in range(0, len(arrived), step):
        out.append(arrived[i:i + step])
    return out


def _ct_sec(row) -> int:
    return int(datetime.datetime.strptime(
        row[-1], "%Y-%m-%d %H:%M:%S")
        .replace(tzinfo=datetime.timezone.utc).timestamp())


@pytest.mark.parametrize("seed,delay,delay_ms", STREAM_CASES)
def test_fuzz_interval_join_streaming_matches_batch(
        spark, tmp_path, seed, delay, delay_ms):
    """J1 (±5 s) as a watermarked stream-stream join under seeded
    out-of-order arrival must emit exactly the batch pair set.  The
    watermark tier rotates with the seed; the join's own watermark
    must be >= the source's displacement bound, so the envelope uses
    the tier's delay for both."""
    orders, details, want = _gen_join_corpus(seed)
    rng = random.Random(seed + 1)
    # displacement in SECONDS (create_time resolution); 0 at the 1 s
    # tier — the envelope (2*jb <= delay) leaves no room below the
    # string clock's resolution, so that tier fuzzes chunked split
    # delivery in event order instead
    jb = delay_ms * 45 // 100_000
    och = _arrival_chunks(rng, orders, _ct_sec, jb, 8)
    dch = _arrival_chunks(rng, details, _ct_sec, jb, 8)
    oi = _stage_chunks(spark, tmp_path, och, ORDER_SCHEMA, "oi")
    od = _stage_chunks(spark, tmp_path, dch, DETAIL_SCHEMA, "od")
    joined = gmall_dwm.order_wide_join(oi, od, streaming=True,
                                       watermark=delay)
    got = {(r.order_id, r.detail_id) for r in run_to_completion(
        joined, str(tmp_path / "ck_j1")).collect()}
    assert got == want, f"J1 fuzz seed {seed} delay {delay!r}"


PAY_SCHEMA = StructType([
    StructField("id", LongType()), StructField("order_id", LongType()),
    StructField("user_id", LongType()),
    StructField("total_amount", DoubleType()),
    StructField("subject", StringType()),
    StructField("payment_type", StringType()),
    StructField("create_time", StringType()),
])


def test_fuzz_payment_wide_join_asymmetric_window(spark, tmp_path):
    """J2 (payment within [order, order+15 min] — the ASYMMETRIC
    window, PaymentWideApp.java:80-88) under seeded out-of-order
    arrival: +900 s is IN, +901 s and -1 s are OUT."""
    seed = 31007
    rng = random.Random(seed)
    ow_rows, pay_rows, want = [], [], set()
    t = _JOIN_BASE
    for oid in range(1, 45):
        t += rng.randrange(5, 400)
        has_order = rng.random() > 0.1
        if has_order:
            ow_rows.append((oid, 7.0, _fmt(t)))
        for _ in range(rng.randint(0, 2)):
            pid = len(pay_rows) + 1
            off = rng.choice([-300, -1, 0, 1, 60, 899, 900, 901,
                              1800])
            pay_rows.append((pid, oid, 3, 50.0, "subj", "alipay",
                             _fmt(t + off)))
            if has_order and 0 <= off <= 900:
                want.add((oid, pid))
    ow_schema = StructType([
        StructField("order_id", LongType()),
        StructField("total_x", DoubleType()),
        StructField("order_time", StringType())])
    jb = 15 * 60 * 45 // 100                  # 0.45 * 15 min, sec
    och = _arrival_chunks(rng, ow_rows, lambda r: _ct_sec(r), jb, 6)
    pch = _arrival_chunks(rng, pay_rows, lambda r: _ct_sec(r), jb, 6)
    ow_s = (_stage_chunks(spark, tmp_path, och, ow_schema, "ow")
            .withColumn("order_et", F.to_timestamp("order_time"))
            .withColumn("order_ts",
                        F.unix_timestamp("order_time") * 1000)
            .drop("order_time"))
    pay_s = _stage_chunks(spark, tmp_path, pch, PAY_SCHEMA, "pay")
    joined = gmall_dwm.payment_wide_join(pay_s, ow_s, streaming=True)
    got = {(r.order_id, r.payment_id) for r in run_to_completion(
        joined, str(tmp_path / "ck_j2")).collect()}
    assert got == want
