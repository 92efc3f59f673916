"""The stateful trio (SURVEY.md §2.9), as applyInPandasWithState
operators keyed by mid:

 - O5 is_new repair      (BaseLogApp.java:73-105, ValueState<String>)
 - O6 daily-UV dedup     (UniqueVisitApp.java:74-117, ValueState + 1-day TTL;
                          the reference's 'yyyy-MM-DD' bug at :82 is fixed)
 - O4 bounce detection   (UserJumpDetailApp.java:84-125, CEP times(2)
                          .consecutive().within(10 s) + timeout side output)

Each function works on a projected frame with a fixed small schema so
state stays tiny (a date string / a pending-event timestamp), and each
has a batch-mode oracle in operators/dwm.py that the streaming tests
compare against. Note applyInPandasWithState is streaming-only in
Spark (batch calls raise UnsupportedOperationException) — batch
callers use the dwm.py window-function formulations instead.

Bounce semantics (the subtlest in the repo): an *entry* event
(last_page_id null/empty) is a bounce iff the immediately-next event
of the same mid is absent within the window (timeout path) OR is
itself another entry. A non-entry event arriving within the window
cancels the pending entry. Both the in-stream resolution (next event
arrives) and the event-time timeout path are implemented; the timeout
fires off the watermark, mirroring Flink CEP's timed-out partial
matches.
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

JUMP_TIMEOUT_MS = 10_000  # UserJumpDetailApp.java:92-94 (within 10 s)


def _day(ts_ms: int) -> str:
    return datetime.fromtimestamp(ts_ms / 1000, tz=timezone.utc) \
        .strftime("%Y-%m-%d")


def _interval_us(interval: str) -> int:
    """Parse a withWatermark-style interval ("90 minutes") to micros
    (``repair_is_new``'s idle TTL)."""
    import re as _re
    m = _re.fullmatch(
        r"\s*(\d+)\s*(second|minute|hour|day)s?\s*", interval)
    if not m:
        raise ValueError(f"cannot parse interval {interval!r}")
    unit_us = {"second": 1, "minute": 60, "hour": 3600,
               "day": 86400}[m.group(2)] * 1_000_000
    return int(m.group(1)) * unit_us


# ------------------------------------------------------------- O5 is_new
IS_NEW_IN = StructType([
    StructField("mid", StringType()), StructField("ts", LongType()),
    StructField("is_new", StringType()),
])
IS_NEW_OUT = IS_NEW_IN
def _make_repair_is_new_fn(idle_ttl_ms: int | None):
    def _repair_fn(key, pdfs: Iterator[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
        cols = ["mid", "ts", "is_new"]
        if idle_ttl_ms is not None and state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=cols)
            return
        if state.exists:
            # no-TTL state is the original 1-field schema (checkpoint
            # compatibility); the TTL form adds the last-seen ts
            if idle_ttl_ms is None:
                (first_date,), last_ms = state.get, -1
            else:
                first_date, last_ms = state.get
        else:
            first_date, last_ms = None, -1
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            for r in pdf.itertuples(index=False):
                day = _day(r.ts)
                last_ms = max(last_ms, int(r.ts))
                is_new = r.is_new
                if is_new == "1":
                    if first_date is None:
                        first_date = day    # first sighting: claim honored
                    elif first_date != day:
                        is_new = "0"        # repaired
                elif first_date is None:
                    # reference exer variant: an old visitor seen first
                    # with is_new=0 marks state 'old' so later lies are
                    # repaired
                    first_date = _day(r.ts - 86_400_000)
                out.append((r.mid, r.ts, is_new))
        if idle_ttl_ms is None:
            state.update((first_date,))
        else:
            # expiry happens ONLY through the registered timer (the
            # function is invoked either with data or with
            # hasTimedOut, never idle-with-no-timeout); +1 because
            # Spark requires the timeout strictly beyond the current
            # watermark — fires on a later (possibly no-data) batch
            # once the watermark passes last_ms + TTL
            state.update((first_date, last_ms))
            if last_ms >= 0:
                state.setTimeoutTimestamp(last_ms + idle_ttl_ms + 1)
        yield pd.DataFrame(out, columns=cols)

    return _repair_fn


# no-TTL form keeps the ORIGINAL 1-field schema so pre-existing
# streaming checkpoints resume unchanged; the TTL form adds the
# last-seen ts it expires off (a NEW checkpoint — opting into the TTL
# is a state-schema change by construction)
_IS_NEW_STATE = StructType([StructField("first_date", StringType())])
_IS_NEW_STATE_TTL = StructType([StructField("first_date", StringType()),
                                StructField("last_ms", LongType())])

# default (no-TTL) form, kept importable for tests/documentation
_repair_is_new_fn = _make_repair_is_new_fn(None)


def repair_is_new(events: DataFrame,
                  idle_ttl: str | None = None,
                  delay: str = "0 seconds") -> DataFrame:
    """events: (mid, ts millis, is_new) — streaming repair of the
    is_new flag (O5, BaseLogApp.java:73-105).

    Scale shape: state is one (first_date, last_ms) row per mid. The
    reference's ValueState lives for the life of the job — parity —
    but on an unbounded real keyspace that is O(all mids ever seen).
    Pass ``idle_ttl`` (event-time interval, e.g. "30 days"): a mid
    whose last sighting is older than the TTL (by the event-time
    watermark, out-of-orderness bound ``delay``) is dropped from
    state, trading exactly one wrongly-honored is_new=1 claim on the
    mid's revival for O(active mids) state.

    Two TTL-mode caveats the no-TTL form does not have: (a) the
    watermark also enforces O10 late-data semantics — rows arriving
    more than ``delay`` behind the stream's max event time are
    DROPPED from the output, so size ``delay`` to the source's real
    out-of-orderness; (b) the TTL state schema adds the last-seen ts,
    so flipping idle_ttl on requires a fresh checkpoint (the no-TTL
    schema is unchanged and resumes existing checkpoints)."""
    if idle_ttl is None:
        return (events.groupBy("mid").applyInPandasWithState(
            _repair_is_new_fn, IS_NEW_OUT, _IS_NEW_STATE, "append",
            GroupStateTimeout.NoTimeout))
    ttl_ms = _interval_us(idle_ttl) // 1000
    wm = (events
          .withColumn("et", F.timestamp_millis(F.col("ts")))
          .withWatermark("et", delay))
    return (wm.groupBy("mid").applyInPandasWithState(
        _make_repair_is_new_fn(ttl_ms), IS_NEW_OUT, _IS_NEW_STATE_TTL,
        "append", GroupStateTimeout.EventTimeTimeout))


# ------------------------------------------------------------- O6 UV dedup
UV_IN = StructType([
    StructField("mid", StringType()), StructField("ts", LongType()),
    StructField("last_page_id", StringType()),
    StructField("page_id", StringType()),
])
UV_OUT = StructType([
    StructField("mid", StringType()), StructField("ts", LongType()),
    StructField("page_id", StringType()),
])
_UV_STATE = StructType([StructField("last_date", StringType())])


def _dedup_uv_fn(key, pdfs: Iterator[pd.DataFrame],
                 state: GroupState) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        state.remove()                       # 1-day-TTL analog
        yield pd.DataFrame(columns=["mid", "ts", "page_id"])
        return
    (last_date,) = state.get if state.exists else (None,)
    out = []
    max_ts = 0
    for pdf in pdfs:
        pdf = pdf.sort_values("ts")
        for r in pdf.itertuples(index=False):
            max_ts = max(max_ts, r.ts)
            # entry condition: session entries only (UniqueVisitApp.java:95-96)
            if r.last_page_id is not None and len(r.last_page_id) > 0:
                continue
            day = _day(r.ts)
            if day != last_date:
                out.append((r.mid, r.ts, r.page_id))
                last_date = day
    state.update((last_date,))
    if max_ts:
        state.setTimeoutTimestamp(max_ts + 86_400_000)
    yield pd.DataFrame(out, columns=["mid", "ts", "page_id"])


def dedup_uv(page_events: DataFrame) -> DataFrame:
    """page_events: (mid, ts, last_page_id, page_id) with an ``et``
    watermark column when streaming; emits first visit per mid per day."""
    return (page_events.groupBy("mid").applyInPandasWithState(
        _dedup_uv_fn, UV_OUT, _UV_STATE, "append",
        GroupStateTimeout.EventTimeTimeout))


# ------------------------------------------------------------- O4 bounce
JUMP_IN = UV_IN
JUMP_OUT = StructType([
    StructField("mid", StringType()), StructField("ts", LongType()),
])
_JUMP_STATE = StructType([StructField("pending_ts", LongType())])


def _detect_jumps_fn(key, pdfs: Iterator[pd.DataFrame],
                     state: GroupState) -> Iterator[pd.DataFrame]:
    pending = state.get[0] if state.exists else None
    out = []
    if state.hasTimedOut:
        # timeout path: CEP partial match timed out ⇒ the pending entry
        # is a bounce (UserJumpDetailApp side output, :105-117)
        if pending is not None:
            out.append((key[0], pending))
        state.remove()
        yield pd.DataFrame(out, columns=["mid", "ts"])
        return
    max_ts = 0
    for pdf in pdfs:
        pdf = pdf.sort_values("ts")
        for r in pdf.itertuples(index=False):
            max_ts = max(max_ts, r.ts)
            is_entry = r.last_page_id is None or len(r.last_page_id) == 0
            if pending is not None:
                if r.ts - pending > JUMP_TIMEOUT_MS:
                    out.append((r.mid, pending))   # timed out in-stream
                    pending = None
                elif is_entry:
                    out.append((r.mid, pending))   # entry→entry match
                    pending = None
                else:
                    pending = None                 # continued browsing
            if is_entry and pending is None:
                pending = r.ts
    if pending is not None:
        state.update((pending,))
        state.setTimeoutTimestamp(pending + JUMP_TIMEOUT_MS)
    else:
        state.remove()
    yield pd.DataFrame(out, columns=["mid", "ts"])


def detect_jumps(page_events: DataFrame) -> DataFrame:
    """page_events: (mid, ts, last_page_id, page_id); emits one row per
    bounce (the entry event's mid/ts)."""
    return (page_events.groupBy("mid").applyInPandasWithState(
        _detect_jumps_fn, JUMP_OUT, _JUMP_STATE, "append",
        GroupStateTimeout.EventTimeTimeout))


def page_events_projection(page: DataFrame) -> DataFrame:
    """Project a split page-log stream (operators/dwd.split_log) to the
    stateful-operator input shape, with an event-time column for
    watermarking."""
    return page.select(
        F.col("common.mid").alias("mid"),
        F.col("ts"),
        F.col("page.last_page_id").alias("last_page_id"),
        F.col("page.page_id").alias("page_id"),
        F.timestamp_millis(F.col("ts")).alias("et"),
    )
