"""DWM-layer derived streams: interval joins, dim enrichment, and the
batch (oracle-checkable) formulations of the stateful trio.

Reference parity:
 - interval join (J1/J2): OrderWideApp.java:76-85 (±5 s) and
   PaymentWideApp.java:80-88 (−15 min..0) — here an event-time range
   join between event slices of the events table.
 - dim enrichment (J3): the 6 chained async Phoenix lookups of
   OrderWideApp.java:87-194 collapse into broadcast hash joins.
 - unique visitors (O6): UniqueVisitApp.java:74-117 keyed first-visit
   dedup per day (with the reference's yyyy-MM-DD bug corrected).
 - user-jump / bounce (O4): UserJumpDetailApp.java:84-125 CEP pattern;
   batch oracle form = lead() over (user, time) as SURVEY §2.6 notes.
 - is_new repair (O5): BaseLogApp.java:73-105 ValueState rewrite;
   batch oracle form = min(date) over user.

The streaming formulations of O4/O5/O6 live in
``streaming/stateful.py``; these batch forms are the correctness
oracles the streaming tests compare against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import money, wmoney
from ..functions.timeutil import dated


def interval_join(left: DataFrame, right: DataFrame, key: str,
                  lower: str, upper: str,
                  left_ts: str = "ts", right_ts: str = "ts") -> DataFrame:
    """Event-time interval join: right.ts in [left.ts+lower, left.ts+upper].

    Batch form of the reference's intervalJoin
    (OrderWideApp.java:76-85). In streaming mode the same expression
    with withWatermark on both sides becomes a watermarked
    stream-stream join whose state Spark evicts automatically.
    """
    l = left.alias("l")
    r = right.alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}")
           >= F.expr(f"l.{left_ts} + interval {lower}"))
        & (F.col(f"r.{right_ts}")
           <= F.expr(f"l.{left_ts} + interval {upper}"))
    )
    return l.join(r, cond, "inner")


def click_purchase_join(events: DataFrame,
                        window: str = "10 minutes") -> DataFrame:
    """J1/J2 analog on the events table: each click joined to the same
    user's purchases within the next 10 minutes."""
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"))
    buys = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"), money("value").alias("amount"))
    joined = clicks.join(buys, "user_id").filter(
        (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.expr(f"click_ts + interval {window}")))
    return joined.select("user_id", "click_id", "purchase_id",
                         "click_ts", "purchase_ts", "amount")


def order_wide(orders: DataFrame, customer: DataFrame, nation: DataFrame,
               region: DataFrame) -> DataFrame:
    """Dim-enrichment join chain (J3): fact ⋈ broadcast dims.

    The reference chains 6 AsyncDataStream lookups with a Redis cache
    (OrderWideApp.java:87-194, utils/DimUtil.java:12-70); set-oriented
    broadcast hash joins subsume the per-record RPC + cache machinery.
    Dims are explicitly broadcast — at 100 TB the fact side never
    shuffles for these joins.
    """
    return (
        orders
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )


def order_wide_stats(orders: DataFrame, customer: DataFrame,
                     nation: DataFrame, region: DataFrame) -> DataFrame:
    """Aggregated order_wide readback: order count/amount by region ×
    nation × market segment."""
    wide = order_wide(orders, customer, nation, region)
    return (
        wide.groupBy(F.col("r_name").alias("region_name"),
                     F.col("n_name").alias("nation_name"),
                     F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count(F.lit(1)).alias("order_ct"),
             F.sum(wmoney("o_totalprice")).alias("order_amount"),
             F.countDistinct("o_custkey").alias("customer_ct"))
    )


def unique_visitors_daily(events: DataFrame) -> DataFrame:
    """O6 batch form: distinct visitors per day.

    The reference keeps first-visit-per-day via keyed ValueState with
    1-day TTL (UniqueVisitApp.java:74-117); in batch this is exactly a
    per-day distinct count. (Implements the corrected 'yyyy-MM-dd'
    day format — the reference's ':82' uses 'yyyy-MM-DD'.)
    """
    day = F.date_trunc("DAY", F.col("ts")).alias("day")
    return (events.groupBy(day)
            .agg(F.countDistinct("user_id").alias("uv_ct"),
                 F.count(F.lit(1)).alias("pv_ct")))


def unique_visitors_daily_approx(events: DataFrame,
                                 rsd: float = 0.05) -> DataFrame:
    """O6 at 100 TB: HyperLogLog distinct counts (approx_count_distinct)
    — the constant-memory replacement for exact per-day UV when
    cardinality outgrows set-based counting (SCALE.md). No SQL oracle:
    HLL estimates are algorithm-specific, so the driver records the
    weaker rows-only check for this one."""
    day = F.date_trunc("DAY", F.col("ts")).alias("day")
    return (events.groupBy(day)
            .agg(F.approx_count_distinct("user_id", rsd).alias("uv_approx"),
                 F.count(F.lit(1)).alias("pv_ct")))


def uv_accuracy_audit(events: DataFrame, rsd: float = 0.05,
                      band: float = 0.20) -> DataFrame:
    """Driver-gradeable accuracy audit of the HLL per-day UV estimate:
    ONE grouped aggregation computes the estimate
    (approx_count_distinct) and the exact distinct side by side, then
    emits only exact-reproducible columns — the exact counters plus an
    in-engine within-band verdict — so a SQL oracle can grade it
    (exact counts + a literal pass), and any estimate drifting out of
    band flips the bit and fails the hash.

    Band discipline: the 3σ bound (3·rsd = 0.15) is the accuracy GATE
    asserted at test scale (tests/test_sketch_accuracy.py); the audit
    verdict here alarms at ~4σ (default 0.20) because a production
    audit sweeping many keys at many scales must not page on the
    ~0.3%-per-key tail a 3σ cut leaves. HLL error is relative and
    scale-free, so the margin holds at any SF.

    Scale shape: an audit intentionally pays the exact-distinct
    shuffle (that is what it certifies against); it runs on a sampled
    or bounded key domain at 100 TB, while the serving path stays
    sketch-only (unique_visitors_daily_approx)."""
    day = F.date_trunc("DAY", F.col("ts")).alias("day")
    agg = (events.groupBy(day)
           .agg(F.approx_count_distinct("user_id", rsd)
                .alias("uv_approx"),
                F.countDistinct("user_id").alias("uv_exact"),
                F.count(F.lit(1)).alias("pv_ct")))
    in_band = (F.abs(F.col("uv_approx") - F.col("uv_exact"))
               <= band * F.col("uv_exact"))
    return agg.select("day", "pv_ct",
                      F.col("uv_exact").cast("long").alias("uv_exact"),
                      in_band.cast("long").alias("uv_in_band"))


def rolling_uv_accuracy_audit(events: DataFrame,
                              window_days: int = 7,
                              band: float = 0.08) -> DataFrame:
    """Accuracy audit of the rolling HLL-union estimates
    (rolling_uv_sketches) against the exact contribution-expansion
    counts, emitting exact counters + in-engine within-band verdicts
    (driver-gradeable; see uv_accuracy_audit for the band discipline —
    datasketches lgConfigK=12 ⇒ σ≈1.6%, 0.08 ≈ 5σ).

    The exact side reuses analytics.rolling_active_users' expansion
    shape (dedupe → ≤N-day fan-out → dedupe → count, both shuffles
    linear·N with map-side combine); the estimate side is the O(days)
    RANGE-window sketch union. Row set = observed days (inner join),
    matching the sketch table's support."""
    from gmall_flink_2021_spark.operators import analytics

    # distinct-user semantics: NULL user_id is not a user (SQL
    # count(DISTINCT) rule; the HLL sketch already ignores NULL input,
    # so an including exact counter would fail its own band on dirty
    # corpora — adversarial-fuzz finding, round 8)
    events = events.filter(F.col("user_id").isNotNull())
    est = rolling_uv_sketches(events, window_days)
    exact = analytics.rolling_active_users(events, window_days)
    day_ok = (F.abs(F.col("day_uv_est") - F.col("day_users"))
              <= band * F.col("day_users"))
    roll_ok = (F.abs(F.col("rolling_uv_est") - F.col("rolling_users"))
               <= band * F.col("rolling_users"))
    return (est.join(exact, "day")
            .select("day",
                    F.col("day_users").cast("long").alias("day_uv_ct"),
                    F.col("rolling_users").cast("long")
                    .alias("rolling_uv_ct"),
                    day_ok.cast("long").alias("day_in_band"),
                    roll_ok.cast("long").alias("rolling_in_band")))


def first_visits(events: DataFrame) -> DataFrame:
    """O6 row-level form: the first event of each user on each day —
    the exact rows UniqueVisitApp would emit downstream.

    Undated events are out of domain (functions.timeutil.dated): an
    event with no timestamp belongs to no day — and concretely, a
    NULL day partition key is ALSO the shape that destabilizes
    DuckDB 1.0 window hash-partitioning (the seeded fuzz caught the
    oracle returning 81-86 rows across runs on the same corpus)."""
    day = F.date_trunc("DAY", F.col("ts"))
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    return (dated(events).withColumn("day", day)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("day", "user_id", "event_id", "ts"))


def is_new_repair(events: DataFrame) -> DataFrame:
    """O5 batch form: an event's is_new flag is 1 iff it falls on the
    user's first-ever active day (BaseLogApp.java:73-105 semantics:
    a claimed first visit is rewritten to 0 when state shows an
    earlier visit date)."""
    day = F.date_trunc("DAY", F.col("ts"))
    w = Window.partitionBy("user_id")
    return (events
            .withColumn("day", day)
            .withColumn("first_day", F.min("day").over(w))
            .select("event_id", "user_id",
                    F.when(F.col("day") == F.col("first_day"), F.lit(1))
                     .otherwise(F.lit(0)).alias("is_new")))


def user_jumps(events: DataFrame, timeout: str = "10 minutes") -> DataFrame:
    """O4 batch form: bounce detection.

    Reference CEP (UserJumpDetailApp.java:84-125): an entry event is a
    bounce if no further event from the same mid arrives within the
    pattern window — including the timeout path. Batch formulation:
    lead(ts) over (user order by ts) is null or beyond the timeout.
    Undated events are out of domain (functions.timeutil.dated).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return (dated(events)
            .withColumn("next_ts", nxt)
            .filter(F.col("next_ts").isNull()
                    | (F.col("next_ts") > F.expr(f"ts + interval {timeout}")))
            .select("user_id", F.col("event_id").alias("bounce_event_id"),
                    "ts"))


def user_jumps_page_log(page_events: DataFrame,
                        timeout_ms: int = 10_000) -> DataFrame:
    """O4 batch oracle on the gmall page-log shape (mid, ts millis,
    last_page_id, page_id) with the full CEP semantics of
    UserJumpDetailApp.java:84-125: an *entry* event (last_page_id
    null/empty) is a bounce iff the immediately-next event of the same
    mid is absent, past the window, or is itself another entry.
    Convention: a next event at exactly +timeout is within the window
    (must match streaming/stateful.detect_jumps)."""
    w = Window.partitionBy("mid").orderBy("ts")
    is_entry = (F.col("last_page_id").isNull()
                | (F.length("last_page_id") == 0))
    df = (page_events
          .withColumn("is_entry", is_entry)
          .withColumn("next_ts", F.lead("ts").over(w))
          .withColumn("next_entry", F.lead(is_entry).over(w)))
    bounce = (F.col("is_entry")
              & (F.col("next_ts").isNull()
                 | (F.col("next_ts") - F.col("ts") > timeout_ms)
                 | F.col("next_entry")))
    return df.filter(bounce).select("mid", "ts")


def user_jump_stats(events: DataFrame,
                    timeout: str = "10 minutes") -> DataFrame:
    """Daily bounce counts (uj_ct of VisitorStats)."""
    jumps = user_jumps(events, timeout)
    return (jumps.groupBy(F.date_trunc("DAY", F.col("ts")).alias("day"))
            .agg(F.count(F.lit(1)).alias("uj_ct")))


def purchase_click_window_join(events: DataFrame,
                               window: str = "15 minutes") -> DataFrame:
    """J2 analog (PaymentWideApp.java:80-88's asymmetric −15 min..0
    bound) on the events table: each purchase joined to the same
    user's clicks in the 15 minutes at-or-before it."""
    buys = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        money("value").alias("amount"))
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"))
    joined = interval_join(buys, clicks, "user_id",
                           f"-{window}", "0 seconds",
                           left_ts="p_ts", right_ts="c_ts")
    return joined.select("l.user_id", "purchase_id", "click_id",
                         "p_ts", "c_ts", "amount")


def uv_daily_sketches(events: DataFrame) -> DataFrame:
    """Per-day HLL sketches of user_id + page-view counts — the
    ingest-time aggregate of the sketch-rollup pattern. HLL register
    state is a per-item max, so sketches built incrementally (per
    micro-batch, merged with ``hll_union_agg``) equal the single-pass
    sketch — which is what lets the streaming form below union into
    the same rollup."""
    day = F.date_trunc("DAY", F.col("ts"))
    return (events.withColumn("day", day)
            .groupBy("day")
            .agg(F.hll_sketch_agg("user_id").alias("sk"),
                 F.count(F.lit(1)).alias("pv_ct")))


def uv_rollup_from_daily(daily: DataFrame) -> DataFrame:
    """Month rollup over the daily sketch table: a window union over
    O(days) sketch rows, never a raw re-scan."""
    w = Window.partitionBy("month")
    return (daily.withColumn("month", F.date_trunc("MONTH", F.col("day")))
            .select("day",
                    F.hll_sketch_estimate("sk").alias("daily_uv_est"),
                    "pv_ct", "month",
                    F.hll_sketch_estimate(
                        F.hll_union_agg("sk").over(w))
                    .alias("month_uv_est")))


def uv_rollup_accuracy_audit(events: DataFrame,
                             band: float = 0.08) -> DataFrame:
    """Accuracy audit of the day→month sketch rollup
    (uv_sketch_rollup): exact per-day and per-month distinct counts
    computed from ONE deduped (user, day) frame, joined onto the
    sketch estimates, emitting exact counters + in-engine ~5σ in-band
    verdicts (driver-gradeable; see uv_accuracy_audit for the band
    discipline). The month verdict certifies the WINDOW-UNIONED
    estimate — exactly the merge path the sparse→dense HLL boundary
    can bend — against the exact count, so a drift there flips the
    bit and fails the driver hash."""
    est = uv_sketch_rollup(events)
    # NULL user_id is not a user (count(DISTINCT) semantics; the HLL
    # estimate never sees NULLs) — days/months whose only traffic is
    # anonymous drop from the audit on both sides
    ud = (events.filter(F.col("user_id").isNotNull())
          .select(F.date_trunc("DAY", F.col("ts")).alias("day"),
                  "user_id").distinct())
    daily = ud.groupBy("day").agg(
        F.count(F.lit(1)).alias("day_uv_ct"))
    monthly = (ud.select(F.date_trunc("MONTH", F.col("day"))
                         .alias("month"), "user_id").distinct()
               .groupBy("month")
               .agg(F.count(F.lit(1)).alias("month_uv_ct")))
    day_ok = (F.abs(F.col("daily_uv_est") - F.col("day_uv_ct"))
              <= band * F.col("day_uv_ct"))
    month_ok = (F.abs(F.col("month_uv_est") - F.col("month_uv_ct"))
                <= band * F.col("month_uv_ct"))
    return (est.join(daily, "day").join(monthly, "month")
            .select("day", "pv_ct",
                    F.col("day_uv_ct").cast("long").alias("day_uv_ct"),
                    day_ok.cast("long").alias("day_in_band"),
                    "month",
                    F.col("month_uv_ct").cast("long")
                    .alias("month_uv_ct"),
                    month_ok.cast("long").alias("month_in_band")))


def rolling_uv_sketches(events: DataFrame,
                        window_days: int = 7) -> DataFrame:
    """Approximate rolling N-day active users from mergeable per-day
    HLL sketches — the 1e9-user form of
    analytics.rolling_active_users: at that cardinality even the
    contribution-expansion exact path shuffles N·|user-days| rows,
    while sketches reduce each day to a 4 KB register array and every
    rolling window to a union of ≤N of them. This is the same
    sketch-once/roll-up-many contract as uv_sketch_rollup, applied to
    a sliding frame: the union runs as a RANGE window (interval
    N−1 days preceding) over the O(days) sketch table, so calendar
    gaps still union exactly the days inside the window. No SQL
    oracle (sketch encodings); the driver records
    rows-only and tests/test_sketch_accuracy.py gates both estimates
    against exact distinct counts at ~3σ (registry.SKETCH_GATES)."""
    return rolling_uv_from_daily(uv_daily_sketches(events),
                                 window_days)


def rolling_uv_from_daily(daily: DataFrame,
                          window_days: int = 7) -> DataFrame:
    """Rolling rollup over an existing daily-sketch table — the read
    half of rolling_uv_sketches above: HLL union is both the merge op
    and the rollup op, so any daily-sketch table built by union
    rolls up exactly like the single-pass sketches."""
    w = (Window.orderBy(F.unix_timestamp(F.col("day")))
         .rangeBetween(-(window_days - 1) * 86_400, 0))
    return (daily.select(
        "day",
        F.hll_sketch_estimate("sk").alias("day_uv_est"),
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w))
        .alias("rolling_uv_est")))


def uv_sketch_rollup(events: DataFrame) -> DataFrame:
    """Mergeable-sketch rollup: per-day HLL sketches of user_id
    (``hll_sketch_agg``) re-aggregated to a monthly estimate with
    ``hll_union_agg`` — the 100 TB pattern where fine-grained sketches
    are computed once at ingest and every coarser rollup is a cheap
    sketch union instead of a raw re-scan. Emits each day's estimate
    alongside its month's unioned estimate (always ≥ the daily one).
    No SQL oracle: sketch encodings are algorithm-specific, so the
    driver records the rows-only check (like
    unique_visitors_daily_approx); tests/test_sketch_accuracy.py
    gates both estimates against the exact counts at ~3σ.

    The monthly union is a WINDOW aggregate over the daily sketches,
    not a join back — one events scan, one partial/final sketch
    aggregation, then a month-keyed exchange of O(days) sketch rows
    (the join formulation aggregated the raw events twice)."""
    return uv_rollup_from_daily(uv_daily_sketches(events))
