"""Streaming soak with crash injection.

Drives two watermarked stream-stream joins — a click→purchase
interval join (purchase within 15 minutes of the click, same user)
and the real J2 operator ``gmall_dwm.payment_wide_join`` — as a
long-running ingest loop: every cycle appends a fresh seeded events
slice to the source directory, runs one availableNow pass of both
queries IN A SUBPROCESS, and with probability --kill-p SIGKILLs that
subprocess at a random moment mid-pass before restarting it. After
each cycle the harness asserts exactly-once convergence against batch
recomputation over EVERYTHING ingested so far, and records state
sizes over time.

Both queries write through Spark's file sink, whose _spark_metadata
log makes a replayed batch a no-op, so the streamed pairs must equal
the batch join's pairs exactly after any SIGKILL.

Usage:
  python tests/soak_streaming.py [--minutes 10] [--kill-p 0.4]
      [--seed 90400] [--events 120] [--root /tmp/gmall_soak]
  python tests/soak_streaming.py --worker <root>     (internal)

Emits <root>/timeline.json and prints a SCALE.md-ready table.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _paths(root):
    return {k: os.path.join(root, k) for k in
            ("src_events", "out_join", "ck_join", "out_pay", "ck_pay")}


# ------------------------------------------------------------ worker
def worker(root: str) -> None:
    from pyspark.sql import functions as F

    from gmall_flink_2021_spark.session import get_spark

    p = _paths(root)
    spark = get_spark("soak-worker")
    spark.sparkContext.setLogLevel("ERROR")
    ev_schema = spark.read.parquet(p["src_events"]).schema

    def leg(name):
        return (spark.readStream.schema(ev_schema)
                .parquet(p["src_events"])
                .filter((F.col("event_type") == name)
                        & F.col("ts").isNotNull()
                        & F.col("user_id").isNotNull()
                        & F.col("event_id").isNotNull()))

    # parquet stores TIMESTAMP_NTZ; watermarks need TIMESTAMP
    clicks = (leg("click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").cast("timestamp").alias("click_ts"))
              .withWatermark("click_ts", "15 minutes"))
    purch = (leg("purchase")
             .select(F.col("user_id").alias("p_user"),
                     F.col("event_id").alias("purchase_id"),
                     F.col("ts").cast("timestamp")
                     .alias("purchase_ts"))
             .withWatermark("purchase_ts", "15 minutes"))
    joined = (clicks.join(
        purch,
        (clicks.c_user == purch.p_user)
        & (purch.purchase_ts >= clicks.click_ts)
        & (purch.purchase_ts
           <= F.expr("click_ts + interval 15 minutes")),
        "inner")
        .select(F.col("c_user").alias("user_id"), "click_id",
                "purchase_id"))
    q = (joined.writeStream.format("parquet")
         .option("path", p["out_join"])
         .option("checkpointLocation", p["ck_join"])
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    # the REAL J2 operator (gmall_dwm.payment_wide_join, payment
    # within [order, order+15 min], PaymentWideApp.java:80-88) —
    # purchase events play orders, view events play payments, keyed
    # by user_id; create_time goes through the operator's own
    # 'yyyy-MM-dd HH:mm:ss' string clock (second truncation is
    # mirrored by the batch recomputation in verify()).
    from gmall_flink_2021_spark.operators import gmall_dwm

    pay_s, ow_s = _payment_join_legs(
        spark.readStream.schema(ev_schema).parquet(p["src_events"]))
    q = (gmall_dwm.payment_wide_join(pay_s, ow_s, streaming=True)
         .select("payment_id", "order_id")
         .writeStream.format("parquet")
         .option("path", p["out_pay"])
         .option("checkpointLocation", p["ck_pay"])
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    spark.stop()


def _payment_join_legs(events):
    """Project an events frame (batch or stream) into the
    payment_info / order_wide shapes payment_wide_join consumes.
    Shared by worker() and verify() so the projection cannot
    diverge between the streamed run and the batch recomputation."""
    import pyspark.sql.functions as F

    def leg(name):
        return events.filter((F.col("event_type") == name)
                             & F.col("ts").isNotNull()
                             & F.col("user_id").isNotNull()
                             & F.col("event_id").isNotNull())

    pay = leg("view").select(
        F.col("event_id").alias("id"),
        F.col("user_id").alias("order_id"),
        "user_id",
        F.coalesce(F.col("value"), F.lit(0.0)).alias("total_amount"),
        F.lit("subj").alias("subject"),
        F.lit("alipay").alias("payment_type"),
        F.date_format(F.col("ts").cast("timestamp"),
                      "yyyy-MM-dd HH:mm:ss").alias("create_time"))
    ow = leg("purchase").select(
        F.col("user_id").alias("order_id"),
        F.col("event_id").alias("order_detail_id"),
        F.col("ts").cast("timestamp").alias("order_et"),
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1000)
        .cast("long").alias("order_ts"))
    return pay, ow


# ------------------------------------------------------------ feeder
def feed(root: str, cycle: int, seed: int, n_events: int = 120) -> None:
    """Append one seeded events slice. Event timestamps shift forward
    7 days per cycle (the generator spreads a cycle over 5 days), so
    event time is monotone ACROSS cycles — the joins' watermarks and
    state eviction see an advancing clock, exactly like a live
    pipeline; nothing arrives behind the watermark."""
    import datetime

    from adversarial_corpus import _evt_schema, _write
    from fuzz_corpus import _events_rows

    rng = random.Random(seed * 1000 + cycle)
    shift = datetime.timedelta(days=7 * cycle)
    evs = [(cycle * 1000000 + i,
            None if ts is None else ts + shift, u, et, v, pr)
           for i, (e, ts, u, et, v, pr) in
           enumerate(_events_rows(rng, n_events))]
    _write(os.path.join(root, "src_events", f"c{cycle:04d}.parquet"),
           _evt_schema(), evs)


def du(path):
    total = 0
    for d, _, fs in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f))
                     for f in fs)
    return total


def state_sizes(root: str) -> dict:
    p = _paths(root)
    return {
        "join_state_bytes": du(p["ck_join"]),
        "pay_state_bytes": du(p["ck_pay"]),
    }


# ------------------------------------------------------------ verify
def verify(spark, root: str) -> dict:
    import pyspark.sql.functions as F

    p = _paths(root)
    events = spark.read.parquet(p["src_events"])
    problems = []

    # ---- interval join stream vs the batch join (J1/J2 shape)
    def legb(name):
        return events.filter((F.col("event_type") == name)
                             & F.col("ts").isNotNull()
                             & F.col("user_id").isNotNull()
                             & F.col("event_id").isNotNull())

    cb = legb("click").select(F.col("user_id").alias("c_user"),
                              F.col("event_id").alias("click_id"),
                              F.col("ts").alias("click_ts"))
    pb = legb("purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"))
    want_j = {(r.c_user, r.click_id, r.purchase_id) for r in
              cb.join(pb, (cb.c_user == pb.p_user)
                      & (pb.purchase_ts >= cb.click_ts)
                      & (pb.purchase_ts
                         <= F.expr("click_ts + interval 15 minutes")),
                      "inner").collect()}
    got_j = {(r.user_id, r.click_id, r.purchase_id) for r in
             spark.read.parquet(p["out_join"]).collect()}
    if want_j != got_j:
        problems.append(
            f"interval join diverges: {len(want_j)} batch pairs vs "
            f"{len(got_j)} streamed")

    # ---- the real J2 operator, streamed vs the same operator run
    # in batch over everything ingested so far
    from gmall_flink_2021_spark.operators import gmall_dwm

    pay_b, ow_b = _payment_join_legs(events)
    want_p = {(r.payment_id, r.order_id) for r in
              gmall_dwm.payment_wide_join(pay_b, ow_b)
              .select("payment_id", "order_id").collect()}
    got_p = {(r.payment_id, r.order_id) for r in
             spark.read.parquet(p["out_pay"]).collect()}
    if want_p != got_p:
        problems.append(
            f"payment-wide join diverges: {len(want_p)} batch pairs "
            f"vs {len(got_p)} streamed, e.g. "
            f"{sorted(want_p ^ got_p)[:4]}")

    return {
        "problems": problems,
        "events": events.count(),
        **state_sizes(root),
        "join_rows": len(got_j),
        "pay_rows": len(got_p),
    }


# ------------------------------------------------------------ driver
def main() -> None:
    argv = sys.argv[1:]
    if argv and argv[0] == "--worker":
        worker(argv[1])
        return

    def opt(name, default, cast=float):
        return cast(argv[argv.index(name) + 1]) if name in argv \
            else default

    minutes = opt("--minutes", 10.0)
    kill_p = opt("--kill-p", 0.4)
    seed = opt("--seed", 90400, int)
    root = opt("--root", "/tmp/gmall_soak", str)
    n_events = opt("--events", 120, int)  # per-cycle slice size —
    # crank for MB-scale state
    # verify every Nth cycle (default every cycle). At 100+ MB state
    # the batch recomputation over EVERYTHING ingested dominates the
    # wall, so the big-state runs sample the exactly-once check; the
    # final completed cycle is always verified (see after the loop),
    # so nothing ends unchecked.
    verify_every = opt("--verify-every", 1, int)
    # SIGKILL lands uniform(3, kill_window) s into the pass; crank
    # for big slices whose passes run minutes, so kills probe the
    # middle/late pass, not just startup
    kill_window = opt("--kill-window", 25.0)
    # --resume: continue feeding/killing/verifying on an EXISTING
    # soak root (cycle numbering picks up after the last fed slice) —
    # lets a high-kill-p pass collect recovery walls at the state
    # size a prior long pass built up, instead of starting from zero
    resume = "--resume" in argv
    p = _paths(root)
    if not resume:
        shutil.rmtree(root, ignore_errors=True)
    os.makedirs(p["src_events"], exist_ok=True)
    start_cycle = 0
    if resume:
        start_cycle = len([f for f in os.listdir(p["src_events"])
                           if f.startswith("c")])

    from gmall_flink_2021_spark.session import get_spark

    spark = get_spark("soak-verify")
    spark.sparkContext.setLogLevel("ERROR")
    rng = random.Random(seed)
    deadline = time.time() + minutes * 60
    timeline, cycle, kills = [], start_cycle, 0
    if resume:
        try:
            with open(os.path.join(root, "timeline.json")) as fh:
                timeline = json.load(fh)
        except OSError:
            pass
    while time.time() < deadline:
        feed(root, cycle, seed, n_events)
        attempts, walls, killed = 0, [], []
        while True:
            attempts += 1
            t_att = time.time()
            proc = subprocess.Popen(
                [sys.executable, os.path.abspath(__file__),
                 "--worker", root],
                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
            if rng.random() < kill_p:
                time.sleep(rng.uniform(3, kill_window))
                if proc.poll() is None:
                    proc.send_signal(signal.SIGKILL)
                    proc.wait()
                    kills += 1
                    walls.append(round(time.time() - t_att, 1))
                    killed.append(True)
                    continue   # crashed mid-pass: restart (resume)
            rc = proc.wait()
            walls.append(round(time.time() - t_att, 1))
            killed.append(False)
            if rc == 0:
                break
            if attempts > 4:
                raise RuntimeError(f"worker kept failing (rc={rc})")
        do_verify = cycle % verify_every == verify_every - 1
        row = verify(spark, root) if do_verify else {
            "problems": [], "verified": False, **state_sizes(root)}
        # recovery wall: the full wall of the clean pass that follows
        # a SIGKILL this cycle (resume + finish everything pending)
        recovery = walls[-1] if any(killed) else None
        row.update(cycle=cycle, kills_so_far=kills,
                   worker_attempts=attempts, attempt_walls=walls,
                   recovery_wall=recovery, t=round(time.time(), 1))
        timeline.append(row)
        json.dump(timeline, open(os.path.join(root, "timeline.json"),
                                 "w"), indent=1)
        _report(row, kills, recovery)
        if row["problems"]:
            print("  " + "\n  ".join(row["problems"]), flush=True)
            sys.exit(1)
        cycle += 1
    if cycle and not timeline[-1].get("verified", True):
        # the run ended on an unverified cycle: close with a full
        # exactly-once check over everything ingested
        row = verify(spark, root)
        row.update(cycle=cycle - 1, final=True,
                   t=round(time.time(), 1))
        timeline.append(row)
        json.dump(timeline, open(os.path.join(root, "timeline.json"),
                                 "w"), indent=1)
        _report(row, kills, None)
        if row["problems"]:
            print("  " + "\n  ".join(row["problems"]), flush=True)
            sys.exit(1)
    print(f"\nSOAK PASS: {cycle} cycles, {kills} SIGKILLs, all "
          f"exactly-once checks green → {root}/timeline.json")
    spark.stop()


def _report(row, kills, recovery):
    status = ("OK" if not row["problems"] else "FAIL") \
        if row.get("verified", True) else "--"
    rec = f" recovery={row['recovery_wall']}s" \
        if row.get("recovery_wall") else ""
    events = row.get("events", -1)
    print(f"cycle {row['cycle']:3d} [{status}] "
          f"events={events:6d} kills={kills} "
          f"state(join/pay)="
          f"{row['join_state_bytes']}/{row['pay_state_bytes']} B{rec}",
          flush=True)


if __name__ == "__main__":
    main()
