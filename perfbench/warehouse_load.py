"""The ``warehouse`` workload: catch-up after an outage, then live.

1. Backfill: one large seeded ODS drop is published and the whole
   topology (``Warehouse.run_*`` for every job) runs once over it.
   ``batch_s`` is that pass's wall time.
2. Trickle: an open loop. Increment ``i`` falls due at
   ``T0 + i * INTERVAL_S`` whatever the warehouse is doing. Passes
   follow a processing-time trigger: one starts every ``TRIGGER_S``
   (at once when the previous one overran) until ``--seconds`` have
   passed. A pass first publishes every increment already due as one
   segment per topic (the broker append), then runs the job chain and
   refreshes the publisher dashboards.
   An increment's freshness is the end of that refresh minus its due
   time. ``READERS`` threads refresh the same dashboards beside the
   writes the whole time; every dashboard query is a serve sample.
   ``TRIGGER_S / INTERVAL_S`` gives a pass 101 freshness samples, ten
   beyond the p90; the readers give about as many serve samples.
3. Correctness: topic row counts, joined order-detail pairs and the
   publisher's GMV for the drop day against the generator's ground
   truth, and every streaming DWS table against its batch
   recomputation on watermark-closed windows.
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import sys
import threading
import time
from decimal import Decimal
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gmall_flink_2021_spark.operators import gmall_dws
from gmall_flink_2021_spark.streaming.warehouse import Warehouse

import gen
import tracing
from tracing import quantile

# job name -> Warehouse method, in dependency order
CHAIN = (
    ("base_db", "run_base_db"),
    ("base_log", "run_base_log"),
    ("unique_visit", "run_unique_visitors"),
    ("user_jump", "run_user_jumps"),
    ("order_wide", "run_order_wide"),
    ("payment_wide", "run_payment_wide"),
    ("visitor_stats", "run_visitor_stats_streaming"),
    ("product_stats", "run_product_stats_streaming"),
    ("keyword_stats", "run_keyword_stats_streaming"),
    ("province_stats", "run_province_stats_streaming"),
)
DASHBOARDS = ("gmv", "trademark_top", "province", "keyword", "visitor")
DROP_MIDS, DROP_ORDERS = 400, 100
INTERVAL_S = 0.02         # one increment due every 20 ms
TRIGGER_S = 2.0           # a pass starts every 2 s, at once if late
READERS = 2               # dashboard viewers reading beside the writes
THINK_S = 0.1             # a viewer's pause between two queries
SETUP_REPEATS = 3


def _dws(wh: Warehouse, name: str) -> DataFrame:
    return wh.spark.read.parquet(
        os.path.join(wh.work, "dws", name)).drop("batch_id")


def _day(df: DataFrame, day: str) -> DataFrame:
    return df.filter(F.date_format("stt", "yyyyMMdd") == day)


def dashboard(wh: Warehouse, kind: str, day: str) -> list:
    """One publisher query over the DWS tables, collected."""
    if kind == "gmv":
        q = gmall_dws.gmv(_dws(wh, "product_stats_stream"), day)
    elif kind == "trademark_top":
        dims = {n: wh.dim(f"dim_{n}") for n in
                ("sku_info", "spu_info", "base_trademark",
                 "base_category3")}
        q = gmall_dws.trademark_top(gmall_dws.enrich_product_stats(
            _dws(wh, "product_stats_stream"), dims), day)
    elif kind == "province":
        q = (_day(_dws(wh, "province_stats_stream"), day)
             .groupBy("province_id", "province_name")
             .agg(F.sum("order_amount").alias("order_amount"))
             .orderBy(F.desc("order_amount"), "province_id").limit(10))
    elif kind == "keyword":
        q = (_day(_dws(wh, "keyword_stats_stream"), day)
             .groupBy("keyword").agg(F.sum("ct").alias("ct"))
             .orderBy(F.desc("ct"), "keyword").limit(10))
    else:
        q = (_day(_dws(wh, "visitor_stats_stream"), day)
             .groupBy("is_new")
             .agg(*[F.sum(c).alias(c) for c in
                    ("pv_ct", "uv_ct", "sv_ct", "uj_ct", "dur_sum")]))
    return q.collect()


class Serve:
    """Thread-safe record of dashboard query latencies."""

    def __init__(self) -> None:
        self.samples: list[tuple[str, float]] = []
        self.failed = 0
        self._lock = threading.Lock()

    def query(self, wh: Warehouse, kind: str, day: str) -> None:
        t0 = time.perf_counter()
        try:
            dashboard(wh, kind, day)
        except Exception as exc:  # a failed read is counted, not fatal
            print(f"perfbench: dashboard {kind} failed: {exc!r}",
                  file=sys.stderr)
            with self._lock:
                self.failed += 1
            return
        with self._lock:
            self.samples.append((kind, time.perf_counter() - t0))

    def refresh(self, wh: Warehouse, day: str, think_s: float = 0.0
                ) -> None:
        for kind in DASHBOARDS:
            self.query(wh, kind, day)
            time.sleep(think_s)


def _write(path: str, lines: list[str]) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def _publish(work: str, tag: str, lines: list[str], rows: list[dict]
             ) -> None:
    """Append one segment per topic to the ODS directories."""
    _write(os.path.join(work, "ods_log", f"log-{tag}.txt"), lines)
    _write(os.path.join(work, "ods_db", f"changelog-{tag}.jsonl"),
           [json.dumps(r) for r in rows])


class Run:
    """One warehouse instance driven through backfill and trickle."""

    def __init__(self, spark, work: str, trace) -> None:
        self.spark = spark
        self.work = work
        self.trace = trace            # tracing.JobListener or None
        self.job_s = {j: 0.0 for j, _ in CHAIN}
        self.start_ms = {j: 0.0 for j, _ in CHAIN}
        self.buckets_rewritten = 0
        self.wh: Warehouse | None = None

    def setup(self) -> list[float]:
        """Construct the warehouse (directories + config feed) in fresh
        directories; the last one is kept."""
        times = []
        for k in range(SETUP_REPEATS):
            path = os.path.join(self.work, f"wh{k}")
            t0 = time.perf_counter()
            self.wh = Warehouse(self.spark, path, gen.table_process_rows())
            times.append(time.perf_counter() - t0)
        return times

    def chain(self) -> float:
        """Run every job once; returns the pass wall time."""
        before = tracing.dim_buckets(self.wh.work) if self.trace else None
        t_pass = time.perf_counter()
        took = {}
        for job, method in CHAIN:
            trig0 = self.trace.sums[job]["trigger_ms"] if self.trace else 0
            if self.trace:
                self.trace.current = job
            t0 = time.perf_counter()
            getattr(self.wh, method)()
            dt = took[job] = time.perf_counter() - t0
            self.job_s[job] += dt
            if self.trace:
                self.trace.drain()
                self.start_ms[job] += dt * 1000 - (
                    self.trace.sums[job]["trigger_ms"] - trig0)
        wall = time.perf_counter() - t_pass
        print(f"perfbench: pass {wall:.1f} s " + " ".join(
            f"{j}={s:.1f}" for j, s in took.items()), file=sys.stderr)
        if self.trace:
            t0 = time.perf_counter()
            after = tracing.dim_buckets(self.wh.work)
            self.buckets_rewritten += sum(
                1 for b, files in after.items() if before.get(b) != files)
            self.trace.spent.add(time.perf_counter() - t0)
        return wall


def _closed_equal(stream: DataFrame, batch: DataFrame, horizon) -> bool:
    want = {tuple(r) for r in batch.filter(F.col("edt") <= horizon).collect()}
    got = {tuple(r) for r in stream.filter(F.col("edt") <= horizon)
           .collect()}
    return bool(want) and got == want


def check(run: Run, truth: gen.Truth) -> list[str]:
    """Every correctness gate; returns the failures."""
    wh, spark = run.wh, run.spark
    problems = []

    def dwd(name):
        return spark.read.parquet(os.path.join(wh.work, "dwd", name)) \
                    .drop("batch_id")

    page = dwd("log_page")
    for name, want in (("log_page", truth.page), ("log_start", truth.start),
                       ("log_display", truth.display),
                       ("dirty", truth.dirty),
                       ("dwm_order_wide", truth.order_wide)):
        got = page.count() if name == "log_page" else dwd(name).count()
        if got != want:
            problems.append(f"{name}: {got} rows, expected {want}")
    facts = {r[0]: r[1] for r in spark.read.parquet(
        os.path.join(wh.work, "dwd_facts")).groupBy("sink_table").count()
        .collect()}
    for table, want in truth.facts.items():
        if facts.get(f"dwd_{table}", 0) != want:
            problems.append(f"dwd_{table}: {facts.get(f'dwd_{table}')} "
                            f"rows, expected {want}")
    gmv = dashboard(wh, "gmv", gen.DROP_DAY)[0].gmv
    want_gmv = Decimal(truth.gmv_cents[gen.DROP_DAY]) / 100
    if gmv != want_gmv:
        problems.append(f"gmv {gen.DROP_DAY}: {gmv}, expected {want_gmv}")

    # streaming DWS == batch recomputation on watermark-closed windows
    sec = datetime.timedelta(seconds=1)
    uv, uj = dwd("dwm_unique_visit"), dwd("dwm_user_jump")
    ow, pw = dwd("dwm_order_wide"), dwd("dwm_payment_wide")
    display = dwd("log_display")
    page_max = page.agg(F.max(F.timestamp_millis("ts"))).collect()[0][0]
    if not _closed_equal(
            _dws(wh, "visitor_stats_stream"),
            gmall_dws.visitor_stats(page, uv.select("mid", "ts"),
                                    uj.select("mid", "ts")),
            page_max - sec):
        problems.append("visitor_stats_stream != batch on closed windows")
    facts = {t: wh.typed_fact(t) for t in
             ("favor_info", "cart_info", "order_refund_info", "comment_info")}
    # the product-stats watermark follows the newest event of its
    # eight-source union
    ts = F.to_timestamp("create_time")
    union_max = reduce(DataFrame.unionByName, [
        page.filter(F.col("page.page_id") == "good_detail")
            .select(F.timestamp_millis("ts").alias("et")),
        display.select(F.timestamp_millis("ts").alias("et")),
        ow.select(F.col("order_et").alias("et")),
        pw.select(F.col("payment_et").alias("et")),
        *[f.select(ts.alias("et")) for f in facts.values()],
    ]).agg(F.max("et")).collect()[0][0]
    batch_ps = gmall_dws.product_stats(
        page=page, display=display, favor=facts["favor_info"],
        cart=facts["cart_info"], order_wide=ow, payment_wide=pw,
        refund=facts["order_refund_info"], comment=facts["comment_info"])
    if not _closed_equal(_dws(wh, "product_stats_stream"), batch_ps,
                         union_max - sec):
        problems.append("product_stats_stream != batch on closed windows")
    kw_max = page.filter(F.col("page.page_id") == "good_list").agg(
        F.max(F.timestamp_millis("ts"))).collect()[0][0]
    if not _closed_equal(_dws(wh, "keyword_stats_stream"),
                         gmall_dws.keyword_stats(page), kw_max - sec):
        problems.append("keyword_stats_stream != batch on closed windows")
    ow_max = ow.agg(F.max("order_et")).collect()[0][0]
    if not _closed_equal(_dws(wh, "province_stats_stream"),
                         gmall_dws.province_stats_sql(spark, ow),
                         ow_max - sec):
        problems.append("province_stats_stream != batch on closed windows")
    return problems


def run(spark, work: str, seed: int, seconds: float, trace: bool,
        spent: tracing.Spent) -> dict:
    """Runs the workload; returns its measurements (see run.py)."""
    listener = None
    if trace:
        listener = tracing.JobListener(spent, [j for j, _ in CHAIN])
        spark.streams.addListener(listener)
    lines, rows, truth = gen.warehouse_drop(seed, DROP_MIDS, DROP_ORDERS)
    r = Run(spark, work, listener)
    setup_times = r.setup()
    wh = r.wh

    _publish(wh.work, "drop", lines, rows)
    drop_events = len(lines) + len(rows)
    batch_s = r.chain()

    serve = Serve()
    stop = threading.Event()

    def reader() -> None:
        while not stop.is_set():
            serve.refresh(wh, gen.LIVE_DAY, THINK_S)

    fresh: list[float] = []
    pass_s: list[float] = []
    per_pass: list[int] = []
    published = 0
    t_zero = time.perf_counter()
    readers = [threading.Thread(target=reader, daemon=True)
               for _ in range(READERS)]
    for t in readers:
        t.start()
    try:
        next_pass = t_zero + TRIGGER_S
        while True:
            time.sleep(max(0.0, next_pass - time.perf_counter()))
            # every increment due by now goes out as one segment
            due_count = int((time.perf_counter() - t_zero) / INTERVAL_S) + 1
            seg_lines, seg_rows, dues = [], [], []
            for i in range(published, due_count):
                inc_lines, inc_rows = gen.trickle_increment(seed, i, truth)
                seg_lines += inc_lines
                seg_rows += inc_rows
                dues.append(t_zero + i * INTERVAL_S)
            if dues:
                _publish(wh.work, f"inc{published:06d}", seg_lines, seg_rows)
            published = due_count
            t_pass = time.perf_counter()
            r.chain()
            serve.refresh(wh, gen.LIVE_DAY)
            t_fresh = time.perf_counter()
            pass_s.append(t_fresh - t_pass)
            per_pass.append(len(dues))
            fresh += [t_fresh - d for d in dues]
            if t_fresh - t_zero >= seconds:
                break
            next_pass = max(next_pass + TRIGGER_S, t_fresh)
    finally:
        stop.set()
        for t in readers:
            t.join()
    t0 = time.perf_counter()
    problems = check(r, truth)
    print(f"perfbench: checks {time.perf_counter() - t0:.1f} s",
          file=sys.stderr)

    lat = [s for _, s in serve.samples]
    e2e = {
        "batch_s": batch_s,
        "freshness_p50_s": quantile(fresh, 0.5),
        "freshness_p90_s": quantile(fresh, 0.9),
        "serve_p50_ms": quantile(lat, 0.5) * 1000,
        "serve_p90_ms": quantile(lat, 0.9) * 1000,
    }
    layers: dict[str, float] = {
        "backfill.events": drop_events,
        "backfill.events_per_s": drop_events / batch_s,
        "freshness.samples": len(fresh),
        "serve.samples": len(lat),
        "trickle.passes": len(pass_s),
        "trickle.increments_per_pass": sum(per_pass) / len(per_pass),
        "trickle.pass_s_slope": _slope(pass_s),
        "setup.warehouse_init_s": statistics.median(setup_times),
    }
    for job, _ in CHAIN:
        layers[f"warehouse.{job}.s"] = r.job_s[job]
    for kind in DASHBOARDS:
        ks = [s for k, s in serve.samples if k == kind]
        layers[f"publisher.{kind}_ms"] = (quantile(ks, 0.5) * 1000
                                          if ks else 0.0)
    if listener:
        for job, _ in CHAIN:
            s = listener.sums[job]
            for key in ("rows_in", "planning_ms", "offsets_ms",
                        "add_batch_ms", "commit_ms", "late_rows_dropped"):
                layers[f"{job}.{key}"] = s[key]
            layers[f"{job}.start_ms"] = r.start_ms[job]
        for job in ("unique_visit", "user_jump"):
            rows_, bytes_ = listener.state.get(job, (0, 0))
            layers[f"stateful.{job}.state_rows"] = rows_
            layers[f"stateful.{job}.state_bytes"] = bytes_
        t0 = time.perf_counter()
        layers.update(tracing.sink_usage(wh.work))
        spent.add(time.perf_counter() - t0)
        layers["sinks.dim.buckets_rewritten"] = r.buckets_rewritten
        spark.streams.removeListener(listener)
    return {"e2e": e2e, "layers": layers, "setup": setup_times,
            "attempted": 1 + len(pass_s) + len(lat) + serve.failed,
            "failed": serve.failed, "problems": problems}


def _slope(ys: list[float]) -> float:
    """Least-squares slope of pass time against pass index (s/pass)."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, sum(ys) / n
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / sum(
        (i - mx) ** 2 for i in range(n))
