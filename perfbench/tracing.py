"""Measurement from outside the program: sample quantiles, process
memory and, in the traced run (``--trace 1``) only, a streaming-query
listener and output-directory walks whose cost is booked so the run
can report its own overhead."""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

SINK_DIRS = ("dwd", "dwd_facts", "dim", "dws")


def quantile(values: list[float], q: float) -> float:
    """The sample at rank ``q`` of ``values`` (nearest rank)."""
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


class Spent:
    """Accumulates the wall time spent inside tracing code."""

    def __init__(self) -> None:
        self.s = 0.0
        self._lock = threading.Lock()

    def add(self, dt: float) -> None:
        with self._lock:
            self.s += dt


class JobListener(StreamingQueryListener):
    """Attributes every streaming query to the warehouse job that
    started it and sums its progress durations.

    ``onQueryStarted`` runs synchronously inside ``start()``, so the
    job name set just before a ``Warehouse.run_*`` call identifies the
    query; progress events arrive later on the listener thread and
    are matched by query id."""

    def __init__(self, spent: Spent, jobs: list[str]) -> None:
        self.spent = spent
        self.current = ""
        self.job_of: dict[str, str] = {}
        self.terminated: set[str] = set()
        self.sums: dict[str, dict[str, float]] = {
            j: {"rows_in": 0, "planning_ms": 0, "offsets_ms": 0,
                "add_batch_ms": 0, "commit_ms": 0, "trigger_ms": 0,
                "late_rows_dropped": 0}
            for j in jobs}
        self.state: dict[str, tuple[int, int]] = {}
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self.job_of[str(event.id)] = self.current

    def onQueryProgress(self, event) -> None:
        t0 = time.perf_counter()
        p = event.progress
        job = self.job_of.get(str(p.id))
        if job in self.sums:
            d = p.durationMs
            s = self.sums[job]
            s["rows_in"] += p.numInputRows
            s["planning_ms"] += d.get("queryPlanning", 0)
            s["offsets_ms"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
            s["add_batch_ms"] += d.get("addBatch", 0)
            s["commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            s["trigger_ms"] += d.get("triggerExecution", 0)
            ops = p.stateOperators
            s["late_rows_dropped"] += sum(o.numRowsDroppedByWatermark
                                          for o in ops)
            if ops:
                self.state[job] = (sum(o.numRowsTotal for o in ops),
                                   sum(o.memoryUsedBytes for o in ops))
        self.spent.add(time.perf_counter() - t0)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated.add(str(event.id))
            self._cv.notify_all()

    def drain(self, timeout: float = 30.0) -> None:
        """Wait until every query started so far has reported its
        termination, i.e. all of its progress events were delivered."""
        t0 = time.perf_counter()
        with self._cv:
            self._cv.wait_for(
                lambda: set(self.job_of) <= self.terminated, timeout)
        self.spent.add(time.perf_counter() - t0)


def sink_usage(work: str) -> dict[str, float]:
    """Parquet files and bytes under each warehouse output layer."""
    out: dict[str, float] = {}
    for layer in SINK_DIRS:
        files = size = 0
        for root, _, names in os.walk(os.path.join(work, layer)):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        out[f"sinks.{layer}.files"] = files
        out[f"sinks.{layer}.bytes"] = size
    return out


def dim_buckets(work: str) -> dict[str, frozenset]:
    """Snapshot of every dim bucket directory's data files; two
    snapshots differ exactly in the buckets a pass rewrote."""
    snap = {}
    base = os.path.join(work, "dim")
    for table in sorted(os.listdir(base)) if os.path.isdir(base) else ():
        tdir = os.path.join(base, table)
        for bucket in os.listdir(tdir):
            bdir = os.path.join(tdir, bucket)
            if os.path.isdir(bdir) and bucket.startswith("pkbucket="):
                snap[os.path.join(table, bucket)] = frozenset(
                    n for n in os.listdir(bdir) if n.endswith(".parquet"))
    return snap
