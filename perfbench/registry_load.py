"""The ``registry`` workload: one sweep of the plans registry over a
seeded corpus, as a reporting refresh after new data lands.

The sweep runs family by family in the order of
``plans.registry._FAMILY_MODULES``, and within a family in the order of
that module's ``QUERIES``; the callables are the registry's own
(``plans.QUERIES``). So the order depends on neither correctness
artifacts nor timings. Every ``STRIDE``-th query of each family is
swept, so that a run fits the benchmark's time budget.

Per query: ``serve`` is its latency; ``freshness`` is the time from the
corpus landing (the start of the sweep) until its answer is
available; ``batch_s`` is the whole sweep. A query that raises counts
as failed and is left out of the latencies. The gate compares each
answer's row count with its DuckDB oracle on the same files.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

from gmall_flink_2021_spark.plans import registry
from gmall_flink_2021_spark.sources.tables import load_all

import gen
from tracing import quantile

STRIDE = 12
SF = 0.001   # corpus scale: ~6000 lineitem rows, 500 documents
OFFSET = 3   # keeps the sample's DuckDB oracles to a few seconds
SETUP_REPEATS = 3


def family(module) -> str:
    return module.__name__.rsplit(".", 1)[1]


def sample() -> list[tuple[str, str]]:
    """(family, query name) pairs of the sweep, in sweep order."""
    return [(family(m), name)
            for m in registry._FAMILY_MODULES
            for name in list(m.QUERIES)[OFFSET::STRIDE]]


def oracle_rows(corpus: str, names: list[str]) -> dict[str, int]:
    """Row count of every named query's DuckDB oracle."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in os.listdir(corpus):
            table = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"'{os.path.join(corpus, f)}'")
        return {n: con.execute(
                    f"SELECT count(*) FROM ({registry.ORACLES[n]})"
                ).fetchone()[0]
                for n in names if n in registry.ORACLES}
    finally:
        con.close()


def run(spark, work: str, seed: int) -> dict:
    """Runs the workload; returns its measurements (see run.py)."""
    corpus = os.path.join(work, "corpus")
    t0 = time.perf_counter()
    rows = gen.registry_corpus(corpus, seed, SF)
    print(f"perfbench: corpus {time.perf_counter() - t0:.1f} s",
          file=sys.stderr)
    setup_times = []
    for _ in range(SETUP_REPEATS):
        # table registration and a first scan of every table
        t0 = time.perf_counter()
        for df in load_all(spark, corpus).values():
            df.count()
        setup_times.append(time.perf_counter() - t0)

    done: list[tuple[str, str, float, float, int]] = []
    failed: dict[str, int] = {}
    t_land = time.perf_counter()
    for fam, name in sample():
        t0 = time.perf_counter()
        try:
            n = len(registry.QUERIES[name](spark, corpus).collect())
        except Exception as exc:  # counted as failed, sweep goes on
            print(f"perfbench: {name} failed: {exc!r}", file=sys.stderr)
            failed[fam] = failed.get(fam, 0) + 1
            continue
        finally:
            # operators may persist intermediates only their own query
            # reuses; dropping them keeps every query's timing isolated
            spark.catalog.clearCache()
        t1 = time.perf_counter()
        done.append((fam, name, t1 - t0, t1 - t_land, n))
    batch_s = time.perf_counter() - t_land

    t0 = time.perf_counter()
    want = oracle_rows(corpus, [d[1] for d in done])
    print(f"perfbench: sweep {batch_s:.1f} s, oracles "
          f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)
    problems = [f"{name}: {n} rows, oracle {want[name]}"
                for _, name, _, _, n in done
                if name in want and want[name] != n]
    serve = [d[2] for d in done]
    fresh = [d[3] for d in done]
    e2e = {
        "batch_s": batch_s,
        "freshness_p50_s": quantile(fresh, 0.5),
        "freshness_p90_s": quantile(fresh, 0.9),
        "serve_p50_ms": quantile(serve, 0.5) * 1000,
        "serve_p90_ms": quantile(serve, 0.9) * 1000,
    }
    layers: dict[str, float] = {
        "registry.queries": len(done) + sum(failed.values()),
        "registry.oracle_checked": len(want),
        "registry.corpus_rows": sum(rows.values()),
        "setup.registry_load_s": statistics.median(setup_times),
    }
    for m in registry._FAMILY_MODULES:
        fam = family(m)
        layers[f"plans.{fam}.s"] = sum(d[2] for d in done if d[0] == fam)
        layers[f"plans.{fam}.failed"] = failed.get(fam, 0)
    return {"e2e": e2e, "layers": layers, "setup": setup_times,
            "attempted": len(done) + sum(failed.values()),
            "failed": sum(failed.values()), "problems": problems}
