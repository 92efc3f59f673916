"""Dev sweep driver for the streaming seeded fuzz (round 11):

    python tests/run_streaming_fuzz.py 31004 31005 ...

Each seed runs the stateful-trio case and the J1 interval-join case
at every watermark tier (1 s / 10 s / 1 min), printing PASS/FAIL per
combo.  Divergences get fixed and pinned; green seeds rotate into
test_streaming_fuzz.STREAM_CASES (the committed per-round set).
"""

from __future__ import annotations

import os
import pathlib
import sys
import tempfile
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from tests.test_streaming_fuzz import (  # noqa: E402
    test_fuzz_interval_join_streaming_matches_batch,
    test_fuzz_stateful_trio_streaming_matches_batch)

TIERS = [("1 second", 1_000), ("10 seconds", 10_000),
         ("1 minute", 60_000)]


def main() -> int:
    from gmall_flink_2021_spark.session import get_spark

    spark = get_spark("streaming-fuzz-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    seeds = [int(a) for a in sys.argv[1:]] or [31004, 31005, 31006]
    failures = 0
    for seed in seeds:
        for delay, dms in TIERS:
            for tag, fn in (
                    ("trio",
                     test_fuzz_stateful_trio_streaming_matches_batch),
                    ("j1",
                     test_fuzz_interval_join_streaming_matches_batch)):
                tmp = pathlib.Path(tempfile.mkdtemp(
                    prefix=f"sfz_{seed}_{dms}_{tag}_"))
                try:
                    fn(spark, tmp, seed, delay, dms)
                    print(f"[PASS] seed={seed} delay={delay!r} {tag}",
                          flush=True)
                except Exception:
                    failures += 1
                    print(f"[FAIL] seed={seed} delay={delay!r} {tag}",
                          flush=True)
                    traceback.print_exc()
    print(f"done: {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
