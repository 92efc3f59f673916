"""One-command round validation (VERDICT r8 #7): sequences the four
hand-run measurement tools whose manual choreography caused the r7
cache-clearing slip, and emits the BASELINE.md / SCALE.md rows as
markdown-ready tables plus one machine-readable JSON.

Stages (subset-selectable; --all runs every one):
  bench        single-shot sf0.1 bench (bench.py, the driver's view)
  headliners   warm 3-rep medians of the pinned headliner set
  adversarial  edge+empty corpus full-registry oracle sweeps
  fuzz         the committed ROUND_SEEDS full-registry oracle sweeps
  soak         short crash-injection streaming soak (the interval
               join and gmall_dwm.payment_wide_join under SIGKILL,
               exactly-once checks per cycle)
  x10          full-registry x10 wall sweep (vs bench baselines)
  x32          full-registry x32 wall sweep

Usage:
  python tests/round_checks.py --all [--out /tmp/round_checks.json]
  python tests/round_checks.py bench headliners
  python tests/round_checks.py x32          # needs a prior bench run

Each stage is a subprocess of the existing tool (bench.py,
warm_headliners.py, run_parity.py, sweep_full_registry.py,
stress_scale replicas), so this wrapper cannot drift from what the
tools measure on their own.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTS = os.path.join(REPO, "tests")
STAGES = ("bench", "headliners", "adversarial", "fuzz", "soak",
          "x10", "x32")


def _run(cmd, timeout=7200):
    t0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO,
                       timeout=timeout)
    return p, time.time() - t0


def stage_bench(res):
    p, wall = _run([sys.executable, "bench.py"])
    line = [ln for ln in p.stdout.splitlines()
            if ln.startswith('{"metric"')][-1]
    d = json.loads(line)
    res["bench"] = {"total_s": d["value"], "n": d["n_queries"],
                    "families": d["families"], "sf": d["sf"],
                    "calib": d.get("calib"),
                    "wall_s": round(wall, 1), "ok": p.returncode == 0}
    print(f"[bench] {d['n_queries']} queries {d['value']:.1f}s "
          f"(sf {d['sf']}) calib={d.get('calib')}")


def stage_headliners(res):
    p, wall = _run([sys.executable,
                    os.path.join(TESTS, "warm_headliners.py")])
    rows = {}
    for m in re.finditer(r"^(\S+)\s+warm median\s+([\d.]+) s",
                         p.stdout, re.M):
        rows[m.group(1)] = float(m.group(2))
    calib = re.search(r"^rig_calibration (\{.*\})$", p.stdout, re.M)
    res["headliners"] = {"warm_median_s": rows, "wall_s": round(wall, 1),
                         "calib": calib.group(1) if calib else None,
                         "ok": p.returncode == 0 and bool(rows)}
    print("[headliners] | query | warm median (s) |")
    print("[headliners] |---|---|")
    for k, v in rows.items():
        print(f"[headliners] | {k} | {v:.2f} |")


def _parity(sf_dir, tag, res):
    p, wall = _run([sys.executable,
                    os.path.join(TESTS, "run_parity.py"), sf_dir])
    m = re.search(r"^(\d+) failures / (\d+) run(.*)$", p.stdout, re.M)
    fails = int(m.group(1)) if m else -1
    total = int(m.group(2)) if m else -1
    res[tag] = {"failures": fails, "run": total,
                "note": (m.group(3).strip() if m else p.stdout[-300:]),
                "wall_s": round(wall, 1), "ok": fails == 0}
    print(f"[{tag}] {total - fails}/{total} green "
          f"({res[tag]['note'] or 'no skips'})")
    if fails:
        print(p.stdout[-1500:])


def stage_adversarial(res):
    _run([sys.executable, os.path.join(TESTS, "adversarial_corpus.py"),
          "/tmp/gmall_adversarial"])
    _parity("/tmp/gmall_adversarial/edge", "adversarial_edge", res)
    _parity("/tmp/gmall_adversarial/empty", "adversarial_empty", res)


def stage_fuzz(res):
    # parse rather than import: test_seeded_fuzz uses package-relative
    # imports that only resolve under pytest
    src = open(os.path.join(TESTS, "test_seeded_fuzz.py")).read()
    m = re.search(r"^ROUND_SEEDS = (\[[^\]]*\])", src, re.M)
    ROUND_SEEDS = json.loads(m.group(1))

    p, wall = _run([sys.executable,
                    os.path.join(TESTS, "run_seeded_fuzz.py"),
                    *map(str, ROUND_SEEDS)])
    fails = len(re.findall(r"\[FAIL seed=", p.stdout))
    res["fuzz"] = {"seeds": ROUND_SEEDS, "failures": fails,
                   "wall_s": round(wall, 1),
                   "ok": p.returncode == 0 and fails == 0}
    print(f"[fuzz] seeds {ROUND_SEEDS}: {fails} failures")
    if fails:
        print(p.stdout[-1500:])


def _scale(factor, tag, res):
    out = f"/tmp/sweep_x{factor}_full.json"
    p, wall = _run([sys.executable,
                    os.path.join(TESTS, "sweep_full_registry.py"),
                    out, "--factor", str(factor)])
    if not os.path.exists(out):
        res[tag] = {"ok": False, "note": p.stdout[-500:] + p.stderr[-500:]}
        print(f"[{tag}] FAILED")
        return
    rows = json.load(open(out))
    fam_ratios = [r["ratio"] for r in rows.values() if r["ratio"]]
    errs = {k: r["err"] for k, r in rows.items()
            if r["err"] and not r["err"].startswith("FENCED")}
    res[tag] = {
        "queries": len(rows),
        "total_wall_s": round(sum(r[f"x{factor}_wall"]
                                  for r in rows.values()), 1),
        "median_ratio": round(statistics.median(fam_ratios), 2)
        if fam_ratios else None,
        "max_ratio": round(max(fam_ratios), 2) if fam_ratios else None,
        "worst": sorted(((k, r["ratio"]) for k, r in rows.items()
                         if r["ratio"]), key=lambda kv: -kv[1])[:8],
        "errors": errs, "wall_s": round(wall, 1), "ok": not errs,
    }
    print(f"[{tag}] {len(rows)} queries, total "
          f"{res[tag]['total_wall_s']}s, median ratio "
          f"{res[tag]['median_ratio']}x per {factor}x data, "
          f"{len(errs)} errors")
    print(f"[{tag}] worst: {res[tag]['worst']}")


def stage_soak(res):
    p, wall = _run([sys.executable,
                    os.path.join(TESTS, "soak_streaming.py"),
                    "--minutes", "5", "--kill-p", "0.4",
                    "--events", "800",
                    "--root", "/tmp/gmall_soak_rc"])
    m = re.search(r"SOAK PASS: (\d+) cycles, (\d+) SIGKILLs", p.stdout)
    res["soak"] = {
        "cycles": int(m.group(1)) if m else 0,
        "kills": int(m.group(2)) if m else 0,
        "wall_s": round(wall, 1),
        "ok": p.returncode == 0 and bool(m),
    }
    print(f"[soak] {res['soak']['cycles']} cycles, "
          f"{res['soak']['kills']} SIGKILLs, "
          f"{'OK' if res['soak']['ok'] else 'FAIL'}")
    if not res["soak"]["ok"]:
        print(p.stdout[-1500:])


def stage_x10(res):
    _scale(10, "x10", res)


def stage_x32(res):
    _scale(32, "x32", res)


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    out_path = "/tmp/round_checks.json"
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
        args = [a for a in args if a != out_path]
    stages = list(STAGES) if "--all" in sys.argv else args
    unknown = [s for s in stages if s not in STAGES]
    if unknown or not stages:
        sys.exit(f"usage: round_checks.py --all | {' '.join(STAGES)}"
                 f"{' (unknown: ' + str(unknown) + ')' if unknown else ''}")
    res = {}
    for s in stages:
        globals()[f"stage_{s}"](res)
        json.dump(res, open(out_path, "w"), indent=1)
    bad = [k for k, v in res.items() if not v.get("ok")]
    print(f"\nround_checks: {len(res) - len(bad)}/{len(res)} stages ok"
          + (f"  NOT-OK: {bad}" if bad else "") + f"\n→ {out_path}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
