"""Steadiness self-check: run workloads repeatedly on one commit and
report each end-to-end metric's spread against its bound.

    python3 perfbench/steady.py --runs 10 --sets 1 [--workload json_land ...]

It runs ``perfbench/run.py`` ``--runs`` times per set for every
workload, each run with a different seed and the workloads taking turns
run by run, and reports for every end-to-end metric the quartile spread
(Q3 - Q1 of the runs, from ``statistics.quantiles(values, n=4)``) as a
share of the median, next to the metric's bound in BENCHMARK.json. With ``--sets 2`` it repeats the
whole set and also reports how far the second median moved from the
first. The exit code is 1 when a spread (``setup_s`` excepted) exceeds
its bound, a median moves the wrong way by more than its bound, or a run
fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def worse_by(new: float, old: float, better: str) -> float:
    """How much worse ``new`` is than ``old``, as a share of ``old``."""
    if old == 0:
        return 0.0
    return (new - old) / old if better == "lower" else (old - new) / old


def one_run(spec, workload: str, seed: int) -> tuple[dict, float]:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(lines[-1])
    if len(lines) > 1 and lines[-2].startswith('{"diag"'):
        res["diag"] = json.loads(lines[-2])["diag"]
    return res, wall


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    workloads = args.workload or [w["name"] for w in spec["workloads"]]

    ok = True
    # workload -> set -> runs; the workloads take turns run by run, so a
    # drift of the host shows in all of them at once
    sets = {wl: [[] for _ in range(args.sets)] for wl in workloads}
    for s in range(args.sets):
        for i in range(args.runs):
            seed = args.first_seed + s * args.runs + i
            for wl in workloads:
                try:
                    res, wall = one_run(spec, wl, seed)
                except (RuntimeError, subprocess.TimeoutExpired) as e:
                    print(f"FAIL {e}")
                    ok = False
                    continue
                ok &= bool(res["correct"])
                diag = res.get("diag", {})
                sets[wl][s].append({"wall_s": wall, **{
                    k: v["value"] for k, v in res["metrics"].items()}})
                print(f"{wl} set {s + 1} seed {seed}: {wall:.1f} s wall, "
                      f"op_p50_s {res['metrics']['op_p50_s']['value']:.3f}, "
                      f"ops {[round(x, 2) for x in diag.get('op_s', [])]}, "
                      f"CPUs own {diag.get('own_cpus', 0):.2f} "
                      f"other {diag.get('host_other_cpus', 0):.2f} "
                      f"steal {diag.get('host_steal_cpus', 0):.2f}",
                      flush=True)
    for wl in workloads:
        runs = [r for st in sets[wl] for r in st]
        print(f"\n{wl}: {args.runs} runs per set, "
              f"median wall {statistics.median(r['wall_s'] for r in runs):.1f} s")
        print(f"  {'metric':24s} {'bound':>6s} " + " ".join(
            f"{'median' + str(i + 1):>12s} {'spread' + str(i + 1):>8s}"
            for i in range(args.sets)) + ("   moved" if args.sets == 2 else ""))
        for name, m in bounds.items():
            cols, meds = [], []
            for st in sets[wl]:
                vals = [r[name] for r in st]
                if len(vals) < 2:
                    continue
                sp = spread(vals)
                meds.append(statistics.median(vals))
                cols.append(f"{meds[-1]:12.5g} {sp:8.3f}")
                # setup_s is gated on its median only: a run has one
                # cold set-up, so its spread is that of single JVM launches
                if name != "setup_s" and sp > m["bound"]:
                    ok = False
            line = f"  {name:24s} {m['bound']:6.2f} " + " ".join(cols)
            if len(meds) == 2:
                moved = worse_by(meds[1], meds[0], m["better"])
                line += f"  {moved:+.3f}"
                if moved > m["bound"]:
                    ok = False
            print(line)
    print("\nsteady" if ok else "\nNOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
