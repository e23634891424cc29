"""Steadiness check for the ETL benchmark.

Usage (from the root of a checkout):
    python3 perfbench/steady.py [--runs 10] [--sets 1]

Runs `perfbench/run.py` on every workload of BENCHMARK.json `--runs` times
per set, each run with its own seed (1, 2, ...), and for every end-to-end metric prints the median and the
spread (distance between the first and third quartile, as
`statistics.quantiles(values, n=4)` gives them, over the median) next to
the metric's bound from BENCHMARK.json. A spread above a third of the bound
(setup_s excepted) is flagged. With `--sets 2` the second set reuses the
seeds of the first, and the median shift between the sets is checked
against the bound too. The failed share of operations must be identical in
every run. Exits non-zero when any check fails.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-1]), wall


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    ok = True
    for wl in [w["name"] for w in bench["workloads"]]:
        medians, shares, walls = [], set(), []
        for k in range(a.sets):
            vals = {}
            for i in range(a.runs):
                seed = i + 1
                res, wall = run_once(wl, seed, bench["run_seconds"])
                walls.append(wall)
                ok &= res["correct"]
                shares.add((res["failed"], res["attempted"]) if res["failed"] else 0)
                for name, v in res["metrics"].items():
                    vals.setdefault(name, []).append(v["value"])
                print(f"{wl} set {k + 1} seed {seed} ({wall:.0f} s): " + ", ".join(
                    f"{n}={v['value']:.4g}" for n, v in res["metrics"].items()), flush=True)
            med = {}
            for name, v in vals.items():
                q1, _, q3 = statistics.quantiles(v, n=4)
                med[name] = m = statistics.median(v)
                spread = (q3 - q1) / m
                bound = bounds[name]["bound"]
                flag = "" if name == "setup_s" or spread <= bound / 3 else "  WIDE"
                ok &= not flag
                print(f"{wl} set {k + 1} {name}: median {m:.4g} {bounds[name]['unit']}, "
                      f"spread {spread:.2%} (bound {bound:.0%}){flag}")
            medians.append(med)
        if a.sets == 2:
            for name, b in bounds.items():
                m1, m2 = medians[0][name], medians[1][name]
                worse = (m2 - m1) / m1 if b["better"] == "lower" else (m1 - m2) / m1
                flag = "" if worse <= b["bound"] else "  REGRESSED"
                ok &= not flag
                print(f"{wl} {name}: set 2 vs set 1 {worse:+.2%} worse (bound {b['bound']:.0%}){flag}")
        if len(shares) > 1:
            ok = False
            print(f"{wl}: failed share differs between runs: {shares}")
        print(f"{wl}: run wall mean {statistics.mean(walls):.1f} s, max {max(walls):.1f} s")
    print("STEADY" if ok else "NOT STEADY")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
