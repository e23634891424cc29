#!/usr/bin/env python3
"""Scale-factor regression gate over two bench artifacts.

Usage:
  python3 tools/factor_audit.py <bench_base.json> <bench_scaled.json> \
      [--data-factor 10] [--max-factor 10] [--allowlist tools/factor_allowlist.json]

Reads the per-query seconds from two Bench or `Bench scale … probe` JSON artifacts
(the `queries` object of the one-line bench JSON), computes each gate's
wall factor scaled/base, and FAILS (exit 1) when any gate exceeds
--max-factor without an allowlist entry. This turns the round-13 sf1-sweep
methodology (run everything at 10x, audit the super-linear rows by hand)
into a standing regression gate: a new gate that silently goes quadratic
at scale now breaks the round close instead of surviving until a judge
reads the factor table.

The allowlist is a committed JSON of {gate: reason}; every entry must
carry a reason naming WHY super-linear wall is expected (an in-query
trainer composition, a deliberately-priced quadratic probe) so the list
can't silently absorb regressions. Allowlisted gates are still printed
with their measured factors.

Gates present in only one artifact are reported (new/retired surface) but
do not fail the audit; rows faster than 0.05 s at base are skipped (noise:
a 0.04 s -> 0.5 s jitter pair is not a scaling signal).
"""
import argparse
import json
import sys
from pathlib import Path


def load_queries(path):
    d = json.loads(Path(path).read_text())
    if "queries" in d:
        return d["queries"]
    # `Bench scale ... probe` JSON: [{"gate":..,"base_s":..,"scaled_s":..}]
    if isinstance(d, list):
        return {r["gate"]: r for r in d}
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("scaled")
    ap.add_argument("--data-factor", type=float, default=10.0,
                    help="data-size ratio scaled/base (context only)")
    ap.add_argument("--max-factor", type=float, default=10.0,
                    help="fail when wall factor exceeds this, unallowlisted")
    ap.add_argument("--min-base", type=float, default=0.05,
                    help="skip gates faster than this at base (noise)")
    ap.add_argument("--allowlist",
                    default=str(Path(__file__).parent / "factor_allowlist.json"))
    args = ap.parse_args()

    base = load_queries(args.base)
    scaled = load_queries(args.scaled)
    allow = {}
    if Path(args.allowlist).exists():
        allow = json.loads(Path(args.allowlist).read_text())

    only_base = sorted(set(base) - set(scaled))
    only_scaled = sorted(set(scaled) - set(base))
    if only_base:
        print(f"[factor-audit] {len(only_base)} gates only in base "
              f"(retired at scale?): {', '.join(only_base[:8])}"
              + (" ..." if len(only_base) > 8 else ""))
    if only_scaled:
        print(f"[factor-audit] {len(only_scaled)} gates only in scaled: "
              f"{', '.join(only_scaled[:8])}"
              + (" ..." if len(only_scaled) > 8 else ""))

    rows = []
    skipped_noise = set()
    for g in sorted(set(base) & set(scaled)):
        b, s = base[g], scaled[g]
        if isinstance(b, dict):  # `Bench scale` probe row
            b, s = b["base_s"], s["scaled_s"]
        if b < args.min_base:
            skipped_noise.add(g)  # present, just too fast to judge —
            continue              # NOT a stale allowlist entry
        rows.append((g, b, s, s / b if b > 0 else float("inf")))

    failures = []
    stale_allow = sorted(set(allow) - {g for g, *_ in rows} - skipped_noise
                         - set(only_base) - set(only_scaled))
    for g, b, s, f in sorted(rows, key=lambda r: -r[3]):
        mark = ""
        if f > args.max_factor:
            if g in allow:
                mark = f"  ALLOWED: {allow[g]}"
            else:
                mark = "  FAIL (unallowlisted super-linear)"
                failures.append(g)
        if f > args.max_factor or g in allow:
            print(f"[factor-audit] {g:34s} base={b:7.2f}s scaled={s:7.2f}s "
                  f"factor={f:5.1f}{mark}")
    if stale_allow:
        print(f"[factor-audit] stale allowlist entries (no such gate): "
              f"{', '.join(stale_allow)}")
        failures.extend(stale_allow)

    n = len(rows)
    over = sum(1 for *_, f in rows if f > args.max_factor)
    print(f"[factor-audit] {n} gates compared at data-factor "
          f"{args.data_factor:g}; {over} above wall-factor "
          f"{args.max_factor:g}, {len(failures)} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
