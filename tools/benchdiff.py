#!/usr/bin/env python3
"""Per-query regression diff between two BENCH_FULL_*.json artifacts.

Usage:
  python3 tools/benchdiff.py BENCH_FULL_r09.json BENCH_FULL_r10.json \
      [--reg-ratio=1.5] [--reg-abs=0.5]

Prints the common-query median ratio (the host-drift indicator: a
uniform median shift is the machine, not the code), the regressions
above BOTH thresholds (ratio AND absolute seconds — sub-second 2x
swings are scheduler noise, not plans), the biggest improvements, the
new side's queries whose later timed runs still compile generated code,
and the queries present on only one side. Driver-side tooling like
selfcheck.py; never linked by library code.
"""
import argparse, json, statistics, sys

def main():
    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("old", nargs="?", default="BENCH_FULL_r15.json",
                   help="baseline artifact (default: BENCH_FULL_r15.json — "
                        "the named like-for-like baseline in BASELINE.md, "
                        "451 queries with all r15 rewrites; r14's artifact "
                        "is a slow-host run, see SURVEY §8.28 calibration "
                        "before using it as a baseline)")
    p.add_argument("new")
    p.add_argument("--reg-ratio", type=float, default=1.5)
    p.add_argument("--reg-abs", type=float, default=0.5)
    ns = p.parse_args()
    args = [ns.old, ns.new]
    reg_ratio, reg_abs = ns.reg_ratio, ns.reg_abs
    aj, bj = json.load(open(args[0])), json.load(open(args[1]))
    a, b = aj["queries"], bj["queries"]
    # per-query run arrays (round 12+): "queries" is the min; "runs" is
    # every timed execution, so a regression whose new-side runs straddle
    # the old value is host noise, not a plan change
    b_runs = bj.get("runs", {})
    common = sorted(set(a) & set(b))
    ratios = {k: b[k] / a[k] for k in common if a[k] > 0}
    med = statistics.median(ratios.values())
    print(f"{args[0]}: {len(a)} queries, total {sum(a.values()):.1f}s")
    print(f"{args[1]}: {len(b)} queries, total {sum(b.values()):.1f}s")
    print(f"common {len(common)}  median ratio {med:.3f}"
          f"  (uniform shift = host drift, not code)")
    regs = [(ratios[k], k) for k in ratios
            if ratios[k] > reg_ratio and b[k] > reg_abs]
    print(f"\nregressions >{reg_ratio}x and >{reg_abs}s new-side:")
    for r, k in sorted(regs, reverse=True):
        runs = b_runs.get(k)
        # the noise hint requires the new-side runs to actually STRADDLE
        # the old timing (best run back under the regression threshold):
        # a genuinely regressed plan with variable runs (e.g. GC-bound)
        # must still read as a regression, not be dismissed as noise
        straddles = runs and min(runs) <= max(a[k] * reg_ratio, reg_abs)
        spread = (f"  runs={['%.2f' % x for x in runs]}"
                  f"{'  (best run within threshold: likely host noise)' if straddles else ''}"
                  if runs else "")
        print(f"  {k}: {a[k]:.2f} -> {b[k]:.2f}  ({r:.2f}x){spread}")
    if not regs:
        print("  (none)")
    imps = [(ratios[k], k) for k in ratios if a[k] > 1.0]
    print("\nbiggest improvements on the old slow set (old >1s):")
    for r, k in sorted(imps)[:10]:
        print(f"  {k}: {a[k]:.2f} -> {b[k]:.2f}  ({r:.2f}x)")
    # per-run codegen compile counts (queries that compiled at all): the
    # first run compiles the query's classes, a later run should find them
    # in the cache
    compiles = bj.get("compiles")
    if compiles is None:
        print(f"\nno compile counts in {args[1]}")
    else:
        warm = sorted(((sum(cs[1:]), k, cs) for k, cs in compiles.items() if sum(cs[1:]) > 0),
                      reverse=True)
        print("\nqueries whose later runs still compile (cache thrash or a per-call literal):")
        for n, k, cs in warm:
            print(f"  {k}: {n} classes after run 1  per run={cs}")
        if not warm:
            print("  (none)")
    only_a, only_b = sorted(set(a) - set(b)), sorted(set(b) - set(a))
    if only_a:
        print(f"\nonly in {args[0]}: {', '.join(only_a)}")
    if only_b:
        print(f"\nonly in {args[1]}: {', '.join(only_b)}")
    return 0

if __name__ == "__main__":
    sys.exit(main())
