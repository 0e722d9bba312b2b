#!/usr/bin/env python3
"""Compare untraced perfbench runs of two checkouts, seed by seed.

Usage: bench_pairs.py <parent>/.bench_runs <change>/.bench_runs [BENCHMARK.json]

Each directory holds the records `perfbench/run.py` writes, one per
workload and seed (`<workload>-seed<N>-trace0.json`). Runs of the same
workload and seed in both directories form a pair. For every workload and
end-to-end metric of BENCHMARK.json (default: the one beside the change's
`.bench_runs`) it prints:

  - q1/median/q3 of the parent's and of the change's runs;
  - how many pairs the change wins (lower or higher is better, as declared);
  - whether the change wins at least 9 of every 10 pairs;
  - whether the median gap is wider than the parent's interquartile range;
  - the relative median move, and the bound BENCHMARK.json allows;
  - whether each side's runs are steady: its interquartile range within
    the bound times the parent's median.

Per workload it also prints how many timed passes each side's runs made
(the `passes` note), when the records carry it: a workload that runs whole
passes until its time is up reads differently at one pass than at two.

Runs that were not correct or that failed operations are counted and
listed; their metrics still enter the figures.
"""
import glob
import json
import os
import re
import sys

RECORD = re.compile(r"(?P<workload>.+)-seed(?P<seed>\d+)-trace0\.json$")


def quartiles(xs):
    """q1, median, q3 by linear interpolation between order statistics."""
    s = sorted(xs)

    def q(p):
        k = (len(s) - 1) * p
        lo = int(k)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (k - lo)

    return q(0.25), q(0.5), q(0.75)


def load(runs_dir):
    """{workload: {seed: record}} for the untraced records in runs_dir."""
    out = {}
    for path in glob.glob(os.path.join(runs_dir, "*-trace0.json")):
        m = RECORD.match(os.path.basename(path))
        if not m:
            continue
        with open(path) as fh:
            out.setdefault(m["workload"], {})[int(m["seed"])] = json.load(fh)
    return out


def main():
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    parent_dir, change_dir = sys.argv[1], sys.argv[2]
    spec_path = sys.argv[3] if len(sys.argv) == 4 else os.path.join(
        os.path.dirname(os.path.abspath(change_dir)), "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    parent, change = load(parent_dir), load(change_dir)
    for w in spec["workloads"]:
        name = w["name"]
        p_runs, c_runs = parent.get(name, {}), change.get(name, {})
        seeds = sorted(set(p_runs) & set(c_runs))
        print(f"== {name}: {len(seeds)} pairs (seeds {seeds})")
        if not seeds:
            continue
        for side, runs in (("parent", p_runs), ("change", c_runs)):
            bad = [s for s in seeds
                   if not runs[s].get("correct") or runs[s].get("failed", 0)]
            if bad:
                print(f"  {side}: incorrect or failed ops at seeds {bad}")
            passes = [runs[s].get("notes", {}).get("passes") for s in seeds]
            if any(n is not None for n in passes):
                print(f"  {side}: timed passes per run {', '.join(str(n) for n in passes)}")
        for m in spec["end_to_end"]:
            metric, lower = m["name"], m["better"] == "lower"
            pairs = [(p_runs[s]["metrics"].get(metric), c_runs[s]["metrics"].get(metric))
                     for s in seeds]
            pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
            if not pairs:
                print(f"  {metric}: not measured")
                continue
            p1, pm, p3 = quartiles([p for p, _ in pairs])
            c1, cm, c3 = quartiles([c for _, c in pairs])
            wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
            gap = (pm - cm) if lower else (cm - pm)
            move = (cm - pm) / pm if pm else float("nan")
            print(f"  {metric} ({m['unit']}, {m['better']} is better, bound {m['bound']:+.0%})")
            print(f"    parent q1/median/q3 {p1:.4g}/{pm:.4g}/{p3:.4g}")
            print(f"    change q1/median/q3 {c1:.4g}/{cm:.4g}/{c3:.4g}  ({move:+.1%})")
            print(f"    change wins {wins}/{len(pairs)}"
                  f" (>= 9/10: {'yes' if wins * 10 >= 9 * len(pairs) else 'no'});"
                  f" median gain {gap:.4g} vs parent IQR {p3 - p1:.4g}"
                  f" (wider: {'yes' if gap > p3 - p1 else 'no'})")
            allowed = m["bound"] * pm
            print(f"    spread (IQR) parent {p3 - p1:.4g}, change {c3 - c1:.4g};"
                  f" allowed {allowed:.4g}"
                  f" (steady: parent {'yes' if p3 - p1 <= allowed else 'no'},"
                  f" change {'yes' if c3 - c1 <= allowed else 'no'})")


if __name__ == "__main__":
    main()
