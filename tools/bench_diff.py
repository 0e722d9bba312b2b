#!/usr/bin/env python3
"""Compare two BENCH_DETAIL.json files (e.g. this round vs last) and
print per-query deltas worth looking at.

Usage: bench_diff.py <old.json> <new.json> [threshold_ratio=1.3]

Prints queries whose median moved by more than the threshold in either
direction (regressions first), plus totals. New/removed queries are
listed separately. Medians only — sample noise is the reader's problem;
re-run `SPARK_GRAFT_ONLY=<name> sbt "runMain graft.Bench"` (a fresh
session, one untimed warmup, then median-of-3) to confirm anything
surprising.

When both files carry the per-sample layer arrays (jobs, tasks,
shuffle_bytes, run_ms, gap_ms), each moved query gets a second line with
the change in each layer's median: which layer the time went to.
Queries whose median is null (every sample failed) are skipped.
"""
import json
import sys


def med(v):
    return v["median"] if isinstance(v, dict) else v


# (detail key, label, scale): medians of the per-sample layer arrays
LAYERS = [("jobs", "jobs", 1), ("tasks", "tasks", 1),
          ("shuffle_bytes", "shuffle MiB", 1 / 2**20),
          ("run_ms", "run ms", 1), ("gap_ms", "gap ms", 1)]


def layer_med(v, key):
    xs = sorted(v.get(key) or []) if isinstance(v, dict) else []
    return xs[len(xs) // 2] if xs else None


def layer_deltas(a, b):
    parts = []
    for key, label, scale in LAYERS:
        x, y = layer_med(a, key), layer_med(b, key)
        if x is None or y is None:
            return ""
        x, y = round(x * scale, 1), round(y * scale, 1)
        parts.append(f"{label} {x:g}->{y:g} ({y - x:+g})")
    return "; ".join(parts)


def main():
    old_path, new_path = sys.argv[1], sys.argv[2]
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.3
    old = json.load(open(old_path))["queries"]
    new = json.load(open(new_path))["queries"]
    both = sorted(q for q in set(old) & set(new)
                  if med(old[q]) is not None and med(new[q]) is not None)
    moved = []
    for q in both:
        a, b = med(old[q]), med(new[q])
        if a <= 0:
            continue
        r = b / a
        if r > thr or r < 1 / thr:
            moved.append((r, q, a, b))
    moved.sort(reverse=True)
    print(f"== moved >{thr}x ({len(moved)} of {len(both)} shared queries)")
    for r, q, a, b in moved:
        tag = "SLOWER" if r > 1 else "faster"
        print(f"  {q:35s} {a:6.2f} -> {b:6.2f}  ({r:.2f}x {tag})")
        deltas = layer_deltas(old[q], new[q])
        if deltas:
            print(f"  {'':35s} {deltas}")
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    if added:
        print(f"== new: {', '.join(added)}")
    if removed:
        print(f"== removed: {', '.join(removed)}")
    ta = sum(med(v) or 0 for v in old.values())
    tb = sum(med(v) or 0 for v in new.values())
    print(f"== totals: {ta:.1f}s ({len(old)}q) -> {tb:.1f}s ({len(new)}q)")


if __name__ == "__main__":
    main()
