#!/usr/bin/env python3
"""Summarize or compare sets of benchmark run records.

    python3 perfbench/compare.py DIR            # spread of each metric in one set
    python3 perfbench/compare.py BASE_DIR NEW_DIR  # medians of two sets, side by side

A DIR holds the per-run records that run.py writes to
perfbench/.work/results/ (copy them aside between sets). For each workload
and end-to-end metric it prints the median over the untraced runs and the
quartile spread, (Q3 - Q1) / median from statistics.quantiles(n=4), next to
the metric's bound from BENCHMARK.json. Two sets are compared only when
every record was taken on the same input layout (nproc, sf part files and
row groups); otherwise the comparison is refused.
"""
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load(d):
    recs = [json.load(open(f)) for f in sorted(glob.glob(os.path.join(d, "*.json")))]
    return [r for r in recs if r.get("trace") == 0]


def layout_key(r):
    sf = {t: (v["files"], v["row_groups"]) for t, v in (r["layout"]["sf"] or {}).items()}
    return json.dumps({"nproc": r["layout"]["nproc"], "sf": sf}, sort_keys=True)


def summary(recs):
    out = {}
    for r in recs:
        for k, m in r["end_to_end"].items():
            out.setdefault(r["workload"], {}).setdefault(k, []).append(m["value"])
    return out


def spread(vals):
    if len(vals) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return (q3 - q1) / statistics.median(vals)


def main():
    bounds = {m["name"]: m["bound"]
              for m in json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))["end_to_end"]}
    sets = [load(d) for d in sys.argv[1:]]
    keys = {layout_key(r) for recs in sets for r in recs}
    if len(keys) > 1:
        sys.exit(f"refused: records were taken on {len(keys)} different input layouts")
    sums = [summary(s) for s in sets]
    for wl in sorted(sums[0]):
        for k, vals in sums[0][wl].items():
            line = (f"{wl:18s} {k:14s} n={len(vals):2d} median={statistics.median(vals):10.4f} "
                    f"spread={spread(vals):.4f} bound={bounds.get(k)}")
            if len(sums) > 1 and k in sums[1].get(wl, {}):
                new = statistics.median(sums[1][wl][k])
                line += (f" | new median={new:10.4f} spread={spread(sums[1][wl][k]):.4f} "
                         f"change={(new / statistics.median(vals) - 1):+.4f}")
            print(line)


if __name__ == "__main__":
    main()
