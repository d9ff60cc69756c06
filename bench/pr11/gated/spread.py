#!/usr/bin/env python3
"""Spread of the gated metrics over alternating parent/change runs.

Reads the result lines W_parent_seedN.json / W_change_seedN.json in this
directory and prints, per gated metric, each side's median [q1, q3], its
quartile distance, and the bound that distance is held to (25 % of the
parent's median; 15 % for peak_rss_mb), as BENCHMARK.json states them.

Usage: python3 bench/pr11/gated/spread.py WORKLOAD FIRST_SEED LAST_SEED
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
GATED = {"setup_s": 0.25, "published_p90_ms": 0.25,
         "frames_per_s": 0.25, "peak_rss_mb": 0.15}


def main():
    w, lo, hi = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    vals = {}
    for side in ("parent", "change"):
        for n in range(lo, hi + 1):
            with open(os.path.join(HERE, f"{w}_{side}_seed{n}.json")) as f:
                r = json.load(f)
            assert r["correct"] and r["failed"] == 0, (side, n)
            for k in GATED:
                vals.setdefault((side, k), []).append(r["metrics"][k]["value"])
    print("| metric | parent | q3-q1 | change | q3-q1 | bound |")
    print("|---|---|---|---|---|---|")
    for k, share in GATED.items():
        cells = []
        for side in ("parent", "change"):
            vs = vals[(side, k)]
            q1, _, q3 = statistics.quantiles(vs, n=4)
            cells += [f"{statistics.median(vs):,.1f} [{q1:,.1f}, {q3:,.1f}]",
                      f"{q3 - q1:,.1f}"]
        bound = share * statistics.median(vals[("parent", k)])
        print(f"| `{k}` | " + " | ".join(cells) + f" | {bound:,.1f} |")


if __name__ == "__main__":
    main()
