"""Summarize the alternating parent/change records of one directory.

Usage: python3 bench/pr10/summarize.py DIR WORKLOAD SEED...
Prints, per metric, each side's median [q1, q3], the change's relative
move and the pairs it wins, then one row per pair (with wall.tsv's run
wall time), as markdown.
"""
import json
import os
import statistics
import sys

GATED = [("setup_s", "lower"), ("published_p90_ms", "lower"),
         ("frames_per_s", "higher"), ("peak_rss_mb", "lower")]
LAYER = [("visible_p90_ms", "lower"), ("state.add_batch_ms", "lower"),
         ("published_p50_ms", "lower"), ("visible_p50_ms", "lower")]


def quart(xs):
    xs = sorted(xs)
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[1], q[0], q[2]


def main():
    d, w, seeds = sys.argv[1], sys.argv[2], sys.argv[3:]
    rec = {}
    for side in ("parent", "change"):
        for s in seeds:
            r = json.load(open(os.path.join(d, f"{w}_{side}_seed{s}.json")))
            assert r["correct"] and r["failed"] == 0, (side, s)
            rec[side, s] = {**r["per_layer"], **r["end_to_end"]}
    wall = {}
    wp = os.path.join(d, "wall.tsv")
    if os.path.exists(wp):
        for line in open(wp):
            ww, side, s, t = line.split()
            if ww == w:
                wall[side, s] = float(t)
    v = lambda side, s, k: rec[side, s][k]
    print("| metric | parent | change | change vs parent | wins |")
    print("|---|---|---|---|---|")
    for k, better in GATED + LAYER:
        p = [v("parent", s, k) for s in seeds]
        c = [v("change", s, k) for s in seeds]
        mp, mc = quart(p), quart(c)
        wins = sum((cv > pv) if better == "higher" else (cv < pv) for pv, cv in zip(p, c))
        f = lambda t: f"{t[0]:,.1f} [{t[1]:,.1f}, {t[2]:,.1f}]"
        print(f"| `{k}` | {f(mp)} | {f(mc)} | {100 * (mc[0] / mp[0] - 1):+.1f} % | {wins}/{len(seeds)} |")
    if wall:
        for side in ("parent", "change"):
            ts = [wall[side, s] for s in seeds if (side, s) in wall]
            print(f"\nwall {side}: median {statistics.median(ts):.1f} s, max {max(ts):.1f} s")
    print("\n| seed | p90 P | p90 C | f/s P | f/s C | setup P | setup C | rss P | rss C | vis90 P | vis90 C | wall P | wall C |")
    print("|---|---|---|---|---|---|---|---|---|---|---|---|---|")
    for s in seeds:
        row = [s]
        for k, fmt in (("published_p90_ms", "{:,.0f}"), ("frames_per_s", "{:,.0f}"),
                       ("setup_s", "{:.1f}"), ("peak_rss_mb", "{:,.0f}"),
                       ("visible_p90_ms", "{:,.0f}")):
            row += [fmt.format(v("parent", s, k)), fmt.format(v("change", s, k))]
        row += [f"{wall.get(('parent', s), float('nan')):.1f}",
                f"{wall.get(('change', s), float('nan')):.1f}"]
        print("| " + " | ".join(row) + " |")


if __name__ == "__main__":
    main()
