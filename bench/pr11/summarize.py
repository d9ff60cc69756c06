"""Summarize alternating runs of one workload on two checkouts.

Usage: python3 bench/pr11/summarize.py DIR WORKLOAD A_LABEL B_LABEL SEED...
Prints, per metric, each side's median [q1, q3], B's relative move, the
pairs B reads lower (every metric here is better lower) and the distance
between A's quartiles, then one row per pair with wall.tsv's run wall
time, as markdown. Counts that only a traced run records are printed
when present.
"""
import json
import os
import statistics
import sys

METRICS = ["wall_s", "group.sketch_s", "group.hourly_s", "group.walk_s",
           "group.window_s", "group.user_s", "group.door_s", "group.batches",
           "group.jobs_per_batch", "spark.jobs", "spark.stages", "spark.tasks",
           "item_p50_ms", "item_p90_ms", "setup_s", "peak_rss_mb", "jvm.cpu_s"]


def quart(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[1], q[0], q[2]


def main():
    d, w, la, lb, seeds = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5:]
    rec = {}
    for side in (la, lb):
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
    print(f"| metric | {la} | {lb} | {lb} vs {la} | {lb} lower | {la} q3-q1 |")
    print("|---|---|---|---|---|---|")
    f = lambda t: f"{t[0]:,.2f} [{t[1]:,.2f}, {t[2]:,.2f}]"
    for k in METRICS:
        if not all(k in rec[side, s] for side in (la, lb) for s in seeds):
            continue
        a = [rec[la, s][k] for s in seeds]
        b = [rec[lb, s][k] for s in seeds]
        qa, qb = quart(a), quart(b)
        lower = sum(bv < av for av, bv in zip(a, b))
        move = 100 * (qb[0] / qa[0] - 1) if qa[0] else 0.0
        print(f"| `{k}` | {f(qa)} | {f(qb)} | {move:+.1f} % | "
              f"{lower}/{len(seeds)} | {qa[2] - qa[1]:,.2f} |")
    if wall:
        for side in (la, lb):
            ts = [wall[side, s] for s in seeds if (side, s) in wall]
            if ts:
                print(f"\nrun wall {side}: median {statistics.median(ts):.1f} s, "
                      f"max {max(ts):.1f} s")
    cols = [k for k in ("wall_s", "group.user_s", "group.window_s", "group.sketch_s",
                        "group.batches", "item_p50_ms") if k in rec[la, seeds[0]]]
    print("\n| seed | " + " | ".join(f"{k} {la} | {k} {lb}" for k in cols) + " |")
    print("|---|" + "---|---|" * len(cols))
    for s in seeds:
        row = [s]
        for k in cols:
            row += [f"{rec[la, s][k]:,.2f}", f"{rec[lb, s][k]:,.2f}"]
        print("| " + " | ".join(row) + " |")


if __name__ == "__main__":
    main()
