#!/usr/bin/env python3
"""Run a workload over several seeds and report each metric's spread.

Each seed runs once, untraced, with its full record kept in OUT. The
summary (OUT/spread_<workload>.json) gives, for every end-to-end figure,
the ten (or however many) values, their median and the distance between
the first and third quartile as a share of the median -- the statistic
the benchmark's bounds are checked against (`statistics.quantiles(n=4)`).
With --traced, the summary also gives the tracing overhead: the traced
record's end-to-end figures minus the untraced medians.

Usage (from the repository root):
  python3 perfbench/tools/spread.py --workload alert_live --seeds 1,2,3 \\
      --seconds 10 --out perfbench/records [--traced RECORD] [--summarize]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--traced")
    ap.add_argument("--summarize", action="store_true",
                    help="only summarize records already in --out")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    os.makedirs(a.out, exist_ok=True)
    runs = []
    for s in seeds:
        rec = os.path.join(a.out, f"{a.workload}_seed{s}.json")
        if not a.summarize:
            t = time.time()
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                                "--seed", str(s), "--seconds", a.seconds, "--trace", "0",
                                "--record", rec], capture_output=True, text=True)
            print(f"seed {s}: exit {r.returncode} in {time.time() - t:.1f} s", flush=True)
        if os.path.exists(rec):
            runs.append(json.load(open(rec)))
    metrics = {}
    for r in runs:
        for k, v in r["end_to_end"].items():
            metrics.setdefault(k, []).append(v)
    summary = {"workload": a.workload, "seconds": int(a.seconds), "seeds": seeds,
               "runs": len(runs), "all_correct": all(r["correct"] for r in runs),
               "metrics": {}}
    for k, vs in sorted(metrics.items()):
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        summary["metrics"][k] = {"values": vs, "median": med, "q1": q1, "q3": q3,
                                 "iqr_over_median": (q3 - q1) / med if med else None}
        print(f"{a.workload} {k}: median {med:.3f}  iqr/median {(q3 - q1) / med:.3f}")
    if a.traced:
        t = json.load(open(a.traced))
        summary["tracing_overhead"] = {
            k: {"traced": v, "untraced_median": summary["metrics"][k]["median"],
                "delta": v - summary["metrics"][k]["median"],
                "share": (v - summary["metrics"][k]["median"]) / summary["metrics"][k]["median"]}
            for k, v in sorted(t["end_to_end"].items()) if k in summary["metrics"]}
    with open(os.path.join(a.out, f"spread_{a.workload}.json"), "w") as f:
        json.dump(summary, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
