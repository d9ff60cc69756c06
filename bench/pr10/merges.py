"""Summarize the per-merge timing lines of a traced run (one JSON object
per merge, written by a copy patched with instrument.py).

Usage: python3 bench/pr10/merges.py MERGES.jsonl
Per kind of merge (ordinary, compacting, the merge after a compaction):
count, median and max total ms, median file fsyncs, and the deletes its
GC made (the synced entries a cycle frees are the GC deletes of the
merge after each compaction).
"""
import json
import statistics
import sys


def main():
    ms = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
    kinds = {}
    for i, m in enumerate(ms):
        after = i > 0 and ms[i - 1]["compacting"]
        k = "compacting" if m["compacting"] else ("after compaction" if after else "ordinary")
        kinds.setdefault(k, []).append(m)
    print("| merge | n | median ms | max ms | file fsyncs (median) | GC deletes (each) | GC ms (median) |")
    print("|---|---|---|---|---|---|---|")
    for k in ("ordinary", "compacting", "after compaction"):
        xs = kinds.get(k, [])
        if not xs:
            continue
        tot = [m["ms"] for m in xs]
        fs = [m["steps"].get("merge.fsync", [0, 0])[0] for m in xs]
        gcd = [m["steps"].get("gc.delete", [0, 0])[0] for m in xs]
        print(f"| {k} | {len(xs)} | {statistics.median(tot):,.0f} | {max(tot):,.0f} | "
              f"{statistics.median(fs):g} | {sorted(set(gcd))} | "
              f"{statistics.median(m['gc_ms'] for m in xs):,.1f} |")
    steps = {}
    for m in ms:
        for s, (n, t) in m["steps"].items():
            a = steps.setdefault(s, [0, 0.0])
            a[0] += n
            a[1] += t
    print("\n| step | count | total s |")
    print("|---|---|---|")
    for s, (n, t) in sorted(steps.items()):
        print(f"| {s} | {n} | {t / 1000:.2f} |")
    print(f"\nmerges {len(ms)}, total {sum(m['ms'] for m in ms) / 1000:.2f} s")


if __name__ == "__main__":
    main()
