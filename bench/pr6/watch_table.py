"""Poll a perfbench run's state-table directory every 10 ms and count what
the table deletes: each top-level segment directory that vanishes counts
as 1 + every file it was seen to hold (the writer's own `_temporary` entries are
not counted), each vanished manifest as 1. Frees in the last second
before the table directory vanishes (the run removing its tmpdir) are
dropped. Usage: watch_table.py <perfbench dir> <out.json>"""
import glob, json, os, sys, time
root, out = sys.argv[1], sys.argv[2]
t_end = time.time() + 900
table = None
last = {}           # top-level name -> set of files it held when last seen
freed = []          # (time, name, entries)
bases_seen = set()
while time.time() < t_end:
    if table is None:
        c = glob.glob(os.path.join(root, ".run", "*", "state"))
        if not c:
            time.sleep(0.05); continue
        table = c[0]
    try:
        names = os.listdir(table)
    except FileNotFoundError:
        break
    now = {}
    for n in names:
        p = os.path.join(table, n)
        if n.startswith("s") and os.path.isdir(p):
            files = set()
            for d, dirs, fs in os.walk(p):
                dirs[:] = [x for x in dirs if x != "_temporary"]
                files.update(os.path.relpath(os.path.join(d, f), p) for f in fs)
            now[n] = files
            if n.endswith("b"):
                bases_seen.add(n)
        elif n.startswith("m"):
            now[n] = set()
    t = time.time()
    for n in set(last) - set(now):
        freed.append((t, n, 1 + len(last[n])))
    for n, fs in now.items():
        # union: GC unlinks a segment's files one by one, so the last
        # sighting may hold only a few of them
        last[n] = last.get(n, set()) | fs
    for n in set(last) - set(now):
        del last[n]
    time.sleep(0.01)
gone = time.time()
freed = [(n, e) for t, n, e in freed if t < gone - 1.0]
seg = [(n, e) for n, e in freed if n.startswith("s")]
bases_freed = [n for n, _ in seg if n.endswith("b")]
res = {"segment_dirs_freed": len(seg),
       "segment_entries_freed": sum(e for _, e in seg),
       "delta_entries": sorted({e for n, e in seg if n.endswith("d")}),
       "base_entries": sorted({e for n, e in seg if n.endswith("b")}),
       "manifests_freed": len([n for n, _ in freed if n.startswith("m")]),
       "compactions_seen": len(bases_seen),
       "bases_freed": len(bases_freed)}
json.dump(res, open(out, "w"))
print(json.dumps(res))
