"""Poll a perfbench run's state-table directory every 10 ms and count the
directory entries the table frees: each top-level segment directory that
vanishes counts as 1 + every file it was seen to hold (the writer's own
`_temporary` entries are not counted), each vanished manifest as 1, and
each time `_CURRENT` or a `_HEAD*` file is seen with a new inode as 1 (a
rename over it freed the old one). Also counts the merges seen (distinct
segment ids) and the compactions (base segments). Frees in the last
second before the table directory vanishes (the run removing its tmpdir)
are dropped. Usage: watch_table.py <perfbench dir> <out.json>"""
import glob, json, os, sys, time
root, out = sys.argv[1], sys.argv[2]
t_end = time.time() + 900
table = None
last = {}           # top-level name -> set of files it held when last seen
inodes = {}         # pointer/slot name -> inode when last seen
freed = []          # (time, kind, entries)
ids, bases = set(), set()
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
    t = time.time()
    now = {}
    for n in names:
        p = os.path.join(table, n)
        try:
            if n.startswith("s") and os.path.isdir(p):
                files = set()
                for d, dirs, fs in os.walk(p):
                    dirs[:] = [x for x in dirs if x != "_temporary"]
                    files.update(os.path.relpath(os.path.join(d, f), p) for f in fs)
                now[n] = files
                ids.add(n[1:-1])
                if n.endswith("b"):
                    bases.add(n)
            elif n.startswith("m"):
                now[n] = set()
            elif n == "_CURRENT" or n.startswith("_HEAD"):
                ino = os.stat(p).st_ino
                if n in inodes and inodes[n] != ino:
                    freed.append((t, "pointer", 1))
                inodes[n] = ino
        except FileNotFoundError:
            pass
    for n in set(last) - set(now):
        freed.append((t, "segment" if n.startswith("s") else "manifest",
                      1 + len(last[n])))
    for n, fs in now.items():
        # union: GC unlinks a segment's files one by one, so the last
        # sighting may hold only a few of them
        last[n] = last.get(n, set()) | fs
    for n in set(last) - set(now):
        del last[n]
    time.sleep(0.01)
gone = time.time()
freed = [(k, e) for t, k, e in freed if t < gone - 1.0]
total = sum(e for _, e in freed)
res = {"merges_seen": len(ids), "compactions_seen": len(bases),
       "entries_freed": total,
       "segment_entries_freed": sum(e for k, e in freed if k == "segment"),
       "manifests_freed": sum(e for k, e in freed if k == "manifest"),
       "pointer_inodes_freed": sum(e for k, e in freed if k == "pointer"),
       "freed_per_7_merges": round(7 * total / max(len(ids), 1), 1)}
json.dump(res, open(out, "w"))
print(json.dumps(res))
