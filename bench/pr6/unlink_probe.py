"""Time unlink and rename-over of fsync'd vs unsynced small files on the
filesystem holding this script's working directory."""
import os, time, statistics, json
d = os.path.abspath("unlink_probe_dir"); os.makedirs(d, exist_ok=True)
def mk(p, sync):
    with open(p, "wb") as f:
        f.write(b"x" * 4096)
        if sync: f.flush(); os.fsync(f.fileno())
def t(fn):
    a = time.perf_counter(); fn(); return (time.perf_counter() - a) * 1000
res = {}
for sync in (True, False):
    xs = []
    for i in range(20):
        p = os.path.join(d, f"f{i}"); mk(p, sync)
        dfd = os.open(d, os.O_RDONLY); os.fsync(dfd); os.close(dfd)
        time.sleep(0.05)
        xs.append(t(lambda: os.unlink(p)))
    res[f"unlink_{'synced' if sync else 'unsynced'}_ms"] = statistics.median(xs)
xs = []
cur = os.path.join(d, "_CURRENT"); mk(cur, True)
for i in range(20):
    tmp = os.path.join(d, "_CURRENT.tmp"); mk(tmp, True)
    time.sleep(0.05)
    xs.append(t(lambda: os.replace(tmp, cur)))
res["rename_over_synced_ms"] = statistics.median(xs)
os.unlink(cur); os.rmdir(d)
print(json.dumps(res))
