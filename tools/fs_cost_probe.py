"""Time what freeing and rewriting small files costs on one filesystem, and
print one JSON line.

Usage: python3 tools/fs_cost_probe.py [DIR]   (default: the working directory)

Works in a fresh directory under DIR, removed afterwards. Each case is the
median of 20 trials, in milliseconds, each trial after a 50 ms pause:
  unlink_synced_ms        unlink a 4 KiB file whose data was fsync'd
  unlink_unsynced_ms      unlink a 4 KiB file never fsync'd
  unlink_synced_empty_ms  unlink an empty file fsync'd with its directory
  rename_over_synced_ms   rename a synced file over a synced one
  overwrite_fdatasync_ms  overwrite a synced 4 KiB file in place, fdatasync
  unlink_20_synced_ms     20 synced 4 KiB files unlinked back to back (total)
  unlink_synced_4m_ms     unlink a 4 MiB file whose data was fsync'd
  rmdir_synced_dir_ms     remove an empty directory fsync'd with its parent
  rmdir_unsynced_dir_ms   remove an empty directory never fsync'd, after
                          another file's fsync forced a journal commit
plus the filesystem type and mount options of DIR. On a filesystem mounted
with online discard, freeing a synced file's blocks is the expensive step.
"""
import json
import os
import shutil
import statistics
import sys
import tempfile
import time


def mk(p, data, sync):
    with open(p, "wb") as f:
        f.write(data)
        if sync:
            f.flush()
            os.fsync(f.fileno())


def sync_dir(d):
    fd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def timed(fn):
    a = time.perf_counter()
    fn()
    return (time.perf_counter() - a) * 1000


def median_of(trial, n=20):
    xs = []
    for i in range(n):
        setup, act = trial(i)
        setup()
        time.sleep(0.05)
        xs.append(timed(act))
    return round(statistics.median(xs), 3)


def mount_of(d):
    """(fstype, options) of the longest mount point containing d."""
    best = ("", "", "")
    with open("/proc/self/mounts") as f:
        for line in f:
            _, mnt, fstype, opts = line.split()[:4]
            mnt = mnt.replace("\\040", " ")
            if (d == mnt or d.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best[0]):
                best = (mnt, fstype, opts)
    return best[1], best[2]


def main():
    base = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")
    d = tempfile.mkdtemp(prefix="fs_cost_probe_", dir=base)
    block = b"x" * 4096
    p = lambda n: os.path.join(d, n)
    res = {}
    try:
        for sync in (True, False):
            def trial(i, sync=sync):
                return ((lambda: (mk(p(f"f{i}"), block, sync), sync_dir(d))),
                        (lambda: os.unlink(p(f"f{i}"))))
            res[f"unlink_{'synced' if sync else 'unsynced'}_ms"] = median_of(trial)
        big = b"x" * (4 << 20)
        res["unlink_synced_4m_ms"] = median_of(
            lambda i: ((lambda: (mk(p(f"g{i}"), big, True), sync_dir(d))),
                       (lambda: os.unlink(p(f"g{i}")))))

        def synced_dir(i):
            os.mkdir(p(f"sd{i}"))
            sync_dir(p(f"sd{i}"))
            sync_dir(d)
        res["rmdir_synced_dir_ms"] = median_of(
            lambda i: ((lambda: synced_dir(i)), (lambda: os.rmdir(p(f"sd{i}")))))
        res["rmdir_unsynced_dir_ms"] = median_of(
            lambda i: ((lambda: (os.mkdir(p(f"ud{i}")), mk(p(f"j{i}"), block, True))),
                       (lambda: os.rmdir(p(f"ud{i}")))))
        res["unlink_synced_empty_ms"] = median_of(
            lambda i: ((lambda: (mk(p(f"e{i}"), b"", True), sync_dir(d))),
                       (lambda: os.unlink(p(f"e{i}")))))
        mk(p("_CURRENT"), block, True)
        res["rename_over_synced_ms"] = median_of(
            lambda i: ((lambda: mk(p("_CURRENT.tmp"), block, True)),
                       (lambda: os.replace(p("_CURRENT.tmp"), p("_CURRENT")))))
        mk(p("_HEAD0"), block, True)
        sync_dir(d)

        def overwrite():
            fd = os.open(p("_HEAD0"), os.O_WRONLY)
            try:
                os.pwrite(fd, os.urandom(4096), 0)
                os.fdatasync(fd)
            finally:
                os.close(fd)
        res["overwrite_fdatasync_ms"] = median_of(lambda i: ((lambda: None), overwrite))
        for i in range(20):
            mk(p(f"b{i}"), block, True)
        sync_dir(d)
        time.sleep(0.05)
        res["unlink_20_synced_ms"] = round(timed(
            lambda: [os.unlink(p(f"b{i}")) for i in range(20)]), 3)
    finally:
        shutil.rmtree(d)
    res["fstype"], res["mount_options"] = mount_of(base)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
