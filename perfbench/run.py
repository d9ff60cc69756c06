#!/usr/bin/env python3
"""Run one benchmark workload in a fresh JVM and print its result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
      [--cores C] [--sf DIR] [--record FILE] [--spans FILE]

Workloads: alert_live, alert_bulk, registry_light, replay_groups (see
perfbench/README.md). The program is built from source on first use
(perfbench/build.py). Each run gets a private java.io.tmpdir under
perfbench/.run/, removed afterwards, so no run adopts artifacts, state or
checkpoints of another. The last stdout line is the result object; the
exit code is non-zero when the run fails or its output check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing but .build/ and .run/ behind
import build  # noqa: E402

WORKLOADS = {"alert_live": "2g", "alert_bulk": "3g",
             "registry_light": "2g", "replay_groups": "2g"}
# per-run limit; single-threaded baselines of the batch workloads need more
TIMEOUT_S = int(os.environ.get("PERFBENCH_TIMEOUT_S", "170"))
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    # the bench dataset (TESTDATA.md), as graft.Bench reads it
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")))
    ap.add_argument("--record")
    ap.add_argument("--spans")
    a = ap.parse_args()

    if not os.path.isdir(a.sf):
        sys.exit(f"perfbench: scale-factor directory {a.sf} not found")
    build.build()
    runs = os.path.join(HERE, ".run")
    os.makedirs(runs, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=runs)
    cmd = (["java", f"-Xmx{WORKLOADS[a.workload]}", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", build.classpath(), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(a.cores), "--sf", a.sf,
              "--faces", os.path.join(HERE, "faces.tsv"),
              "--groups", os.path.join(HERE, "groups.tsv")]
           + (["--record", os.path.abspath(a.record)] if a.record else [])
           + (["--spans", os.path.abspath(a.spans)] if a.spans else []))
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "SPARK_LOCAL_DIRS", "STATE_TABLE_PATH",
                                "PUBLISH_LOG_DIR", "ESS_", "AMQP_"))}
    log_path = os.path.join(tmp, "jvm.log")
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE,
                                    stderr=log, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                sys.stderr.write(tail(log_path))
                sys.exit(f"perfbench: {a.workload} exceeded {TIMEOUT_S} s")
        lines = [l for l in out.splitlines() if l.strip()]
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
            sys.stderr.write(tail(log_path))
            sys.exit(f"perfbench: {a.workload} printed no result (exit {proc.returncode})")
        if proc.returncode != 0 or not result["correct"]:
            sys.stderr.write(tail(log_path))
        print(json.dumps(result))
        sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)


def tail(path, n=40):
    try:
        with open(path) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


if __name__ == "__main__":
    main()
