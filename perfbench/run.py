#!/usr/bin/env python3
"""Lake benchmark: one run of one workload.

    python3 perfbench/run.py --workload research_reads --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source when they changed (see
build.py), launches one fresh JVM with the Tier-1 environment
(SPARK_GRAFT_CPUS = nproc, heap derived from MemTotal) and a private run
directory under .bench_build/runs that holds the lake, Spark's local dirs and
the JVM's temp dir, and removes that directory afterwards. Progress, the
environment stamp and the workload report go to stdout; the last line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones (the traced
run also keeps its spans in .bench_build/traces).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("lake_day", "curation_batch")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


def steal_ticks():
    """Hypervisor steal, in clock ticks, summed over all cpus."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8])
    except (OSError, IndexError, ValueError):
        return 0


def driver_mem():
    """Heap as Tier-1 derives it: half of MemTotal in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def git_head():
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10)
        return res.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cmd, env, cwd, log_path):
    """Run the JVM, relaying its stdout; kill its process group on timeout."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        deadline = time.monotonic() + JVM_TIMEOUT_S
        try:
            while True:
                line = proc.stdout.readline()
                if line:
                    print(line.rstrip("\n"), flush=True)
                elif proc.poll() is not None:
                    break
                if time.monotonic() > deadline:
                    raise subprocess.TimeoutExpired(cmd, JVM_TIMEOUT_S)
            return proc.wait()
        except BaseException:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            raise


def main():
    # a terminated run still kills and reaps its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    load_start = loadavg()
    steal0 = steal_ticks()
    classpath = build.build()

    runs = os.path.join(build.BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    cpus = str(os.cpu_count() or 1)
    mem = driver_mem()
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(SPARK_GRAFT_CPUS=cpus, SPARK_DRIVER_MEM=mem, SPARK_LOCAL_DIRS=local,
               TMPDIR=tmp)
    out = os.path.join(work, "result.json")
    spans = os.path.join(work, "spans.jsonl")
    cmd = (["java", f"-Xmx{mem}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out, "--spans", spans])
    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{args.workload}-{args.seed}-t{args.trace}.log")
    try:
        code = run_jvm(cmd, env, work, log_path)
        if code != 0 or not os.path.exists(out):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise SystemExit(f"run: JVM exited with code {code} and no result")
        with open(out) as fh:
            res = json.load(fh)
        if args.trace:
            traces = os.path.join(build.BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(spans, os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    steal_s = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    stamp = dict(res["env"], workload=args.workload, seed=args.seed, git_head=git_head(),
                 load_start=load_start, steal_s=steal_s, driver_mem=mem,
                 setup=res["setup"], sizes=res["sizes"])
    print("[perfbench] env " + json.dumps(stamp, sort_keys=True))
    for name, m in res["report"].items():
        print(f"[perfbench] {name} = {m['value']} {m['unit']}")
    for f in res["failures"]:
        print(f"[perfbench] FAILED {f['op']}: {f['class']}: {f['message']}")

    metrics = res["layer"] if args.trace else res["e2e"]
    if args.trace:
        metrics["env.steal_s"] = {"value": steal_s, "unit": "s"}
        metrics["env.load_start"] = {"value": load_start, "unit": "load"}
    for m in metrics.values():
        if m["value"] is None:  # no successful sample: every op failed
            m["value"] = 0.0
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
