#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark from
source (`build.py`, into `$CARGO_TARGET_DIR`, default `.bench_build`),
generates the batch tables once (`gen_tables.py`), runs the workload in
one JVM and prints one JSON result line as the last line of stdout:
`{"correct", "attempted", "failed", "metrics"}`. Everything the run
writes stays under the build directory.

Workloads are described in BENCHMARK.json. `--record` instead re-pins the
batch workload's expected per-query digests (expected/batch_corpus.json)
and dumps each query's output for `tools/oracle_check.py`.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("batch_corpus", "stream_app")
SF = "0.1"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def ensure_data(build_dir, sf):
    """The batch tables at scale factor `sf`, generated once per generator
    version."""
    gen = os.path.join(HERE, "gen_tables.py")
    with open(gen, "rb") as f:
        key = hashlib.sha256(f.read() + sf.encode()).hexdigest()[:12]
    data = os.path.join(build_dir, f"data-sf{sf}-{key}")
    if not os.path.isdir(data):
        tmp = f"{data}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, gen, tmp, sf], check=True,
                       stdout=sys.stderr, timeout=300)
        build.publish(tmp, data)
    return data


def cpu_times():
    """Aggregate jiffies of the `cpu` line of /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, default="batch_corpus")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(root, ".bench_build"))
    try:
        cp = build.build(build_dir)
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")
    data = ensure_data(build_dir, SF)

    work = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    expected = os.path.join(HERE, "expected", "batch_corpus.json")
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xmx4g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--out", result,
            "--expected", expected, "--cores", str(cores)])
    if a.record:
        record_dir = os.path.join(build_dir, "record")
        shutil.rmtree(record_dir, ignore_errors=True)
        cmd += ["--record", record_dir]
    cpu0 = cpu_times()
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: {a.workload} did not finish in {JVM_TIMEOUT_S}s")
    cpu1 = cpu_times()
    if cpu0 and cpu1 and sum(cpu1) > sum(cpu0):
        # the context for reading a slow run's wall-clock numbers: time a
        # hypervisor gave the host's CPUs to other guests (steal), and CPU
        # time other processes on the host used while the run was on
        hz = os.sysconf("SC_CLK_TCK")
        total = sum(cpu1) - sum(cpu0)
        ru = resource.getrusage(resource.RUSAGE_CHILDREN)
        jvm = (ru.ru_utime - ru0.ru_utime + ru.ru_stime - ru0.ru_stime) * hz
        busy = sum(cpu1[i] - cpu0[i] for i in (0, 1, 2, 5, 6))
        others = max(0.0, busy - jvm)
        print(f"perfbench: CPU steal during the run: {(cpu1[7] - cpu0[7]) / total:.1%}, "
              f"used by other processes: {others / total:.1%}", file=sys.stderr)
    if rc != 0 or not os.path.isfile(result):
        sys.exit(f"perfbench: {a.workload} exited with {rc}")
    with open(result) as f:
        line = json.load(f)
    trace = os.path.join(work, "trace.json")
    if os.path.isfile(trace):
        keep = os.path.join(build_dir, "traces", f"{a.workload}-{a.seed}-{int(time.time())}.json")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        shutil.move(trace, keep)
        print(f"perfbench: trace written to {keep}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
