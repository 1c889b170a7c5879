#!/usr/bin/env python3
"""Index-engine benchmark entry point.

Usage (from the repository root):

    python3 indexbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the library and the benchmark driver with sbt when their sources
changed since the last build (the classpath is cached under
indexbench/target), then runs the workload in a fresh JVM sized from
this host (nproc, MemTotal). The last line of stdout is the result
object; on any failure the script exits non-zero without printing one.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "indexbench-classpath.txt")
WORKLOADS = ("bulk_build", "serve_mix", "upload_stream", "curate_batch")
RUN_BUDGET_S = 175
BUILD_BUDGET_S = 850

# Spark on JDK 17 needs these outside spark-submit (as in the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"indexbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(want):
    """Compile the library and the driver; cache the runtime classpath."""
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the library")
    print("indexbench: building the library and the driver with sbt", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_BUDGET_S)
    except subprocess.TimeoutExpired:
        fail(f"the sbt build did not finish within {BUILD_BUDGET_S} s")
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "indexbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-6000:])
        fail(f"the sbt build failed (exit {p.returncode})")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        json.dump({"stamp": want, "classpath": lines[-1]}, fh)
    return lines[-1]


def classpath():
    want = stamp()
    try:
        with open(CLASSPATH) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == want:
            return cached["classpath"], False
    except (OSError, ValueError):
        pass
    return build(want), True


def host():
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    mem_mb = 8192
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_mb = int(line.split()[1]) // 1024
    except OSError:
        pass
    # 3/32 of the host's memory, between 1 and 4 GiB: the inputs are
    # small, and the host's memory is shared
    heap_mb = max(1024, min(4096, mem_mb * 3 // 32))
    return max(1, cores), heap_mb


def main():
    t0 = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} is missing: run this from a full checkout of the repository")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    cp, built = classpath()
    budget = RUN_BUDGET_S if built else RUN_BUDGET_S - (time.monotonic() - t0)
    cores, heap_mb = host()
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dindexbench.out={TARGET}", f"-Dindexbench.cores={cores}",
           f"-Dindexbench.budget_s={int(budget - 8)}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "indexbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace]
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=budget)
    except subprocess.TimeoutExpired:
        fail(f"workload {a.workload} did not finish within {budget:.0f} s", 3)
    out = p.stdout.rstrip("\n").splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(out[-20:]) + "\n")
        fail(f"workload {a.workload} failed (exit {p.returncode})", p.returncode)
    try:
        res = json.loads(out[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail("the driver printed no result line", 1)
    print("\n".join(out))


if __name__ == "__main__":
    main()
