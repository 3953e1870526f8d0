#!/usr/bin/env python3
"""Launcher for the graft benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 10 --trace 0

It builds the engine and the harness from source with sbt (once per source
fingerprint; outputs under perfbench/target and .bench_build/), then runs the
workload in one JVM and prints the harness's result, one JSON object, as the
last line of stdout. Progress goes to stderr.
"""
import argparse
import hashlib
import json
import os
import pathlib
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("crawl_mix", "legacy_charset")
JVM_TIMEOUT_S = 175

# Spark on JDK 17 outside spark-submit needs these (as the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def driver_mem():
    """Heap size: half of MemTotal, clamped to 2..8 GiB (the tier-1 rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def fingerprint():
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build's fingerprint still holds;
    returns the runtime classpath."""
    stamp = WORK / "build.stamp"
    cp_file = HERE / "target" / "classpath.txt"
    fp = fingerprint()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    log("building engine + harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = pathlib.Path(os.path.expanduser("~/.sbt/repositories"))
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not cp_file.exists():
        sys.exit("build failed")
    WORK.mkdir(parents=True, exist_ok=True)
    stamp.write_text(fp)
    return cp_file.read_text().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("engine sources (src/main/scala/graft) not found next to perfbench/")
    cp = build()
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    mem = driver_mem()
    cmd = (["java", f"-Xmx{mem}", f"-Xms{mem}", "-XX:+UseG1GC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={WORK / 'spark-local'}", f"-Djava.io.tmpdir={WORK / 'tmp'}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", str(WORK)])
    log(f"{a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} heap={mem}")
    env = dict(os.environ, SPARK_DRIVER_MEM=mem)
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True)

    def stop(signum, _frame):
        p.kill()
        p.wait()
        sys.exit(f"stopped by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.exit(f"harness did not finish within {JVM_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.exit(f"harness failed (exit {p.returncode})")
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
