#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

    python3 perfbench/run.py --workload scrape --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run builds the program and the
benchmark from source with sbt (offline, see build.sbt) and records the
classpath; later runs start the JVM directly on that classpath. The last
line on stdout is one JSON object with the keys `correct`, `attempted`,
`failed` and `metrics`; the full artifact goes to perfbench/results/.
Exits non-zero, printing no result, when the build or the run fails.
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
CLASSPATH = BENCH / "target" / "classpath.txt"
WORKLOADS = ("scrape", "dashboard", "analytics")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# JDK 17 needs these to run Spark outside spark-submit (the same list as
# the root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file the build reads from the tree."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "src" / "main", ROOT / "project", BENCH / "src" / "main",
              BENCH / "project"):
        if d.is_dir():
            files += [p for p in d.rglob("*") if p.is_file()
                      and "target" not in p.relative_to(ROOT).parts]
    return [f for f in files if f.exists()]


def build():
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        fail("no program sources (build.sbt, src/main/scala) next to perfbench/; "
             "run from the repository root")
    newest = max(f.stat().st_mtime for f in build_inputs())
    if CLASSPATH.exists() and CLASSPATH.stat().st_mtime >= newest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.offline=true -Xmx2g")
    print("[perfbench] building program and benchmark with sbt", file=sys.stderr)
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
            stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if r.returncode != 0 or not CLASSPATH.exists():
        fail(f"build failed (sbt exit {r.returncode})")


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    os.chdir(ROOT)
    build()

    work = BENCH / "work"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # fewer GC threads leave the 4 cores to Spark's 4 task slots and the
    # load generator; a pre-sized heap keeps heap growth out of the timings
    cmd += ["-Xms2g", "-Xmx3g", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
            "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            # a POST that fails is reported, never silently sent again
            "-Dsun.net.http.retryPost=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", CLASSPATH.read_text().strip(), "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    env = dict(os.environ, PERFBENCH_COMMIT=commit())
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        fail(f"run failed (exit {proc.returncode})")
    try:
        res = json.loads(lines[-1])
    except ValueError:
        fail("run printed no result line")
    if set(res) != {"correct", "attempted", "failed", "metrics"} or res["attempted"] < 1:
        fail(f"malformed result line: {lines[-1][:200]}")
    print(lines[-1])


if __name__ == "__main__":
    main()
