#!/usr/bin/env python3
"""Benchmark of the ingest pipeline, run from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>
    python3 perfbench/run.py --self-test

The first call in a checkout compiles the library's sources together with
the benchmark (sbt, offline) into .bench_build/, and later calls reuse that
build while the sources are unchanged. Each call then runs one workload in
one JVM. The last line of stdout is the JSON result; progress and logs go
to stderr. `--self-test` runs the benchmark's own tests instead.
"""

import argparse
import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

WORKLOADS = ("kafka_small", "day_backlog", "read_back")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit; the library's build.sbt
# passes the same list to its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    """Every file the build reads, in a stable order."""
    files = [root / "build.sbt", root / "perfbench" / "build.sbt",
             root / "perfbench" / "project" / "build.properties"]
    for d in (root / "src" / "main", root / "perfbench" / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def fingerprint(root):
    h = hashlib.sha256()
    for f in sources(root):
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Xmx2g", "-Dsbt.offline=true", "-Dsbt.server.forcestart=false"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt(root, *tasks, timeout):
    return subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", *tasks],
        cwd=root / "perfbench", env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=timeout)


def classpath(root):
    """The compiled classpath, rebuilt when any source changed."""
    build = root / ".bench_build"
    stamp = build / "classpath.json"
    fp = fingerprint(root)
    if stamp.is_file():
        saved = json.loads(stamp.read_text())
        if saved.get("fingerprint") == fp:
            return saved["classpath"]
    print("perfbench: building (sbt compile)", file=sys.stderr)
    proc = sbt(root, "compile", "export Runtime/fullClasspath", timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if "sbt-target" in l and ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode})")
    build.mkdir(parents=True, exist_ok=True)
    stamp.write_text(json.dumps({"fingerprint": fp, "classpath": lines[-1]}))
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "build.sbt").is_file() or not (root / "src" / "main" / "scala").is_dir():
        fail(f"{root} is not a checkout of the library (no build.sbt or src/main/scala)")
    if args.self_test:
        proc = sbt(root, "test", timeout=BUILD_TIMEOUT_S)
        sys.stderr.write(proc.stdout)
        sys.exit(proc.returncode)
    if args.workload is None or args.seed is None or args.seconds is None:
        fail("--workload, --seed and --seconds are required")

    cp = classpath(root)
    tmp = root / ".bench_build" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # A fixed, pre-touched heap, the library's JIT settings and earlier JIT
    # compilation keep heap growth and warm-up out of the timed iterations.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:CompileThresholdScaling=0.2",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dio.netty.tryReflectionSetAccessible=true"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--root", str(root)]
    proc = subprocess.Popen(cmd, cwd=root)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    sys.exit(code)


if __name__ == "__main__":
    main()
