#!/usr/bin/env python3
"""Security-middleware benchmark: build, then run one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload policy_heavy --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt (the classpath
is cached under the build directory until a source file changes), runs one
JVM for the workload and relays its output. The input tables, the same for
every seed, are written once under the build directory's `cache/`. The last line of standard
output is one JSON object with `correct`, `attempted`, `failed` and
`metrics`. Extra options: `--size small` shrinks every input for smoke
tests; `--dump-inputs` prints the digest of the seed's generated inputs.
"""
import argparse
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("policy_heavy", "masked_scan")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 needs these outside spark-submit (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def newest_source_mtime():
    newest = 0.0
    roots = [os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties"), os.path.join(ROOT, "src", "main")]
    for r in roots:
        if os.path.isfile(r):
            newest = max(newest, os.path.getmtime(r))
        for d, _, files in os.walk(r):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def cache_dir():
    return os.path.join(build_dir(), "cache")


def classpath():
    """Compile with sbt when a source is newer than the cached classpath."""
    out = build_dir()
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.isfile(cp_file) and os.path.getmtime(cp_file) >= newest_source_mtime():
        with open(cp_file) as f:
            return f.read().strip()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: the program's sources (src/main/scala) are missing")
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "small"), default="full")
    ap.add_argument("--dump-inputs", action="store_true")
    args = ap.parse_args()

    cp = classpath()
    out = build_dir()
    run_dir = os.path.join(out, "runs", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    # a fixed-size heap keeps the collector from resizing it mid-run
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--size", args.size, "--run-dir", run_dir, "--cache-dir", cache_dir(),
            "--span-dir", os.path.join(out, "spans")])
    if args.dump_inputs:
        cmd.append("--dump-inputs")
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write("\n".join("# " + l for l in lines[-50:]) + "\n" if lines else "")
        sys.stderr.write("perfbench: the benchmark JVM exited with %d\n" % proc.returncode)
        sys.exit(1)
    sys.stdout.write(proc.stdout)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
