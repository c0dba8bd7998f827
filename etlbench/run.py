#!/usr/bin/env python3
"""Run one ETL benchmark workload and print its result as the last line.

Usage (from the repository root):
  python3 etlbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine and the harness from
source with sbt (etlbench/build.sbt); later runs reuse the build while
the sources are unchanged. Each run starts one JVM (local[nproc]) that
sets up, runs the closed loop, checks every iteration's output and
prints one JSON object. Exit status 0 means every check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("e1_reload", "e2_cdc_upsert", "lake_merge", "corpus_build")
JVM_TIMEOUT_S = 170  # a run exits within 3 minutes
BUILD_TIMEOUT_S = 700  # build plus one run stays under 15 minutes

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "project", "build.properties"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft; run from a checkout of the repository")
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = f.read().split("\n", 1)
        if len(saved) == 2 and saved[0] == stamp:
            return saved[1].strip()
    os.makedirs(WORK, exist_ok=True)
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log:
        try:
            out = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=BENCH, stdout=subprocess.PIPE, stderr=log, text=True,
                timeout=BUILD_TIMEOUT_S, start_new_session=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log_path}")
        log.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        fail(f"build failed; see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def run_jvm(cp, args, run_dir):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseG1GC",
        "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dderby.system.home={run_dir}",
        # Derby durability: no fsync on commit, the same on every run.
        "-Dderby.system.durability=test",
        f"-Dderby.stream.error.file={run_dir}/derby.log",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "etlbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", run_dir, "--bench-dir", BENCH,
    ]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    # the engine's session reads these tuning overrides; every run uses its defaults
    env.pop("SPARK_GRAFT_SHUFFLE", None)
    env.pop("SPARK_GRAFT_SHJ_THRESHOLD", None)
    with open(os.path.join(WORK, "last-run.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True,
                                env=env, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{args.workload} exceeded {JVM_TIMEOUT_S}s; see {WORK}/last-run.log")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    rc, out = run_jvm(cp, args, run_dir)
    result = None
    for line in reversed(out.splitlines()):
        if line.startswith("{"):
            result = json.loads(line)
            break
    if args.trace:
        spans = os.path.join(run_dir, f"spans-{args.workload}-{args.seed}.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(WORK, os.path.basename(spans)))
    shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        fail(f"{args.workload} printed no result (exit {rc}); see {WORK}/last-run.log")
    print(json.dumps(result))
    sys.exit(0 if rc == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
