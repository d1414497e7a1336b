#!/usr/bin/env python3
"""graft's end-to-end benchmark.

    python3 perfbench/run.py --workload chat --seed 1 --seconds 20 --trace 0

Builds the benchmark runner together with graft's sources from the
checkout it sits in (once per source state), generates the run's inputs
from --seed, runs one workload in one JVM, checks the outputs, and prints
one JSON object as the last line of stdout: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Exits non-zero when the
build or the run fails, or when any output check fails. See README.md.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("chat", "recrawl")
RUN_DIR = os.path.join(HERE, ".run")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
SETUP_REPS = 5
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars():
    """The jars of the Spark distribution graft builds against, which
    SPARK_HOME names; build and run both take them from here."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BenchError("SPARK_HOME is not set: point it at the Spark distribution")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise BenchError(f"no Spark jars under {home}: set SPARK_HOME")
    return jars


def source_files():
    graft_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(graft_src, "graft")):
        raise BenchError(f"no graft sources under {graft_src}: run from a full checkout")
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (graft_src, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names if n.endswith((".scala", ".java")))
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the runner with sbt, unless the classes already
    match the sources."""
    stamp = source_stamp()
    if os.path.exists(STAMP) and os.path.isdir(CLASSES):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return stamp
    env = dict(os.environ, COURSIER_MODE="offline",
               SPARK_HOME=os.path.dirname(spark_jars()))
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                              cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                              timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise BenchError(f"build failed (sbt exit {proc.returncode}), log in {log}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return stamp


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(plan_path, result_path, deadline):
    cp = os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(RUN_DIR, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dfile.encoding=UTF-8",
            "-cp", cp, "graftbench.Main", plan_path, result_path])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(RUN_DIR, "spark-local"))
    log = os.path.join(RUN_DIR, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=RUN_DIR, env=env, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("the benchmark JVM overran its time limit")
    if code != 0 or not os.path.exists(result_path):
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise BenchError(f"the benchmark JVM failed (exit {code}), log in {log}")
    with open(result_path) as fh:
        return json.load(fh)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.monotonic()
    try:
        stamp = build()
        deadline = time.monotonic() + JVM_TIMEOUT_S
        shutil.rmtree(RUN_DIR, ignore_errors=True)
        os.makedirs(os.path.join(RUN_DIR, "tmp"))
        plan = dict(workload=args.workload, seed=args.seed, seconds=args.seconds,
                    trace=bool(args.trace), root=RUN_DIR, tables=gen.TABLES_DIR,
                    corpus=gen.CORPUS, cpus=cpus(), setup_reps=SETUP_REPS)
        plan.update(gen.make_plan(args.workload, args.seed))
        plan_path = os.path.join(RUN_DIR, "plan.json")
        with open(plan_path, "w") as fh:
            json.dump(plan, fh)
        result = run_jvm(plan_path, os.path.join(RUN_DIR, "result.json"), deadline)
        failures = checks.check(args.workload, plan, result)
        attempted = int(result["attempted"])
        failed = int(result["failed"]) + len(failures)
        metrics, problems = report.metrics(args.workload, plan, result, bool(args.trace), failed)
    except (BenchError, OSError, subprocess.SubprocessError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    failures += problems
    # a failed span-coverage check fails the run without being an operation
    failed = min(failed + len(problems), attempted)
    for f in failures[:20]:
        print(f"check failed: {f}", file=sys.stderr)
    for e in result.get("errors", []):
        print(f"operation failed: {e}", file=sys.stderr)
    provenance = dict(result.get("provenance", {}), workload=args.workload, seed=args.seed,
                      seconds=args.seconds, trace=args.trace, nproc=cpus(), heap=HEAP,
                      git_sha=git_sha(), source_stamp=stamp, setup_reps=SETUP_REPS,
                      wall_s=round(time.monotonic() - started, 3),
                      samples=report.sample_summary(result))
    print(json.dumps({"provenance": provenance}, sort_keys=True))
    correct = not failures and failed == 0 and attempted > 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
