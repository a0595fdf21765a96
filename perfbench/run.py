#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library from
`src/main/scala` together with the benchmark program (sbt, offline) into
`.bench_build/perfbench`; later runs reuse that build while the sources are
unchanged. Each run then starts one JVM that generates its inputs from the
seed, sets up, measures for the given number of seconds, checks every
answer against the generator's oracle and reports.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. The line before it carries the workload's
own named figures, the per-layer figures and the run's provenance.

PERFBENCH_SCALE=tiny shrinks every input (see smoke_test.py).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170  # a run (not counting the build) must end within this
# A fixed-size heap with a fixed young generation and the parallel collector:
# heap growth and collector pacing then follow the allocation pattern, not
# timing, so peak RSS and pause times repeat from run to run.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn600m", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]
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


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def tree_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compiles the library and the benchmark unless this source tree is built."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "stamp")
    classpath = os.path.join(BENCH, "target", "classpath.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(classpath) and os.path.exists(stamp) and open(stamp).read() == digest:
            return open(classpath).read().strip()
        # relative to sbt's working directory: sbt binds a unix socket under
        # its temp dir, and an absolute path inside a deep checkout can
        # exceed the socket name limit (108 bytes)
        tmp = os.path.relpath(os.path.join(BUILD, "tmp"), BENCH)
        os.makedirs(os.path.join(BENCH, tmp), exist_ok=True)
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        repos = os.path.expanduser("~/.sbt/repositories")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else ""))
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
               f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
               f"-Djava.io.tmpdir={tmp}", "-Dsbt.server.forcestart=false",
               "compile", "writeClasspath"]
        t = time.time()
        proc = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                              stdin=subprocess.DEVNULL, timeout=840)
        if proc.returncode != 0 or not os.path.exists(classpath):
            fail(f"build failed (exit {proc.returncode})")
        print(f"perfbench: built in {time.time() - t:.1f} s", file=sys.stderr)
        with open(stamp, "w") as fh:
            fh.write(digest)
        return open(classpath).read().strip()


def commit_of(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "tree:" + digest[:16]


def run_jvm(classpath, args, run_root, tag, deadline):
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.exists(java):
        java = "java"
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm_flags = JVM_MEMORY + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                              "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jvm_flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd = [java] + jvm_flags + ["-cp", classpath, "perfbench.Main",
                                "--workload", args.workload, "--seed", str(args.seed),
                                "--seconds", str(args.seconds), "--trace", str(args.trace),
                                "--root", run_root, "--tag", tag,
                                "--scale", os.environ.get("PERFBENCH_SCALE", "normal")]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "spark-local")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_LIMIT_S} s and was stopped")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not lines:
        fail("benchmark JVM printed no result")
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):]), jvm_flags


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no src/main/scala here: run from the root of a checkout of the library")
    if not os.path.exists(spec_path):
        fail("no BENCHMARK.json here")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")

    digest = tree_digest()
    classpath = build(digest)

    started = time.time()
    tag = uuid.uuid4().hex[:12]
    run_root = os.path.join(BUILD, "runs", tag)
    os.makedirs(run_root)
    try:
        res, jvm_flags = run_jvm(classpath, args, run_root, tag, started + RUN_LIMIT_S)
        trace_file = os.path.join(run_root, "trace.json")
        if args.trace and os.path.exists(trace_file):
            keep = os.path.join(BUILD, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(trace_file, os.path.join(keep, f"{args.workload}-seed{args.seed}.json"))
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    # paths relative to the checkout, so results from two checkouts compare
    prov = {k: os.path.relpath(v, ROOT) if isinstance(v, str) and v.startswith(ROOT + os.sep) else v
            for k, v in res["provenance"].items()}
    prov.update({"commit": commit_of(digest), "jvm_flags": " ".join(JVM_MEMORY),
                 "run_wall_s": round(time.time() - started, 3)})
    if args.trace:
        layers = res["layers"]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: res["metrics"][m["name"]] for m in spec["end_to_end"]}
    correct = res["failed"] == 0 and not res["errors"] and all(
        v["value"] is not None for v in metrics.values())
    detail = {"workload": args.workload, "named": res["named"], "errors": res["errors"],
              "op_ms": res["op_ms"], "provenance": prov}
    if args.trace:
        detail["layers"] = res["layers"]
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
