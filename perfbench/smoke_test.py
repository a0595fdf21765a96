#!/usr/bin/env python3
"""Clean-checkout smoke test of the benchmark.

    python3 perfbench/smoke_test.py [--uncommitted]

Clones the repository (HEAD; with --uncommitted, the working tree's tracked
and unignored files instead) into a fresh directory under
.bench_build/smoke, so no earlier build output, warehouse or checkpoint can
be reused. There it runs the exact BENCHMARK.json command at the tiny input
size (PERFBENCH_SCALE=tiny) for every workload, traced and untraced, and
asserts: exit 0, the four result keys, every declared metric printed with
its unit, and correct = true with failed = 0. Last, it runs the command in
a directory holding only BENCHMARK.json and the benchmark's paths, where it
must fail without printing a result. Needs no network.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEFTOVERS = ["target", "project/target", "perfbench/target", "perfbench/project/target",
             ".bench_build", "spark-warehouse", "metastore_db"]


def check(cond, msg):
    if not cond:
        print(f"FAIL: {msg}", file=sys.stderr)
        sys.exit(1)


def fresh_copy(dest, uncommitted):
    if not uncommitted:
        subprocess.run(["git", "clone", "--quiet", REPO, dest], check=True)
        return
    files = subprocess.run(["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
                           cwd=REPO, check=True, capture_output=True).stdout.decode().split("\0")
    for f in filter(None, files):
        src = os.path.join(REPO, f)
        if os.path.isfile(src):
            os.makedirs(os.path.dirname(os.path.join(dest, f)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, f))


def run(cmd, cwd, env):
    proc = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=1200)
    return proc.returncode, proc.stdout, proc.stderr


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--uncommitted", action="store_true")
    args = ap.parse_args()

    base = os.path.join(REPO, ".bench_build", "smoke")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(dir=base)
    try:
        clone = os.path.join(work, "checkout")
        fresh_copy(clone, args.uncommitted)
        for d in LEFTOVERS:
            check(not os.path.exists(os.path.join(clone, d)), f"fresh checkout already holds {d}")
        spec = json.load(open(os.path.join(clone, "BENCHMARK.json")))
        env = dict(os.environ, PERFBENCH_SCALE="tiny")
        for w in spec["workloads"]:
            for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
                cmd = spec["command"] + ["--workload", w["name"], "--seed", "1",
                                         "--seconds", "2", "--trace", str(trace)]
                code, out, err = run(cmd, clone, env)
                check(code == 0, f"{w['name']} trace={trace} exited {code}:\n{err[-3000:]}")
                res = json.loads(out.strip().splitlines()[-1])
                check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"result keys {sorted(res)}")
                check(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
                      f"{w['name']} trace={trace}: {res} {out.strip().splitlines()[-2][:2000]}")
                for m in declared:
                    got = res["metrics"].get(m["name"])
                    check(got is not None and got["unit"] == m["unit"] and
                          isinstance(got["value"], (int, float)),
                          f"{w['name']} trace={trace}: metric {m['name']} is {got}")
                print(f"ok {w['name']} trace={trace} attempted={res['attempted']}", flush=True)

        bare = os.path.join(work, "bare")
        os.makedirs(bare)
        shutil.copy(os.path.join(clone, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(REPO, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("target"))
        w = spec["workloads"][0]["name"]
        code, out, _ = run(spec["command"] + ["--workload", w, "--seed", "1", "--seconds", "2",
                                              "--trace", "0"], bare, env)
        check(code != 0 and '"correct"' not in out, f"bare directory: exit {code}, stdout {out[-500:]}")
        print("ok bare directory fails without a result")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
