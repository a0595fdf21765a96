#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py [--workloads a,b] [--runs 10] [--first-seed 1] [--out file.json]

Runs `perfbench/run.py` once per seed (seeds first-seed .. first-seed+runs-1)
for each workload, from the root of a checkout, and reports for every
end-to-end metric the median and the spread: the distance between the first
and third quartile (statistics.quantiles, n=4) as a share of the median,
next to a third of the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def main():
    spec = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args()

    report = {}
    ok = True
    for w in args.workloads.split(","):
        results = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t = time.time()
            proc = subprocess.run(
                spec["command"] + ["--workload", w, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True)
            wall = time.time() - t
            if proc.returncode != 0:
                print(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
                ok = False
                continue
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            res["wall_s"] = round(wall, 1)
            res["op_ms"] = json.loads(lines[-2]).get("op_ms")
            results.append(res)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"{w} seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
                  f"wall={wall:.0f}s {vals} op_ms={res['op_ms'][:8]}", flush=True)
            ok &= res["correct"]
        rows = {}
        for m in spec["end_to_end"]:
            xs = [r["metrics"][m["name"]]["value"] for r in results]
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            rows[m["name"]] = {"median": med, "spread": spread, "limit": m["bound"] / 3, "values": xs}
            flag = "" if m["name"] == "setup_s" or spread < m["bound"] / 3 else "  <-- above a third of the bound"
            print(f"  {w:16s} {m['name']:18s} median={med:10.4g} spread={spread:.4f} "
                  f"(bound/3={m['bound'] / 3:.4f}){flag}")
        report[w] = {"metrics": rows, "wall_s": [r["wall_s"] for r in results],
                     "op_ms": [r["op_ms"] for r in results]}
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
