#!/usr/bin/env python3
"""SF-scaling sweep analysis (VERDICT r9 item 2).

Reads two bench_full.json artifacts taken at different scale factors and
emits per-query scaling exponents alpha = log(t_hi/t_lo) / log(sf_hi/sf_lo)
plus a summary: batch-cut totals, the DuckDB like-for-like ratio at each SF
(if duckbench outputs are given), and every batch row whose wall-time grows
superlinearly (alpha > ALPHA_FLAG) above the scheduling floor (t_hi >=
FLOOR_SEC) — those are the rows that deserve a plan audit before a real
scale-up.

The per-query scheduling floor dominates small rows (a 30 ms DuckDB query
vs Spark's fixed ~0.1-0.5 s of job scheduling), so exponents are only
meaningful for rows whose larger-SF time is above FLOOR_SEC; smaller rows
are reported as "floor" and never flagged.

A sweep flag is an IN-SESSION reading: 236 queries share one JVM, and small
rows swing 2-6x episodically (the d07-family pattern). The adjudication
channel (VERDICT r11 item 3) is a SOLO probe at both SFs — run
`runMain graft.Probe time <sfDir> <q1,q2,...>` at each SF (it writes
tmp/probe_<sf>.json) and pass the files via --probe-lo/--probe-hi: a row
whose SOLO exponent is linear is reclassified `probe_adjudicated` instead of
flagged, with both exponents printed side by side.

Usage:
  python3 scripts/sfsweep.py <bench_lo.json> <sf_lo> <bench_hi.json> <sf_hi> [out.json]
      [--probe-lo tmp/probe_sfA.json --probe-hi tmp/probe_sfB.json]
"""
import json
import math
import sys

ALPHA_FLAG = 1.3   # superlinear threshold (1.0 = linear; log-factors ~1.1)
FLOOR_SEC = 1.0    # below this at the larger SF, the row is scheduling floor

argv = sys.argv[1:]
probe_lo_path = probe_hi_path = None
pos = []
i = 0
while i < len(argv):
    if argv[i] == "--probe-lo":
        probe_lo_path = argv[i + 1]; i += 2
    elif argv[i] == "--probe-hi":
        probe_hi_path = argv[i + 1]; i += 2
    else:
        pos.append(argv[i]); i += 1
if len(pos) < 4:
    sys.exit("usage: sfsweep.py <bench_lo.json> <sf_lo> <bench_hi.json> <sf_hi> "
             "[out.json] [--probe-lo p.json --probe-hi p.json]")
lo_path, sf_lo, hi_path, sf_hi = pos[0], float(pos[1]), pos[2], float(pos[3])
if not (sf_hi > sf_lo > 0):
    sys.exit(f"usage: sf_hi ({sf_hi}) must be > sf_lo ({sf_lo}) > 0 — "
             "swapped or equal SFs would negate or zero every exponent")
out_path = pos[4] if len(pos) > 4 else None
probe_lo = json.load(open(probe_lo_path)) if probe_lo_path else {}
probe_hi = json.load(open(probe_hi_path)) if probe_hi_path else {}

lo = json.load(open(lo_path))
hi = json.load(open(hi_path))

# Probe files must be FOR the SFs being swept (ADVICE r12): `Probe time`
# stamps 'sf' with the sf-dir basename; a wrong-SF probe file would
# compute a meaningless alpha_probe that silently un-flags a genuine
# superlinear row. Fail loudly instead.
def _check_probe_sf(probe, path, bench):
    if not probe:
        return
    psf = probe.get("sf")
    bsf = bench.get("sf", "").rstrip("/").split("/")[-1]
    if psf != bsf:
        sys.exit(f"probe file {path} is for sf '{psf}' but the bench "
                 f"artifact was taken at '{bsf}' — wrong probe file")
_check_probe_sf(probe_lo, probe_lo_path, lo)
_check_probe_sf(probe_hi, probe_hi_path, hi)
ratio = math.log(sf_hi / sf_lo)
tags = hi.get("tags", lo.get("tags", {}))

prov_lo = lo.get("provenance", {})
prov_hi = hi.get("provenance", {})
cost = hi.get("oracle_cost", lo.get("oracle_cost", {}))

rows = []
for q, t_hi in hi["queries"].items():
    t_lo = lo["queries"].get(q)
    if t_lo is None or t_lo <= 0 or t_hi <= 0:
        continue
    alpha = math.log(t_hi / t_lo) / ratio
    # output-size exponent (round 11): a wall-time exponent is only a PLAN
    # verdict relative to output growth — a row whose result set itself
    # grows superlinearly (dup-dense corpora: the pair census is a corpus
    # property) cannot have sublinear wall time in ANY engine. rows == -1
    # means the artifact predates the rows column.
    r_lo = prov_lo.get(q, {}).get("rows", -1)
    r_hi = prov_hi.get(q, {}).get("rows", -1)
    alpha_rows = (round(math.log(max(r_hi, 1) / max(r_lo, 1)) / ratio, 3)
                  if r_lo > 0 and r_hi > 0 else None)
    # CPU exponent (round 11, the g24 adjudication): wall time at the
    # 0.3-2 s scale is scheduling floor + GC jitter, and a wall-only
    # exponent over it flags linear plans (g24: wall alpha 1.56 on cpu
    # 1.15 s -> 3.22 s = cpu alpha 0.94). cpu_sec is the sum the 32
    # worker threads actually burned — the quantity that scales.
    c_lo = prov_lo.get(q, {}).get("cpu_sec", -1)
    c_hi = prov_hi.get(q, {}).get("cpu_sec", -1)
    alpha_cpu = (round(math.log(c_hi / c_lo) / ratio, 3)
                 if c_lo and c_hi and c_lo > 0 and c_hi > 0 else None)
    rows.append({
        "query": q, "tag": tags.get(q, "batch"),
        "t_lo": t_lo, "t_hi": t_hi,
        "alpha": round(alpha, 3),
        "alpha_rows": alpha_rows,
        "alpha_cpu": alpha_cpu,
        "output_driven": alpha_rows is not None and alpha <= alpha_rows + 0.2,
        # cpu-linear: the work itself scales fine; the wall exponent is
        # floor/GC noise. Only trust it when the cpu reading is big
        # enough to be signal (>= 1 cpu-s at the larger SF).
        "cpu_linear": (alpha_cpu is not None and alpha_cpu <= ALPHA_FLAG
                       and (c_hi or 0) >= 1.0),
        # by-construction: the operator IS a deliberate brute-force
        # census (oracle_cost=quadratic) kept as the exact baseline for
        # a bounded variant (s13 -> s21, d05 -> d03/d19). Superlinear by
        # definition; listed, never flagged.
        "by_construction": cost.get(q) == "quadratic",
        "floor": t_hi < FLOOR_SEC,
    })
    # solo-probe override (VERDICT r11 item 3): if `Probe time` artifacts for
    # both SFs cover this row, its SOLO exponent adjudicates the in-session
    # one — episodic session effects (codegen-cache eviction, GC debt from
    # the 200 preceding queries) don't exist in a solo probe.
    p_lo, p_hi = probe_lo.get(q), probe_hi.get(q)
    if isinstance(p_lo, (int, float)) and isinstance(p_hi, (int, float)) \
            and p_lo > 0 and p_hi > 0:
        pa = math.log(p_hi / p_lo) / ratio
        rows[-1]["alpha_probe"] = round(pa, 3)
        # a floor-level solo reading on EITHER side carries no scaling
        # signal — a sub-floor p_lo that reads noisy-HIGH shrinks the
        # probe exponent and silently un-flags a genuine superlinear row
        # (ADVICE r13). Record the exponent but never let it adjudicate
        # unless both readings are above the noise floor.
        rows[-1]["probe_adjudicated"] = (pa <= ALPHA_FLAG
                                         and p_lo >= FLOOR_SEC
                                         and p_hi >= FLOOR_SEC)
    else:
        rows[-1]["alpha_probe"] = None
        rows[-1]["probe_adjudicated"] = False

rows.sort(key=lambda r: -r["alpha"])
batch = [r for r in rows if r["tag"] == "batch"]
hot = [r for r in batch if not r["floor"] and r["alpha"] > ALPHA_FLAG]
flagged = [r for r in hot
           if not (r["output_driven"] or r["cpu_linear"] or r["by_construction"]
                   or r["probe_adjudicated"])]
output_driven = [r for r in hot if r["output_driven"]]
cpu_linear = [r for r in hot if r["cpu_linear"] and not r["output_driven"]]
by_construction = [r for r in hot
                   if r["by_construction"]
                   and not (r["output_driven"] or r["cpu_linear"])]
probe_adjudicated = [r for r in hot
                     if r["probe_adjudicated"]
                     and not (r["output_driven"] or r["cpu_linear"]
                              or r["by_construction"])]

summary = {
    "sf_lo": sf_lo, "sf_hi": sf_hi,
    "contaminated_lo": lo.get("contaminated"),
    "contaminated_hi": hi.get("contaminated"),
    "total_lo": round(sum(r["t_lo"] for r in rows), 1),
    "total_hi": round(sum(r["t_hi"] for r in rows), 1),
    "batch_total_lo": round(sum(r["t_lo"] for r in batch), 1),
    "batch_total_hi": round(sum(r["t_hi"] for r in batch), 1),
    "n_queries": len(rows),
    "n_batch": len(batch),
    "n_floor_batch": sum(1 for r in batch if r["floor"]),
    "superlinear_flagged": [r["query"] for r in flagged],
    "superlinear_output_driven": [r["query"] for r in output_driven],
    "superlinear_cpu_linear": [r["query"] for r in cpu_linear],
    "superlinear_by_construction": [r["query"] for r in by_construction],
    "superlinear_probe_adjudicated": [r["query"] for r in probe_adjudicated],
    "alpha_flag": ALPHA_FLAG, "floor_sec": FLOOR_SEC,
    "queries": rows,
}
if out_path:
    json.dump(summary, open(out_path, "w"), indent=1)

print(f"total {summary['total_lo']}s @sf{sf_lo} -> {summary['total_hi']}s @sf{sf_hi} "
      f"(x{summary['total_hi']/max(summary['total_lo'],1e-9):.2f} for x{sf_hi/sf_lo:.0f} data)")
print(f"batch cut {summary['batch_total_lo']}s -> {summary['batch_total_hi']}s; "
      f"{summary['n_floor_batch']}/{summary['n_batch']} batch rows under the {FLOOR_SEC}s floor")
print(f"contaminated: lo={summary['contaminated_lo']} hi={summary['contaminated_hi']}")
if flagged:
    print(f"SUPERLINEAR (alpha > {ALPHA_FLAG}, above floor): ")
    for r in flagged:
        print(f"  {r['query']}: {r['t_lo']}s -> {r['t_hi']}s (alpha {r['alpha']})")
else:
    print("no batch row grows superlinearly above the floor (plan-driven)")
for r in output_driven:
    print(f"  output-driven (not flagged): {r['query']} alpha {r['alpha']} "
          f"<= alpha_rows {r['alpha_rows']} + 0.2")
for r in cpu_linear:
    print(f"  cpu-linear (not flagged): {r['query']} wall alpha {r['alpha']} "
          f"but cpu alpha {r['alpha_cpu']} — floor/GC noise")
for r in by_construction:
    print(f"  by-construction (not flagged): {r['query']} alpha {r['alpha']} — "
          f"deliberate brute-force baseline (oracle_cost=quadratic)")
for r in probe_adjudicated:
    print(f"  probe-adjudicated (not flagged): {r['query']} in-session alpha "
          f"{r['alpha']} but SOLO probe alpha {r['alpha_probe']} — episodic "
          f"session effect, not a plan regression")
