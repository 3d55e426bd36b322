#!/usr/bin/env python3
"""Scaling-exponent analysis: compare a sf1 bench sweep against the
sf0.1 seconds of bench_gate.tsv. For data growing 10x, a query scaling as
n^p takes 10^p times longer, so p = log10(t_sf1 / t_sf0.1). Queries on
`embeddings` grow 4x per decade instead (driver series), so their
exponent uses log4. Fixed per-query overhead (~0.1-0.2 s of job setup
at sf0.1) inflates apparent sublinearity; we report raw ratios plus the
overhead-adjusted exponent with OVERHEAD subtracted from both sides.
Usage: scaling.py <bench_sf1.out> [overhead_sec=0.08]"""
import csv, json, math, os, sys

OVERHEAD = float(sys.argv[2]) if len(sys.argv) > 2 else 0.08

# queries over the embeddings table: 4x per decade, not 10x
EMB = {"a3_kmeans_outlier", "a7_pca_outlier", "d5_embed_neardup",
       "d11_semdedup", "s1_ann_brute", "s2_ann_lsh", "s3_ivf",
       "s4_ann_pq", "s5_filtered_ann", "s6_knn_graph",
       "s7_hard_negatives", "s8_range_search"}

GATE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                    "bench_gate.tsv")
with open(GATE, newline="") as f:
    base = {r["query"]: float(r["sec"])
            for r in csv.DictReader(f, delimiter="\t")}

sf1 = None
for line in open(sys.argv[1]):
    line = line.strip()
    if line.startswith("{") and '"queries"' in line:
        sf1 = json.loads(line)
        break
qs = {k: v for k, v in sf1["queries"].items() if v >= 0}

rows, ungated = [], []
for q, t1 in sorted(qs.items()):
    t0 = base.get(q)
    if t0 is None:
        ungated.append(q)
        continue
    growth = 4.0 if q in EMB else 10.0
    ratio = t1 / t0
    adj = max(t1 - OVERHEAD, 1e-3) / max(t0 - OVERHEAD, 1e-3)
    p = math.log(max(adj, 1e-9)) / math.log(growth)
    rows.append((q, t0, t1, ratio, p, growth))

rows.sort(key=lambda r: -r[4])
print(f"{'query':24s} {'sf0.1':>7s} {'sf1':>8s} {'ratio':>7s} {'exp':>6s} grow")
for q, t0, t1, ratio, p, g in rows:
    flag = " <== SUPERLINEAR" if p > 1.15 and t1 > 1.0 else ""
    print(f"{q:24s} {t0:7.3f} {t1:8.3f} {ratio:6.1f}x {p:6.2f} {int(g):4d}x{flag}")
total0 = sum(r[1] for r in rows)
total1 = sum(r[2] for r in rows)
print(f"\ntotals: sf0.1 {total0:.1f}s -> sf1 {total1:.1f}s "
      f"({total1/total0:.1f}x, {len(rows)} queries compared)")
print("failed:", sf1.get("failed"))
if ungated:
    print("no gate row:", ungated)
