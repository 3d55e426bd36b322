#!/usr/bin/env python3
"""Steadiness record: run the benchmark once per seed on each workload and
summarize every end-to-end metric across the runs (median, quartiles as
statistics.quantiles(n=4) gives them, min, max, and the quartile spread as
a share of the median), plus the setup split each run printed.

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--out FILE]
                                [--previous FILE]

Without --out the summary is printed; with it, the file is written (the
record kept in this directory is perfbench/STEADINESS.json). --previous
takes an earlier record of the same kind and adds, per metric, how far
this set's median moved from it in the metric's worse direction, as a
share of the earlier median: the second-set check a bound must cover.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "min": min(values), "max": max(values),
            "spread": (q3 - q1) / med if med else None, "values": values}


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    setup = dict(kv.split("=") for kv in lines[0].split()[1:]) if lines[0].startswith("setup:") else {}
    return (json.loads(lines[-1]), {k.removeprefix("setup."): float(v) for k, v in setup.items()},
            time.time() - t0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    ap.add_argument("--previous")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in bench["end_to_end"]}
    record = {"seeds": seeds(a.seeds), "run_seconds": bench["run_seconds"], "workloads": {}}
    for w in names:
        runs = []
        for s in record["seeds"]:
            res, setup, wall = run_once(w, s, bench["run_seconds"])
            runs.append((res, setup, wall))
            print(f"{w} seed {s}: {wall:.0f} s " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        metrics = {k: summary([r[0]["metrics"][k]["value"] for r in runs]) for k in bounds}
        for k, m in metrics.items():
            m["bound"] = bounds[k]
        record["workloads"][w] = {
            "metrics": metrics,
            "setup_split": {k: summary([r[1][k] for r in runs if k in r[1]])
                            for k in ("session_s", "cold_s", "inputs_s")},
            "wall_s": summary([r[2] for r in runs]),
            "all_correct": all(r[0]["correct"] for r in runs),
        }
    if a.previous:
        prev = json.load(open(a.previous))
        record["previous"] = prev
        record["median_worse_by"] = {
            w: {k: ((m["median"] - pm) if lower[k] else (pm - m["median"])) / pm if pm else None
                for k, m in rec["metrics"].items()
                for pm in [prev["workloads"][w]["metrics"][k]["median"]]}
            for w, rec in record["workloads"].items() if w in prev["workloads"]}
    text = json.dumps(record, indent=1)
    if a.out:
        open(a.out, "w").write(text + "\n")
    for w, rec in record["workloads"].items():
        for k, m in rec["metrics"].items():
            flag = "" if m["spread"] is None or m["spread"] <= m["bound"] / 3 else "  <-- above bound/3"
            moved = record.get("median_worse_by", {}).get(w, {}).get(k)
            print(f"{w:16s} {k:15s} median {m['median']:.4g}  spread {m['spread']:.3f}"
                  f"  bound {m['bound']}" + ("" if moved is None else f"  worse by {moved:+.3f}")
                  + flag)


if __name__ == "__main__":
    main()
