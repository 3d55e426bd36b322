#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload stream_live --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the repository's
Scala sources together with perfbench/scala into .bench_build/ (scalac from
the Spark distribution the sbt build names in build.sbt, or $SPARK_HOME);
later runs reuse the classes while the sources are unchanged.

Workloads (parameters in perfbench/config.json):
  stream_live      open-loop live stream through Pipeline.detect, then a
                   closed-loop drain of a fixed backlog through the same pipeline
  batch_iterative  d12/m5/a4/a1 via SparkEntry.queries over seeded tables

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1 runs
the same workload with a traced segment and prints the per-layer metrics.
The last stdout line is the result; the exit code is nonzero when any
correctness check failed or the run could not complete.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170  # per-run budget once the classes are built

ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory of the Spark distribution the build compiles
    against: $SPARK_HOME/jars, else build.sbt's `unmanagedBase`."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-core_*.jar")) and \
                glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    die("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def build(jars):
    """Compile src/main/scala + perfbench/scala once per source digest."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not srcs:
        die("no Scala sources under src/main/scala: run from a full checkout")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    h = hashlib.sha256(os.path.basename(jars).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xss16m",
                        "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        die("compilation failed")
    os.remove(argfile)
    open(os.path.join(tmp, "BUILD_OK"), "w").write(f"{time.time() - t0:.1f}\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def run_jvm(classes, jars, work, args, timeout, poll=None):
    """Run the JVM side; `poll()` is called every 0.2 s while it runs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cfg = json.load(open(os.path.join(HERE, "config.json")))
    cmd = ["java", *ADD_OPENS, f"-Xmx{cfg['jvm_heap']}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.streaming.numRecentProgressUpdates=1000",
           "-cp", f"{classes}:{os.path.join(jars, '*')}", "graftbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    log = os.path.join(work, "jvm.log")
    deadline = time.time() + max(10, timeout)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        while p.poll() is None:
            if time.time() > deadline:
                p.kill()
                p.wait()
                tail(log)
                die(f"JVM exceeded {timeout:.0f} s")
            if poll:
                poll()
            time.sleep(0.2)
    if p.returncode != 0 or not os.path.exists(args["out"]):
        tail(log)
        die(f"JVM exited with {p.returncode}")
    return json.load(open(args["out"]))


class OracleChecks:
    """DuckDB checks of the cold pass. The static oracles start as soon as
    the JVM has written them and its outputs, while it still builds a1's
    model-embedding oracle; the dynamic ones run after it exits."""

    def __init__(self, work, data, queries):
        import oracle
        self.oracle, self.work, self.data, self.queries = oracle, work, data, queries
        self.results, self.threads, self.seen = [], [], set()

    def poll(self):
        for name in ("oracle_static.json", "oracle_dynamic.json"):
            path = os.path.join(self.work, name)
            if name not in self.seen and os.path.exists(path):
                self.seen.add(name)
                t = threading.Thread(target=self.check, args=(json.load(open(path)),))
                t.start()
                self.threads.append(t)

    def check(self, sql):
        self.results.extend(self.oracle.check(self.data, os.path.join(self.work, "out"), sql))

    def finish(self):
        self.poll()
        for t in self.threads:
            t.join()
        done = {q for q, _ in self.results}
        return self.results + [(q, "no oracle SQL") for q in self.queries if q not in done]


def tail(path, n=60):
    try:
        print("".join(open(path).readlines()[-n:]), file=sys.stderr)
    except OSError:
        pass


def chain_recovery(d12, planted):
    """Precision and recall of d12's clusters against the planted chains:
    a chain is recovered when its documents form exactly one cluster."""
    members = {}
    for doc, cl in zip(d12["doc_id"], d12["cluster"]):
        members.setdefault(int(cl), set()).add(int(doc))
    clusters = {frozenset(m) for m in members.values()}
    found = sum(len(c) for c in planted if frozenset(c) in clusters)
    total = sum(len(c) for c in planted)
    return (found / len(d12) if len(d12) else 0.0), (found / total if total else 0.0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["stream_live", "batch_iterative"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cfg = json.load(open(os.path.join(HERE, "config.json")))["workloads"][a.workload]
    jars = spark_jars()
    classes = build(jars)
    t_start = time.time()

    work = os.path.join(BUILD, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        seed = a.seed % (1 << 62)
        args = {"workload": a.workload, "seed": seed, "seconds": a.seconds,
                "trace": a.trace, "work": work, "out": os.path.join(work, "result.json")}
        if a.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            args["trace-file"] = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")
        inputs_s, planted = None, None
        if a.workload == "batch_iterative":
            import inputs
            data = os.path.join(work, "data")
            t0 = time.time()
            gen = inputs.generate(data, seed, cfg["tables"])
            inputs_s = time.time() - t0
            planted = gen["planted"]
            args.update({"data": data, "queries": ",".join(cfg["queries"]),
                         "input-rows": gen["input_rows"]})
        else:
            args.update({"rate": cfg["offered_rows_per_s"], "chunk-ms": cfg["chunk_ms"],
                         "warmup-rows": cfg["warmup_rows"], "batch-rows": cfg["batch_rows"],
                         "batches": cfg["batches"], "drains": cfg["drains"]})

        checks = OracleChecks(work, args["data"], cfg["queries"]) \
            if a.workload == "batch_iterative" else None
        res = run_jvm(classes, jars, work, args, RUN_LIMIT_S - (time.time() - t_start) - 15,
                      checks.poll if checks else None)
        attempted, failed = res["attempted"], res["failed"]
        notes = list(res["notes"])
        e2e, setup = dict(res["e2e"]), dict(res["setup"])
        if inputs_s is not None:
            setup["inputs_s"] = inputs_s
        if checks:
            import pandas as pd
            for q, err in checks.finish():
                if err:
                    failed += 1
                    notes.append(f"{q}: cold pass differs from its DuckDB oracle: {err}")
            d12 = os.path.join(work, "out", "d12_keeper_select")
            if os.path.exists(d12):
                e2e["precision"], e2e["recall"] = chain_recovery(pd.read_parquet(d12), planted)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e["setup_s"] = setup.get("session_s", 0.0) + setup.get("cold_s", 0.0)
    if a.trace:
        layers = dict(res["layers"])
        layers.update({f"setup.{k}": v for k, v in setup.items()})
        specs = bench["per_layer"]
        values = {m["name"]: layers.get(m["name"]) or 0.0 for m in specs}
    else:
        specs = bench["end_to_end"]
        values = {m["name"]: e2e.get(m["name"]) for m in specs}
        for k, v in values.items():
            if v is None:
                failed += 1
                notes.append(f"metric {k} was not measured")
                values[k] = 0.0
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}

    print("setup: " + " ".join(f"setup.{k}={v:.3f}" for k, v in setup.items()))
    print(f"checks: attempted={attempted} failed={failed} "
          f"error_ratio={failed / max(attempted, 1):g}")
    if res.get("info"):
        print("samples: " + " ".join(f"{k}={v:g}" for k, v in res["info"].items()))
    for n in notes:
        print(f"check failed: {n}", file=sys.stderr)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
