#!/usr/bin/env python3
"""Files-to-warehouse and query-sweep benchmark for graft.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload ingest_days --seed 1 --seconds 10 --trace 0

Builds the program from source with the harness under perfbench/ (cached in
.bench_build/ by a hash of the sources), generates the workload's inputs from
the seed, runs them in one JVM through the program's public API, checks the
outputs apart from the program, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the run is traced and the metrics are the
per-module ones. Exits non-zero, without a result line, when the program
cannot be built or run, and non-zero after the result line when a check of
the outputs fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402

WORKLOADS = ("ingest_days", "query_sweep")
QUERIES = ["q01_scan_rename", "q02_count_scan", "q03_pattern_filter", "q04_id_range_filter",
           "q05_null_filter", "q06_conform_add_col", "q07_row_hash", "q08_dedup_intra",
           "q09_dedup_cross", "q10_id_guard", "q11_watermark", "q249_poisson_bootstrap"]
UPLOADED = "uploaded to warehouse"
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp(root):
    h = hashlib.sha256()
    for base in ("src/main/scala", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        p = os.path.join(root, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compiles program + harness with sbt (offline) once per source hash and
    returns the runtime classpath."""
    out = os.path.join(root, ".bench_build")
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(out, "build.log"), "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
                           stderr=log, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        die("build failed:\n" + "\n".join(lines[-30:]))
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def per_op_medians(ops):
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["s"])
    return {k: statistics.median(v) for k, v in by.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        die("no program sources under src/main/scala: run from the root of a graft checkout")
    cp = build(root)

    work = os.path.join(root, ".bench_build", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result = run(a, root, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    if not result["correct"]:
        sys.exit(1)


def run(a, root, cp, work):
    data = os.path.join(work, "tables")
    if a.workload == "query_sweep":
        import gen_tables
        gen_tables.generate(data, a.seed)
    cores = str(len(os.sched_getaffinity(0)))
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.BenchMain",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--cores", cores,
              "--data", data, "--queries", ",".join(QUERIES)])
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S)
    if p.returncode != 0:
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
        die(f"benchmark JVM exited {p.returncode} after {time.time() - t0:.0f} s:\n{tail}")
    res = json.load(open(os.path.join(work, "result.json")))
    ops = res["ops"]

    if a.workload == "query_sweep":
        problems = checks.oracle(root, data, res["oracle_out"], len(QUERIES))
        import pyarrow.dataset as ds
        rows = {q: ds.dataset(os.path.join(res["oracle_out"], q), format="parquet").count_rows()
                for q in QUERIES}
        timed = ops
        failed = 0
    else:
        manifest = json.load(open(os.path.join(work, "manifest.json")))
        problems = checks.ingest(manifest, res)
        expect = {f["name"]: f["expect"] for f in manifest["files"]}
        rows = {o["name"]: o["rows"] for o in ops}
        # files built to hit a kept sniff fault stay out of the time sample
        # and the pass, so mending a fault never reads as a slowdown
        timed = [o for o in ops if not expect[o["name"]].startswith("fault_")]
        failed = sum(1 for o in ops if o["status"] != UPLOADED)
    by_round = {}
    for o in timed:
        by_round.setdefault(o["round"], []).append(o)
    setup = res["setup"]
    e2e = {"setup_s": setup["total_s"]}
    for key, suffix in (("cpu_s", "_cpu"), ("s", "_wall")):
        # per round (a day, or a pass over the query list): the summed time
        # of its operations; medians over rounds
        e2e[f"op{suffix}_s_p50"] = statistics.median(o[key] for o in timed)
        e2e[f"pass{suffix}_s"] = statistics.median(sum(o[key] for o in r) for r in by_round.values())
    # rows landed (ingest) or result rows materialized (sweep) per CPU second
    # of a round's operations; median over rounds
    e2e["rows_per_cpu_s"] = statistics.median(
        sum(rows[o["name"]] for o in r) / sum(o["cpu_s"] for o in r) for r in by_round.values())
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    if a.trace:
        layers = dict(res.get("layers", {}))
        layers["session.build_s"] = setup["build_s"]
        layers["session.warmup_s"] = setup["warmup_s"]
        for k in ("op_cpu_s_p50", "pass_cpu_s", "op_wall_s_p50", "pass_wall_s"):
            layers[f"trace.{k}"] = e2e[k]
        if a.workload == "query_sweep":
            for q, m in per_op_medians(ops).items():
                layers[f"queries.{q}_s"] = m
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    return {"correct": not problems, "attempted": len(ops), "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    main()
