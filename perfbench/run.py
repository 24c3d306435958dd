#!/usr/bin/env python3
"""Benchmark of the KG extraction pipeline, the KG job and the catalog.

Run from the root of a checkout:

    python3 perfbench/run.py --workload kg_triples --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (scalac from the Spark jar
directory that build.sbt names, or $SPARK_HOME/jars) into $CARGO_TARGET_DIR
(default .bench_build), runs one workload in one JVM, checks its outputs and
prints one JSON result as the last line of stdout. `--trace 1` reports the
per-layer metrics instead of the end-to-end ones and writes the spans next to
the build. Metric names, units and directions are read from BENCHMARK.json.

    python3 perfbench/run.py --compare-fixture <dir with events/documents.parquet>

prints the seed-42 generated catalog tables (at the fixture's sf0.1 shape and
at the benchmark's shape) beside the fixture's, with each query's row count.
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
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import oracle  # noqa: E402

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")), "perfbench")
# per-layer metrics a workload does not exercise read 0; any other missing
# metric is an error
NOT_EXERCISED = {
    "kg_triples": ("q.", "self_s.queries"),
    "catalog": ("nlp.", "pairs.", "score.", "ingest.", "triggers.", "canon.", "materialize.",
                "trace.overhead", "trace.traced", "trace.kg_", "spark.persist_bytes",
                "self_s.kgpipeline", "self_s.canon", "self_s.materialize"),
}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.isfile(sbt):
            die("no build.sbt here and no SPARK_HOME: run from the root of a checkout")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            die("build.sbt names no unmanagedBase jar directory; set SPARK_HOME")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        die(f"no Spark jars in {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build(jars, timeout):
    """Compiles the engine's main sources and the benchmark's; reuses an
    earlier build of the same sources. Returns the classes directory."""
    main_src = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench_src = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
    if not main_src:
        die("no engine sources under src/main/scala: run from the root of a checkout")
    h = hashlib.sha256()
    for p in main_src + bench_src:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes, False
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(main_src + bench_src) + "\n")
    log(f"compiling {len(main_src)} engine and {len(bench_src)} benchmark sources")
    t0 = time.time()
    cp = os.path.join(jars, "*")
    r = subprocess.run([java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=timeout, cwd=BUILD)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die(f"compilation failed (exit {r.returncode})")
    os.rename(tmp, classes)
    log(f"compiled in {time.time() - t0:.1f}s")
    return classes, True


def run_jvm(jars, classes, work, main, args, timeout):
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = [java(), "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classes + os.pathsep + os.path.join(jars, "*"), main, *args]
    r = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr, timeout=timeout)
    if r.returncode != 0:
        die(f"{main} exited with {r.returncode}")


def bench_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        die("no BENCHMARK.json at the checkout root")
    return json.load(open(path))


def gen_key():
    """Identifies the catalog generator: its sources decide the tables a seed gives."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True)):
        h.update(open(p, "rb").read())
    return h.hexdigest()


def compare_fixture(fixture, jars, classes, deadline):
    work = os.path.join(BUILD, f"work/compare-{os.getpid()}")
    try:
        rows = {}
        for shape in ("sf0.1", "bench"):
            d = os.path.join(work, shape)
            os.makedirs(d, exist_ok=True)
            run_jvm(jars, classes, d, "perfbench.GenMain", ["42", shape, d], deadline - time.time())
            sqls = json.load(open(os.path.join(d, "oracle_sql.json")))
            rows[f"generated {shape}"] = oracle.summary(d, sqls, list(sqls), work)
        rows["fixture"] = oracle.summary(fixture, sqls, list(sqls), work)
        keys = list(rows["fixture"])
        heads = list(rows)
        print(f"{'seed 42':<26}" + "".join(f"{h:>28}" for h in heads))
        for k in keys:
            print(f"{k:<26}" + "".join(f"{str(rows[h][k]):>28}" for h in heads))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare-fixture", metavar="DIR")
    a = ap.parse_args()
    start = time.time()
    spec = bench_spec()
    jars = spark_jars()
    classes, built = build(jars, timeout=800)
    deadline = (start + 870) if built else (start + 170)
    if a.compare_fixture:
        return compare_fixture(a.compare_fixture, jars, classes, start + 870)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        die(f"unknown workload {a.workload!r}; one of {names}")

    work = os.path.join(BUILD, f"work/{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    try:
        run_jvm(jars, classes, work, "perfbench.Main",
                [a.workload, str(a.seed), str(a.seconds), str(a.trace), work, result_path],
                timeout=deadline - time.time() - 20)
        res = json.load(open(result_path))
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        if a.workload == "catalog":
            tables, results = res["outputs"]["tables"], res["outputs"]["results"]
            for name, ok, detail in oracle.check(tables, results, a.seed, gen_key(),
                                                 os.path.join(BUILD, "oracle-cache.json")):
                checks.append((f"catalog.{name}.duckdb_hash", ok, detail))
                res["attempted"] += 1
                res["failed"] += 0 if ok else 1
            if a.seed == 42:
                sqls = json.load(open(os.path.join(results, "oracle_sql.json")))
                log("seed 42 generated tables: " + json.dumps(
                    oracle.summary(tables, sqls, list(sqls), work)))
        if a.trace:
            spans = result_path[:-len(".json")] + ".spans.json"
            keep = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.spans.json")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.move(spans, keep)
            log(f"spans written to {os.path.relpath(keep, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, ok, detail in checks:
        print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    measured = res["layers"] if a.trace else res["e2e"]
    metrics = {}
    for m in declared:
        v = measured.get(m["name"])
        if v is None:
            if a.trace and m["name"].startswith(NOT_EXERCISED[a.workload]):
                v = 0.0
            else:
                die(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']:<40} {v:>18.6g} {m['unit']}")
    info = res["info"]
    print(f"warm samples {info['warm_samples']}: " + " ".join(f"{x:.3f}" for x in info["warm_iter_s"]) + " s")
    failed = res["failed"]
    correct = failed == 0 and all(ok for _, ok, _ in checks)
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
