#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the harness (perfbench/build.sbt,
which compiles the program's sources with it) when the sources changed,
generates the workload's inputs from the seed, runs the measurement in
one JVM, checks the outputs and prints one JSON object as the last line
of stdout: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`. Metric names and units come from BENCHMARK.json.

Traced runs also write their spans and their end-to-end figures (for the
tracing overhead) under .bench_out/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
# a run must end within 180 s of its start, not counting the build
DEADLINE_S = 170

WORKLOADS = {"reorder_replay", "reorder_deep", "batch_mix"}
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(BENCH, "build.sbt"),
                      os.path.join(BENCH, "project", "build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness unless the same sources were
    already compiled in this checkout."""
    if not os.path.isdir(PROGRAM_SRC):
        fail(2, f"program sources not found under {PROGRAM_SRC}; run from a full checkout")
    stamp = os.path.join(BUILD, "stamp")
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        fail(3, "build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)


def run_jvm(args, work, data_dir, t0):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail(2, "SPARK_HOME is not set")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--out", os.path.join(work, "result.json"), "--t0-ms", str(int(t0 * 1000))]
    if data_dir:
        cmd += ["--data", data_dir]
    if args.trace:
        cmd += ["--spans", os.path.join(OUT, f"spans-{args.workload}-{args.seed}.jsonl")]
    extra = os.environ.get("PERFBENCH_EXTRA_QUERIES")
    if extra:
        cmd += ["--extra-queries", extra]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=max(10, DEADLINE_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(4, "measurement did not finish in time")
    if p.returncode != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(5, f"JVM exited with {p.returncode}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def canon(rows):
    return sorted((tuple(r) for r in rows), key=lambda r: tuple((str(type(v)), str(v)) for v in r))


def oracle_check(work, data_dir):
    """Compares each dumped query output with its DuckDB oracle over the
    same tables. Returns the list of problems, one per failed query."""
    import duckdb
    with open(os.path.join(work, "oracle.json")) as fh:
        spec = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    problems = []
    for name in spec["queries"]:
        files = glob.glob(os.path.join(work, "out", name, "*.parquet"))
        if not files:
            continue  # the dump failed; the harness counted it already
        if name not in spec["oracle"]:
            problems.append(f"{name}: no oracle")
            continue
        try:
            orows = con.execute(spec["oracle"][name]).fetchall()
            ocols = [d[0] for d in con.description]
            srows = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
            scols = [d[0] for d in con.description]
        except Exception as e:  # noqa: BLE001 - any oracle error fails the query
            problems.append(f"{name}: {e}")
            continue
        if sorted(ocols) != sorted(scols):
            problems.append(f"{name}: columns oracle={sorted(ocols)} spark={sorted(scols)}")
            continue
        o = canon([[r[ocols.index(c)] for c in sorted(ocols)] for r in orows])
        s = canon([[r[scols.index(c)] for c in sorted(scols)] for r in srows])
        if os.environ.get("PERFBENCH_CORRUPT_EXPECTED") == name and o:
            o = o[1:]
        if o != s:
            problems.append(f"{name}: {len(o)} oracle rows vs {len(s)} spark rows differ")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(2, f"unknown workload {args.workload}")
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail(2, "BENCHMARK.json not found; run from the root of a checkout")
    with open(bench_json) as fh:
        spec = json.load(fh)
    build()

    t0 = time.time()
    work = os.path.join(BUILD, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    try:
        data_dir = None
        if args.workload.startswith("batch"):
            sys.path.insert(0, BENCH)
            import gen_tables
            data_dir = os.path.join(work, "data")
            gen_tables.write(data_dir, args.seed)
        res = run_jvm(args, work, data_dir, t0)
        problems = list(res["problems"])
        attempted, failed = res["attempted"], res["failed"]
        if data_dir:
            oracle_problems = oracle_check(work, data_dir)
            attempted += len(json.load(open(os.path.join(work, "oracle.json")))["queries"])
            failed += len(oracle_problems)
            problems += oracle_problems
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = dict(res["metrics"])
    e2e["ops_ok_ratio"] = (attempted - failed) / attempted if attempted else 0.0
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(f"perfbench: notes {json.dumps(res['notes'])}", file=sys.stderr)
    if args.trace:
        metrics = {m["name"]: {"value": res["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        with open(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"end_to_end": e2e, "per_layer": res["layers"], "notes": res["notes"]}, fh)
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": bool(res["ok"]) and not problems and attempted > 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
