#!/usr/bin/env python3
"""Agent-path and query-mix benchmark for the graft engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: tail_thrift_steady, tail_text_backlog, query_mix (see
perfbench/README.md). The first run in a checkout compiles src/main/scala
and perfbench/src with the Scala compiler bundled in the Spark jars into
$CARGO_TARGET_DIR (default .bench_build); later runs reuse that build
while the sources are unchanged. Each run works in its own directory under
the build directory and deletes it when done. The last stdout line is one
JSON object: correct, attempted, failed, metrics (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import math
import time

sys.dont_write_bytecode = True  # import nothing into __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("tail_thrift_steady", "tail_text_backlog", "query_mix")
QUERY_SF = 0.01
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.environ.get("SPARK_HOME") or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark jars with a Scala compiler under $SPARK_HOME/jars; set SPARK_HOME")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    return main, bench


def scalac(jars, classpath, out, files):
    scala = ":".join(glob.glob(os.path.join(jars, f"scala-{p}-*.jar"))[0]
                     for p in ("compiler", "library", "reflect"))
    os.makedirs(out, exist_ok=True)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", scala, "scala.tools.nsc.Main",
                        "-nowarn", "-cp", classpath, "-d", out] + files,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])


def digest(files):
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir, jars):
    """Compile the program, then the benchmark against it; each step is
    skipped while its sources (and, for the benchmark, the program) are
    unchanged."""
    main, bench = sources(root)
    if not main:
        fail(f"no program sources under {root}/src/main/scala; run from the repository root")
    resources = os.path.join(root, "src/main/resources")
    classes = os.path.join(build_dir, "classes")
    bench_classes = os.path.join(build_dir, "bench-classes")
    main_key = digest(main + sorted(glob.glob(resources + "/**/*", recursive=True)))
    bench_key = main_key + digest(bench)
    for out, key, step in ((classes, main_key, "program"), (bench_classes, bench_key, "benchmark")):
        stamp = out + ".stamp"
        if os.path.exists(stamp) and open(stamp).read() == key:
            continue
        t0 = time.time()
        shutil.rmtree(out, ignore_errors=True)
        if step == "program":
            scalac(jars, os.path.join(jars, "*"), out, main)
            if os.path.isdir(resources):
                shutil.copytree(resources, out, dirs_exist_ok=True)
        else:
            scalac(jars, classes + ":" + os.path.join(jars, "*"), out, bench)
        with open(stamp, "w") as fh:
            fh.write(key)
        print(f"perfbench: built the {step} in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, bench_classes


def oracle_failures(root, tables, results):
    """DuckDB check of the dumped query_mix results with the comparison
    rules of tools/check_oracle.py: identical result types, floats
    within 1e-6. d7, e21 and d40 compare against the oracles in
    fixtures.py, recomputed from the generated tables. Returns ({query: reason} of failed checks,
    {query: reason} of checks that could not decide)."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracle as co
    import duckdb
    import fixtures

    con = duckdb.connect()
    for t in co.TABLES:
        path = os.path.join(tables, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(os.path.join(results, "oracle_sql.json")))
    recomputed = {"d7_minhash_pairs": lambda: fixtures.d7_rows(con),
                  "e21_opq_ivfpq_refine": lambda: fixtures.e21_rows(tables),
                  "d40_curation_pipeline": lambda: fixtures.d40_rows(con)}
    bad, undecided = {}, {}
    for name in sorted(oracle):
        out_dir = os.path.join(results, name)
        if not os.path.isdir(out_dir) or os.path.exists(os.path.join(out_dir, "_ERROR")):
            bad[name] = "no result (the query failed)"
            continue
        dump = f"SELECT * FROM '{out_dir}/*.parquet'"
        sql = oracle[name]
        try:
            cols = sorted(c[0] for c in con.execute(dump).description)
            rows = co.norm(con.execute(f"SELECT {', '.join(cols)} FROM ({dump})").fetchall())
            otypes = co.result_types(con, f"SELECT * FROM ({sql}) oq")
            ocols = sorted(otypes)
            bad_types = co.type_mismatches(co.result_types(con, dump), otypes)
            if name in recomputed:
                expected = co.norm(recomputed[name]())
            else:
                expected = co.norm(con.execute(f"SELECT {', '.join(ocols)} FROM ({sql}) oq").fetchall())
        except AssertionError as e:
            undecided[name] = f"fixture margin too thin to judge: {e}"
            continue
        except Exception as e:
            bad[name] = f"check error: {e}"
            continue
        if ocols != cols:
            bad[name] = f"columns {cols} vs oracle {ocols}"
        elif bad_types:
            bad[name] = "result type mismatch " + "; ".join(bad_types)
        else:
            verdict = co.cmp_rows(rows, expected)
            if not verdict.startswith("OK"):
                bad[name] = verdict
    return bad, undecided


def run_jvm(root, jars, classes, bench_classes, args, work, tables, spans):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", ":".join([bench_classes, classes, os.path.join(jars, "*")]),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--launched-ms", str(int(time.time() * 1000))]
    if tables:
        cmd += ["--tables", tables]
    if spans:
        cmd += ["--spans", spans]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode} and no result")
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    bench_cfg = json.load(open(os.path.join(root, "BENCHMARK.json")))
    sys.path.insert(0, HERE)
    jars = spark_jars()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes, bench_classes = build(root, build_dir, jars)

    work = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        tables = None
        if args.workload == "query_mix":
            import gen_tables
            tables = os.path.join(work, "tables")
            gen_tables.generate(tables, args.seed, QUERY_SF)
        spans = (os.path.join(build_dir, "traces", f"{args.workload}-seed{args.seed}.jsonl")
                 if args.trace else None)
        res = run_jvm(root, jars, classes, bench_classes, args, work, tables, spans)
        problems = list(res["problems"])
        failures = dict(res["failed_ops"])
        failed = res["failed"]
        if args.workload == "query_mix":
            bad, undecided = oracle_failures(root, tables, os.path.join(work, "results"))
            for name, why in sorted(bad.items()):
                failures.setdefault(name, f"differs from its oracle: {why}")
            for name, why in sorted(undecided.items()):
                print(f"{args.workload} UNCHECKED {name}: {why}")
            failed = len(failures)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for k, v in res["headline"].items():
        print(f"{args.workload} {k} = {v:.6g}" if isinstance(v, (int, float)) else
              f"{args.workload} {k} = {v}")
    # tracing overhead: the traced run's own median lag against the last
    # untraced run of the same workload and seed in this build directory
    last = os.path.join(build_dir, "e2e", f"{args.workload}-seed{args.seed}.json")
    if args.trace and os.path.exists(last):
        base = json.load(open(last)).get("lag_p50_ms")
        traced = res["layers"].get("trace.lag_p50_ms")
        if base and traced:
            print(f"{args.workload} tracing_overhead_lag_p50_pct = {100 * (traced / base - 1):.3g}")
    elif not args.trace:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as fh:
            json.dump(res["e2e"], fh)
    wanted = bench_cfg["per_layer" if args.trace else "end_to_end"]
    values = res["layers"] if args.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"], 0.0)  # 0 = a layer this workload does not exercise
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            problems.append(f"metric {m['name']} was not measured")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(f"{args.workload} failed_ratio = {failed / max(res['attempted'], 1):.6g}")
    for op, why in failures.items():
        print(f"{args.workload} FAILED {op}: {why}")
    for p in problems:
        print(f"{args.workload} PROBLEM {p}")
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
