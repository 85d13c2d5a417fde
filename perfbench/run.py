#!/usr/bin/env python3
"""Benchmark of the graft engine: one seeded workload per invocation.

    python3 perfbench/run.py --workload serve_zipf --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15   # both

Run from the repository root. The first run builds the engine and the
runner from source with sbt (output under .bench_build/); later runs
reuse the build while the sources are unchanged. Each run works in its
own directory under .bench_work/ and removes it at the end, keeping the
full report under .bench_work/results/.

The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics of BENCHMARK.json, or its
per-layer metrics with --trace 1). The line before it holds every named
metric of the workload with its unit, plus the run's fingerprint. The
exit code is 0 only if every output matched its check.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("serve_zipf", "pipeline_suite")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# Spark 4 on JDK 17 outside spark-submit (same list as the engine's build)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    """SHA-256 over (relative path, bytes) of every file under `paths`."""
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top)
                           for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def git_commit():
    """HEAD of the checkout, or "none" outside a git work tree (the
    source fingerprint identifies the code either way)."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except OSError:
        return "none"


def build():
    """Compile engine + runner; returns the runtime classpath."""
    src_fp = tree_hash([os.path.dirname(ENGINE_SRC), os.path.join(HERE, "src"),
                        os.path.join(HERE, "build.sbt")])
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "classpath.fp")
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read() == src_fp:
                with open(cp_file) as g:
                    return g.read().strip(), src_fp
    log("building engine and runner with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(src_fp)
    return cp, src_fp


def oracle_compare(fixture_dir, out_dir):
    """Compare each query output with its oracle SQL run by DuckDB on the
    same fixture: column names, row count, and every cell in order
    (doubles bitwise), as dev/check_oracle.py does. Kept here so that a
    change to the repository's dev tools cannot change what the
    benchmark checks. Returns (attempted, [failure messages])."""
    import duckdb
    import pyarrow.parquet as pq
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in sorted(os.listdir(fixture_dir)):
        name = t[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                f"'{os.path.join(fixture_dir, t)}'")
    fails = []
    for name in sorted(oracle):
        path = os.path.join(out_dir, name)
        try:
            got = pq.read_table(path).to_pylist()
            got_cols = pq.read_schema(
                [os.path.join(path, f) for f in os.listdir(path)
                 if f.endswith(".parquet")][0]).names
            rel = con.sql(oracle[name])
            cols = rel.columns
            want = [dict(zip(cols, r)) for r in rel.fetchall()]
        except Exception as e:  # a missing output or failed read is a mismatch
            fails.append(f"{name}: {type(e).__name__}: {e}")
            continue
        if sorted(got_cols) != sorted(cols):
            fails.append(f"{name}: columns {got_cols} vs oracle {cols}")
            continue
        if len(got) != len(want):
            fails.append(f"{name}: {len(got)} rows vs oracle {len(want)}")
            continue
        for i, (g, w) in enumerate(zip(got, want)):
            bad = [c for c in cols if not same(g[c], w[c])]
            if bad:
                c = bad[0]
                fails.append(f"{name}: row {i} col {c}: {g[c]!r} vs {w[c]!r}")
                break
    return len(oracle), fails


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return str(a) == str(b)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        log(f"engine sources not found at {ENGINE_SRC}: run from a checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp, src_fp = build()
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    worst = 0
    for workload in (WORKLOADS if args.workload == "all" else (args.workload,)):
        run_dir = os.path.join(WORK, f"run-{workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        try:
            code = run(workload, args, spec, cp, src_fp, run_dir, results_dir)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        worst = max(worst, code)
    return worst


def run(workload, args, spec, cp, src_fp, run_dir, results_dir):
    t_start = time.monotonic()
    jvm_args = ["--workload", workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--work", run_dir]
    fixture_fp = None
    if workload == "pipeline_suite":
        sys.path.insert(0, HERE)
        import fixture
        if not fixture.self_check(args.seed):
            log("fixture generator is not seed-deterministic")
            return 1
        fixture_dir = os.path.join(run_dir, "fixture")
        fixture_fp = fixture.generate(args.seed, fixture_dir)
        jvm_args += ["--fixture", fixture_dir]

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed-size heap and the throughput collector: no concurrent GC
    # threads competing with four executor cores, and a peak RSS that
    # does not swing with heap resizing
    # temporary files (Spark's and the engine's) stay in the run
    # directory, and no perf-data file is left under the system's tmp
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = [java, "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", *opens,
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           "-cp", cp, "graftbench.Main", *jvm_args]
    budget = RUN_LIMIT_S - (time.monotonic() - t_start)
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        try:
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=jlog,
                                  text=True, timeout=max(30.0, budget))
        except subprocess.TimeoutExpired:
            log("runner timed out")
            return 1
    lines = [l for l in proc.stdout.splitlines()
             if l.startswith("GRAFTBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        log(f"runner failed (exit {proc.returncode})")
        return 1
    rep = json.loads(lines[-1][len("GRAFTBENCH_RESULT "):])

    attempted, failed, errors = rep["attempted"], rep["failed"], rep["errors"]
    # an end-to-end metric that is missing, zero or not finite means the
    # run measured nothing (e.g. no request completed): a failure, not a gain
    for m in spec["end_to_end"]:
        v = rep["e2e"].get(m["name"])
        attempted += 1
        if not (isinstance(v, (int, float)) and math.isfinite(v) and v > 0):
            failed += 1
            errors.append(f"metric {m['name']} = {v!r}")
    if workload == "pipeline_suite":
        n, fails = oracle_compare(fixture_dir, os.path.join(run_dir, "suite_out"))
        attempted += n
        failed += len(fails)
        errors += fails[:20]
    for e in errors:
        log(f"MISMATCH {e}")

    info = dict(rep["info"])
    info["src_fp"] = src_fp
    info["git_commit"] = git_commit()
    if fixture_fp:
        info["input_fp"] = fixture_fp
    detail = dict(rep["detail"])
    detail["fail_ratio"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    if args.trace:
        metrics = {}
        for m in spec["per_layer"]:
            v = rep["layers"].get(m["name"], {}).get("value", 0.0)
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        metrics = {m["name"]: {"value": rep["e2e"].get(m["name"]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    record = {"workload": workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "info": info,
              "detail": detail, "metrics": metrics,
              "attempted": attempted, "failed": failed, "errors": errors}
    out = os.path.join(results_dir,
                       f"{workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, out[:-len(".json")] + "-spans.jsonl")

    correct = failed == 0
    print(json.dumps({"detail": detail, "info": info}, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
