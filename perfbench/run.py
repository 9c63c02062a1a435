#!/usr/bin/env python3
"""The repo benchmark: runs one workload of the graft engine and prints its
metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and
the benchmark's Scala code from source with sbt (perfbench/build.sbt); later
runs reuse the build while the sources are unchanged. Inputs are generated
from --seed by perfbench/gen.py. Everything the benchmark writes goes under
.bench_build/ in the checkout.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
of a traced run plus its overhead against an untraced run. The last line
of standard output is the result; the line before it is the full record
(host, inputs, quartiles, checks). See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import math
import os
import shutil
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

# Fixed heap and young generation: peak RSS then follows live data rather
# than where in the adaptive eden growth the run happened to end.
JVM_HEAP = ["-Xms3g", "-Xmx3g", "-Xmn384m"]
JVM_TIMEOUT_S = 170
# Each workload's input size, in copies of the base tables (gen.py): the
# largest that keeps one cold run near 50 s on a 4-core host, so that the
# 22 runs per workload of a benchmark pass fit its time budget.
# forecast_submit's time grows slowly with rows (29 s wall at 6 copies,
# 47 s at 30); train_models' wide feature store grows fast (36 s wall at
# 1 copy, 50 s at 3, 76 s at 10).
SCALE = {"forecast_submit": 20, "train_models": 2, "query_mix": 1}
# query_mix: a fixed spread of Bench headline queries across the module
# families (cleaning, windows, post-processing, text, top-k, AR, quantile
# regression, as-of join, sketches), including q297/q298, which share one
# memoized ARIMA fit table, and q265, which has no oracle SQL.
MIX = [
    "q01_clean_filter", "q41_rolling_slope", "q79_postprocess_chain",
    "q131_source_mix", "q181_topk", "q214_ar2", "q262_quantile_reg",
    "q304_asof_exec", "q297_arima211", "q298_arima021", "q265_sketch_distinct"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the benchmark's Scala code; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found next to perfbench/")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, f"classpath-{source_digest()}.txt")
    if os.path.exists(stamp):
        return open(stamp).read().strip()
    log("building with sbt (first run in this checkout)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Dsbt.global.base={BUILD}/sbt", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "graft" not in lines[-1] and "classes" not in lines[-1]:
        fail(f"build failed (see {os.path.relpath(BUILD, ROOT)}/build.log)")
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


# ---------------------------------------------------------------- running

def run_jvm(cp, workdir, name, **args):
    """One benchmark JVM; returns its result dict plus `setup_s`, measured
    from just before the process is started to its first timed operation."""
    out = os.path.join(workdir, name)
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    result = os.path.join(out, "result.json")
    cmd = (["java", *ADD_OPENS, *JVM_HEAP, f"-Djava.io.tmpdir={out}/tmp",
            "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
            f"out={out}", f"result={result}"] + [f"{k}={v}" for k, v in args.items()])
    launch = time.time()
    with open(os.path.join(out, "jvm.log"), "w") as lg:
        p = subprocess.run(cmd, stdout=lg, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
    if p.returncode != 0 or not os.path.exists(result):
        fail(f"benchmark JVM exited with {p.returncode} (see {out}/jvm.log)")
    with open(result) as f:
        r = json.load(f)
    r["setup_s"] = r["first_op_ms"] / 1000.0 - launch
    r["out"] = out
    return r


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cores():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- checks

class HashStore:
    """Outputs per (program and input digest, workload, seed, item), kept
    in the checkout so a later run on the same sources and the same input
    can be compared with the first one. An edited source or generator
    starts a new record: the compare holds within one build, not across
    commits."""

    def __init__(self, path, digest):
        self.path = path
        self.digest = digest
        self.data = json.load(open(path)) if os.path.exists(path) else {}

    def same(self, key, value):
        first = self.data.setdefault(f"{self.digest}|{key}", value)
        return first == value

    def close(self, key, values, rel=1e-9):
        """Numbers equal to the first record within a relative tolerance."""
        first = self.data.setdefault(f"{self.digest}|{key}", values)
        return len(first) == len(values) and all(
            math.isclose(a, b, rel_tol=rel) for a, b in zip(first, values))

    def save(self):
        with open(self.path, "w") as f:
            json.dump(self.data, f, indent=0, sort_keys=True)


def csv_rows(path):
    files = sorted(glob.glob(os.path.join(path, "*.csv")))
    lines = []
    for f in files:
        with open(f) as fh:
            lines += fh.read().splitlines()[1:]
    return lines


def check_forecast(r, input_dir, seed, store, failures):
    """Both submissions validate, have five rows per series and hash equal
    to the first run of the seed (traced and untraced runs alike)."""
    n_series = duckdb.sql(
        f"SELECT count(*) FROM (SELECT DISTINCT l_partkey, l_suppkey FROM "
        f"read_parquet('{input_dir}/lineitem.parquet') WHERE l_partkey IS NOT NULL "
        f"AND l_suppkey IS NOT NULL AND coalesce(l_quantity, 0) > 0)").fetchone()[0]
    for d, step in (("submission", "forecast"), ("submission_champion", "champion")):
        rows = csv_rows(os.path.join(r["out"], d))
        digest = hashlib.sha256("\n".join(sorted(rows)).encode()).hexdigest()
        problems = []
        if not r["csv_valid"].get(d):
            problems.append("SubmissionValidator.isValid is false")
        if len(rows) != 5 * n_series:
            problems.append(f"{len(rows)} rows, expected 5 x {n_series} series")
        if not store.same(f"forecast_submit|{seed}|{d}", digest):
            problems.append("content hash differs from the first run of this seed")
        if problems:
            failures.setdefault(step, []).append(f"{d}: " + "; ".join(problems))


WIDE_BASE = ["l_partkey", "l_suppkey", "week_start", "qty_sum"]


def check_train(r, seed, store, failures):
    """The wide frame has the base columns plus k selected features, none
    twice, and one row per weekly-grain row that has a next week; the
    holdout WMAPEs are finite and equal to the first run of the seed."""
    cols = r.get("wide_columns") or []
    problems = []
    if cols[:len(WIDE_BASE)] != WIDE_BASE:
        problems.append(f"leading columns {cols[:len(WIDE_BASE)]}, expected {WIDE_BASE}")
    if len(cols) != len(WIDE_BASE) + r.get("wide_k", -1) or len(set(cols)) != len(cols):
        problems.append(f"{len(cols)} columns ({len(set(cols))} distinct), "
                        f"expected {len(WIDE_BASE)} + k = {len(WIDE_BASE) + r.get('wide_k', -1)}")
    if r.get("wide_rows") != r.get("wide_expected_rows"):
        problems.append(f"{r.get('wide_rows')} rows, expected {r.get('wide_expected_rows')}")
    if problems:
        failures.setdefault("feature_store_wide", []).append("; ".join(problems))
    w = (r.get("wmape_gbt"), r.get("wmape_naive"))
    if not all(isinstance(x, float) and math.isfinite(x) for x in w):
        failures.setdefault("gbt", []).append(f"holdout WMAPEs not finite: {w}")
    elif not store.close(f"train_models|{seed}|wmape", list(w)):
        failures.setdefault("gbt", []).append(f"holdout WMAPEs {w} differ from the first run")


def check_query_mix(r, input_dir, seed, store, failures):
    """Queries with oracle SQL match DuckDB through tools/check_oracle.py;
    the others hash equal to their first result for the seed."""
    res = os.path.join(r["out"], "results")
    oracle = json.load(open(os.path.join(res, "oracle_sql.json")))
    checker = os.path.join(ROOT, "tools", "check_oracle.py")
    if oracle:
        p = subprocess.run([sys.executable, checker, res, input_dir, *sorted(oracle)],
                           capture_output=True, text=True, timeout=120)
        passed = {ln.split()[1] for ln in p.stdout.splitlines() if ln.startswith("PASS ")}
        for q in oracle:
            if q not in passed:
                line = next((ln for ln in p.stdout.splitlines() if ln.startswith(f"FAIL {q}")),
                            f"FAIL {q}: no verdict")
                failures.setdefault(q, []).append(line)
    spec = importlib.util.spec_from_file_location("check_oracle", checker)
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    for q in sorted({op["name"] for op in r["ops"] if op["ok"]} - set(oracle)):
        df = co.norm(duckdb.sql(
            f"SELECT * FROM read_parquet('{res}/{q}/*.parquet')").df())
        digest = hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()
        if not store.same(f"query_mix|{seed}|{q}", digest):
            failures.setdefault(q, []).append("result hash differs from the first run")


def count_failures(r, failures):
    """(attempted, failed) ops of one JVM: an op fails when it raised or
    when a check found a problem with its output."""
    for op in r["ops"]:
        if not op["ok"]:
            failures.setdefault(op["name"], []).append(op["error"])
    return len(r["ops"]), sum(1 for op in r["ops"] if op["name"] in failures)


# ---------------------------------------------------------------- metrics

def end_to_end(results, fact_rows):
    """The bounded end-to-end metrics (BENCHMARK.json), medians over the
    run's untraced JVMs."""
    wall = stats.median([r["wall_s"] for r in results])
    return {
        "setup_s": (stats.median([r["setup_s"] for r in results]), "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (fact_rows / wall, "1/s"),
        "peak_rss_mb": (stats.median([r["peak_rss_kb"] for r in results]) / 1024.0, "MB"),
    }


def per_layer(traced, plain):
    spans = traced["spans"]
    jobs = traced["jobs"]
    selfs = stats.self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def module_s(name):
        return sum((selfs[s["id"]] for s in by_name.get(name, [])), 0.0)

    def jobs_in(name):
        iv = [(s["start_ns"] / 1e6, s["end_ns"] / 1e6) for s in by_name.get(name, [])]
        return sum(1 for j in jobs if any(a <= j["start_ms"] <= b for a, b in iv))

    t = traced["tallies"]
    e = traced["exec"]
    p = traced["plan"]
    exec_wall = stats.union_length([(j["start_ms"], j["end_ms"]) for j in jobs]) / 1000.0
    m = {
        "build.s": (sum(s["end_ns"] - s["start_ns"] for s in by_name.get("build", [])) / 1e9, "s"),
        "build.eager_jobs": (jobs_in("build"), "count"),
        "plan.analysis_s": (p["analysis_s"], "s"),
        "plan.optimization_s": (p["optimization_s"], "s"),
        "plan.planning_s": (p["planning_s"], "s"),
        "plan.exchanges": (p["exchanges"], "count"),
        "plan.broadcasts": (p["broadcasts"], "count"),
        "plan.global_windows": (p["global_windows"], "count"),
        "plan.cartesians": (p["cartesians"], "count"),
        "exec.jobs": (len(jobs), "count"),
        "exec.stages": (e["stages"], "count"),
        "exec.tasks": (e["tasks"], "count"),
        "exec.task_wait_s": (e["task_wait_s"], "s"),
        "exec.cpu_s": (e["cpu_s"], "s"),
        "exec.cpu_util": (e["cpu_s"] / (exec_wall * traced["cores"]) if exec_wall else 0.0, "ratio"),
        "exec.gc_s": (e["gc_s"], "s"),
        "exec.shuffle_write_mb": (e["shuffle_write_mb"], "MB"),
        "exec.shuffle_read_mb": (e["shuffle_read_mb"], "MB"),
        "exec.spill_mb": (e["spill_mb"], "MB"),
        "exec.peak_exec_mem_mb": (e["peak_exec_mem_mb"], "MB"),
        "exec.failed_tasks": (e["failed_tasks"], "count"),
        "core.s": (module_s("core"), "s"),
        "core.rows": (t.get("core.rows", 0), "count"),
        "etl.s": (module_s("etl"), "s"),
        "etl.kept_ratio": (t["etl.kept"] / t["etl.scanned"] if t.get("etl.scanned") else 0.0, "ratio"),
        "operators.s": (module_s("operators"), "s"),
        "operators.selected_ratio": (t["operators.selected"] / t["operators.generated"]
                                     if t.get("operators.generated") else 0.0, "ratio"),
        "seq.s": (module_s("seq"), "s"),
        "seq.series": (t.get("seq.series", 0), "count"),
        "model.s": (module_s("model"), "s"),
        "model.jobs": (jobs_in("model"), "count"),
        "post.s": (module_s("post"), "s"),
        "io.write_s": (module_s("io.write"), "s"),
        "io.bytes_written": (t.get("io.bytes_written", 0), "bytes"),
        "io.validate_s": (module_s("io.validate"), "s"),
        "trace.overhead_s": (traced["wall_s"] - plain["wall_s"], "s"),
    }
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    load_start = loadavg()
    cp = build()
    workdir = os.path.join(BUILD, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    t0 = time.time()
    inputs = gen.generate(os.path.join(workdir, "input"), a.seed, SCALE[a.workload])
    if a.workload == "query_mix":
        gen.generate(os.path.join(workdir, "warm"), a.seed + 1_000_003, 1)
    gen_s = time.time() - t0
    input_dir = os.path.join(workdir, "input")
    common = dict(workload=a.workload, input=input_dir, warm=os.path.join(workdir, "warm"),
                  seconds=a.seconds, seed=a.seed, cores=cores(),
                  mix=",".join(MIX), warmup=",".join(MIX))

    # Batch workloads run cold, one fresh JVM per timed run, until the
    # measured time reaches --seconds; query_mix loops inside one JVM.
    results = []
    if a.trace:
        results.append(run_jvm(cp, workdir, "plain", traced=0, **common))
        results.append(run_jvm(cp, workdir, "traced", traced=1, **common))
    else:
        while not results or (a.workload != "query_mix"
                              and sum(r["wall_s"] for r in results) < a.seconds):
            results.append(run_jvm(cp, workdir, f"run{len(results)}", traced=0, **common))

    store = HashStore(os.path.join(BUILD, "hashes.json"),
                      f"{source_digest()}|{gen.digest(input_dir)}")
    failures = {}
    attempted = failed = 0
    for r in results:
        f = failures.setdefault(os.path.basename(r["out"]), {})
        if a.workload == "forecast_submit":
            check_forecast(r, input_dir, a.seed, store, f)
        elif a.workload == "train_models":
            check_train(r, a.seed, store, f)
        else:
            check_query_mix(r, input_dir, a.seed, store, f)
        n, bad = count_failures(r, f)
        attempted += n
        failed += bad
    store.save()

    plain = [r for r in results if not r["traced"]]
    e2e = end_to_end(plain, inputs["lineitem"])
    if a.trace:
        metrics = per_layer(results[1], results[0])
    else:
        metrics = e2e
    lat = [op["s"] for r in plain for op in r["ops"]]
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "host": {"nproc": os.cpu_count(), "cores_used": cores(),
                 "loadavg_start": load_start, "loadavg_end": loadavg(),
                 "java": results[0]["java_version"], "spark": results[0]["spark_version"],
                 "jvm_heap": JVM_HEAP, "max_heap_mb": results[0]["max_heap_mb"]},
        "inputs": {"scale": SCALE[a.workload], "rows": inputs, "gen_s": gen_s},
        "jvms": len(results),
        "fail_ratio": failed / attempted,
        "failures": {k: v for k, v in failures.items() if v},
        "end_to_end": {k: v[0] for k, v in e2e.items()},
        # per-operation latency (a query, or a job step of a batch workload)
        "op_p50_s": stats.median(lat),
        "ops_per_s": len(lat) / sum(r["wall_s"] for r in plain),
        "quartiles": {"wall_s": stats.quartiles([r["wall_s"] for r in plain]),
                      "setup_s": stats.quartiles([r["setup_s"] for r in plain]),
                      "op_s": stats.quartiles(lat)},
        "op_samples": len(lat),
        "op_tail": stats.tail(lat),
        "ops": [[op["name"], round(op["s"], 4), op["ok"]] for r in plain for op in r["ops"]],
    }
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{int(t0)}.json"), "w") as f:
        json.dump({**record, "metrics": {k: v[0] for k, v in metrics.items()}}, f, indent=1)
    shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
