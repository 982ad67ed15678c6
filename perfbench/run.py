#!/usr/bin/env python3
"""Benchmark of record for the SPARQL engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness
(perfbench/build.sh), generates the inputs, answers every query instance
with DuckDB (the oracle), runs one JVM for the workload, checks every
answer, and prints one `workload metric value unit` line per metric and
a final JSON line. It exits 1 when any answer is wrong or any operation
fails. Per-query and per-layer detail goes to
.bench_out/<workload>-seed<n>-trace<t>.json.

Workloads (closed loop, one client thread, local[min(2, nproc)]):
  analytic_terms  seeded analytic templates over the term-struct quads
                  parquet, through `quads.sparql(q, stats)`
  ingest_dict     N-Quads orders/lineitem batches appended to a dict store
                  with read-your-writes lookups, then compacted
  analytic_dict   the analytic templates and seed over `DictStore.encode`
                  of the same quads, through `DictStore#sparql` (not in
                  BENCHMARK.json: see CHANGES.md)
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ("analytic_terms", "ingest_dict", "analytic_dict")
# ~78 k quads (9 k lineitems, 2.25 k orders): small enough that a
# whole run, cold JVM and set-up included, takes under a minute, and
# fifty runs fit in an hour with room to spare
SF = 0.0015
SETUP_REPS = 3
HEAP = "1g"
# Spark task threads. With the client (driver) thread and the JIT they
# keep the JVM within a 4-core host; more task threads do not make
# queries at this scale faster, only more exposed to other tenants.
CORES = 2
# one batch an epoch; an epoch takes about 4 s
INGEST = dict(n_batches=8, orders_per_batch=150, batches_per_epoch=1, n_epochs=64)
PRIME_ORDERS = 50      # the last orders, after every timed batch
# Whole analytic rounds (ingest: epochs) a window runs at least. A round
# takes 3-5 s and an epoch about 4 s, so a window of 5 s or less runs
# exactly this many: the count does not hinge on the host's speed.
MIN_ROUNDS = 2
JVM_TIMEOUT_S = 160
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_sha():
    h = hashlib.sha256()
    for p in sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                    glob.glob("perfbench/src/**/*.scala", recursive=True)):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit
    on the PATH, else the `unmanagedBase` the repository's build.sbt
    compiles against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    if os.path.isfile("build.sbt"):
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return os.path.abspath(c)
    fail("Spark jars not found (set SPARK_HOME)")


def build():
    if not os.path.isdir("src/main/scala"):
        fail("run from the repository root: src/main/scala not found")
    if shutil.which("java") is None:
        fail("java not found")
    r = subprocess.run(["bash", "perfbench/build.sh", spark_jars()],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"build failed (exit {r.returncode})")


def make_plan(workload, seed, seconds, trace, run_dir, cores, sf, setup_reps):
    """The harness plan and every query instance it may run. A warm-up
    pass, never checked, runs between set-up and the timed loop; the
    ingest warm-up appends orders no timed batch holds."""
    tabs = gen.tables(sf)
    tables_dir = os.path.join(run_dir, "tables")
    gen.write_tables(tabs, tables_dir)
    plan = {"workload": workload, "trace": bool(trace), "seconds": seconds,
            "cores": cores, "tables": tables_dir, "min_rounds": MIN_ROUNDS,
            "work": os.path.join(run_dir, "work"), "setup_reps": setup_reps,
            "total_quads": gen.total_quad_count(tabs),
            "base_quads": gen.base_quad_count(tabs)}
    insts, warm, draws = gen.analytic_draws(seed)
    batches, epochs = gen.ingest_plan(tabs, seed, os.path.join(run_dir, "batches"), **INGEST)
    plan["probe_batch"] = batches[0]["path"]
    unchecked = []
    if workload == "ingest_dict":
        first = gen.BASE_LOOKUP.instance({"nat": random.Random(seed).randrange(25)})
        insts = list({i["id"]: i for i in
                      [first] + [i for b in batches for i in b["lookups"]]}.values())
        n_ord = tabs["orders"].num_rows
        prime = gen.write_batch(tabs, n_ord - PRIME_ORDERS, PRIME_ORDERS,
                                os.path.join(run_dir, "prime.nq"), random.Random(seed))
        unchecked = prime["lookups"]

        def ids(b):
            return {"path": b["path"], "quads": b["quads"],
                    "lookups": [i["id"] for i in b["lookups"]]}
        plan.update(first_query=first["id"], prime_batch=ids(prime),
                    epochs=[[ids(b) for b in e] for e in epochs],
                    probe_query=batches[0]["lookups"][0]["id"])
    else:
        plan.update(first_query=draws[0], warmup=warm, draws=draws,
                    round=len(gen.ANALYTIC), probe_query=warm[0])
    plan["instances"] = [{k: i[k] for k in ("id", "query", "cols")}
                         for i in {i["id"]: i for i in unchecked + insts}.values()]
    return plan, insts, tables_dir


def run_jvm(plan_path, out_path, run_dir, cores):
    jars = spark_jars()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap, not pre-touched, so peak RSS follows the pages the
    # engine actually fills; GC threads capped like the task threads.
    # Four JIT threads (they idle once the code is compiled) bring the
    # JVM to steady query times within the warm-up. Metaspace starts
    # large enough that class loading triggers no full GC mid-window.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-XX:ParallelGCThreads={cores}", "-XX:CICompilerCount=4",
           "-XX:MetaspaceSize=256m", f"-Djava.io.tmpdir={tmp}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f".bench_build/classes:{jars}/*", "perfbench.PerfBench",
            plan_path, out_path]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            print(f.read()[-3000:], file=sys.stderr)
        fail(f"harness JVM failed ({rc})", 1)


def execute(workload, seed, seconds, trace, sf=SF, setup_reps=SETUP_REPS, edit_plan=None):
    """One run in a fresh directory that is deleted afterwards: inputs,
    oracle answers (outside the timed window), the JVM, and the answer
    check. Returns (raw harness output, answer checks, harness timings)."""
    cores = min(CORES, os.cpu_count() or 1)
    run_dir = os.path.abspath(os.path.join(
        ".bench_runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        plan, insts, tables_dir = make_plan(workload, seed, seconds, trace, run_dir,
                                            cores, sf, setup_reps)
        if edit_plan:
            edit_plan(plan, insts)
        gen_s = time.time() - t0
        t0 = time.time()
        oracle = M.Oracle(tables_dir)
        expected = {i["id"]: oracle.expect(i) for i in insts}
        oracle_s = time.time() - t0
        plan_path = os.path.join(run_dir, "plan.json")
        out_path = os.path.join(run_dir, "out.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        t0 = time.time()
        run_jvm(plan_path, out_path, run_dir, cores)
        jvm_s = time.time() - t0
        with open(out_path) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    cols = {i["id"]: i["cols"] for i in insts}
    checks = {}
    for iid, rows in raw["results"].items():
        got = M.digest(cols[iid], rows)
        checks[iid] = {"rows": got[1], "rows_oracle": expected[iid][1],
                       "match": got == expected[iid]}
    timings = {"gen_s": gen_s, "oracle_s": oracle_s, "jvm_s": jvm_s, "cores": cores}
    return raw, checks, timings


def end_to_end(raw):
    """User-visible metrics of an untraced run, from the timed window
    (the set-up samples for setup_s), and the detail kept out of them.
    The query figures count query operations only, also in ingest_dict,
    where appends and compactions share the window. The tail, write and
    compaction figures rest on 2-16 samples a run, too few to be steady
    across runs, so they stay in the detail."""
    ops = [o for o in raw["ops"] if o["phase"] in ("window", "after_compact")]
    q_ops = [o for o in ops if o["kind"] == "query" and o["ok"]]
    queries = [o["wall_s"] for o in q_ops]
    tail, pct, beyond = M.tail(queries)
    writes = raw["writes"] + [{"s": o["wall_s"], "quads": o["quads"]}
                              for o in ops if o["kind"] == "append" and o["ok"]]
    n = max(1, len(queries))
    m = {
        "setup_s": (M.median(raw["setup_s"]), "s"),
        "query_p50_s": (M.template_p50(q_ops), "s"),
        "store_bytes_per_quad": (raw["store_bytes"] / max(1, raw["live_quads"]), "bytes"),
        "peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB"),
    }
    # queries_per_s is 1 / mean query time in this one-client closed loop:
    # no more than query_p50_s tells, and the least steady figure across
    # runs, since one stalled query moves a mean. cpu_s_per_query moves
    # with query_p50_s (the process keeps 2.6-2.9 cores busy per query
    # whatever the run) and spreads as widely across runs.
    extra = {"query_samples": len(queries), "query_median_s": M.median(queries),
             "queries_per_s": len(queries) / max(1e-9, sum(queries)),
             "cpu_s_per_query": sum(o["cpu_s"] for o in q_ops) / n,
             "query_tail_s": tail,
             "query_tail_percentile": pct, "query_tail_samples_beyond": beyond,
             "write_p50_s": M.median([w["s"] for w in writes]),
             "write_quads_per_s": sum(w["quads"] for w in writes) /
             max(1e-9, sum(w["s"] for w in writes)),
             "write_samples": len(writes),
             "compact_s": [o["wall_s"] for o in ops if o["kind"] == "compact" and o["ok"]]}
    return m, extra


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    build()
    raw, checks, timings = execute(a.workload, a.seed, a.seconds, a.trace)

    mismatches = sorted(k for k, c in checks.items() if not c["match"])
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"] or o["inst"] in mismatches)
    correct = failed == 0 and len(checks) > 0
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "failed_frac": failed / max(1, attempted)}
    if a.trace:
        shown, detail["layer_source"] = M.layer_metrics(raw)
        own = M.self_times(raw["spans"])
        detail["spans"] = [dict(zip(("id", "parent", "op", "name", "phase", "start_ns",
                                     "end_ns"), s), self_s=own[s[0]]) for s in raw["spans"]]
        detail["stages"] = raw["stages"]
        detail["query_shares"] = M.query_shares(raw, timings["cores"])
    else:
        shown, detail["end_to_end_extra"] = end_to_end(raw)
    for k, (v, unit) in shown.items():
        print(f"{a.workload} {k} {v:.6g} {unit}")
    print(f"{a.workload} failed_frac {detail['failed_frac']:.6g} ratio")

    metrics = {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}
    detail.update({
        "metrics": metrics,
        "validity": {
            "calibration_before_s": M.median(raw["calib_before_s"]),
            "calibration_after_s": M.median(raw["calib_after_s"]),
            "cpu_wall_ratio": raw["window_cpu_s"] / raw["window_s"],
            "window_steal_frac": raw["window_steal_frac"],
            "nproc": os.cpu_count(), "cores": timings["cores"],
            "heap_max_bytes": raw["heap_max_bytes"],
            "heap_pools_peak_bytes": raw["heap_pools_peak_bytes"],
            "non_heap_pools_peak_bytes": raw["non_heap_pools_peak_bytes"],
            "timeline_s": raw["timeline_s"],
            "git_commit": git_commit(), "source_sha256_16": source_sha(),
            "scale_factor": SF},
        "harness": timings, "answers": checks, "mismatches": mismatches,
        "errors": raw["errors"], "ops": raw["ops"], "setup_samples_s": raw["setup_s"],
    })
    os.makedirs(".bench_out", exist_ok=True)
    with open(os.path.join(".bench_out",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
