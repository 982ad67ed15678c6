"""Statistics and answer checking for the benchmark: the DuckDB oracle
and result normalization, percentiles with the tail rule, span self
times, and the per-layer metrics built from them."""
import hashlib
import math
import statistics

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


# ---------------------------------------------------------------- answers

def _cell(v, ty):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ""
    if ty == "double":
        # 10 significant digits first: a SUM over ~1e5 doubles may differ
        # from the oracle's in the last bits, which 6 places alone keep
        return repr(round(float(f"{float(v):.10g}"), 6))
    if ty == "bigint":
        return str(int(v))
    return str(v)


def digest(cols, rows):
    """Order-insensitive md5 of a result: columns sorted by name, doubles
    rounded to 6 places, cells as strings, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i][0])
    norm = sorted([_cell(r[i], cols[i][1]) for i in order] for r in rows)
    return hashlib.md5(str(norm).encode()).hexdigest(), len(norm)


class Oracle:
    """DuckDB over the source parquet tables: the SQL twin of each query
    instance, answered independently of the engine."""

    def __init__(self, tables_dir):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")

    def expect(self, inst):
        rows = self.con.execute(inst["sql"]).fetchall()
        return digest(inst["cols"], rows)


# ------------------------------------------------------------ percentiles

def median(xs):
    return statistics.median(xs) if xs else 0.0


def template_p50(ops):
    """Typical query wall time: the median of each template's queries,
    combined over templates with a geometric mean. Templates differ in
    cost several-fold, so a plain median over a few rounds falls on the
    boundary between two templates' cost levels and jumps between them;
    this one moves only when the templates' own times move. With one
    template it is that template's median. Instance ids are
    `<template>:<parameters>`."""
    by = {}
    for o in ops:
        by.setdefault(o["inst"].split(":")[0], []).append(o["wall_s"])
    if not by:
        return 0.0
    return math.exp(statistics.fmean(math.log(median(v)) for v in by.values()))


def tail(xs):
    """The highest nearest-rank percentile that still has at least ten
    samples above it: (value, percentile, samples beyond). With ten or
    fewer samples no percentile qualifies and the maximum is returned
    with zero samples beyond."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return s[-1], 100.0, 0
    i = n - 11
    return s[i], 100.0 * (i + 1) / n, n - 1 - i


# ------------------------------------------------------------------ spans

def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its child spans cover. `spans` are
    (id, parent, op, name, phase, start_ns, end_ns) rows; returns
    {id: self seconds}."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append((s[5], s[6]))
    out = {}
    for s in spans:
        lo, hi = s[5], s[6]
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in sorted(kids.get(s[0], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s[0]] = (hi - lo - covered) / 1e9
    return out


# Phases searched in order for a layer's spans: the timed loop first,
# then set-up, then the traced-run probe of layers the loop left idle.
PHASES = [("window", "after_compact"), ("setup",), ("probe", "probe_after_compact")]

SPAN_LAYERS = {
    "sparql.parse_s": "sparql.parse",
    "sparql.optimize_s": "sparql.optimize",
    "sparql.compile_s": "sparql.compile",
    "sparql.stats_s": "sparql.stats",
    "dict.compile_s": "dict.compile",
    "dict.encode_s": "dict.encode",
    "dict.append_s": "dict.append",
    "dict.compact_s": "dict.compact",
    "dict.load_s": "dict.load",
    "io.parse_s": "io.parse",
    "io.write_parquet_s": "io.write_parquet",
    "catalyst.plan_s": "catalyst.plan",
    "exec.run_s": "exec.run",
}

STAGE_LAYERS = [
    ("exec.jobs", "jobs", "count"), ("exec.stages", "stages", "count"),
    ("exec.tasks", "tasks", "count"), ("exec.task_cpu_s", "task_cpu_s", "s"),
    ("exec.shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "shuffle_read_bytes", "bytes"),
    ("exec.shuffle_fetch_wait_s", "shuffle_fetch_wait_s", "s"),
    ("exec.spill_bytes", "spill_bytes", "bytes"),
    ("exec.input_rows", "input_rows", "count"), ("exec.gc_s", "gc_s", "s"),
]


def layer_metrics(raw):
    """Per-layer metrics of a traced run, plus where each came from.
    A span layer's value is the median over operations of the self time
    it spent in that operation."""
    spans = raw["spans"]
    own = self_times(spans)
    metrics, source = {}, {}
    for metric, name in SPAN_LAYERS.items():
        for phases in PHASES:
            per_op = {}
            for s in spans:
                if s[3] == name and s[4] in phases:
                    per_op[s[2]] = per_op.get(s[2], 0.0) + own[s[0]]
            if per_op:
                metrics[metric] = (median(list(per_op.values())), "s")
                source[metric] = phases[0]
                break
        else:
            metrics[metric] = (0.0, "s")
            source[metric] = "idle"
    queries = [o for o in raw["ops"] if o["kind"] == "query" and o["ok"]]
    traced_q = {o["id"]: o for o in queries if o["traced"]}
    stages = {s["op"]: s for s in raw["stages"] if s["op"] in traced_q}
    for metric, key, unit in STAGE_LAYERS:
        metrics[metric] = (median([s[key] for s in stages.values()]), unit)
    metrics["exec.rows_read_per_result"] = (median(
        [s["input_rows"] / max(1, traced_q[o]["rows"]) for o, s in stages.items()]),
        "ratio")
    for k in ("shuffle_exchanges", "broadcast_exchanges"):
        metrics[f"plan.{k}"] = (median([o[k] for o in traced_q.values()]), "count")
    after = [o["wall_s"] for o in queries if o["phase"] == "after_compact"]
    probe_after = [o["wall_s"] for o in queries if o["phase"] == "probe_after_compact"]
    metrics["dict.lookup_after_compact_p50_s"] = (median(after or probe_after), "s")
    source["dict.lookup_after_compact_p50_s"] = "window" if after else "probe"
    own_store = raw["workload"] != "analytic_terms"
    metrics["dict.store_files"] = (
        raw["store_files"] if own_store else raw["probe_store_files"], "count")
    metrics["dict.store_bytes"] = (
        raw["store_bytes"] if own_store else raw["probe_store_bytes"], "bytes")
    source["dict.store_files"] = source["dict.store_bytes"] = (
        "window" if own_store else "probe")
    metrics["trace.overhead_frac"] = (trace_overhead(queries), "ratio")
    return metrics, source


def trace_overhead(queries):
    """Traced over untraced query time in the timed loop, minus one,
    each side as `template_p50` over the templates both sides ran."""
    window = [o for o in queries if o["phase"] == "window"]
    on = [o for o in window if o["traced"]]
    off = [o for o in window if not o["traced"]]
    both = {o["inst"].split(":")[0] for o in on} & {o["inst"].split(":")[0] for o in off}
    if not both:
        return 0.0
    def pick(xs):
        return [o for o in xs if o["inst"].split(":")[0] in both]
    return template_p50(pick(on)) / template_p50(pick(off)) - 1.0


def query_shares(raw, cores):
    """Where the wall time of a traced run's timed queries goes, as
    medians over those queries: the share spent planning before
    execution (parse, optimize, compile, Catalyst planning), the share
    inside `collect()` (job launch, scheduling and tasks), how busy the
    cores were inside `collect()` (executor run time over collect time
    times cores), and the share of the query's process CPU that tasks
    spent (the rest is JIT, GC and the client thread's own work)."""
    own = self_times(raw["spans"])
    by_op = {}
    for s in raw["spans"]:
        d = by_op.setdefault(s[2], {})
        d[s[3]] = d.get(s[3], 0.0) + own[s[0]]
    stages = {s["op"]: s for s in raw["stages"]}
    planning = ("sparql.parse", "sparql.optimize", "sparql.compile", "dict.compile",
                "catalyst.plan")
    rows = []
    for o in raw["ops"]:
        if not (o["kind"] == "query" and o["ok"] and o["traced"] and o["phase"] == "window"
                and o["id"] in stages and o["wall_s"] > 0):
            continue
        sp, st = by_op.get(o["id"], {}), stages[o["id"]]
        run = sp.get("exec.run", 0.0)
        rows.append((sum(sp.get(k, 0.0) for k in planning) / o["wall_s"], run / o["wall_s"],
                     st["run_s"] / (run * cores) if run > 0 else 0.0,
                     st["task_cpu_s"] / o["cpu_s"] if o["cpu_s"] > 0 else 0.0))
    names = ("planning_share_of_wall", "collect_share_of_wall", "core_busy_in_collect",
             "task_share_of_process_cpu")
    return {n: median([r[i] for r in rows]) for i, n in enumerate(names)} | {"queries": len(rows)}

