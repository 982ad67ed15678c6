"""Inputs of the benchmark: TPC-H-shaped tables, query instances drawn
from SPARQL/SQL template pairs, and N-Quads ingest batches.

The tables come from a fixed data seed, so every run queries the same
data; the run seed picks template parameters, draw order, batch order
and lookup keys. Every SPARQL template has an SQL twin over the source
tables, which DuckDB answers as the independent oracle.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20161
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
FLAGS = ["A", "N", "R"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "hot", "green", "large", "shiny", "old"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "valve", "pipe", "nut"]

XSD = "http://www.w3.org/2001/XMLSchema#"
PREFIX = f"PREFIX : <urn:p:>\nPREFIX xsd: <{XSD}>\n"


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    """The seven tables at scale factor `sf`, as pyarrow tables."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}),
    }
    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(STATUSES, n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_line = len(okey)
    lineno = np.arange(n_line) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_line).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(FLAGS, n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 122, n_line)
                               .astype("timedelta64[D]"), pa.timestamp("us"))})
    return out


def write_tables(tabs, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tabs.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# ------------------------------------------------------------ templates

class Template:
    """A SPARQL query and its SQL twin, with the typed output columns
    both sides are compared on; `params` lists the parameter draws."""

    def __init__(self, name, sparql, sql, cols, params):
        self.name, self.sparql, self.sql = name, sparql, sql
        self.cols, self.params = cols, params

    def instance(self, p):
        return {"id": f"{self.name}:" + ",".join(str(v) for v in p.values()),
                "template": self.name,
                "query": PREFIX + self.sparql.format(**p),
                "sql": self.sql.format(**p), "cols": self.cols}


def dt(year):
    return f'"{year}-01-01T00:00:00"^^xsd:dateTime'


ANALYTIC = [
    Template(
        "chain_group_sum",
        """SELECT ?nname (SUM(?price) AS ?revenue) (COUNT(?l) AS ?n)
{{ ?l :returnflag "{flag}" . ?l :extendedprice ?price . ?l :order ?o .
   ?o :customer ?c . ?c :inNation ?nat . ?nat :nname ?nname }}
GROUP BY ?nname""",
        """SELECT n_name AS nname, SUM(l_extendedprice) AS revenue,
  COUNT(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = '{flag}' GROUP BY n_name""",
        [["nname", "string"], ["revenue", "double"], ["n", "bigint"]],
        [{"flag": f} for f in FLAGS]),
    Template(
        "star_date_window",
        """SELECT ?prio (COUNT(?o) AS ?n) (SUM(?tp) AS ?total)
{{ ?o :orderdate ?d . ?o :totalprice ?tp . ?o :orderpriority ?prio .
   FILTER(?d >= {lo} && ?d < {hi}) }}
GROUP BY ?prio""",
        """SELECT o_orderpriority AS prio, COUNT(*) AS n, SUM(o_totalprice) AS total
FROM orders WHERE o_orderdate >= TIMESTAMP '{y0}-01-01'
  AND o_orderdate < TIMESTAMP '{y1}-01-01' GROUP BY o_orderpriority""",
        [["prio", "string"], ["n", "bigint"], ["total", "double"]],
        [{"lo": dt(y), "hi": dt(y + 1), "y0": y, "y1": y + 1}
         for y in range(1995, 2001)]),
    Template(
        "optional_count",
        """SELECT ?cname (COUNT(?o) AS ?n)
{{ ?c :mktsegment "{seg}" . ?c :cname ?cname .
   OPTIONAL {{ ?o :customer ?c . ?o :orderstatus "{st}" }} }}
GROUP BY ?cname""",
        """SELECT c_name AS cname, COUNT(o_orderkey) AS n
FROM customer LEFT JOIN orders ON o_custkey = c_custkey AND o_orderstatus = '{st}'
WHERE c_mktsegment = '{seg}' GROUP BY c_name""",
        [["cname", "string"], ["n", "bigint"]],
        [{"seg": s, "st": t} for s in SEGMENTS for t in STATUSES]),
    Template(
        "not_exists",
        """SELECT ?cname
{{ ?c :inNation <urn:n:{nat}> . ?c :cname ?cname
   FILTER NOT EXISTS {{ ?o :customer ?c . ?o :totalprice ?tp FILTER(?tp > {thr}) }} }}""",
        """SELECT c_name AS cname FROM customer
WHERE c_nationkey = {nat} AND NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > {thr})""",
        [["cname", "string"]],
        [{"nat": n, "thr": t} for n in range(0, 25, 3) for t in (400000, 450000)]),
    Template(
        "path_seq",
        """SELECT ?rname (COUNT(?l) AS ?n) (SUM(?q) AS ?qty)
{{ ?l :suppRef ?s . ?l :quantity ?q . ?s :inNation/:inRegion ?r . ?r :rname ?rname
   FILTER(?q > {thr}) }}
GROUP BY ?rname""",
        """SELECT r_name AS rname, COUNT(*) AS n, SUM(l_quantity) AS qty
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
WHERE l_quantity > {thr} GROUP BY r_name""",
        [["rname", "string"], ["n", "bigint"], ["qty", "double"]],
        [{"thr": t} for t in (10, 20, 30, 40)]),
    Template(
        "order_limit",
        """SELECT ?o ?cname ?tp
{{ ?o :orderstatus "{st}" . ?o :totalprice ?tp . ?o :customer ?c . ?c :cname ?cname }}
ORDER BY DESC(?tp) ?o LIMIT {k}""",
        """SELECT 'urn:o:' || o_orderkey AS o, c_name AS cname, o_totalprice AS tp
FROM orders JOIN customer ON o_custkey = c_custkey WHERE o_orderstatus = '{st}'
ORDER BY o_totalprice DESC, 'urn:o:' || o_orderkey LIMIT {k}""",
        [["o", "string"], ["cname", "string"], ["tp", "double"]],
        [{"st": s, "k": k} for s in STATUSES for k in (10, 25)]),
    Template(
        "count_distinct",
        """SELECT ?seg (COUNT(DISTINCT ?c) AS ?nc) (COUNT(?o) AS ?no)
{{ ?o :orderpriority "{prio}" . ?o :customer ?c . ?c :mktsegment ?seg }}
GROUP BY ?seg""",
        """SELECT c_mktsegment AS seg, COUNT(DISTINCT c_custkey) AS nc, COUNT(*) AS no
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderpriority = '{prio}' GROUP BY c_mktsegment""",
        [["seg", "string"], ["nc", "bigint"], ["no", "bigint"]],
        [{"prio": p} for p in PRIORITIES]),
    Template(
        "union_strings",
        """SELECT ?pre (COUNT(?x) AS ?n)
{{ {{ ?x :cname ?name }} UNION {{ ?x :sname ?name }}
   FILTER(STRENDS(?name, "{d}"))
   BIND(UCASE(SUBSTR(?name, 1, 3)) AS ?pre) }}
GROUP BY ?pre""",
        """SELECT upper(substr(name, 1, 3)) AS pre, COUNT(*) AS n FROM (
  SELECT c_name AS name FROM customer UNION ALL SELECT s_name FROM supplier)
WHERE name LIKE '%{d}' GROUP BY 1""",
        [["pre", "string"], ["n", "bigint"]],
        [{"d": d} for d in range(10)]),
]

LOOKUPS = [
    Template(
        "point",
        """SELECT ?tp ?st ?prio
{{ <urn:o:{k}> :totalprice ?tp . <urn:o:{k}> :orderstatus ?st .
   <urn:o:{k}> :orderpriority ?prio }}""",
        """SELECT o_totalprice AS tp, o_orderstatus AS st, o_orderpriority AS prio
FROM orders WHERE o_orderkey = {k}""",
        [["tp", "double"], ["st", "string"], ["prio", "string"]], None),
    Template(
        "star",
        """SELECT ?l ?q ?pname
{{ ?l :order <urn:o:{k}> . ?l :quantity ?q . ?l :partRef ?pt . ?pt :pname ?pname }}""",
        """SELECT 'urn:l:' || l_orderkey || '-' || l_linenumber AS l, l_quantity AS q,
  p_name AS pname FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_orderkey = {k}""",
        [["l", "string"], ["q", "double"], ["pname", "string"]], None),
    Template(
        "values",
        """SELECT ?o ?cname ?tp
{{ VALUES ?o {{ {iris} }} ?o :customer ?c . ?c :cname ?cname . ?o :totalprice ?tp }}""",
        """SELECT 'urn:o:' || o_orderkey AS o, c_name AS cname, o_totalprice AS tp
FROM orders JOIN customer ON o_custkey = c_custkey WHERE o_orderkey IN ({keys})""",
        [["o", "string"], ["cname", "string"], ["tp", "double"]], None),
]


# Answerable from the ingest base store alone: its first answer ends a
# set-up pass.
BASE_LOOKUP = Template(
    "nation_customers",
    """SELECT ?cname ?bal {{ ?c :inNation <urn:n:{nat}> . ?c :cname ?cname . ?c :acctbal ?bal }}""",
    """SELECT c_name AS cname, c_acctbal AS bal FROM customer WHERE c_nationkey = {nat}""",
    [["cname", "string"], ["bal", "double"]], None)


# Few enough that the warm-up runs every one of them (so the timed loop
# meets no query plan for the first time), enough that the seed varies
# the parameters a run sees.
INSTANCES_PER_TEMPLATE = 2
# In a fresh JVM query times fall by a third, then a tenth, a round over
# the first three rounds (JIT), and level off after that.
WARM_ROUNDS = 3


def analytic_draws(seed, n_rounds=500):
    """Seeded instances of every analytic template, the warm-up order
    (`WARM_ROUNDS` rounds; round k runs instance k of every template,
    cyclically), and a seeded draw sequence over the instances. Draws
    come in rounds that hold each template once, so every window runs
    the same template mix whatever the seed."""
    rng = random.Random(seed)
    by_template = []
    for t in ANALYTIC:
        ps = list(t.params)
        rng.shuffle(ps)
        by_template.append([t.instance(p) for p in ps[:INSTANCES_PER_TEMPLATE]])
    warm = [mine[k % len(mine)]["id"] for k in range(WARM_ROUNDS) for mine in by_template]
    draws = []
    for _ in range(n_rounds):
        order = list(by_template)
        rng.shuffle(order)
        draws += [rng.choice(mine)["id"] for mine in order]
    return [i for mine in by_template for i in mine], warm, draws


def lookup_instances(rng, order_keys):
    """Point, star and VALUES lookups on keys of one batch."""
    k1, k2, k3, k4 = rng.sample(order_keys, 4)
    return [LOOKUPS[0].instance({"k": k1}),
            LOOKUPS[1].instance({"k": k2}),
            LOOKUPS[2].instance({"iris": " ".join(f"<urn:o:{k}>" for k in (k2, k3, k4)),
                                 "keys": f"{k2}, {k3}, {k4}"})]


# ------------------------------------------------------------- N-Quads

def _lit(v, dtype):
    return f'"{v}"^^<{XSD}{dtype}>'


def _str(v):
    return f'"{v}"'


def nquads(orders, lineitem):
    """N-Quads text of an orders/lineitem slice, with the terms the
    engine's own table projection (TpchQuads) produces, so batch terms
    join the base store's customers and parts."""
    out = []
    o = orders.to_pydict()
    for k, c, st, tp, d, pr in zip(o["o_orderkey"], o["o_custkey"], o["o_orderstatus"],
                                   o["o_totalprice"], o["o_orderdate"],
                                   o["o_orderpriority"]):
        s = f"<urn:o:{k}>"
        out += [f"{s} <urn:p:customer> <urn:c:{c}> .",
                f"{s} <urn:p:totalprice> {_lit(repr(float(tp)), 'double')} .",
                f"{s} <urn:p:orderstatus> {_str(st)} .",
                f"{s} <urn:p:orderdate> {_lit(d.strftime('%Y-%m-%dT%H:%M:%S'), 'dateTime')} .",
                f"{s} <urn:p:orderpriority> {_str(pr)} ."]
    li = lineitem.to_pydict()
    for k, ln, pk, sk, q, ep, dc, rf in zip(
            li["l_orderkey"], li["l_linenumber"], li["l_partkey"], li["l_suppkey"],
            li["l_quantity"], li["l_extendedprice"], li["l_discount"],
            li["l_returnflag"]):
        s = f"<urn:l:{k}-{ln}>"
        out += [f"{s} <urn:p:order> <urn:o:{k}> .",
                f"{s} <urn:p:partRef> <urn:pt:{pk}> .",
                f"{s} <urn:p:suppRef> <urn:s:{sk}> .",
                f"{s} <urn:p:quantity> {_lit(repr(float(q)), 'double')} .",
                f"{s} <urn:p:extendedprice> {_lit(repr(float(ep)), 'double')} .",
                f"{s} <urn:p:discount> {_lit(repr(float(dc)), 'double')} .",
                f"{s} <urn:p:returnflag> {_str(rf)} ."]
    return out


def base_quad_count(tabs):
    """Quads TpchQuads projects from region, nation, customer, supplier, part."""
    return (tabs["region"].num_rows + 2 * tabs["nation"].num_rows +
            4 * tabs["customer"].num_rows + 3 * tabs["supplier"].num_rows +
            5 * tabs["part"].num_rows)


def total_quad_count(tabs):
    return (base_quad_count(tabs) + 5 * tabs["orders"].num_rows +
            7 * tabs["lineitem"].num_rows)


def write_batch(tabs, start, n_orders, path, rng):
    """Orders `start` .. `start + n_orders - 1` with their lineitems as one
    N-Quads file, plus seeded lookups on its keys."""
    orders, lineitem = tabs["orders"], tabs["lineitem"]
    lo, hi = np.searchsorted(lineitem.column("l_orderkey").to_numpy(),
                             [start, start + n_orders])
    lines = nquads(orders.slice(start, n_orders), lineitem.slice(lo, hi - lo))
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return {"path": path, "quads": len(lines),
            "lookups": lookup_instances(rng, list(range(start, start + n_orders)))}


def ingest_plan(tabs, seed, out_dir, n_batches, orders_per_batch, batches_per_epoch,
                n_epochs):
    """Writes `n_batches` disjoint orders/lineitem batches as N-Quads files
    and draws the epochs: each epoch is a seeded choice of batches, each
    batch with its lookups."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_ord = tabs["orders"].num_rows
    # the last `orders_per_batch` orders are left to the JVM warm-up batch
    starts = rng.sample(range(0, n_ord - orders_per_batch, orders_per_batch), n_batches)
    batches = [write_batch(tabs, s, orders_per_batch, os.path.join(out_dir, f"batch{i}.nq"),
                           rng) for i, s in enumerate(starts)]
    epochs = [rng.sample(batches, batches_per_epoch) for _ in range(n_epochs)]
    return batches, epochs
