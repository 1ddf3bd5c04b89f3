"""The three workloads. Each is a closed loop with one client: the next
operation is sent only after the previous one returned its rows.

Every workload gets a ``Run`` (the session, the generated data, the
seed and the optional tracer) and returns an ``Outcome``. Operation
sequences are pure functions of the seed (``cypher_plan``,
``write_plan``, ``batch_order``), so the same seed replays the same
operations. Correctness checks run after the measured window.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq

from perfbench.tracing import SparkCounters, Tracer

#: what attempt (and Run.timed) returns for an operation that raised
FAILED = object()


def attempt(fn):
    """``fn()``, or FAILED if it raised; the traceback goes to stderr
    and the caller counts the operation as failed."""
    try:
        return fn()
    except Exception:
        traceback.print_exc()
        return FAILED


# -- shared run state ---------------------------------------------------------


@dataclass
class Op:
    id: int
    kind: str  # "read" | "write" | "query"
    label: str
    seconds: float
    counters: dict | None = None


@dataclass
class Outcome:
    setup_s: float
    window_s: float
    attempted: int
    failed: int
    #: extra end-to-end figures for the report line: name -> (value, unit)
    report: dict = field(default_factory=dict)
    #: per-layer figures only the workload knows: name -> (value, unit)
    layers: dict = field(default_factory=dict)


class Run:
    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, seconds: float,
                 tracer: Tracer | None):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.counters = SparkCounters(spark) if tracer is not None else None
        self.ops: list[Op] = []

    def timed(self, kind: str, label: str, fn):
        """Run one operation, timing only ``fn``. Under tracing, its
        Spark jobs carry the op's job group and its counters are read
        after the clock stops. An operation that raises is left out of
        the latencies and returns FAILED."""
        op_id = len(self.ops)
        sc = self.spark.sparkContext
        if self.tracer is not None:
            self.tracer.op = op_id
            sc.setJobGroup(f"perfbench-{op_id}", label)
        t0 = time.perf_counter()
        if self.tracer is not None:
            with self.tracer.span(f"op.{kind}.{label}"):
                result = attempt(fn)
        else:
            result = attempt(fn)
        op = Op(op_id, kind, label, time.perf_counter() - t0)
        if self.tracer is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.tracer.op = None
            op.counters = self.counters.read(f"perfbench-{op_id}")
        if result is not FAILED:
            self.ops.append(op)
        return result

    def duckdb(self) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        for f in sorted(os.listdir(self.data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(self.data_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        return con


def canon(rows) -> list[tuple]:
    """Rows compared across engines: numbers as floats rounded to 6
    places (Cypher integers decode as int, DuckDB aggregates may be
    float or Decimal), timestamps as ISO text, lists element-wise."""
    return [tuple(_canon_value(v) for v in r) for r in rows]


def _canon_value(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return round(float(v), 6)


# -- cypher_interactive ---------------------------------------------------------

#: name -> (Cypher text, DuckDB replay, ordered?, literal domain)
CYPHER_TEMPLATES = {
    "point_lookup": (
        "MATCH (c:customer {{c_custkey: {k}}}) RETURN c.c_name AS name, c.c_acctbal AS bal",
        "SELECT c_name, c_acctbal FROM customer WHERE c_custkey = {k}",
        False, "customer",
    ),
    "hop1_agg": (
        "MATCH (c:customer)-[:placed]->(o:orders) WHERE c.c_custkey = {k} RETURN count(o) AS n",
        "SELECT count(*) FROM orders WHERE o_custkey = {k}",
        False, "customer",
    ),
    "hop2_agg": (
        "MATCH (c:customer)-[:placed]->(o:orders)-[:contains]->(p:part) "
        "WHERE c.c_custkey = {k} "
        "RETURN p.p_brand AS brand, count(*) AS n ORDER BY n DESC, brand LIMIT 3",
        "SELECT p.p_brand, count(*) AS n FROM orders o "
        "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        "JOIN part p ON p.p_partkey = l.l_partkey WHERE o.o_custkey = {k} "
        "GROUP BY 1 ORDER BY n DESC, 1 LIMIT 3",
        True, "customer",
    ),
    "vle_1_2": (
        "MATCH (c:customer {{c_custkey: {k}}})-[*1..2]->(x) RETURN count(x) AS n",
        # hop 1: the customer's orders + its nation; hop 2: their lineitems
        "SELECT (SELECT count(*) FROM orders WHERE o_custkey = {k}) + 1 + "
        "(SELECT count(*) FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        "WHERE o.o_custkey = {k})",
        False, "customer",
    ),
    "with_order_limit": (
        "MATCH (c:customer)-[:placed]->(o:orders) "
        "WHERE c.c_custkey >= {k} AND c.c_custkey < {k} + 25 "
        "WITH c.c_custkey AS key, count(o) AS n ORDER BY n DESC, key LIMIT 5 RETURN key, n",
        "SELECT o_custkey, count(*) AS n FROM orders "
        "WHERE o_custkey >= {k} AND o_custkey < {k} + 25 "
        "GROUP BY 1 ORDER BY n DESC, 1 LIMIT 5",
        True, "customer_range",
    ),
    "temporal": (
        "MATCH (o:orders {{o_orderkey: {k}}}) WITH o.o_orderdate::date AS d "
        "RETURN date_part('year', d) AS yr, date_part('month', d) AS mon, "
        "date_part('epoch', d + '45 days'::interval) AS plus45",
        "SELECT date_part('year', CAST(o_orderdate AS DATE)), "
        "date_part('month', CAST(o_orderdate AS DATE)), "
        "epoch(CAST(o_orderdate AS DATE) + INTERVAL 45 DAY) "
        "FROM orders WHERE o_orderkey = {k}",
        False, "orders",
    ),
    "sql_passthrough": (
        "SELECT count(*) AS n FROM edges WHERE label = 'placed' AND start_id = {gid}",
        "SELECT count(*) FROM orders WHERE o_custkey = {k}",
        False, "customer",
    ),
}

#: per block, each template runs its warmed text once and a new text
#: this many times: half the statements hit the plan cache
NEW_PER_BLOCK = 1
#: the window runs one block per this many seconds of --seconds (about
#: what a block takes on an idle 4-core machine), a fixed count rather
#: than a clock: the JVM keeps compiling the planner's hot paths for
#: minutes, so later blocks run faster than earlier ones, and a clock
#: would let the block count, and with it the latency, depend on the
#: speed being measured
BLOCK_SECONDS = 4


def cypher_text(template: str, k: int) -> tuple[str, str]:
    from postgraph_spark.graph import TPCH_VLABELS, make_graphid

    cy, sql, _ordered, _dom = CYPHER_TEMPLATES[template]
    return cy.format(k=k, gid=make_graphid(TPCH_VLABELS["customer"], k)), sql.format(k=k)


def cypher_blocks(seconds: float) -> int:
    return max(1, round(seconds / BLOCK_SECONDS))


def cypher_plan(seed: int, n_customers: int, n_orders: int, blocks: int):
    """(hot texts, blocks of (template, key, repeat)). The hot set holds
    one text per template, run once during warm-up; every block runs
    each template's hot text once and NEW_PER_BLOCK texts that never
    occurred before (hot again once a key domain runs dry), in seeded
    order, so every block has the same composition."""
    rng = random.Random(seed)
    names = sorted(CYPHER_TEMPLATES)
    domains = {
        "customer": n_customers,
        "customer_range": max(1, n_customers - 25),
        "orders": n_orders,
    }
    pools = {}
    for d, n in domains.items():
        keys = list(range(n))
        rng.shuffle(keys)
        pools[d] = keys
    hot = {name: pools[CYPHER_TEMPLATES[name][3]].pop() for name in names}
    plan = []
    for _ in range(blocks):
        block = []
        for name in names:
            pool = pools[CYPHER_TEMPLATES[name][3]]
            block.append((name, hot[name], True))
            for _ in range(NEW_PER_BLOCK):
                block.append((name, pool.pop(), False) if pool else (name, hot[name], True))
        rng.shuffle(block)
        plan.append(block)
    return list(hot.items()), plan


def cypher_interactive(run: Run, n_rows: dict) -> Outcome:
    from postgraph_spark.engine import CypherEngine
    from postgraph_spark.graph import GraphCatalog, tpch_graph

    spark, data = run.spark, run.data_dir
    build_s = build_graph(spark, data)
    catalog = GraphCatalog(spark)
    catalog.register(tpch_graph(spark, data))
    eng = CypherEngine(spark, catalog)

    hot, plan = cypher_plan(
        run.seed, n_rows["customer"], n_rows["orders"], cypher_blocks(run.seconds)
    )
    t0 = time.perf_counter()
    for name, k in hot:
        eng.fetch(cypher_text(name, k)[0])
    warm_s = time.perf_counter() - t0

    results = []
    start = time.perf_counter()
    for block in plan:
        for name, k, repeat in block:
            text = cypher_text(name, k)[0]
            label = f"{name}.{'hot' if repeat else 'new'}"
            results.append((name, k, run.timed("read", label, lambda: eng.fetch(text))))
    window = time.perf_counter() - start

    con = run.duckdb()
    failed = 0
    expected: dict[tuple, list] = {}
    for name, k, rows in results:
        if rows is FAILED:
            failed += 1
            continue
        if (name, k) not in expected:
            expected[(name, k)] = canon(con.execute(cypher_text(name, k)[1]).fetchall())
        exp, got = expected[(name, k)], canon(rows)
        if not CYPHER_TEMPLATES[name][2]:
            exp, got = sorted(exp, key=repr), sorted(got, key=repr)
        failed += exp != got
    con.close()

    lat = [op.seconds for op in run.ops]
    return Outcome(
        setup_s=build_s + warm_s,
        window_s=window,
        attempted=len(results),
        failed=failed,
        report={
            "read_p50_ms": (percentile_ms(lat, 50), "ms"),
            "read_p90_ms": (percentile_ms(lat, 90), "ms"),
            "warmup_s": (warm_s, "s"),
        },
        layers={"graph.build_s": (build_s, "s")},
    )


# -- graph_writes -------------------------------------------------------------

WRITE_KINDS = ("create", "set", "merge_hit", "merge_miss", "delete")
NEW_KEY_BASE = 10_000_000
#: writes of the warm-up (CREATE, SET), each with its check: the first
#: CREATE, its check and the first SET of a process run 1-2.5 s slower
#: than later ones on a 4-core machine, while MERGE and DETACH DELETE
#: run no slower on their first use
WARM_WRITES = 2
#: bulk loads tried before the run fails: now and then, on a busy host,
#: load_edges fails its own row-id guard (plans.writes.with_rowid)
#: when AQE plans the endpoint join differently in the guard's count
#: job and in the job that writes the edges. A retry starts from a
#: fresh graph, and its time counts in setup_s
LOAD_TRIES = 3


def write_plan(seed: int, n_customers: int, n_orders: int, blocks: int):
    """Blocks of five writes, one of each kind in a fixed order. Keys:
    SET and MERGE-hit pick loaded customers, DELETE picks a loaded
    order never deleted before, CREATE and MERGE-miss use fresh keys."""
    rng = random.Random(seed)
    orders = list(range(n_orders))
    rng.shuffle(orders)
    fresh = NEW_KEY_BASE
    plan = []
    for _ in range(blocks):
        ops = []
        plan.append(ops)
        for kind in WRITE_KINDS:
            if kind in ("create", "merge_miss"):
                value = round(rng.uniform(0, 9999), 2) if kind == "create" else None
                ops.append((kind, fresh, value))
                fresh += 1
            elif kind == "set":
                ops.append(("set", rng.randrange(n_customers), round(rng.uniform(0, 9999), 2)))
            elif kind == "merge_hit":
                ops.append(("merge_hit", rng.randrange(n_customers), None))
            else:
                ops.append(("delete", orders.pop(), None))
    return plan


def write_statements(kind: str, k: int, v) -> tuple[str, str, list]:
    """(write, read-your-write check, rows the check must return)."""
    if kind == "create":
        return (
            f"CREATE (:customer {{c_custkey: {k}, c_name: 'new-{k}', c_acctbal: {v}}})"
            f"-[:placed]->(:orders {{o_orderkey: {k}, o_totalprice: {v}}})",
            f"MATCH (c:customer {{c_custkey: {k}}})-[:placed]->(o:orders) "
            f"RETURN c.c_acctbal, o.o_orderkey",
            [(v, k)],
        )
    if kind == "set":
        return (
            f"MATCH (c:customer {{c_custkey: {k}}}) SET c.c_acctbal = {v}",
            f"MATCH (c:customer {{c_custkey: {k}}}) RETURN c.c_acctbal",
            [(v,)],
        )
    if kind in ("merge_hit", "merge_miss"):
        return (
            f"MERGE (c:customer {{c_custkey: {k}}})",
            f"MATCH (c:customer {{c_custkey: {k}}}) RETURN count(c)",
            [(1,)],
        )
    return (
        f"MATCH (o:orders {{o_orderkey: {k}}}) DETACH DELETE o",
        f"MATCH (o:orders {{o_orderkey: {k}}}) RETURN count(o)",
        [(0,)],
    )


def bulk_load(spark, catalog, name: str, data: str) -> None:
    """A fresh durable graph loaded through sources.loader: customers
    and orders as vertex labels, placed edges resolved by user id."""
    from postgraph_spark.sources.loader import load_edges, load_vertices

    g = catalog.create_graph(name)
    cust = spark.read.parquet(os.path.join(data, "customer.parquet")).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    orders = spark.read.parquet(os.path.join(data, "orders.parquet"))
    load_vertices(g, "customer", cust, id_col="c_custkey")
    load_vertices(
        g, "orders", orders.select("o_orderkey", "o_totalprice"), id_col="o_orderkey"
    )
    load_edges(
        g, "placed", orders.select("o_custkey", "o_orderkey"),
        "o_custkey", "o_orderkey", "customer", "orders",
    )


def graph_writes(run: Run, n_rows: dict) -> Outcome:
    from postgraph_spark.engine import CypherEngine
    from postgraph_spark.graph import GraphCatalog

    spark, data = run.spark, run.data_dir
    root = os.path.join(run.work_dir, f"graphs-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    catalog = GraphCatalog(spark, root=root)
    graph = "g"
    model = _WriteModel(data)
    failed = attempted = 0

    def write_block(block, call):
        """Each write, then its read-your-write check, through
        ``call(kind, label, fn)``."""
        nonlocal failed, attempted
        for kind, k, v in block:
            write, check, want = write_statements(kind, k, v)
            attempted += 2
            if call("write", kind, lambda: eng.execute(write)) is FAILED:
                failed += 2  # the write, and the check it leaves unchecked
                continue
            model.apply(kind, k, v)
            got = call("read", f"ryw_{kind}", lambda: eng.fetch(check))
            failed += got is FAILED or canon(got) != canon(want)

    try:
        t0 = time.perf_counter()
        for load_try in range(1, LOAD_TRIES + 1):
            try:
                bulk_load(spark, catalog, graph, data)
                break
            except Exception:
                if load_try == LOAD_TRIES:
                    raise
                traceback.print_exc()
                catalog.drop_graph(graph, cascade=True)
        load_s = time.perf_counter() - t0
        eng = CypherEngine(spark, catalog)
        eng.execute(f"USE GRAPH {graph}")

        # a fixed operation count, not a time window: every write appends
        # files, so later writes are slower and a window would let the
        # count (and with it the latency) depend on the speed measured.
        # The warm-up, untimed, takes the first writes of a block of its
        # own, so its keys stay apart from the measured block's
        warm, block = write_plan(run.seed, n_rows["customer"], n_rows["orders"], 2)
        t0 = time.perf_counter()
        write_block(warm[:WARM_WRITES], lambda _kind, _label, fn: attempt(fn))
        warm_s = time.perf_counter() - t0
        start = time.perf_counter()
        write_block(block, run.timed)
        window = time.perf_counter() - start

        layers = {}
        if run.tracer is not None:
            layers.update(_storage_layers(spark, catalog.graphs[graph], root, graph))

        # reopen: a fresh catalog over the same root sees the durable graph
        t0 = time.perf_counter()
        eng2 = CypherEngine(spark, GraphCatalog(spark, root=root))
        eng2.execute(f"USE GRAPH {graph}")
        n_vertices = eng2.fetch("MATCH (n) RETURN count(n)")[0][0]
        reopen_s = time.perf_counter() - t0
        attempted += 1
        failed += not model.matches_reopened(eng2, n_vertices)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    writes = [op.seconds for op in run.ops if op.kind == "write"]
    reads = [op.seconds for op in run.ops if op.kind == "read"]
    return Outcome(
        setup_s=load_s + warm_s,
        window_s=window,
        attempted=attempted,
        failed=failed,
        report={
            "warmup_s": (warm_s, "s"),
            "load_tries": (load_try, "count"),
            "write_p50_ms": (percentile_ms(writes, 50), "ms"),
            "write_p90_ms": (percentile_ms(writes, 90), "ms"),
            "read_p50_ms": (percentile_ms(reads, 50), "ms"),
            "read_p90_ms": (percentile_ms(reads, 90), "ms"),
            "reopen_s": (reopen_s, "s"),
        },
        layers=layers,
    )


class _WriteModel:
    """What the durable graph must hold after the acknowledged writes:
    every customer's balance (None for one only MERGE created), every
    order key, and the placed edge count (one per order)."""

    def __init__(self, data: str):
        cust = pq.read_table(os.path.join(data, "customer.parquet")).to_pydict()
        self.acctbal = dict(zip(cust["c_custkey"], cust["c_acctbal"]))
        orders = pq.read_table(os.path.join(data, "orders.parquet")).to_pydict()
        self.orders = set(orders["o_orderkey"])
        self.placed = len(self.orders)

    def apply(self, kind: str, k: int, v) -> None:
        if kind == "create":
            self.acctbal[k] = v
            self.orders.add(k)
            self.placed += 1
        elif kind == "set":
            self.acctbal[k] = v
        elif kind == "merge_miss":
            self.acctbal[k] = None
        elif kind == "delete":
            self.orders.remove(k)
            self.placed -= 1

    def matches_reopened(self, eng, n_vertices: int) -> bool:
        """Every acknowledged write is visible and nothing else changed:
        the full customer and order tables are compared, not only the
        keys the writes touched."""
        cust = eng.fetch("MATCH (c:customer) RETURN c.c_custkey, c.c_acctbal")
        orders = [r[0] for r in eng.fetch("MATCH (o:orders) RETURN o.o_orderkey")]
        placed = eng.fetch("MATCH ()-[e:placed]->() RETURN count(e)")[0][0]
        return (
            n_vertices == len(cust) + len(orders)
            and canon(sorted(cust)) == canon(sorted(self.acctbal.items()))
            and sorted(orders) == sorted(self.orders)
            and placed == self.placed
        )


def _storage_layers(spark, graph, root: str, name: str) -> dict:
    """Durable files and bytes on disk per byte of user data (the UTF-8
    length of every live property document), read after the window."""
    from pyspark.sql import functions as F

    n_files = n_bytes = 0
    for base, _dirs, files in os.walk(os.path.join(root, name)):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(base, f))
    user = 0
    for tbl in (graph.vertices, graph.edges):
        user += tbl.agg(F.sum(F.octet_length("properties"))).collect()[0][0] or 0
    return {
        "graph.durable_files": (n_files, "count"),
        "graph.bytes_per_user_byte": (n_bytes / user if user else 0.0, "ratio"),
    }


# -- corpus_batch -------------------------------------------------------------

BATCH_QUERIES = (
    "dedup_minhash_lsh_pairs",
    "dedup_jaccard_pairs",
    "semdedup_prune",
    "bm25_topk",
    "hits_dupgraph",
    "graph_vle_deep",
    "sim_topk_cosine",
    "q5_region_revenue",
)


def batch_order(seed: int) -> list[str]:
    order = list(BATCH_QUERIES)
    random.Random(seed).shuffle(order)
    return order


def corpus_batch(run: Run, n_rows: dict) -> Outcome:
    from postgraph_spark.queries import ORACLES, QUERIES

    spark, data = run.spark, run.data_dir
    build_s = build_graph(spark, data)

    # one pass; the rows are collected to the driver (a few hundred per
    # query at this size), so the gate below checks the timed rows
    layers = {}
    outputs = {}
    start = time.perf_counter()
    for name in batch_order(run.seed):
        split = {}

        def query():
            t0 = time.perf_counter()
            df = QUERIES[name](spark, data)
            split["build"] = time.perf_counter() - t0
            return df.columns, df.collect()

        outputs[name] = run.timed("query", name, query)
        if outputs[name] is not FAILED:
            layers[f"corpus.{name}.build_s"] = (split["build"], "s")
            layers[f"corpus.{name}.exec_s"] = (run.ops[-1].seconds - split["build"], "s")
    window = time.perf_counter() - start

    con = run.duckdb()
    failed = 0
    for name, out in outputs.items():
        if out is FAILED:
            failed += 1
            continue
        cols, rows = out
        res = con.execute(ORACLES[name])
        ocols = [d[0] for d in res.description]
        failed += not _same_result(cols, [tuple(r) for r in rows], ocols, res.fetchall())
    con.close()

    return Outcome(
        setup_s=build_s,
        window_s=window,
        attempted=len(outputs),
        failed=failed,
        report={
            "batch_wall_s": (window, "s"),
            "query_p50_ms": (percentile_ms([op.seconds for op in run.ops], 50), "ms"),
        },
        layers={"graph.build_s": (build_s, "s"), **layers},
    )


def build_graph(spark, data: str) -> float:
    """Seconds to build the TPC-H graph and fill its cache; tpch_graph
    keeps it memoized for the engine."""
    from postgraph_spark.graph import tpch_graph

    t0 = time.perf_counter()
    g = tpch_graph(spark, data)
    g.vertices.count(), g.edges.count()
    return time.perf_counter() - t0


def _same_result(cols, rows, ocols, orows) -> bool:
    """Column sets equal and rows equal as multisets, after projecting
    both sides onto the sorted column names."""
    if sorted(cols) != sorted(ocols) or len(rows) != len(orows):
        return False
    order = sorted(cols)

    def project(cs, rs):
        idx = [cs.index(c) for c in order]
        return sorted(canon([tuple(r[i] for i in idx) for r in rs]), key=repr)

    return project(cols, rows) == project(ocols, orows)


def percentile_ms(values: list[float], pct: int) -> float | None:
    """The pct-th percentile in ms, or None unless at least ten samples
    lie beyond it (a tail read from fewer samples is noise)."""
    if not values or (pct != 50 and len(values) * (100 - pct) / 100 < 10):
        return None
    if pct == 50:
        return statistics.median(values) * 1000
    return statistics.quantiles(values, n=100)[pct - 1] * 1000


WORKLOADS = {
    "cypher_interactive": cypher_interactive,
    "graph_writes": graph_writes,
    "corpus_batch": corpus_batch,
}
