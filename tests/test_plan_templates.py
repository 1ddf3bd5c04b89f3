"""Generic plans for Cypher reads (engine._PLAN_CACHE templates).

A read's int, float and string literals are parameter slots; the second
text of a statement shape on a graph snapshot compiles the shape's plan
template once, and every later text binds its literals into it. These
tests hold the template path to the per-text compile: the same rows for
random literals, the right rows where the compiler reads a literal in
Python (a pinned slot), no template across a write, a verified fallback
when the template does not reproduce the per-text plan, and EXPLAIN of a
bound statement. The property-equality test pins the cmp_eq pruning the
typed filters of those shapes compile to.
"""

from __future__ import annotations

import random
from collections import OrderedDict

import pytest

from postgraph_spark import engine as engine_mod
from postgraph_spark.engine import CypherEngine
from postgraph_spark.graph import Graph, GraphCatalog, tpch_graph
from postgraph_spark.plans.compiler import Compiler
from postgraph_spark.plans.parser import parse

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def tpch_engine(spark):
    catalog = GraphCatalog(spark)
    catalog.register(tpch_graph(spark, SF_DIR))
    return CypherEngine(spark, catalog)


@pytest.fixture()
def durable_engine(spark, tmp_path):
    eng = CypherEngine(spark, GraphCatalog(spark, root=str(tmp_path)))
    eng.execute("CREATE GRAPH templates")
    eng.execute("USE GRAPH templates")
    people = ", ".join(
        f"(:person {{name: {_cypher_str(n)}, age: {a}, score: {s}}})"
        for n, a, s in [
            ("ann", 34, 1.5), ("bob", 21, 2.5), ("o'hara", 21, -0.5),
            ("zoë", 3_000_000_000, 7.25), ("back\\slash", 40, 0.0),
        ]
    )
    eng.execute(f"CREATE {people}")
    return eng


@pytest.fixture()
def compiles(monkeypatch):
    """Counts Compiler.compile_query calls (per-text and template)."""
    calls = []
    orig = Compiler.compile_query

    def counted(self, q):
        calls.append(q)
        return orig(self, q)

    monkeypatch.setattr(Compiler, "compile_query", counted)
    return calls


def _rows(df) -> list[str]:
    return sorted(repr(r) for r in df.collect())


def _per_text(eng, text) -> list[str]:
    return _rows(Compiler(eng.spark, eng.graph).compile_query(parse(text)))


def _shape_state(eng, text):
    g = eng.graph
    key = (id(eng.spark), id(g), id(g.vertices), id(g.edges), parse(text).shape)
    entry = engine_mod._PLAN_CACHE.get(key)
    return entry[0] if entry is not None else None


def _cypher_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'").replace("\n", "\\n") + "'"


_STR_POOL = ["Customer#000000007", "HOUSE", "AUTO", "o'hara", "zoë", "日本",
             'say "hi"', "back\\slash", "tab\there", "", "ann", "Customer#00000001"]


def _rand_str(rng) -> str:
    s = rng.choice(_STR_POOL)
    if rng.random() < 0.3:
        s += rng.choice(["'", "\\", "é", "\n", "x"])
    return s


def _rand_float(rng) -> str:
    return rng.choice(["0.5", "1e3", ".25", "2500.75", "9999.0", "-1.5", "1234.5e-1"])


def _rand_int(rng) -> str:
    return str(rng.choice([0, 7, 42, 1499, 300, -5, 3_000_000_000, -(2**40), 2**31 - 1]))


#: (shape, {placeholder: generator}) over tpch_graph
TPCH_SHAPES = [
    ("MATCH (c:customer {{c_custkey: {i}}}) RETURN c.c_name AS name, c.c_acctbal AS bal",
     {"i": _rand_int}),
    ("MATCH (c:customer) WHERE c.c_acctbal > {f} AND c.c_custkey < {i} "
     "RETURN count(c) AS n", {"f": _rand_float, "i": _rand_int}),
    ("MATCH (c:customer) WHERE c.c_name = {s} OR c.c_mktsegment STARTS WITH {t} "
     "RETURN c.c_custkey AS k ORDER BY k LIMIT 4", {"s": _rand_str, "t": _rand_str}),
    ("MATCH (c:customer)-[:placed]->(o:orders) WHERE c.c_custkey = {i} "
     "RETURN count(o) AS n, sum(o.o_totalprice) AS t", {"i": _rand_int}),
    ("RETURN {i} + 1 AS a, {s} AS b, {f} * 2 AS c, toUpper({t}) AS u",
     {"i": _rand_int, "s": _rand_str, "f": _rand_float, "t": _rand_str}),
]

DURABLE_SHAPES = [
    ("MATCH (p:person {{name: {s}}}) RETURN p.age AS a", {"s": _rand_str}),
    ("MATCH (p:person) WHERE p.age >= {i} RETURN p.name AS n ORDER BY n",
     {"i": _rand_int}),
    ("MATCH (p:person) WHERE p.score < {f} RETURN count(*) AS n", {"f": _rand_float}),
]


def _texts(rng, shape, gens, n):
    out = []
    for _ in range(n):
        vals = {k: (_cypher_str(g(rng)) if g is _rand_str else g(rng)) for k, g in gens.items()}
        out.append(shape.format(**vals))
    return out


def _differential(eng, shapes, seed, compiles, n=5):
    rng = random.Random(seed)
    for shape, gens in shapes:
        texts = _texts(rng, shape, gens, n)
        engine_compiles = 0
        for text in texts:
            before = len(compiles)
            got = _rows(eng.execute(text))
            engine_compiles += len(compiles) - before
            assert got == _per_text(eng, text), text
        # per shape key (an int past int32 is a shape of its own): the
        # first text compiles, the second builds the template, the rest bind
        keys = {parse(t).shape for t in texts}
        assert engine_compiles <= 2 * len(keys), (shape, engine_compiles, texts)
        for text in texts:
            st = _shape_state(eng, text)
            assert st is not None and not st.per_text, text


def test_differential_tpch(tpch_engine, compiles):
    _differential(tpch_engine, TPCH_SHAPES, seed=4, compiles=compiles)


def test_differential_durable(durable_engine, compiles):
    _differential(durable_engine, DURABLE_SHAPES, seed=11, compiles=compiles)


def test_third_text_binds_without_compiling(tpch_engine, compiles):
    shape = "MATCH (c:customer {{c_custkey: {k}}}) RETURN c.c_acctbal AS bal"
    for k in (11, 12):
        tpch_engine.execute(shape.format(k=k))
    before = len(compiles)
    got = _rows(tpch_engine.execute(shape.format(k=13)))
    assert len(compiles) == before
    assert got == _per_text(tpch_engine, shape.format(k=13))
    assert len(got) == 1


def test_full_cache_keeps_a_shapes_template(tpch_engine, compiles, monkeypatch):
    """The plan cache evicts its least recently used entries: behind 256
    unrelated entries, a shape's first text compiles, its second builds
    the template, and its third binds it without compiling."""
    filled = OrderedDict((("unrelated", i), (None,)) for i in range(256))
    monkeypatch.setattr(engine_mod, "_PLAN_CACHE", filled)
    shape = "MATCH (c:customer {{c_custkey: {k}}}) RETURN c.c_phone AS ph"
    counts, got = [], []
    for k in (41, 42, 43):
        before = len(compiles)
        got.append(_rows(tpch_engine.execute(shape.format(k=k))))
        counts.append(len(compiles) - before)
    assert counts == [1, 1, 0]
    assert got == [_per_text(tpch_engine, shape.format(k=k)) for k in (41, 42, 43)]
    st = _shape_state(tpch_engine, shape.format(k=0))
    assert st.templates and not st.per_text
    assert len(engine_mod._PLAN_CACHE) == 256


@pytest.mark.parametrize(
    "shape,values",
    [
        # LIMIT / SKIP: _const_int reads the value
        ("MATCH (c:customer) WHERE c.c_custkey >= {k} "
         "RETURN c.c_custkey AS k ORDER BY k LIMIT {p}", [(10, 2), (20, 2), (30, 3), (40, 3), (50, 2)]),
        ("MATCH (c:customer) WHERE c.c_custkey >= {k} "
         "RETURN c.c_custkey AS k ORDER BY k SKIP {p} LIMIT 2", [(10, 1), (20, 1), (30, 2), (40, 2)]),
        # *1..n: the bound is a token of the shape, not a slot
        ("MATCH (c:customer {{c_custkey: {k}}})-[*1..{p}]->(x) RETURN count(x) AS n",
         [(7, 1), (8, 1), (7, 2), (8, 2)]),
        # date_part's field is folded in python
        ("MATCH (o:orders {{o_orderkey: {k}}}) "
         "RETURN date_part({p}, o.o_orderdate::date) AS v",
         [(1, "'year'"), (2, "'year'"), (1, "'month'"), (2, "'month'"), (3, "'day'")]),
        # SIMILAR TO translates a literal pattern in python
        ("MATCH (c:customer) WHERE c.c_custkey < {k} AND c.c_mktsegment SIMILAR TO {p} "
         "RETURN count(*) AS n",
         [(500, "'HOUSE%'"), (600, "'HOUSE%'"), (500, "'AUTO%'"), (700, "'AUTO%'")]),
    ],
)
def test_pinned_slots(tpch_engine, shape, values):
    seen = set()
    for k, p in values:
        text = shape.format(k=k, p=p)
        got = _rows(tpch_engine.execute(text))
        assert got == _per_text(tpch_engine, text), text
        seen.add(tuple(got))
    assert len(seen) > 1  # the values really change the rows


def test_no_template_across_writes(durable_engine, compiles):
    eng = durable_engine
    shape = "MATCH (p:person {{name: {s}}}) RETURN p.age AS a"
    for name in ("ann", "bob", "nobody"):
        eng.execute(shape.format(s=_cypher_str(name)))
    st = _shape_state(eng, shape.format(s="'x'"))
    assert st is not None and st.templates

    def read(name):
        before = len(compiles)
        rows = [r["a"]["i"] for r in eng.execute(shape.format(s=_cypher_str(name))).collect()]
        return rows, len(compiles) - before

    eng.execute("CREATE (:person {name: 'zed', age: 9})")
    assert _shape_state(eng, shape.format(s="'x'")) is None
    assert read("zed") == ([9], 1)  # the new snapshot's first sighting compiles
    eng.execute("MATCH (p:person {name: 'zed'}) SET p.age = 10")
    assert read("zed") == ([10], 1)
    eng.execute("MATCH (p:person {name: 'zed'}) DETACH DELETE p")
    assert read("zed") == ([], 1)
    assert read("ann") == ([34], 1)  # the second sighting builds and binds
    assert read("bob") == ([21], 0)


def test_failed_verification_compiles_per_text(tpch_engine, compiles, monkeypatch):
    """A template whose plan differs from the first text's (forced here:
    a template that drops every row) fails its sameResult check, and
    every text of the shape compiles per text with the right rows."""
    orig = Compiler.compile_template

    def wrong(self, q):
        df, pinned = orig(self, q)
        return df.limit(0), pinned

    monkeypatch.setattr(Compiler, "compile_template", wrong)
    shape = "MATCH (c:customer {{c_custkey: {k}}}) RETURN c.c_name AS nm, {k} AS again"
    for k in (21, 22, 23):
        before = len(compiles)
        got = _rows(tpch_engine.execute(shape.format(k=k)))
        # 21: first sighting; 22: failed template + per-text; 23: per-text
        assert len(compiles) - before == (2 if k == 22 else 1)
        assert got == _per_text(tpch_engine, shape.format(k=k))
        assert len(got) == 1
    st = _shape_state(tpch_engine, shape.format(k=0))
    assert st.per_text and not st.templates


def test_explain_bound_statement(tpch_engine, compiles):
    shape = "MATCH (c:customer)-[:placed]->(o:orders) WHERE c.c_custkey = {k} RETURN count(o) AS n"
    for k in (31, 32):
        tpch_engine.execute(shape.format(k=k))
    before = len(compiles)
    plan = "\n".join(r[0] for r in tpch_engine.execute("EXPLAIN " + shape.format(k=33)).collect())
    assert len(compiles) == before  # bound from the template
    assert "== Physical Plan ==" in plan
    assert "33" in plan and "-2000000000" not in plan, plan
    analyzed = tpch_engine.execute("EXPLAIN ANALYZE " + shape.format(k=34)).collect()
    assert any("isFinalPlan=true" in r[0] for r in analyzed)


# ------------------------------------------- cmp_eq static-type pruning


class _Log4jCapture:
    """Collects what the JVM's root logger writes while open."""

    def __init__(self, spark):
        jvm = spark._jvm
        self.writer = jvm.java.io.StringWriter()
        self.ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
        core = jvm.org.apache.logging.log4j.core
        layout = core.layout.PatternLayout.createDefaultLayout()
        self.app = core.appender.WriterAppender.createAppender(
            layout, None, self.writer, "plan-templates-capture", False, True
        )

    def __enter__(self):
        self.app.start()
        config = self.ctx.getConfiguration()
        config.addAppender(self.app)
        config.getRootLogger().addAppender(self.app, None, None)
        self.ctx.updateLoggers()
        return self

    def __exit__(self, *exc):
        self.ctx.getConfiguration().getRootLogger().removeAppender(self.app.getName())
        self.ctx.updateLoggers()
        self.app.stop()

    @property
    def text(self) -> str:
        return self.writer.toString()


def test_typed_property_equality_prunes_cmp_eq(spark):
    from pyspark.sql import functions as F

    g = Graph.from_rows(
        spark, "cmp_eq",
        [("person", {"name": "ann", "age": 34}), ("person", {"name": "bob", "age": 21})],
        [],
    )
    eng = CypherEngine(spark)
    eng.catalog.register(g)
    with _Log4jCapture(spark) as control:
        F.lit(None).cast("string") == F.lit(None).cast("string")  # noqa: B015
    assert "trivially true equals predicate" in control.text  # the capture works
    with _Log4jCapture(spark) as log:
        df = eng.execute("MATCH (p:person {age: 21}) RETURN p.name AS n")
    assert "trivially true equals predicate" not in log.text, log.text
    plan = df._jdf.queryExecution().analyzed().toString().lower()
    for t in ("string", "boolean"):
        assert f"cast(null as {t}) = cast(null as {t})" not in plan, plan
    assert [r["n"]["s"] for r in df.collect()] == ["bob"]
