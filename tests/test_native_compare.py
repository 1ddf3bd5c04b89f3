"""Comparisons of catalog-typed values: a property whose catalog lists one
scalar atom, and every int, float, string and boolean literal, carries a
native payload (a plain typed Spark column), and two native operands
compare as one SQL comparison (functions/gtype.py _native_cmp). Every
other operand takes the gval field path.

The two paths must agree. Each read runs on a typed graph (native path)
and again on the same graph with ``prop_types = None`` (general path),
over properties holding a missing key, JSON null, NaN, ±0.0, ±inf,
integers past 2^53, and strings that look like numbers.
"""

import random

import pytest

from postgraph_spark import engine as engine_mod
from postgraph_spark.engine import CypherEngine
from postgraph_spark.graph import Graph

BIG = 2**53

ROWS = [
    ("v", {"name": "r0", "k": 0, "f": 0.0, "s": "a", "b": True}),
    ("v", {"name": "r1", "k": -1, "f": -0.0, "s": "", "b": False}),
    ("v", {"name": "r2", "k": BIG, "f": float(BIG), "s": "10"}),
    ("v", {"name": "r3", "k": BIG + 1, "f": float("nan"), "s": "bé"}),
    ("v", {"name": "r4", "k": -BIG - 1, "f": float("inf"), "s": "a"}),
    ("v", {"name": "r5", "k": 2**62, "f": 1.5, "b": False}),
    ("v", {"name": "r6", "k": None, "f": None, "s": None, "b": None}),
    ("v", {"name": "r7"}),
    ("v", {"name": "r8", "k": 1, "f": 1.0, "s": "1", "b": True}),
]

OPS = ("=", "<>", "<", "<=", ">", ">=")


def literals(seed: int) -> list[str]:
    """Int, float, string and boolean literals, each equal to some
    stored value of another class too; one int drawn from the seed."""
    rng = random.Random(seed)
    return [
        str(BIG + 1), str(rng.randrange(-(2**60), 2**60)), "-0.0", f"{float(BIG)!r}", "'10'", "true",
    ]


@pytest.fixture(scope="module")
def eng(spark):
    e = CypherEngine(spark)
    e.catalog.register(Graph.from_rows(spark, "native_cmp", ROWS, []))
    e.execute("USE GRAPH native_cmp")
    return e


def both_paths(eng, texts: list) -> tuple[list, list]:
    """Each text's sorted rows on the typed graph and without a catalog."""
    g = eng.graph
    out = []
    saved = g.prop_types
    for cat in (saved, None):
        g.prop_types = cat
        engine_mod._PLAN_CACHE.clear()  # plans compiled under the other catalog
        try:
            out.append([sorted(eng.fetch(t), key=repr) for t in texts])
        finally:
            g.prop_types = saved
    engine_mod._PLAN_CACHE.clear()
    return out[0], out[1]


def test_catalog_types_every_property(eng):
    g = eng.graph
    assert {k: g.prop_atoms("v", k) for k in "kfsb"} == {
        "k": {"long"}, "f": {"double"}, "s": {"string"}, "b": {"bool"},
    }
    plan = eng.execute("MATCH (n:v) WHERE n.k = 1 RETURN n.name")
    opt = plan._jdf.queryExecution().optimizedPlan().toString()
    assert "schema_of_variant" not in opt and "LongType" in opt, opt


def test_exact_integers_on_both_paths(eng):
    """Integers past 2^53 compare as int64 on the native path and on the
    general path alike; an integer and a float compare as doubles."""
    texts = [
        "RETURN 9007199254740993 = 9007199254740992, 9007199254740993 > 9007199254740992, "
        "9007199254740993 = 9007199254740992.0",
        "MATCH (n:v {k: 9007199254740993}) RETURN n.name",
        "MATCH (n:v) WHERE n.k < 9007199254740993 AND n.k > 1 RETURN n.k",
        "MATCH (n:v) WHERE n.k + 1 = 9007199254740994 RETURN n.name",
    ]
    typed, untyped = both_paths(eng, texts)
    expected = [
        [(False, True, True)],
        [("r3",)],
        [(BIG,)],
        [("r3",)],
    ]
    assert typed == expected
    assert untyped == expected


def test_every_operator_agrees_with_the_general_path(eng):
    """Projected 3-valued results of every operator, each property
    against int, float, string and boolean literals and against the
    other properties, then WHERE filters and pattern maps."""
    lits = literals(seed=11)
    texts = [
        "MATCH (n:v) RETURN n.name, " + ", ".join(f"n.{p} {op} {lit}" for lit in lits for op in OPS)
        for p in "kfsb"
    ]
    texts.append(
        "MATCH (n:v) RETURN n.name, n.k < n.f, n.k = n.f, n.f = n.f, n.s = n.k, "
        "n.k + 1 > n.f, n.k - 1.5 < 0, n.f + 1 >= 2.5, -n.k < 0, -n.f = 0.0, n.b = n.b"
    )
    rng = random.Random(11)
    for op in rng.sample(OPS, 3):
        texts.append(f"MATCH (n:v) WHERE n.{rng.choice('kfsb')} {op} {rng.choice(lits)} RETURN n.name")
    for p, lit in (("k", str(BIG + 1)), ("f", "0.0"), ("s", "10")):
        texts.append(f"MATCH (n:v {{{p}: {lit}}}) RETURN n.name")
    typed, untyped = both_paths(eng, texts)
    for text, a, b in zip(texts, typed, untyped):
        assert a == b, text
