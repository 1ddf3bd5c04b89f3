"""Round-12 optimization invariants.

1. The typed variant constructor (gtype.from_variant_atoms) is value-
   identical to the runtime-dispatch from_variant for every catalog atom,
   including missing keys and JSON nulls.
2. The property-type catalog narrows plans (no schema_of_variant in a
   typed statement's plan; WITH aliases materialize only feasible gval
   fields) and writes extend it with the types they store.
3. Narrowed group keys keep rollup/grouping-set struct-level nullness
   through the RETURN re-widening.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgraph_spark.engine import CypherEngine
from postgraph_spark.functions import gtype as G
from postgraph_spark.graph import Graph


ATOM_ROWS = """
    named_struct(
      'l', 7L, 'dbl', 2.5D, 's', 'abc', 'b', true,
      'ts', timestamp'2024-03-05 06:07:08.25',
      'dt', date'2024-03-05',
      'arr', array(1, 2), 'obj', named_struct('x', 1)
    )
"""


@pytest.mark.parametrize(
    "key,atom",
    [
        ("l", "long"), ("dbl", "double"), ("s", "string"), ("b", "bool"),
        ("ts", "timestamp"), ("dt", "date"), ("arr", "array"), ("obj", "object"),
    ],
)
def test_from_variant_atoms_equivalence(spark, key, atom):
    df = spark.range(1).select(F.expr(f"to_variant_object({ATOM_ROWS})").alias("pv"))
    # present key, absent key, and a JSON-null value
    pv_null = F.try_parse_json(F.lit('{"%s": null}' % key))
    for pv, path in ((F.col("pv"), key), (F.col("pv"), "missing"), (pv_null, key)):
        v = F.try_variant_get(pv, f"$.{path}", "variant")
        got = df.select(G.from_variant_atoms(v, frozenset({atom})).alias("g")).collect()[0]["g"]
        want = df.select(G.from_variant(v).alias("g")).collect()[0]["g"]
        assert got.asDict() == want.asDict(), (key, atom, path)


def test_from_variant_atoms_empty_is_null(spark):
    df = spark.range(1).select(F.try_parse_json(F.lit("{}")).alias("pv"))
    v = F.try_variant_get(F.col("pv"), "$.nope", "variant")
    got = df.select(G.from_variant_atoms(v, frozenset()).alias("g")).collect()[0]["g"]
    assert got["t"] == G.T_NULL


def _typed_graph(spark):
    return Graph.from_rows(
        spark,
        "r12",
        [
            ("person", {"name": "ann", "age": 34, "score": 1.5}),
            ("person", {"name": "bob", "age": 21, "score": 2.5}),
            ("person", {"name": "cy", "age": 21}),
        ],
        [("knows", 0, 1, {"w": 2})],
    )


def test_from_rows_catalog(spark):
    g = _typed_graph(spark)
    assert g.prop_atoms("person", "name") == frozenset({"string"})
    assert g.prop_atoms("person", "age") == frozenset({"long"})
    assert g.prop_atoms("person", "nope") == frozenset()  # complete label
    assert g.prop_atoms("nolabel", "x") is None
    assert g.prop_atoms(None, "x") is None


def test_typed_plan_has_no_schema_dispatch(spark):
    eng = CypherEngine(spark)
    eng.catalog.register(_typed_graph(spark))
    df = eng.execute(
        "MATCH (p:person) WITH p.name AS n, p.age AS a "
        "ORDER BY a DESC, n RETURN n, a"
    )
    # the optimized plan prints the static invoke (schemaOfVariant); the
    # SQL name has underscores
    plan = df._jdf.queryExecution().optimizedPlan().toString().lower().replace("_", "")
    assert "schemaofvariant" not in plan, plan
    # WITH materialized only the feasible fields; RETURN re-widens
    assert [f.name for f in df.schema["n"].dataType.fields] == list(G.GVAL_FIELDS)
    rows = {r["n"]["s"]: r["a"]["i"] for r in df.collect()}
    assert rows == {"ann": 34, "bob": 21, "cy": 21}


def test_catalog_narrowing_group_key(spark):
    eng = CypherEngine(spark)
    eng.catalog.register(_typed_graph(spark))
    df = eng.execute(
        "MATCH (p:person) WITH p.age AS a, count(*) AS n RETURN a, n"
    )
    rows = {r["a"]["i"]: r["n"]["i"] for r in df.collect()}
    assert rows == {34: 1, 21: 2}
    # missing property on a complete label is a constant null
    df2 = eng.execute("MATCH (p:person) RETURN p.name AS n, p.nope AS z")
    assert all(r["z"]["t"] == G.T_NULL for r in df2.collect())


def test_write_extends_catalog(spark):
    eng = CypherEngine(spark)
    g = _typed_graph(spark)
    eng.catalog.register(g)
    assert g.prop_atoms("person", "age") == frozenset({"long"})
    eng.execute("CREATE (:person {name: 'dee', age: 'not-a-number'})")
    assert g.prop_atoms("person", "age") == frozenset({"long", "string"})
    # and the mixed-type data now answers correctly (no stale narrowing)
    df = eng.execute("MATCH (p:person) WHERE p.age = 'not-a-number' RETURN p.name AS n")
    assert [r["n"]["s"] for r in df.collect()] == ["dee"]


def test_rollup_nullness_survives_narrowing(spark):
    eng = CypherEngine(spark)
    eng.catalog.register(_typed_graph(spark))
    df = eng.execute(
        "MATCH (p:person) WITH p.age AS a "
        "WITH a, count(*) AS n GROUP BY ROLLUP(a) RETURN a, n"
    )
    rows = df.collect()
    # the super-aggregate row's key must be SQL-null (struct-level),
    # exactly as the unnarrowed shape produced
    total = [r for r in rows if r["a"] is None]
    assert len(total) == 1 and total[0]["n"]["i"] == 3
    per = {r["a"]["i"]: r["n"]["i"] for r in rows if r["a"] is not None}
    assert per == {34: 1, 21: 2}


def test_narrow_gval_fields(spark):
    num = G.gv_int(F.lit(5))
    fields = G.feasible_fields(G.gv_types(num))
    assert fields == ("t", "i", "d")
    df = spark.range(1).select(G.narrow_gval(num).alias("x"))
    assert [f.name for f in df.schema["x"].dataType.fields] == ["t", "i", "d"]
    s = G.gv_str(F.lit("q"))
    assert G.feasible_fields(G.gv_types(s)) == ("t", "s")
    assert G.feasible_fields(None) == G.GVAL_FIELDS


def test_simhash_convcols_equals_reference_explode(spark):
    """The shipped simhash32 (per-row hex->long conversion + 32 narrow
    shift/AND vote aggregates) is bit-identical to the original
    explode-per-bit reference form — the vote integers, the v > 0
    threshold, and the packed long all survive the round-12 rewrite."""
    from postgraph_spark.operators.dedup import _spread, simhash32, tokens

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs jugs jugs"),
            (3, "a"),
            (4, "unicode tæxt mixed 123 numbers and CAPS caps CAPS"),
        ],
        "doc_id int, text string",
    )
    hexd = "0123456789abcdef"
    tok = _spread(docs).select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tok = tok.withColumn("th", F.substring(F.md5("tok"), 1, 8))
    bits = tok.select("doc_id", "th", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"))
    vote = F.expr(
        f"(shiftright(instr('{hexd}', substring(th, CAST(b / 4 AS INT) + 1, 1)) - 1,"
        f" CAST(b % 4 AS INT)) & 1) * 2 - 1"
    )
    ref = (
        bits.select("doc_id", "b", vote.alias("vote"))
        .groupBy("doc_id", "b").agg(F.sum("vote").alias("v"))
        .groupBy("doc_id")
        .agg(F.sum(F.expr(
            "CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"
            " ELSE CAST(0 AS BIGINT) END")).alias("simhash"))
    )
    want = {r.doc_id: r.simhash for r in ref.collect()}
    got = {r.doc_id: r.simhash for r in simhash32(docs, "doc_id", "text").collect()}
    assert got == want and len(got) == 4
