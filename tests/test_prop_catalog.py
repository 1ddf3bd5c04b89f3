"""Property-type catalog soundness: every write extends the catalog to a
superset of the atoms the tables store, before either table changes, so
a typed read never disagrees with an untyped one.

A seeded write sequence runs on a typed in-memory graph, where after each
statement a fixed set of reads must return the same rows with the catalog
as without it (``g.prop_types = {}``). On a durable graph reopened after
every statement, the reads must return those same rows. A SET whose
table write fails after catalog.json is written must still read
correctly after a reopen.
"""

import json
import os
import random

import pytest

from postgraph_spark import engine as engine_mod
from postgraph_spark.engine import CypherEngine
from postgraph_spark.graph import Graph, GraphCatalog

PEOPLE = [
    ("person", {"name": "ann", "age": 34, "score": 1.5}),
    ("person", {"name": "bob", "age": 21, "score": 2.5}),
    ("person", {"name": "cy", "age": 21}),
]
KNOWS = [("knows", 0, 1, {"w": 2}), ("knows", 1, 2, {"w": 3})]

READS = (
    "MATCH (p:person) RETURN p.name, p.age, p.score, p.new, p.age = 21 OR p.score = true",
    "MATCH (p:person {age: 'old'}) RETURN p.name",
    "MATCH (p:person) RETURN p.age AS a, count(*) AS n",
    "MATCH (:person)-[k:knows]->(q:person) RETURN k.w, q.name",
)


def write_sequence(seed: int) -> list[str]:
    mixed = ["1", "'two'", "3.5", "true", "[1, 2]", "{k: 1}", "null"]
    random.Random(seed).shuffle(mixed)
    return [
        # a string into a long key, on a vertex and on an edge
        "MATCH (a:person {name: 'ann'}) "
        "CREATE (a)-[:knows {w: 'far'}]->(:person {name: 'dee', age: 'old'})",
        "MATCH (p:person {name: 'ann'}) SET p.score = true",
        "MATCH (p:person {name: 'bob'}) SET p += {new: 1.5}",
        "MERGE (p:person {name: 'eve', age: null})",
        f"UNWIND [{', '.join(mixed)}] AS v CREATE (:person {{name: 'mix', age: v}})",
        "MATCH (p:person {name: 'cy'}) DETACH DELETE p",
    ]


def reads(eng) -> list:
    engine_mod._PLAN_CACHE.clear()  # plans compiled under another catalog
    return [sorted(eng.fetch(q), key=repr) for q in READS]


def stored_atoms(g: Graph) -> dict:
    """The exact atoms the graph's tables hold, per label and key."""
    probe = Graph("probe", g.vertices, g.edges)
    probe.prop_types = {}
    probe.extend_prop_types(
        g.vertices.select("label", "pv").unionByName(g.edges.select("label", "pv"))
    )
    return probe.prop_types


def assert_covers(g: Graph, stmt: str) -> None:
    """The catalog holds every atom stored (or knows nothing)."""
    for label, cat in stored_atoms(g).items():
        for key, atoms in cat.items():
            have = g.prop_atoms(label, key)
            assert have is None or (atoms is not None and atoms <= have), (stmt, label, key)


def checked_reads(eng, stmt: str) -> list:
    """Reads with the catalog, asserted equal to the reads without it."""
    g = eng.graph
    assert_covers(g, stmt)
    typed = reads(eng)
    saved, g.prop_types = g.prop_types, {}
    try:
        untyped = reads(eng)
    finally:
        g.prop_types = saved
    assert typed == untyped, stmt
    return typed


def reopen(spark, root: str, name: str) -> CypherEngine:
    eng = CypherEngine(spark, GraphCatalog(spark, root=root))
    eng.execute(f"USE GRAPH {name}")
    return eng


@pytest.fixture(scope="module")
def in_memory(spark) -> tuple[Graph, list]:
    """A typed in-memory graph after the sequence, and the reads after
    each statement (checked with and without the catalog)."""
    g = Graph.from_rows(spark, "pc_mem", PEOPLE, KNOWS)
    eng = CypherEngine(spark)
    eng.catalog.register(g)
    assert g.prop_atoms("person", "age") == frozenset({"long"})
    out = [checked_reads(eng, "initial")]
    for stmt in write_sequence(seed=12):
        eng.execute(stmt)
        out.append(checked_reads(eng, stmt))
    return g, out


@pytest.fixture(scope="module")
def expected(in_memory) -> list:
    return in_memory[1]


def test_in_memory_writes_extend_catalog(in_memory):
    g, _reads = in_memory
    assert g.prop_atoms("person", "age") == frozenset(
        {"long", "string", "double", "bool", "array", "object"}
    )
    assert g.prop_atoms("person", "score") == frozenset({"double", "bool"})
    assert g.prop_atoms("person", "new") == frozenset({"double"})
    assert g.prop_atoms("knows", "w") == frozenset({"long", "string"})


def test_durable_catalog_survives_reopen(spark, tmp_path, expected):
    root = str(tmp_path)
    g = Graph.from_rows(spark, "pc_durable", PEOPLE, KNOWS)
    g.durable_path = os.path.join(root, "pc_durable")
    g.persist()
    writer = reopen(spark, root, "pc_durable")
    assert writer.graph.prop_atoms("person", "age") == frozenset({"long"})
    for step, stmt in enumerate([None, *write_sequence(seed=12)]):
        if stmt is not None:
            writer.execute(stmt)
        eng = reopen(spark, root, "pc_durable")
        assert eng.graph.prop_types == writer.graph.prop_types, stmt
        assert_covers(eng.graph, stmt)
        assert reads(eng) == expected[step], stmt


def test_set_fault_after_catalog_write(spark, tmp_path, monkeypatch):
    """SET commits catalog.json before it rewrites the table. When the
    table write fails, the reopened graph holds the old rows under the
    wider catalog — still a superset, so reads stay correct."""
    root = str(tmp_path)
    g = Graph.from_rows(spark, "pc_fault", PEOPLE, KNOWS)
    g.durable_path = os.path.join(root, "pc_fault")
    g.persist()
    eng = reopen(spark, root, "pc_fault")
    before = checked_reads(eng, "initial")

    def failing_writer(df, schema):
        raise OSError("table write failed")

    monkeypatch.setattr(Graph, "_table_writer", staticmethod(failing_writer))
    with pytest.raises(OSError, match="table write failed"):
        eng.execute("MATCH (p:person {name: 'bob'}) SET p.age = 'unknown'")
    monkeypatch.undo()

    with open(os.path.join(root, "pc_fault", "catalog.json")) as f:
        assert sorted(json.load(f)["prop_types"]["person"]["age"]) == ["long", "string"]
    reopened = reopen(spark, root, "pc_fault")
    assert reopened.graph.prop_atoms("person", "age") == frozenset({"long", "string"})
    assert checked_reads(reopened, "after the failed SET") == before
