"""One commit for created rows: CREATE (literal or row-wise), MERGE and
the bulk loader all append through Graph.append_rows, so they share its
guarantees — the property-type catalog is extended with the types the
rows store, unique constraints are checked on the vertex AND edge batch
before either table changes, and a declared label kind is enforced."""

import pytest

from postgraph_spark.engine import CypherEngine
from postgraph_spark.graph import Graph, GraphCatalog
from postgraph_spark.sources import loader as L


def _engine(spark, root=None, name="wc"):
    eng = CypherEngine(spark, GraphCatalog(spark, root=root))
    eng.execute(f"CREATE GRAPH {name}")
    eng.execute(f"USE GRAPH {name}")
    return eng


def test_unique_violation_on_edges_commits_no_vertices(spark, tmp_path):
    """A statement whose edge batch fails a unique check leaves no trace:
    neither its vertices nor its edges, in memory or after a reopen."""
    root = str(tmp_path / "graphs")
    eng = _engine(spark, root)
    eng.execute("CREATE ELABEL e")
    eng.execute("CREATE UNIQUE PROPERTY INDEX ON e (k)")
    eng.execute("CREATE (:v {n: 0})-[:e {k: 1}]->(:v {n: 1})")

    for stmt in (
        "CREATE (:v {n: 2})-[:e {k: 1}]->(:v {n: 3})",
        "UNWIND [2] AS i CREATE (:v {n: i})-[:e {k: 1}]->(:v {n: i + 1})",
        "MERGE (:v {n: 10})-[:e {k: 1}]->(:v {n: 11})",
    ):
        with pytest.raises(Exception, match="unique constraint"):
            eng.execute(stmt)
        assert eng.fetch_values("MATCH (x:v) RETURN count(x)") == [2], stmt
        assert eng.fetch_values("MATCH ()-[r:e]->() RETURN count(r)") == [1], stmt

    reopened = CypherEngine(spark, GraphCatalog(spark, root=root))
    reopened.execute("USE GRAPH wc")
    assert reopened.fetch_values("MATCH (x:v) RETURN x.n ORDER BY x.n") == [0, 1]
    assert reopened.fetch_values("MATCH ()-[r:e]->() RETURN count(r)") == [1]


def test_create_clauses_share_variables(spark):
    """A variable bound by one CREATE clause is the same vertex in the
    next clause of the statement."""
    eng = _engine(spark)
    eng.execute("CREATE (a:p {n: 1}) CREATE (a)-[:r]->(:q)")
    assert eng.fetch_values("MATCH (x) RETURN count(x)") == [2]
    assert eng.fetch_values("MATCH (a:p {n: 1})-[:r]->(b:q) RETURN count(b)") == [1]


def test_load_extends_property_types(spark):
    """from_rows catalogs every property's type; a load that stores a
    string where the catalog says long must widen that knowledge."""
    g = Graph.from_rows(spark, "wc_types", [("person", {"name": "ann", "age": 34})], [])
    eng = CypherEngine(spark, GraphCatalog(spark))
    eng.catalog.register(g)
    assert eng.fetch_values("MATCH (p:person) RETURN p.age") == [34]
    L.load_vertices(
        g, "person", spark.createDataFrame([("bob", "unknown")], "name string, age string")
    )
    got = eng.fetch_values("MATCH (p:person) RETURN p.age")
    assert sorted(got, key=str) == [34, "unknown"]


def test_load_enforces_unique_constraint(spark):
    eng = _engine(spark)
    eng.execute("CREATE VLABEL person")
    eng.execute("CREATE UNIQUE PROPERTY INDEX ON person (name)")
    g = eng.graph
    L.load_vertices(g, "person", spark.createDataFrame([("ann",)], "name string"))
    # a duplicate within the batch, and a key already stored
    for names in (["bob", "bob"], ["ann"]):
        with pytest.raises(ValueError, match="unique constraint"):
            L.load_vertices(
                g, "person", spark.createDataFrame([(n,) for n in names], "name string")
            )
    assert eng.fetch_values("MATCH (p:person) RETURN p.name") == ["ann"]


def test_load_enforces_label_kind(spark):
    eng = _engine(spark)
    eng.execute("CREATE ELABEL knows")
    with pytest.raises(ValueError, match="is a edge label"):
        L.load_vertices(eng.graph, "knows", spark.createDataFrame([("ann",)], "name string"))
    assert eng.fetch_values("MATCH (x) RETURN count(x)") == [0]
