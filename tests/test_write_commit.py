"""One commit for created rows: CREATE (literal or row-wise), MERGE and
the bulk loader all append through Graph.append_rows, so they share its
guarantees — the property-type catalog is extended with the types the
rows store, unique constraints are checked on the vertex AND edge batch
before either table changes, and a declared label kind is enforced."""

import pytest
from pyspark.sql import functions as F

from postgraph_spark.engine import CypherEngine
from postgraph_spark.graph import Graph, GraphCatalog
from postgraph_spark.plans.writes import with_rowid
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


@pytest.mark.parametrize("partitions", [1, 4])
def test_with_rowid_evaluates_input_once(spark, partitions):
    """Row numbering pins its input: counting and numbering read the same
    rows, so an input that re-plans or re-evaluates differently can never
    lose or repeat an id. A UDF-filtered input is evaluated once, however
    often the numbered rows are read, and the ids are 0..n-1."""
    calls = spark.sparkContext.accumulator(0)

    @F.udf("boolean")
    def keep(i):
        calls.add(1)
        return i % 3 != 0

    rows, n = with_rowid(spark.range(0, 1000, 1, partitions).filter(keep("id")))
    ids = [r["__rn"] for r in rows.select("__rn").collect()]
    assert rows.count() == n == 666
    assert sorted(ids) == list(range(n))
    assert calls.value == 1000


@pytest.mark.parametrize("expr", ["rand()", "now()"])
def test_created_properties_read_one_value(spark, tmp_path, expr):
    """Created properties are evaluated once, before the created rows are
    numbered and pinned: RETURN, the in-memory table and a reopen of the
    durable graph read one value each, even of a nondeterministic
    expression whose value changes with every Spark job (now())."""
    root = str(tmp_path / "graphs")
    eng = _engine(spark, root)
    eng.execute("UNWIND range(1, 20) AS i CREATE (:y {i: i})")
    for stmt, label in (
        (f"CREATE (n:x {{r: {expr}}}) RETURN n.r", "x"),
        (f"MATCH (m:y) CREATE (n:z {{r: {expr}, i: m.i}}) RETURN n.r", "z"),
        (f"MATCH (m:y) MERGE (m)-[:e]->(n:w {{r: {expr}}}) RETURN n.r", "w"),
    ):
        returned = sorted(eng.fetch_values(stmt))
        reopened = CypherEngine(spark, GraphCatalog(spark, root=root))
        reopened.execute("USE GRAPH wc")
        for e in (eng, reopened):
            assert sorted(e.fetch_values(f"MATCH (n:{label}) RETURN n.r")) == returned, stmt


def test_create_property_cannot_reference_created_entity(spark):
    """Properties are evaluated over the clause's input, so they may only
    reference entities bound by earlier clauses."""
    eng = _engine(spark)
    with pytest.raises(Exception, match="cannot reference 'a'"):
        eng.execute("CREATE (a:p {x: 1})-[:r {y: a.x}]->(:q)")
    eng.execute("CREATE (a:p {x: 1}) CREATE (a)-[:r {y: a.x}]->(:q)")
    assert eng.fetch_values("MATCH (:p)-[r:r]->(:q) RETURN r.y") == [1]


def test_created_batch_does_not_widen_table(spark):
    """Rows created from a label scan are numbered from a pinned copy of
    the scan, which keeps the scan's partitions, most of them empty. The
    batch must still append as few partitions as hold rows, or every
    such write would double the table's partitions."""
    eng = _engine(spark)
    eng.execute("UNWIND range(1, 40) AS i CREATE (:y {i: i})")
    g = eng.graph
    g.vertices = g.vertices.repartition(8).localCheckpoint()
    for i in range(1, 4):
        eng.execute(f"MATCH (m:y {{i: {i}}}) CREATE (m)-[:r]->(:z {{i: {i}}})")
    assert g.vertices.rdd.getNumPartitions() <= 8 + 3
    assert eng.fetch_values("MATCH (:y)-[:r]->(z:z) RETURN count(z)") == [3]


@pytest.fixture(scope="module")
def float_doc(spark, tmp_path_factory):
    """A durable vertex created with a float, a list and a map, then SET
    twice: the writing engine and a fresh one over the reopened graph."""
    root = str(tmp_path_factory.mktemp("graphs"))
    eng = _engine(spark, root, name="fd")
    eng.execute("CREATE (:v {x: 1.0, e: [1.0, 2], o: {z: 1.5}})")
    eng.execute("MATCH (n:v) SET n.y = 2")
    eng.execute("MATCH (n:v) SET n += {w: 'a'}")
    reopened = CypherEngine(spark, GraphCatalog(spark, root=root))
    reopened.execute("USE GRAPH fd")
    return eng, reopened


def test_set_keeps_float_properties(float_doc):
    """SET edits the document inside its variant, so the untouched float
    1.0 stays a float in n.x, properties(n) and RETURN n, in memory and
    after a reopen, and the catalog keeps x a double. A round trip of the
    document through JSON text turned 1.0 into the integer 1."""
    for eng in float_doc:
        ((x, props, n),) = eng.fetch("MATCH (n:v) RETURN n.x, properties(n), n")
        for v in (x, props["x"], n["properties"]["x"]):
            assert type(v) is float and v == 1.0
        assert eng.graph.prop_atoms("v", "x") == frozenset({"double"})


#: the rendering rule, as text: keys sorted, a top-level float renders as
#: a float, and n.e reads what properties(n).e reads. A float nested in a
#: list or map is a decimal, so the list's 1.0 renders as 1.
RENDERED = {
    "n": '{"e":[1,2],"o":{"z":1.5},"w":"a","x":1.0,"y":2}',
    "properties(n)": '{"e":[1,2],"o":{"z":1.5},"w":"a","x":1.0,"y":2}',
    "keys(n)": '["e","o","w","x","y"]',
    "n.e": "[1,2]",
    "properties(n).e": "[1,2]",
}


def test_document_rendering_golden(float_doc):
    for eng in float_doc:
        (row,) = eng.execute(f"MATCH (n:v) RETURN {', '.join(RENDERED)}").collect()
        got = [row[0]["properties"]] + [row[i]["j"] for i in range(1, len(RENDERED))]
        assert dict(zip(RENDERED, got)) == RENDERED
