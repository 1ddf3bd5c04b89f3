"""One commit for every write: CREATE (literal or row-wise), MERGE (which
creates through CREATE), SET, DELETE, DROP LABEL and the bulk loader all
change the tables through Graph.commit, so they share its guarantees —
the property-type catalog is extended with the types the rows store,
unique constraints are checked on the vertex AND edge candidates before
either table changes, a declared label kind is enforced, and a durable
graph reopens to what the writing engine holds."""

import json
import os
from urllib.parse import unquote

import pytest
from pyspark.sql import functions as F

from postgraph_spark.engine import CypherEngine
from postgraph_spark.graph import Graph, GraphCatalog, make_graphid
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


def _graph_state(eng) -> tuple[set, set]:
    """Every vertex as `label{document}` and every edge as
    `label(a)a.i-label(r){document}->label(b)b.i`."""

    def doc(d):
        return json.dumps(d, sort_keys=True, separators=(",", ":"))

    vertices = {
        f"{label}{doc(props)}"
        for label, props in eng.fetch("MATCH (n) RETURN label(n), properties(n)")
    }
    edges = {
        f"{la}{ia}-{lr}{doc(pr)}->{lb}{ib}"
        for la, ia, lr, pr, lb, ib in eng.fetch(
            "MATCH (a)-[r]->(b) RETURN label(a), a.i, label(r), properties(r), label(b), b.i"
        )
    }
    return vertices, edges


def _label_dirs(graph_path: str, kind: str) -> set:
    """The label partitions of a table on disk, unescaped."""
    with open(os.path.join(graph_path, "catalog.json")) as f:
        table = os.path.join(graph_path, json.load(f)["snapshot"], kind)
    return {unquote(e[len("label="):]) for e in os.listdir(table) if e.startswith("label=")}


#: (statement, vertices added, vertices removed, edges added, edges
#: removed); a statement whose entry is an exception type must raise it
#: and change nothing
WRITE_SEQUENCE = [
    ("CREATE (:v {i: 1, x: 100})-[:r {w: 1}]->(:w {i: 100})",
     {'v{"i":1,"x":100}', 'w{"i":100}'}, set(), {'v1-r{"w":1}->w100'}, set()),
    ("UNWIND [2, 3] AS i CREATE (:v {i: i, x: i * 10, z: i})",
     {'v{"i":2,"x":20,"z":2}', 'v{"i":3,"x":30,"z":3}'}, set(), set(), set()),
    ("CREATE (:u {i: 1})-[:s {w: 2}]->(:u {i: 2}), (:`a b` {i: 1}), (:`a b` {i: 2})",
     {'u{"i":1}', 'u{"i":2}', 'a b{"i":1}', 'a b{"i":2}'}, set(), {'u1-s{"w":2}->u2'}, set()),
    ("MATCH (n:v {i: 1}) SET n.k = 'a'",
     {'v{"i":1,"k":"a","x":100}'}, {'v{"i":1,"x":100}'}, set(), set()),
    ("MATCH (n:v {i: 2}) SET n += {k: 'b', z: null}",
     {'v{"i":2,"k":"b","x":20}'}, {'v{"i":2,"x":20,"z":2}'}, set(), set()),
    ("MERGE (:v {i: 3})", set(), set(), set(), set()),
    ("MATCH (a:v) MERGE (a)-[:r]->(:w {i: a.x})",
     {'w{"i":20}', 'w{"i":30}'}, set(), {"v2-r{}->w20", "v3-r{}->w30"}, set()),
    ("MATCH (:v {i: 3})-[e:r]->() DELETE e", set(), set(), set(), {"v3-r{}->w30"}),
    ("MATCH (n:v {i: 2}) DELETE n", ValueError),
    ("MATCH (n:v {i: 2}) DETACH DELETE n",
     set(), {'v{"i":2,"k":"b","x":20}'}, set(), {"v2-r{}->w20"}),
    ("MATCH (a:v {i: 1}) OPTIONAL MATCH (a)-[:nope]->(m) SET m.k = 1",
     set(), set(), set(), set()),
    ("MATCH (a:v {i: 1}) OPTIONAL MATCH (a)-[:nope]->(m) DETACH DELETE m",
     set(), set(), set(), set()),
    ("MATCH (n:`a b`) SET n.s = 1",
     {'a b{"i":1,"s":1}', 'a b{"i":2,"s":1}'}, {'a b{"i":1}', 'a b{"i":2}'}, set(), set()),
    ("MATCH (n:`a b`) DETACH DELETE n",
     set(), {'a b{"i":1,"s":1}', 'a b{"i":2,"s":1}'}, set(), set()),
    ("DROP LABEL s", set(), set(), set(), {'u1-s{"w":2}->u2'}),
    ("DROP LABEL u", set(), {'u{"i":1}', 'u{"i":2}'}, set(), set()),
]


def test_durable_write_sequence_golden(spark, tmp_path):
    """Every write clause against one durable graph: after each
    statement the writing engine and a reopen of the directory hold the
    same vertices and edges, and each table on disk has a label partition
    exactly for the labels that still have rows."""
    root = str(tmp_path / "graphs")
    eng = _engine(spark, root, name="seq")
    vertices, edges = set(), set()
    for stmt, *change in WRITE_SEQUENCE:
        if len(change) == 1:
            with pytest.raises(change[0]):
                eng.execute(stmt)
        else:
            eng.execute(stmt)
            v_add, v_del, e_add, e_del = change
            vertices, edges = (vertices - v_del) | v_add, (edges - e_del) | e_add
        reopened = CypherEngine(spark, GraphCatalog(spark, root=root))
        reopened.execute("USE GRAPH seq")
        for e in (eng, reopened):
            assert _graph_state(e) == (vertices, edges), stmt
        path = os.path.join(root, "seq")
        assert _label_dirs(path, "vertices") == {v[: v.index("{")] for v in vertices}, stmt
        assert _label_dirs(path, "edges") == {e.split("-")[1].split("{")[0] for e in edges}, stmt


def test_merge_repeated_variable_creates_one_vertex(spark, tmp_path):
    """A variable named twice in a MERGE pattern is one entity: a miss
    creates one vertex and a self-loop on it, and a second MERGE of the
    pattern matches it."""
    root = str(tmp_path / "graphs")
    eng = _engine(spark, root)
    for _ in range(2):
        eng.execute("MERGE (a:x {k: 1})-[:r]->(a)")
        reopened = CypherEngine(spark, GraphCatalog(spark, root=root))
        reopened.execute("USE GRAPH wc")
        for e in (eng, reopened):
            assert e.fetch("MATCH (n) RETURN label(n), n.k") == [("x", 1)]
            ((a, r, b),) = e.fetch("MATCH (a)-[r]->(b) RETURN id(a), id(r), id(b)")
            assert a == b != r


def test_commit_refuses_an_id_of_an_unknown_label(spark):
    """A removed id names its label in its top 16 bits: an id whose label
    the graph does not know fails the commit, and the tables keep their
    rows."""
    g = Graph.from_rows(spark, "wc_ids", [("p", {"i": 1})], [])
    before = g.vertices
    ids = spark.createDataFrame([(make_graphid(99, 1),)], "id bigint")
    with pytest.raises(Exception, match="unknown label id 99"):
        g.commit(removed={"vertices": ids})
    assert g.vertices is before and g.vertices.count() == 1
