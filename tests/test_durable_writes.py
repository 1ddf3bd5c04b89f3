"""Durable write path: a catalog with a root directory persists every
committed write (label-partitioned parquet snapshots + catalog.json), and a FRESH catalog over the same root reopens the graph
with identical contents — the Spark analog of the reference's heap-table
durability (label_commands.c storage; graph_commands.c catalog)."""

import pytest
from pyspark.errors import AnalysisException

from postgraph_spark.engine import CypherEngine
from postgraph_spark.graph import GraphCatalog


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "graphs")


def test_write_reopen_read(spark, root):
    import os

    os.makedirs(root, exist_ok=True)
    eng = CypherEngine(spark, GraphCatalog(spark, root=root))
    eng.execute("CREATE GRAPH durable")
    eng.execute("USE GRAPH durable")
    eng.execute(
        "CREATE (a:person {name: 'ann', age: 31})-[:knows {since: 2020}]->(b:person {name: 'bob'})"
    )
    eng.execute("CREATE (c:city {name: 'lille'})")
    eng.execute("MATCH (p:person {name: 'ann'}) SET p.age = 32")

    # a fresh catalog (new engine, same root) must see the committed state
    eng2 = CypherEngine(spark, GraphCatalog(spark, root=root))
    eng2.execute("USE GRAPH durable")
    rows = eng2.fetch(
        "MATCH (a:person)-[e:knows]->(b:person) "
        "RETURN a.name AS an, a.age AS age, e.since AS since, b.name AS bn"
    )
    assert rows == [("ann", 32, 2020, "bob")]
    assert eng2.fetch_values("MATCH (c:city) RETURN c.name") == ["lille"]

    # deletes persist too
    eng2.execute("MATCH (c:city) DELETE c")
    eng3 = CypherEngine(spark, GraphCatalog(spark, root=root))
    eng3.execute("USE GRAPH durable")
    assert eng3.fetch_values("MATCH (c:city) RETURN c.name") == []
    # id allocation resumes past persisted ids (sequence recovery)
    eng3.execute("CREATE (d:person {name: 'cec'})")
    ids = eng3.fetch_values("MATCH (p:person) RETURN id(p)")
    assert len(ids) == len(set(ids)) == 3


def _table_dir(graph_path, kind):
    """Resolve the live snapshot's table dir via the catalog pointer —
    catalog.json's `snapshot` field is the single commit point."""
    import json
    import os

    with open(os.path.join(graph_path, "catalog.json")) as f:
        meta = json.load(f)
    return os.path.join(graph_path, meta["snapshot"], kind)


def _label_inodes(graph_path, kind="vertices"):
    """label directory -> the inodes of its data files, in the live
    snapshot. Each commit publishes a new snapshot directory that links
    the files it does not rewrite, so a file kept keeps its inode."""
    import os

    tdir = _table_dir(graph_path, kind)
    return {
        entry: {
            os.stat(os.path.join(tdir, entry, f)).st_ino
            for f in os.listdir(os.path.join(tdir, entry)) if f.endswith(".parquet")
        }
        for entry in os.listdir(tdir) if entry.startswith("label=")
    }


def test_create_appends_only_new_rows(spark, root):
    """Incremental durable commits: a small CREATE into an existing
    durable graph must only ADD files (O(rows)), keeping every
    pre-existing data file — the same inode, linked into the new
    snapshot — instead of rewriting the table (the round-4 verdict's
    write-path scale-killer)."""
    import os

    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, "incr")
    eng = CypherEngine(spark, GraphCatalog(spark, root=root))
    eng.execute("CREATE GRAPH incr")
    eng.execute("USE GRAPH incr")
    eng.execute("UNWIND range(1, 500) AS i CREATE (:bulk {i: i})")
    before = _label_inodes(path)
    assert before["label=bulk"], "bulk create should have produced data files"

    eng.execute("UNWIND range(1, 10) AS i CREATE (:tiny {i: i})")
    after = _label_inodes(path)
    assert set(after) == {"label=bulk", "label=tiny"}
    assert after["label=bulk"] == before["label=bulk"], "existing data files must be kept"
    assert after["label=tiny"]

    # a statement of literal CREATEs (no MATCH/UNWIND feeding it) must
    # also add files only — round-5 verdict item #3
    before = after
    eng.execute("CREATE (:solo {i: 1})")
    after = _label_inodes(path)
    assert {k: after[k] for k in before} == before, "literal CREATE must not rewrite files"
    assert after["label=solo"]
    assert eng.fetch_values("MATCH (s:solo) RETURN count(*)") == [1]

    # SET rewrites ONLY the touched label partition
    before = after
    eng.execute("MATCH (t:tiny {i: 1}) SET t.j = 99")
    after = _label_inodes(path)
    assert after["label=bulk"] == before["label=bulk"], "SET on :tiny must not rewrite label=bulk"
    assert after["label=solo"] == before["label=solo"]
    assert not after["label=tiny"] & before["label=tiny"]

    # reopened catalog sees all committed state
    eng2 = CypherEngine(spark, GraphCatalog(spark, root=root))
    eng2.execute("USE GRAPH incr")
    assert eng2.fetch_values("MATCH (b:bulk) RETURN count(*)") == [500]
    assert eng2.fetch_values("MATCH (t:tiny) RETURN count(*)") == [10]
    assert eng2.fetch_values("MATCH (t:tiny {i: 1}) RETURN t.j") == [99]

    # DELETE of a whole label removes its partition durably
    eng2.execute("MATCH (t:tiny) DELETE t")
    eng3 = CypherEngine(spark, GraphCatalog(spark, root=root))
    eng3.execute("USE GRAPH incr")
    assert eng3.fetch_values("MATCH (t:tiny) RETURN count(*)") == [0]
    assert eng3.fetch_values("MATCH (b:bulk) RETURN count(*)") == [500]


def test_session_graphs_stay_in_memory(spark, tmp_path):
    """No root -> no durable path -> nothing written to disk."""
    eng = CypherEngine(spark, GraphCatalog(spark))
    eng.execute("CREATE GRAPH ephemeral")
    eng.execute("USE GRAPH ephemeral")
    eng.execute("CREATE (a:x {v: 1})")
    assert eng.graph.durable_path is None
    assert eng.fetch_values("MATCH (a:x) RETURN a.v") == [1]


def test_durable_tables_are_id_clustered_with_bloom(spark, root):
    """Index analogs (ag_label btree on id): durable tables are written
    id-SORTED within each partition — tight, non-overlapping row-group
    min/max stats make point/range id lookups prunable (the columnar
    btree). The id bloom filter rides along via the writer options
    (Graph._table_writer); pyarrow's metadata API doesn't expose its
    offset, so this test pins the clustering invariant."""
    import glob
    import os

    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)
    eng = CypherEngine(spark, GraphCatalog(spark, root=root))
    eng.execute("CREATE GRAPH idx")
    eng.execute("USE GRAPH idx")
    eng.execute("UNWIND range(1, 5000) AS i CREATE (:v {i: i})")

    vdir = _table_dir(os.path.join(root, "idx"), "vertices")
    files = sorted(glob.glob(os.path.join(vdir, "label=*", "*.parquet")))
    assert files
    for f in files:
        pf = pq.ParquetFile(f)
        prev_max = None
        for rg in range(pf.metadata.num_row_groups):
            col = next(
                pf.metadata.row_group(rg).column(i)
                for i in range(pf.metadata.row_group(rg).num_columns)
                if pf.metadata.row_group(rg).column(i).path_in_schema == "id"
            )
            st = col.statistics
            assert st.min <= st.max
            if prev_max is not None:
                assert st.min >= prev_max, "row groups must be id-ordered"
            prev_max = st.max
        # within-file ordering: ids ascending (clustered)
        ids = pq.read_table(f, columns=["id"])["id"].to_pylist()
        assert ids == sorted(ids)


def test_reopen_fails_on_missing_table_dir(spark, root):
    """A snapshot whose edges directory is gone must fail the reopen, not
    come back as a graph without edges. An empty table is an empty
    directory, which reopens as 0 rows."""
    import os
    import shutil

    eng = CypherEngine(spark, GraphCatalog(spark, root=root))
    for name in ("torn", "noedges"):
        eng.execute(f"CREATE GRAPH {name}")
        eng.execute(f"USE GRAPH {name}")
        eng.execute("CREATE (:p)-[:r]->(:p)" if name == "torn" else "CREATE (:p)")
    shutil.rmtree(_table_dir(os.path.join(root, "torn"), "edges"))

    reopened = CypherEngine(spark, GraphCatalog(spark, root=root))
    reopened.execute("USE GRAPH noedges")
    assert reopened.fetch_values("MATCH ()-[r]->() RETURN count(r)") == [0]
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        reopened.execute("USE GRAPH torn")


def test_stored_layout_holds_only_the_variant(spark, root):
    """Each row stores one document, the pv VARIANT: the vertex and edge
    files of a snapshot hold exactly the stored columns (label is the
    partition directory), with no properties text."""
    import glob
    import os

    import pyarrow.parquet as pq

    eng = CypherEngine(spark, GraphCatalog(spark, root=root))
    eng.execute("CREATE GRAPH lay")
    eng.execute("USE GRAPH lay")
    eng.execute("CREATE (:p {x: 1.5})-[:r {w: 1}]->(:p)")
    eng.execute("MATCH (a:p {x: 1.5}) SET a.y = 'b'")
    for kind, cols in (("vertices", ["id", "pv"]), ("edges", ["id", "start_id", "end_id", "pv"])):
        tdir = _table_dir(os.path.join(root, "lay"), kind)
        files = glob.glob(os.path.join(tdir, "label=*", "*.parquet"))
        assert files
        for f in files:
            assert pq.read_schema(f).names == cols, f
        assert sorted(pq.read_table(tdir).column_names) == sorted([*cols, "label"])


def test_reopen_refuses_the_properties_text_layout(spark, root):
    """A directory in the older layout, tables of (id, label, properties
    JSON text) and a catalog without a layout marker, fails the open with
    an error that names the layout, instead of reading null documents."""
    import json
    import os

    path = os.path.join(root, "old")
    rows = spark.createDataFrame(
        [(1 << 48 | 1, "p", '{"x": 1}')], "id long, label string, properties string"
    )
    rows.write.partitionBy("label").parquet(os.path.join(path, "snap-1", "vertices"))
    os.makedirs(os.path.join(path, "snap-1", "edges"))
    with open(os.path.join(path, "catalog.json"), "w") as f:
        json.dump({"name": "old", "label_ids": {"p": 1}, "snapshot": "snap-1"}, f)
    eng = CypherEngine(spark, GraphCatalog(spark, root=root))
    with pytest.raises(ValueError, match="'properties-text' layout"):
        eng.execute("USE GRAPH old")


# ---- entity values end to end: one golden fixture, in memory and reopened

_A = {"id": 281474976710657, "label": "v", "properties": {"name": "a", "x": 1}}
_B = {"id": 281474976710658, "label": "v", "properties": {"name": "b", "x": 2}}
_C = {"id": 281474976710659, "label": "v", "properties": {"name": "c", "x": 1}}
_AB = {"id": 562949953421313, "start_id": _A["id"], "end_id": _B["id"], "label": "r"}

#: (statement, its rows in order; None = compare them sorted)
_ENTITY_GOLDENS = [
    ("MATCH (n:v)-[:r]->() WITH DISTINCT n RETURN n.x AS x, n ORDER BY x",
     [(1, _A), (2, _B)]),
    ("MATCH (n:v)-[:r]->() RETURN n, count(*) AS c ORDER BY c", [(_B, 1), (_A, 2)]),
    ("MATCH (n:v) RETURN n ORDER BY n", [(_A,), (_B,), (_C,)]),
    ("MATCH (n:v {x: 1}) RETURN n UNION MATCH (n:v)-[:r]->(:v {name: 'c'}) RETURN n",
     None, [(_A,), (_B,), (_C,)]),
    ("MATCH (n:v) RETURN n.name AS name, keys(n) AS k, properties(n) AS p, "
     "n @> {x: 1} AS c ORDER BY name",
     [("a", ["name", "x"], _A["properties"], True),
      ("b", ["name", "x"], _B["properties"], False),
      ("c", ["name", "x"], _C["properties"], True)]),
    ("MATCH p = (:v {name: 'a'})-[:r]->(:v {name: 'b'}) RETURN p",
     [({"nodes": [{**_A, "properties": '{"name":"a","x":1}'},
                  {**_B, "properties": '{"name":"b","x":2}'}],
        "edges": [{**_AB, "properties": '{"w":1}'}]},)]),
    ("MATCH ()-[r:r {w: 3}]->() RETURN startNode(r) AS s", [(_B,)]),
]


def _plain(v):
    """fetch()'s value with Spark Rows as dicts."""
    if hasattr(v, "asDict"):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return type(v)(_plain(x) for x in v)
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    return v


@pytest.fixture(scope="module", params=["memory", "reopen"])
def entity_graph(spark, tmp_path_factory, request):
    """Three `v` vertices a -> b, a -> c, b -> c, built in a session
    graph ("memory") or written to a root and read by a fresh catalog
    ("reopen")."""
    root = str(tmp_path_factory.mktemp("entities")) if request.param == "reopen" else None
    eng = CypherEngine(spark, GraphCatalog(spark, root=root))
    eng.execute("CREATE GRAPH golden")
    eng.execute("USE GRAPH golden")
    eng.execute("CREATE (:v {x: 1, name: 'a'})-[:r {w: 1}]->(:v {x: 2, name: 'b'})")
    eng.execute(
        "MATCH (a:v {name: 'a'}), (b:v {name: 'b'}) "
        "CREATE (a)-[:r {w: 2}]->(:v {x: 1, name: 'c'})<-[:r {w: 3}]-(b)"
    )
    if root is not None:
        eng = CypherEngine(spark, GraphCatalog(spark, root=root))
        eng.execute("USE GRAPH golden")
    return eng, root


def test_entity_values_golden(spark, entity_graph):
    """A bound vertex or edge keeps its identity and its whole document
    through WITH, DISTINCT, grouping, ORDER BY, UNION, entity functions,
    named paths, startNode and a SET on a projected entity, and leaves
    the engine as (id, label, properties)."""
    eng, root = entity_graph
    for stmt, ordered, *unordered in _ENTITY_GOLDENS:
        got = _plain(eng.fetch(stmt))
        if ordered is None:
            assert sorted(got, key=repr) == sorted(unordered[0], key=repr), stmt
        else:
            assert got == ordered, stmt
    y5 = [{**n, "properties": {**n["properties"], "y": 5}} for n in (_A, _C)]
    got = _plain(eng.fetch("MATCH (n:v) WITH n WHERE n.x = 1 SET n.y = 5 RETURN n"))
    assert sorted(got, key=repr) == sorted([(n,) for n in y5], key=repr)
    if root is not None:
        eng = CypherEngine(spark, GraphCatalog(spark, root=root))
        eng.execute("USE GRAPH golden")
    assert _plain(eng.fetch("MATCH (n:v) RETURN n ORDER BY n")) == [(y5[0],), (_B,), (y5[1],)]


def test_label_files_share_one_variant_schema(spark, root):
    """Two appends to one label with different documents leave files that
    any parquet reader can read as one table: pv is stored unshredded in
    every file, not with a shredding schema inferred per file from its
    own rows (pyarrow refuses a directory whose files disagree)."""
    import os

    import pyarrow.parquet as pq

    eng = CypherEngine(spark, GraphCatalog(spark, root=root))
    eng.execute("CREATE GRAPH shred")
    eng.execute("USE GRAPH shred")
    eng.execute("CREATE (:p {x: 1.5})")
    eng.execute("CREATE (:p {})")
    label_dir = os.path.join(_table_dir(os.path.join(root, "shred"), "vertices"), "label=p")
    assert pq.read_table(label_dir).num_rows == 2
