"""Entity operator goldens — old/regress/vertex.sql + edge.sql: entity
equality/inequality compare by graphid; accessors id()/label()/
properties(); containment `v @> map` / `map <@ v` and key existence
`? ?| ?&` operate on the entity's PROPERTIES document
(gtype_ops.c's vertex/edge operator wiring)."""

import pytest

from postgraph_spark.engine import CypherEngine


@pytest.fixture(scope="module")
def engine(spark):
    e = CypherEngine(spark)
    e.execute("CREATE GRAPH entops")
    e.execute("USE GRAPH entops")
    e.execute("CREATE (:vt {id: 2, tag: 'a'})")
    e.execute("CREATE (:vt {})")
    e.execute("MATCH (a:vt), (b:vt) WHERE a.id = 2 AND b.id IS NULL "
              "CREATE (a)-[:et {w: 5}]->(b)")
    return e


def one(engine, q):
    return engine.fetch_values(q)[0]


def test_entity_equality_by_id(engine):
    # vertex.sql: build_vertex(gid1,...) = build_vertex(gid1,...) -> true,
    # different gids -> false (property maps are ignored: id-only compare)
    assert one(engine, "MATCH (n:vt), (m:vt) RETURN count(*) AS c "
                       "ORDER BY c LIMIT 1") == 4
    assert one(engine, "MATCH (n:vt), (m:vt) WHERE n = m RETURN count(*) AS c") == 2
    assert one(engine, "MATCH (n:vt), (m:vt) WHERE n <> m RETURN count(*) AS c") == 2


def test_entity_accessors(engine):
    # id(NULL)/label(NULL) -> null (vertex.sql)
    assert one(engine, "RETURN id(null) AS r") is None
    assert one(engine, "RETURN label(null) AS r") is None
    rows = engine.fetch(
        "MATCH (n:vt) WHERE n.id = 2 RETURN label(n) AS l, properties(n) AS p"
    )
    assert rows[0][0] == "vt"
    assert rows[0][1] == {"id": 2, "tag": "a"}


def test_entity_containment(engine):
    # v @> {} -> true for every vertex; v @> {id: 2} matches one;
    # v @> {id: 1} matches none (value mismatch)
    assert one(engine, "MATCH (n:vt) WHERE n @> {} RETURN count(*) AS c") == 2
    assert one(engine, "MATCH (n:vt) WHERE n @> {id: 2} RETURN count(*) AS c") == 1
    assert one(engine, "MATCH (n:vt) WHERE n @> {id: 1} RETURN count(*) AS c") == 0
    # map <@ v mirrors
    assert one(engine, "MATCH (n:vt) WHERE {} <@ n RETURN count(*) AS c") == 2
    assert one(engine, "MATCH (n:vt) WHERE {id: 2} <@ n RETURN count(*) AS c") == 1
    assert one(engine, "MATCH (n:vt) WHERE {id: 1} <@ n RETURN count(*) AS c") == 0


def test_entity_key_existence(engine):
    assert one(engine, "MATCH (n:vt) WHERE n ? 'id' RETURN count(*) AS c") == 1
    assert one(engine, "MATCH (n:vt) WHERE n ? 'idd' RETURN count(*) AS c") == 0
    assert one(engine, "MATCH (n:vt) WHERE n ?| ['idd', 'tag'] RETURN count(*) AS c") == 1
    assert one(engine, "MATCH (n:vt) WHERE n ?& ['id', 'tag'] RETURN count(*) AS c") == 1
    assert one(engine, "MATCH (n:vt) WHERE n ?& ['id', 'zz'] RETURN count(*) AS c") == 0


def test_edge_containment(engine):
    assert one(engine, "MATCH ()-[e:et]->() WHERE e @> {w: 5} RETURN count(*) AS c") == 1
    assert one(engine, "MATCH ()-[e:et]->() WHERE e ? 'w' RETURN count(*) AS c") == 1
    assert one(engine, "MATCH ()-[e:et]->() WHERE e @> {w: 4} RETURN count(*) AS c") == 0


def test_group_by_entity_keeps_the_entity(engine):
    """An explicit GROUP BY on an entity keys it on its id and keeps it
    an entity, so its properties read after the grouping."""
    rows = engine.fetch("MATCH (n:vt) WITH n, count(*) AS c GROUP BY n RETURN n.tag AS tag, c")
    assert sorted(rows, key=repr) == sorted([("a", 1), (None, 1)], key=repr)
    rows = engine.fetch("MATCH (n:vt) WITH n, count(*) AS c GROUP BY n RETURN n, c")
    assert sorted(r[0]["properties"].get("tag", "") for r in rows) == ["", "a"]
    # ROLLUP: the total row rolled the entity up and reads null; the
    # per-entity rows keep their properties
    rows = engine.fetch("MATCH (n:vt) WITH n, count(*) AS c GROUP BY ROLLUP(n) RETURN n, c")
    assert [c for n, c in rows if n is None] == [2]
    assert sorted(n["properties"].get("tag", "") for n, c in rows if n is not None) == ["", "a"]


def test_unmatched_optional_path_is_null(engine):
    """A named path an OPTIONAL MATCH did not match is null, not a path
    of null element lists."""
    rows = engine.fetch(
        "MATCH (n:vt) OPTIONAL MATCH p = (n)-[:et]->(:vt) RETURN n.tag AS tag, p"
    )
    by_tag = dict(rows)
    assert by_tag[None] is None
    assert [v["label"] for v in by_tag["a"]["nodes"]] == ["vt", "vt"]
    assert [e["label"] for e in by_tag["a"]["edges"]] == ["et"]


def test_collect_entities(engine):
    """collect(n) and collect(DISTINCT n) over vertices and edges list
    each entity rendered as nodes(p) renders it."""
    [(ns, es)] = engine.fetch(
        "MATCH p = (:vt)-[:et]->(:vt) RETURN nodes(p) AS ns, relationships(p) AS es"
    )
    assert sorted(n["properties"].get("tag", "") for n in ns) == ["", "a"]
    assert [e["properties"] for e in es] == [{"w": 5}]
    [(vs,)] = engine.fetch("MATCH (n:vt) RETURN collect(n) AS vs")
    assert sorted(vs, key=repr) == sorted(ns, key=repr)
    [(ds, cs)] = engine.fetch(
        "MATCH (n:vt)-[e:et]-() RETURN collect(DISTINCT n) AS ds, collect(e) AS cs"
    )
    assert sorted(ds, key=repr) == sorted(ns, key=repr)
    assert cs == es * 2
    [(de,)] = engine.fetch("MATCH (n:vt)-[e:et]-() RETURN collect(DISTINCT e) AS de")
    assert de == es


def test_entity_as_a_value(engine):
    """An entity where a value is expected (IS NULL, coalesce) is its
    JSON object as collect(n) lists it; an unmatched one is null."""
    rows = engine.fetch(
        "MATCH (n:vt) OPTIONAL MATCH (n)-[:et]->(m) RETURN n.tag, n IS NULL, m IS NULL"
    )
    assert sorted(rows, key=repr) == sorted([("a", False, False), (None, False, True)], key=repr)
    [(vs,)] = engine.fetch("MATCH (n:vt) RETURN collect(n)")
    untagged = [v for v in vs if v["properties"] == {}]
    # a's m is the untagged vertex; the untagged vertex has no m
    got = engine.fetch_values("MATCH (n:vt) OPTIONAL MATCH (n)-[:et]->(m) RETURN coalesce(m, n)")
    assert got == untagged * 2


def test_order_by_path_and_vle(engine):
    """ORDER BY a named path or a variable-length binding orders by its
    element ids."""
    for order in ("", " DESC"):
        paths = engine.fetch_values(f"MATCH p = (:vt)-[:et]-(:vt) RETURN p ORDER BY p{order}")
        ids = [[v["id"] for v in p["nodes"]] for p in paths]
        assert len(ids) == 2 and ids == sorted(ids, reverse=bool(order))
        rows = engine.fetch(f"MATCH (a:vt)-[e:et*1..1]-(:vt) RETURN a.tag, e ORDER BY e{order}")
        assert [tag for tag, _e in rows] == (["a", None] if not order else [None, "a"])
