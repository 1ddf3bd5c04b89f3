"""Graph-pattern queries over the property-graph projection of the
relational tables (FIXTURES.md F8): the engine's MATCH join semantics
exercised through the DuckDB-oracle gate. Oracles are the equivalent
relational joins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from postgraph_spark.graph import tpch_graph
from postgraph_spark.queries.registry import register


def _tpch_engine(spark, sf_dir):
    """CypherEngine bound to the TPC-H property-graph projection."""
    from postgraph_spark.engine import CypherEngine

    eng = CypherEngine(spark)
    eng.catalog.register(tpch_graph(spark, sf_dir))
    return eng


@register(
    "graph_match_1hop",
    """
    SELECT c.c_custkey AS custkey, count(*) AS n_big_orders
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 300000
    GROUP BY c.c_custkey
    """,
)
def graph_match_1hop(spark, sf_dir):
    """MATCH (c:customer)-[:placed]->(o:orders) WHERE o.totalprice > X
    RETURN c.custkey, count(o) — pattern hop = equi-join start_id/end_id
    (transform_cypher_edge, cypher_clause.c:3634-3823); label scan =
    partition-pruned filter; property filter on the JSON properties."""
    g = tpch_graph(spark, sf_dir)
    c = g.vertices_with_label("customer").alias("c")
    o = g.vertices_with_label("orders").alias("o")
    e = g.edges_with_label("placed").alias("e")
    # property reads go through the pv VARIANT (built once at graph
    # build) — variant_get, never a parse of the rendered text
    return (
        c.join(e, F.col("c.id") == F.col("e.start_id"))
        .join(o, F.col("e.end_id") == F.col("o.id"))
        .filter(F.try_variant_get(F.col("o.pv"), "$.o_totalprice", "double") > 300000)
        .select(F.try_variant_get(F.col("c.pv"), "$.c_custkey", "long").alias("custkey"))
        .groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("n_big_orders"))
    )


@register(
    "graph_match_2hop",
    """
    SELECT n.n_name AS nation, count(DISTINCT o.o_orderkey) AS n_orders
    FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_totalprice > 200000
    GROUP BY n.n_name
    """,
)
def graph_match_2hop(spark, sf_dir):
    """MATCH (n:nation)<-[:from_nation]-(c:customer)-[:placed]->(o:orders)
    — a 2-hop pattern mixing edge directions; joins chain on graphids."""
    g = tpch_graph(spark, sf_dir)
    c = g.vertices_with_label("customer").alias("c")
    o = g.vertices_with_label("orders").alias("o")
    n = g.vertices_with_label("nation").alias("n")
    placed = g.edges_with_label("placed").alias("ep")
    from_nation = g.edges_with_label("from_nation").alias("en")
    return (
        c.join(placed, F.col("c.id") == F.col("ep.start_id"))
        .join(o, F.col("ep.end_id") == F.col("o.id"))
        .join(from_nation, F.col("c.id") == F.col("en.start_id"))
        .join(n, F.col("en.end_id") == F.col("n.id"))
        .filter(F.try_variant_get(F.col("o.pv"), "$.o_totalprice", "double") > 200000)
        .select(
            F.try_variant_get(F.col("n.pv"), "$.n_name", "string").alias("nation"),
            F.try_variant_get(F.col("o.pv"), "$.o_orderkey", "long").alias("okey"),
        )
        .groupBy("nation")
        .agg(F.countDistinct("okey").alias("n_orders"))
    )


@register(
    "graph_vle_paths",
    """
    SELECT 1 AS hops, 'orders' AS end_label, count(*) AS n_paths FROM orders
    UNION ALL
    SELECT 1 AS hops, 'nation' AS end_label, count(*) AS n_paths FROM customer
    UNION ALL
    SELECT 2 AS hops, 'part' AS end_label, count(*) AS n_paths FROM lineitem
    """,
)
def graph_vle_paths(spark, sf_dir):
    """MATCH (c:customer)-[*1..2]->(x) RETURN hops, label(x), count(*) —
    the variable-length-edge operator (dfs.c:48-663 semantics) as the
    iterative distributed BFS of operators/vle.py, grouped by path length
    and endpoint label. Oracle: 1-hop = placed + from_nation edges from
    customers; 2-hop = customer->order->part chains = lineitem rows."""
    from postgraph_spark.operators.vle import vle

    g = tpch_graph(spark, sf_dir)
    starts = g.vertices_with_label("customer").select("id")
    paths = vle(g, lo=1, hi=2, direction="out", start_ids=starts)
    ends = g.vertices.select(F.col("id").alias("end_id"), F.col("label").alias("end_label"))
    return (
        paths.join(ends, "end_id")
        .groupBy("hops", "end_label")
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )


#: 2^48 — the graphid entry-id span (graph.py ENTRY_ID_BITS)
_B = 1 << 48

_VLE_DEEP_ORACLE = f"""
    WITH ed AS (
      SELECT 6*{_B} + o_orderkey AS id, 1*{_B} + o_custkey AS s,
             2*{_B} + o_orderkey AS t
      FROM orders
      UNION ALL
      SELECT 7*{_B} + l_orderkey*8 + l_linenumber, 2*{_B} + l_orderkey,
             3*{_B} + l_partkey
      FROM lineitem
      UNION ALL
      SELECT 8*{_B} + c_custkey, 1*{_B} + c_custkey, 5*{_B} + c_nationkey
      FROM customer
      UNION ALL
      SELECT 8*{_B} + {1 << 40} + s_suppkey, 4*{_B} + s_suppkey,
             5*{_B} + s_nationkey
      FROM supplier),
    u AS (SELECT DISTINCT id, s, t
          FROM (SELECT id, s, t FROM ed UNION ALL SELECT id, t AS s, s AS t FROM ed)),
    seeds AS (SELECT 1*{_B} + c_custkey AS v FROM customer WHERE c_custkey < 5),
    p1 AS (SELECT e1.id AS i1, e1.t AS v1 FROM seeds JOIN u e1 ON e1.s = seeds.v),
    p2 AS (SELECT p1.i1, e2.id AS i2, e2.t AS v2
           FROM p1 JOIN u e2 ON e2.s = p1.v1 AND e2.id <> p1.i1),
    p3 AS (SELECT e3.t AS v3
           FROM p2 JOIN u e3 ON e3.s = p2.v2 AND e3.id <> p2.i1 AND e3.id <> p2.i2),
    lab AS (
      SELECT 1 AS hops, v1 // {_B} AS lid FROM p1
      UNION ALL SELECT 2, v2 // {_B} FROM p2
      UNION ALL SELECT 3, v3 // {_B} FROM p3)
    SELECT hops,
           CASE lid WHEN 1 THEN 'customer' WHEN 2 THEN 'orders'
                WHEN 3 THEN 'part' WHEN 4 THEN 'supplier'
                ELSE 'nation' END AS end_label,
           count(*) AS n_paths
    FROM lab GROUP BY hops, lid
"""


@register("graph_vle_deep", _VLE_DEEP_ORACLE)
def graph_vle_deep(spark, sf_dir):
    """MATCH (c:customer)-[*1..3]-(x) WHERE c.c_custkey < 5 RETURN hops,
    label(x), count(*) — the UNDIRECTED variable-length traversal in full
    path mode with pairwise edge-uniqueness (dfs.c:48-663 relationship
    isomorphism) over the entire sf graph, not a fixture: every hop is a
    frontier-vs-edge-table equi-join and the union-of-orientations edge
    set doubles the scan. Exercises the iterative expansion machinery on
    600 k-row data (round-8 verdict #7). Oracle: the three hop levels
    replayed as explicit self-joins over the same oriented edge union
    with the same pairwise edge-id inequalities."""
    from postgraph_spark.operators.vle import vle

    g = tpch_graph(spark, sf_dir)
    starts = (
        g.vertices_with_label("customer")
        .filter(F.try_variant_get(F.col("pv"), "$.c_custkey", "long") < 5)
        .select("id")
    )
    paths = vle(g, lo=1, hi=3, direction="both", start_ids=starts)
    ends = g.vertices.select(F.col("id").alias("end_id"), F.col("label").alias("end_label"))
    return (
        paths.join(ends, "end_id")
        .groupBy("hops", "end_label")
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )


# ------- queries executed through the FULL Cypher surface (parse ->
# clause IR -> DataFrame compile, SURVEY §3) — the engine itself is what
# the oracle checks here, not a hand-built DataFrame


@register(
    "cypher_match_agg",
    """
    SELECT n.n_name AS nation, count(*) AS n_customers
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
)
def cypher_match_agg(spark, sf_dir):
    """Cypher text -> result: pattern join + implicit grouping (all
    non-aggregate RETURN items become group keys, cypher_item.c:168-236)."""
    eng = _tpch_engine(spark, sf_dir)
    out = eng.execute(
        "MATCH (n:nation)<-[:from_nation]-(c:customer) "
        "RETURN n.n_name AS nation, count(*) AS n_customers"
    )
    return out.select(
        F.col("nation")["s"].alias("nation"), F.col("n_customers")["i"].alias("n_customers")
    )


@register(
    "cypher_match_where",
    """
    SELECT c.c_custkey AS custkey, count(*) AS n_orders, max(o.o_totalprice) AS max_price
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 300000
    GROUP BY c.c_custkey
    """,
)
def cypher_match_where(spark, sf_dir):
    """Cypher WHERE over a JSON property + gtype max aggregate (ordered
    by the cross-type sort key, gtype_max_trans gtype.c:2397-2425)."""
    eng = _tpch_engine(spark, sf_dir)
    out = eng.execute(
        "MATCH (c:customer)-[:placed]->(o:orders) WHERE o.o_totalprice > 300000 "
        "RETURN c.c_custkey AS custkey, count(*) AS n_orders, max(o.o_totalprice) AS max_price"
    )
    return out.select(
        F.col("custkey")["i"].alias("custkey"),
        F.col("n_orders")["i"].alias("n_orders"),
        F.col("max_price")["d"].alias("max_price"),
    )


@register(
    "cypher_optional_match",
    """
    SELECT p.p_partkey AS partkey, count(DISTINCT l.l_orderkey) AS n_orders
    FROM part p LEFT JOIN lineitem l ON l.l_partkey = p.p_partkey
    GROUP BY p.p_partkey
    """,
)
def cypher_optional_match(spark, sf_dir):
    """OPTIONAL MATCH = lateral left join (cypher_clause.c:2440):
    unmatched parts keep a row with o = null; count(DISTINCT o) counts
    entities by id and skips nulls -> 0 for never-ordered parts."""
    eng = _tpch_engine(spark, sf_dir)
    out = eng.execute(
        "MATCH (p:part) OPTIONAL MATCH (p)<-[:contains]-(o:orders) "
        "RETURN p.p_partkey AS partkey, count(DISTINCT o) AS n_orders"
    )
    return out.select(
        F.col("partkey")["i"].alias("partkey"), F.col("n_orders")["i"].alias("n_orders")
    )


@register(
    "cypher_union_labels",
    """
    SELECT c_name AS name, 'customer' AS kind FROM customer WHERE c_acctbal > 9000
    UNION
    SELECT s_name AS name, 'supplier' AS kind FROM supplier WHERE s_acctbal > 9000
    """,
)
def cypher_union_labels(spark, sf_dir):
    """UNION between full Cypher queries (transform_cypher_union,
    cypher_clause.c:445-560): distinct set semantics across two labeled
    scans."""
    eng = _tpch_engine(spark, sf_dir)
    out = eng.execute(
        "MATCH (c:customer) WHERE c.c_acctbal > 9000 RETURN c.c_name AS name, 'customer' AS kind "
        "UNION "
        "MATCH (s:supplier) WHERE s.s_acctbal > 9000 RETURN s.s_name AS name, 'supplier' AS kind"
    )
    return out.select(F.col("name")["s"].alias("name"), F.col("kind")["s"].alias("kind"))


@register(
    "cypher_unwind_collect",
    """
    WITH ag AS (
      SELECT n.n_name AS nation, list(DISTINCT c.c_mktsegment) AS segs
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name)
    SELECT nation, unnest(segs) AS seg FROM ag
    """,
)
def cypher_unwind_collect(spark, sf_dir):
    """collect(DISTINCT) aggregate then UNWIND back to rows (gtype.c:2633
    and the unnest SRF, cypher_clause.c:984-1040) — the round-trip
    exercises the list container plus explode semantics through the
    engine."""
    eng = _tpch_engine(spark, sf_dir)
    out = eng.execute(
        "MATCH (n:nation)<-[:from_nation]-(c:customer) "
        "WITH n.n_name AS nation, collect(DISTINCT c.c_mktsegment) AS segs "
        "UNWIND segs AS seg "
        "RETURN nation, seg"
    )
    return out.select(F.col("nation")["s"].alias("nation"), F.col("seg")["s"].alias("seg"))


@register(
    "cypher_exists_pattern",
    """
    SELECT c.c_custkey AS custkey, c.c_acctbal AS acctbal
    FROM customer c
    WHERE c.c_acctbal > 9000
      AND EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
)
def cypher_exists_pattern(spark, sf_dir):
    """EXISTS((c)-[:placed]->(:orders {...})) -> correlated semi-join
    marker (reference sub-pattern sublinks, cypher_clause.c:2575-2607)."""
    eng = _tpch_engine(spark, sf_dir)
    out = eng.execute(
        "MATCH (c:customer) WHERE c.c_acctbal > 9000 "
        "AND EXISTS((c)-[:placed]->(:orders {o_orderstatus: 'F'})) "
        "RETURN c.c_custkey AS custkey, c.c_acctbal AS acctbal"
    )
    return out.select(
        F.col("custkey")["i"].alias("custkey"), F.col("acctbal")["d"].alias("acctbal")
    )


@register(
    "cypher_with_orderby_limit",
    """
    SELECT n.n_name AS nation, round(sum(o.o_totalprice), 2) AS revenue
    FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    LIMIT 5
    """,
)
def cypher_with_orderby_limit(spark, sf_dir):
    """WITH projection barrier + aggregate, then ORDER BY/LIMIT attached
    to WITH (the reference moves ORDER BY off RETURN, cypher_gram.y:5099)."""
    eng = _tpch_engine(spark, sf_dir)
    out = eng.execute(
        "MATCH (n:nation)<-[:from_nation]-(c:customer)-[:placed]->(o:orders) "
        "WITH n.n_name AS nation, round(sum(o.o_totalprice), 2) AS revenue "
        "ORDER BY revenue DESC, nation LIMIT 5 "
        "RETURN nation, revenue"
    )
    return out.select(
        F.col("nation")["s"].alias("nation"), F.col("revenue")["d"].alias("revenue")
    )


@register(
    "cypher_temporal_funcs",
    """
    SELECT CAST(o_orderkey AS BIGINT) AS okey,
      CAST(date_part('year', CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
      CAST(date_part('month', CAST(o_orderdate AS DATE)) AS BIGINT) AS mon,
      CAST(epoch(date_trunc('month', CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) AS mon_start,
      CAST(epoch(CAST(o_orderdate AS DATE) + INTERVAL 45 DAY) AS BIGINT) AS plus45,
      CAST(date_part('year', age(CAST(o_orderdate AS TIMESTAMP), CAST('1995-01-01' AS TIMESTAMP))) * 12
         + date_part('month', age(CAST(o_orderdate AS TIMESTAMP), CAST('1995-01-01' AS TIMESTAMP))) AS BIGINT) AS age_months
    FROM orders WHERE o_totalprice > 450000
    """,
)
def cypher_temporal_funcs(spark, sf_dir):
    """The temporal function kit driven through Cypher text: `::` casts
    (cypher_gram.y:17107), date_part/date_trunc/age over a timestamp
    property, and interval arithmetic feeding the op_add temporal
    dispatch (gtype_temporal.c:40-831; gtype_ops.c:153-280). The orders
    vertex keeps o_orderdate as a NATIVE timestamp inside its variant
    properties — property access yields a timestamp gval with no text
    re-parse, the pattern a 100 TB event store needs."""
    eng = _tpch_engine(spark, sf_dir)
    out = eng.execute(
        "MATCH (o:orders) WHERE o.o_totalprice > 450000 "
        "WITH o.o_orderkey AS okey, o.o_orderdate::timestamp AS od, o.o_orderdate::date AS odd "
        "WITH okey, od, odd, age(od, '1995-01-01'::timestamp) AS age_iv "
        "RETURN okey, "
        "  date_part('year', odd) AS yr, "
        "  date_part('month', odd) AS mon, "
        "  date_part('epoch', date_trunc('month', od)) AS mon_start, "
        "  date_part('epoch', odd + '45 days'::interval) AS plus45, "
        "  date_part('year', age_iv) * 12 + date_part('month', age_iv) AS age_months"
    )
    return out.select(
        F.col("okey")["i"].alias("okey"),
        F.col("yr")["d"].cast("long").alias("yr"),
        F.col("mon")["d"].cast("long").alias("mon"),
        F.col("mon_start")["d"].cast("long").alias("mon_start"),
        F.col("plus45")["d"].cast("long").alias("plus45"),
        F.col("age_months")["d"].cast("long").alias("age_months"),
    )


@register(
    "cypher_named_paths",
    """
    SELECT CAST(c.c_custkey AS BIGINT) AS custkey,
           CAST(o.o_orderkey AS BIGINT) AS okey,
           CAST(1 AS BIGINT) AS plen, CAST(3 AS BIGINT) AS psz
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 430000
    """,
)
def cypher_named_paths(spark, sf_dir):
    """Named path p = (...) bound as a traversal value (traversal.h:
    46-58; build_traversal traversal.c:64): nodes(p) ordered vertex
    array, length(p)/size(p) element counts, plus list indexing and
    nested property access on the rendered entities. Fixed-length paths
    assemble their arrays from already-bound entity columns — zero extra
    joins or shuffles over the plain MATCH."""
    eng = _tpch_engine(spark, sf_dir)
    out = eng.execute(
        "MATCH p = (c:customer)-[:placed]->(o:orders) WHERE o.o_totalprice > 430000 "
        "WITH nodes(p) AS ns, length(p) AS plen, size(p) AS psz "
        "RETURN ns[0].properties.c_custkey AS custkey, "
        "       ns[1].properties.o_orderkey AS okey, plen, psz"
    )
    return out.select(
        F.col("custkey")["i"].alias("custkey"),
        F.col("okey")["i"].alias("okey"),
        F.col("plen")["i"].alias("plen"),
        F.col("psz")["i"].alias("psz"),
    )


@register(
    "cypher_quantified",
    """
    SELECT CAST(o_orderkey AS BIGINT) AS okey, round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_totalprice > ALL (SELECT c_acctbal FROM customer)
      AND o_orderstatus IN (SELECT o_orderstatus FROM orders WHERE o_totalprice > 400000)
    """,
)
def cypher_quantified(spark, sf_dir):
    """Quantified subqueries from Cypher text (cypher_gram.y:17037-17040,
    17110-17126; sublink transform cypher_expr.c:82,231): `> ALL (...)`
    compiles to a broadcast 1-row min/max aggregate, `IN (...)` to an
    equi marker join on the canonical key — both constant-shuffle at any
    outer scale."""
    eng = _tpch_engine(spark, sf_dir)
    out = eng.execute(
        "MATCH (o:orders) "
        "WHERE o.o_totalprice > ALL (MATCH (c:customer) RETURN c.c_acctbal) "
        "AND o.o_orderstatus IN (MATCH (o2:orders) WHERE o2.o_totalprice > 400000 "
        "                        RETURN o2.o_orderstatus) "
        "RETURN o.o_orderkey AS okey, round(o.o_totalprice, 2) AS price"
    )
    return out.select(
        F.col("okey")["i"].alias("okey"), F.col("price")["d"].alias("price")
    )


@register(
    "cypher_grouping_sets",
    """
    SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
           round(sum(o.o_totalprice), 2) AS rev, CAST(count(*) AS BIGINT) AS n
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY GROUPING SETS ((c.c_mktsegment, o.o_orderpriority), (c.c_mktsegment), ())
    """,
)
def cypher_grouping_sets(spark, sf_dir):
    """GROUP BY GROUPING SETS from Cypher text (cypher_gram.y:4441-4490)
    -> DataFrame.groupingSets — one shuffle computing all three
    granularities (detail, per-segment, grand total)."""
    eng = _tpch_engine(spark, sf_dir)
    out = eng.execute(
        "MATCH (c:customer)-[:placed]->(o:orders) "
        "WITH c.c_mktsegment AS seg, o.o_orderpriority AS pri, o.o_totalprice AS price "
        "WITH seg, pri, round(sum(price), 2) AS rev, count(*) AS n "
        "GROUP BY GROUPING SETS ((seg, pri), (seg), ()) "
        "RETURN seg, pri, rev, n"
    )
    return out.select(
        F.col("seg")["s"].alias("seg"),
        F.col("pri")["s"].alias("pri"),
        F.col("rev")["d"].alias("rev"),
        F.col("n")["i"].alias("n"),
    )


@register(
    "cypher_setop_all",
    """
    SELECT c_mktsegment AS seg FROM customer
    INTERSECT ALL
    SELECT c_mktsegment AS seg FROM customer WHERE c_acctbal > 0
    """,
)
def cypher_setop_all(spark, sf_dir):
    """INTERSECT ALL between full Cypher queries — multiset semantics
    (min of multiplicities; cypher_gram.y:1082-1102 allows ALL on all
    three set operations) -> DataFrame.intersectAll."""
    eng = _tpch_engine(spark, sf_dir)
    out = eng.execute(
        "MATCH (c:customer) RETURN c.c_mktsegment AS seg "
        "INTERSECT ALL "
        "MATCH (c:customer) WHERE c.c_acctbal > 0 RETURN c.c_mktsegment AS seg"
    )
    return out.select(F.col("seg")["s"].alias("seg"))


@register(
    "cypher_window_topn",
    """
    SELECT seg, okey, price, rn FROM (
      SELECT c.c_mktsegment AS seg, CAST(o.o_orderkey AS BIGINT) AS okey,
             round(o.o_totalprice, 2) AS price,
             CAST(row_number() OVER (PARTITION BY c.c_mktsegment
                  ORDER BY o.o_totalprice DESC, o.o_orderkey) AS BIGINT) AS rn
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey) t
    WHERE rn <= 3
    """,
)
def cypher_window_topn(spark, sf_dir):
    """Window OVER from Cypher text (over_clause + window_specification,
    cypher_gram.y:17425-17520): per-segment top-3 orders via
    row_number() OVER (PARTITION BY ... ORDER BY ...) with a deferred
    WITH ... WHERE on the window alias."""
    eng = _tpch_engine(spark, sf_dir)
    out = eng.execute(
        "MATCH (c:customer)-[:placed]->(o:orders) "
        "WITH c.c_mktsegment AS seg, o.o_totalprice AS price, o.o_orderkey AS okey "
        "WITH seg, okey, price, "
        "     row_number() OVER (PARTITION BY seg ORDER BY price DESC, okey) AS rn "
        "WHERE rn <= 3 "
        "RETURN seg, okey, round(price, 2) AS price, rn"
    )
    return out.select(
        F.col("seg")["s"].alias("seg"),
        F.col("okey")["i"].alias("okey"),
        F.col("price")["d"].alias("price"),
        F.col("rn")["i"].alias("rn"),
    )


@register(
    "cypher_group_having",
    """
    SELECT c.c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
           round(sum(o.o_totalprice), 2) AS rev,
           CAST(count(*) FILTER (WHERE o.o_totalprice > 200000) AS BIGINT) AS n_big
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment HAVING count(*) > 100
    """,
)
def cypher_group_having(spark, sf_dir):
    """Explicit GROUP BY + HAVING + FILTER (WHERE ...) aggregates from
    Cypher text (cypher_gram.y:5099-5171, 4383-4460, filter_clause at
    17218)."""
    eng = _tpch_engine(spark, sf_dir)
    out = eng.execute(
        "MATCH (c:customer)-[:placed]->(o:orders) "
        "WITH c.c_mktsegment AS seg, o.o_totalprice AS price "
        "WITH seg, count(*) AS n, round(sum(price), 2) AS rev, "
        "     count(*) FILTER (WHERE price > 200000) AS n_big "
        "GROUP BY seg HAVING count(*) > 100 "
        "RETURN seg, n, rev, n_big"
    )
    return out.select(
        F.col("seg")["s"].alias("seg"),
        F.col("n")["i"].alias("n"),
        F.col("rev")["d"].alias("rev"),
        F.col("n_big")["i"].alias("n_big"),
    )


@register(
    "graph_reach_pairs",
    """
    WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey < 500),
    o AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey),
    p AS (SELECT o_custkey, count(DISTINCT l_partkey) AS n_parts
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY o_custkey)
    SELECT c.c_custkey AS custkey,
           CAST(1 + coalesce(o.n_orders, 0) + coalesce(p.n_parts, 0) AS BIGINT) AS n_reach,
           CAST(CASE WHEN coalesce(p.n_parts, 0) > 0 THEN 2 ELSE 1 END AS BIGINT) AS deepest
    FROM c LEFT JOIN o ON o.o_custkey = c.c_custkey
           LEFT JOIN p ON p.o_custkey = c.c_custkey
    """,
)
def graph_reach_pairs(spark, sf_dir):
    """Unbounded `-[*]->` reachability from customers via the BFS
    visited-set mode (operators/vle.py _vle_reachability, round-6): each
    (start, end) pair is found once at its minimum hop count, state is
    bounded by pair count, and the loop stops at the graph diameter —
    never a hop cap, never path enumeration. Reachable set per customer
    = its nation (hop 1) + its orders (hop 1) + the distinct parts of
    those orders (hop 2). At 100 TB this is |hops| rounds of equi-join +
    distinct + anti-join — the standard distributed BFS plan."""
    from postgraph_spark.graph import graphid_entry_id
    from postgraph_spark.operators.vle import vle

    g = tpch_graph(spark, sf_dir)
    starts = (
        g.vertices_with_label("customer")
        .filter(graphid_entry_id(F.col("id")) < 500)
        .select("id")
    )
    pairs = vle(g, lo=1, hi=None, reachability=True, start_ids=starts)
    return (
        pairs.groupBy("start_id")
        .agg(F.count(F.lit(1)).alias("n_reach"), F.max("hops").cast("long").alias("deepest"))
        .select(
            graphid_entry_id(F.col("start_id")).alias("custkey"),
            F.col("n_reach"),
            F.col("deepest"),
        )
    )


@register(
    "cypher_write_roundtrip",
    """
    SELECT CAST(n_regionkey AS BIGINT) AS region,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           CAST(count(CASE WHEN n_nationkey % 5 = 0 THEN 1 END) AS BIGINT) AS flagged
    FROM nation WHERE n_nationkey < 20
    GROUP BY n_regionkey
    """,
)
def cypher_write_roundtrip(spark, sf_dir):
    """The WRITE path under the external oracle (round-6 verdict #9):
    label DDL + unique property constraint, batched CREATE, idempotent
    MERGE, SET, DELETE — each committed durably by graph.py
    Graph.commit (each statement one new snap-N of its changed labels,
    the rest hard-linked, published by one catalog.json rename) — then the graph
    is REOPENED from disk by a second catalog and aggregated through the
    Cypher read path. The oracle recomputes the post-write state
    directly from nation.parquet. Driver-side content is the 25-row
    nation table (metadata-sized); everything written flows through the
    same WriteRunner/engine paths a bulk write uses."""
    import os
    import tempfile

    from postgraph_spark.engine import CypherEngine
    from postgraph_spark.graph import GraphCatalog

    rows = spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).collect()
    # fixed per-process dir (not mkdtemp-per-call): bench + correctness
    # invoke this several times per round — reuse and reset instead of
    # accumulating orphan temp roots. The graph-write cost lands in the
    # driver's build_sec for this row (documented trade).
    import shutil

    root = os.path.join(tempfile.gettempdir(), f"pgspark_wr_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    eng = CypherEngine(spark, GraphCatalog(spark, root=root))
    eng.execute("CREATE GRAPH wr")
    eng.execute("USE GRAPH wr")
    eng.execute("CREATE VLABEL n")
    eng.execute("CREATE UNIQUE PROPERTY INDEX ON n (key)")
    pats = ", ".join(
        f"(:n {{key: {r['n_nationkey']}, region: {r['n_regionkey']}}})" for r in rows
    )
    eng.execute(f"CREATE {pats}")
    # MERGE matches on the property subset -> creates nothing new
    for r in rows[:5]:
        eng.execute(f"MERGE (x:n {{key: {r['n_nationkey']}}})")
    eng.execute("MATCH (x:n) WHERE x.key % 5 = 0 SET x.flag = 1")
    eng.execute("MATCH (x:n) WHERE x.key >= 20 DELETE x")

    # reopen from disk: the read below sees only durably-committed state
    eng2 = CypherEngine(spark, GraphCatalog(spark, root=root))
    eng2.execute("USE GRAPH wr")
    out = eng2.execute(
        "MATCH (x:n) RETURN x.region AS region, count(*) AS n, "
        "sum(x.key) AS key_sum, count(x.flag) AS flagged"
    )
    out = out.select(
        F.col("region")["i"].alias("region"),
        F.col("n")["i"].alias("n"),
        F.col("key_sum")["i"].alias("key_sum"),
        F.col("flagged")["i"].alias("flagged"),
    )
    # materialize (5 rows, metadata-scale) so the temp root can be
    # removed now instead of leaking until the next invocation
    final = spark.createDataFrame(out.collect(), out.schema)
    shutil.rmtree(root, ignore_errors=True)
    return final


@register(
    "window_frames_extended",
    """
    SELECT CAST(o_orderkey AS BIGINT) AS okey,
      round(sum(o_totalprice) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
            ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW), 2) AS neigh_sum,
      CAST(count(*) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS BIGINT) AS pre_n,
      round(avg(o_totalprice) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
            ROWS BETWEEN 1 PRECEDING AND 3 FOLLOWING EXCLUDE TIES), 2) AS win_avg,
      round(min(o_totalprice) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
            ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW), 2) AS nmin,
      round(coalesce(stddev_samp(o_totalprice) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW), -1), 2) AS nstd
    FROM orders WHERE o_totalprice > 400000
    """,
)
def window_frames_extended(spark, sf_dir):
    """The frame surface driver-checked: EXCLUDE CURRENT ROW / GROUP /
    TIES over ROWS frames — count/sum/avg via the frame-minus-correction
    rewrite and min/stdev via the round-8 collect-frame path
    (compiler._compile_excluded_collect_agg); the oracle is DuckDB's
    NATIVE SQL:2011 EXCLUDE (the frames here all contain the current
    row, where DuckDB agrees with PG — see test_groups_frames.py for
    the divergence on frames that do not). ORDER BY o_orderkey is
    unique, so frames are deterministic."""
    eng = _tpch_engine(spark, sf_dir)
    out = eng.execute(
        "MATCH (o:orders) WHERE o.o_totalprice > 400000 "
        "RETURN o.o_orderkey AS okey, "
        "round(sum(o.o_totalprice) OVER (PARTITION BY o.o_orderpriority ORDER BY o.o_orderkey "
        "  ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW), 2) AS neigh_sum, "
        "count(*) OVER (PARTITION BY o.o_orderpriority ORDER BY o.o_orderkey "
        "  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS pre_n, "
        "round(avg(o.o_totalprice) OVER (PARTITION BY o.o_orderpriority ORDER BY o.o_orderkey "
        "  ROWS BETWEEN 1 PRECEDING AND 3 FOLLOWING EXCLUDE TIES), 2) AS win_avg, "
        "round(min(o.o_totalprice) OVER (PARTITION BY o.o_orderpriority ORDER BY o.o_orderkey "
        "  ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW), 2) AS nmin, "
        "round(coalesce(stdev(o.o_totalprice) OVER (PARTITION BY o.o_orderpriority ORDER BY o.o_orderkey "
        "  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW), -1), 2) AS nstd"
    )
    return out.select(
        F.col("okey")["i"].alias("okey"),
        F.col("neigh_sum")["d"].alias("neigh_sum"),
        F.col("pre_n")["i"].alias("pre_n"),
        F.col("win_avg")["d"].alias("win_avg"),
        F.col("nmin")["d"].alias("nmin"),
        F.col("nstd")["d"].alias("nstd"),
    )


@register(
    "deep_order_arrays",
    """
    SELECT q, d, e FROM (
      SELECT l_quantity AS q, l_discount AS d, l_extendedprice AS e,
             [[l_quantity, l_discount], [l_extendedprice]] AS v,
             l_orderkey * 8 + l_linenumber AS cid
      FROM lineitem WHERE l_quantity > 45
    ) ORDER BY v, cid LIMIT 60
    """,
)
def deep_order_arrays(spark, sf_dir):
    """ORDER BY over NESTED array values through the engine's exact
    deep-container sort path (gtype.deep_container_key: the unbounded
    compare_gtype_containers_orderability walk) — the oracle is DuckDB's
    native nested-list ordering, which agrees with gtype ordering for
    homogeneous numeric nestings (element-wise, numbers numerically,
    shorter prefix first). cid (the lineitem edge's entry-id formula)
    breaks ties deterministically; the driver compares the ordered
    prefix's VALUES, so the sort order itself is what's checked."""
    eng = _tpch_engine(spark, sf_dir)
    out = eng.execute(
        "MATCH ()-[c:contains]->() WHERE c.quantity > 45 "
        "WITH [[c.quantity, c.discount], [c.extendedprice]] AS v, id(c) AS cid "
        "ORDER BY v, cid LIMIT 60 "
        "RETURN v[0][0] AS q, v[0][1] AS d, v[1][0] AS e"
    )
    return out.select(
        F.col("q")["d"].alias("q"),
        F.col("d")["d"].alias("d"),
        F.col("e")["d"].alias("e"),
    )
