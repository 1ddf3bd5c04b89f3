"""Reference function-family parity queries (SURVEY §2.5): vector
distances, typecasting, JSON containment/existence operators,
quantified subqueries, text-search-lite, ranges, network functions,
date_bin — each pinned to the DuckDB oracle on the driver tables.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from postgraph_spark.functions import geometric as GEO
from postgraph_spark.functions import gtype as G
from postgraph_spark.functions import network as NET
from postgraph_spark.functions import ranges as R
from postgraph_spark.functions import vector as V
from postgraph_spark.queries.registry import register, t


@register(
    "vector_distance_funcs",
    """
    WITH p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(a.embedding AS DOUBLE[]) AS va, CAST(b.embedding AS DOUBLE[]) AS vb
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id < 200)
    SELECT id_a, id_b,
           CAST(len(va) AS INT) AS dims,
           round(list_distance(va, vb), 4) AS l2,
           round(list_inner_product(va, vb), 4) AS ip,
           round(1.0 - list_cosine_similarity(va, vb), 4) AS cos_dist,
           round(list_sum(list_transform(list_zip(va, vb), x -> abs(CAST(x[1] AS DOUBLE) - x[2]))), 4) AS l1,
           round(sqrt(list_sum(list_transform(va, x -> CAST(x AS DOUBLE) * x))), 4) AS norm_a
    FROM p
    """,
)
def vector_distance_funcs(spark, sf_dir):
    """The vector function family (vector.c: l2_distance `<->`,
    inner_product, cosine_distance `<=>`, l1_distance, norm, dims) as
    pure zip_with/aggregate expressions — the same kernels the ANN
    operators reuse inside each cluster partition."""
    e = t(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
    )
    b = e.select((F.col("vec_id")).alias("id_b"), F.col("embedding").alias("vb"))
    p = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return p.select(
        "id_a",
        "id_b",
        V.dims(F.col("va")).alias("dims"),
        F.round(V.l2_distance(F.col("va"), F.col("vb")), 4).alias("l2"),
        F.round(V.inner_product(F.col("va"), F.col("vb")), 4).alias("ip"),
        F.round(V.cosine_distance(F.col("va"), F.col("vb")), 4).alias("cos_dist"),
        F.round(V.l1_distance(F.col("va"), F.col("vb")), 4).alias("l1"),
        F.round(V.l2_norm(F.col("va")), 4).alias("norm_a"),
    )


@register(
    "typecasting_funcs",
    """
    SELECT doc_id,
           TRY_CAST(CAST(n_chars AS VARCHAR) AS BIGINT) AS int_roundtrip,
           CAST(doc_id AS VARCHAR) AS id_str,
           TRY_CAST(CAST(doc_id AS VARCHAR) || '.5' AS DOUBLE) AS float_parse,
           TRY_CAST(lang AS BIGINT) AS bad_int,
           (CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END) = 'true' AS bool_parse,
           CAST(CAST(n_chars AS DOUBLE) AS BIGINT) AS float_to_int
    FROM documents
    """,
)
def typecasting_funcs(spark, sf_dir):
    """Typecasting family (gtype_typecasting.c, 112 fns: toInteger
    toFloat toString toBoolean...): Spark cast is TRY_CAST-shaped
    (invalid parse -> null, the reference's error-free to* semantics)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("n_chars").cast("string").cast("long").alias("int_roundtrip"),
        F.col("doc_id").cast("string").alias("id_str"),
        F.concat(F.col("doc_id").cast("string"), F.lit(".5")).cast("double").alias("float_parse"),
        F.col("lang").try_cast("long").alias("bad_int"),
        (F.when(F.col("doc_id") % 2 == 0, F.lit("true")).otherwise(F.lit("false")) == "true").alias(
            "bool_parse"
        ),
        F.col("n_chars").cast("double").cast("long").alias("float_to_int"),
    )


@register(
    "json_containment_ops",
    """
    SELECT event_type,
           count(*) FILTER (WHERE json_extract(props, '$.k') IS NOT NULL) AS has_k,
           count(*) FILTER (WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) = 5) AS k_eq_5,
           count(*) FILTER (WHERE json_extract(props, '$.tags') IS NOT NULL
                              AND json_extract(props, '$.k') IS NOT NULL) AS has_both,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def json_containment_ops(spark, sf_dir):
    """jsonb-style existence `?` and containment `@>` (gtype_ops.c:
    849-1080): key-existence and key/value containment tests compiled to
    JSON-path expressions the scan can evaluate."""
    e = t(spark, sf_dir, "events")
    has_k = F.get_json_object("props", "$.k").isNotNull()
    k_eq_5 = F.get_json_object("props", "$.k").cast("long") == 5
    has_both = F.get_json_object("props", "$.tags").isNotNull() & has_k
    return e.groupBy("event_type").agg(
        F.count(F.when(has_k, 1)).alias("has_k"),
        F.count(F.when(k_eq_5, 1)).alias("k_eq_5"),
        F.count(F.when(has_both, 1)).alias("has_both"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "quantified_all_rewrite",
    """
    SELECT p.p_brand AS brand, count(*) AS n_dominant
    FROM part p
    WHERE p.p_size > ALL (SELECT p2.p_size FROM part p2 WHERE p2.p_brand = 'Brand#11' AND p2.p_size < 30)
    GROUP BY p.p_brand
    """,
)
def quantified_all_rewrite(spark, sf_dir):
    """`op ALL (subquery)` (cypher_gram.y:17110-17126): Spark SQL has no
    quantified comparisons, so the compiler rewrite is `> ALL S` ==
    `> max(S)` (empty S -> true; S containing NULL -> NULL — the
    subquery here is non-null by construction)."""
    p = t(spark, sf_dir, "part")
    sub = p.filter((F.col("p_brand") == "Brand#11") & (F.col("p_size") < 30)).agg(
        F.max("p_size").alias("mx"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        p.crossJoin(F.broadcast(sub))
        .filter((F.col("cnt") == 0) | (F.col("p_size") > F.col("mx")))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).alias("n_dominant"))
    )


@register(
    "tsearch_match",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
      FROM documents)
    SELECT doc_id,
           list_contains(toks, 'spark') AND list_contains(toks, 'table') AS match_and,
           list_contains(toks, 'spark') OR list_contains(toks, 'join') AS match_or,
           list_contains(toks, 'spark') AND NOT list_contains(toks, 'slow') AS match_not,
           coalesce(len(list_filter(range(1, greatest(len(toks), 1)),
                        i -> toks[i] = 'spark' AND toks[i+1] = 'table')) > 0,
                    false) AS match_phrase,
           (coalesce(len(list_filter(range(1, greatest(len(toks), 1)),
                         i -> toks[i] = 'spark' AND toks[i+1] = 'table')) > 0,
                     false)
            OR (list_contains(toks, 'join') AND NOT list_contains(toks, 'slow')))
             AS match_websearch,
           CAST(len(list_filter(toks, x -> x = 'spark')) AS BIGINT) AS tf_spark
    FROM d
    """,
)
def tsearch_match(spark, sf_dir):
    """Text search over documents (gtype_tsearch.c + `@@`): boolean
    query-tree match, POSITIONAL phrase match (`spark <-> table`,
    tsquery_phrase), and a websearch form (`"spark table" or join
    -slow`, websearch_to_tsquery) — all compiled to JVM array algebra
    over the token-position list, the same plan shape the tsearch kit's
    literal-`@@` compiler emits (functions/tsearch.py compile_match).
    Whole-stage codegen; the only shuffle is none — a pure scan+project.
    """
    d = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\W+"), lambda x: x != "")
    d = d.select("doc_id", toks.alias("toks"))
    has = lambda term: F.array_contains("toks", term)  # noqa: E731
    phrase = F.coalesce(
        F.exists(
            F.sequence(F.lit(1), F.greatest(F.size("toks") - 1, F.lit(1))),
            lambda i: (F.element_at("toks", i) == "spark")
            & (F.element_at("toks", i + 1) == "table"),
        ),
        F.lit(False),
    )
    return d.select(
        "doc_id",
        (has("spark") & has("table")).alias("match_and"),
        (has("spark") | has("join")).alias("match_or"),
        (has("spark") & ~has("slow")).alias("match_not"),
        phrase.alias("match_phrase"),
        (phrase | (has("join") & ~has("slow"))).alias("match_websearch"),
        F.size(F.filter("toks", lambda x: x == "spark")).cast("long").alias("tf_spark"),
    )


@register(
    "range_ops",
    """
    WITH r AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice / 50000) * 50000 AS DOUBLE) AS lo,
             CAST(floor(o_totalprice / 50000) * 50000 + 50000 AS DOUBLE) AS hi,
             o_totalprice AS v
      FROM orders)
    SELECT o_orderkey,
           v >= lo AND v < hi AS contains_v,
           (lo < 100000.0 + 50000 AND 100000.0 < hi) AS overlaps_mid,
           (lo >= 100000.0 AND hi <= 200000.0) AS within_big,
           hi = 150000.0 AS adjacent_150k
    FROM r
    """,
)
def range_ops(spark, sf_dir):
    """Range family (gtype_range.c: constructors + `@>`/`&&`/`-|-`):
    numranges as struct(lo,hi,inc,inc) with pure-expression predicates.
    Each order's price bucket [lo,hi) is tested for containment of its
    own price, overlap with [100k,150k), containment in [100k,200k],
    and adjacency to a range starting at 150k."""
    o = t(spark, sf_dir, "orders")
    lo = (F.floor(F.col("o_totalprice") / 50000) * 50000).cast("double")
    o = o.select("o_orderkey", F.col("o_totalprice").alias("v"), R.make_range(lo, lo + 50000).alias("r"))
    mid = R.make_range(F.lit(100000.0), F.lit(150000.0))
    big = R.make_range(F.lit(100000.0), F.lit(200000.0), hi_inc=True)
    at150 = R.make_range(F.lit(150000.0), F.lit(9e9))
    return o.select(
        "o_orderkey",
        R.contains_value(F.col("r"), F.col("v")).alias("contains_v"),
        R.overlaps(F.col("r"), mid).alias("overlaps_mid"),
        R.contains_range(big, F.col("r")).alias("within_big"),
        R.adjacent(F.col("r"), at150).alias("adjacent_150k"),
    )


@register(
    "network_funcs",
    """
    WITH ip AS (
      SELECT event_id,
             '10.' || CAST((user_id // 256) % 256 AS VARCHAR) || '.' ||
             CAST(user_id % 256 AS VARCHAR) || '.' ||
             CAST(event_id % 200 + 1 AS VARCHAR) || '/24' AS addr,
             '10.' || CAST((user_id // 256) % 256 AS VARCHAR) || '.' ||
             CAST(user_id % 256 AS VARCHAR) AS net_prefix
      FROM events WHERE event_id < 2000)
    SELECT event_id,
           split_part(addr, '/', 1) AS host,
           24 AS masklen,
           4 AS family,
           net_prefix || '.0/24' AS network,
           net_prefix || '.255' AS broadcast,
           '255.255.255.0' AS netmask
    FROM ip
    """,
)
def network_funcs(spark, sf_dir):
    """inet function kit (gtype_network.c: host masklen family network
    broadcast netmask...) as Arrow-batched pandas UDFs over ipaddress —
    the oracle recomputes the expected values with string arithmetic on
    the synthetic /24 addresses."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    addr = F.concat(
        F.lit("10."),
        ((F.col("user_id") / 256).cast("long") % 256).cast("string"),
        F.lit("."),
        (F.col("user_id") % 256).cast("string"),
        F.lit("."),
        (F.col("event_id") % 200 + 1).cast("string"),
        F.lit("/24"),
    )
    e = e.select("event_id", addr.alias("addr"))
    return e.select(
        "event_id",
        NET.host(F.col("addr")).alias("host"),
        NET.masklen(F.col("addr")).alias("masklen"),
        NET.family(F.col("addr")).alias("family"),
        NET.network(F.col("addr")).alias("network"),
        NET.broadcast(F.col("addr")).alias("broadcast"),
        NET.netmask(F.col("addr")).alias("netmask"),
    )


@register(
    "date_bin_events",
    """
    SELECT strftime(time_bucket(INTERVAL 7 MINUTE, CAST(ts AS TIMESTAMP), TIMESTAMP '1970-01-01'),
                    '%Y-%m-%d %H:%M:%S') AS bin_start,
           count(*) AS n, round(min(value), 4) AS min_value, round(max(value), 4) AS max_value
    FROM events GROUP BY 1
    """,
)
def date_bin_events(spark, sf_dir):
    """date_bin (gtype_temporal.c date_bin): epoch-aligned 7-minute bins
    — a non-round stride that date_trunc cannot express; floor-divide on
    the epoch keeps it a codegen'd expression."""
    e = t(spark, sf_dir, "events")
    bin_start = F.timestamp_seconds((F.unix_timestamp("ts") / 420).cast("long") * 420)
    return (
        e.groupBy(F.date_format(bin_start, "yyyy-MM-dd HH:mm:ss").alias("bin_start"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
    )


@register(
    "cypher_extended_casts",
    """
    SELECT i,
      CAST(i AS VARCHAR) AS s_i,
      CAST(CAST(i AS VARCHAR) AS BIGINT) AS i_rt,
      CAST(CAST(i AS VARCHAR) || '.25' AS DOUBLE) AS f_p,
      (i % 2 = 0) AS b,
      '\\x' || lower(hex(CAST('v' || CAST(i % 16 AS VARCHAR) AS BLOB))) AS by,
      '00:11:22:33:44:' || right('0' || CAST(i % 100 AS VARCHAR), 2) AS mac,
      '00:11:22:ff:fe:33:44:' || right('0' || CAST(i % 100 AS VARCHAR), 2) AS mac8,
      '10.' || CAST(i % 256 AS VARCHAR) || '.0.1' AS inet,
      '10.' || CAST(i % 256 AS VARCHAR) || '.0.0/24' AS cidr,
      '''common'' ''w' || CAST(i % 7 AS VARCHAR) || '''' AS tsv,
      '''w' || CAST(i % 7 AS VARCHAR) || ''' & ''zz''' AS tsq,
      '[' || CAST(i % 10 AS VARCHAR) || ',' || CAST(i % 10 + 6 AS VARCHAR) || ')' AS irange,
      '(0.5,' || CAST(i % 10 + 1 AS VARCHAR) || '.25]' AS nrange,
      '["2020-01-01","2020-02-01")' AS drange,
      CAST(i AS BIGINT) AS gid
    FROM range(500) t(i)
    """,
)
def cypher_extended_casts(spark, sf_dir):
    """The extended to* cast surface through CYPHER TEXT
    (gtype_typecasting.c; functions/casts.py): bytea, macaddr/macaddr8,
    inet/cidr, tsvector/tsquery, int/num/date ranges with reference
    canonicalization, graphid — 16 cast families in one row, every one
    oracle-checked against DuckDB-constructed canonical text."""
    from postgraph_spark.engine import CypherEngine

    eng = CypherEngine(spark)
    out = eng.execute(
        "UNWIND range(0, 499) AS i "
        "RETURN i, "
        "  toString(i) AS s_i, "
        "  toInteger(toString(i)) AS i_rt, "
        "  toFloat(toString(i) + '.25') AS f_p, "
        "  toBoolean(CASE WHEN i % 2 = 0 THEN 'true' ELSE 'false' END) AS b, "
        "  toBytea('v' + toString(i % 16)) AS by, "
        "  toMacAddr('00-11-22-33-44-' + right('0' + toString(i % 100), 2)) AS mac, "
        "  toMacAddr8('001122' + '3344' + right('0' + toString(i % 100), 2)) AS mac8, "
        "  toInet('10.' + toString(i % 256) + '.0.1') AS inet, "
        "  toCidr('10.' + toString(i % 256) + '.0.0/24') AS cidr, "
        "  toTSVector('w' + toString(i % 7) + ' common w' + toString(i % 7)) AS tsv, "
        "  toTSQuery('w' + toString(i % 7) + ' & zz') AS tsq, "
        "  ('[' + toString(i % 10) + ',' + toString(i % 10 + 5) + ']')::intrange AS irange, "
        "  toNumRange('(0.5, ' + toString(i % 10 + 1) + '.25]') AS nrange, "
        "  toDateRange('[2020-01-01, 2020-02-01)') AS drange, "
        "  toGraphid(i) AS gid"
    )
    return out.select(
        F.col("i")["i"].alias("i"),
        F.col("s_i")["s"].alias("s_i"),
        F.col("i_rt")["i"].alias("i_rt"),
        F.col("f_p")["d"].alias("f_p"),
        F.col("b")["b"].alias("b"),
        F.col("by")["s"].alias("by"),
        F.col("mac")["s"].alias("mac"),
        F.col("mac8")["s"].alias("mac8"),
        F.col("inet")["s"].alias("inet"),
        F.col("cidr")["s"].alias("cidr"),
        F.col("tsv")["s"].alias("tsv"),
        F.col("tsq")["s"].alias("tsq"),
        F.col("irange")["s"].alias("irange"),
        F.col("nrange")["s"].alias("nrange"),
        F.col("drange")["s"].alias("drange"),
        F.col("gid")["i"].alias("gid"),
    )


@register(
    "cypher_kit_funcs",
    """
    SELECT i,
      '10.' || CAST(i % 200 AS VARCHAR) || '.0.' || CAST(i % 50 + 1 AS VARCHAR) AS host,
      24 AS mlen,
      4 AS fam,
      '10.' || CAST(i % 200 AS VARCHAR) || '.0.0/24' AS net,
      '10.' || CAST(i % 200 AS VARCHAR) || '.0.255' AS bcast,
      '10.' || CAST(i % 200 AS VARCHAR) || '.0.' || CAST(i % 50 + 1 AS VARCHAR) || '/16' AS remask,
      round(sqrt(CAST((i % 10) * (i % 10) + 9 AS DOUBLE)), 4) AS l2,
      CAST((i % 10) * 3 AS DOUBLE) AS ip,
      2 AS nd,
      (i % 10 <= 5) AS contained,
      CAST(i % 10 AS BIGINT) AS lo,
      CAST(i % 10 + 6 AS BIGINT) AS hi,
      (i % 10) <= 1 AS isempty_neg,
      (i % 3 = 0) AS ts_hit,
      '''w'' & ''x' || CAST(i % 5 AS VARCHAR) || '''' AS tsq,
      round(sqrt(CAST((i % 10) * (i % 10) + 16 AS DOUBLE)), 4) AS pdist,
      (i % 10) >= 2 AND (i % 10) <= 8 AS in_box
    FROM range(500) t(i)
    """,
)
def cypher_kit_funcs(spark, sf_dir):
    """Network, vector-distance, range, TSEARCH and GEOMETRIC kits
    resolved BY NAME from Cypher text (gtype_network.c 13 fns; vector.c
    11 fns; gtype_range.c ctors/accessors; gtype_tsearch.c `@@`/`&`
    and totsvector/totsquery; geometric point/box/distance/contains):
    every kit exercised through the full parse -> compile path the way
    a reference user would call it."""
    from postgraph_spark.engine import CypherEngine

    eng = CypherEngine(spark)
    out = eng.execute(
        "UNWIND range(0, 499) AS i "
        "WITH i, '10.' + toString(i % 200) + '.0.' + toString(i % 50 + 1) + '/24' AS addr, "
        "     intrange(i % 10, i % 10 + 5, '[]') AS rng "
        "RETURN i, "
        "  host(addr) AS host, "
        "  masklen(addr) AS mlen, "
        "  family(addr) AS fam, "
        "  network(addr) AS net, "
        "  broadcast(addr) AS bcast, "
        "  set_masklen(addr, 16) AS remask, "
        "  round(l2_distance([toFloat(i % 10), 0.0], [0.0, 3.0]), 4) AS l2, "
        "  inner_product([toFloat(i % 10), 2.0], [3.0, 0.0]) AS ip, "
        "  dims([1.0, 2.0]) AS nd, "
        "  range_contains(rng, 5) AS contained, "
        "  lower(rng) AS lo, "
        "  upper(rng) AS hi, "
        "  isempty(toIntRange('(0,' + toString(i % 10) + ')')) AS isempty_neg, "
        "  totsvector('w x' + toString(i % 3)) @@ totsquery('x0 | w & x9') AS ts_hit, "
        "  totsquery('w') & totsquery('x' + toString(i % 5)) AS tsq, "
        "  round(distance(toPoint([toFloat(i % 10), 0.0]), toPoint('(0,4)')), 4) AS pdist, "
        "  box_contains(toBox('(2,-1),(8,1)'), toPoint([toFloat(i % 10), 0.0])) AS in_box"
    )
    return out.select(
        F.col("i")["i"].alias("i"),
        F.col("host")["s"].alias("host"),
        F.col("mlen")["i"].alias("mlen"),
        F.col("fam")["i"].alias("fam"),
        F.col("net")["s"].alias("net"),
        F.col("bcast")["s"].alias("bcast"),
        F.col("remask")["s"].alias("remask"),
        F.col("l2")["d"].alias("l2"),
        F.col("ip")["d"].alias("ip"),
        F.col("nd")["i"].alias("nd"),
        F.col("contained")["b"].alias("contained"),
        F.col("lo")["i"].alias("lo"),
        F.col("hi")["i"].alias("hi"),
        F.col("isempty_neg")["b"].alias("isempty_neg"),
        F.col("ts_hit")["b"].alias("ts_hit"),
        F.col("tsq")["s"].alias("tsq"),
        F.col("pdist")["d"].alias("pdist"),
        F.col("in_box")["b"].alias("in_box"),
    )


@register(
    "geometric_ops",
    """
    WITH p AS (
      SELECT o_orderkey,
             round(o_totalprice % 100, 2) AS px,
             CAST(o_orderkey % 97 AS DOUBLE) AS py
      FROM orders)
    SELECT o_orderkey,
           round(sqrt((px - 50) * (px - 50) + (py - 48) * (py - 48)), 6) AS dist,
           px >= 25 AND px <= 75 AND py >= 25 AND py <= 75 AS in_box,
           round((least(px, 10.0) + 90.0) / 2, 6) AS cx
    FROM p
    """,
)
def geometric_ops(spark, sf_dir):
    """Minimal geometric kit over synthetic coordinates (gtype_geometric.c
    subset, functions/geometric.py): each order maps to a point, tested
    for distance to a fixed anchor, containment in a fixed box, and the
    x-center of its bounding box with a fixed box — all JVM regexp +
    arithmetic on the canonical point/box texts (no UDF; scan + project,
    zero shuffles)."""
    o = t(spark, sf_dir, "orders")
    px = F.round(F.col("o_totalprice") % 100, 2)
    py = (F.col("o_orderkey") % 97).cast("double")
    pt = G.gv_str(
        F.concat(F.lit("("), px.cast("string"), F.lit(","), py.cast("string"), F.lit(")"))
    )
    anchor = G.gv_str(F.lit("(50,48)"))
    box = G.gv_str(F.lit("(75,75),(25,25)"))
    # bounding box of the point's box-with-(10,0)..(90,96) corner pair
    pbox = GEO.geo_bound_box(
        G.gv_str(F.concat(F.lit("("), F.least(px, F.lit(10.0)).cast("string"), F.lit(",0),("),
                          F.least(px, F.lit(10.0)).cast("string"), F.lit(",0)"))),
        G.gv_str(F.lit("(90,96),(90,96)")),
    )
    return o.select(
        "o_orderkey",
        F.round(GEO.geo_distance(pt, anchor)["d"], 6).alias("dist"),
        GEO.geo_box_contains(box, pt)["b"].alias("in_box"),
        F.round(GEO.geo_center(pbox)["s"].substr(F.lit(2), F.instr(GEO.geo_center(pbox)["s"], ",") - 2).cast("double"), 6).alias("cx"),
    )


@register(
    "pg_expr_forms",
    """
    SELECT i,
      i % 100 BETWEEN 25 AND 75 AS in_rng,
      i % 100 BETWEEN 25 AND 75 AS sym_rng,
      (i % 10) NOT BETWEEN 3 AND 8 AS out_rng,
      (i % 10) IS DISTINCT FROM (i % 7) AS dfrom,
      COALESCE((i % 10) > 5, FALSE) AS gt5,
      (CASE WHEN i % 10 = 0 THEN NULL ELSE (i % 10) > 3 END) IS NULL AS unk,
      regexp_matches('s' || CAST(i % 7 AS VARCHAR), '^(?:s(1|2|3))$') AS sim,
      (i % 10) NOT IN (2, 4, 6) AS nin
    FROM range(500) t(i)
    """,
)
def pg_expr_forms(spark, sf_dir):
    """PG expression-grammar forms from Cypher text (cypher_gram.y
    a_expr: BETWEEN [A]SYMMETRIC g.y:13943-13989, IS [NOT] DISTINCT
    FROM g.y:13935, BooleanTest g.y:13887, [NOT] SIMILAR TO g.y:13804,
    NOT IN g.y:14006) — all desugared at parse/compile time to JVM
    comparison conjunctions and regexps (scan + project, zero
    shuffles). The DuckDB oracle expresses SIMILAR as an anchored
    regexp (DuckDB's own SIMILAR TO is plain POSIX, a different
    dialect) and IS TRUE as COALESCE (not in DuckDB's grammar)."""
    from postgraph_spark.engine import CypherEngine

    eng = CypherEngine(spark)
    out = eng.execute(
        "UNWIND range(0, 499) AS i "
        "WITH i, i % 10 AS m "
        "RETURN i, "
        "  i % 100 BETWEEN 25 AND 75 AS in_rng, "
        "  i % 100 BETWEEN SYMMETRIC 75 AND 25 AS sym_rng, "
        "  m NOT BETWEEN 3 AND 8 AS out_rng, "
        "  m IS DISTINCT FROM i % 7 AS dfrom, "
        "  (m > 5) IS TRUE AS gt5, "
        "  (CASE WHEN m = 0 THEN null ELSE m > 3 END) IS UNKNOWN AS unk, "
        "  's' + toString(i % 7) SIMILAR TO 's(1|2|3)' AS sim, "
        "  m NOT IN [2, 4, 6] AS nin"
    )
    return out.select(
        F.col("i")["i"].alias("i"),
        F.col("in_rng")["b"].alias("in_rng"),
        F.col("sym_rng")["b"].alias("sym_rng"),
        F.col("out_rng")["b"].alias("out_rng"),
        F.col("dfrom")["b"].alias("dfrom"),
        F.col("gt5")["b"].alias("gt5"),
        F.col("unk")["b"].alias("unk"),
        F.col("sim")["b"].alias("sim"),
        F.col("nin")["b"].alias("nin"),
    )


@register(
    "geometric_kit_full",
    """
    SELECT i,
      round(sqrt(CAST((i%10+1)*(i%10+1) + (i%7+1)*(i%7+1) AS DOUBLE)), 6) AS seg_len,
      round(pi() * (i%5+1) * (i%5+1), 6) AS circ_area,
      CAST((i%4+1)*(i%4+1) AS DOUBLE) AS poly_area,
      (i%10) <= (i%5+1) AS c_has,
      '(' || CAST(i%10 AS VARCHAR) || ',5)' AS cp,
      '(' || CAST(i%6 AS VARCHAR) || ',' || CAST(i%6 AS VARCHAR) || ')' AS ip,
      (i%3) = (i%2) AS horiz,
      CAST(4 AS BIGINT) AS np,
      '(' || (CASE WHEN (i%4+1)%2=0 THEN CAST((i%4+1)//2 AS VARCHAR)
                   ELSE CAST((i%4+1)/2.0 AS VARCHAR) END)
          || ',' ||
             (CASE WHEN (i%4+1)%2=0 THEN CAST((i%4+1)//2 AS VARCHAR)
                   ELSE CAST((i%4+1)/2.0 AS VARCHAR) END) || ')' AS pc
    FROM range(200) t(i)
    """,
)
def geometric_kit_full(spark, sf_dir):
    """FULL geometric kit resolved by name from Cypher text
    (gtype_geometric.c 11-fn surface + construction casts,
    functions/geometric.py): lseg/path length (`@-@`), circle and
    polygon area, circle containment, closest_point (`##`),
    line-line intersection_point (`#`), horizontal (`?-`), npoints,
    polygon center (`@@`) — all JVM regexp/array expressions over the
    canonical shape texts (scan + project, zero shuffles, no UDF)."""
    from postgraph_spark.engine import CypherEngine

    eng = CypherEngine(spark)
    out = eng.execute(
        "UNWIND range(0, 199) AS i "
        "WITH i, "
        "  toLseg('[(0,0),(' + toString(i % 10 + 1) + ',' + toString(i % 7 + 1) + ')]') AS seg, "
        "  toCircle('<(0,0),' + toString(i % 5 + 1) + '>') AS circ, "
        "  toPolygon('((0,0),(' + toString(i % 4 + 1) + ',0),(' + toString(i % 4 + 1) + ',' "
        "            + toString(i % 4 + 1) + '),(0,' + toString(i % 4 + 1) + '))') AS poly "
        "RETURN i, "
        "  round(distance(seg), 6) AS seg_len, "
        "  round(area(circ), 6) AS circ_area, "
        "  area(poly) AS poly_area, "
        "  geo_contains(circ, toPoint('(' + toString(i % 10) + ',0)')) AS c_has, "
        "  closest_point(toPoint('(' + toString(i % 10) + ',0)'), toLseg('[(0,5),(10,5)]')) AS cp, "
        "  intersection_point(toLine('{1,-1,0}'), "
        "                     toLine('{1,1,-' + toString(2 * (i % 6)) + '}')) AS ip, "
        "  horizontal(toLseg('[(0,' + toString(i % 3) + '),(5,' + toString(i % 2) + ')]')) AS horiz, "
        "  npoints(poly) AS np, "
        "  center(poly) AS pc"
    )
    return out.select(
        F.col("i")["i"].alias("i"),
        F.col("seg_len")["d"].alias("seg_len"),
        F.col("circ_area")["d"].alias("circ_area"),
        F.col("poly_area")["d"].alias("poly_area"),
        F.col("c_has")["b"].alias("c_has"),
        F.col("cp")["s"].alias("cp"),
        F.col("ip")["s"].alias("ip"),
        F.col("horiz")["b"].alias("horiz"),
        F.col("np")["i"].alias("np"),
        F.col("pc")["s"].alias("pc"),
    )


# -- round 8: operator SPELLINGS under the driver oracle ------------------

_EMB_GRAPH_CACHE: dict = {}


def _emb_graph(spark, sf_dir):
    """Embeddings projected as `emb` vertices ({vec_id, embedding}).
    float32 embeddings are widened to double BEFORE the VARIANT
    projection: shortest-repr doubles round-trip exactly, so the Cypher
    path sees bit-identical values to DuckDB's CAST(embedding AS
    DOUBLE[]) (a float32's shortest repr parsed as double does NOT equal
    its widening — the classic cross-engine trap)."""
    import os

    from postgraph_spark.graph import EDGE_SCHEMA, ENTRY_ID_BITS, Graph

    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    if key not in _EMB_GRAPH_CACHE:
        df = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        ps = F.struct(
            F.col("vec_id"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding"),
        )
        verts = df.select(
            (F.lit(1 << ENTRY_ID_BITS).cast("long") + F.col("vec_id").cast("long")).alias("id"),
            F.lit("emb").alias("label"),
            F.to_variant_object(ps).alias("pv"),
        )
        edges = spark.createDataFrame([], EDGE_SCHEMA)
        _EMB_GRAPH_CACHE[key] = Graph("embgraph", verts, edges, {"emb": 1})
    return _EMB_GRAPH_CACHE[key]


@register(
    "vector_ops_topk",
    """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
    SELECT e.vec_id AS n,
           round(list_distance(qv, e.v), 4) AS l2,
           round(1.0 - list_cosine_similarity(qv, e.v), 4) AS cos_dist,
           round(-list_inner_product(qv, e.v), 4) AS nip
    FROM e CROSS JOIN q WHERE e.vec_id <> 0
    ORDER BY l2, n
    LIMIT 10
    """,
)
def vector_ops_topk(spark, sf_dir):
    """The pgvector-style query shape through the vector distance
    OPERATOR spellings (postgraph-gtype.sql.in:140-167; vector.c
    l2_distance/cosine_distance/negative_inner_product; round-7 verdict
    #2): `ORDER BY q.embedding <-> n.embedding LIMIT k` with `<=>` and
    `<#>` in the projection. `<->` runtime-dispatches vector-l2 vs
    tsquery-phrase the way the reference's l2_distance C function does
    (vector.c:285-350). Ordering by the ROUNDED distance + vec_id keeps
    the top-k set deterministic across engines."""
    from postgraph_spark.engine import CypherEngine

    eng = CypherEngine(spark)
    eng.catalog.register(_emb_graph(spark, sf_dir))
    out = eng.execute(
        # the query vector binds through the pattern property map — a
        # SCAN-side filter (1 row) before the cross join, so the product
        # is 1 x N, never N x N
        "MATCH (q:emb {vec_id: 0}), (n:emb) WHERE n.vec_id <> 0 "
        "RETURN n.vec_id AS n, "
        "  round(q.embedding <-> n.embedding, 4) AS l2, "
        "  round(q.embedding <=> n.embedding, 4) AS cos_dist, "
        "  round(q.embedding <#> n.embedding, 4) AS nip "
        "ORDER BY l2, n LIMIT 10"
    )
    return out.select(
        F.col("n")["i"].alias("n"),
        F.col("l2")["d"].alias("l2"),
        F.col("cos_dist")["d"].alias("cos_dist"),
        F.col("nip")["d"].alias("nip"),
    )


@register(
    "network_ops",
    """
    SELECT k,
      (k % 200) = (k % 100) AS in_strict,
      (k % 200) = (k % 100) AS in_eq,
      (k % 200) = (k % 100) AS sup_strict,
      (k % 200) = (k % 100) AS sup_eq,
      (k % 200) = (k % 100) AS overlap,
      true AS self_eq,
      false AS self_strict,
      false AS cross_family
    FROM range(1, 401) t(k)
    """,
)
def network_ops(spark, sf_dir):
    """inet subnet OPERATORS `<< <<= >> >>= &&` (gtype_ops.c:756-827,
    old/regress/network.sql:232-264; round-7 verdict #3) through the
    full Cypher text path: each k builds a /32 host and a /16 network
    whose containment holds iff k % 200 == k % 100, plus
    same-network (equal: <<= true, << false) and cross-family (IPv6 vs
    IPv4: false, not error) cases. The oracle recomputes the expected
    booleans arithmetically."""
    from postgraph_spark.engine import CypherEngine

    eng = CypherEngine(spark)
    out = eng.execute(
        "UNWIND range(1, 400) AS k "
        "WITH k, "
        "  '10.' + toString(k % 200) + '.1.5' AS ip, "
        "  '10.' + toString(k % 100) + '.0.0/16' AS net "
        "RETURN k, "
        "  ip << net AS in_strict, "
        "  ip <<= net AS in_eq, "
        "  net >> ip AS sup_strict, "
        "  net >>= ip AS sup_eq, "
        "  net && ip AS overlap, "
        "  net <<= net AS self_eq, "
        "  net << net AS self_strict, "
        "  '::1' << net AS cross_family"
    )
    return out.select(
        F.col("k")["i"].alias("k"),
        F.col("in_strict")["b"].alias("in_strict"),
        F.col("in_eq")["b"].alias("in_eq"),
        F.col("sup_strict")["b"].alias("sup_strict"),
        F.col("sup_eq")["b"].alias("sup_eq"),
        F.col("overlap")["b"].alias("overlap"),
        F.col("self_eq")["b"].alias("self_eq"),
        F.col("self_strict")["b"].alias("self_strict"),
        F.col("cross_family")["b"].alias("cross_family"),
    )


@register(
    "expr_operator_forms",
    """
    SELECT o_orderkey AS k,
      o_orderpriority LIKE '%URGENT' AS like_t,
      o_orderpriority ILIKE '2-h%' AS ilike_t,
      o_orderpriority NOT LIKE '1%' AS nlike_t,
      regexp_full_match(o_orderstatus, '[OF]') AS re_full,
      regexp_matches(o_orderpriority, 'URG') AS re_part,
      CAST(((o_orderkey % 16) & 12) | 5 AS BIGINT) AS bits,
      ((o_orderkey % 2 = 0) <> (o_orderkey % 3 = 0)) AS xor_bool,
      coalesce(NULL, o_orderstatus, 'x') AS coal,
      CAST(EXTRACT(year FROM CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS yr,
      CAST(EXTRACT(month FROM CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS mo
    FROM orders WHERE o_orderkey < 3000
    """,
)
def expr_operator_forms(spark, sf_dir):
    """Consolidated expression-operator surface through the full Cypher
    path (pins several §2 rows previously checked only in pytest):
    LIKE/ILIKE/NOT LIKE (gtype_string.c:163-190), anchored `=~` vs
    match-anywhere `~` (gtype_eq_tilde vs PG regex ops, :193-227),
    integer bitwise `& |` and the `^`-free XOR (3VL boolean), COALESCE,
    EXTRACT over timestamps. Pure scan + project, zero shuffles; the
    oracle spells XOR on ints with DuckDB's xor() and anchored =~ with
    regexp_full_match."""
    from postgraph_spark.engine import CypherEngine
    from postgraph_spark.graph import tpch_graph

    eng = CypherEngine(spark)
    eng.catalog.register(tpch_graph(spark, sf_dir))
    out = eng.execute(
        "MATCH (o:orders) WHERE o.o_orderkey < 3000 "
        "RETURN o.o_orderkey AS k, "
        "  o.o_orderpriority LIKE '%URGENT' AS like_t, "
        "  o.o_orderpriority ILIKE '2-h%' AS ilike_t, "
        "  o.o_orderpriority NOT LIKE '1%' AS nlike_t, "
        "  o.o_orderstatus =~ '[OF]' AS re_full, "
        "  o.o_orderpriority ~ 'URG' AS re_part, "
        "  (o.o_orderkey % 16 & 12 | 5) AS bits, "
        "  (o.o_orderkey % 2 = 0) XOR (o.o_orderkey % 3 = 0) AS xor_bool, "
        "  coalesce(null, o.o_orderstatus, 'x') AS coal, "
        "  EXTRACT(year FROM o.o_orderdate) AS yr, "
        "  EXTRACT(month FROM o.o_orderdate) AS mo"
    )
    return out.select(
        F.col("k")["i"].alias("k"),
        F.col("like_t")["b"].alias("like_t"),
        F.col("ilike_t")["b"].alias("ilike_t"),
        F.col("nlike_t")["b"].alias("nlike_t"),
        F.col("re_full")["b"].alias("re_full"),
        F.col("re_part")["b"].alias("re_part"),
        F.col("bits")["i"].alias("bits"),
        F.col("xor_bool")["b"].alias("xor_bool"),
        F.col("coal")["s"].alias("coal"),
        F.col("yr")["i"].alias("yr"),
        F.col("mo")["i"].alias("mo"),
    )
