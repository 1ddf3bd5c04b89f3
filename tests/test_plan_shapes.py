"""Plan-shape regression tests — the scale properties the engine
promises (predicate pushdown through joins, no unguarded cartesians)
asserted against the OPTIMIZED plan, not timings."""

import re

import pytest

from postgraph_spark.engine import CypherEngine


@pytest.fixture(scope="module")
def engine(spark):
    e = CypherEngine(spark)
    e.execute("CREATE GRAPH shapes")
    e.execute("USE GRAPH shapes")
    pats = ", ".join(f"(:a {{x: {i}}}), (:b {{y: {i}}})" for i in range(6))
    e.execute(f"CREATE {pats}")
    return e


def optimized(engine, q):
    return engine.execute(q)._jdf.queryExecution().optimizedPlan().toString()


def test_and_conjuncts_push_below_cross_join(engine):
    """round-8: MATCH (a), (b) WHERE a.x = 1 AND b.y = 2 must filter
    each side BEFORE the join (the 3VL AND kernel used to lock both
    conjuncts above it, keeping an N x N cartesian)."""
    plan = optimized(
        engine,
        "MATCH (n:a), (m:b) WHERE n.x = 1 AND m.y = 2 RETURN n.x AS x, m.y AS y",
    )
    join_pos = plan.find("Join")
    assert join_pos != -1
    below = plan[join_pos:]
    # both sides carry their own Filter below the join
    assert below.count("Filter") >= 2, plan


def test_single_sided_where_pushes(engine):
    plan = optimized(
        engine, "MATCH (n:a), (m:b) WHERE n.x = 3 RETURN count(*) AS c"
    )
    join_pos = plan.find("Join")
    below = plan[join_pos:]
    assert "Filter" in below, plan


def test_values_and_results_match(engine):
    # semantics: the split must not change 3VL outcomes
    assert engine.fetch_values(
        "MATCH (n:a), (m:b) WHERE n.x = 1 AND m.y = 2 RETURN count(*) AS c"
    ) == [1]
    # null conjunct -> unknown -> row filtered (never true)
    assert engine.fetch_values(
        "MATCH (n:a) WHERE n.x = 1 AND n.missing = 1 RETURN count(*) AS c"
    ) == [0]
    assert engine.fetch_values(
        "MATCH (n:a) WHERE n.x >= 0 AND NOT (n.missing = 1) RETURN count(*) AS c"
    ) == [0]


def test_entity_documents_are_read_from_the_variant(engine):
    """keys(n) and a property read after WITH DISTINCT read the entity's
    pv VARIANT: neither plan renders the document to JSON text or parses
    text back."""
    for q in ("MATCH (n:a) RETURN keys(n) AS k", "MATCH (n:a) WITH DISTINCT n RETURN n.x AS x"):
        plan = optimized(engine, q)
        for op in ("jsonObjectKeys", "parseJson", "StructsToJsonEvaluator(Map(),VariantType"):
            assert op not in plan, (q, op, plan)


# ------------------------- round-9 operator plan shapes (sf0.001 data)

SF = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bm25_plan_shape(spark):
    """bm25: the query-term table joins BROADCAST (never shuffles the
    postings on it) and no CartesianProduct appears anywhere."""
    from postgraph_spark.queries.llm_ops import bm25_topk

    plan = _physical(bm25_topk(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_label_prop_no_cartesian(spark):
    from postgraph_spark.queries.llm_ops import label_prop_communities

    plan = _physical(label_prop_communities(spark, SF))
    assert "CartesianProduct" not in plan


def test_vle_deep_no_cartesian(spark):
    from postgraph_spark.queries.graph_queries import graph_vle_deep

    plan = _physical(graph_vle_deep(spark, SF))
    assert "CartesianProduct" not in plan


def test_perplexity_threshold_path_no_global_window(spark):
    """the scale path must contain NO partitionless window (the global
    ntile was the tree's only one; round-8 verdict #1)."""
    from postgraph_spark.queries.llm_ops import perplexity_buckets

    plan = _physical(perplexity_buckets(spark, SF, exact_max=0))
    assert "Window" not in plan, plan


def test_gopher_filter_pure_projection(spark):
    """the rule gate is one narrow map-side projection: no key shuffle
    (the only allowed Exchange is _spread's round-robin widening of a
    single-file local input — a no-op at scale), no Python."""
    from postgraph_spark.queries.llm_ops import gopher_quality_filter

    plan = _physical(gopher_quality_filter(spark, SF))
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_pack_sequences_bounded_window(spark):
    """the packing cumsum must be a PARTITIONED window whose corpus-side
    key includes the pack_shard sub-shard (source alone is fixed-
    cardinality — 1/20 of the corpus in one task at any scale). The
    shard-base prefix sum over the tiny per-shard totals table may
    window on source alone."""
    from postgraph_spark.queries.llm_ops import pack_sequences

    df = pack_sequences(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    win_lines = [
        line for line in opt.splitlines() if "windowspecdefinition" in line.lower()
    ]
    assert win_lines, opt  # the window must not be rewritten away silently
    for line in win_lines:
        assert "source" in line, line  # partition key present
    corpus_wins = [line for line in win_lines if "n_tok" in line]
    assert corpus_wins, opt
    for line in corpus_wins:
        assert "pack_shard" in line, line  # bounded sub-shard key present
    assert "broadcast" in opt.lower(), opt  # shard bases broadcast back


def test_pmi_no_cartesian_and_broadcast_marginals(spark):
    from postgraph_spark.queries.llm_ops import pmi_cooccurrence

    plan = _physical(pmi_cooccurrence(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_hits_no_cartesian(spark):
    from postgraph_spark.queries.llm_ops import hits_dupgraph

    plan = _physical(hits_dupgraph(spark, SF))
    assert "CartesianProduct" not in plan


def test_semdedup_no_cartesian(spark):
    from postgraph_spark.queries.llm_ops import semdedup_prune

    plan = _physical(semdedup_prune(spark, SF))
    assert "CartesianProduct" not in plan


def test_dsir_broadcast_model_no_corpus_join_shuffle(spark):
    """the DSIR bucket-stats table is capped at B=1024 rows, so the
    scoring join must be a broadcast — the corpus-side token stream
    never shuffles for the model (only the final per-doc agg does)."""
    from postgraph_spark.queries.llm_ops import dsir_importance

    plan = _physical(dsir_importance(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan


def test_source_kl_broadcast_totals_no_cartesian(spark):
    """source totals (source-cardinality) and the corpus total (1 row)
    must broadcast back; the only corpus-scale shuffle is the
    (source, word) count."""
    from postgraph_spark.queries.llm_ops import source_kl_unigram

    plan = _physical(source_kl_unigram(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_adamic_adar_no_cartesian(spark):
    from postgraph_spark.queries.llm_ops import adamic_adar_linkpred

    plan = _physical(adamic_adar_linkpred(spark, SF))
    assert "CartesianProduct" not in plan


def test_lang_temperature_broadcast_rates(spark):
    """acceptance must be a broadcast of the tiny per-language rate
    table against the corpus — never a sort-merge join."""
    from postgraph_spark.queries.llm_ops import lang_temperature_sample

    plan = _physical(lang_temperature_sample(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_char_entropy_no_python(spark):
    """the entropy signal is pure JVM aggregation — no Python workers
    in the plan."""
    from postgraph_spark.queries.llm_ops import char_entropy_quality

    plan = _physical(char_entropy_quality(spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


# ------------------------- round-11 operator plan shapes


def test_exactsubstr_bucketed_not_all_pairs(spark):
    """ExactSubstr is a gram-keyed partial agg + equi-join + DOC-
    partitioned island windows — never an all-pairs doc join, never a
    partitionless window."""
    from postgraph_spark.queries.llm_ops import exactsubstr_spans

    df = exactsubstr_spans(spark, SF)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    win_lines = [
        line for line in opt.splitlines() if "windowspecdefinition" in line.lower()
    ]
    assert win_lines, opt  # island merge must window, not sort globally
    for line in win_lines:
        assert "id" in line, line  # doc-partitioned


def test_adamic_adar_capped_adjacency_windows_are_keyed(spark, monkeypatch):
    """the round-11 caps add row_number windows — each must be KEYED
    (bucket / vertex), never partitionless. The round-11 lineage cuts
    (localCheckpoint on the bounded capped tables) would hide the cap
    subtrees behind LogicalRDD leaves, so checkpointing is neutralized
    for this structural check — the UNCUT plan is what carries the
    windows the caps compile to."""
    from postgraph_spark.queries.llm_ops import adamic_adar_linkpred

    cls = type(spark.range(1))  # the concrete (classic) DataFrame class
    monkeypatch.setattr(cls, "localCheckpoint", lambda self, eager=True: self)
    df = adamic_adar_linkpred(spark, SF)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    win_lines = [
        line for line in opt.splitlines() if "windowspecdefinition" in line.lower()
    ]
    assert win_lines, opt  # the caps must survive optimization
    for line in win_lines:
        # every cap window carries a partition key column
        assert ("w#" in line) or ("s#" in line) or ("d#" in line), line


# ------------------- durable graphs: stored pv + an extended catalog


def test_durable_point_lookup_parses_nothing_and_codegens(spark, tmp_path):
    """A bulk-loaded durable graph, after one SET, answers a property
    point lookup from the stored pv VARIANT with typed extraction: no
    parse_json and no schema_of_variant dispatch in the optimized plan,
    and the executed plan runs whole-stage codegen'd (with the codegen
    fallback off, a stage whose generated code fails to compile would
    raise instead of quietly running interpreted)."""
    from pyspark.sql import functions as F

    from postgraph_spark.graph import GraphCatalog
    from postgraph_spark.sources.loader import load_vertices

    eng = CypherEngine(spark, GraphCatalog(spark, root=str(tmp_path)))
    eng.execute("CREATE GRAPH durable_shapes")
    eng.execute("USE GRAPH durable_shapes")
    customers = spark.range(1, 41).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("cust-"), F.col("id").cast("string")).alias("c_name"),
        (F.col("id") * 1.25).alias("c_acctbal"),
    )
    load_vertices(eng.graph, "customer", customers, id_col="c_custkey")
    eng.execute("MATCH (c:customer {c_custkey: 3}) SET c.c_acctbal = 99.5")

    df = eng.execute("MATCH (c:customer {c_custkey: 7}) RETURN c.c_acctbal")
    # the optimized plan names both as static invokes (parseJson,
    # schemaOfVariant); the SQL names have underscores
    opt = df._jdf.queryExecution().optimizedPlan().toString().lower().replace("_", "")
    assert "parsejson" not in opt, opt
    assert "schemaofvariant" not in opt, opt
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = df.collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
    assert [r[0]["d"] for r in rows] == [8.75]
    assert "*(" in _physical(df), _physical(df)  # *(n) marks a codegen stage


def _filters_reading(df, key: str) -> list[str]:
    """The optimized plan's Filter conditions that read property `key`."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [ln for ln in plan.splitlines() if "Filter " in ln and f"$.{key}" in ln]


def test_typed_property_predicates_compare_natively(spark, tmp_path):
    """A catalog-typed property compared with a literal reads the
    property once, as one typed try_variant_get compared as a plain SQL
    value: no variant-typed extraction and no CASE over the gval tag.
    Both bounds of a range (the second an int `+` of two literals) read
    it that way."""
    from pyspark.sql import functions as F

    from postgraph_spark.graph import GraphCatalog
    from postgraph_spark.sources.loader import load_edges, load_vertices

    eng = CypherEngine(spark, GraphCatalog(spark, root=str(tmp_path)))
    eng.execute("CREATE GRAPH native_shapes")
    eng.execute("USE GRAPH native_shapes")
    g = eng.graph
    customers = spark.range(1, 41).select(F.col("id").alias("c_custkey"))
    orders = spark.range(1, 81).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 40 + 1).alias("o_custkey")
    )
    load_vertices(g, "customer", customers, id_col="c_custkey")
    load_vertices(g, "orders", orders, id_col="o_orderkey", props_cols=["o_orderkey"])
    load_edges(g, "placed", orders, "o_custkey", "o_orderkey", "customer", "orders", props_cols=[])

    point = "MATCH (c:customer {c_custkey: 7}) RETURN count(c)"
    ranged = (
        "MATCH (c:customer)-[:placed]->(o:orders) "
        "WHERE c.c_custkey >= 7 AND c.c_custkey < 7 + 25 "
        "WITH c.c_custkey AS key, count(o) AS n ORDER BY n DESC, key LIMIT 5 RETURN key, n"
    )
    for text, reads in ((point, 1), (ranged, 2)):
        (cond,) = _filters_reading(eng.execute(text), "c_custkey")
        assert cond.count("$.c_custkey") == reads, cond
        assert cond.count("$.c_custkey, LongType") == reads, cond
        assert "CASE WHEN" not in cond and "VariantType" not in cond, cond
    assert eng.fetch(point) == [(1,)]
    assert eng.fetch(ranged) == [(k, 2) for k in range(7, 12)]


def test_unwind_ends_selective_broadcast(engine):
    """The broadcast hint for a property-filtered comma-pattern side only
    holds while the accumulated rows ARE that filtered scan: after an
    UNWIND fans them out (and a WITH projects them), a later MATCH must
    not broadcast the accumulated side."""
    plan = optimized(
        engine,
        "MATCH (q:a {x: 1}) UNWIND range(1, 1000) AS i WITH q, i "
        "MATCH (n:b) RETURN q.x AS x, i, n.y AS y",
    )
    assert "leftHint=(strategy=broadcast)" not in plan, plan


def test_vector_ops_topk_broadcasts_query_vector(spark):
    """round-12 verdict: MATCH (q:emb {vec_id: 0}), (n:emb) must never
    plan as a CartesianProduct; the one-row q side is broadcast into a
    nested-loop join with the N-row scan."""
    from postgraph_spark.queries.reference_funcs import vector_ops_topk
    from tests.conftest import SF_DIR

    df = vector_ops_topk(spark, SF_DIR)
    df.collect()  # the executed plan after AQE's re-planning
    plan = _physical(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    # the broadcast side is the projection that binds q
    bound = re.findall(r"BroadcastExchange .*\n.*Project \[.* AS (\w+)#", plan)
    assert bound and set(bound) == {"q"}, plan
