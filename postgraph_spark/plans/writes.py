"""Cypher write clauses: CREATE / SET / REMOVE / DELETE / MERGE.

The reference executes writes as CustomScan nodes pulling from the child
plan (cypher_create.c:103-571, cypher_set.c:100-188, cypher_delete.c:246-480,
cypher_merge.c:199-430): each matched row drives an insert/update/delete
against the label heap tables, and the written entities remain visible to
later clauses of the same statement.

Spark design: the clause pipeline stays a DataFrame; a write clause
  1. computes the new/updated/deleted entity rows AS COLUMNS of the pipeline
     DataFrame (so later clauses including RETURN see the post-write state),
  2. applies the delta to the graph's backing tables as a distributed
     union / join-update / anti-join (the in-memory analog of Delta
     append / MERGE INTO / DELETE). Created rows — every CREATE, MERGE
     miss and bulk load (sources/loader.py) — commit through the one
     Graph.append_rows,
  3. numbers the rows it creates from a pinned copy of its input
     (with_rowid), so lineage replay never re-allocates an id.

Id allocation mirrors the per-label sequences (label_commands.c:563-583):
a base entry-id is reserved per statement and per-row ids are
`base + row number` — partition offsets over the pinned rows, not a
driver-side loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from postgraph_spark.functions import gtype as G
from postgraph_spark.graph import EDGE_SCHEMA, ENTRY_ID_BITS, VERTEX_SCHEMA, Graph, stored
from postgraph_spark.plans import ast as A
from postgraph_spark.plans.compiler import (
    Compiler,
    CompileError,
    Scope,
    VKIND_EDGE,
    VKIND_VERTEX,
)

DEFAULT_VLABEL = "_ag_label_vertex"
DEFAULT_ELABEL = "_ag_label_edge"

#: monotonically_increasing_id keeps the row within its partition in
#: the low 33 bits, the partition index above them
_MID_ROW_BITS = 33


def with_rowid(df: DataFrame) -> tuple[DataFrame, int]:
    """0..n-1 row ids (``__rn``) over df's rows, which are evaluated
    ONCE: the rows are pinned (localCheckpoint) beside
    monotonically_increasing_id (partition << 33 | row within it), so
    counting and numbering read the same rows however the input would
    re-plan. One count-per-partition job over the pinned rows gives n
    and each partition's offset; an id is then `offset(partition) + row
    within it` — no global single-partition window, so a CREATE or bulk
    load fed by a huge scan keeps all partitions working. Returns
    (pinned df, n_rows); n sizes the id-sequence reservation
    (label_commands.c:563-583). Shared by WriteRunner (CREATE/MERGE)
    and the bulk loader (sources/loader.py), which add every created
    column (properties included) to df BEFORE numbering it, so this one
    pin fixes their values: a nondeterministic expression (now(), rand())
    is not re-run by each job of the commit."""
    mid = F.col("__mid")
    pid = F.shiftright(mid, _MID_ROW_BITS)
    df = df.drop("__rn").withColumn("__mid", F.monotonically_increasing_id()).localCheckpoint(
        eager=True
    )
    off, n = {}, 0
    for r in sorted(df.groupBy(pid.alias("p")).count().collect()):
        off[r["p"]], n = n, n + r["count"]
    # no rows: a type-stable map nothing reads
    base = F.create_map(*[F.lit(x) for kv in (off or {0: 0}).items() for x in kv])[pid]
    # a partition missing from the map must FAIL the statement, not
    # commit null ids: assert_true returns NULL when the check passes,
    # raises when it does not, so the coalesce passes through
    base = F.coalesce(F.assert_true(base.isNotNull()).cast("long"), base)
    rn = base + mid.bitwiseAND(F.lit((1 << _MID_ROW_BITS) - 1))
    # the pinned rows keep the input's partitions, mostly empty when the
    # input is a label scan of a wide table: merge them (no shuffle) so
    # an appended batch does not widen its table by that many partitions
    return df.coalesce(max(len(off), 1)).withColumn("__rn", rn).drop("__mid"), n


def rowid_graphid(label_id: int, first_entry: int) -> Column:
    """Graphids for rows numbered by with_rowid: entry ids
    first_entry + __rn of the range Graph.alloc_entry_ids reserved."""
    return F.lit(label_id << ENTRY_ID_BITS).cast("long") + F.lit(first_entry) + F.col("__rn")


def _entity_struct(schema, base: Column | None = None, **given: Column) -> Column:
    """An entity value as a scan binds it, a row of the `schema` table:
    each field from `given`, else from the entity value `base`."""
    return F.struct(*[(given[f] if f in given else base[f]).alias(f) for f in schema.fieldNames()])


def _entity_rows(df: DataFrame, structs: list[Column], schema) -> DataFrame | None:
    """Stored table rows of the entity structs of each row of df (None
    when there are none)."""
    if not structs:
        return None
    return df.select(F.explode(F.array(*structs)).alias("__r")).select(
        *[f"__r.{f}" for f in schema.fieldNames()]
    )


def _doc_map(doc: Column) -> Column:
    """A document as map<string, variant>, for editing inside the
    variant; a null or non-object value is an empty map."""
    empty = F.variant_get(G.variant_object({}), "$", "map<string,variant>")
    return F.coalesce(F.try_variant_get(doc, "$", "map<string,variant>"), empty)


def _free_vars(e, out: set) -> set:
    """The variables an expression reads (adds them to out)."""
    if isinstance(e, A.Var):
        out.add(e.name)
    elif isinstance(e, A.Prop):
        _free_vars(e.base, out)
    elif isinstance(e, (A.BinOp, A.DistinctFrom)):
        _free_vars(e.left, out)
        _free_vars(e.right, out)
    elif isinstance(e, (A.UnaryOp, A.IsNull, A.BoolTest, A.Cast)):
        _free_vars(e.operand, out)
    elif isinstance(e, A.FuncCall):
        for a in e.args:
            _free_vars(a, out)
    elif isinstance(e, (A.Index, A.Slice)):
        _free_vars(e.base, out)
    return out


def is_write_clause(c) -> bool:
    return isinstance(c, (A.CreateClause, A.SetClause, A.DeleteClause, A.MergeClause))


class WriteRunner:
    """Executes a SingleQuery that contains write clauses."""

    def __init__(self, spark: SparkSession, graph: Graph):
        self.spark = spark
        self.graph = graph
        self.comp = Compiler(spark, graph)
        self._anon = 0

    # ------------------------------------------------------------- driver

    def run(self, q: A.SingleQuery) -> DataFrame | None:
        df: DataFrame | None = None
        scope = Scope()
        result: DataFrame | None = None
        for clause in q.clauses:
            if isinstance(clause, A.CreateClause):
                df, scope = self.do_create(clause, df, scope)
            elif isinstance(clause, A.SetClause):
                df = self.do_set(clause, df, scope)
            elif isinstance(clause, A.DeleteClause):
                self.do_delete(clause, df, scope)
            elif isinstance(clause, A.MergeClause):
                df, scope = self.do_merge(clause, df, scope)
            elif isinstance(clause, A.ReturnClause):
                result, scope = self.comp.compile_projection(clause, df, scope)
            else:
                df, scope = self.comp.compile_clause(clause, df, scope)
        return result

    # ------------------------------------------------------------ helpers

    def _fresh(self, prefix: str) -> str:
        self._anon += 1
        return f"__{prefix}{self._anon}"

    def _props_variant(self, props: A.MapLit | None, df, scope, given=None) -> Column:
        """A property map -> its VARIANT document, each value a typed
        variant (G.to_variant) — the one builder of the documents CREATE,
        MERGE and `SET +=` write. `given` adds keys whose variants are
        already built (MERGE's correlated values)."""
        values = {
            k: G.to_variant(self.comp.compile_expr(vexpr, df, scope))
            for k, vexpr in (props.items.items() if props else ())
        }
        return G.variant_object({**values, **(given or {})})

    # ------------------------------------------------------------- CREATE

    def do_create(self, c: A.CreateClause, df, scope: Scope):
        """Row-wise CREATE: every input row creates the pattern's unbound
        entities (cypher_create.c:332-540 create_vertex_1/create_edge_1).
        A CREATE that opens the statement runs once, on a one-row input.
        Variables bound by an earlier clause are the same entities here.
        Property maps are evaluated over the clause's input, before the
        rows are numbered and pinned, so RETURN, the in-memory table and
        the durable append all read one value of each: a property may
        not reference an entity this clause creates (Neo4j's rule)."""
        scope = scope.copy()
        opens = df is None
        if opens:
            df = self.spark.range(0, 1, 1, 1).select(F.lit(0).alias("__rn"))
        props: dict[int, str] = {}  # id(pattern element) -> its document column
        created: set[str] = set()
        for path in c.paths:
            for i, el in enumerate(path.elements):
                if i % 2 == 0 and (el.var in scope.kinds or el.var in created):
                    continue
                for vexpr in (el.props.items.values() if el.props else ()):
                    if ref := _free_vars(vexpr, set()) & created:
                        raise CompileError(
                            f"a property cannot reference {ref.pop()!r}, created by the same CREATE"
                        )
                if el.var:
                    created.add(el.var)
                props[id(el)] = self._fresh("cp")
                df = df.withColumn(props[id(el)], self._props_variant(el.props, df, scope))
        # one pin of the rows with their properties; an opening CREATE's
        # one row in one partition is already numbered by a literal
        df, n_rows = (df.localCheckpoint(eager=True), 1) if opens else with_rowid(df)
        created_v: list[str] = []
        created_e: list[str] = []

        def bind_node(node: A.NodePat) -> str:
            nonlocal df
            if node.var and node.var in scope.kinds:
                if scope.kinds[node.var] != VKIND_VERTEX:
                    raise CompileError(f"{node.var!r} is not a vertex")
                return node.var
            label = node.label or DEFAULT_VLABEL
            gid = rowid_graphid(*self.graph.alloc_entry_ids(label, n_rows, "vertex"))
            var = node.var or self._fresh("cv")
            df = df.withColumn(
                var,
                _entity_struct(VERTEX_SCHEMA, id=gid, label=F.lit(label), pv=F.col(props[id(node)])),
            )
            scope.kinds[var] = VKIND_VERTEX
            created_v.append(var)
            return var

        for path in c.paths:
            els = path.elements
            prev = bind_node(els[0])
            i = 1
            while i < len(els):
                rel: A.RelPat = els[i]
                nxt = bind_node(els[i + 1])
                i += 2
                if rel.direction == "both":
                    raise CompileError("CREATE requires a directed relationship")
                src, dst = (nxt, prev) if rel.direction == "in" else (prev, nxt)
                label = rel.label or DEFAULT_ELABEL
                gid = rowid_graphid(*self.graph.alloc_entry_ids(label, n_rows, "edge"))
                evar = rel.var or self._fresh("ce")
                df = df.withColumn(
                    evar,
                    _entity_struct(
                        EDGE_SCHEMA, id=gid, start_id=F.col(src)["id"], end_id=F.col(dst)["id"],
                        label=F.lit(label), pv=F.col(props[id(rel)]),
                    ),
                )
                scope.kinds[evar] = VKIND_EDGE
                created_e.append(evar)
                prev = nxt

        self.graph.append_rows(
            _entity_rows(df, [F.col(v) for v in created_v], VERTEX_SCHEMA),
            _entity_rows(df, [F.col(v) for v in created_e], EDGE_SCHEMA),
        )
        df = df.drop("__rn", *props.values())
        # anonymous entities drop out of the visible scope
        for var in created_v + created_e:
            if var.startswith("__"):
                df = df.drop(var)
                scope.kinds.pop(var, None)
        return df, scope

    # ---------------------------------------------------------------- SET

    def do_set(self, c: A.SetClause, df, scope: Scope) -> DataFrame:
        """SET n.k = v / SET n += map: each item edits the entity's
        document inside the variant (map<string, variant> surgery, then
        to_variant_object), so untouched values keep their types. A null
        value removes its key (cypher_set.c tuple update semantics)."""
        if df is None:
            raise CompileError("SET requires a preceding MATCH/CREATE")
        tables = {VKIND_VERTEX: ("vertices", VERTEX_SCHEMA), VKIND_EDGE: ("edges", EDGE_SCHEMA)}
        touched: dict[str, Column] = {}  # var -> its new document
        for item in c.items:
            tgt = item.target
            if isinstance(tgt, A.Prop) and isinstance(tgt.base, A.Var) and len(tgt.path) == 1:
                var, key = tgt.base.name, tgt.path[0]
            elif isinstance(tgt, A.Var) and item.is_add:
                var, key = tgt.name, None
            else:
                raise CompileError("SET target must be var.prop or var += map")
            if scope.kinds.get(var) not in tables:
                raise CompileError(f"cannot SET on {var!r}")
            if var not in touched:
                touched[var] = F.col(var)["pv"]
            # the delta: n.k = v is n += {k: v}; a non-map delta is empty
            if key is not None:
                v = G.to_variant(self.comp.compile_expr(item.expr, df, scope))
                d = F.create_map(F.lit(key), v)
            elif isinstance(item.expr, A.MapLit):
                d = _doc_map(self._props_variant(item.expr, df, scope))
            else:
                d = _doc_map(G.to_variant(self.comp.compile_expr(item.expr, df, scope)))
            # its keys replace the document's; a null value removes its key
            kept = F.map_filter(
                _doc_map(touched[var]), lambda k, _v: ~F.array_contains(F.map_keys(d), k)
            )
            new = F.map_filter(d, lambda _k, v: v.isNotNull() & ~F.is_variant_null(v))
            touched[var] = F.to_variant_object(F.map_concat(kept, new))
        for var, pv in touched.items():
            df = df.withColumn(var, _entity_struct(tables[scope.kinds[var]][1], F.col(var), pv=pv))
        df = df.localCheckpoint(eager=True)

        g = self.graph
        for var in touched:
            kind = tables[scope.kinds[var]][0]
            written = df.select(
                F.col(var)["id"].alias("__uid"),
                F.col(var)["label"].alias("label"),
                F.col(var)["pv"].alias("pv"),
            )
            # one job: the catalog learns every candidate document's
            # atoms, and the touched label partitions come back for the
            # durable partition-scoped rewrite
            upd_labels = g.extend_prop_types(written)
            updates = written.groupBy("__uid").agg(F.last("pv").alias("__upv"))
            upd = (
                stored(getattr(g, kind), kind)
                .join(updates, F.col("id") == F.col("__uid"), "left_outer")
                .withColumn("pv", F.coalesce(F.col("__upv"), F.col("pv")))
                .drop("__uid", "__upv")
            )
            g.enforce_unique_post_update(upd, upd_labels)
            g.pin(kind, upd)
            g.persist_partitions(kind, upd_labels)
        return df

    # ------------------------------------------------------------- DELETE

    def do_delete(self, c: A.DeleteClause, df, scope: Scope) -> None:
        if df is None:
            raise CompileError("DELETE requires a preceding MATCH")
        g = self.graph
        v_ids: DataFrame | None = None
        e_ids: DataFrame | None = None
        for e in c.exprs:
            if not isinstance(e, A.Var):
                raise CompileError("DELETE takes entity variables")
            kind = scope.kinds.get(e.name)
            ids = df.select(F.col(e.name)["id"].alias("id")).distinct()
            if kind == VKIND_VERTEX:
                v_ids = ids if v_ids is None else v_ids.union(ids).distinct()
            elif kind == VKIND_EDGE:
                e_ids = ids if e_ids is None else e_ids.union(ids).distinct()
            else:
                raise CompileError(f"cannot DELETE {e.name!r}")

        edges = g.edges
        # touched label partitions (durable path only): collected from
        # the DELETED rows so the backing-store rewrite stays partition-
        # scoped (persist_partitions) instead of a full-table flush
        e_label_dfs = []
        v_labels: list[str] = []
        if e_ids is not None:
            if g.durable_path:
                e_label_dfs.append(
                    edges.join(e_ids, edges["id"] == e_ids["id"], "left_semi").select("label")
                )
            edges = edges.join(e_ids, edges["id"] == e_ids["id"], "left_anti")
        if v_ids is not None:
            incident = edges.join(
                v_ids,
                (edges["start_id"] == v_ids["id"]) | (edges["end_id"] == v_ids["id"]),
                "left_semi",
            )
            if not c.detach:
                # error when non-deleted edges remain attached
                # (find_connected_edges, cypher_delete.c:405-480)
                if incident.limit(1).count() > 0:
                    raise ValueError("Cannot delete a vertex that still has edges (use DETACH DELETE)")
            else:
                if g.durable_path:
                    e_label_dfs.append(incident.select("label"))
                edges = edges.join(
                    v_ids,
                    (edges["start_id"] == v_ids["id"]) | (edges["end_id"] == v_ids["id"]),
                    "left_anti",
                )
            if g.durable_path:
                v_labels = [
                    r[0]
                    for r in g.vertices.join(
                        v_ids, g.vertices["id"] == v_ids["id"], "left_semi"
                    ).select("label").distinct().collect()
                ]
            g.pin("vertices", g.vertices.join(v_ids, g.vertices["id"] == v_ids["id"], "left_anti"))
        g.pin("edges", edges)
        if g.durable_path:
            e_labels: set[str] = set()
            for ldf in e_label_dfs:
                e_labels.update(r[0] for r in ldf.distinct().collect())
            g.persist_partitions("vertices", v_labels)
            g.persist_partitions("edges", sorted(e_labels))

    # -------------------------------------------------------------- MERGE
    def do_merge(self, c: A.MergeClause, df, scope: Scope):
        """Full-path match-or-create (cypher_merge.c:199-430): the WHOLE
        pattern either matches (every match binds a row) or is created —
        including multi-hop paths and unbound endpoints
        (old/regress/cypher_merge.sql tests 8-13). Probe is an equi
        left-outer join of the pipeline against the standalone-compiled
        pattern, correlated on outer-bound vertex ids plus canonical key
        text of correlated property expressions ({i: n.i} — test 3);
        misses create ALL unbound entities once per distinct correlation
        key, so created paths are visible to every probe row."""
        scope = scope.copy()
        els = c.path.elements
        if df is None:
            df = self.spark.range(1).select(F.lit(1).alias("__one"))

        # ---- classify elements; split props into pattern-const vs
        # correlated-with-outer-scope
        elems = []  # (kind, var, bound, el, const_props, corr_items)
        for i, el in enumerate(els):
            if i % 2 == 0:
                var = el.var or self._fresh("mn")
                bound = bool(el.var) and scope.kinds.get(el.var) == VKIND_VERTEX
            else:
                if el.direction == "both":
                    raise CompileError("MERGE requires a directed relationship")
                if el.var and el.var in scope.kinds:
                    raise CompileError(f"MERGE cannot reuse bound relationship {el.var!r}")
                if el.varlen is not None:
                    raise CompileError("MERGE does not support variable-length patterns")
                var = el.var or self._fresh("me")
                bound = False
            const_items, corr_items = {}, []
            if el.props:
                for k, vexpr in el.props.items.items():
                    fv = _free_vars(vexpr, set())
                    if any(v in scope.kinds for v in fv):
                        corr_items.append((k, vexpr))
                    else:
                        const_items[k] = vexpr
            elems.append(("v" if i % 2 == 0 else "e", var, bound, el, const_items, corr_items))

        # ---- standalone pattern compile (const props only)
        pattern_els = []
        for kind, var, bound, el, const_items, corr_items in elems:
            cp = A.MapLit(dict(const_items)) if const_items else None
            if kind == "v":
                pattern_els.append(A.NodePat(var, el.label, cp))
            else:
                pattern_els.append(A.RelPat(var, el.label, cp, el.direction, None))
        sub = Compiler(self.spark, self.graph)
        pdf, _ps = sub.compile_match(
            A.MatchClause([A.Path(None, pattern_els)], None, False, []), None, Scope()
        )
        for kind, var, *_rest in elems:
            pdf = pdf.withColumnRenamed(var, f"__pm_{var}")

        # ---- correlated prop key columns on both sides
        corr_list = []  # (tag, elem_idx, key, expr)
        for idx, (kind, var, bound, el, const_items, corr_items) in enumerate(elems):
            for k, vexpr in corr_items:
                corr_list.append((f"{idx}_{k}", idx, k, vexpr))
        for tag, idx, k, vexpr in corr_list:
            kind, var = elems[idx][0], elems[idx][1]
            pmv = F.col(f"__pm_{var}")
            ppv = pmv["pv"]
            pdf = pdf.withColumn(
                f"__pc_{tag}", G.canon_key_text(G.from_variant(F.try_variant_get(ppv, f"$.{k}", "variant")))
            )
        oc_cols, ov_cols = [], []
        for tag, idx, k, vexpr in corr_list:
            val = self.comp.compile_expr(vexpr, df, scope)
            df = df.withColumn(f"__oc_{tag}", G.canon_key_text(val, null_as_sentinel=True))
            df = df.withColumn(f"__ov_{tag}", G.to_variant(val))
            oc_cols.append(f"__oc_{tag}")
            ov_cols.append(f"__ov_{tag}")

        # ---- probe join: bound ids + correlated prop keys (pure equi)
        bound_vars = [var for kind, var, bound, *_ in elems if bound]
        cond = F.lit(True)
        for var in dict.fromkeys(bound_vars):
            cond = cond & (F.col(var)["id"] == F.col(f"__pm_{var}")["id"])
        for tag, *_ in [(t,) for t, *_r in corr_list]:
            cond = cond & (F.col(f"__oc_{tag}") == F.col(f"__pc_{tag}"))
        joined = df.join(pdf, cond, "left_outer").drop(
            *[f"__pc_{t}" for t, *_r in corr_list]
        )
        first_unmatched = elems[0][1]
        matched = F.col(f"__pm_{first_unmatched}").isNotNull()

        # ---- create whole path for distinct miss keys
        key_cols = [F.col(v)["id"].alias(f"__bk_{v}") for v in dict.fromkeys(bound_vars)]
        key_names = [f"__bk_{v}" for v in dict.fromkeys(bound_vars)] + oc_cols
        miss_rows = joined.filter(~matched)
        if key_cols or oc_cols:
            misses = (
                miss_rows.select(*key_cols, *oc_cols, *ov_cols)
                .groupBy(*key_names)
                .agg(*[F.first(cv).alias(cv) for cv in ov_cols])
                if ov_cols
                else miss_rows.select(*key_cols, *oc_cols).distinct()
            )
        else:
            misses = miss_rows.select(F.lit(1).alias("__mk")).distinct()
            key_names = ["__mk"]
            joined = joined.withColumn("__mk", F.lit(1))
        def props_variant(idx) -> Column:
            _k, _v, _b, _el, const_items, corr_items = elems[idx]
            return self._props_variant(
                A.MapLit(const_items), None, Scope(),
                given={k: F.col(f"__ov_{idx}_{k}") for k, _e in corr_items},
            )

        # properties of the entities a miss creates are evaluated before
        # the misses are numbered and pinned, so every read sees one value
        misses = misses.withColumns({
            f"__cp_{var}": props_variant(idx) for idx, (_k, var, b, *_r) in enumerate(elems) if not b
        })
        misses, n_miss = with_rowid(misses)

        created_cols: dict[str, Column] = {}
        if n_miss:
            # vertices first (edges need their ids)
            vid_expr: dict[int, Column] = {}
            for idx, (kind, var, bound, el, *_r) in enumerate(elems):
                if kind != "v":
                    continue
                if bound:
                    vid_expr[idx] = F.col(f"__bk_{var}")
                    continue
                label = el.label or DEFAULT_VLABEL
                gid = rowid_graphid(*self.graph.alloc_entry_ids(label, n_miss, "vertex"))
                misses = misses.withColumn(f"__cid_{var}", gid)
                vid_expr[idx] = F.col(f"__cid_{var}")
                created_cols[var] = _entity_struct(
                    VERTEX_SCHEMA, id=vid_expr[idx], label=F.lit(label), pv=F.col(f"__cp_{var}")
                )
            for idx, (kind, var, bound, el, *_r) in enumerate(elems):
                if kind != "e":
                    continue
                label = el.label or DEFAULT_ELABEL
                gid = rowid_graphid(*self.graph.alloc_entry_ids(label, n_miss, "edge"))
                misses = misses.withColumn(f"__cid_{var}", gid)
                src_i, dst_i = (idx - 1, idx + 1) if el.direction != "in" else (idx + 1, idx - 1)
                created_cols[var] = _entity_struct(
                    EDGE_SCHEMA, id=F.col(f"__cid_{var}"), start_id=vid_expr[src_i],
                    end_id=vid_expr[dst_i], label=F.lit(label), pv=F.col(f"__cp_{var}"),
                )
            new_v = [created_cols[v] for k, v, b, *_r in elems if k == "v" and not b]
            new_e = [created_cols[v] for k, v, *_r in elems if k == "e"]
            self.graph.append_rows(
                _entity_rows(misses, new_v, VERTEX_SCHEMA),
                _entity_rows(misses, new_e, EDGE_SCHEMA),
            )
            # join created entities back to ALL rows on the same keys
            cstructs = misses.select(
                *[F.col(kn) for kn in key_names],
                *[
                    created_cols[var].alias(f"__cr_{var}")
                    for kind, var, bound, *_r in elems
                    if not bound
                ],
            )
            # outer side key name alignment: bound ids live in entity structs
            jcond = F.lit(True)
            for v in dict.fromkeys(bound_vars):
                jcond = jcond & (F.col(v)["id"] == cstructs[f"__bk_{v}"])
            for ocn in oc_cols:
                jcond = jcond & (joined[ocn] == cstructs[ocn])
            if not bound_vars and not oc_cols:
                jcond = joined["__mk"] == cstructs["__mk"]
            joined = joined.join(
                cstructs,
                jcond,
                "left_outer",
            )
            # cstructs carries duplicate key columns — drop its copies
            for kn in key_names:
                joined = joined.drop(cstructs[kn])

        # ---- bind each pattern var: matched struct else created
        out = joined
        for kind, var, bound, el, *_r in elems:
            if bound:
                out = out.drop(f"__pm_{var}")
                continue
            pm = F.col(f"__pm_{var}")
            if n_miss and f"__cr_{var}" in out.columns:
                bound_col = F.when(pm.isNotNull(), pm).otherwise(F.col(f"__cr_{var}"))
            else:
                bound_col = pm
            anonymous = el.var is None
            out = out.withColumn(var, bound_col).drop(f"__pm_{var}", f"__cr_{var}")
            if anonymous:
                out = out.drop(var)
            else:
                scope.kinds[var] = VKIND_VERTEX if kind == "v" else VKIND_EDGE
        drops = [c0 for c0 in out.columns if c0.startswith("__oc_") or c0.startswith("__ov_")
                 or c0 == "__mk" or c0 == "__one" or c0.startswith("__rn")]
        out = out.drop(*drops)
        # pin the pipeline only when this MERGE created entities: the
        # created ids come from the already-checkpointed `misses`, but the
        # surrounding join tree is cheap insurance to pin too. A fully
        # MATCHED merge allocated nothing and committed nothing — its
        # output is a deterministic function of stable inputs, so the
        # eager checkpoint would only add a no-op materialization job
        # (measured ~1.2 s per no-op MERGE at sf0.01).
        return (out.localCheckpoint(eager=True) if n_miss else out), scope
