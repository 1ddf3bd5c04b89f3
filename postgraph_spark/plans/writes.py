"""Cypher write clauses: CREATE / SET / REMOVE / DELETE / MERGE.

The reference executes writes as CustomScan nodes pulling from the child
plan (cypher_create.c:103-571, cypher_set.c:100-188, cypher_delete.c:246-480,
cypher_merge.c:199-430): each matched row drives an insert/update/delete
against the label heap tables, and the written entities remain visible to
later clauses of the same statement.

Spark design: the clause pipeline stays a DataFrame; a write clause
  1. computes the new/updated/deleted entity rows AS COLUMNS of the pipeline
     DataFrame (so later clauses including RETURN see the post-write state),
  2. hands the delta to Graph.commit, the one code that changes the
     graph's tables: the ids each table loses and the rows it gains (an
     update is both), applied as an anti-join plus a union (the
     in-memory analog of Delta DELETE / append). CREATE and the bulk
     loader (sources/loader.py) add rows; a MERGE miss creates through
     CREATE; SET replaces the rows it updates; DELETE removes ids,
  3. numbers the rows it creates from a pinned copy of its input
     (with_rowid), so lineage replay never re-allocates an id.

Id allocation mirrors the per-label sequences (label_commands.c:563-583):
a base entry-id is reserved per statement and per-row ids are
`base + row number` — partition offsets over the pinned rows, not a
driver-side loop.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from postgraph_spark.functions import gtype as G
from postgraph_spark.graph import EDGE_SCHEMA, ENTRY_ID_BITS, VERTEX_SCHEMA, Graph
from postgraph_spark.plans import ast as A
from postgraph_spark.plans.compiler import (
    Compiler,
    CompileError,
    Scope,
    VKIND_EDGE,
    VKIND_VALUE,
    VKIND_VERTEX,
)

DEFAULT_VLABEL = "_ag_label_vertex"
DEFAULT_ELABEL = "_ag_label_edge"

#: the table and stored row of each entity kind
_TABLES = {VKIND_VERTEX: ("vertices", VERTEX_SCHEMA), VKIND_EDGE: ("edges", EDGE_SCHEMA)}

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
                df, scope, _n = self.do_create(clause, df, scope)
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

    def _props_variant(self, props: A.MapLit | None, df, scope) -> Column:
        """A property map -> its VARIANT document, each value a typed
        variant (G.to_variant) — the one builder of the documents CREATE
        (and so MERGE) and `SET +=` write."""
        return G.variant_object({
            k: G.to_variant(self.comp.compile_expr(vexpr, df, scope))
            for k, vexpr in (props.items.items() if props else ())
        })

    # ------------------------------------------------------------- CREATE

    def do_create(self, c: A.CreateClause, df, scope: Scope):
        """Row-wise CREATE: every input row creates the pattern's unbound
        entities (cypher_create.c:332-540 create_vertex_1/create_edge_1).
        A CREATE that opens the statement runs once, on a one-row input.
        Variables bound by an earlier clause are the same entities here.
        Property maps are evaluated over the clause's input, before the
        rows are numbered and pinned, so RETURN, the in-memory table and
        the durable append all read one value of each: a property may
        not reference an entity this clause creates (Neo4j's rule).
        Returns (df, scope, number of input rows); an input without rows
        allocates and commits nothing."""
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

        def new_ids(label: str, kind: str) -> Column:
            if not n_rows:  # nothing to number
                return F.lit(None).cast("long")
            return rowid_graphid(*self.graph.alloc_entry_ids(label, n_rows, kind))

        def bind_node(node: A.NodePat) -> str:
            nonlocal df
            if node.var and node.var in scope.kinds:
                if scope.kinds[node.var] != VKIND_VERTEX:
                    raise CompileError(f"{node.var!r} is not a vertex")
                return node.var
            label = node.label or DEFAULT_VLABEL
            gid = new_ids(label, "vertex")
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
                gid = new_ids(label, "edge")
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

        if n_rows:
            self.graph.commit(added={
                "vertices": _entity_rows(df, [F.col(v) for v in created_v], VERTEX_SCHEMA),
                "edges": _entity_rows(df, [F.col(v) for v in created_e], EDGE_SCHEMA),
            })
        df = df.drop("__rn", *props.values())
        # anonymous entities drop out of the visible scope
        for var in created_v + created_e:
            if var.startswith("__"):
                df = df.drop(var)
                scope.kinds.pop(var, None)
        return df, scope, n_rows

    # ---------------------------------------------------------------- SET

    def do_set(self, c: A.SetClause, df, scope: Scope) -> DataFrame:
        """SET n.k = v / SET n += map: each item edits the entity's
        document inside the variant (map<string, variant> surgery, then
        to_variant_object), so untouched values keep their types. A null
        value removes its key (cypher_set.c tuple update semantics)."""
        if df is None:
            raise CompileError("SET requires a preceding MATCH/CREATE")
        touched: dict[str, Column] = {}  # var -> its new document
        for item in c.items:
            tgt = item.target
            if isinstance(tgt, A.Prop) and isinstance(tgt.base, A.Var) and len(tgt.path) == 1:
                var, key = tgt.base.name, tgt.path[0]
            elif isinstance(tgt, A.Var) and item.is_add:
                var, key = tgt.name, None
            else:
                raise CompileError("SET target must be var.prop or var += map")
            if scope.kinds.get(var) not in _TABLES:
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
            schema = _TABLES[scope.kinds[var]][1]
            # a null entity (an unmatched OPTIONAL MATCH) stays null
            df = df.withColumn(
                var, F.when(F.col(var).isNotNull(), _entity_struct(schema, F.col(var), pv=pv))
            )
        df = df.localCheckpoint(eager=True)

        # an entity set by several rows (or items) keeps the last one's
        # document: order by position in the pinned rows, then item
        pos = F.monotonically_increasing_id() * len(touched)
        parts: dict[str, list[DataFrame]] = {}
        for i, var in enumerate(touched):
            kind, schema = _TABLES[scope.kinds[var]]
            parts.setdefault(kind, []).append(df.select(
                *[F.col(var)[f].alias(f) for f in schema.fieldNames()], (pos + i).alias("__pos")
            ).filter(F.col("id").isNotNull()))
        # pinned: the commit's catalog job and candidate table both read them
        updated = {}
        for kind, rows in parts.items():
            rows = reduce(DataFrame.unionByName, rows)
            updated[kind] = rows.groupBy("id").agg(*[
                F.max_by(f, "__pos").alias(f) for f in rows.columns if f not in ("id", "__pos")
            ]).localCheckpoint(eager=True)
        self.graph.commit(removed={k: u.select("id") for k, u in updated.items()}, added=updated)
        return df

    # ------------------------------------------------------------- DELETE

    def do_delete(self, c: A.DeleteClause, df, scope: Scope) -> None:
        """DELETE / DETACH DELETE (cypher_delete.c:246-480): the ids of
        the deleted entities leave their tables; DETACH DELETE removes a
        deleted vertex's edges too, plain DELETE fails while any remains
        (find_connected_edges). A null entity deletes nothing."""
        if df is None:
            raise CompileError("DELETE requires a preceding MATCH")
        parts: dict[str, list[DataFrame]] = {}
        for e in c.exprs:
            if not isinstance(e, A.Var):
                raise CompileError("DELETE takes entity variables")
            if scope.kinds.get(e.name) not in _TABLES:
                raise CompileError(f"cannot DELETE {e.name!r}")
            parts.setdefault(_TABLES[scope.kinds[e.name]][0], []).append(
                df.select(F.col(e.name)["id"].alias("id"))
            )
        removed = {
            kind: reduce(DataFrame.union, ids).filter(F.col("id").isNotNull())
            for kind, ids in parts.items()
        }
        if "vertices" in removed:
            v_ids = removed["vertices"].select(F.col("id").alias("__vid"))
            edges = self.graph.edges
            if "edges" in removed:
                edges = edges.join(removed["edges"], "id", "left_anti")
            incident = edges.join(
                v_ids, (edges["start_id"] == v_ids["__vid"]) | (edges["end_id"] == v_ids["__vid"]),
                "left_semi",
            ).select("id")
            if not c.detach:
                if not incident.isEmpty():
                    raise ValueError("Cannot delete a vertex that still has edges (use DETACH DELETE)")
            else:
                removed["edges"] = incident.union(removed["edges"]) if "edges" in removed else incident
        self.graph.commit(removed=removed)

    # -------------------------------------------------------------- MERGE
    def do_merge(self, c: A.MergeClause, df, scope: Scope):
        """Full-path match-or-create (cypher_merge.c:199-430): the WHOLE
        pattern either matches (every match binds a row) or is created —
        including multi-hop paths and unbound endpoints
        (old/regress/cypher_merge.sql tests 8-13). Probe is an equi
        left-outer join of the pipeline against the standalone-compiled
        pattern, correlated on outer-bound vertex ids plus canonical key
        text of correlated property expressions ({i: n.i} — test 3).
        The misses are grouped by those keys and CREATE makes the pattern
        once per distinct key (do_create), with each bound vertex and each
        correlated value as a binding of its input, so created paths are
        visible to every probe row of the key."""
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

        # ---- correlated prop key columns on both sides; the outer side
        # also keeps each value (__mv_), which a miss creates with
        corr_list = []  # (tag, elem_idx, key, expr)
        for idx, (kind, var, bound, el, const_items, corr_items) in enumerate(elems):
            for k, vexpr in corr_items:
                corr_list.append((f"{idx}_{k}", idx, k, vexpr))
        for tag, idx, k, vexpr in corr_list:
            ppv = F.col(f"__pm_{elems[idx][1]}")["pv"]
            pdf = pdf.withColumn(
                f"__pc_{tag}", G.canon_key_text(G.from_variant(F.try_variant_get(ppv, f"$.{k}", "variant")))
            )
        oc_cols = []
        mscope = Scope()  # the bindings of the misses
        for tag, idx, k, vexpr in corr_list:
            val = self.comp.compile_expr(vexpr, df, scope)
            df = df.withColumn(f"__oc_{tag}", G.canon_key_text(val, null_as_sentinel=True))
            df = df.withColumn(f"__mv_{tag}", val)
            oc_cols.append(f"__oc_{tag}")
            mscope.kinds[f"__mv_{tag}"] = VKIND_VALUE
            mscope.vtypes[f"__mv_{tag}"] = G.gv_types(val)

        # ---- probe join: bound ids + correlated prop keys (pure equi)
        bound_vars = list(dict.fromkeys(var for kind, var, bound, *_ in elems if bound))
        cond = F.lit(True)
        for var in bound_vars:
            cond = cond & (F.col(var)["id"] == F.col(f"__pm_{var}")["id"])
        for oc in oc_cols:
            cond = cond & (F.col(oc) == F.col(f"__pc_{oc[5:]}"))
        joined = df.join(pdf, cond, "left_outer").drop(*[f"__pc_{oc[5:]}" for oc in oc_cols])
        joined = joined.withColumns({f"__bk_{v}": F.col(v)["id"] for v in bound_vars})
        matched = F.col(f"__pm_{elems[0][1]}").isNotNull()

        # ---- the misses, one row per distinct key, carrying each bound
        # vertex and correlated value
        key_names = [f"__bk_{v}" for v in bound_vars] + oc_cols
        miss_rows = joined.filter(~matched)
        if key_names:
            carried = [*bound_vars, *[f"__mv_{oc[5:]}" for oc in oc_cols]]
            misses = miss_rows.groupBy(*key_names).agg(*[F.first(v).alias(v) for v in carried])
        else:
            misses = miss_rows.select(F.lit(1).alias("__mk")).distinct()
            key_names = ["__mk"]
            joined = joined.withColumn("__mk", F.lit(1))

        # ---- CREATE the pattern over the misses: a bound vertex is
        # itself, a correlated value reads its binding
        create_els = []
        for idx, (kind, var, bound, el, const_items, corr_items) in enumerate(elems):
            props = {**const_items, **{k: A.Var(f"__mv_{idx}_{k}") for k, _e in corr_items}}
            props = A.MapLit(props) if props else None
            if kind == "e":
                create_els.append(A.RelPat(var, el.label, props, el.direction, None))
            else:
                create_els.append(A.NodePat(var, None, None) if bound else A.NodePat(var, el.label, props))
        mscope.kinds.update({v: VKIND_VERTEX for v in bound_vars})
        created, _s, n_miss = self.do_create(
            A.CreateClause([A.Path(None, create_els)]), misses, mscope
        )

        # ---- join the named created entities back to every row of their key
        new_vars = list(dict.fromkeys(v for _k, v, b, el, *_r in elems if not b and el.var))
        if n_miss:
            cstructs = created.select(*key_names, *[F.col(v).alias(f"__cr_{v}") for v in new_vars])
            joined = joined.join(cstructs, key_names, "left_outer")

        # ---- bind each pattern var: matched struct else created
        out = joined
        for kind, var, bound, el, *_r in elems:
            if var in scope.kinds or not el.var:  # bound, bound already or anonymous
                out = out.drop(f"__pm_{var}")
                continue
            pm = F.col(f"__pm_{var}")
            out = out.withColumn(var, F.coalesce(pm, F.col(f"__cr_{var}")) if n_miss else pm)
            out = out.drop(f"__pm_{var}", f"__cr_{var}")
            scope.kinds[var] = VKIND_VERTEX if kind == "v" else VKIND_EDGE
        out = out.drop(*[c0 for c0 in out.columns if c0.startswith(("__oc_", "__mv_", "__bk_"))],
                       "__mk", "__one")
        # pin the pipeline only when this MERGE created entities: a fully
        # MATCHED merge allocated nothing and committed nothing — its
        # output is a deterministic function of stable inputs, so the
        # eager checkpoint would only add a no-op materialization job
        # (measured ~1.2 s per no-op MERGE at sf0.01).
        return (out.localCheckpoint(eager=True) if n_miss else out), scope
