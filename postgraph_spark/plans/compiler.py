"""Cypher clause IR -> DataFrame compiler.

The reference compiles each clause into a Query wrapping the previous
clause as a subquery RTE (transform_cypher_clause_as_subquery,
src/backend/parser/cypher_clause.c:2290-2304). Here each clause is a
transformation of the previous clause's DataFrame — the same pipeline
shape as lazy lineage, optimized whole by Catalyst.

Variable binding model: the working DataFrame has ONE column per bound
Cypher variable —
  vertex  -> struct(id, label, pv)
  edge    -> struct(id, start_id, end_id, label, pv)
  vle     -> struct(start_id, end_id, edge_ids, node_ids, hops)
  path    -> struct(nodes: array<vertex>, edges: array<edge>)
  value   -> gval struct (functions/gtype.py)
An entity value is its table row, pv the stored properties VARIANT, from
the scan to RETURN; the properties JSON text is rendered only where the
entity leaves the engine (see render / _json_view).
"""

from __future__ import annotations

import dataclasses
import itertools
import re
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from postgraph_spark.functions import gtype as G
from postgraph_spark.graph import EDGE_SCHEMA, VERTEX_SCHEMA, Graph
from postgraph_spark.plans import ast as A

AGG_FNS = {
    "count", "sum", "avg", "min", "max", "collect", "stdev", "stdevp",
    "percentilecont", "percentiledisc", "percentile_cont", "percentile_disc",
    "corr", "covar_pop", "covar_samp",
    "regr_slope", "regr_intercept", "regr_r2", "regr_avgx", "regr_avgy",
    "regr_count", "regr_sxx", "regr_syy", "regr_sxy",
}

#: pure window functions (value depends on the frame, not a group)
WINDOW_FNS = {
    "row_number", "rank", "dense_rank", "percent_rank", "cume_dist",
    "ntile", "lag", "lead", "first_value", "last_value",
}

#: two-column statistical aggregates (PG arg order: fn(Y, X)) — usable
#: in GROUP BY contexts and over windows alike
_TWO_COL_AGGS = {
    "corr": F.corr, "covar_pop": F.covar_pop, "covar_samp": F.covar_samp,
    "regr_slope": F.regr_slope, "regr_intercept": F.regr_intercept,
    "regr_r2": F.regr_r2, "regr_avgx": F.regr_avgx, "regr_avgy": F.regr_avgy,
    "regr_sxx": F.regr_sxx, "regr_syy": F.regr_syy, "regr_sxy": F.regr_sxy,
}

_CAST_FN = {
    "timestamp": "totimestamp", "timestamptz": "totimestamptz",
    "date": "todate", "time": "totime", "timetz": "totimetz",
    "interval": "tointerval", "integer": "tointeger", "float": "tofloat",
    "numeric": "tonumeric", "string": "tostring", "boolean": "toboolean",
    # extended kits (gtype_typecasting.c full surface; functions/casts.py)
    "bytea": "tobytea", "inet": "toinet", "cidr": "tocidr",
    "macaddr": "tomacaddr", "macaddr8": "tomacaddr8",
    "tsvector": "totsvector", "tsquery": "totsquery",
    "intrange": "tointrange", "numrange": "tonumrange",
    "tsrange": "totsrange", "tstzrange": "totstzrange",
    "daterange": "todaterange", "graphid": "tographid",
    "vector": "tovector",
    # geometric kit (functions/geometric.py)
    "point": "topoint", "box": "tobox", "lseg": "tolseg",
    "line": "toline", "circle": "tocircle", "path": "topath",
    "polygon": "topolygon",
    # multiranges
    "intmultirange": "tointmultirange", "nummultirange": "tonummultirange",
    "tsmultirange": "totsmultirange", "tstzmultirange": "totstzmultirange",
    "datemultirange": "todatemultirange",
}

VKIND_VERTEX = "vertex"
VKIND_EDGE = "edge"
VKIND_VLE = "vle"
VKIND_PATH = "path"
VKIND_VALUE = "value"


class CompileError(ValueError):
    pass


def _is_gval_type(dt) -> bool:
    """True when a column's Spark type is the gval struct (the flat
    t/b/i/d/s/j value representation gtype._mk builds)."""
    return isinstance(dt, T.StructType) and [f.name for f in dt.fields] == [
        "t", "b", "i", "d", "s", "j"
    ]


def _const_int(e) -> int | None:
    """Driver-side evaluation of integer-constant expressions
    (literals, unary minus, + - * / % over constants)."""
    if isinstance(e, A.Lit) and isinstance(e.value, int) and not isinstance(e.value, bool):
        return e.value
    if isinstance(e, A.UnaryOp) and e.op == "-":
        v = _const_int(e.operand)
        return None if v is None else -v
    if isinstance(e, A.BinOp) and e.op in ("+", "-", "*", "/", "%"):
        a, b = _const_int(e.left), _const_int(e.right)
        if a is None or b is None:
            return None
        if e.op == "+":
            return a + b
        if e.op == "-":
            return a - b
        if e.op == "*":
            return a * b
        if e.op == "/":
            return None if b == 0 else int(a / b)
        return None if b == 0 else a - b * int(a / b)
    return None


def _has_star(node) -> bool:
    """Does any WITH/RETURN of the statement, subqueries included,
    project `*`? Such a statement keeps every VALUE binding in the full
    gval shape (see Compiler._narrow_value)."""
    if isinstance(node, (A.WithClause, A.ReturnClause)) and node.star:
        return True
    if isinstance(node, A.Lit):  # reading a parameter's value would pin it
        return False
    if isinstance(node, (list, tuple)):
        return any(_has_star(x) for x in node)
    if isinstance(node, dict):
        return any(_has_star(x) for x in node.values())
    return dataclasses.is_dataclass(node) and any(
        _has_star(getattr(node, f.name)) for f in dataclasses.fields(node)
    )


#: an entity value's fields besides its ``pv`` document: the stored row's
_ENTITY_FIELDS = {
    kind: tuple(f for f in schema.fieldNames() if f != "pv")
    for kind, schema in ((VKIND_VERTEX, VERTEX_SCHEMA), (VKIND_EDGE, EDGE_SCHEMA))
}


def _row(schema: T.StructType) -> Column:
    """A vertex or edge value: its stored row as one struct."""
    return F.struct(*schema.fieldNames())


def _json_view(x: Column, kind: str) -> Column:
    """Entity value `x` as the struct whose to_json is its JSON text as
    an element of a list (collect(n), nodes(p)): the document nested as
    the ``properties`` object, keys sorted."""
    return F.struct(*[x[f].alias(f) for f in _ENTITY_FIELDS[kind]], x["pv"].alias("properties"))


def _json_text(x: Column, kind: str) -> Column:
    """A collect() element's JSON text, 'null' for a null value."""
    if kind in _ENTITY_FIELDS:
        return F.when(x.isNotNull(), F.to_json(_json_view(x, kind))).otherwise(F.lit("null"))
    return F.when(x["t"] != G.T_NULL, G.to_json_text(x)).otherwise(F.lit("null"))


def entity_array_json(arr: Column, kind: str) -> Column:
    """An array of vertex or edge values as one JSON list text."""
    return F.to_json(F.transform(arr, lambda x: _json_view(x, kind)))


def render(x: Column, kind: str | None) -> Column:
    """A RETURN column as it leaves the engine. A vertex or edge value is
    (id, label, properties) [edges with start_id, end_id], properties
    the document's JSON text as Graph.vertices renders it; a named path
    renders its elements so. Every other value is itself."""
    if kind == VKIND_PATH:
        return F.when(x.isNotNull(), F.struct(
            F.transform(x["nodes"], lambda v: render(v, VKIND_VERTEX)).alias("nodes"),
            F.transform(x["edges"], lambda e: render(e, VKIND_EDGE)).alias("edges"),
        ))
    if kind not in _ENTITY_FIELDS:
        return x
    fields = [x[f].alias(f) for f in _ENTITY_FIELDS[kind]]
    return F.when(x.isNotNull(), F.struct(*fields, F.to_json(x["pv"]).alias("properties")))


def _entity_key(x: Column, kind: str | None) -> Column:
    """What DISTINCT, grouping and ORDER BY compare a binding by: a
    vertex or edge by its id (vertex_btree_cmp compares ids; the pv
    VARIANT is not comparable), a path by its element ids, any other
    value (a VLE binding's ids) itself."""
    if kind == VKIND_PATH:
        return F.struct(
            F.transform(x["nodes"], lambda v: v["id"]).alias("nodes"),
            F.transform(x["edges"], lambda e: e["id"]).alias("edges"),
        )
    return x["id"] if kind in _ENTITY_FIELDS else x


class Scope:
    """Bound variables: name -> kind. ``vtypes`` carries the
    statically-known gtype tag set of VALUE bindings across projection
    boundaries (a WITH alias of sum(...) stays known-numeric), so
    downstream operator dispatch — in particular the ORDER BY exact-
    container path — can prune branches the way gv_types does for
    un-projected expressions."""

    def __init__(self):
        self.kinds: dict[str, str] = {}
        self.vtypes: dict[str, frozenset] = {}
        #: entity bindings' scan label (round-12): MATCH (c:customer)
        #: records c -> "customer", so property accesses can consult the
        #: graph's property-type catalog (Graph.prop_types) and compile
        #: to a direct typed variant_get instead of runtime dispatch
        self.labels: dict[str, str | None] = {}

    def copy(self) -> "Scope":
        s = Scope()
        s.kinds = dict(self.kinds)
        s.vtypes = dict(self.vtypes)
        s.labels = dict(self.labels)
        return s


_NOT_CONST = object()


def _fold_const_container(e):
    """Python value of a fully-literal container AST, or _NOT_CONST."""
    if isinstance(e, A.Lit):
        return e.value
    if isinstance(e, A.ListLit):
        out = []
        for x in e.items:
            v = _fold_const_container(x)
            if v is _NOT_CONST:
                return _NOT_CONST
            out.append(v)
        return out
    if isinstance(e, A.MapLit):
        out = {}
        for k, v in e.items.items():
            fv = _fold_const_container(v)
            if fv is _NOT_CONST:
                return _NOT_CONST
            out[k] = fv
        return out
    if isinstance(e, A.UnaryOp) and e.op == "-":
        v = _fold_const_container(e.operand)
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return -v
        return _NOT_CONST
    return _NOT_CONST


def slot_sentinel(kind: str, slot: int):
    """The value a parameter slot compiles from inside a plan template:
    of the slot kind's Spark type, distinct per slot, and negative or
    NUL-delimited, so neither a statement text (the lexer's numbers are
    never negative) nor a compiler constant produces it."""
    if kind == "int":
        return -2_000_000_000 + slot
    if kind == "bigint":
        return -(2**62) - slot
    if kind == "double":
        return -1.0e300 - slot * 1.0e286
    return f"\x00slot{slot}\x00"


class Compiler:
    def __init__(self, spark: SparkSession, graph: Graph | None):
        self.spark = spark
        self.graph = graph
        self._anon = itertools.count()
        #: comma-pattern broadcast tracking (guide §3.4, round-12): True
        #: while the accumulated pattern df is only property-equality-
        #: filtered single-node scans — the side worth broadcast-hinting
        #: in a disconnected-pattern product
        self._df_selective = False
        # let-binding buffer: None = disabled (write-path compiles and
        # standalone expression compiles), [] = collecting. See _let.
        self._lets: list[tuple[str, Column]] | None = None
        # VALUE-struct narrowing (see _narrow_value): None until
        # compile_query decides it for the statement; sub-compilers of
        # sub-patterns and the write path never decide it (no narrowing)
        self._narrow_values: bool | None = None

    # ------------------------------------------------------------ entry

    def compile_template(self, q) -> tuple[DataFrame, dict]:
        """Compile statement `q` with each parameter slot as its
        sentinel (a generic plan). Returns the plan and the slots the
        compile pinned, {slot: value}: the values it read in Python,
        which the plan is valid for."""
        for p in q.params:
            p.sentinel, p.pinned = slot_sentinel(p.kind, p.slot), False
        try:
            df = self.compile_query(q)
        finally:
            for p in q.params:
                p.sentinel = None
        return df, {p.slot: p.literal for p in q.params if p.pinned}

    def compile_query(self, q) -> DataFrame:
        if self._narrow_values is None:
            self._narrow_values = not _has_star(q)
        if isinstance(q, A.SetOp):
            left = self.compile_query(q.left)
            right = self.compile_query(q.right)
            if q.op == "union_all":
                return left.unionByName(right)
            if q.op == "union":
                # UNION DISTINCT dedups under gtype ORDERABILITY equality
                # (1 = 1.0 collapse — cypher_setop.sql's int/float
                # coercion rows); gval columns are recognized by shape
                # since single-query scopes are not carried across the
                # set-op tree
                u = left.unionByName(right)
                sc = Scope()
                for f in u.schema.fields:
                    if _is_gval_type(f.dataType):
                        sc.kinds[f.name] = VKIND_VALUE
                return self._distinct_rows(u, sc)
            if q.op == "intersect":
                return left.intersect(right)
            if q.op == "intersect_all":
                # multiset intersection (min of multiplicities)
                return left.intersectAll(right)
            if q.op == "except":
                # SQL EXCEPT (DISTINCT): a left row with ANY match on the
                # right is removed entirely (not multiset difference)
                return left.subtract(right)
            if q.op == "except_all":
                # multiset difference (multiplicities subtract)
                return left.exceptAll(right)
            raise CompileError(q.op)
        return self.compile_single(q)

    def compile_single(self, q: A.SingleQuery) -> DataFrame:
        df: DataFrame | None = None
        scope = Scope()
        for clause in q.clauses:
            df, scope = self.compile_clause(clause, df, scope)
        if df is None:
            raise CompileError("query produced no result")
        return df

    def compile_clause(self, clause, df, scope):
        prev, self._lets = self._lets, []
        prev_binder = G.set_scalar_binder(self._let_scalar)
        try:
            if isinstance(clause, A.MatchClause):
                return self.compile_match(clause, df, scope)
            if isinstance(clause, A.UnwindClause):
                return self.compile_unwind(clause, df, scope)
            if isinstance(clause, (A.WithClause, A.ReturnClause)):
                return self.compile_projection(clause, df, scope)
            raise CompileError(f"unsupported clause {type(clause).__name__} in read path")
        finally:
            self._lets = prev
            G.set_scalar_binder(prev_binder)

    # -------------------------------------------------- let bindings
    #
    # Composed gval expressions (a temporal function over an arithmetic
    # result over a cast...) share builder sub-trees as a JVM DAG, but
    # Catalyst ANALYSIS walks expressions as trees — every consumer-side
    # field access multiplies the walked path count, and a 4-clause
    # temporal query spent 13s of 18s inside eager DataFrame.select
    # analysis (round-4 verdict item #1). A "let" materializes a
    # composed sub-expression as a hidden projection column — a physical
    # boundary — so its k downstream field reads are k cheap attribute
    # ExtractValues. Spark's CollapseProject deliberately keeps such
    # boundaries when the alias is non-cheap and multiply referenced, so
    # the executed plan keeps the sharing too.

    def _let(self, col: Column) -> Column:
        name = f"__let{next(self._anon)}"
        self._lets.append((name, col))
        # the ref keeps the bound value's statically-known type set and
        # native payload so downstream operator dispatch can still prune
        # branches and compare natively
        nat = G.native(col)
        return G.gv_ref(name, types=G.gv_types(col), native_kind=nat[0] if nat else None)

    def _let_scalar(self, col: Column) -> Column:
        """Function-kernel-internal let (G.let_scalar binder): binds a
        plain (non-gval) intermediate as a hidden column and returns the
        attribute ref. See gtype.set_scalar_binder for why."""
        if self._lets is None:
            return col
        name = f"__let{next(self._anon)}"
        self._lets.append((name, col))
        return F.col(name)

    def _maybe_let(self, col: Column, node, df) -> Column:
        """let-bind `col` (the compiled gval of AST `node`) when it is a
        composed expression about to be consumed multiplicatively.
        Plain refs (Var), literals and single property reads stay
        inline — they are one attribute/variant_get deep."""
        if self._lets is None or df is None:
            return col
        if isinstance(node, (A.Lit, A.Var)):
            return col
        if isinstance(node, A.Prop) and isinstance(node.base, A.Var):
            return col
        return self._let(col)

    def _apply_lets(self, df: DataFrame) -> tuple[DataFrame, list[str]]:
        """Flush pending lets onto df as hidden columns. A later let may
        reference an earlier one (post-order compile) and same-select
        aliases are not mutually visible, so lets are flushed in
        DEPENDENCY BATCHES: consecutive lets that do not reference a
        name bound in the current batch share one select (each select's
        eager analysis costs a full plan walk — one select per let made
        driver-side build time linear in let count x plan size)."""
        if not self._lets:
            return df, []
        lets, self._lets = self._lets, []
        names = [n for n, _ in lets]
        i = 0
        while i < len(lets):
            batch = [lets[i]]
            batch_names = [lets[i][0]]
            j = i + 1
            while j < len(lets):
                c = lets[j][1]
                s = str(c._jc) if hasattr(c, "_jc") else str(c)
                # \b guards __let12 matching inside __let123
                if any(re.search(bn + r"\b", s) for bn in batch_names):
                    break
                batch.append(lets[j])
                batch_names.append(lets[j][0])
                j += 1
            df = df.select("*", *[c.alias(n) for n, c in batch])
            i = j
        return df, names

    # ------------------------------------------------------------- MATCH
    #
    # An entity value is a table row: (id, label, pv), edges with
    # start_id/end_id, pv the stored properties VARIANT. The scan binds
    # it and every clause carries it unchanged — WITH, grouping keys,
    # SET/MERGE/DELETE inputs, sub-patterns — so every n.prop access is
    # a binary variant_get, never a parse of JSON text. The VARIANT is
    # not comparable: DISTINCT and grouping key an entity on its id
    # (_entity_key). Its JSON text is rendered only where the entity
    # leaves the engine: a RETURN column (render), a path's or
    # collect()'s list (_json_view), properties(n), the @>/? operand.

    def _prop_atoms(self, scope: Scope | None, var: str, path: list[str]):
        """Property-type-catalog atom set for ``var.path`` (None =
        unknown -> runtime dispatch). Only single-key paths on labeled
        entity bindings of a graph with a live catalog resolve."""
        if scope is None or self.graph is None or len(path) != 1:
            return None
        return self.graph.prop_atoms(scope.labels.get(var), path[0])

    def _narrow_value(self, col: Column, kind: str) -> Column:
        """Materialize an INTERNAL projection column (WITH alias, group
        key) with only its statically-feasible gval fields. RETURN
        outputs and set-op branches are never narrowed (external shape
        contract); gv_col readers rebuild absent fields as typed nulls."""
        if kind != VKIND_VALUE or not self._narrow_values:
            return col
        return G.narrow_gval(col)

    def _vertex_scan(self, label: str | None, var: str) -> DataFrame:
        v = self.graph.vertices_with_label(label)
        return v.select(_row(VERTEX_SCHEMA).alias(var))

    def _oriented_edges(self, rel: A.RelPat, var: str) -> DataFrame:
        """Edge scan -> (var: edge_struct, __src, __dst) honoring direction
        (make_directed_edge_join_conditions, cypher_clause.c:3029-3060:
        undirected = OR of both orientations, expressed here as a union so
        every hop stays an equi-join)."""
        e = self.graph.edges_with_label(rel.label)
        pv = F.col("pv")
        if rel.props:
            with self._no_lets():
                for k, vexpr in rel.props.items.items():
                    atoms = self.graph.prop_atoms(rel.label, k) if self.graph else None
                    e = e.filter(
                        self._prop_eq(G.prop_access_variant(pv, [k], atoms=atoms), vexpr)
                    )
        struct = _row(EDGE_SCHEMA).alias(var)
        out_e = e.select(struct, F.col("start_id").alias("__src"), F.col("end_id").alias("__dst"))
        in_e = e.select(struct, F.col("end_id").alias("__src"), F.col("start_id").alias("__dst"))
        if rel.direction == "out":
            return out_e
        if rel.direction == "in":
            return in_e
        # a self-loop is the same (edge, src, dst) row in both orientations
        # — keep the out-orientation copy only (vle.py does the same dedup)
        return out_e.unionByName(in_e.filter(F.col("__src") != F.col("__dst")))

    @contextmanager
    def _no_lets(self):
        """Disable let-binding while compiling SCAN-side predicates and
        sub-pattern compiles: their expressions go straight into
        df.filter on a scan that never receives the hidden let
        projection — keeping them inline also preserves the Filter's
        scan position. Clears the GLOBAL scalar binder too: function
        kernels (from_variant, temporal) route through it, and during a
        sub-Compiler's compile it would still point at the OUTER
        compiler's let buffer."""
        prev, self._lets = self._lets, None
        prev_binder = G.set_scalar_binder(None)
        try:
            yield
        finally:
            self._lets = prev
            G.set_scalar_binder(prev_binder)

    def _filter_cond(self, w, df, scope) -> Column:
        """WHERE/HAVING predicate -> Spark boolean, splitting TOP-LEVEL
        AND chains into plain boolean conjuncts. The 3VL AND kernel is
        one opaque CASE tree Catalyst cannot decompose — conjuncts
        locked inside it never push below a join, so
        `MATCH (a), (b) WHERE a.x = 1 AND b.y = 2` kept an N x N
        cartesian. Kleene identity: truth(x AND y) == truth(x) AND
        truth(y) (unknown is never true), so the split is exact for
        filtering."""
        if isinstance(w, A.BinOp) and w.op == "AND":
            return self._filter_cond(w.left, df, scope) & self._filter_cond(
                w.right, df, scope
            )
        return G.truth(self.compile_expr(w, df, scope))

    def _prop_eq(self, prop_gv: Column, vexpr) -> Column:
        """Pattern property map {k: v} -> containment qual
        (create_property_constraints, cypher_clause.c:106)."""
        gv = self.compile_expr(vexpr, None)
        return G.truth(G.op_eq(prop_gv, gv))

    def _node_filters(self, df: DataFrame, node: A.NodePat, var: str) -> DataFrame:
        if node.props:
            with self._no_lets():
                for k, vexpr in node.props.items.items():
                    atoms = (
                        self.graph.prop_atoms(node.label, k) if self.graph else None
                    )
                    prop = G.prop_access_variant(F.col(var)["pv"], [k], atoms=atoms)
                    df = df.filter(self._prop_eq(prop, vexpr))
        return df

    def compile_match(self, m: A.MatchClause, df, scope):
        if self.graph is None:
            raise CompileError("no graph selected")
        new_scope = scope.copy()
        new_edge_vars: list[str] = []
        new_vle_vars: list[str] = []

        if m.optional:
            pat = Compiler(self.spark, self.graph)
            with self._no_lets():  # sub-compile: outer binder must not leak in
                pdf, pscope = pat.compile_match(
                    A.MatchClause(m.paths, m.where, False, []), None, Scope()
                )
            shared = [v for v in pscope.kinds if v in scope.kinds]
            new_cols = [v for v in pscope.kinds if v not in scope.kinds]
            if df is None:
                raise CompileError("OPTIONAL MATCH without a preceding clause")
            pdf2 = pdf
            for v in shared:
                pdf2 = pdf2.withColumnRenamed(v, f"__opt_{v}")
            if shared:
                cond = None
                for v in shared:
                    c = df[v]["id"] == pdf2[f"__opt_{v}"]["id"]
                    cond = c if cond is None else (cond & c)
            else:
                cond = F.lit(True)
            joined = df.join(pdf2, cond, "left_outer")
            result = joined.select(*[df[c] for c in df.columns], *[pdf2[c] for c in new_cols])
            for v in new_cols:
                new_scope.kinds[v] = pscope.kinds[v]
                if v in pscope.labels:
                    new_scope.labels[v] = pscope.labels[v]
            return result, new_scope

        for path in m.paths:
            df = self._compile_path(path, df, new_scope, new_edge_vars, new_vle_vars)

        # edge-uniqueness quals (prevent_duplicate_edges, c.c:2962-3026)
        for a, b in itertools.combinations(new_edge_vars, 2):
            df = df.filter(F.col(a)["id"] != F.col(b)["id"])
        for ev, vv in itertools.product(new_edge_vars, new_vle_vars):
            df = df.filter(~F.array_contains(F.col(vv)["edge_ids"], F.col(ev)["id"]))
        for a, b in itertools.combinations(new_vle_vars, 2):
            df = df.filter(~F.arrays_overlap(F.col(a)["edge_ids"], F.col(b)["edge_ids"]))

        if m.where is not None:
            w, df = self._rewrite_exists(m.where, df, new_scope)
            cond = self._filter_cond(w, df, new_scope)
            df, letn = self._apply_lets(df)
            df = df.filter(cond)
            if letn:
                df = df.drop(*letn)
        if m.order_by:
            sort_cols = [self._sort_col(si, df, new_scope) for si in m.order_by]
            df, letn = self._apply_lets(df)
            df = df.orderBy(*sort_cols)
            if letn:
                df = df.drop(*letn)
        return df, new_scope

    # ------------------------------------------------- EXISTS (pattern)

    def _rewrite_exists(self, expr, df, scope):
        """Replace every ExistsPattern in a boolean expression with a
        correlated marker column (reference: sub-pattern sublinks,
        transform_cypher_sub_pattern cypher_clause.c:2575-2607 /
        cypher_expr.c:82,231).

        The pattern is compiled standalone, reduced to the DISTINCT ids of
        the variables shared with the outer scope, and left-outer-joined
        back — a semi-join-shaped plan whose marker works in ANY boolean
        position (WHERE EXISTS(..), NOT EXISTS(..), x OR EXISTS(..)):
        coalesce(marker, false) is the predicate's truth value."""

        def walk(e, df):
            if isinstance(e, A.SubqueryCmp):
                marker = f"__sq{next(self._anon)}"
                df = self._attach_subquery_cmp(marker, e, df, scope)
                scope.kinds[marker] = VKIND_VALUE
                return A.Var(marker), df
            if isinstance(e, A.ExistsPattern):
                marker = f"__exists{next(self._anon)}"
                sub = Compiler(self.spark, self.graph)
                # existence-only consumer: a single unbound VLE with
                # lo <= 1 can run in BFS reachability mode (bounded by
                # pair count, not path count; terminates at the graph
                # diameter for unbounded `*`) — see vle.py
                rels = [el for el in e.pattern.elements[1::2]]
                if (
                    e.pattern.var is None
                    and len(rels) == 1
                    and rels[0].varlen is not None
                    and rels[0].var is None
                    and (rels[0].varlen[0] or 0) <= 1
                ):
                    sub._vle_reachability = True
                with self._no_lets():  # sub-compile: outer binder must not leak in
                    pdf, pscope = sub.compile_match(
                        A.MatchClause([e.pattern], None, False, []), None, Scope()
                    )
                shared = [v for v in pscope.kinds if v in scope.kinds]
                raw = f"{marker}_raw"
                if shared:
                    ex = (
                        pdf.select(*[F.col(v)["id"].alias(f"__exk_{v}") for v in shared])
                        .distinct()
                        .withColumn(raw, F.lit(True))
                    )
                    cond = None
                    for v in shared:
                        c = F.col(v)["id"] == F.col(f"__exk_{v}")
                        cond = c if cond is None else (cond & c)
                    df = df.join(ex, cond, "left_outer").drop(
                        *[f"__exk_{v}" for v in shared]
                    )
                    df = df.withColumn(
                        marker, G.gv_bool(F.coalesce(F.col(raw), F.lit(False)))
                    ).drop(raw)
                else:
                    # uncorrelated: broadcast a 0/1-row marker instead of
                    # probing at COMPILE time (the old pdf.take(1) ran a
                    # Spark job while building the plan)
                    ex = F.broadcast(pdf.limit(1).select(F.lit(True).alias(raw)))
                    df = df.join(ex, F.lit(True), "left_outer")
                    df = df.withColumn(
                        marker, G.gv_bool(F.coalesce(F.col(raw), F.lit(False)))
                    ).drop(raw)
                scope.kinds[marker] = VKIND_VALUE
                return A.Var(marker), df
            if isinstance(e, A.BinOp):
                l, df = walk(e.left, df)
                r, df = walk(e.right, df)
                return A.BinOp(e.op, l, r), df
            if isinstance(e, A.UnaryOp):
                o, df = walk(e.operand, df)
                return A.UnaryOp(e.op, o), df
            if isinstance(e, A.IsNull):
                o, df = walk(e.operand, df)
                return A.IsNull(o, e.negated), df
            if isinstance(e, A.BoolTest):
                o, df = walk(e.operand, df)
                return A.BoolTest(o, e.which, e.negated), df
            if isinstance(e, A.DistinctFrom):
                l, df = walk(e.left, df)
                r, df = walk(e.right, df)
                return A.DistinctFrom(l, r, e.negated), df
            if isinstance(e, A.Cast):
                o, df = walk(e.operand, df)
                return A.Cast(o, e.type_name), df
            if isinstance(e, A.CaseExpr):
                operand, default = e.operand, e.default
                if operand is not None:
                    operand, df = walk(operand, df)
                if default is not None:
                    default, df = walk(default, df)
                whens = []
                for c, t_ in e.whens:
                    c, df = walk(c, df)
                    t_, df = walk(t_, df)
                    whens.append((c, t_))
                return A.CaseExpr(operand, whens, default), df
            if isinstance(e, A.FuncCall):
                # startnode(e)/endnode(e): resolve the endpoint vertex by
                # an id equi-join (edge.c:354-366 builds the vertex from
                # the graph's vertex table the same way)
                if (
                    e.name in ("startnode", "endnode")
                    and len(e.args) == 1
                    and isinstance(e.args[0], A.Var)
                    and scope.kinds.get(e.args[0].name) == VKIND_EDGE
                    and self.graph is not None
                    and df is not None
                ):
                    marker = f"__epn{next(self._anon)}"
                    side = "start_id" if e.name == "startnode" else "end_id"
                    vt = self.graph.vertices.select(
                        F.col("id").alias(f"__vid_{marker}"),
                        _row(VERTEX_SCHEMA).alias(marker),
                    )
                    df = df.join(
                        vt,
                        F.col(e.args[0].name)[side] == F.col(f"__vid_{marker}"),
                        "left_outer",
                    ).drop(f"__vid_{marker}")
                    scope.kinds[marker] = VKIND_VERTEX
                    return A.Var(marker), df
                # nodes(ve)/relationships(ve)/edges(ve) over a VLE
                # binding (old/regress/variable_edge_functions.sql):
                # resolve the ordered id chains to entity-struct arrays
                # once per variable; functions_map reads the attached
                # __pe_/__pn_ columns
                if (
                    e.name in ("nodes", "relationships", "edges")
                    and len(e.args) == 1
                    and isinstance(e.args[0], A.Var)
                    and scope.kinds.get(e.args[0].name) == VKIND_VLE
                    and self.graph is not None
                    and df is not None
                    and f"__pe_{e.args[0].name}" not in df.columns
                ):
                    df = self._attach_vle_arrays(df, e.args[0].name)
                    return e, df
                args = []
                for a in e.args:
                    a, df = walk(a, df)
                    args.append(a)
                return A.FuncCall(
                    e.name, args, distinct=e.distinct, star=e.star,
                    over=e.over, filter_where=e.filter_where,
                    within_group=e.within_group,
                ), df
            return e, df

        return walk(expr, df)

    # ---------------------------------------- quantified subqueries

    def _attach_subquery_cmp(self, marker: str, e: A.SubqueryCmp, df, scope) -> DataFrame:
        """`expr op ANY/ALL (query)` / `expr IN (query)` -> a marker gval
        column with SQL 3VL (sublink transform, cypher_expr.c:82,231;
        grammar g.y:17037-17040, 17110-17126). The subquery is
        uncorrelated; its contribution to the outer plan is
          - a broadcast 1-ROW aggregate (non-null count, null count,
            min/max orderability keys) cross-joined to every outer row —
            constant data movement at any outer scale, and
          - for membership ops (= ANY / <> ALL) an equi join on the
            canonical key (hash/broadcast-joinable, never a per-row
            scan of the subquery result).
        Order ops reduce to min/max because gtype comparison IS the
        orderability total order, so `x > s for some s` <=> `x > min`."""
        if df is None:
            raise CompileError("quantified subquery requires a preceding clause")
        sub = Compiler(self.spark, self.graph)
        with self._no_lets():  # sub-compile: outer binder must not leak in
            sdf = sub.compile_query(e.query)
        if len(sdf.columns) != 1:
            raise CompileError("quantified subquery must return exactly one column")
        scol = G.gv_col(sdf, sdf.columns[0])
        # Compile the left operand with an isolated let buffer and flush
        # its lets onto df BEFORE the aggregate/membership joins reference
        # the compiled column — otherwise a composed left operand (e.g.
        # toupper(p.name + 'x') = ANY (...)) leaves __letN refs unresolved.
        outer_lets, self._lets = self._lets, ([] if self._lets is not None else None)
        left = self.compile_expr(e.left, df, scope)
        df, left_lets = (self._apply_lets(df) if self._lets is not None else (df, []))
        self._lets = outer_lets
        op, quant = e.op, e.quant
        membership = (op == "=" and quant == "any") or (op == "<>" and quant == "all")

        n_c, nn_c = f"{marker}_n", f"{marker}_nn"
        min_c, max_c = f"{marker}_min", f"{marker}_max"
        valid = scol["t"] != G.T_NULL
        agg = sdf.agg(
            F.count(F.when(valid, 1)).alias(n_c),
            F.count(F.when(~valid, 1)).alias(nn_c),
            F.min(F.when(valid, G.sort_key(scol))).alias(min_c),
            F.max(F.when(valid, G.sort_key(scol))).alias(max_c),
        )
        df = df.join(F.broadcast(agg), F.lit(True), "left_outer")
        n, nn = F.col(n_c), F.col(nn_c)
        smin, smax = F.col(min_c), F.col(max_c)
        kx = G.sort_key(left)
        x_null = left["t"] == G.T_NULL
        drops = [n_c, nn_c, min_c, max_c, *left_lets]

        found = None
        if membership:
            key_c = f"{marker}_k"
            keys = (
                sdf.select(G.canon_key_text(scol).alias(key_c))
                .filter(F.col(key_c).isNotNull())
                .distinct()
            )
            df = df.join(keys, G.canon_key_text(left) == F.col(key_c), "left_outer")
            found = F.col(key_c).isNotNull()
            drops.append(key_c)

        if quant == "all":
            if membership:  # <> ALL (NOT IN)
                hit, empty_val, miss_val = found, F.lit(True), F.lit(True)
                hit_val = F.lit(False)
            else:
                falsify = {
                    ">": kx <= smax, ">=": kx < smax,
                    "<": kx >= smin, "<=": kx > smin,
                    "=": ~((smin == kx) & (smax == kx)),
                }.get(op)
                if falsify is None:
                    raise CompileError(f"unsupported quantified op {op} ALL")
                hit, hit_val = falsify, F.lit(False)
                empty_val, miss_val = F.lit(True), F.lit(True)
        else:  # any/some
            empty_val, miss_val = F.lit(False), F.lit(False)
            hit_val = F.lit(True)
            if membership:  # = ANY (IN)
                hit = found
            else:
                satisfy = {
                    ">": kx > smin, ">=": kx >= smin,
                    "<": kx < smax, "<=": kx <= smax,
                    # some value differs from x iff min or max differs —
                    # duplicate-safe (n rows may all equal x)
                    "<>": ~((smin == kx) & (smax == kx)),
                }.get(op)
                if satisfy is None:
                    raise CompileError(f"unsupported quantified op {op} ANY")
                hit = satisfy
        nullb = F.lit(None).cast("boolean")
        res = (
            F.when((n == 0) & (nn == 0), empty_val)
            .when(x_null, nullb)
            .when((n > 0) & F.coalesce(hit, F.lit(False)), hit_val)
            .when(nn > 0, nullb)
            .otherwise(miss_val)
        )
        return df.withColumn(marker, G.gv_bool(res)).drop(*drops)

    def _compile_path(self, path: A.Path, df, scope: Scope, new_edge_vars, new_vle_vars):
        elements = path.elements
        df, prev_var = self._bind_node(elements[0], df, scope)
        order: list[tuple[str, str]] = [("v", prev_var)]

        i = 1
        if len(elements) > 1:
            # a relationship traversal fans the row set out — the
            # accumulated df is no longer a selective scan product
            self._df_selective = False
        while i < len(elements):
            rel: A.RelPat = elements[i]
            node: A.NodePat = elements[i + 1]
            i += 2
            if rel.varlen is not None:
                df, prev_var = self._bind_vle(rel, node, df, prev_var, scope, new_vle_vars)
                order.append(("vle", new_vle_vars[-1]))
                order.append(("v", prev_var))
                continue
            evar = rel.var or f"_e{next(self._anon)}"
            if rel.var and rel.var in scope.kinds:
                raise CompileError(f"edge variable {rel.var!r} reused in pattern")
            oriented = self._oriented_edges(rel, evar)
            df = df.join(oriented, F.col(prev_var)["id"] == F.col("__src"))
            scope.kinds[evar] = VKIND_EDGE
            scope.labels[evar] = rel.label
            new_edge_vars.append(evar)

            if node.var and node.var in scope.kinds:
                # bound node: close the triangle, no rescan
                df = df.filter(F.col("__dst") == F.col(node.var)["id"])
                if node.label:
                    df = df.filter(F.col(node.var)["label"] == node.label)
                df = self._node_filters(df, node, node.var)
                nvar = node.var
            else:
                nvar = node.var or f"_n{next(self._anon)}"
                nscan = self._vertex_scan(node.label, nvar)
                df = df.join(nscan, F.col("__dst") == F.col(nvar)["id"])
                df = self._node_filters(df, node, nvar)
                scope.kinds[nvar] = VKIND_VERTEX
                scope.labels[nvar] = node.label
            df = df.drop("__src", "__dst")
            order.append(("e", evar))
            order.append(("v", nvar))
            prev_var = nvar
        if path.var:
            df = self._bind_named_path(path.var, order, df, scope)
        return df

    # --------------------------------------------------- named paths
    #
    # p = (...) binds a traversal value (traversal.h:46-58; built by
    # build_traversal, src/backend/utils/adt/traversal.c:64): ordered
    # vertex and edge arrays of entity values. Fixed-length patterns
    # assemble the arrays from the already-bound entity columns (free);
    # VLE segments resolve their ordered id chains to entity values with
    # one posexplode -> equi-join -> re-aggregate per segment — keyed on
    # the deterministic (start_id, edge_ids) path identity, so the
    # resolve is a pure shuffle plan (no checkpoint, no driver state).

    def _attach_vle_arrays(self, df, vvar: str):
        """Resolve a VLE binding's ordered edge/node id arrays to entity
        values: adds columns __pe_<vvar> (array<edge>) and __pn_<vvar>
        (array<vertex>), each in traversal order."""
        g = self.graph
        paths = df.select(
            F.col(vvar)["start_id"].alias("__ps"),
            F.col(vvar)["edge_ids"].alias("__pids"),
            F.col(vvar)["node_ids"].alias("__nids"),
        ).distinct()

        def by_pos(value: str) -> Column:
            # the collected values in __pos order: a VARIANT is not
            # orderable, so the sort compares positions only
            pairs = F.collect_list(F.struct("__pos", value))
            return F.transform(
                F.array_sort(pairs, lambda a, b: a["__pos"] - b["__pos"]), lambda x: x[value]
            )

        es = g.edges.select(
            F.col("id").alias("__eid"),
            _row(EDGE_SCHEMA).alias("__es"),
        )
        ex = paths.select(
            "__ps", "__pids", F.posexplode("__pids").alias("__pos", "__eid")
        )
        earr = (
            ex.join(es, "__eid")
            .groupBy("__ps", "__pids")
            .agg(by_pos("__es").alias(f"__pe_{vvar}"))
        )

        vs = g.vertices.select(
            F.col("id").alias("__vid"), _row(VERTEX_SCHEMA).alias("__vs")
        )
        nx = paths.select(
            "__ps", "__pids", F.posexplode("__nids").alias("__pos", "__vid")
        )
        narr = (
            nx.join(vs, "__vid")
            .groupBy("__ps", "__pids")
            .agg(by_pos("__vs").alias(f"__pn_{vvar}"))
        )
        resolved = earr.join(narr, ["__ps", "__pids"], "full_outer")
        df = df.join(
            resolved,
            (F.col(vvar)["start_id"] == F.col("__ps"))
            & (F.col(vvar)["edge_ids"] == F.col("__pids")),
            "left_outer",
        ).drop("__ps", "__pids")
        # zero-length paths have no edges -> no resolve row for __pe
        empty_e = F.array().cast(T.ArrayType(EDGE_SCHEMA))
        df = df.withColumn(f"__pe_{vvar}", F.coalesce(F.col(f"__pe_{vvar}"), empty_e))
        return df

    def _bind_named_path(self, pvar: str, order: list[tuple[str, str]], df, scope: Scope):
        if pvar in scope.kinds:
            raise CompileError(f"path variable {pvar!r} already bound")
        node_segs: list[Column] = []
        edge_segs: list[Column] = []
        for kind, var in order:
            if kind == "v":
                node_segs.append(F.array(F.col(var)))
            elif kind == "e":
                edge_segs.append(F.array(F.col(var)))
            else:  # vle
                df = self._attach_vle_arrays(df, var)
                edge_segs.append(F.col(f"__pe_{var}"))
                # interior vertices only: endpoints are bound separately
                nodes = F.col(f"__pn_{var}")
                node_segs.append(F.slice(nodes, 2, F.greatest(F.size(nodes) - 2, F.lit(0))))
        nodes_arr = F.concat(*node_segs) if len(node_segs) > 1 else node_segs[0]
        edges_arr = (
            F.concat(*edge_segs)
            if len(edge_segs) > 1
            else (edge_segs[0] if edge_segs else F.array().cast(T.ArrayType(EDGE_SCHEMA)))
        )
        df = df.withColumn(pvar, F.struct(nodes_arr.alias("nodes"), edges_arr.alias("edges")))
        drops = [c for c in df.columns if c.startswith("__pe_") or c.startswith("__pn_")]
        df = df.drop(*drops)
        scope.kinds[pvar] = VKIND_PATH
        return df

    def _bind_node(self, node: A.NodePat, df, scope: Scope):
        if node.var and node.var in scope.kinds:
            if node.label:
                df = df.filter(F.col(node.var)["label"] == node.label)
            df = self._node_filters(df, node, node.var)
            return df, node.var
        var = node.var or f"_n{next(self._anon)}"
        scan = self._vertex_scan(node.label, var)
        scan = self._node_filters(scan, node, var)
        if df is None:
            df = scan
            # "selective so far": the pattern product up to here is only
            # property-equality-filtered single-node scans
            self._df_selective = bool(node.props)
        elif node.props:
            # guide §3.4 (round-12): a comma-pattern product with a
            # property-equality-filtered scan must never plan as a raw
            # CartesianProduct — catalog stats cannot see the filter's
            # selectivity, so past the size estimate Spark silently
            # downgrades the BNLJ to a cartesian (observed on
            # vector_ops_topk: BNLJ at sf0.01, CartesianProduct at
            # sf0.1). The equality map is the one static signal of a
            # selective side; the hint is semantics-free.
            df = df.crossJoin(F.broadcast(scan))
        elif self._df_selective:
            # mirror case: the accumulated left side is the filtered
            # one (MATCH (q {k: v}), (n) binds q first)
            df = F.broadcast(df).crossJoin(scan)
            self._df_selective = False
        else:
            df = df.crossJoin(scan)
            self._df_selective = False
        scope.kinds[var] = VKIND_VERTEX
        scope.labels[var] = node.label
        return df, var

    def _bind_vle(self, rel: A.RelPat, node: A.NodePat, df, prev_var, scope: Scope, new_vle_vars):
        from postgraph_spark.operators.vle import vle as vle_op

        lo, hi = rel.varlen
        prop_filter = None
        if rel.props:
            with self._no_lets():  # scan-side predicate, see _no_lets
                for k, vexpr in rel.props.items.items():
                    # vle applies the filter AFTER its edge-label scan,
                    # so the label's catalog atoms are sound here
                    atoms = self.graph.prop_atoms(rel.label, k)
                    c = self._prop_eq(
                        G.prop_access_variant(F.col("pv"), [k], atoms=atoms), vexpr
                    )
                    prop_filter = c if prop_filter is None else (prop_filter & c)
        # push the already-bound start set into the traversal: the
        # reference's VLE gets its endpoints lazily from the lateral join
        # (add_vle_to_query, c.c:2692-2710); here the frontier simply
        # starts from the bound ids instead of every vertex
        starts = df.select(F.col(prev_var)["id"].alias("id")).distinct()
        paths = vle_op(
            self.graph,
            lo=lo,
            hi=hi,
            direction=rel.direction,
            edge_label=rel.label,
            edge_prop_filter=prop_filter,
            start_ids=starts,
            reachability=(
                getattr(self, "_vle_reachability", False) and rel.var is None
            ),
        )
        vvar = rel.var or f"_vle{next(self._anon)}"
        pstruct = paths.select(
            F.struct(
                F.col("start_id"), F.col("end_id"), F.col("edge_ids"),
                F.col("node_ids"), F.col("hops"),
            ).alias(vvar)
        )
        df = df.join(pstruct, F.col(prev_var)["id"] == F.col(vvar)["start_id"])
        scope.kinds[vvar] = VKIND_VLE
        new_vle_vars.append(vvar)

        if node.var and node.var in scope.kinds:
            df = df.filter(F.col(vvar)["end_id"] == F.col(node.var)["id"])
            if node.label:
                df = df.filter(F.col(node.var)["label"] == node.label)
            nvar = node.var
        else:
            nvar = node.var or f"_n{next(self._anon)}"
            nscan = self._vertex_scan(node.label, nvar)
            df = df.join(nscan, F.col(vvar)["end_id"] == F.col(nvar)["id"])
            df = self._node_filters(df, node, nvar)
            scope.kinds[nvar] = VKIND_VERTEX
            scope.labels[nvar] = node.label
        return df, nvar

    # ------------------------------------------------------------ UNWIND

    def compile_unwind(self, u: A.UnwindClause, df, scope):
        self._df_selective = False  # UNWIND fans the rows out
        if df is None:
            df = self.spark.range(1).select(F.lit(1).alias("__one"))
            base_cols = []
        else:
            base_cols = list(df.columns)
        gv = self.compile_expr(u.expr, df, scope)
        arr = G.to_variant_array(gv)
        df, _letn = self._apply_lets(df)
        df = df.select(*base_cols, F.explode(arr).alias("__unwound"))
        df = df.select(*base_cols, G.from_variant(F.col("__unwound")).alias(u.alias))
        new_scope = scope.copy()
        new_scope.kinds[u.alias] = VKIND_VALUE
        return df, new_scope

    # -------------------------------------------------- WITH / RETURN

    def _contains_agg(self, e) -> bool:
        if isinstance(e, A.FuncCall):
            if e.name in AGG_FNS and e.over is None:  # agg OVER = window fn
                return True
            return any(self._contains_agg(a) for a in e.args)
        if isinstance(e, A.BinOp):
            return self._contains_agg(e.left) or self._contains_agg(e.right)
        if isinstance(e, A.UnaryOp):
            return self._contains_agg(e.operand)
        if isinstance(e, A.IsNull):
            return self._contains_agg(e.operand)
        if isinstance(e, A.BoolTest):
            return self._contains_agg(e.operand)
        if isinstance(e, A.DistinctFrom):
            return self._contains_agg(e.left) or self._contains_agg(e.right)
        if isinstance(e, A.Cast):
            return self._contains_agg(e.operand)
        if isinstance(e, (A.Prop, A.Index)):
            return self._contains_agg(e.base)
        if isinstance(e, A.CaseExpr):
            parts = [e.operand, e.default] + [x for w in e.whens for x in w]
            return any(self._contains_agg(p) for p in parts if p is not None)
        if isinstance(e, A.ListLit):
            return any(self._contains_agg(x) for x in e.items)
        return False

    def _extract_aggs(self, e, found: list):
        """Replace aggregate subtrees with Var placeholders (the analog of
        the implicit-grouping walk, cypher_item.c:168-236)."""
        if isinstance(e, A.FuncCall) and e.name in AGG_FNS and e.over is None:
            found.append(e)
            return A.Var(f"__agg{len(found) - 1}")
        if isinstance(e, A.FuncCall):
            # scalar fn over an aggregate, e.g. round(sum(x), 2)
            return A.FuncCall(
                e.name,
                [self._extract_aggs(a, found) for a in e.args],
                distinct=e.distinct,
                star=e.star,
                over=e.over,
                filter_where=e.filter_where,
                within_group=e.within_group,
            )
        if isinstance(e, A.BinOp):
            return A.BinOp(e.op, self._extract_aggs(e.left, found), self._extract_aggs(e.right, found))
        if isinstance(e, A.UnaryOp):
            return A.UnaryOp(e.op, self._extract_aggs(e.operand, found))
        if isinstance(e, A.IsNull):
            return A.IsNull(self._extract_aggs(e.operand, found), e.negated)
        if isinstance(e, A.BoolTest):
            return A.BoolTest(self._extract_aggs(e.operand, found), e.which, e.negated)
        if isinstance(e, A.DistinctFrom):
            return A.DistinctFrom(
                self._extract_aggs(e.left, found),
                self._extract_aggs(e.right, found),
                e.negated,
            )
        if isinstance(e, A.Cast):
            return A.Cast(self._extract_aggs(e.operand, found), e.type_name)
        return e

    def compile_projection(self, clause, df, scope):
        # a projection boundary (WITH, aggregation) ends the pattern
        # product the broadcast hint in _bind_node reasons about
        self._df_selective = False
        items: list[A.ReturnItem] = list(clause.items)
        is_with = isinstance(clause, A.WithClause)
        if df is None:
            # literal-only projection (plain RETURN ...): materialize the
            # 1-row frame UP FRONT so _maybe_let can bind composed
            # subtrees — without it, a deep operand (e.g. nested map
            # literals under @>) re-expands per consumer and analysis
            # blows up
            df = self.spark.range(1).select(F.lit(1).alias("__one"))
        # WITH ... WHERE resolves against the INPUT scope (the reference
        # puts the qual in the same Query as the projection, so FROM
        # columns are visible — regress/sql/cypher_with.sql:
        # `MATCH (n) WITH n as a WHERE n.i = 1 RETURN a`). openCypher
        # additionally lets WHERE reference the clause's own aliases
        # (`WITH x AS y WHERE y > 1`) — unresolvable input-side quals
        # defer to after the projection.
        deferred_where = None
        if is_with and clause.where is not None and df is not None:
            try:
                w, df2 = self._rewrite_exists(clause.where, df, scope)
                cond = self._filter_cond(w, df2, scope)
                df2, letn = self._apply_lets(df2)
                df = df2.filter(cond)
                if letn:
                    df = df.drop(*letn)
            except CompileError:
                if self._lets is not None:
                    self._lets = []  # discard lets of the failed attempt
                deferred_where = clause.where
        if getattr(clause, "star", False):
            # WITH * / RETURN * expand every in-scope binding;
            # reserved __-prefixed bindings (EXISTS markers) are internal
            items = [
                A.ReturnItem(A.Var(v), v) for v in scope.kinds if not v.startswith("__")
            ] + items
        # EXISTS(pattern) in projection position (RETURN exists((n)--()))
        if df is not None and self.graph is not None:
            new_items = []
            for item in items:
                e2, df = self._rewrite_exists(item.expr, df, scope)
                new_items.append(A.ReturnItem(e2, item.alias))
            items = new_items

        names = []
        for idx, item in enumerate(items):
            if item.alias:
                names.append(item.alias)
            elif isinstance(item.expr, A.Var):
                names.append(item.expr.name)
            elif isinstance(item.expr, A.Prop) and isinstance(item.expr.base, A.Var):
                names.append(item.expr.path[-1])
            elif is_with:
                raise CompileError("WITH expressions must be aliased")
            else:
                names.append(f"col{idx}")

        has_agg = any(self._contains_agg(it.expr) for it in items)
        new_scope = Scope()
        # named windows of this clause, visible to its items' OVER refs
        self._active_windows = getattr(clause, "windows", {}) or {}
        explicit_group = list(getattr(clause, "group_by", []) or [])
        having = getattr(clause, "having", None)

        if explicit_group or having is not None:
            out, new_scope = self._compile_explicit_group(
                clause, items, names, explicit_group, having, df, scope
            )
        elif not has_agg:
            cols = []
            for item, name in zip(items, names):
                col, kind = self._compile_item(item.expr, df, scope)
                # WITH aliases are engine-internal: materialize only the
                # statically-feasible gval fields so always-null payload
                # columns stop riding every downstream exchange. RETURN
                # keeps the full external shape.
                out_col = self._narrow_value(col, kind) if is_with else col
                cols.append(out_col.alias(name))
                new_scope.kinds[name] = kind
                if kind == VKIND_VALUE:
                    new_scope.vtypes[name] = G.gv_types(col)
            if df is None:
                df = self.spark.range(1)
            df, _letn = self._apply_lets(df)
            out = df.select(*cols)
        else:
            # implicit grouping: non-aggregate items become group keys
            group_items, agg_nodes, outer = [], [], []
            for item, name in zip(items, names):
                if self._contains_agg(item.expr):
                    rewritten = self._extract_aggs(item.expr, agg_nodes)
                    outer.append((name, rewritten, True))
                else:
                    group_items.append((name, item.expr))
                    outer.append((name, A.Var(name), False))
            if df is None:
                df = self.spark.range(1).select(F.lit(1).alias("__one"))
            # group-key columns are computed under reserved temp names so a
            # user alias that matches an input column (RETURN n, count(*))
            # never produces an AMBIGUOUS_REFERENCE
            key_cols, carried = [], []
            for i, (name, e) in enumerate(group_items):
                col, kind = self._compile_item(e, df, scope)
                # group keys are internal __gk columns: narrowing drops
                # always-null fields from the groupBy exchange; equality
                # is unchanged (dropped fields are null on every row). An
                # entity keys on its id and rides the aggregation as __ge
                if kind == VKIND_VALUE:
                    key_cols.append(self._narrow_value(col, kind).alias(f"__gk{i}"))
                    new_scope.vtypes[name] = G.gv_types(col)
                else:
                    key_cols.append(_entity_key(col, kind).alias(f"__gk{i}"))
                    carried.append(F.first(col).alias(f"__ge{i}"))
                new_scope.kinds[name] = kind
            agg_builders = [self._compile_agg(node, df, scope) for node in agg_nodes]
            agg_cols = [b.alias(f"__agg{i}") for i, b in enumerate(agg_builders)] + carried
            df, _letn = self._apply_lets(df)
            if key_cols:
                pre = df.select(*key_cols, "*")
                grouped = pre.groupBy(*[F.col(f"__gk{i}") for i in range(len(group_items))])
            else:
                grouped = df.groupBy()
            agg_df = grouped.agg(*agg_cols) if agg_cols else grouped.agg(F.count(F.lit(1)).alias("__cnt"))
            # outer expressions over keys + agg placeholders
            out_scope = Scope()
            for name, _ in group_items:
                out_scope.kinds[name] = new_scope.kinds[name]
            for i, b in enumerate(agg_builders):
                out_scope.kinds[f"__agg{i}"] = VKIND_VALUE
                out_scope.vtypes[f"__agg{i}"] = G.gv_types(b)
            final_cols = []
            key_pos = {name: i for i, (name, _) in enumerate(group_items)}
            for name, e, is_agg in outer:
                if is_agg:
                    col, kind = self._compile_item(e, agg_df, out_scope)
                    out_col = self._narrow_value(col, kind) if is_with else col
                    final_cols.append(out_col.alias(name))
                    new_scope.kinds[name] = kind
                    if kind == VKIND_VALUE:
                        new_scope.vtypes[name] = G.gv_types(col)
                else:
                    gki = key_pos[name]
                    kc: Column = F.col(f"__gk{gki}")
                    if new_scope.kinds[name] != VKIND_VALUE:
                        kc = F.col(f"__ge{gki}")
                    elif not is_with:
                        # RETURN re-widens a narrowed key to the full
                        # external shape (null-safe rebuild in gv_col)
                        kc = G.gv_col(
                            agg_df, f"__gk{gki}", types=new_scope.vtypes.get(name)
                        )
                    final_cols.append(kc.alias(name))
            agg_df, _letn = self._apply_lets(agg_df)
            out = agg_df.select(*final_cols)

        if deferred_where is not None:
            cond = self._filter_cond(deferred_where, out, new_scope)
            out, letn = self._apply_lets(out)
            out = out.filter(cond)
            if letn:
                out = out.drop(*letn)
        if clause.distinct:
            out = self._distinct_rows(out, new_scope)
        if clause.order_by:
            # `RETURN p.v ORDER BY p.v`: the sort expression references a
            # variable the projection dropped — when it is AST-equal to a
            # returned item, sort by that item's output column instead
            # (transform_cypher_order_by resolves against the target list
            # first, cypher_clause.c)
            order_by = []
            for si in clause.order_by:
                for item, name in zip(items, names):
                    if si.expr == item.expr:
                        si = A.SortItem(A.Var(name), si.descending, si.nulls_first)
                        break
                order_by.append(si)
            sort_cols = [self._sort_col(si, out, new_scope) for si in order_by]
            out, letn = self._apply_lets(out)
            out = out.orderBy(*sort_cols)
            if letn:
                out = out.drop(*letn)
        if clause.skip is not None:
            out = out.offset(self._int_lit(clause.skip))
        if clause.limit is not None:
            out = out.limit(self._int_lit(clause.limit))
        if not is_with and any(new_scope.kinds.get(c) in (VKIND_VERTEX, VKIND_EDGE, VKIND_PATH)
                               for c in out.columns):
            out = out.select(*[render(F.col(c), new_scope.kinds.get(c)).alias(c) for c in out.columns])
        return out, new_scope

    # ------------------------------------- explicit GROUP BY / HAVING

    def _compile_explicit_group(self, clause, items, names, group_specs, having, df, scope):
        """WITH ... GROUP BY g1, g2 [HAVING pred] (cypher_gram.y:
        5099-5171, 4383-4460): grouping keys are the listed expressions
        (plain / ROLLUP / CUBE); every non-aggregate item must match a
        key; HAVING filters groups and may contain its own aggregates."""
        if df is None:
            df = self.spark.range(1).select(F.lit(1).alias("__one"))
        new_scope = Scope()
        key_exprs: list = []
        kind = "plain"
        sets_idx: list[list[int]] = []
        for gs in group_specs:
            if gs.kind == "expr":
                key_exprs.extend(gs.exprs)
            elif gs.kind == "empty":
                # GROUP BY () — the empty grouping set (grand total),
                # g.y:4441-4490; alone it is a plain no-key aggregate
                if len(group_specs) != 1:
                    raise CompileError("empty grouping () must be the only GROUP BY item")
            elif gs.kind == "grouping_sets":
                if len(group_specs) != 1:
                    raise CompileError("GROUPING SETS must be the only GROUP BY item")
                kind = "grouping_sets"
                for s in gs.sets:
                    idxs = []
                    for e in s:
                        if e not in key_exprs:
                            key_exprs.append(e)
                        idxs.append(key_exprs.index(e))
                    sets_idx.append(idxs)
            else:
                if len(group_specs) != 1:
                    raise CompileError("ROLLUP/CUBE must be the only GROUP BY item")
                kind = gs.kind
                key_exprs.extend(gs.exprs)
        if not key_exprs and having is None and kind == "plain" and not any(
            gs.kind == "empty" for gs in group_specs
        ):
            raise CompileError("GROUP BY requires at least one key")

        is_with = isinstance(clause, A.WithClause)
        key_cols, carried = [], []
        key_types: list[frozenset | None] = []
        # what a key reads as after the aggregation: a VALUE key its
        # __gk column; an entity keys on its id and rides along as __ge
        # (null in a ROLLUP/CUBE row that rolled it up)
        key_refs: list[str] = []
        key_kinds: list[str] = []
        for i, ke in enumerate(key_exprs):
            col, _k = self._compile_item(ke, df, scope)
            key_kinds.append(_k)
            key_types.append(G.gv_types(col) if _k == VKIND_VALUE else None)
            if _k == VKIND_VALUE:
                key_cols.append(self._narrow_value(col, _k).alias(f"__gk{i}"))
                key_refs.append(f"__gk{i}")
                continue
            key_cols.append(_entity_key(col, _k).alias(f"__gk{i}"))
            key_refs.append(f"__ge{i}")
            ride = F.first(col)
            if kind != "plain":
                ride = F.when(F.grouping(f"__gk{i}") == 0, ride)
            carried.append(ride.alias(f"__ge{i}"))

        def replace_keys(e):
            """Swap subtrees equal to a grouping key for its key ref —
            lets post-aggregation expressions mention the keys."""
            for i, ke in enumerate(key_exprs):
                if e == ke:
                    return A.Var(key_refs[i])
            if isinstance(e, A.BinOp):
                return A.BinOp(e.op, replace_keys(e.left), replace_keys(e.right))
            if isinstance(e, A.UnaryOp):
                return A.UnaryOp(e.op, replace_keys(e.operand))
            if isinstance(e, A.IsNull):
                return A.IsNull(replace_keys(e.operand), e.negated)
            if isinstance(e, A.BoolTest):
                return A.BoolTest(replace_keys(e.operand), e.which, e.negated)
            if isinstance(e, A.DistinctFrom):
                return A.DistinctFrom(
                    replace_keys(e.left), replace_keys(e.right), e.negated
                )
            if isinstance(e, A.Cast):
                return A.Cast(replace_keys(e.operand), e.type_name)
            if isinstance(e, A.FuncCall):
                return A.FuncCall(
                    e.name, [replace_keys(a) for a in e.args],
                    distinct=e.distinct, star=e.star, over=e.over,
                    filter_where=e.filter_where, within_group=e.within_group,
                )
            return e

        agg_nodes: list = []
        outer = []  # (name, rewritten_expr_or_keyindex, is_agg)
        for item, name in zip(items, names):
            if self._contains_agg(item.expr):
                rewritten = replace_keys(self._extract_aggs(item.expr, agg_nodes))
                outer.append((name, rewritten, True))
            elif item.expr in key_exprs:
                outer.append((name, key_exprs.index(item.expr), False))
            else:
                # expression OVER grouping keys (PG allows g || '!' when
                # grouped by g) — compile post-aggregation with key refs
                rewritten = replace_keys(item.expr)
                if rewritten == item.expr:
                    raise CompileError(
                        f"non-aggregate item {name!r} must appear in GROUP BY"
                    )
                outer.append((name, rewritten, True))
        having_rewritten = None
        if having is not None:
            having_rewritten = replace_keys(self._extract_aggs(having, agg_nodes))
        agg_builders = [self._compile_agg(node, df, scope) for node in agg_nodes]
        agg_cols = [b.alias(f"__agg{i}") for i, b in enumerate(agg_builders)] + carried
        df, _letn = self._apply_lets(df)
        pre = df.select(*key_cols, "*")
        gcols = [F.col(f"__gk{i}") for i in range(len(key_exprs))]
        if kind == "rollup":
            grouped = pre.rollup(*gcols)
        elif kind == "cube":
            grouped = pre.cube(*gcols)
        elif kind == "grouping_sets":
            grouped = pre.groupingSets(
                [[gcols[i] for i in s] for s in sets_idx], *gcols
            )
        else:
            grouped = pre.groupBy(*gcols)
        agg_df = grouped.agg(*agg_cols) if agg_cols else grouped.agg(F.count(F.lit(1)).alias("__cnt"))

        out_scope = Scope()
        for i, b in enumerate(agg_builders):
            out_scope.kinds[f"__agg{i}"] = VKIND_VALUE
            out_scope.vtypes[f"__agg{i}"] = G.gv_types(b)
        for i in range(len(key_exprs)):
            out_scope.kinds[key_refs[i]] = key_kinds[i]
            if key_types[i] is not None:
                out_scope.vtypes[key_refs[i]] = key_types[i]
        if having_rewritten is not None:
            # HAVING may also reference item aliases bound to keys
            hdf = agg_df
            for name, ref, is_agg in outer:
                if not is_agg:
                    hdf = hdf.withColumn(name, F.col(key_refs[ref]))
                    out_scope.kinds[name] = key_kinds[ref]
                    if key_types[ref] is not None:
                        out_scope.vtypes[name] = key_types[ref]
            hcond = G.truth(self.compile_expr(having_rewritten, hdf, out_scope))
            hdf, letn = self._apply_lets(hdf)
            agg_df = hdf.filter(hcond)
            if letn:
                agg_df = agg_df.drop(*letn)

        final_cols = []
        for name, ref, is_agg in outer:
            if is_agg:
                col, _k = self._compile_item(ref, agg_df, out_scope)
                out_col = self._narrow_value(col, _k) if is_with else col
                final_cols.append(out_col.alias(name))
                if _k == VKIND_VALUE:
                    new_scope.vtypes[name] = G.gv_types(col)
            else:
                _k = key_kinds[ref]
                kc: Column = F.col(key_refs[ref])
                if is_with:
                    if key_types[ref] is not None:
                        new_scope.vtypes[name] = key_types[ref]
                elif key_types[ref] is not None:
                    # RETURN re-widens narrowed VALUE keys (null-safe:
                    # rollup/grouping-set super-aggregates stay struct-null)
                    kc = G.gv_col(agg_df, key_refs[ref], types=key_types[ref])
                final_cols.append(kc.alias(name))
            new_scope.kinds[name] = _k
        agg_df, _letn = self._apply_lets(agg_df)
        return agg_df.select(*final_cols), new_scope

    def _distinct_rows(self, df: DataFrame, scope: Scope) -> DataFrame:
        """DISTINCT under gtype ORDERABILITY equality: gval columns
        deduplicate by their canonical key (1 and 1.0 collapse; arrays
        by element keys — gtype_util.c:233-360), entity/path columns by
        their ids (_entity_key; btree cmp compares ids), keeping the
        first representative. Same single-shuffle shape as a plain
        distinct()."""
        if not any(scope.kinds.get(c) not in (None, VKIND_VLE) for c in df.columns):
            return df.distinct()
        keys = []
        for c in df.columns:
            kind = scope.kinds.get(c)
            if kind == VKIND_VALUE:
                keys.append(
                    G.canon_key_text(
                        G.gv_col(df, c, types=scope.vtypes.get(c)),
                        null_as_sentinel=True,
                    ).alias(f"__dk_{c}")
                )
            else:
                keys.append(_entity_key(F.col(c), kind).alias(f"__dk_{c}"))
        pre = df.select("*", *keys)
        grouped = pre.groupBy(*[F.col(f"__dk_{c}") for c in df.columns])
        return grouped.agg(*[F.first(c).alias(c) for c in df.columns]).select(*df.columns)

    def _int_lit(self, e) -> int:
        """Constant-fold an integer expression (SKIP/LIMIT and frame
        offsets accept expressions in the reference; only
        driver-evaluable constants are meaningful for plan shape)."""
        v = _const_int(e)
        if v is None:
            raise CompileError("SKIP/LIMIT must be integer constant expressions")
        return v

    def _sort_col(self, si: A.SortItem, df, scope) -> Column:
        e = si.expr
        gv = None
        if isinstance(e, A.Var) and e.name in scope.kinds:
            kind = scope.kinds[e.name]
            if kind == VKIND_VALUE:
                # ORDER BY uses the exact (unbounded-depth) container
                # keys; the alias's recorded static types prune the
                # container path entirely for known-scalar aliases
                # (ORDER BY revenue stays pure JVM)
                gv = G.gv_col(df, e.name, types=scope.vtypes.get(e.name))
                col = G.sort_key(gv, exact_containers=True, narrow=True)
            else:
                col = _entity_key(F.col(e.name), kind)
        else:
            gv = self.compile_expr(e, df, scope)
            col = G.sort_key(gv, exact_containers=True, narrow=True)
        # type rank 11 = null places gtype nulls last on ASC, first on
        # DESC (Postgres defaults) automatically. An EXPLICIT NULLS
        # FIRST/LAST must override that rank position: gtype nulls map
        # to SQL nulls so Spark's null ordering applies — observably the
        # reference's behavior for missing properties under NULLS
        # FIRST/LAST (regress/sql/order_by.sql x.j NULLS FIRST)
        if si.nulls_first is not None and gv is not None:
            col = F.when(gv["t"] != G.T_NULL, col)
            if si.descending:
                return col.desc_nulls_first() if si.nulls_first else col.desc_nulls_last()
            return col.asc_nulls_first() if si.nulls_first else col.asc_nulls_last()
        return col.desc() if si.descending else col.asc()

    def _compile_item(self, e, df, scope):
        """Compile a projection item -> (Column, kind). A bound entity,
        VLE or path projects as itself."""
        if isinstance(e, A.Var) and scope.kinds.get(e.name, VKIND_VALUE) != VKIND_VALUE:
            return F.col(e.name), scope.kinds[e.name]
        return self.compile_expr(e, df, scope), VKIND_VALUE

    # ------------------------------------------------------- aggregates

    def _compile_agg(self, e: A.FuncCall, df, scope) -> Column:
        name = e.name
        # percentile_cont(p) WITHIN GROUP (ORDER BY x) == the 2-arg
        # percentilecont(x, p) spelling (g.y:17218 within_group_clause)
        if name in ("percentile_cont", "percentile_disc"):
            name = name.replace("_", "")
        if name in ("percentilecont", "percentiledisc") and e.within_group:
            e = A.FuncCall(
                name, [e.within_group[0].expr, e.args[0]], filter_where=e.filter_where
            )
        # FILTER (WHERE pred): rows failing the predicate contribute a
        # gtype null, which every aggregate path already skips
        fcond = None
        if e.filter_where is not None:
            fcond = G.truth(self.compile_expr(e.filter_where, df, scope))
        if name == "count":
            if e.star:
                inner0 = F.lit(1) if fcond is None else F.when(fcond, F.lit(1))
                return G.gv_int(F.count(inner0))
            arg, kind = self._compile_item(e.args[0], df, scope)
            present = arg["t"] != G.T_NULL if kind == VKIND_VALUE else arg.isNotNull()
            if fcond is not None:
                present = present & fcond
            inner = F.when(present, F.lit(1))
            if e.distinct:
                key = F.when(
                    present,
                    G.sort_key(arg, narrow=True) if kind == VKIND_VALUE else arg["id"],
                )
                return G.gv_int(F.count_distinct(key))
            return G.gv_int(F.count(inner))
        arg, kind = self._compile_item(e.args[0], df, scope)
        arg = self._maybe_let(arg, e.args[0], df)
        if fcond is not None:
            arg = F.when(fcond, arg)
            if kind == VKIND_VALUE:
                arg = arg.otherwise(G.gv_null())
        valid = arg["t"] != G.T_NULL
        d = arg["d"]
        if name == "sum":
            all_int = F.min(F.when(arg["t"] == G.T_NUMBER, arg["i"].isNotNull()))
            s_i = F.sum(arg["i"])
            s_d = F.sum(d)
            return G.gv_num(i=F.when(all_int, s_i), d=s_d)
        if name == "avg":
            return G.gv_float(F.avg(d))
        if name in ("min", "max"):
            key = F.when(valid, G.sort_key(arg, narrow=True))
            val = F.when(valid, arg)
            picked = F.min_by(val, key) if name == "min" else F.max_by(val, key)
            return F.coalesce(picked, G.gv_null())
        if name == "collect":
            texts = F.collect_list(_json_text(arg, kind))
            if e.distinct:
                # DISTINCT over gtype values = distinct canonical texts
                texts = F.array_distinct(texts)
            limit = None
            if len(e.args) > 1:
                limit = self.compile_expr(e.args[1], df, scope)["i"]
                texts = F.slice(texts, 1, limit.cast("int"))
            return G.gv_array_json(F.concat(F.lit("["), F.array_join(texts, ","), F.lit("]")))
        if name == "stdev":
            # sample stdev; reference returns 0 (not NULL) for n=1
            return G.gv_float(F.when(F.count(d) > 0, F.coalesce(F.stddev_samp(d), F.lit(0.0))))
        if name == "stdevp":
            return G.gv_float(F.stddev_pop(d))
        if name in ("percentilecont", "percentiledisc"):
            p = self.compile_expr(e.args[1], df, scope)["d"]
            if name == "percentilecont":
                return G.gv_float(F.percentile(d, p))
            # percentile_disc: first value whose cume_dist >= p = the
            # ceil(p*n)-th (1-indexed) element of the sorted non-null set
            vals = F.sort_array(F.collect_list(d))
            n = F.size(vals)
            idx = F.greatest(F.ceil(p * n), F.lit(1)).cast("int")
            return G.gv_float(F.when(n > 0, F.get(vals, idx - 1)))
        if name in _TWO_COL_AGGS:
            b = self.compile_expr(e.args[1], df, scope)["d"]
            return G.gv_float(_TWO_COL_AGGS[name](d, b))
        if name == "regr_count":
            b = self.compile_expr(e.args[1], df, scope)["d"]
            return G.gv_int(F.regr_count(d, b))
        raise CompileError(f"unknown aggregate {name}")

    # ------------------------------------------------------ expressions

    def compile_expr(self, e, df, scope: Scope | None = None) -> Column:
        scope = scope or Scope()
        if isinstance(e, A.Lit):
            # a parameter slot compiles from its sentinel inside a plan
            # template (see compile_template); reading .literal pins nothing
            return G.gv_lit(e.literal)
        if isinstance(e, (A.ListLit, A.MapLit)):
            # fully-literal containers constant-fold to ONE json text in
            # python (PG folds Const trees at plan time): without this a
            # depth-d literal builds a to_json_text tower whose analysis
            # cost grows exponentially in d (a depth-3 literal measured
            # 300+ s of eager analysis)
            folded = _fold_const_container(e)
            if folded is not _NOT_CONST:
                import json as _json

                txt = _json.dumps(folded, separators=(",", ":"))
                if isinstance(e, A.ListLit):
                    return G.gv_array_json(F.lit(txt))
                return G.gv_object_json(F.lit(txt))
        if isinstance(e, A.ListLit):
            parts = [G.to_json_text(self.compile_expr(x, df, scope)) for x in e.items]
            safe = [F.coalesce(p, F.lit("null")) for p in parts]
            return G.gv_array_json(F.concat(F.lit("["), F.concat_ws(",", *safe), F.lit("]")))
        if isinstance(e, A.MapLit):
            import json as _json

            kvs = []
            for k, v in e.items.items():
                tv = F.coalesce(G.to_json_text(self.compile_expr(v, df, scope)), F.lit("null"))
                kvs.append(F.concat(F.lit(_json.dumps(k)), F.lit(":"), tv))
            return G.gv_object_json(F.concat(F.lit("{"), F.concat_ws(",", *kvs), F.lit("}")))
        if isinstance(e, A.Var):
            kind = scope.kinds.get(e.name)
            if kind is None:
                raise CompileError(f"unbound variable {e.name!r}")
            if kind == VKIND_VALUE:
                # typed, narrowing-tolerant read: absent (provably-null)
                # fields of a narrowed materialization read as null
                # literals; the recorded static types keep pruning live
                return G.gv_col(df, e.name, types=scope.vtypes.get(e.name))
            if kind in _ENTITY_FIELDS:
                # an entity as a value (n IS NULL, coalesce(m, n)): its
                # JSON object, as collect(n) lists it
                x = F.col(e.name)
                return G.gv_object_json(F.when(x.isNotNull(), F.to_json(_json_view(x, kind))))
            return F.col(e.name)
        if isinstance(e, A.Prop):
            base = e.base
            if (
                isinstance(base, A.Index)
                and isinstance(base.index, A.Lit)
                and isinstance(base.index.value, int)
                and base.index.value >= 0
                and not isinstance(base.index.value, bool)
            ):
                # ns[0].properties.x -> ONE variant path `$[0].properties.x`
                # instead of parse -> element -> re-parse -> field (halves
                # both the executed parse work and the analyzed tree)
                arr = self._maybe_let(self.compile_expr(base.base, df, scope), base.base, df)
                jpath = f"$[{base.index.value}]." + ".".join(e.path)
                return G.from_variant(
                    F.try_variant_get(F.try_parse_json(arr["j"]), jpath, "variant")
                )
            if isinstance(base, A.Var):
                kind = scope.kinds.get(base.name)
                if kind in (VKIND_VERTEX, VKIND_EDGE):
                    atoms = self._prop_atoms(scope, base.name, e.path)
                    return G.prop_access_variant(F.col(base.name)["pv"], e.path, atoms=atoms)
                if kind == VKIND_VALUE:
                    gv = G.gv_col(df, base.name, types=scope.vtypes.get(base.name))
                    return G.from_variant(
                        F.try_variant_get(F.try_parse_json(gv["j"]), "$." + ".".join(e.path), "variant")
                    )
                raise CompileError(f"cannot access property on {base.name!r}")
            # let-bind composed bases (ns[0].properties.x): the base's
            # 6-field gval tree would otherwise be re-walked by analysis
            # once per consumer field — the round-5 named-paths build-cost
            # residue lived exactly here
            gv = self._maybe_let(self.compile_expr(base, df, scope), base, df)
            return G.from_variant(
                F.try_variant_get(F.try_parse_json(gv["j"]), "$." + ".".join(e.path), "variant")
            )
        if isinstance(e, A.Index):
            base = self._maybe_let(self.compile_expr(e.base, df, scope), e.base, df)
            idx = self.compile_expr(e.index, df, scope)
            return G.element_access(base, idx["i"])
        if isinstance(e, A.Slice):
            return self._compile_slice(e, df, scope)
        if isinstance(e, A.BinOp):
            return self._compile_binop(e, df, scope)
        if isinstance(e, A.UnaryOp):
            if e.op == "@-@":
                # length: VLE hop count (`@-@ ve`, variable_edge_functions
                # regress), path edge count, else geometric 1-arg
                # gtype_distance (lseg/path length)
                if isinstance(e.operand, A.Var):
                    k = scope.kinds.get(e.operand.name)
                    if k == VKIND_VLE:
                        return G.gv_int(F.col(e.operand.name)["hops"].cast("long"))
                    if k == VKIND_PATH:
                        return G.gv_int(
                            F.size(F.col(e.operand.name)["edges"]).cast("long")
                        )
                from postgraph_spark.functions import geometric as GEO

                return GEO.geo_length(self.compile_expr(e.operand, df, scope))
            operand = self.compile_expr(e.operand, df, scope)
            if e.op == "NOT":
                return G.op_not(operand)
            if e.op == "-":
                return G.op_neg(operand)
            if e.op == "~":
                return G.op_bitnot(operand)
            if e.op == "!!":
                from postgraph_spark.functions import tsearch as TS

                return TS.op_tsnot(operand, e.operand)
            raise CompileError(e.op)
        if isinstance(e, A.IsNull):
            operand = self.compile_expr(e.operand, df, scope)
            return G.op_is_not_null(operand) if e.negated else G.op_is_null(operand)
        if isinstance(e, A.BoolTest):
            operand = self.compile_expr(e.operand, df, scope)
            return G.op_bool_test(operand, e.which, e.negated)
        if isinstance(e, A.DistinctFrom):
            left = self._maybe_let(self.compile_expr(e.left, df, scope), e.left, df)
            right = self._maybe_let(self.compile_expr(e.right, df, scope), e.right, df)
            return G.op_distinct_from(left, right, e.negated)
        if isinstance(e, A.CaseExpr):
            return self._compile_case(e, df, scope)
        if isinstance(e, A.Cast):
            # `::` compiles through the same to* surface as the function
            # forms (the reference routes both through gtype_typecasting.c)
            fn = _CAST_FN.get(e.type_name)
            if fn is None:
                raise CompileError(f"unsupported cast ::{e.type_name}")
            return self._compile_func(A.FuncCall(fn, [e.operand]), df, scope)
        if isinstance(e, A.FuncCall):
            return self._compile_func(e, df, scope)
        raise CompileError(f"unsupported expression {type(e).__name__}")

    def _compile_slice(self, e: A.Slice, df, scope) -> Column:
        base = self._maybe_let(self.compile_expr(e.base, df, scope), e.base, df)
        arr = G.to_variant_array(base)
        n = F.size(arr)
        lo = self.compile_expr(e.lo, df, scope)["i"] if e.lo is not None else F.lit(0)
        hi = self.compile_expr(e.hi, df, scope)["i"] if e.hi is not None else n.cast("long")
        lo0 = F.when(lo < 0, lo + n).otherwise(lo)
        hi0 = F.when(hi < 0, hi + n).otherwise(hi)
        lo0 = F.greatest(lo0, F.lit(0))
        hi0 = F.least(hi0, n.cast("long"))
        length = F.greatest(hi0 - lo0, F.lit(0))
        sliced = F.slice(arr, (lo0 + 1).cast("int"), length.cast("int"))
        texts = F.transform(sliced, lambda x: F.coalesce(G.to_json_text(G.from_variant(x)), F.lit("null")))
        body = F.concat(F.lit("["), F.array_join(texts, ","), F.lit("]"))
        return G.gv_array_json(F.when(base["t"] == G.T_ARRAY, body))

    _BINOPS = {
        "+": G.op_add, "-": G.op_sub, "*": G.op_mul, "/": G.op_div,
        "%": G.op_mod, "^": G.op_pow,
        "=": G.op_eq, "<>": G.op_neq, "<": G.op_lt, "<=": G.op_le,
        ">": G.op_gt, ">=": G.op_ge,
        "AND": G.op_and, "OR": G.op_or, "XOR": G.op_xor,
        "STARTS": G.op_starts_with, "ENDS": G.op_ends_with,
        "CONTAINS": G.op_contains, "=~": G.op_regex, "IN": G.op_in_list,
        # LIKE family (gtype_string.c:163-190)
        "LIKE": G.op_like,
        "ILIKE": lambda a, b: G.op_like(a, b, ci=True),
        "NOT_LIKE": lambda a, b: G.op_like(a, b, negate=True),
        "NOT_ILIKE": lambda a, b: G.op_like(a, b, ci=True, negate=True),
        # SIMILAR TO (g.y:13804-13823; literal patterns fast-path in
        # _compile_binop)
        "SIMILAR": G.op_similar,
        "NOT_SIMILAR": lambda a, b: G.op_similar(a, b, negate=True),
        # PG regex operators (gtype_string.c:193-227)
        "~": G.op_tilde_match,
        "~*": lambda a, b: G.op_tilde_match(a, b, ci=True),
        "!~": lambda a, b: G.op_tilde_match(a, b, negate=True),
        "!~*": lambda a, b: G.op_tilde_match(a, b, ci=True, negate=True),
        # containment / existence (gtype_ops.c:849-1080)
        "@>": G.op_contains_json, "<@": G.op_contained_by_json,
        "?": G.op_has_key, "?|": G.op_has_any, "?&": G.op_has_all,
        # integer bitwise (superset; see op_bitand docstring)
        "&": G.op_bitand, "|": G.op_bitor,
    }

    def _compile_binop(self, e: A.BinOp, df, scope) -> Column:
        # vector distance operators (postgraph-gtype.sql.in:140-167;
        # vector.c:285+): `<=>` cosine and `<#>` negative inner product
        # are vector-only; `<->` dispatches below with tsearch
        if e.op in ("<=>", "<#>"):
            left = self._maybe_let(self.compile_expr(e.left, df, scope), e.left, df)
            right = self._maybe_let(self.compile_expr(e.right, df, scope), e.right, df)
            return self._vector_distance(e.op, left, right)
        # inet subnet operators (gtype_ops.c:756-827); `&&` doubles as
        # VLE edges-overlap (variable_edge.sql.in:205) via the VLE route
        if e.op in ("<<", "<<=", ">>", ">>=", "&&") and not (
            e.op == "&&"
            and isinstance(e.left, A.Var)
            and isinstance(e.right, A.Var)
            and VKIND_VLE in (scope.kinds.get(e.left.name), scope.kinds.get(e.right.name))
        ):
            from postgraph_spark.functions import network as NET

            fn = {
                "<<": NET.subnet_contained_strict,
                "<<=": NET.subnet_contained_eq,
                ">>": NET.subnet_contains_strict,
                ">>=": NET.subnet_contains_eq,
                "&&": NET.subnet_overlap,
            }[e.op]
            left = self._maybe_let(self.compile_expr(e.left, df, scope), e.left, df)
            right = self._maybe_let(self.compile_expr(e.right, df, scope), e.right, df)
            ls = F.when(left["t"] == G.T_STRING, left["s"])
            rs = F.when(right["t"] == G.T_STRING, right["s"])
            return G.gv_bool(fn(ls, rs))
        # text-search operators (gtype_tsearch.c; regress/sql/tsearch.sql)
        if e.op in ("@@", "<->", "||"):
            from postgraph_spark.functions import tsearch as TS

            left = self._maybe_let(self.compile_expr(e.left, df, scope), e.left, df)
            if e.op == "@@":
                # right side compiles lazily: a literal query never needs it
                right_fn = lambda: self._maybe_let(  # noqa: E731
                    self.compile_expr(e.right, df, scope), e.right, df
                )
                return TS.op_match(left, e.left, right_fn, e.right)
            right = self._maybe_let(self.compile_expr(e.right, df, scope), e.right, df)
            if e.op == "<->":
                # l2_distance (vector.c:285-350) dispatches per operand
                # type: tsquery -> phrase distance, vector -> l2. Static
                # types pick a single path; mixed branch at runtime the
                # way `&`/`||` do.
                vec_ok = G.T_ARRAY in G.gv_types(left) and G.T_ARRAY in G.gv_types(right)
                str_ok = G.T_STRING in G.gv_types(left) or G.T_STRING in G.gv_types(right)
                if vec_ok and not str_ok:
                    return self._vector_distance("<->", left, right)
                if not vec_ok:
                    return TS.op_phrase(left, right, e.left, e.right)
                both_arr = (left["t"] == G.T_ARRAY) & (right["t"] == G.T_ARRAY)
                return TS.gv_if(
                    both_arr,
                    self._vector_distance("<->", left, right),
                    TS.op_phrase(left, right, e.left, e.right),
                )
            return TS.op_concat(left, right, e.left, e.right)
        if e.op in ("!!=", "&&") or (
            e.op in ("@>", "<@")
            and isinstance(e.left, A.Var)
            and isinstance(e.right, A.Var)
            and VKIND_VLE in (scope.kinds.get(e.left.name), scope.kinds.get(e.right.name))
        ):
            return self._compile_vle_binop(e, scope)
        fn = self._BINOPS.get(e.op)
        if fn is None:
            raise CompileError(f"unknown operator {e.op}")
        if (
            e.op in ("SIMILAR", "NOT_SIMILAR")
            and isinstance(e.right, A.Lit)
            and isinstance(e.right.value, str)
        ):
            # literal pattern: convert SQL regex to Java regex in Python
            left = self._maybe_let(self.compile_expr(e.left, df, scope), e.left, df)
            right = self.compile_expr(e.right, df, scope)
            return G.op_similar(
                left, right, negate=(e.op == "NOT_SIMILAR"),
                pattern_text=e.right.value,
            )
        # entity equality compares ids (vertex_btree_cmp compares id only)
        if e.op in ("=", "<>") and isinstance(e.left, A.Var) and isinstance(e.right, A.Var):
            lk = scope.kinds.get(e.left.name)
            rk = scope.kinds.get(e.right.name)
            if lk in (VKIND_VERTEX, VKIND_EDGE) and rk in (VKIND_VERTEX, VKIND_EDGE):
                same = F.col(e.left.name)["id"] == F.col(e.right.name)["id"]
                return G.gv_bool(same if e.op == "=" else ~same)
        left = self._maybe_let(self.compile_expr(e.left, df, scope), e.left, df)
        right = self._maybe_let(self.compile_expr(e.right, df, scope), e.right, df)
        if e.op in ("@>", "<@", "?", "?|", "?&"):
            # entity operands act as their PROPERTIES document
            # (old/regress/vertex.sql & edge.sql: `v @> map`, `map <@ v`,
            # `v ? 'key'` — gtype_ops.c's vertex/edge containment wiring)
            left = self._entity_props_gv(e.left, left, scope)
            right = self._entity_props_gv(e.right, right, scope)
        if e.op == "&" and G.T_STRING in G.gv_types(left) and G.T_STRING in G.gv_types(right):
            # `&` is tsquery AND for string (tsquery-text) operands and
            # integer bitwise AND otherwise (gtype_ops.c:716-740 wires &
            # per operand type); mixed static types branch at runtime
            from postgraph_spark.functions import tsearch as TS

            ts = TS.op_tsand(left, right, e.left, e.right)
            if G.T_NUMBER not in G.gv_types(left) or G.T_NUMBER not in G.gv_types(right):
                return ts
            both_str = (left["t"] == G.T_STRING) & (right["t"] == G.T_STRING)
            return TS.gv_if(both_str, ts, fn(left, right))
        if e.op in ("@>", "<@"):
            # literal needles resolve their nesting depth at compile
            # time: depth <= unroll keeps the predicate pure JVM,
            # deeper routes straight to the exact Arrow-batched check
            # (see gtype.op_contains_json)
            needle_ast = e.right if e.op == "@>" else e.left
            folded = _fold_const_container(needle_ast)
            nd = G.json_value_depth(folded) if folded is not _NOT_CONST else None
            fn = lambda l, r, _op=e.op: (  # noqa: E731
                G.op_contains_json(l, r, needle_depth=nd)
                if _op == "@>"
                else G.op_contained_by_json(l, r, needle_depth=nd)
            )
            if G.T_STRING in G.gv_types(left) and G.T_STRING in G.gv_types(right):
                # tsquery containment (tsq_mcontains) when both operands
                # are marked tsquery values; jsonb containment otherwise
                from postgraph_spark.functions import tsearch as TS

                both_q = (left["j"] == "tsq") & (right["j"] == "tsq")
                tsres = TS.op_tsq_contains(left, right, contained_by=(e.op == "<@"))
                return TS.gv_if(both_q, tsres, fn(left, right))
            return fn(left, right)
        return fn(left, right)

    @staticmethod
    def _entity_props_gv(node, col: Column, scope) -> Column:
        """Entity var operand -> its properties document as a gval
        object (containment/existence operators treat vertices/edges as
        their property maps, vertex.sql/edge.sql)."""
        if isinstance(node, A.Var) and scope.kinds.get(node.name) in (
            VKIND_VERTEX, VKIND_EDGE
        ):
            return G.gv_object_json(F.to_json(F.col(node.name)["pv"]))
        return col

    @staticmethod
    def _vector_distance(op: str, left: Column, right: Column) -> Column:
        """`<->` l2 / `<=>` cosine / `<#>` negative inner product over
        gtype vectors (vector.c l2_distance / cosine_distance /
        negative_inner_product; postgraph-gtype.sql.in:140-167).
        Vectors ride the gval's json axis as number arrays; the fold is
        a pure JVM expression (zip_with + aggregate)."""
        from postgraph_spark.functions import vector as V

        la = F.when(left["t"] == G.T_ARRAY, F.from_json(left["j"], "array<double>"))
        ra = F.when(right["t"] == G.T_ARRAY, F.from_json(right["j"], "array<double>"))
        fn = {
            "<->": V.l2_distance,
            "<=>": V.cosine_distance,
            "<#>": V.negative_inner_product,
        }[op]
        return G.gv_float(fn(la, ra))

    def _compile_vle_binop(self, e: A.BinOp, scope) -> Column:
        """variable_edge operators over VLE/edge bindings."""
        lk = scope.kinds.get(e.left.name) if isinstance(e.left, A.Var) else None
        rk = scope.kinds.get(e.right.name) if isinstance(e.right, A.Var) else None
        if e.op == "&&":
            # variable_edge_edges_overlap (variable_edge.sql.in:205):
            # two VLE bindings share at least one edge
            if lk != VKIND_VLE or rk != VKIND_VLE:
                raise CompileError("&& requires two variable-length-edge operands")
            return G.gv_bool(F.arrays_overlap(
                F.col(e.left.name)["edge_ids"], F.col(e.right.name)["edge_ids"]
            ))
        if e.op == "!!=":
            # match_vles (variable_edge.c:269-289): true when the FIRST
            # edge of the lhs shares an endpoint with the LAST edge of
            # the rhs. Traversal-order node ids carry those endpoints
            # (first edge joins node_ids[0]-[1], last joins [-2]-[-1];
            # the any-of-4 equality is orientation-insensitive, so
            # reversed traversal order is immaterial). 0-hop operands
            # have no edges -> unknown.
            if lk != VKIND_VLE or rk != VKIND_VLE:
                raise CompileError("!!= requires two variable-length-edge operands")
            ln = F.col(e.left.name)["node_ids"]
            rn = F.col(e.right.name)["node_ids"]
            l0, l1 = F.element_at(ln, 1), F.element_at(ln, 2)
            r0, r1 = F.element_at(rn, -2), F.element_at(rn, -1)
            ok = (F.col(e.left.name)["hops"] >= 1) & (F.col(e.right.name)["hops"] >= 1)
            hit = (l0 == r0) | (l0 == r1) | (l1 == r0) | (l1 == r1)
            return G.gv_bool(F.when(ok, hit))
        if e.op in ("@>", "<@") and VKIND_VLE in (lk, rk) and None not in (lk, rk):
            # edge-in-VLE membership (variable_edge_contains_edge,
            # variable_edge.c:246-265; old/regress/
            # variable_edge_functions.sql `e @> ve` / `ve <@ e`) and
            # VLE/VLE edge overlap (variable_edge_edges_overlap)
            big, small = (e.left, e.right) if e.op == "@>" else (e.right, e.left)
            bk = scope.kinds.get(big.name)
            sk = scope.kinds.get(small.name)
            if bk == VKIND_VLE and sk == VKIND_VLE:
                return G.gv_bool(F.arrays_overlap(
                    F.col(big.name)["edge_ids"], F.col(small.name)["edge_ids"]
                ))
            if VKIND_EDGE in (bk, sk):
                edge = big if bk == VKIND_EDGE else small
                ve = small if bk == VKIND_EDGE else big
                return G.gv_bool(F.array_contains(
                    F.col(ve.name)["edge_ids"], F.col(edge.name)["id"]
                ))
            raise CompileError(f"{e.op} unsupported for these entity operands")
        raise CompileError(e.op)

    def _compile_case(self, e: A.CaseExpr, df, scope) -> Column:
        result = (
            self.compile_expr(e.default, df, scope) if e.default is not None else G.gv_null()
        )
        op_c = None
        if e.operand is not None:
            # compile the test operand ONCE (it is referenced per WHEN)
            op_c = self._maybe_let(self.compile_expr(e.operand, df, scope), e.operand, df)
        for cond, then in reversed(e.whens):
            then_c = self.compile_expr(then, df, scope)
            if op_c is not None:
                cond_c = G.truth(G.op_eq(op_c, self.compile_expr(cond, df, scope)))
            else:
                cond_c = G.truth(self.compile_expr(cond, df, scope))
            result = F.when(cond_c, then_c).otherwise(result)
        return result

    # ------------------------------------------------- scalar functions

    def _compile_func(self, e: A.FuncCall, df, scope) -> Column:
        if e.over is not None:
            return self._compile_window_func(e, df, scope)
        from postgraph_spark.plans.functions_map import compile_scalar_function

        return compile_scalar_function(self, e, df, scope)

    # --------------------------------------------------- window functions

    def _resolve_window(self, spec, df, scope):
        """WindowSpec | window name -> pyspark WindowSpec (g.y:17407-
        17520). Named windows come from the enclosing WITH's WINDOW
        clause; ref_name extends an existing definition."""
        from pyspark.sql.window import Window as W

        active = getattr(self, "_active_windows", {}) or {}
        if isinstance(spec, str):
            if spec not in active:
                raise CompileError(f"unknown window {spec!r}")
            spec = active[spec]
        part = list(spec.partition_by)
        order = list(spec.order_by)
        if spec.ref_name:
            ref = active.get(spec.ref_name)
            if ref is None:
                raise CompileError(f"unknown window {spec.ref_name!r}")
            part = list(ref.partition_by) + part
            order = list(ref.order_by) + order
        def bind(c: Column) -> Column:
            # partition/order sort keys expand to large CASE kernels
            # (sort_key's cross-type walk) and are referenced by EVERY
            # window expression over the spec — let-bind them so the
            # plan carries one short attribute ref per key (round-7
            # verdict #8: plan-line headroom)
            return self._let_scalar(c) if self._lets is not None else c

        pcols = [
            bind(G.sort_key(self.compile_expr(p, df, scope), narrow=True)) for p in part
        ]
        # RANGE frames with value offsets need a single NUMERIC order
        # column — ride the gval's numeric axis there; otherwise the
        # total-order sort key preserves gtype orderability
        value_range = spec.frame_kind == "range" and not (
            spec.frame_start in ("unbounded", "current")
            and spec.frame_end in ("unbounded", "current")
        )

        def ocol(si: A.SortItem) -> Column:
            gv = self.compile_expr(si.expr, df, scope)
            c = bind(gv["d"] if value_range else G.sort_key(gv, narrow=True))
            return c.desc() if si.descending else c.asc()

        def part():
            return W.partitionBy(*pcols) if pcols else W.partitionBy(F.lit(1))

        ocols = [ocol(si) for si in order]
        w = part()
        if order:
            w = w.orderBy(*ocols)
        w_base = w  # partition + order, frame NOT yet applied

        lo = hi = None
        if spec.frame_kind:
            def bound(b, d, default):
                if b == "unbounded":
                    return W.unboundedPreceding if d == "preceding" else W.unboundedFollowing
                if b == "current":
                    return W.currentRow
                if b is None:
                    return default
                n = self._int_lit(b)
                return -n if d == "preceding" else n

            lo = bound(spec.frame_start, spec.frame_start_dir, W.unboundedPreceding)
            hi = bound(spec.frame_end, spec.frame_end_dir, W.currentRow)
            if spec.frame_kind == "groups":
                # GROUPS frames (cypher_gram.y:17484-17520) count PEER
                # GROUPS, which Spark's window has no mode for. Exact
                # rewrite: let-bind dense_rank() over the same
                # partition/order (peer groups <-> consecutive rank
                # values, so `GROUPS n PRECEDING/FOLLOWING` == `RANGE n`
                # over the rank; CURRENT ROW covers the full peer group
                # under RANGE just as GROUPS defines it).
                if not order:
                    raise CompileError("GROUPS mode requires ORDER BY")
                if self._lets is None:
                    raise CompileError("GROUPS frame unsupported in this context")
                dr = self._let_scalar(F.dense_rank().over(w_base))
                w = part().orderBy(dr.asc()).rangeBetween(lo, hi)
            elif spec.frame_kind == "rows":
                w = w.rowsBetween(lo, hi)
            else:
                w = w.rangeBetween(lo, hi)

        # EXCLUDE (g.y:17545-17565) rewrites per aggregate as frame
        # aggregate minus the excluded rows' IN-FRAME contribution
        # (SQL:2011 removes only rows inside the frame). Expose:
        #   cur_in — is the current row inside its own frame (static:
        #            frame bounds are literals; offset 0 within [lo,hi])
        #   wg     — whole-peer-group window (RANGE CUR..CUR)
        #   wgf    — peers ∩ frame: for ROWS, a RANGE window over the
        #            let-bound row_number partitioned by (pcols, peer
        #            group) with the same offsets — exactly the peer
        #            rows whose row offset lies within the ROWS bounds.
        #            For RANGE/GROUPS frames peers sit at order-distance
        #            0, so they are in-frame iff cur_in: wg or None.
        #   rn/pg  — let-bound row_number / dense_rank over the ordered
        #            partition (peer identity for the collect-based
        #            min/max/stdev path).
        excl = getattr(spec, "frame_exclude", None)
        excl_info = None
        if excl:
            if not order:
                raise CompileError("EXCLUDE requires ORDER BY")
            if self._lets is None:
                raise CompileError("EXCLUDE unsupported in this context")
            elo = W.unboundedPreceding if lo is None else lo
            ehi = W.currentRow if hi is None else hi
            cur_in = elo <= 0 <= ehi
            rn = self._let_scalar(F.row_number().over(w_base))
            pg = self._let_scalar(F.dense_rank().over(w_base))
            wg = part().orderBy(*ocols).rangeBetween(W.currentRow, W.currentRow)
            if spec.frame_kind == "rows":
                wgf = (
                    W.partitionBy(*(pcols or [F.lit(1)]), pg)
                    .orderBy(rn.asc())
                    .rangeBetween(elo, ehi)
                )
            else:
                wgf = wg if cur_in else None
            excl_info = {
                "kind": excl, "cur_in": cur_in, "wg": wg, "wgf": wgf,
                "rn": rn, "pg": pg,
            }
        return w, excl_info

    def _compile_window_func(self, e: A.FuncCall, df, scope) -> Column:
        """fn(...) OVER (...) — ranking/navigation fns plus windowed
        aggregates (the reference reuses PG's windowagg executor;
        here each maps to a pyspark Window expression). EXCLUDE
        (g.y:17545-17565) rewrites for the DECOMPOSABLE aggregates —
        count/sum/avg — as frame aggregate minus the excluded in-frame
        contribution; min/max/stdev/stdevp take the collect-list path
        (collect the frame, array-filter the exclusion, re-aggregate —
        O(frame) per row, EXCLUDE-only)."""
        w, excl = self._resolve_window(e.over, df, scope)
        name = e.name
        if excl is not None:
            if name in ("count", "sum", "avg"):
                return self._compile_excluded_agg(e, w, excl, df, scope)
            if name in ("min", "max", "stdev", "stdevp", "collect"):
                return self._compile_excluded_collect_agg(e, w, excl, df, scope)
            if name in _TWO_COL_AGGS or name == "regr_count":
                return self._compile_excluded_two_agg(e, w, excl, df, scope)
            # ranking/navigation functions have no EXCLUDE semantics
            raise CompileError(f"EXCLUDE is unsupported for {name}()")

        if name == "row_number":
            return G.gv_int(F.row_number().over(w))
        if name == "rank":
            return G.gv_int(F.rank().over(w))
        if name == "dense_rank":
            return G.gv_int(F.dense_rank().over(w))
        if name == "percent_rank":
            return G.gv_float(F.percent_rank().over(w))
        if name == "cume_dist":
            return G.gv_float(F.cume_dist().over(w))
        if name == "ntile":
            return G.gv_int(F.ntile(self._int_lit(e.args[0])).over(w))
        if name in ("lag", "lead"):
            arg = self.compile_expr(e.args[0], df, scope)
            off = self._int_lit(e.args[1]) if len(e.args) > 1 else 1
            fn = F.lag if name == "lag" else F.lead
            shifted = fn(arg, off).over(w)
            if len(e.args) > 2:
                default = self.compile_expr(e.args[2], df, scope)
                shifted = F.coalesce(shifted, default)
            return F.coalesce(shifted, G.gv_null())
        if name in ("first_value", "last_value"):
            arg = self.compile_expr(e.args[0], df, scope)
            fn = F.first_value if name == "first_value" else F.last_value
            return F.coalesce(fn(arg).over(w), G.gv_null())

        # windowed aggregates
        if name == "count":
            if e.star:
                return G.gv_int(F.count(F.lit(1)).over(w))
            arg = self.compile_expr(e.args[0], df, scope)
            return G.gv_int(F.count(F.when(arg["t"] != G.T_NULL, F.lit(1))).over(w))
        arg, kind = self._compile_item(e.args[0], df, scope)
        d = arg["d"]
        if name == "sum":
            all_int = F.min(F.when(arg["t"] == G.T_NUMBER, arg["i"].isNotNull())).over(w)
            return G.gv_num(i=F.when(all_int, F.sum(arg["i"]).over(w)), d=F.sum(d).over(w))
        if name == "avg":
            return G.gv_float(F.avg(d).over(w))
        if name in ("min", "max"):
            # numeric/string payloads (cross-type windowed min/max would
            # need min_by-over-window, which Spark lacks)
            fn = F.min if name == "min" else F.max
            md = fn(d).over(w)
            ms = fn(arg["s"]).over(w)
            t = (
                F.when(md.isNotNull(), F.lit(G.T_NUMBER))
                .when(ms.isNotNull(), F.lit(G.T_STRING))
                .otherwise(F.lit(G.T_NULL))
            )
            return G._mk(t, d=md, s=ms)
        if name == "stdev":
            return G.gv_float(F.stddev_samp(d).over(w))
        if name == "stdevp":
            return G.gv_float(F.stddev_pop(d).over(w))
        if name == "collect":
            # same surface as the group-agg collect (json-text list),
            # gathered in frame order
            texts = F.collect_list(_json_text(arg, kind)).over(w)
            if e.distinct:
                texts = F.array_distinct(texts)
            if len(e.args) > 1:
                limit = self.compile_expr(e.args[1], df, scope)["i"]
                texts = F.slice(texts, 1, limit.cast("int"))
            return G.gv_array_json(
                F.concat(F.lit("["), F.array_join(texts, ","), F.lit("]"))
            )
        if name in _TWO_COL_AGGS:
            # the reference reuses PG's windowagg for every ordinary
            # aggregate (sql/postgraph-aggregation.sql.in:353-533) —
            # Spark's corr/covar/regr_* are window-capable too. NaN
            # (zero-variance / n-below-threshold frames) -> NULL, PG's
            # float8 kernel policy.
            b = self.compile_expr(e.args[1], df, scope)["d"]
            c = _TWO_COL_AGGS[name](d, b).over(w)
            return G.gv_float(
                F.when(F.isnan(c), F.lit(None).cast("double")).otherwise(c)
            )
        if name == "regr_count":
            b = self.compile_expr(e.args[1], df, scope)["d"]
            return G.gv_int(F.regr_count(d, b).over(w))
        raise CompileError(f"unsupported window function {name}")

    def _compile_excluded_agg(self, e: A.FuncCall, w, excl, df, scope) -> Column:
        """count/sum/avg with a frame EXCLUDE clause: frame aggregate
        minus the excluded IN-FRAME contribution (SQL:2011 removes only
        rows inside the frame). `kind`: current = this row (only if the
        frame contains it — static `cur_in`), group = the peer group ∩
        frame (window `wgf`), ties = that minus the current row. A frame
        left empty by the exclusion yields NULL for sum/avg and 0 for
        count (PG semantics)."""
        kind, cur_in, wgf = excl["kind"], excl["cur_in"], excl["wgf"]
        name = e.name

        def pagg(fn, zero):
            # peers-in-frame aggregate (incl. current row when cur_in)
            if wgf is None:
                return F.lit(zero)
            return F.coalesce(fn().over(wgf), F.lit(zero))

        if name == "count" and e.star:
            base = F.count(F.lit(1)).over(w)
            own = F.lit(1 if cur_in else 0)
            gcnt = pagg(lambda: F.count(F.lit(1)), 0)
            corr = {"current": own, "group": gcnt, "ties": gcnt - own}[kind]
            return G.gv_int(base - corr)
        arg = self._maybe_let(self.compile_expr(e.args[0], df, scope), e.args[0], df)
        nn = F.when(arg["t"] != G.T_NULL, F.lit(1))
        own_cnt = F.coalesce(nn, F.lit(0)) if cur_in else F.lit(0)
        gcnt = pagg(lambda: F.count(nn), 0)
        corr_cnt = {"current": own_cnt, "group": gcnt, "ties": gcnt - own_cnt}[kind]
        post_cnt = F.count(nn).over(w) - corr_cnt
        if name == "count":
            return G.gv_int(post_cnt)
        d = arg["d"]
        own_d = F.coalesce(d, F.lit(0.0)) if cur_in else F.lit(0.0)
        gsum = pagg(lambda: F.sum(d), 0.0)
        corr_d = {"current": own_d, "group": gsum, "ties": gsum - own_d}[kind]
        post_sum = F.coalesce(F.sum(d).over(w), F.lit(0.0)) - corr_d
        if name == "avg":
            return G.gv_float(F.when(post_cnt > 0, post_sum / post_cnt))
        # sum — keep the exact int64 axis when every frame value is int
        all_int = F.min(F.when(arg["t"] == G.T_NUMBER, arg["i"].isNotNull())).over(w)
        own_i = F.coalesce(arg["i"], F.lit(0)) if cur_in else F.lit(0)
        gsum_i = pagg(lambda: F.sum(arg["i"]), 0)
        corr_i = {"current": own_i, "group": gsum_i, "ties": gsum_i - own_i}[kind]
        post_i = F.coalesce(F.sum(arg["i"]).over(w), F.lit(0)) - corr_i
        return G.gv_num(
            i=F.when(all_int & (post_cnt > 0), post_i),
            d=F.when(post_cnt > 0, post_sum),
        )

    def _compile_excluded_collect_agg(self, e: A.FuncCall, w, excl, df, scope) -> Column:
        """min/max/stdev/stdevp with EXCLUDE — not decomposable, so:
        collect the frame rows as (row_number, peer-group, value)
        structs, array-filter the excluded rows (current row by rn,
        peer group / ties by dense_rank), and re-aggregate the survivors
        with JVM array folds. O(frame size) per row — used only when
        EXCLUDE is present; frames in practice are bounded offsets.
        Mirrors cypher_gram.y:17520-17565 over PG's windowagg."""
        kind, rn, pg = excl["kind"], excl["rn"], excl["pg"]
        name = e.name
        arg, akind = self._compile_item(e.args[0], df, scope)
        arg = self._maybe_let(arg, e.args[0], df)
        if kind == "current":
            keep = lambda x: x["rn"] != rn
        elif kind == "group":
            keep = lambda x: x["pg"] != pg
        else:  # ties: drop peers other than the current row
            keep = lambda x: (x["pg"] != pg) | (x["rn"] == rn)
        if name == "collect":
            # frame-ordered json-text list (the group-collect surface),
            # minus the excluded rows
            items = F.collect_list(
                F.struct(rn.alias("rn"), pg.alias("pg"), _json_text(arg, akind).alias("j"))
            ).over(w)
            texts = F.transform(F.filter(items, keep), lambda x: x["j"])
            if e.distinct:
                texts = F.array_distinct(texts)
            if len(e.args) > 1:
                limit = self.compile_expr(e.args[1], df, scope)["i"]
                texts = F.slice(texts, 1, limit.cast("int"))
            return G.gv_array_json(
                F.concat(F.lit("["), F.array_join(texts, ","), F.lit("]"))
            )
        items = F.collect_list(
            F.struct(
                rn.alias("rn"), pg.alias("pg"),
                arg["d"].alias("d"), arg["s"].alias("s"),
            )
        ).over(w)
        kept = F.filter(items, keep)
        if name in ("min", "max"):
            # numeric/string payloads, same surface as the non-EXCLUDE
            # windowed min/max; array_min/max skip NULL elements
            afn = F.array_min if name == "min" else F.array_max
            md = afn(F.transform(kept, lambda x: x["d"]))
            ms = afn(F.transform(kept, lambda x: x["s"]))
            t = (
                F.when(md.isNotNull(), F.lit(G.T_NUMBER))
                .when(ms.isNotNull(), F.lit(G.T_STRING))
                .otherwise(F.lit(G.T_NULL))
            )
            return G._mk(t, d=md, s=ms)
        # stdev/stdevp: two-pass fold (mean, then Σ(x-mean)²) — matches
        # stddev_samp/stddev_pop semantics (NULL below the n threshold)
        vals = F.filter(
            F.transform(kept, lambda x: x["d"]), lambda v: v.isNotNull()
        )
        n = F.size(vals)
        mean = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x) / n
        ss = F.aggregate(vals, F.lit(0.0), lambda a, x: a + (x - mean) * (x - mean))
        if name == "stdev":
            return G.gv_float(F.when(n >= 2, F.sqrt(ss / (n - 1))))
        return G.gv_float(F.when(n >= 1, F.sqrt(ss / n)))

    def _compile_excluded_two_agg(self, e: A.FuncCall, w, excl, df, scope) -> Column:
        """corr/covar_*/regr_* with a frame EXCLUDE clause — the
        two-column analog of the collect path: collect (rn, pg, y, x)
        structs over the frame, array-filter the exclusion, drop pairs
        with a NULL on either side, and fold the sufficient statistics
        (n, Σx, Σy, Σxy, Σx², Σy²) with JVM array folds. NULL policy
        matches PG's float8 regr kernels (NULL below the aggregate's n
        threshold or on a zero denominator). Reference: the windowable
        ordinary aggregates of sql/postgraph-aggregation.sql.in:353-533
        under cypher_gram.y:17545-17565's EXCLUDE grammar."""
        kind, rn, pg = excl["kind"], excl["rn"], excl["pg"]
        name = e.name
        y = self._maybe_let(self.compile_expr(e.args[0], df, scope), e.args[0], df)["d"]
        x = self._maybe_let(self.compile_expr(e.args[1], df, scope), e.args[1], df)["d"]
        items = F.collect_list(
            F.struct(rn.alias("rn"), pg.alias("pg"), y.alias("y"), x.alias("x"))
        ).over(w)
        if kind == "current":
            keep = lambda p: p["rn"] != rn
        elif kind == "group":
            keep = lambda p: p["pg"] != pg
        else:  # ties
            keep = lambda p: (p["pg"] != pg) | (p["rn"] == rn)
        pairs = F.filter(
            F.filter(items, keep),
            lambda p: p["y"].isNotNull() & p["x"].isNotNull(),
        )
        if name == "regr_count":
            return G.gv_int(F.size(pairs).cast("long"))
        n = F.size(pairs).cast("double")

        def fold(fn):
            return F.aggregate(pairs, F.lit(0.0), lambda a, p: a + fn(p))

        sx, sy = fold(lambda p: p["x"]), fold(lambda p: p["y"])
        if name == "regr_avgx":
            return G.gv_float(F.when(n > 0, sx / n))
        if name == "regr_avgy":
            return G.gv_float(F.when(n > 0, sy / n))
        sxy = fold(lambda p: p["x"] * p["y"])
        sxx = fold(lambda p: p["x"] * p["x"])
        syy = fold(lambda p: p["y"] * p["y"])
        cxx = sxx - sx * sx / n
        cyy = syy - sy * sy / n
        cxy = sxy - sx * sy / n
        if name == "regr_sxx":
            return G.gv_float(F.when(n > 0, cxx))
        if name == "regr_syy":
            return G.gv_float(F.when(n > 0, cyy))
        if name == "regr_sxy":
            return G.gv_float(F.when(n > 0, cxy))
        if name == "covar_pop":
            return G.gv_float(F.when(n > 0, cxy / n))
        if name == "covar_samp":
            return G.gv_float(F.when(n > 1, cxy / (n - 1)))
        if name == "corr":
            return G.gv_float(
                F.when((n > 1) & (cxx > 0) & (cyy > 0), cxy / F.sqrt(cxx * cyy))
            )
        if name == "regr_slope":
            return G.gv_float(F.when((n > 0) & (cxx > 0), cxy / cxx))
        if name == "regr_intercept":
            return G.gv_float(
                F.when((n > 0) & (cxx > 0), (sy - sx * (cxy / cxx)) / n)
            )
        if name == "regr_r2":
            # PG: NULL when sxx is 0; 1.0 when syy is 0 (perfect fit)
            return G.gv_float(
                F.when((n > 0) & (cxx > 0) & (cyy > 0), cxy * cxy / (cxx * cyy))
                .when((n > 0) & (cxx > 0), F.lit(1.0))
            )
        raise CompileError(f"EXCLUDE is unsupported for {name}()")
