"""Cypher-callable scalar function library (SURVEY §2.5): each function
maps to JVM-side Spark expressions over gval columns.

Reference implementations: gtype.c (lists/general), gtype_string.c,
gtype_numbers.c, gtype_temporal.c, gtype_typecasting.c, vertex.c/edge.c
(entity accessors).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from postgraph_spark.functions import gtype as G
from postgraph_spark.functions import temporal as TMP
from postgraph_spark.plans import ast as A
from postgraph_spark.plans.compiler import entity_array_json


class _Ctx:
    """Typed views of arguments with shared compile machinery."""

    def __init__(self, compiler, e: A.FuncCall, df, scope):
        self.compiler = compiler
        self.e = e
        self.df = df
        self.scope = scope

    def gv(self, i: int) -> Column:
        """Compiled gval of arg i; composed args are let-bound to a
        hidden projection column (Compiler._maybe_let) so a kernel's
        many field reads stay cheap attribute accesses."""
        col = self.compiler.compile_expr(self.e.args[i], self.df, self.scope)
        return self.compiler._maybe_let(col, self.e.args[i], self.df)

    _MISSING = object()

    def lit(self, i: int):
        """Python literal value of arg i, or _MISSING when not a Lit —
        lets casts of literals const-fold at compile time (PG evaluates
        Const casts at plan time; here it also keeps the temporal parse
        expression trees out of every consumer expression)."""
        a = self.e.args[i]
        return a.value if isinstance(a, A.Lit) else self._MISSING

    def entity(self, i: int):
        a = self.e.args[i]
        if isinstance(a, A.Var):
            kind = self.scope.kinds.get(a.name)
            if kind in ("vertex", "edge", "vle", "path"):
                return F.col(a.name), kind
        return None, None

    def prop_variant(self, i: int) -> Column | None:
        """When arg i is a direct property access on an entity, return
        the raw VARIANT at that path of its pv document —
        temporal casts then read the native type in one variant_get
        instead of the full gval dispatch (a cast referenced k times
        after projection collapse would otherwise re-run the
        schema_of_variant type dance k times per row)."""
        a = self.e.args[i]
        if not (isinstance(a, A.Prop) and isinstance(a.base, A.Var)):
            return None
        kind = self.scope.kinds.get(a.base.name)
        if kind not in ("vertex", "edge"):
            return None
        return F.try_variant_get(F.col(a.base.name)["pv"], "$." + ".".join(a.path), "variant")

    @property
    def nargs(self) -> int:
        return len(self.e.args)


# Flat-struct discipline (see functions/gtype.py): wrap the type guard
# around the PAYLOAD (null payload -> gtype null) instead of CASE-ing
# between whole structs, so field access stays collapsible.


def _num1(ctx: _Ctx, fn, as_int: bool = False) -> Column:
    a = ctx.gv(0)
    res = F.when(a["t"] == G.T_NUMBER, fn(a["d"]))
    return G.gv_int(res.cast("long")) if as_int else G.gv_float(res)


def _str1(ctx: _Ctx, fn) -> Column:
    a = ctx.gv(0)
    return G.gv_str(F.when(a["t"] == G.T_STRING, fn(a["s"])))


#: extended to* casts -> functions/casts.py implementations
_EXT_CASTS = {
    "tobytea": "cast_bytea",
    "toinet": "cast_inet", "tocidr": "cast_cidr",
    "tomacaddr": "cast_macaddr", "tomacaddr8": "cast_macaddr8",
    # totsvector/totsquery route through the tsearch kit (full
    # position/weight canonicalization), not casts.py
    "tointrange": "cast_intrange", "tonumrange": "cast_numrange",
    "totsrange": "cast_tsrange", "totstzrange": "cast_tstzrange",
    "todaterange": "cast_daterange", "tographid": "cast_graphid",
}

#: network kit Cypher names (gtype_network.c)
_NET_FNS = {
    "host", "masklen", "family", "network", "broadcast", "netmask",
    "hostmask", "abbrev", "set_masklen", "inet_same_family",
}

#: vector kit Cypher names (vector.c)
_VEC_FNS = {
    "l2_distance", "l2_squared_distance", "l1_distance", "inner_product",
    "negative_inner_product", "cosine_distance", "spherical_distance",
    "norm", "dims",
}


def compile_scalar_function(compiler, e: A.FuncCall, df, scope) -> Column:
    name = e.name
    ctx = _Ctx(compiler, e, df, scope)

    # ---- entity accessors (vertex.c:304-391, edge.c:304-366) ----
    if name in ("id", "start_id", "end_id", "label", "type", "properties", "startnode", "endnode"):
        col, kind = ctx.entity(0)
        if col is None:
            # id(NULL)/label(NULL)/... -> null (RETURNS NULL ON NULL
            # INPUT in the reference's fn decls; vertex.sql goldens)
            if isinstance(e.args[0], A.Lit) and e.args[0].value is None:
                return G.gv_null()
            raise ValueError(f"{name}() requires an entity argument")
        if name == "id":
            return G.gv_int(col["id"])
        if name == "start_id":
            return G.gv_int(col["start_id"])
        if name == "end_id":
            return G.gv_int(col["end_id"])
        if name in ("label", "type"):
            return G.gv_str(col["label"])
        if name == "properties":
            return G.gv_object_json(F.to_json(col["pv"]))
        raise ValueError(f"{name}() needs graph context; unsupported here")

    # ---- traversal / path functions (traversal.c:64+, old/regress/
    # traversal_functions.sql) ----
    if name in ("nodes", "relationships", "edges"):
        col, kind = ctx.entity(0)
        if col is None or kind not in ("path", "vle"):
            raise ValueError(f"{name}() requires a named path or VLE argument")
        if kind == "vle":
            # arrays attached by the compiler's accessor rewrite
            # (_attach_vle_arrays; variable_edge_functions.sql)
            var = ctx.e.args[0].name
            pe, pn = f"__pe_{var}", f"__pn_{var}"
            if ctx.df is None or pe not in ctx.df.columns:
                raise ValueError(f"{name}() on a VLE binding needs its resolved arrays")
            arr = F.col(pn) if name == "nodes" else F.col(pe)
        else:
            arr = col["nodes"] if name == "nodes" else col["edges"]
        return G.gv_array_json(entity_array_json(arr, "vertex" if name == "nodes" else "edge"))

    # ---- list / general (gtype.c:2070-2914) ----
    if name == "head":
        return G.element_access(ctx.gv(0), F.lit(0))
    if name == "last":
        return G.element_access(ctx.gv(0), F.lit(-1))
    if name in ("size", "length"):
        col, kind = ctx.entity(0)
        if kind == "path":
            if name == "size":
                # traversal size counts ALL elements: nodes + edges
                # (traversal_functions.out: size(3-hop path) = 7)
                return G.gv_int((F.size(col["edges"]) + F.size(col["nodes"])).cast("long"))
            # length(p) = edge count (@-@ path_length, gtype_ops.c)
            return G.gv_int(F.size(col["edges"]).cast("long"))
        if kind == "vle":
            return G.gv_int(col["hops"].cast("long"))
        a = ctx.gv(0)
        n = F.when(a["t"] == G.T_ARRAY, F.size(G.to_variant_array(a)).cast("long")).when(
            a["t"] == G.T_STRING, F.length(a["s"]).cast("long")
        )
        return G.gv_int(n)
    if name == "reverse":
        a = ctx.gv(0)
        rev_arr = F.reverse(G.to_variant_array(a))
        texts = F.transform(rev_arr, lambda x: F.coalesce(G.to_json_text(G.from_variant(x)), F.lit("null")))
        return (
            F.when(a["t"] == G.T_STRING, G.gv_str(F.reverse(a["s"])))
            .when(
                a["t"] == G.T_ARRAY,
                G.gv_array_json(F.concat(F.lit("["), F.array_join(texts, ","), F.lit("]"))),
            )
            .otherwise(G.gv_null())
        )
    if name == "keys":
        col, kind = ctx.entity(0)
        if col is not None:  # the document's keys, sorted as it stores them
            keys = F.map_keys(F.try_variant_get(col["pv"], "$", "map<string,variant>"))
        else:
            keys = F.json_object_keys(ctx.gv(0)["j"])
        return G.gv_array_json(F.to_json(keys))
    if name == "range":
        lo = ctx.gv(0)["i"]
        hi = ctx.gv(1)["i"]
        step = ctx.gv(2)["i"] if ctx.nargs > 2 else F.lit(1).cast("long")
        return G.gv_array_json(F.to_json(F.sequence(lo, hi, step)))
    if name == "coalesce":
        result = G.gv_null()
        for i in reversed(range(ctx.nargs)):
            gv = ctx.gv(i)
            result = F.when(gv["t"] != G.T_NULL, gv).otherwise(result)
        return result
    if name == "exists":
        # exists(n.prop) — property-existence test
        return G.op_is_not_null(ctx.gv(0))

    # ---- strings (gtype_string.c) ----
    if name in ("toupper", "tolower", "ltrim", "rtrim", "trim", "initcap"):
        fns = {
            "toupper": F.upper, "tolower": F.lower, "ltrim": F.ltrim,
            "rtrim": F.rtrim, "trim": F.trim, "initcap": F.initcap,
        }
        return _str1(ctx, fns[name])
    if name == "replace":
        a, b, c = ctx.gv(0), ctx.gv(1), ctx.gv(2)
        return G.gv_str(F.when(a["t"] == G.T_STRING, F.replace(a["s"], b["s"], c["s"])))
    if name == "substring":
        a = ctx.gv(0)
        start = ctx.gv(1)["i"] + 1  # Cypher 0-based -> SQL 1-based
        length = ctx.gv(2)["i"] if ctx.nargs > 2 else F.length(a["s"])
        return G.gv_str(F.when(a["t"] == G.T_STRING, a["s"].substr(start, length)))
    if name == "left":
        a = ctx.gv(0)
        return G.gv_str(F.when(a["t"] == G.T_STRING, a["s"].substr(F.lit(1), ctx.gv(1)["i"])))
    if name == "right":
        a = ctx.gv(0)
        n = ctx.gv(1)["i"]
        return G.gv_str(
            F.when(
                a["t"] == G.T_STRING,
                a["s"].substr(F.greatest(F.length(a["s"]) - n + 1, F.lit(1).cast("long")), n),
            )
        )
    if name == "split":
        a, d = ctx.gv(0), ctx.gv(1)
        # the reference splits on LITERAL text — \Q..\E quotes regex
        # metachars ('.' must not mean any-char)
        parts = F.split(a["s"], F.concat(F.lit("\\Q"), d["s"], F.lit("\\E")))
        ok = (a["t"] == G.T_STRING) & (d["t"] == G.T_STRING)
        return G.gv_array_json(F.when(ok, F.to_json(parts)))
    if name in ("sha224", "sha256", "sha384", "sha512", "md5"):
        a = ctx.gv(0)
        bits = {"sha224": 224, "sha256": 256, "sha384": 384, "sha512": 512}
        h = F.md5(a["s"]) if name == "md5" else F.sha2(a["s"], bits[name])
        return G.gv_str(F.when(a["t"] == G.T_STRING, h))

    # ---- math (gtype_numbers.c) ----
    simple = {
        "sqrt": F.sqrt, "exp": F.exp, "log": F.log, "log10": F.log10,
        "sin": F.sin, "cos": F.cos, "tan": F.tan, "cot": F.cot,
        "asin": F.asin, "acos": F.acos, "atan": F.atan,
        "sinh": F.sinh, "cosh": F.cosh, "tanh": F.tanh,
        "asinh": F.asinh, "acosh": F.acosh, "atanh": F.atanh,
        "degrees": F.degrees, "radians": F.radians, "cbrt": F.cbrt,
    }
    if name in simple:
        return _num1(ctx, simple[name])
    if name in ("gcd", "lcm"):
        # gtype_numbers.c:142-194 — int pair = exact int64 path, any
        # float operand = exact decimal Euclid (numeric path); numeric
        # STRINGS coerce like the reference's convert_to_scalar
        # (expr.out:2258-2262 gcd('10', 5) = 5)
        from postgraph_spark.functions import numbers as NUM

        a, b = ctx.gv(0), ctx.gv(1)

        def eff(g):
            i = F.coalesce(g["i"], F.when(g["t"] == G.T_STRING, g["s"].cast("long")))
            d = F.coalesce(g["d"], F.when(g["t"] == G.T_STRING, g["s"].cast("double")))
            return i, d

        ai, ad = eff(a)
        bi, bd = eff(b)
        fn = NUM.gcd_num if name == "gcd" else NUM.lcm_num
        out = fn(ai, ad, bi, bd)
        return G.gv_num(i=out["i"], d=out["d"])
    if name == "abs":
        a = ctx.gv(0)
        num = a["t"] == G.T_NUMBER
        return G.gv_num(i=F.when(num, F.abs(a["i"])), d=F.when(num, F.abs(a["d"])))
    if name == "sign":
        return _num1(ctx, F.signum, as_int=True)
    if name in ("ceil", "ceiling"):
        return _num1(ctx, F.ceil)
    if name == "floor":
        return _num1(ctx, F.floor)
    if name == "round":
        a = ctx.gv(0)
        # Spark's Round requires a FOLDABLE scale — a literal precision
        # uses it directly; an expression precision scales through
        # pow(10, s) with a foldable 0-scale round (reference accepts
        # arbitrary precision expressions)
        if ctx.nargs > 1 and not (
            isinstance(ctx.e.args[1], A.Lit) and isinstance(ctx.e.args[1].value, int)
        ):
            s = ctx.gv(1)["i"]
            p = F.pow(F.lit(10.0), s.cast("double"))
            return G.gv_float(
                F.when(a["t"] == G.T_NUMBER, F.round(a["d"] * p, 0) / p)
            )
        prec = ctx.e.args[1].value if ctx.nargs > 1 else 0
        return G.gv_float(F.when(a["t"] == G.T_NUMBER, F.round(a["d"], prec)))
    if name == "atan2":
        return G.gv_float(F.atan2(ctx.gv(0)["d"], ctx.gv(1)["d"]))
    if name == "pi":
        return G.gv_float(F.lit(3.141592653589793))
    if name == "e":
        return G.gv_float(F.lit(2.718281828459045))
    if name == "rand":
        return G.gv_float(F.rand())
    if name == "factorial":
        return _num1(ctx, lambda d: F.factorial(d.cast("int")), as_int=True)
    # ---- typecasting (gtype_typecasting.c) ----
    if name in ("tointeger", "toint"):
        a = ctx.gv(0)
        i = (
            F.when((a["t"] == G.T_NUMBER) & a["i"].isNotNull(), a["i"])
            .when(a["t"] == G.T_NUMBER, a["d"].cast("long"))
            .when(a["t"] == G.T_STRING, a["s"].cast("double").cast("long"))
            .when(a["t"] == G.T_BOOL, a["b"].cast("long"))
        )
        return G.gv_int(i)
    if name == "tofloat":
        a = ctx.gv(0)
        d = F.when(a["t"] == G.T_NUMBER, a["d"]).when(
            a["t"] == G.T_STRING, a["s"].cast("double")
        )
        return G.gv_float(d)
    if name == "tostring":
        a = ctx.gv(0)
        s = (
            F.when(a["t"] == G.T_STRING, a["s"])
            .when((a["t"] == G.T_NUMBER) & a["i"].isNotNull(), a["i"].cast("string"))
            .when(a["t"] == G.T_NUMBER, a["d"].cast("string"))
            .when(a["t"] == G.T_BOOL, F.when(a["b"], "true").otherwise("false"))
            .when(a["t"] == G.T_NULL, F.lit(None).cast("string"))
            .otherwise(a["j"])
        )
        return G.gv_str(s)
    if name == "toboolean":
        a = ctx.gv(0)
        b = F.when(a["t"] == G.T_BOOL, a["b"]).when(
            a["t"] == G.T_STRING, F.lower(a["s"]) == "true"
        )
        return G.gv_bool(b)
    if name == "tonumeric":
        # gtype_tonumeric (gtype.c:2319-2360 numeric promotion): the
        # reference's arbitrary-precision numeric maps onto the gval's
        # DUAL identity here — integral inputs (including integral text
        # up to int64) keep their exact integer identity `i`, so
        # tonumeric('9007199254740993') + 1 is exact past 2^53 (int
        # arithmetic stays on `i`, compiler sum() keeps all-int sums on
        # `i` too). Residual divergence: fractional values beyond float8
        # precision and integers past int64 fall to float8.
        a = ctx.gv(0)
        int_txt = a["s"].rlike(r"^\s*[+-]?[0-9]+\s*$")
        i = F.when(a["t"] == G.T_NUMBER, a["i"]).when(
            (a["t"] == G.T_STRING) & int_txt, F.trim(a["s"]).try_cast("long")
        )
        d = F.when(a["t"] == G.T_NUMBER, a["d"]).when(
            a["t"] == G.T_STRING, a["s"].try_cast("double")
        )
        return G.gv_num(i=i, d=d)

    # ---- temporal casts (gtype_typecasting.c:278-399) ----
    # literal operands const-fold to a literal gval (see _Ctx.lit)
    if name in ("totimestamp", "totimestamptz"):
        with_tz = name == "totimestamptz"
        lv = ctx.lit(0)
        if isinstance(lv, str):
            return G.gv_timestamp(F.lit(TMP.py_parse_ts_us(lv, apply_tz=with_tz)).cast("long"))
        if isinstance(lv, int) and not isinstance(lv, bool):
            return G.gv_timestamp(F.lit(lv + TMP.PG_EPOCH_US))
        pvc = ctx.prop_variant(0)
        if pvc is not None:
            # variant-native fast path DISPATCHED ON THE PAYLOAD TYPE:
            # a bare coalesce over try_variant_get would silently cast an
            # integer property as seconds-since-1970 via the timestamp
            # branch, while the reference treats integers as µs since
            # 2000-01-01 (gtype_typecasting.c SetEpochTimestamp) — the
            # round-4 advice-high bug.
            sch = F.schema_of_variant(pvc)
            us = (
                F.when(
                    (sch == "TIMESTAMP") | (sch == "TIMESTAMP_NTZ"),
                    F.unix_micros(F.try_variant_get(pvc, "$", "timestamp")),
                )
                .when(
                    sch == "DATE",
                    F.unix_date(F.try_variant_get(pvc, "$", "date")).cast("long")
                    * TMP.US_PER_DAY,
                )
                .when(
                    sch == "BIGINT",
                    F.try_variant_get(pvc, "$", "bigint") + F.lit(TMP.PG_EPOCH_US),
                )
                .when(
                    sch == "STRING",
                    TMP.parse_ts_us(F.try_variant_get(pvc, "$", "string"), apply_tz=with_tz),
                )
            )
            return G.gv_timestamp(us)
        return TMP.cast_timestamp(ctx.gv(0), with_tz=with_tz)
    if name == "todate":
        lv = ctx.lit(0)
        if isinstance(lv, str):
            return G.gv_date(F.lit(TMP.py_parse_date_days(lv)).cast("long"))
        pvc = ctx.prop_variant(0)
        if pvc is not None:
            # type-dispatched like totimestamp above: integers are days
            # since 2000-01-01, NOT a timestamp cast (advice-high fix)
            sch = F.schema_of_variant(pvc)
            days = (
                F.when(
                    sch == "DATE", F.unix_date(F.try_variant_get(pvc, "$", "date")).cast("long")
                )
                .when(
                    (sch == "TIMESTAMP") | (sch == "TIMESTAMP_NTZ"),
                    TMP._long_floor_div(
                        F.unix_micros(F.try_variant_get(pvc, "$", "timestamp")), TMP.US_PER_DAY
                    ),
                )
                .when(
                    sch == "BIGINT",
                    F.try_variant_get(pvc, "$", "bigint") + F.lit(TMP.PG_EPOCH_DAYS),
                )
                .when(sch == "STRING", TMP.parse_date_days(F.try_variant_get(pvc, "$", "string")))
            )
            return G.gv_date(days)
        return TMP.cast_date(ctx.gv(0))
    if name in ("totime", "totimetz"):
        lv = ctx.lit(0)
        if isinstance(lv, str):
            return G.gv_time(F.lit(TMP.py_parse_time_us(lv)).cast("long"))
        return TMP.cast_time(ctx.gv(0))
    if name == "tointerval":
        lv = ctx.lit(0)
        if isinstance(lv, str):
            p = TMP.py_parse_interval(lv)
            if p is None:
                return G.gv_null()
            return G.gv_interval(F.lit(p[0]), F.lit(p[1]), F.lit(p[2]))
        return TMP.cast_interval(ctx.gv(0))

    # ---- temporal functions (gtype_temporal.c:40-831) ----
    # a literal field name folds the dispatch to one formula (see the
    # field-dispatch discipline note in functions/temporal.py)
    if name == "extract":
        fld = ctx.lit(0)
        return TMP.extract_gv(fld if isinstance(fld, str) else ctx.gv(0), ctx.gv(1))
    if name == "date_part":
        fld = ctx.lit(0)
        return TMP.date_part_gv(fld if isinstance(fld, str) else ctx.gv(0), ctx.gv(1))
    if name == "date_trunc":
        # 3-arg tz form accepted; only UTC semantics exist (the engine
        # pins spark.sql.session.timeZone=UTC — gtype_date_trunc_zone)
        fld = ctx.lit(0)
        return TMP.date_trunc_gv(fld if isinstance(fld, str) else ctx.gv(0), ctx.gv(1))
    if name == "date_bin":
        return TMP.date_bin_gv(ctx.gv(0), ctx.gv(1), ctx.gv(2))
    if name == "age":
        if ctx.nargs == 1:
            return TMP.age1_gv(ctx.gv(0))
        return TMP.age2_gv(ctx.gv(0), ctx.gv(1))
    if name == "make_date":
        return TMP.make_date_gv(ctx.gv(0), ctx.gv(1), ctx.gv(2))
    if name == "make_time":
        return TMP.make_time_gv(ctx.gv(0), ctx.gv(1), ctx.gv(2))
    if name in ("make_timestamp", "make_timestamptz"):
        # the optional 7th tz-name arg is accepted and ignored (UTC-only)
        return TMP.make_timestamp_gv(*[ctx.gv(i) for i in range(6)])
    if name in ("now", "current_timestamp", "transaction_timestamp", "statement_timestamp"):
        # value functions (cypher_gram.y:17655-17707); UTC session zone
        return G.gv_timestamp(F.unix_micros(F.current_timestamp()))
    if name == "current_date":
        return G.gv_date(F.unix_date(F.current_date()).cast("long"))
    if name in ("current_time", "localtime"):
        ts = F.current_timestamp()
        us = F.unix_micros(ts) - F.unix_date(F.current_date()).cast("long") * TMP.US_PER_DAY
        return G.gv_time(us)
    if name == "localtimestamp":
        return G.gv_timestamp(F.unix_micros(F.localtimestamp()))
    if name == "justify_days":
        return TMP.justify_days_gv(ctx.gv(0))
    if name == "justify_hours":
        return TMP.justify_hours_gv(ctx.gv(0))
    if name == "justify_interval":
        return TMP.justify_interval_gv(ctx.gv(0))
    if name == "isfinite":
        return TMP.isfinite_gv(ctx.gv(0))
    if name == "overlaps":
        return TMP.overlaps_gv(ctx.gv(0), ctx.gv(1), ctx.gv(2), ctx.gv(3))

    # ---- text-search kit (gtype_tsearch.c, 9 fns + the two casts) ----
    _TS_FNS = {
        "totsvector": ("tsvector_in", "tsv"),
        "totsquery": ("tsquery_in", "tsq"),
        "to_tsvector": ("to_tsvector", "tsv"),
        "plainto_tsquery": ("plainto", "tsq"),
        "phraseto_tsquery": ("phraseto", "tsq"),
        "websearch_to_tsquery": ("websearch", "tsq"),
        "strip": ("strip", "tsv"),
    }
    if name in _TS_FNS and ctx.nargs == 1:
        from postgraph_spark.functions import tsearch as TSK

        udf_key, kind = _TS_FNS[name]
        mark = TSK.gv_tsvector if kind == "tsv" else TSK.gv_tsquery
        v = ctx.lit(0)
        if isinstance(v, str):  # literal: fold at compile time (PG Const)
            try:
                return mark(F.lit(getattr(TSK, {
                    "tsvector_in": "tsvector_in", "tsquery_in": "tsquery_in",
                    "to_tsvector": "to_tsvector", "plainto": "plainto_tsquery",
                    "phraseto": "phraseto_tsquery", "websearch": "websearch_to_tsquery",
                    "strip": "ts_strip",
                }[udf_key])(v)))
            except ValueError:
                return mark(F.lit(None).cast("string"))
        a = ctx.gv(0)
        return mark(TSK._udfs()[udf_key](F.when(a["t"] == G.T_STRING, a["s"])))
    if name == "ts_delete" and ctx.nargs == 2:
        from postgraph_spark.functions import tsearch as TSK

        la, vb = TSK.ast_ts_literal(ctx.e.args[0]), ctx.lit(1)
        if la is not None and isinstance(vb, str):
            try:
                return TSK.gv_tsvector(F.lit(TSK.ts_delete(TSK.tsvector_in(la[1]), vb)))
            except ValueError:
                return TSK.gv_tsvector(F.lit(None).cast("string"))
        a, b = ctx.gv(0), ctx.gv(1)
        return TSK.gv_tsvector(
            TSK._udfs()["delete"](
                F.when(a["t"] == G.T_STRING, a["s"]), F.when(b["t"] == G.T_STRING, b["s"])
            )
        )
    if name == "tsquery_phrase" and ctx.nargs in (2, 3):
        from postgraph_spark.functions import tsearch as TSK

        la = TSK.ast_ts_literal(ctx.e.args[0])
        lb = TSK.ast_ts_literal(ctx.e.args[1])
        dist = ctx.lit(2) if ctx.nargs == 3 else 1
        if la is not None and lb is not None and isinstance(dist, int):
            try:
                return TSK.gv_tsquery(F.lit(TSK.combine_phrase(la[1], lb[1], dist)))
            except ValueError:
                return TSK.gv_tsquery(F.lit(None).cast("string"))
        if ctx.nargs == 3:
            raise ValueError("tsquery_phrase distance must be a literal int")
        a, b = ctx.gv(0), ctx.gv(1)
        return TSK.gv_tsquery(
            TSK._udfs()["phrase"](
                F.when(a["t"] == G.T_STRING, a["s"]), F.when(b["t"] == G.T_STRING, b["s"])
            )
        )

    # ---- extended typecasts (gtype_typecasting.c full to* surface) ----
    if name in _EXT_CASTS:
        from postgraph_spark.functions import casts as C

        return getattr(C, _EXT_CASTS[name])(ctx.gv(0))
    _MULTIRANGES = {
        "tointmultirange": "int", "tonummultirange": "num",
        "totsmultirange": "ts", "totstzmultirange": "tstz",
        "todatemultirange": "date",
    }
    if name in _MULTIRANGES and ctx.nargs == 1:
        from postgraph_spark.functions import casts as C

        kind = _MULTIRANGES[name]
        v = ctx.lit(0)
        if isinstance(v, str):  # literal folds at compile time
            return G.gv_str(F.lit(C.multirange_in_py(kind, v)))
        return C.cast_multirange(kind, ctx.gv(0))

    # ---- array casts (gtype_to_*_array; openCypher to*List names) ----
    if name in ("tointegerlist", "tofloatlist", "tostringlist", "tobooleanlist"):
        a = ctx.gv(0)
        kind = name[2:-4]  # integer | float | string | boolean

        def conv_txt(e):
            ev = G.from_variant(e)
            if kind == "integer":
                v = (
                    F.when((ev["t"] == G.T_NUMBER) & ev["i"].isNotNull(), ev["i"])
                    .when(ev["t"] == G.T_NUMBER, ev["d"].cast("long"))
                    .when(ev["t"] == G.T_STRING, ev["s"].try_cast("double").cast("long"))
                    .when(ev["t"] == G.T_BOOL, ev["b"].cast("long"))
                )
                return v.cast("string")
            if kind == "float":
                v = F.when(ev["t"] == G.T_NUMBER, ev["d"]).when(
                    ev["t"] == G.T_STRING, ev["s"].try_cast("double")
                )
                return v.cast("string")
            if kind == "boolean":
                v = F.when(ev["t"] == G.T_BOOL, ev["b"]).when(
                    ev["t"] == G.T_STRING,
                    F.when(F.lower(ev["s"]) == "true", F.lit(True)).when(
                        F.lower(ev["s"]) == "false", F.lit(False)
                    ),
                )
                return F.when(v, F.lit("true")).otherwise(
                    F.when(~v, F.lit("false"))
                )
            # string: render via the canonical text (numbers/bools/strings)
            return G.to_json_text(
                G.gv_str(
                    F.when(ev["t"] == G.T_STRING, ev["s"])
                    .when((ev["t"] == G.T_NUMBER) & ev["i"].isNotNull(), ev["i"].cast("string"))
                    .when(ev["t"] == G.T_NUMBER, ev["d"].cast("string"))
                    .when(ev["t"] == G.T_BOOL, F.when(ev["b"], "true").otherwise("false"))
                )
            )

        texts = F.transform(
            G.to_variant_array(a), lambda e: F.coalesce(conv_txt(e), F.lit("null"))
        )
        out = F.concat(F.lit("["), F.array_join(texts, ","), F.lit("]"))
        return G.gv_array_json(F.when(a["t"] == G.T_ARRAY, out))

    # ---- geometric kit (gtype_geometric.c; full 11-fn surface +
    # construction casts + the operator predicates exposed by name —
    # sql/postgraph-geometric.sql.in) ----
    _GEO_CASTS = {
        "topoint": "cast_point", "tobox": "cast_box", "tolseg": "cast_lseg",
        "toline": "cast_line", "tocircle": "cast_circle",
        "topath": "cast_path", "topolygon": "cast_polygon",
    }
    _GEO_1 = {
        # gtype_distance(gtype) is the 1-arg `@-@` length (lseg/path)
        "distance": "geo_length", "center": "geo_center_full",
        "height": "geo_height", "width": "geo_width",
        "vertical": "geo_vertical", "horizontal": "geo_horizontal",
        "area": "geo_area", "npoints": "geo_npoints",
        "radius": "geo_radius", "diagonal": "geo_diagonal",
    }
    _GEO_2 = {
        "distance": "geo_distance", "bound_box": "geo_bound_box",
        "intersection_point": "geo_intersection_point",
        "closest_point": "geo_closest_point",
        "perp": "geo_perp", "parallel": "geo_parallel",
        "box_contains": "geo_box_contains",
        "geo_contains": "geo_contains", "geo_contained": "geo_contained",
        "geo_overlap": "geo_overlap", "geo_same": "geo_same",
    }
    if name in _GEO_CASTS and ctx.nargs == 1:
        from postgraph_spark.functions import geometric as GEO

        return getattr(GEO, _GEO_CASTS[name])(ctx.gv(0))
    if name in _GEO_2 and ctx.nargs == 2:
        from postgraph_spark.functions import geometric as GEO

        return getattr(GEO, _GEO_2[name])(ctx.gv(0), ctx.gv(1))
    if name in _GEO_1 and ctx.nargs == 1:
        from postgraph_spark.functions import geometric as GEO

        return getattr(GEO, _GEO_1[name])(ctx.gv(0))
    if name in ("intrange", "numrange", "tsrange", "tstzrange", "daterange") and ctx.nargs >= 2:
        # range constructors (gtype_range.c): (lo, hi[, flags-text])
        from postgraph_spark.functions import casts as C

        flags = ctx.gv(2)["s"] if ctx.nargs > 2 else None
        if name == "intrange":
            return C.range_ctor_int(ctx.gv(0)["i"], ctx.gv(1)["i"], flags)
        if name == "numrange":
            return C.range_ctor_num(ctx.gv(0)["d"], ctx.gv(1)["d"], flags)
        # temporal ctors: render bound text from the gvals, reuse casts
        lo, hi = ctx.gv(0), ctx.gv(1)
        f = F.coalesce(flags, F.lit("[)")) if flags is not None else F.lit("[)")
        txt = F.concat(
            f.substr(1, 1), F.coalesce(G.temporal_text(lo), F.lit("")), F.lit(","),
            F.coalesce(G.temporal_text(hi), F.lit("")), f.substr(2, 1),
        )
        cast = {"tsrange": C.cast_tsrange, "tstzrange": C.cast_tstzrange,
                "daterange": C.cast_daterange}[name]
        return cast(G.gv_str(txt))
    if name in ("lower", "upper", "isempty") and ctx.nargs == 1:
        # range accessors (gtype_range.c) — note: 'lower'/'upper' over a
        # STRING gval remain the string functions below, so dispatch on
        # the argument's static type when known
        a = ctx.gv(0)
        if G.T_STRING in G.gv_types(a):
            from postgraph_spark.functions import casts as C

            if name == "isempty":
                return C.range_isempty(a)
            # Only treat the text as a range when it has a two-bound
            # comma body whose non-empty bounds parse as numbers —
            # 'empty', '(abc)' or any bracketed plain string stays a
            # string and gets the string lower()/upper() below.
            p = C._range_parts(a["s"])
            rng_like = (
                p["ok"]
                & ((p["lo"] == "") | p["lo"].try_cast("double").isNotNull())
                & ((p["hi"] == "") | p["hi"].try_cast("double").isNotNull())
            )
            fn = C.range_lower if name == "lower" else C.range_upper
            alt = F.lower(a["s"]) if name == "lower" else F.upper(a["s"])
            picked = fn(a)
            return G._mk(
                F.when(rng_like, picked["t"]).otherwise(G._t_or_null(alt, G.T_STRING)),
                i=F.when(rng_like, picked["i"]),
                d=F.when(rng_like, picked["d"]),
                s=F.when(~rng_like, alt),
            )
    if name == "range_contains":
        from postgraph_spark.functions import casts as C

        return C.range_contains_elem(ctx.gv(0), ctx.gv(1))

    # ---- network kit by Cypher name (gtype_network.c, 13 fns) ----
    if name == "trunc":
        # gtype_trunc (gtype_network.c:180-198): macaddr zeroes its last
        # 3 bytes, macaddr8 its last 5 — pure JVM over the canonical hex
        from postgraph_spark.functions.casts import _mac_fmt, _mac_hex

        a = ctx.gv(0)
        hx = _mac_hex(F.when(a["t"] == G.T_STRING, a["s"]))
        out = F.when(
            F.length(hx) == 12, _mac_fmt(F.concat(hx.substr(1, 6), F.lit("000000")), 6)
        ).when(
            F.length(hx) == 16,
            _mac_fmt(F.concat(hx.substr(1, 6), F.lit("0000000000")), 8),
        )
        return G.gv_str(out)
    if name == "macaddr8_set7bit":
        # gtype_macaddr8_set7bit (gtype_network.c:201-211 -> PG
        # macaddr8_set7bit): first byte |= 0x02 (modified EUI-64); a
        # 6-byte macaddr widens through the fffe midsection first
        from postgraph_spark.functions.casts import _mac_fmt, _mac_hex

        a = ctx.gv(0)
        hx = _mac_hex(F.when(a["t"] == G.T_STRING, a["s"]))
        hx8 = F.when(F.length(hx) == 16, hx).when(
            F.length(hx) == 12, F.concat(hx.substr(1, 6), F.lit("fffe"), hx.substr(7, 6))
        )
        b0 = F.conv(hx8.substr(1, 2), 16, 10).cast("long").bitwiseOR(F.lit(2))
        b0x = F.lpad(F.lower(F.conv(b0.cast("string"), 10, 16)), 2, "0")
        return G.gv_str(F.when(hx8.isNotNull(), _mac_fmt(F.concat(b0x, hx8.substr(3, 14)), 8)))
    if name == "inet_merge":
        from postgraph_spark.functions import network as NET

        a, b = ctx.gv(0), ctx.gv(1)
        return G.gv_str(
            NET.inet_merge(
                F.when(a["t"] == G.T_STRING, a["s"]),
                F.when(b["t"] == G.T_STRING, b["s"]),
            )
        )
    if name in _NET_FNS:
        from postgraph_spark.functions import network as NET

        a = ctx.gv(0)
        s = F.when(a["t"] == G.T_STRING, a["s"])
        if name == "set_masklen":
            n = ctx.gv(1)["i"]
            import pandas as pd  # noqa: F401 — kit import guard
            out = NET.set_masklen_col(s, n)
            return G.gv_str(out)
        if name == "inet_same_family":
            b = ctx.gv(1)
            return G.gv_bool(NET.inet_same_family(s, F.when(b["t"] == G.T_STRING, b["s"])))
        out = getattr(NET, name)(s)
        if name in ("masklen", "family"):
            return G.gv_int(out.cast("long"))
        return G.gv_str(out)

    # ---- vector kit by Cypher name (vector.c, 11 fns) ----
    if name in _VEC_FNS:
        from postgraph_spark.functions import vector as V

        def varr(i: int) -> Column:
            g = ctx.gv(i)
            return F.when(g["t"] == G.T_ARRAY, F.from_json(g["j"], "array<double>"))

        if name == "dims":
            return G.gv_int(F.size(varr(0)).cast("long"))
        if name == "norm":
            return G.gv_float(V.l2_norm(varr(0)))
        fn = {
            "l2_distance": V.l2_distance,
            "l2_squared_distance": V.l2_squared_distance,
            "l1_distance": V.l1_distance,
            "inner_product": V.inner_product,
            "negative_inner_product": V.negative_inner_product,
            "cosine_distance": V.cosine_distance,
            "spherical_distance": V.spherical_distance,
        }[name]
        return G.gv_float(fn(varr(0), varr(1)))

    if name == "tovector":
        # vector-as-gtype-array (gtype_typecasting.c:401-440 parses the
        # '[x, y, ...]' text through gtype_vector_in). The vector text
        # grammar is wider than JSON: bare leading-dot decimals ('.9')
        # and NaN/Infinity literals (regress/sql/vector.sql) — normalize
        # the dots, let Jackson's allowNonNumericNumbers take the rest
        a = ctx.gv(0)
        s_norm = F.regexp_replace(a["s"], r"(?<=[\[,\s-])\.(?=\d)", "0.")
        arr = F.to_json(
            F.from_json(s_norm, "array<double>", {"allowNonNumericNumbers": "true"})
        )
        return G.gv_array_json(
            F.when(a["t"] == G.T_ARRAY, a["j"]).when(a["t"] == G.T_STRING, arr)
        )

    # ---- misc ----
    if name == "throw_error":
        return G.gv_str(F.raise_error(F.lit("throw_error")))

    raise ValueError(f"unknown function {name!r}")
