"""gtype — the reference's dynamically-typed document scalar
(src/include/utils/gtype.h:454-503) re-expressed as a tagged struct
column ("gval") of pure Spark expressions.

gval = struct<t:int, b:boolean, i:long, d:double, s:string, j:string>
  t — type rank, EXACTLY the reference's btree sort priority
      (get_type_sort_priority, src/backend/utils/adt/gtype_util.c:194-221):
      0 object, 1 array, 2 string, 3 bool, 4 number, 5 timestamp,
      6 date, 7 time, 8 interval, 11 null. A gtype null is t=11 (never a
      SQL-null struct) so three-valued logic is explicit.
  b/i/d/s — payload for bool/int/float+int/string. Numbers always fill
      d (the comparison key); i additionally when the value is integral,
      preserving int-vs-float identity (1 vs 1.0) for output while
      cross-type numeric comparison uses d (compare_gtype_scalar_values,
      gtype_util.c:1763-1900: int/float/numeric compare numerically).
  j — JSON text for containers (heterogeneous arrays/objects).

Native payload: a gval whose static type is ONE scalar class also
carries that value as a plain typed Spark column (long, double, string
or boolean), SQL-null exactly when the gval is a gtype null — an int or
float literal, a string literal, a boolean, a catalog-typed property
(from_variant_atoms) and numeric `+`/`-` of two such values. Comparing
two native operands is one SQL comparison (_native_cmp); every other
operand takes the gval field path.

Orderability: sort_key() returns struct(t, d, s, bi, j) — Spark's struct
ordering compares fields left-to-right, nulls-first within a field, and
treats NaN as equal-to-NaN and greater than all doubles, which is the
reference's float orderability (compare_two_floats_orderability,
gtype_util.c:1546-1560).
"""

from __future__ import annotations

import json
import operator
import re
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

# type ranks (gtype_util.c:194-221)
T_OBJECT = 0
T_ARRAY = 1
T_STRING = 2
T_BOOL = 3
T_NUMBER = 4
T_TIMESTAMP = 5
T_DATE = 6
T_TIME = 7
T_INTERVAL = 8
T_NULL = 11

# Temporal payload encoding (reference: int64 µs / int32 days,
# src/include/utils/gtype.h:454-503):
#   timestamp — i = µs since 1970-01-01 (UTC), d = i as double
#   date      — i = days since 1970-01-01, d = i * US_PER_DAY
#   time      — i = µs since midnight, d = i
#   interval  — j = {"months":m,"days":d,"us":u} (the reference's
#               Interval{month,day,time} triple), i = normalized µs with
#               30-day months / 24-h days (interval_cmp semantics), d = i
US_PER_DAY = 86_400_000_000
US_PER_MONTH = 30 * US_PER_DAY  # PG interval comparison convention
_TEMPORAL_TS = (T_TIMESTAMP, T_DATE, T_TIME, T_INTERVAL)

# IMPORTANT — expression-size discipline: a gval must ALWAYS be built as
# ONE flat F.struct(...) whose fields are small conditional expressions,
# NEVER as F.when(cond, struct_a).otherwise(struct_b). Field access on a
# flat CreateNamedStruct collapses in Catalyst (SimplifyExtractValueOps)
# to just that field's expression; field access on a CASE-of-structs
# duplicates the whole tree per access, which compounds multiplicatively
# under nesting and blows whole-stage codegen past Janino's 64 KB method
# limit (≈40 s of failed compiles per MERGE before this was fixed).


try:  # classic (JVM-backed) Column — the only runtime this engine targets
    from pyspark.sql.classic.column import Column as _ClassicColumn
except ImportError:  # pragma: no cover - older/connect pyspark
    _ClassicColumn = None


#: full gtype scalar/container type universe (for static-type pruning)
ALL_TYPES = frozenset(
    {T_OBJECT, T_ARRAY, T_STRING, T_BOOL, T_NUMBER, T_TIMESTAMP, T_DATE, T_TIME, T_INTERVAL, T_NULL}
)


class GVal(_ClassicColumn if _ClassicColumn is not None else Column):
    """A gval struct Column that remembers its construction-time field
    expressions. `gv.i` / `gv["i"]` return the stored field expression
    instead of UnresolvedExtractValue(CreateNamedStruct(...)) — without
    this, every field access drags the WHOLE 6-field struct tree into
    the consumer, and composed temporal expressions multiply into
    million-node trees that take minutes to analyze (Catalyst's
    SimplifyExtractValueOps would collapse them, but only after the
    conversion/analysis walk has already paid for the full tree)."""

    def __getattr__(self, item):
        if item.startswith("_"):
            # Column.__getattr__ would turn unknown private attrs into
            # struct-field accesses; raise like a normal object so
            # getattr(gv, "_x", default) works
            raise AttributeError(item)
        flds = self.__dict__.get("_gval_fields")
        if flds is not None and item in flds:
            return flds[item]
        return super().__getattr__(item)

    def __getitem__(self, k):
        flds = self.__dict__.get("_gval_fields")
        if flds is not None and isinstance(k, str) and k in flds:
            return flds[k]
        return super().__getitem__(k)


def _mk(t: Column | int, b=None, i=None, d=None, s=None, j=None) -> Column:
    tt = F.lit(t) if isinstance(t, int) else t
    n = F.lit(None)
    fields = {
        "t": tt.cast("int"),
        "b": (b if b is not None else n).cast("boolean"),
        "i": (i if i is not None else n).cast("long"),
        "d": (d if d is not None else n).cast("double"),
        "s": (s if s is not None else n).cast("string"),
        "j": (j if j is not None else n).cast("string"),
    }
    base = F.struct(*[c.alias(name) for name, c in fields.items()])
    if _ClassicColumn is not None and isinstance(base, _ClassicColumn):
        gv = GVal(base._jc)
        gv._gval_fields = fields
        return gv
    return base


def gv_types(gv: Column) -> frozenset:
    """Statically-known possible type tags of a gval expression (for
    compile-time branch pruning in operator dispatch — the analog of the
    reference's static operand-type dispatch in gtype_ops.c, which never
    materializes impossible branches). Unknown -> the full universe."""
    if isinstance(gv, GVal):
        t = gv.__dict__.get("_gval_types")
        if t is not None:
            return t
    return ALL_TYPES


def _tag_types(gv: Column, *types: int) -> Column:
    """Record the possible type tags (null is always possible: any
    constructor maps a SQL-null payload to a gtype null)."""
    if isinstance(gv, GVal):
        gv._gval_types = frozenset(types) | {T_NULL}
    return gv


#: the gval field that holds each native payload kind's value
_NATIVE_FIELD = {"long": "i", "double": "d", "string": "s", "bool": "b"}


def gv_ref(c: Column | str, types: frozenset | None = None, native_kind: str | None = None) -> Column:
    """gval struct reference to a REAL column (e.g. a let-bound hidden
    projection column, plans/compiler.py Compiler._let). Field access
    goes through the GVal cache as a cheap ExtractValue-on-attribute
    instead of dragging a builder tree — the consumer-side half of the
    expression-size discipline above: composed temporal expressions
    share sub-trees as a JVM DAG, but Catalyst analysis walks them as a
    TREE, so path counts (and analysis time) multiply without a
    physical projection boundary between producer and consumer.
    ``native_kind`` (the bound gval's native payload kind) keeps the
    payload: the one field that holds it."""
    col = F.col(c) if isinstance(c, str) else c
    fields = {f: col[f] for f in ("t", "b", "i", "d", "s", "j")}
    if _ClassicColumn is not None and isinstance(col, _ClassicColumn):
        gv = GVal(col._jc)
        gv._gval_fields = fields
        if types is not None:
            gv._gval_types = frozenset(types)
        if native_kind is not None:
            _with_native(gv, native_kind, fields[_NATIVE_FIELD[native_kind]])
        return gv
    return col


# ------------------------------------------------------- scalar lets
#
# Function kernels with internal reuse chains (age's borrow tower,
# text datetime parsing) multiply their operand trees when built as one
# Column expression: each reuse copies the whole subtree, and a chain of
# k dependent intermediates grows the tree exponentially (round-6
# verdict: age() over two attribute inputs compiled to a single ~98KB
# projection expression, blowing past codegen method limits). The
# compiler installs a binder here while compiling read-path clauses;
# kernels wrap intermediates in let_scalar() so each becomes a hidden
# projection column (flushed by Compiler._apply_lets) and every reuse is
# a cheap attribute. Catalyst's CollapseProject then re-merges only the
# used-once/cheap ones, so the optimized plan stays linear in kernel
# size. With no binder installed (write path, standalone use) the value
# passes through unchanged.

_SCALAR_BINDER = None


def set_scalar_binder(fn):
    """Install (or clear, fn=None) the active scalar binder; returns the
    previous one so callers can restore it."""
    global _SCALAR_BINDER
    prev = _SCALAR_BINDER
    _SCALAR_BINDER = fn
    return prev


def let_scalar(col: Column) -> Column:
    """Bind a non-gval intermediate as a hidden projection column when a
    binder is active; identity otherwise."""
    if _SCALAR_BINDER is None:
        return col
    return _SCALAR_BINDER(col)


def _with_native(gv: Column, kind: str, c: Column) -> Column:
    """Record gv's native payload: `c`, of native class `kind` (long,
    double, string, bool), SQL-null exactly when gv is a gtype null."""
    if isinstance(gv, GVal):
        gv._gval_native = (kind, c)
    return gv


def native(gv: Column) -> tuple[str, Column] | None:
    """(kind, payload) of a gval that carries a native payload, else None."""
    return gv.__dict__.get("_gval_native") if isinstance(gv, GVal) else None


def _t_or_null(c: Column, t: int) -> Column:
    """type tag: T_NULL when the payload is SQL-null, else t."""
    return F.when(c.isNull(), F.lit(T_NULL)).otherwise(F.lit(t))


def gv_null() -> Column:
    return _tag_types(_mk(T_NULL))


def gv_bool(c: Column | bool) -> Column:
    c = (F.lit(c) if isinstance(c, bool) else c).cast("boolean")
    return _with_native(_tag_types(_mk(_t_or_null(c, T_BOOL), b=c), T_BOOL), "bool", c)


def gv_int(c: Column | int) -> Column:
    c = (F.lit(c) if isinstance(c, int) else c).cast("long")
    out = _mk(_t_or_null(c, T_NUMBER), i=c, d=c.cast("double"))
    return _with_native(_tag_types(out, T_NUMBER), "long", c)


def gv_float(c: Column | float) -> Column:
    c = (F.lit(c) if isinstance(c, float) else c).cast("double")
    return _with_native(_tag_types(_mk(_t_or_null(c, T_NUMBER), d=c), T_NUMBER), "double", c)


def gv_num(i: Column, d: Column) -> Column:
    """number gval with optional integer identity (i may be null for a
    pure float); d SQL-null -> gtype null."""
    return _tag_types(_mk(_t_or_null(d, T_NUMBER), i=F.when(d.isNotNull(), i), d=d), T_NUMBER)


def gv_str(c: Column | str) -> Column:
    c = (F.lit(c) if isinstance(c, str) else c).cast("string")
    return _with_native(_tag_types(_mk(_t_or_null(c, T_STRING), s=c), T_STRING), "string", c)


def gv_timestamp(us: Column) -> Column:
    """timestamp gval from µs-since-1970 (SQL-null µs -> gtype null)."""
    return _tag_types(_mk(_t_or_null(us, T_TIMESTAMP), i=us, d=us.cast("double")), T_TIMESTAMP)


def gv_date(days: Column) -> Column:
    """date gval from days-since-1970."""
    return _tag_types(_mk(_t_or_null(days, T_DATE), i=days, d=days.cast("double") * US_PER_DAY), T_DATE)


def gv_time(us: Column) -> Column:
    """time-of-day gval from µs-since-midnight."""
    return _tag_types(_mk(_t_or_null(us, T_TIME), i=us, d=us.cast("double")), T_TIME)


def gv_interval(months: Column, days: Column, us: Column) -> Column:
    """interval gval from the reference's {month, day, µs} triple
    (gtype.h interval scalar); any SQL-null component -> gtype null."""
    m = months.cast("long")
    d = days.cast("long")
    u = us.cast("long")
    norm = m * US_PER_MONTH + d * US_PER_DAY + u
    j = F.concat(
        F.lit('{"months":'), m.cast("string"),
        F.lit(',"days":'), d.cast("string"),
        F.lit(',"us":'), u.cast("string"), F.lit("}"),
    )
    out = _tag_types(_mk(_t_or_null(norm, T_INTERVAL), i=norm, d=norm.cast("double"), j=j), T_INTERVAL)
    return _attach_iv(out, m, d, u)


def _attach_iv(gv: Column, m: Column, d: Column, u: Column) -> Column:
    """Remember an interval gval's construction-time {months,days,us}
    so interval_parts() returns the three expressions directly instead
    of re-parsing the JSON j field (same discipline as GVal's field
    cache: composed interval arithmetic otherwise drags a from_json of
    the whole j-builder tree into every consumer)."""
    if isinstance(gv, GVal):
        gv._gval_iv = (m.cast("long"), d.cast("long"), u.cast("long"))
    return gv


def interval_parts(gv: Column) -> Column:
    """interval gval -> struct(months, days, us) (null struct fields for
    non-intervals)."""
    iv = gv.__dict__.get("_gval_iv") if isinstance(gv, GVal) else None
    if iv is not None:
        return F.struct(iv[0].alias("months"), iv[1].alias("days"), iv[2].alias("us"))
    return F.from_json(
        F.when(gv.t == T_INTERVAL, gv.j), "struct<months:long,days:long,us:long>"
    )


def gv_array_json(c: Column) -> Column:
    return _tag_types(_mk(_t_or_null(c, T_ARRAY), j=c), T_ARRAY)


def gv_object_json(c: Column) -> Column:
    return _tag_types(_mk(_t_or_null(c, T_OBJECT), j=c), T_OBJECT)


def gv_lit(v: Any) -> Column:
    """Python literal -> gval."""
    if v is None:
        return gv_null()
    if isinstance(v, bool):
        return gv_bool(v)
    if isinstance(v, int):
        return gv_int(v)
    if isinstance(v, float):
        return gv_float(v)
    if isinstance(v, str):
        return gv_str(v)
    if isinstance(v, list):
        return gv_array_json(F.lit(json.dumps(v)))
    if isinstance(v, dict):
        return gv_object_json(F.lit(json.dumps(v)))
    raise TypeError(f"unsupported literal: {v!r}")


def from_variant(x: Column, bind: bool = False) -> Column:
    """VARIANT -> gval: runtime type dispatch on schema_of_variant.
    JSON decimals surface as DECIMAL(p,s) — treated as float (the
    reference parses bare decimals to gtype float/numeric).

    bind=True let-binds the variant value and its schema text as hidden
    columns (when a binder is active): the value is referenced ~20x and
    the schema ~15x across the gval's axes, so inlining multiplies an
    80-char variant_get into a ~24 KB projection line (round-7 verdict
    #8). Only TOP-LEVEL calls may bind — inside a higher-order-function
    lambda the operand references a lambda variable, which cannot be
    projected as a column."""
    if bind:
        x = let_scalar(x)
        sch = let_scalar(F.schema_of_variant(x))
    else:
        sch = F.schema_of_variant(x)
    isn = x.isNull() | F.is_variant_null(x)
    is_int = sch == "BIGINT"
    is_num = is_int | sch.startswith("DECIMAL") | (sch == "DOUBLE") | (sch == "FLOAT")
    is_str = sch == "STRING"
    is_bool = sch == "BOOLEAN"
    is_ts = (sch == "TIMESTAMP") | (sch == "TIMESTAMP_NTZ")
    is_date = sch == "DATE"
    is_arr = sch.startswith("ARRAY")
    is_obj = sch.startswith("OBJECT") | sch.startswith("STRUCT")
    ts_us = F.unix_micros(F.variant_get(x, "$", "timestamp"))
    date_days = F.unix_date(F.variant_get(x, "$", "date")).cast("long")
    t = (
        F.when(isn, F.lit(T_NULL))
        .when(is_num, F.lit(T_NUMBER))
        .when(is_str, F.lit(T_STRING))
        .when(is_bool, F.lit(T_BOOL))
        .when(is_ts, F.lit(T_TIMESTAMP))
        .when(is_date, F.lit(T_DATE))
        .when(is_arr, F.lit(T_ARRAY))
        .when(is_obj, F.lit(T_OBJECT))
        .otherwise(F.lit(T_NULL))
    )
    return _mk(
        t,
        b=F.when(~isn & is_bool, F.variant_get(x, "$", "boolean")),
        i=F.when(~isn & is_int, F.variant_get(x, "$", "bigint"))
        .when(~isn & is_ts, ts_us)
        .when(~isn & is_date, date_days),
        d=F.when(~isn & is_num, F.variant_get(x, "$", "double"))
        .when(~isn & is_ts, ts_us.cast("double"))
        .when(~isn & is_date, date_days.cast("double") * US_PER_DAY),
        s=F.when(~isn & is_str, F.variant_get(x, "$", "string")),
        j=F.when(~isn & (is_arr | is_obj), x.cast("string")),
    )


#: property-catalog "atoms" (round-12, guide §2.3 narrower types): the
#: storage-level scalar classes a property can hold (graph.py
#: Graph.prop_types: from the native column types or python values a
#: graph was built from, extended by every write with the variant types
#: it stores). Finer than gtype tags — a BIGINT and a
#: DOUBLE both map to T_NUMBER but differ in whether the i (integer
#: identity) field is populated, which the typed constructor preserves.
ATOM_TAGS = {
    "long": T_NUMBER, "double": T_NUMBER, "string": T_STRING,
    "bool": T_BOOL, "timestamp": T_TIMESTAMP, "date": T_DATE,
    "array": T_ARRAY, "object": T_OBJECT,
}


#: schema_of_variant text -> atom, read as from_variant dispatches it
_EXACT_ATOMS = {
    "BIGINT": "long", "DOUBLE": "double", "FLOAT": "double", "STRING": "string",
    "BOOLEAN": "bool", "TIMESTAMP": "timestamp", "TIMESTAMP_NTZ": "timestamp",
    "DATE": "date",
}
_PREFIX_ATOMS = (("DECIMAL", "double"), ("ARRAY", "array"), ("OBJECT", "object"), ("STRUCT", "object"))


def variant_atom(schema: str) -> str | None:
    """Catalog atom of a variant value from its schema_of_variant text,
    exactly as from_variant dispatches it (a JSON decimal is a number
    with only the double field, like "double"); None for a type
    from_variant does not dispatch."""
    if schema in _EXACT_ATOMS:
        return _EXACT_ATOMS[schema]
    return next((a for p, a in _PREFIX_ATOMS if schema.startswith(p)), None)


#: Spark type each single-scalar catalog atom is extracted as
_ATOM_SQL = {
    "long": "bigint", "double": "double", "string": "string", "bool": "boolean",
    "timestamp": "timestamp", "date": "date",
}


def from_variant_atoms(doc: Column, atoms, bind: bool = False, path: str = "$") -> Column:
    """The value at `path` of VARIANT `doc` as a gval, when its runtime
    type is STATICALLY known to be among `atoms` (or missing / JSON
    null) — the knowledge comes from the graph's property-type catalog,
    a superset of the atoms its stored documents hold.

    Produces exactly from_variant()'s result for those runtime types. A
    SINGLE scalar atom needs no schema_of_variant dispatch at all: the
    value is ONE typed extraction, try_variant_get(doc, path, <type>),
    SQL-null exactly when the key is missing or JSON null, and every
    gval field derives from it. For long, double, string and bool that
    extraction is the gval's native payload, so a comparison with
    another native operand is one SQL comparison (_native_cmp). Multiple
    atoms keep the runtime dispatch but still tag the static type set so
    sort-key and value-struct narrowing fire downstream. An EMPTY atom
    set means the property never occurs on this label: the access is a
    constant gtype null."""
    atoms = frozenset(a for a in atoms if a in ATOM_TAGS)
    if not atoms:
        return gv_null()
    if len(atoms) > 1:
        # mixed-type property: full runtime dispatch, static tags only
        x = F.try_variant_get(doc, path, "variant")
        return _tag_types(from_variant(x, bind=bind), *(ATOM_TAGS[a] for a in atoms))
    a = next(iter(atoms))
    v = F.try_variant_get(doc, path, _ATOM_SQL.get(a, "variant"))
    if bind:
        v = let_scalar(v)
    if a == "timestamp":
        return gv_timestamp(F.unix_micros(v))
    if a == "date":
        return gv_date(F.unix_date(v).cast("long"))
    if a in _ATOM_SQL:
        return {"long": gv_int, "double": gv_float, "string": gv_str, "bool": gv_bool}[a](v)
    # array / object: container JSON text, exactly as from_variant
    j = F.when(~(v.isNull() | F.is_variant_null(v)), v.cast("string"))
    return _tag_types(_mk(_t_or_null(j, ATOM_TAGS[a]), j=j), ATOM_TAGS[a])


def prop_access_variant(pv: Column, path: list[str], atoms=None) -> Column:
    """properties VARIANT -> gval at $.a.b...; a missing key is a gtype
    null (reference `->` semantics, gtype.c:1621-1832). Every key access
    is a binary variant_get. ``atoms`` (a catalog atom set, see
    from_variant_atoms) skips the runtime type dispatch."""
    p = "$." + ".".join(path)
    if atoms is not None:
        return from_variant_atoms(pv, atoms, bind=True, path=p)
    return from_variant(F.try_variant_get(pv, p, "variant"), bind=True)


def element_access(gv: Column, idx: Column) -> Column:
    """list[index] with 0-based Cypher indexing and negative wraparound."""
    arr = to_variant_array(gv)
    n = F.size(arr)
    i0 = F.when(idx < 0, idx + n).otherwise(idx)
    ok = (gv.t == T_ARRAY) & (i0 >= 0) & (i0 < n)
    # out-of-range/non-array -> variant null -> gtype null (flat struct)
    return from_variant(F.when(ok, F.element_at(arr, (i0 + 1).cast("int"))))


def to_variant_array(gv: Column) -> Column:
    """gval array -> array<variant> (for UNWIND/explode and indexing)."""
    return F.from_json(gv.j, "array<variant>")


# ------------------------------------------------------------------ rendering

def _us_frac_text(us_of_sec: Column) -> Column:
    """µs fraction -> '' or '.ffffff' with trailing zeros trimmed
    (Postgres timestamp output convention)."""
    frac = F.pmod(us_of_sec, F.lit(1_000_000))
    return F.when(
        frac == 0, F.lit("")
    ).otherwise(
        F.regexp_replace(F.concat(F.lit("."), F.lpad(frac.cast("string"), 6, "0")), "0+$", "")
    )


def temporal_text(gv: Column) -> Column:
    """temporal gval -> unquoted display text (ISO-style; the reference
    renders via each type's _out function — gtype_temporal.c)."""
    ts_txt = F.concat(
        F.date_format(F.timestamp_micros(gv.i), "yyyy-MM-dd HH:mm:ss"), _us_frac_text(gv.i)
    )
    time_txt = F.concat(
        F.concat_ws(
            ":",
            F.lpad((gv.i / F.lit(3_600_000_000)).cast("long").cast("string"), 2, "0"),
            F.lpad(F.pmod((gv.i / F.lit(60_000_000)).cast("long"), F.lit(60)).cast("string"), 2, "0"),
            F.lpad(F.pmod((gv.i / F.lit(1_000_000)).cast("long"), F.lit(60)).cast("string"), 2, "0"),
        ),
        _us_frac_text(gv.i),
    )
    return (
        F.when(gv.t == T_TIMESTAMP, ts_txt)
        .when(gv.t == T_DATE, F.date_format(F.date_from_unix_date(gv.i.cast("int")), "yyyy-MM-dd"))
        .when(gv.t == T_TIME, time_txt)
        .when(gv.t == T_INTERVAL, gv.j)
    )


def to_json_text(gv: Column) -> Column:
    """gval -> its JSON text (the reference's gtype_out shape). Branches
    of types the value cannot have (gv_types) are pruned, as in cmp_eq:
    an int literal renders through the null and number branches alone,
    not the ~300-node temporal rendering."""
    ts = gv_types(gv)
    chain = F.when(gv.isNull() | (gv.t == T_NULL), F.lit(None).cast("string"))
    if T_STRING in ts:
        # JSON-escape a bare string by serializing a 1-element array and
        # stripping the brackets (keeps escaping JVM-side and exact)
        arr_txt = F.to_json(F.array(gv.s))
        chain = chain.when(gv.t == T_STRING, arr_txt.substr(F.lit(2), F.length(arr_txt) - 2))
    if T_BOOL in ts:
        chain = chain.when(gv.t == T_BOOL, F.when(gv.b, F.lit("true")).otherwise(F.lit("false")))
    if T_NUMBER in ts:
        chain = chain.when((gv.t == T_NUMBER) & gv.i.isNotNull(), gv.i.cast("string")).when(
            gv.t == T_NUMBER, gv.d.cast("string")
        )
    if ts & {T_TIMESTAMP, T_DATE, T_TIME}:
        chain = chain.when(
            gv.t.isin(T_TIMESTAMP, T_DATE, T_TIME),
            F.concat(F.lit('"'), temporal_text(gv), F.lit('"')),
        )
    # intervals, containers and entities render as their JSON payload
    return chain.otherwise(gv.j)


def to_variant(gv: Column) -> Column:
    """gval -> VARIANT from the typed payload: an int is a BIGINT, a float
    a DOUBLE (1.0 stays 1.0), a temporal its display text (a string, as
    to_json_text quotes it). Containers, intervals and entities parse
    their JSON payload, so a float nested in a list or map is a DECIMAL.
    A gtype null is a SQL null. Impossible branches are pruned (gv_types)."""
    ts = gv_types(gv)
    chain = F.when(gv.isNull() | (gv.t == T_NULL), F.lit(None).cast("variant"))
    if T_STRING in ts:
        chain = chain.when(gv.t == T_STRING, gv.s.cast("variant"))
    if T_BOOL in ts:
        chain = chain.when(gv.t == T_BOOL, gv.b.cast("variant"))
    if T_NUMBER in ts:
        chain = chain.when(gv.t == T_NUMBER, F.coalesce(gv.i.cast("variant"), gv.d.cast("variant")))
    if ts & {T_TIMESTAMP, T_DATE, T_TIME}:
        chain = chain.when(gv.t.isin(T_TIMESTAMP, T_DATE, T_TIME), temporal_text(gv).cast("variant"))
    return chain.otherwise(F.try_parse_json(gv.j))


def variant_object(values: dict[str, Column]) -> Column:
    """{key: VARIANT column} -> one VARIANT object (its keys sorted): the
    one builder of a property map from typed values."""
    if not values:
        return F.parse_json(F.lit("{}"))
    return F.to_variant_object(
        F.create_map(*[c for k, v in values.items() for c in (F.lit(k), v)])
    )


#: reserved prefix for a probe-side null key; real canon texts always
#: start with a digit type rank, so the sentinel can never collide
NULL_KEY_SENTINEL = "\x00"


def canon_key_text(gv: Column, null_as_sentinel: bool = False) -> Column:
    """Canonical equality-key text implementing gtype orderability
    equality (cmp_eq) as a plain STRING so joins on it are EQUI joins
    (hash/sort-merge, broadcastable) instead of nested-loop joins over
    gval expressions. Numbers canonicalize through their double image
    (1 = 1.0 — exactly _num_eq's comparison); other types prefix their
    type rank. A gtype null maps to SQL null (equi-join: matches
    nothing) or, with null_as_sentinel, to a reserved sentinel that can
    only match same-side sentinels (used to re-join created MERGE rows
    whose key expression was null)."""
    nullv = F.lit(NULL_KEY_SENTINEL) if null_as_sentinel else F.lit(None).cast("string")
    chain = (
        F.when(gv.t == T_NULL, nullv)
        .when(gv.t == T_NUMBER, F.concat(F.lit("4:"), gv.d.cast("string")))
        # timestamp/date cross-compare by instant (shared µs axis) and
        # intervals by normalized µs ('1 mon' = '30 days' under
        # interval_cmp) — key on the same values cmp_eq compares so
        # equi-joins agree with `=` (gtype_util.c:1838-1900)
        .when(
            gv.t.isin(T_TIMESTAMP, T_DATE),
            F.concat(F.lit("5:"), _temporal_us(gv).cast("string")),
        )
        .when(gv.t == T_INTERVAL, F.concat(F.lit("8:"), gv.i.cast("string")))
    )
    if T_ARRAY in gv_types(gv):
        # canonical array key: elements keyed like cmp_eq's element walk
        # (numbers through the double image), so [1] and [1.0] share a
        # key and DISTINCT/joins collapse them (gtype_util.c:233-360)
        elem_txt = F.transform(
            to_variant_array(gv),
            lambda e: F.to_json(_elem_sort_key(e)),
        )
        chain = chain.when(
            gv.t == T_ARRAY,
            F.concat(F.lit("1:["), F.array_join(elem_txt, ",", "\x00"), F.lit("]")),
        )
    if T_OBJECT in gv_types(gv):
        # objects key on sorted (key, canonical-value) pairs so {a: 1}
        # and {a: 1.0} share one key under DISTINCT / equi-joins
        obj_txt = obj_canon_txt(F.from_json(gv.j, _VMAP))
        chain = chain.when(gv.t == T_OBJECT, F.concat(F.lit("0:"), obj_txt))
    return chain.otherwise(
        F.concat(gv.t.cast("string"), F.lit(":"), F.coalesce(to_json_text(gv), F.lit("")))
    )


# ---------------------------------------------------------------- orderability

def _temporal_us(gv: Column) -> Column:
    """timestamp-or-date gval -> exact µs axis (long): the shared
    comparison class of compare_gtype_scalar_values (gtype_util.c:
    1838-1848, date_cmp_timestamp_internal)."""
    return F.when(gv.t == T_DATE, gv.i * US_PER_DAY).otherwise(gv.i)


_ELEM_KEY_T = "array<struct<e0:int,e1:double,e2:string,e3:int,e4:string>>"
_VMAP = "map<string, variant>"


def _scalar_canon_txt(e: Column) -> Column:
    """Variant scalar -> canonical key text (numbers through the double
    image, strings/bools/containers type-prefixed). The depth-2 leaf of
    the element-key walk: containers nested deeper than two levels fall
    back to raw JSON text (documented residual)."""
    ev = from_variant(e)
    return (
        F.when(ev.t == T_NUMBER, F.concat(F.lit("4:"), ev.d.cast("string")))
        .when(ev.t == T_STRING, F.concat(F.lit("2:"), ev.s))
        .when(ev.t == T_BOOL, F.concat(F.lit("3:"), ev.b.cast("int").cast("string")))
        .when(ev.t == T_NULL, F.lit("11:"))
        .otherwise(F.concat(ev.t.cast("string"), F.lit(":"), ev.j))
    )


def obj_canon_txt(m: Column) -> Column:
    """An object (map<string, variant>) -> canonical key text: entries
    sorted by key, values through the depth-2 scalar canonicalization —
    so {a: 1} and {a: 1.0} share a key (compare_gtype_containers_
    orderability's object walk, gtype_util.c:233-360)."""
    entries = F.map_entries(m)
    parts = F.transform(
        entries,
        lambda kv: F.concat(
            F.to_json(F.array(kv["key"])), F.lit(":"),
            F.coalesce(_scalar_canon_txt(kv["value"]), F.lit("\x00")),
        ),
    )
    # sort the RENDERED entry texts (a struct with a VARIANT field is
    # not orderable); the quoted-key prefix makes this a by-key sort
    return F.concat(F.lit("{"), F.array_join(F.array_sort(parts), ",", "\x00"), F.lit("}"))


def _nested_canon_txt(e: Column) -> Column:
    """Variant element -> canonical text ONE MORE level down: nested
    arrays walk their elements ([[1]] = [[1.0]]), nested objects sort
    entries and canonicalize values ({a: 1} = {a: 1.0}); depth >= 3
    stays raw JSON text."""
    ev = from_variant(e)
    inner = F.from_json(ev.j, "array<variant>")
    arr_txt = F.concat(
        F.lit("1:["),
        F.array_join(F.transform(inner, _scalar_canon_txt), ",", "\x00"),
        F.lit("]"),
    )
    return (
        F.when(ev.t == T_ARRAY, arr_txt)
        .when(ev.t == T_OBJECT, F.concat(F.lit("0:"), obj_canon_txt(F.from_json(ev.j, _VMAP))))
        .otherwise(ev.j)
    )


def _elem_sort_key(e: Column, deep: bool = True) -> Column:
    """Array-element (variant) -> scalar orderability key. Numbers key
    on their double image so [1] and [1.0] compare equal element-wise
    (compare_gtype_containers_orderability, gtype_util.c:233-360).
    deep=True (equality surfaces: cmp_eq, canon_key_text) additionally
    canonicalizes nested containers one level through e4
    (_nested_canon_txt, [[1]] = [[1.0]]); deep=False (the hot SORT
    path) keeps nested containers as JSON text."""
    ev = from_variant(e)
    return F.struct(
        ev.t.alias("e0"),
        ev.d.alias("e1"),
        ev.s.alias("e2"),
        ev.b.cast("int").alias("e3"),
        (_nested_canon_txt(e) if deep else ev.j).alias("e4"),
    )


def _array_keys(gv: Column, deep: bool = True) -> Column:
    """gval array -> array of element orderability keys (null for
    non-arrays). Spark orders arrays element-wise left-to-right —
    exactly the reference's container orderability walk. deep as in
    _elem_sort_key."""
    return F.when(
        gv.t == T_ARRAY,
        F.transform(to_variant_array(gv), lambda e: _elem_sort_key(e, deep=deep)),
    )


# -------------------------- unbounded-depth container order encoding
#
# compare_gtype_containers_orderability (gtype_util.c:233-360) is a
# token-stream walk: containers compare element-by-element (objects:
# alternating key/value tokens, pairs in JSONB storage order = sorted by
# (key length, key bytes)), a premature END token sorts first, scalars
# compare by type priority then value (numbers numerically). That walk
# is recursive to ARBITRARY depth. The encoding below maps any JSON
# value to a STRING whose lexicographic (byte) order equals the walk's
# order, so Spark's native string comparison performs the recursive
# comparison: rank char per type (matching the T_* priorities), doubles
# as 16-hex-digit sign-flipped IEEE754 bits, strings NUL-terminated
# (shorter-prefix-first), containers as concatenated element encodings
# with a \x00 end marker (< every rank char => premature end sorts
# first, exactly the walk's END-token rule). Gval containers are JSON
# documents, so leaves are only null/bool/number/string — temporals
# cannot occur inside containers, which keeps the leaf set closed.
#
# Residual divergences (documented): numbers through their double image
# (engine-wide); strings containing NUL bytes re-map \x00 -> \x01.

_F64_SIGN = 1 << 63
_F64_MASK = (1 << 64) - 1


def _deep_enc(v) -> str:
    import struct as _struct

    if v is None:
        return chr(0x30 + T_NULL)  # ';' — null sorts last (priority 11)
    if isinstance(v, bool):
        return "31" if v else "30"
    if isinstance(v, (int, float)):
        x = float(v)
        if x == 0:
            x = 0.0  # -0.0 == 0.0 numerically
        u = _struct.unpack(">Q", _struct.pack(">d", x))[0]
        u = (~u) & _F64_MASK if u & _F64_SIGN else u | _F64_SIGN
        return "4%016x" % u
    if isinstance(v, str):
        return "2" + v.replace("\x00", "\x01") + "\x00"
    if isinstance(v, list):
        return "1" + "".join(_deep_enc(e) for e in v) + "\x00"
    items = sorted(v.items(), key=lambda kv: (len(kv[0]), kv[0]))
    return "0" + "".join(
        "2" + k.replace("\x00", "\x01") + "\x00" + _deep_enc(val) for k, val in items
    ) + "\x00"


_DEEP_KEY_UDF = None


def deep_container_key(j: Column) -> Column:
    """JSON container text -> order-preserving canonical key, Arrow-
    batched (null in -> null out, so callers pass NULL for scalar rows
    and the python worker does no per-row work on them)."""
    global _DEEP_KEY_UDF
    if _DEEP_KEY_UDF is None:
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import StringType

        def _k(s):
            import json as _json

            return s.apply(lambda t: None if t is None else _deep_enc(_json.loads(t)))

        _DEEP_KEY_UDF = pandas_udf(_k, StringType())
    return _DEEP_KEY_UDF(j)


#: tags whose gvals can carry a non-null payload in each field. d is the
#: cross-type numeric/temporal axis; s only strings; b only booleans; j
#: only container JSON text and the interval's normalized-form JSON
#: (from_variant / gv_array / gv_object / gv_interval constructors).
_D_TAGS = frozenset({T_NUMBER, T_TIMESTAMP, T_DATE, T_TIME, T_INTERVAL})
_J_TAGS = frozenset({T_OBJECT, T_ARRAY, T_INTERVAL})


#: full gval struct shape and per-field Spark types (for narrowed-
#: materialization readers that rebuild absent fields as typed nulls)
GVAL_FIELDS = ("t", "b", "i", "d", "s", "j")
_FIELD_TYPES = {
    "t": "int", "b": "boolean", "i": "long",
    "d": "double", "s": "string", "j": "string",
}


#: DDL of a whole gval struct
GVAL_DDL = "struct<" + ",".join(f"{f}:{_FIELD_TYPES[f]}" for f in GVAL_FIELDS) + ">"


def py_gval(v: Any) -> tuple:
    """JSON-typed python value -> gval payload (GVAL_FIELDS order), to
    build rows of typed values on the driver. An int outside int64 is a
    float; lists and dicts carry their JSON text."""
    if v is None:
        return (T_NULL, None, None, None, None, None)
    if isinstance(v, bool):
        return (T_BOOL, v, None, None, None, None)
    if isinstance(v, int) and -(1 << 63) <= v < (1 << 63):
        return (T_NUMBER, None, v, float(v), None, None)
    if isinstance(v, (int, float)):
        return (T_NUMBER, None, None, float(v), None, None)
    if isinstance(v, str):
        return (T_STRING, None, None, None, v, None)
    if isinstance(v, (list, dict)):
        return (T_ARRAY if isinstance(v, list) else T_OBJECT, None, None, None, None, json.dumps(v))
    raise TypeError(f"unsupported property value: {v!r}")


def feasible_fields(types: frozenset | None) -> tuple[str, ...]:
    """gval fields a static tag set can populate (per the _mk
    constructors: numbers/temporals fill i+d, strings s, booleans b,
    containers+interval j; t always). Unknown -> all six."""
    if types is None:
        return GVAL_FIELDS
    out = ["t"]
    if T_BOOL in types:
        out.append("b")
    if types & _D_TAGS:
        out.extend(("i", "d"))
    if T_STRING in types:
        out.append("s")
    if types & _J_TAGS:
        out.append("j")
    return tuple(out)


def narrow_gval(gv: Column) -> Column:
    """Materialization-side VALUE narrowing (round-12, guide §2.3
    narrower types): project a gval to only its statically-feasible
    fields, so always-null payload columns stop flowing through every
    downstream exchange (a known-number WITH alias ships (t, i, d)
    instead of six fields, two of them strings). Equality, grouping,
    hashing-for-partitioning and ordering semantics are preserved
    exactly: a dropped field is null on EVERY row, so it can never
    distinguish two rows. Readers rebuild the full shape via gv_col
    (absent field -> typed null literal)."""
    types = gv_types(gv)
    fields = feasible_fields(types)
    if len(fields) == len(GVAL_FIELDS):
        return gv
    flds = gv.__dict__.get("_gval_fields") if isinstance(gv, GVal) else None
    if flds is None:
        flds = {f: gv[f] for f in fields}
    out = F.struct(*[flds[f].alias(f) for f in fields])
    # struct-LEVEL nullness must survive the rebuild (rollup/cube super-
    # aggregate rows null the whole key struct); for builder gvals the
    # struct is non-nullable and Catalyst folds the guard away. The
    # output is aliased immediately (a materialization), so the CASE-of-
    # struct discipline (no per-field access on it) is preserved.
    return F.when(gv.isNotNull(), out)


def gv_col(df, name: str, types: frozenset | None = None) -> Column:
    """Typed gval reference to DataFrame column ``name``, tolerant of a
    NARROWED materialization: fields present in the column's schema read
    as cheap attribute extracts; absent fields (provably always-null at
    materialization time) read as typed null literals. Whole-struct use
    (aggregate payloads, CASE branches against full gvals) sees the full
    6-field shape via the reconstructed underlying column — dropped
    fields were always null, so the reconstruction is value-identical."""
    col = F.col(name)
    present = set(GVAL_FIELDS)
    if df is not None:
        try:
            present = set(df.schema[name].dataType.fieldNames())
        except Exception:
            present = set(GVAL_FIELDS)
    fields = {
        f: (col[f] if f in present else F.lit(None).cast(_FIELD_TYPES[f]))
        for f in GVAL_FIELDS
    }
    if present >= set(GVAL_FIELDS):
        base = col
    else:
        # null-safe rebuild: a struct-NULL row (rollup super-aggregate,
        # outer-join miss) must stay struct-null, not become a struct of
        # null fields. Field reads bypass this CASE via _gval_fields.
        base = F.when(
            col.isNotNull(), F.struct(*[fields[f].alias(f) for f in GVAL_FIELDS])
        )
    if _ClassicColumn is not None and isinstance(base, _ClassicColumn):
        gv = GVal(base._jc)
        gv._gval_fields = fields
        if types is not None:
            gv._gval_types = frozenset(types)
        return gv
    return base  # pragma: no cover - non-classic runtime


def sort_key(gv: Column, exact_containers: bool = False, narrow: bool = False) -> Column:
    """Total-order sort key. bool false<true via int; NaN handled by
    Spark's double ordering (NaN last = reference's NaN > non-NaN).
    timestamp and date share one rank (k0=5) so k1 — the µs axis both
    types store in d — decides their cross-type order, mirroring
    date_cmp_timestamp_internal (gtype_util.c:1838-1848).

    Containers: with exact_containers=False (comparison operators,
    min/max — the hot path) arrays order ELEMENT-WISE to depth 2 via k4
    and objects/deeper nestings by JSON text via k5 (documented fast-
    path trade). With exact_containers=True (the ORDER BY compile path)
    both kinds order by the UNBOUNDED-depth canonical encoding
    (deep_container_key) — the full gtype_util.c:233-360 walk; scalar
    rows pass NULL through the Arrow batch, so a sort over scalar
    values pays no per-row python work.

    ``narrow`` (round-11, guide §2.3 narrower types): drop key fields
    the expression's STATIC type set can never populate — a known-
    number ORDER BY key shrinks from a 6-field struct carrying two
    string columns to (k0 int, k1 double), so range-partition and sort
    exchanges stop shipping always-null strings. Only for call sites
    whose keys are compared WITHIN one expression (ORDER BY items,
    window partition/order keys, min_by/max_by and count-distinct
    keys); pairwise comparisons (cmp_lt) must keep the fixed shape so
    both sides' structs match field-for-field."""
    types = gv_types(gv)
    may_c = T_ARRAY in types or T_OBJECT in types
    k0 = F.when(gv.t == T_DATE, F.lit(T_TIMESTAMP)).otherwise(gv.t).alias("k0")
    keep_d = not narrow or bool(types & _D_TAGS)
    keep_s = not narrow or T_STRING in types
    keep_b = not narrow or T_BOOL in types
    if exact_containers and may_c:
        kc = deep_container_key(F.when(gv.t.isin(T_ARRAY, T_OBJECT), gv.j))
        fields = [k0]
        if keep_d:
            fields.append(gv.d.alias("k1"))
        if keep_s:
            fields.append(gv.s.alias("k2"))
        if keep_b:
            fields.append(gv.b.cast("int").alias("k3"))
        fields.append(kc.alias("k4"))
        return F.struct(*fields)
    may_arr = T_ARRAY in types
    fields = [k0]
    if keep_d:
        fields.append(gv.d.alias("k1"))
    if keep_s:
        fields.append(gv.s.alias("k2"))
    if keep_b:
        fields.append(gv.b.cast("int").alias("k3"))
    if may_arr or not narrow:
        k4 = _array_keys(gv, deep=False) if may_arr else F.lit(None).cast(_ELEM_KEY_T)
        fields.append(k4.alias("k4"))
    if not narrow or bool(types & _J_TAGS):
        fields.append(F.when(gv.t != T_ARRAY, gv.j).alias("k5"))
    return F.struct(*fields)


def cmp_lt(a: Column, b: Column) -> Column:
    return sort_key(a) < sort_key(b)


def _num_eq(a: Column, b: Column) -> Column:
    """Two integers compare as int64, any float pair through the double
    image; NaN = NaN true under orderability
    (compare_two_floats_orderability)."""
    return F.when(a.i.isNotNull() & b.i.isNotNull(), a.i == b.i).otherwise(
        (a.d == b.d) | (F.isnan(a.d) & F.isnan(b.d))
    )


#: gtype class of each native payload kind: `=` across classes is false
_NATIVE_CLASS = {"long": T_NUMBER, "double": T_NUMBER, "string": T_STRING, "bool": T_BOOL}

_SQL_CMP = {
    "=": operator.eq, "<>": operator.ne, "<": operator.lt,
    "<=": operator.le, ">": operator.gt, ">=": operator.ge,
}


def _native_cmp(a: Column, b: Column, op: str) -> Column | None:
    """Comparison `op` of two operands that both carry a native payload,
    as ONE SQL comparison of the payloads (SQL-null when either is a
    gtype null): int with int as long, int with float as double, string
    with string, and bool `=`/`<>` bool. `=`/`<>` of two different
    scalar classes is a constant false/true for non-null operands.
    Spark's double comparison is the reference's float orderability
    (NaN equals NaN and sorts above every number, -0.0 = 0.0). None for
    any other pair: the caller takes the gval field path."""
    na, nb = native(a), native(b)
    if na is None or nb is None:
        return None
    (ka, x), (kb, y) = na, nb
    if ka != kb and {ka, kb} == {"long", "double"}:
        x, y = x.cast("double"), y.cast("double")
    elif _NATIVE_CLASS[ka] != _NATIVE_CLASS[kb]:
        if op not in ("=", "<>"):
            return None
        return F.when(x.isNotNull() & y.isNotNull(), F.lit(op == "<>"))
    elif ka == "bool" and op not in ("=", "<>"):
        return None
    return _SQL_CMP[op](x, y)


def cmp_eq(a: Column, b: Column) -> Column:
    """Orderability equality (btree semantics: cross-type -> false, same
    type -> value compare; null = null -> true under orderability but the
    expression layer routes through 3VL wrappers where Cypher requires).

    Two operands with native payloads compare as their payloads
    (_native_cmp), with null = null true and null = value false.

    Arrays compare ELEMENT-WISE with numeric cross-type equality
    ([1] = [1.0] is true — compare_gtype_containers_orderability,
    gtype_util.c:233-360) via element orderability keys; objects and
    containers nested deeper than one level still compare by JSON text
    (documented residual divergence). The array branch is pruned when
    either side's static type set excludes arrays.

    Every same-type branch is PRUNED by the operands' shared static
    types, as _ord_cmp prunes its axes: two rows reach the branch of
    type X only when X is in both type sets. A numeric property
    compared with an int literal compiles to the null tests and the
    number branch alone — no string/bool/temporal/JSON comparisons of
    two null-literal fields (each of which Spark logs as a trivially
    true equals predicate)."""
    eq = _native_cmp(a, b, "=")
    if eq is not None:
        return F.coalesce(eq, native(a)[1].isNull() & native(b)[1].isNull())
    ta, tb = gv_types(a), gv_types(b)
    shared = ta & tb
    ts_or_date = {T_TIMESTAMP, T_DATE}
    chain = F.when((a.t == T_NULL) & (b.t == T_NULL), F.lit(True)).when(
        (a.t == T_NULL) | (b.t == T_NULL), F.lit(False)
    )
    if T_NUMBER in shared:
        chain = chain.when((a.t == T_NUMBER) & (b.t == T_NUMBER), _num_eq(a, b))
    if ta & ts_or_date and tb & ts_or_date:
        # timestamp vs date cross-compare by instant — midnight of a
        # date equals the same timestamp (gtype_util.c:1838-1848)
        chain = chain.when(
            a.t.isin(T_TIMESTAMP, T_DATE) & b.t.isin(T_TIMESTAMP, T_DATE),
            _temporal_us(a) == _temporal_us(b),
        )
    chain = chain.when(a.t != b.t, F.lit(False))
    if T_STRING in shared:
        chain = chain.when(a.t == T_STRING, a.s == b.s)
    if T_BOOL in shared:
        chain = chain.when(a.t == T_BOOL, a.b == b.b)
    if shared & {T_TIME, T_INTERVAL}:
        # timestamp/date pairs took the cross-compare branch above
        chain = chain.when(a.t.isin(*_TEMPORAL_TS), a.i == b.i)
    if T_ARRAY in shared:
        chain = chain.when(
            (a.t == T_ARRAY) & (b.t == T_ARRAY),
            F.coalesce(_array_keys(a) == _array_keys(b), F.lit(False)),
        )
    if T_OBJECT in shared:
        # objects compare by sorted (key, canonical-value) pairs, so
        # {a: 1} = {a: 1.0} (gtype_util.c:233-360 object walk)
        chain = chain.when(
            (a.t == T_OBJECT) & (b.t == T_OBJECT),
            F.coalesce(
                obj_canon_txt(F.from_json(a.j, _VMAP)) == obj_canon_txt(F.from_json(b.j, _VMAP)),
                F.lit(False),
            ),
        )
    # every type has a branch above, so only a pair of some type outside
    # the static sets could get here
    return chain.otherwise(F.lit(False))


def _cmp3vl(a: Column, b: Column, res: Column) -> Column:
    """Cypher comparison 3VL: any gtype-null operand -> gtype null,
    else boolean result — as one flat gv_bool (null bool = gtype null)."""
    return gv_bool(F.when((a.t != T_NULL) & (b.t != T_NULL), res))


def _compare(a: Column, b: Column, op: str, general) -> Column:
    """Cypher comparison `op`: one SQL comparison of two native payloads
    when _native_cmp has one (its SQL null is the gtype null), else
    general() — the orderability result — under the 3VL wrapper."""
    res = _native_cmp(a, b, op)
    return gv_bool(res) if res is not None else _cmp3vl(a, b, general())


def op_eq(a: Column, b: Column) -> Column:
    return _compare(a, b, "=", lambda: cmp_eq(a, b))


def op_neq(a: Column, b: Column) -> Column:
    return _compare(a, b, "<>", lambda: ~cmp_eq(a, b))


#: ranks whose payload rides the d axis in sort_key's k1
_D_AXIS_RANKS = {T_NUMBER, T_TIMESTAMP, T_TIME, T_INTERVAL}


def _rank_set(types: frozenset) -> set:
    """Static type set -> comparison-rank set (DATE shares TIMESTAMP's
    rank, as sort_key's k0 does)."""
    return {T_TIMESTAMP if t == T_DATE else t for t in types if t != T_NULL}


def _ord_cmp(a: Column, b: Column, pyop) -> Column:
    """Ordered comparison core for `< <= > >=`.

    Payload axes are PRUNED by the operands' shared static ranks: a
    struct `<` decides on the first differing field, and payload fields
    matter only when both rows land on the SAME k0 rank — possible only
    for ranks in the intersection of the two static type sets. A scan
    predicate comparing a property to a numeric literal therefore
    compiles to just (k0, d) — no string/bool/array kernels inlined in
    the Filter (the dominant plan-line cost; scan predicates cannot
    let-bind without losing their Filter position).

    Container-vs-container rows route through the round-7 unbounded
    canonical encoding (deep_container_key) so `<` agrees with ORDER
    BY's total order at any nesting depth (gtype_util.c:233-360). The
    deep branch is only BUILT when both operands' static type sets
    admit containers, and the Arrow batch passes NULL for non-container
    rows (no per-row python work for them).

    Two integers compare as int64: after the double image k1 ties (2^53
    and 2^53 + 1 share one), the ki axis — set only when both sides are
    integers — decides. An integer and a float compare as doubles.

    Operands that both carry a native payload never get here from the
    op_* operators when _native_cmp decides the pair (see _compare)."""
    shared = _rank_set(gv_types(a)) & _rank_set(gv_types(b))
    both_int = (
        (a.t == T_NUMBER) & (b.t == T_NUMBER) & a.i.isNotNull() & b.i.isNotNull()
        if T_NUMBER in shared
        else None
    )

    def key(gv: Column) -> Column:
        fields = [
            F.when(gv.t == T_DATE, F.lit(T_TIMESTAMP)).otherwise(gv.t).alias("k0")
        ]
        if shared & _D_AXIS_RANKS:
            fields.append(gv.d.alias("k1"))
        if both_int is not None:
            fields.append(F.when(both_int, gv.i).alias("ki"))
        if T_STRING in shared:
            fields.append(gv.s.alias("k2"))
        if T_BOOL in shared:
            fields.append(gv.b.cast("int").alias("k3"))
        # container payloads need no fast-path axis: every container-vs-
        # container row goes to the deep branch below, and against any
        # other rank k0 already decides
        return F.struct(*fields)

    res = pyop(key(a), key(b))
    if shared & {T_ARRAY, T_OBJECT}:
        both_c = a.t.isin(T_ARRAY, T_OBJECT) & b.t.isin(T_ARRAY, T_OBJECT)
        deep = pyop(
            deep_container_key(F.when(both_c, a.j)),
            deep_container_key(F.when(both_c, b.j)),
        )
        res = F.when(both_c, deep).otherwise(res)
    return res


def op_lt(a: Column, b: Column) -> Column:
    return _compare(a, b, "<", lambda: _ord_cmp(a, b, _SQL_CMP["<"]))


def op_le(a: Column, b: Column) -> Column:
    return _compare(a, b, "<=", lambda: _ord_cmp(a, b, _SQL_CMP["<="]))


def op_gt(a: Column, b: Column) -> Column:
    return _compare(a, b, ">", lambda: _ord_cmp(a, b, _SQL_CMP[">"]))


def op_ge(a: Column, b: Column) -> Column:
    return _compare(a, b, ">=", lambda: _ord_cmp(a, b, _SQL_CMP[">="]))


# ----------------------------------------------------------------- arithmetic

def _both_int(a: Column, b: Column) -> Column:
    return a.i.isNotNull() & b.i.isNotNull()


def _whens(pairs: list, otherwise: Column | None = None) -> Column:
    """Build a CASE chain from (cond, value) pairs — the pairs list is
    assembled under STATIC type-feasibility guards so impossible operator
    branches are never constructed (mirrors gtype_ops.c's static operand
    dispatch; also the dominant driver-side plan-build cost)."""
    out = None
    for c, v in pairs:
        out = F.when(c, v) if out is None else out.when(c, v)
    if out is None:
        return F.lit(None) if otherwise is None else otherwise
    return out if otherwise is None else out.otherwise(otherwise)


def _cal_add(ts_us: Column, parts: Column, sign: int = 1) -> Column:
    """timestamp µs + interval {months,days,us} with calendar semantics
    (timestamp_pl_interval: months first with day-of-month clamping, then
    days, then time — reference delegates to PG, gtype_ops.c:153-280)."""
    m = (parts["months"] * sign).cast("int")
    d = (parts["days"] * sign).cast("int")
    u = parts["us"] * sign
    tod = F.pmod(ts_us, F.lit(US_PER_DAY))
    # (ts_us - tod) is an exact multiple of US_PER_DAY; divide through
    # decimal so the quotient stays exact past 2^53 µs (~year 2255)
    days0 = ((ts_us - tod).cast("decimal(28,0)") / F.lit(US_PER_DAY)).cast("long")
    d2 = F.date_add(F.add_months(F.date_from_unix_date(days0.cast("int")), m), d)
    return F.unix_date(d2).cast("long") * US_PER_DAY + tod + u


def _iv_json(m: Column, d: Column, u: Column) -> Column:
    return F.concat(
        F.lit('{"months":'), m.cast("long").cast("string"),
        F.lit(',"days":'), d.cast("long").cast("string"),
        F.lit(',"us":'), u.cast("long").cast("string"), F.lit("}"),
    )


def _native_arith(a: Column, b: Column, op) -> Column | None:
    """`+`/`-` of two native numbers, carrying the native payload: an int
    when both are ints, computed as the general int branch computes it,
    op(a.i, b.i) (so overflow behaves the same), else a float op(a.d,
    b.d). None for any other pair."""
    na, nb = native(a), native(b)
    if na is None or nb is None or not {na[0], nb[0]} <= {"long", "double"}:
        return None
    if na[0] == nb[0] == "long":
        return gv_int(op(a.i, b.i))
    return gv_float(op(a.d, b.d))


def op_add(a: Column, b: Column) -> Column:
    """`+` dispatch (gtype_ops.c:153-280): int+int->int, any float ->
    float, string + stringy -> concat, array concat (JSON splice).
    Built as ONE flat struct (see expression-size discipline above),
    and only STATICALLY FEASIBLE branches are constructed (gv_types).

    KNOWN DIVERGENCE (intentional superset): the commutative temporal
    combos interval+timestamp/date/time follow PG SQL semantics here;
    the reference's gtype operators only dispatch rhs==INTERVAL and
    error otherwise (gtype_ops.c)."""
    nat = _native_arith(a, b, operator.add)
    if nat is not None:
        return nat
    ta, tb = gv_types(a), gv_types(b)
    nul = (a.t == T_NULL) | (b.t == T_NULL)
    f_num = T_NUMBER in ta and T_NUMBER in tb
    f_cat = (T_STRING in ta) or (T_STRING in tb)
    f_arr = T_ARRAY in ta and T_ARRAY in tb
    f_ts_iv = T_TIMESTAMP in ta and T_INTERVAL in tb
    f_iv_ts = T_INTERVAL in ta and T_TIMESTAMP in tb
    f_date_iv = T_DATE in ta and T_INTERVAL in tb
    f_iv_date = T_INTERVAL in ta and T_DATE in tb
    f_cal = f_ts_iv or f_iv_ts or f_date_iv or f_iv_date
    f_date_int = T_DATE in ta and T_NUMBER in tb
    f_int_date = T_NUMBER in ta and T_DATE in tb
    f_time_iv = T_TIME in ta and T_INTERVAL in tb
    f_iv_time = T_INTERVAL in ta and T_TIME in tb
    f_iv_iv = T_INTERVAL in ta and T_INTERVAL in tb

    false = F.lit(False)
    bothnum = ((a.t == T_NUMBER) & (b.t == T_NUMBER)) if f_num else false
    is_int = (bothnum & _both_int(a, b)) if f_num else false
    # string-concat only applies when the number branches did not
    # (reference dispatch order: numeric first, then string+stringy)
    is_cat = (~bothnum & ((a.t == T_STRING) | (b.t == T_STRING))) if f_cat else false
    is_arr = ((a.t == T_ARRAY) & (b.t == T_ARRAY)) if f_arr else false
    ts_iv = ((a.t == T_TIMESTAMP) & (b.t == T_INTERVAL)) if f_ts_iv else false
    iv_ts = ((a.t == T_INTERVAL) & (b.t == T_TIMESTAMP)) if f_iv_ts else false
    date_iv = ((a.t == T_DATE) & (b.t == T_INTERVAL)) if f_date_iv else false
    iv_date = ((a.t == T_INTERVAL) & (b.t == T_DATE)) if f_iv_date else false
    date_int = ((a.t == T_DATE) & (b.t == T_NUMBER) & b.i.isNotNull()) if f_date_int else false
    int_date = ((a.t == T_NUMBER) & a.i.isNotNull() & (b.t == T_DATE)) if f_int_date else false
    time_iv = ((a.t == T_TIME) & (b.t == T_INTERVAL)) if f_time_iv else false
    iv_time = ((a.t == T_INTERVAL) & (b.t == T_TIME)) if f_iv_time else false
    iv_iv = ((a.t == T_INTERVAL) & (b.t == T_INTERVAL)) if f_iv_iv else false
    cal = (ts_iv | iv_ts | date_iv | iv_date) if f_cal else false

    pa = interval_parts(a) if T_INTERVAL in ta else None
    pb = interval_parts(b) if T_INTERVAL in tb else None

    # ONE _cal_add over the point/interval sides selected by branch —
    # expression-tree budget: every textual re-reference of a subtree
    # multiplies the as-a-tree size the Column->Catalyst conversion
    # walks, so temporal payloads are computed once and branch-selected
    ts_res = None
    if f_cal:
        point_us = _whens(
            [(c, v) for f, c, v in (
                (f_ts_iv, ts_iv, a.i), (f_iv_ts, iv_ts, b.i),
                (f_date_iv, date_iv, a.i * US_PER_DAY),
                (f_iv_date, iv_date, b.i * US_PER_DAY),
            ) if f]
        )
        if pa is not None and pb is not None:
            piv = F.when(a.t == T_INTERVAL, pa).otherwise(pb)
        else:
            piv = pa if pa is not None else pb
        ts_res = _cal_add(point_us, piv)
    time_res = _whens(
        [(c, v) for f, c, v in (
            (f_time_iv, time_iv, F.pmod(a.i + (pb["us"] if pb is not None else F.lit(None)), F.lit(US_PER_DAY))),
            (f_iv_time, iv_time, F.pmod(b.i + (pa["us"] if pa is not None else F.lit(None)), F.lit(US_PER_DAY))),
        ) if f]
    ) if (f_time_iv or f_iv_time) else None
    if f_iv_iv:
        ivm, ivd, ivu = pa["months"] + pb["months"], pa["days"] + pb["days"], pa["us"] + pb["us"]

    t_pairs = [(nul, F.lit(T_NULL))]
    if f_num:
        t_pairs.append((bothnum, F.lit(T_NUMBER)))
    if f_cat:
        t_pairs.append((is_cat, F.lit(T_STRING)))
    if f_arr:
        t_pairs.append((is_arr, F.lit(T_ARRAY)))
    if f_cal:
        t_pairs.append((cal, F.lit(T_TIMESTAMP)))
    if f_date_int or f_int_date:
        t_pairs.append((date_int | int_date, F.lit(T_DATE)))
    if f_time_iv or f_iv_time:
        t_pairs.append((time_iv | iv_time, F.lit(T_TIME)))
    if f_iv_iv:
        t_pairs.append((iv_iv, F.lit(T_INTERVAL)))
    t = _whens(t_pairs, otherwise=F.lit(T_NULL))

    s = None
    if f_cat:
        s = F.when(
            ~nul & is_cat,
            F.when((a.t == T_STRING) & (b.t == T_STRING), F.concat(a.s, b.s))
            .when(a.t == T_STRING, F.concat(a.s, to_json_text(b)))
            .otherwise(F.concat(to_json_text(a), b.s)),
        )
    j_pairs = []
    if f_arr:
        j_pairs.append((
            ~nul & is_arr,
            F.when(a.j == "[]", b.j)
            .when(b.j == "[]", a.j)
            .otherwise(
                F.concat(F.regexp_replace(a.j, r"\]$", ""), F.lit(","), F.regexp_replace(b.j, r"^\[", ""))
            ),
        ))
    if f_iv_iv:
        j_pairs.append((~nul & iv_iv, _iv_json(ivm, ivd, ivu)))
    j = _whens(j_pairs) if j_pairs else None

    i_pairs = []
    if f_num or f_date_int or f_int_date:
        i_pairs.append((~nul & (is_int | date_int | int_date), a.i + b.i))
    if f_cal:
        i_pairs.append((~nul & cal, ts_res))
    if f_time_iv or f_iv_time:
        i_pairs.append((~nul & (time_iv | iv_time), time_res))
    if f_iv_iv:
        i_pairs.append((~nul & iv_iv, ivm * US_PER_MONTH + ivd * US_PER_DAY + ivu))
    i = _whens(i_pairs) if i_pairs else None

    # d references the i chain once (temporal payloads ride the µs axis)
    d_pairs = []
    if f_num:
        # an int sum's d is the double image of the exact sum (the i
        # branch, via otherwise), as _native_arith's gv_int result has
        d_pairs.append((~nul & bothnum & ~is_int, a.d + b.d))
    if f_date_int or f_int_date:
        d_pairs.append((~nul & (date_int | int_date), (a.i + b.i).cast("double") * US_PER_DAY))
    d = _whens(d_pairs, otherwise=(i.cast("double") if i is not None else None))
    out = _mk(t, i=i, d=d, s=s, j=j)

    rtypes = set()
    if f_num:
        rtypes.add(T_NUMBER)
    if f_cat:
        rtypes.add(T_STRING)
    if f_arr:
        rtypes.add(T_ARRAY)
    if f_cal:
        rtypes.add(T_TIMESTAMP)
    if f_date_int or f_int_date:
        rtypes.add(T_DATE)
    if f_time_iv or f_iv_time:
        rtypes.add(T_TIME)
    if f_iv_iv:
        rtypes.add(T_INTERVAL)
    _tag_types(out, *rtypes)
    if f_iv_iv:
        ok_iv = ~nul & iv_iv
        return _attach_iv(out, F.when(ok_iv, ivm), F.when(ok_iv, ivd), F.when(ok_iv, ivu))
    return out


def _arith(
    a: Column, b: Column, i_val: Column | None, d_val: Column, int_invalid: Column | None = None
) -> Column:
    """Numeric-only binary op as one flat struct. i_val=None -> the op
    always yields float (pow). int_invalid (e.g. division by zero) makes
    the int branch a gtype null (reference: errors -> we yield null)."""
    nul = (a.t == T_NULL) | (b.t == T_NULL)
    bothnum = (a.t == T_NUMBER) & (b.t == T_NUMBER)
    if i_val is None:
        t = F.when(nul, F.lit(T_NULL)).when(bothnum, F.lit(T_NUMBER)).otherwise(F.lit(T_NULL))
        return _mk(t, d=F.when(~nul & bothnum, d_val))
    is_int = bothnum & _both_int(a, b)
    bad = is_int & int_invalid if int_invalid is not None else F.lit(False)
    t = (
        F.when(nul | bad, F.lit(T_NULL))
        .when(bothnum, F.lit(T_NUMBER))
        .otherwise(F.lit(T_NULL))
    )
    ok = ~nul & ~bad
    return _mk(
        t,
        i=F.when(ok & is_int, i_val),
        d=F.when(ok & is_int, i_val.cast("double")).when(ok & bothnum, d_val),
    )


def op_sub(a: Column, b: Column) -> Column:
    """`-` dispatch: numeric minus plus the temporal matrix
    (timestamp_mi yields a justify_hours'd {days, µs} interval;
    date - date -> int days; date/timestamp - interval -> calendar
    subtract; interval - interval -> component-wise). Only statically
    feasible branches are constructed (gv_types).

    KNOWN DIVERGENCE (intentional superset): ts-ts, date-date, date±int
    and time-time follow PG SQL semantics; the reference's gtype `-`
    only dispatches rhs==INTERVAL and errors on the rest."""
    nat = _native_arith(a, b, operator.sub)
    if nat is not None:
        return nat
    ta, tb = gv_types(a), gv_types(b)
    nul = (a.t == T_NULL) | (b.t == T_NULL)
    f_num = T_NUMBER in ta and T_NUMBER in tb
    pointish = {T_TIMESTAMP, T_DATE}
    f_pa, f_pb = bool(pointish & ta), bool(pointish & tb)
    f_date_date = T_DATE in ta and T_DATE in tb
    f_ts_ts = f_pa and f_pb and not (ta & pointish == {T_DATE} and tb & pointish == {T_DATE})
    f_date_int = T_DATE in ta and T_NUMBER in tb
    f_ts_iv = T_TIMESTAMP in ta and T_INTERVAL in tb
    f_date_iv = T_DATE in ta and T_INTERVAL in tb
    f_cal = f_ts_iv or f_date_iv
    f_time_time = T_TIME in ta and T_TIME in tb
    f_time_iv = T_TIME in ta and T_INTERVAL in tb
    f_iv_iv = T_INTERVAL in ta and T_INTERVAL in tb
    f_iv_res = f_ts_ts or f_time_time or f_iv_iv

    false = F.lit(False)
    bothnum = ((a.t == T_NUMBER) & (b.t == T_NUMBER)) if f_num else false
    is_int = (bothnum & _both_int(a, b)) if f_num else false
    date_date = ((a.t == T_DATE) & (b.t == T_DATE)) if f_date_date else false
    ts_ts = (
        (a.t.isin(T_TIMESTAMP, T_DATE) & b.t.isin(T_TIMESTAMP, T_DATE) & ~date_date)
        if f_ts_ts
        else false
    )
    date_int = ((a.t == T_DATE) & (b.t == T_NUMBER) & b.i.isNotNull()) if f_date_int else false
    ts_iv = ((a.t == T_TIMESTAMP) & (b.t == T_INTERVAL)) if f_ts_iv else false
    date_iv = ((a.t == T_DATE) & (b.t == T_INTERVAL)) if f_date_iv else false
    time_time = ((a.t == T_TIME) & (b.t == T_TIME)) if f_time_time else false
    time_iv = ((a.t == T_TIME) & (b.t == T_INTERVAL)) if f_time_iv else false
    iv_iv = ((a.t == T_INTERVAL) & (b.t == T_INTERVAL)) if f_iv_iv else false
    is_iv_res = (ts_ts | time_time | iv_iv) if f_iv_res else false
    cal = (ts_iv | date_iv) if f_cal else false

    pa = interval_parts(a) if T_INTERVAL in ta else None
    pb = interval_parts(b) if T_INTERVAL in tb else None

    ivm = ivd = ivu = None
    if f_iv_res:
        # ts - ts: truncate-toward-zero split into days + µs (justify_hours)
        if f_ts_ts:
            a_ts_us = _whens(
                [(c, v) for f, c, v in (
                    (T_TIMESTAMP in ta, a.t == T_TIMESTAMP, a.i),
                    (T_DATE in ta, a.t == T_DATE, a.i * US_PER_DAY),
                ) if f]
            )
            b_ts_us = _whens(
                [(c, v) for f, c, v in (
                    (T_TIMESTAMP in tb, b.t == T_TIMESTAMP, b.i),
                    (T_DATE in tb, b.t == T_DATE, b.i * US_PER_DAY),
                ) if f]
            )
            diff = a_ts_us - b_ts_us
            dd = (diff - diff % F.lit(US_PER_DAY)) / F.lit(US_PER_DAY)
            du = diff % F.lit(US_PER_DAY)
        ivm = _whens(
            [(c, v) for f, c, v in (
                (f_ts_ts or f_time_time, ts_ts | time_time, F.lit(0)),
                (f_iv_iv, iv_iv, pa["months"] - pb["months"] if f_iv_iv else None),
            ) if f]
        )
        ivd_pairs = []
        if f_ts_ts:
            ivd_pairs.append((ts_ts, dd.cast("long")))
        if f_time_time:
            ivd_pairs.append((time_time, F.lit(0)))
        if f_iv_iv:
            ivd_pairs.append((iv_iv, pa["days"] - pb["days"]))
        ivd = _whens(ivd_pairs)
        ivu_pairs = []
        if f_ts_ts:
            ivu_pairs.append((ts_ts, du))
        if f_time_time:
            ivu_pairs.append((time_time, a.i - b.i))
        if f_iv_iv:
            ivu_pairs.append((iv_iv, pa["us"] - pb["us"]))
        ivu = _whens(ivu_pairs)

    # ONE _cal_add branch-selected over ts/date minus interval (see the
    # expression-tree budget note in op_add)
    cal_res = None
    if f_cal:
        point_us = _whens(
            [(c, v) for f, c, v in (
                (f_ts_iv, ts_iv, a.i), (f_date_iv, date_iv, a.i * US_PER_DAY),
            ) if f]
        )
        cal_res = _cal_add(point_us, pb, sign=-1)

    # date - int -> date in PG; date - date -> int days
    t_pairs = [(nul, F.lit(T_NULL))]
    if f_num:
        t_pairs.append((bothnum, F.lit(T_NUMBER)))
    if f_iv_res:
        t_pairs.append((is_iv_res, F.lit(T_INTERVAL)))
    if f_date_date:
        t_pairs.append((date_date, F.lit(T_NUMBER)))
    if f_date_int:
        t_pairs.append((date_int, F.lit(T_DATE)))
    if f_cal:
        t_pairs.append((cal, F.lit(T_TIMESTAMP)))
    if f_time_iv:
        t_pairs.append((time_iv, F.lit(T_TIME)))
    t = _whens(t_pairs, otherwise=F.lit(T_NULL))

    i_pairs = []
    if f_num or f_date_date or f_date_int:
        i_pairs.append((~nul & (is_int | date_date | date_int), a.i - b.i))
    if f_iv_res:
        i_pairs.append((~nul & is_iv_res, ivm * US_PER_MONTH + ivd * US_PER_DAY + ivu))
    if f_cal:
        i_pairs.append((~nul & cal, cal_res))
    if f_time_iv:
        i_pairs.append((~nul & time_iv, F.pmod(a.i - pb["us"], F.lit(US_PER_DAY))))
    i = _whens(i_pairs) if i_pairs else None

    # d references the i chain once; date-result and date-date cases are
    # re-derived from the operands directly (cheap refs)
    d_pairs = []
    if f_num:
        d_pairs.append((~nul & bothnum & ~is_int, a.d - b.d))
    if f_date_int:
        d_pairs.append((~nul & date_int, (a.i - b.i).cast("double") * US_PER_DAY))
    if f_date_date:
        d_pairs.append((~nul & date_date, (a.i - b.i).cast("double")))
    d = _whens(d_pairs, otherwise=(i.cast("double") if i is not None else None))
    j = F.when(~nul & is_iv_res, _iv_json(ivm, ivd, ivu)) if f_iv_res else None
    out = _mk(t, i=i, d=d, j=j)

    rtypes = set()
    if f_num or f_date_date:
        rtypes.add(T_NUMBER)
    if f_iv_res:
        rtypes.add(T_INTERVAL)
    if f_date_int:
        rtypes.add(T_DATE)
    if f_cal:
        rtypes.add(T_TIMESTAMP)
    if f_time_iv:
        rtypes.add(T_TIME)
    _tag_types(out, *rtypes)
    if f_iv_res:
        ok_iv = ~nul & is_iv_res
        return _attach_iv(out, F.when(ok_iv, ivm), F.when(ok_iv, ivd), F.when(ok_iv, ivu))
    return out


def _iv_scale(parts: Column, factor: Column) -> tuple[Column, Column, Column]:
    """interval {m,d,us} × factor with PG's cascade-down of fractional
    months into days (30/mon) and fractional days into µs (interval_mul /
    interval_div, gtype_ops.c:474-606 delegating to PG timestamp.c)."""
    md = parts["months"].cast("double") * factor
    m_i = md.cast("long")
    dd = parts["days"].cast("double") * factor + (md - m_i) * 30
    d_i = dd.cast("long")
    u_i = F.round(parts["us"].cast("double") * factor + (dd - d_i) * US_PER_DAY).cast("long")
    return m_i, d_i, u_i


def op_mul(a: Column, b: Column) -> Column:
    """`*` dispatch: numeric product plus interval × number in either
    order (interval_mul, gtype_ops.c:474-540); statically-infeasible
    branches are pruned (gv_types)."""
    ta, tb = gv_types(a), gv_types(b)
    nul = (a.t == T_NULL) | (b.t == T_NULL)
    f_num = T_NUMBER in ta and T_NUMBER in tb
    f_iv_num = T_INTERVAL in ta and T_NUMBER in tb
    f_num_iv = T_NUMBER in ta and T_INTERVAL in tb
    f_iv = f_iv_num or f_num_iv
    false = F.lit(False)
    bothnum = ((a.t == T_NUMBER) & (b.t == T_NUMBER)) if f_num else false
    is_int = (bothnum & _both_int(a, b)) if f_num else false
    iv_num = ((a.t == T_INTERVAL) & (b.t == T_NUMBER)) if f_iv_num else false
    num_iv = ((a.t == T_NUMBER) & (b.t == T_INTERVAL)) if f_num_iv else false
    is_iv = (iv_num | num_iv) if f_iv else false

    norm = m_i = d_i = u_i = None
    if f_iv:
        pa = interval_parts(a) if T_INTERVAL in ta else None
        pb = interval_parts(b) if T_INTERVAL in tb else None
        if pa is not None and pb is not None:
            parts = F.when(iv_num, pa).otherwise(pb)
        else:
            parts = pa if pa is not None else pb
        factor = F.when(iv_num, b.d).otherwise(a.d) if (f_iv_num and f_num_iv) else (b.d if f_iv_num else a.d)
        m_i, d_i, u_i = _iv_scale(parts, factor)
        norm = m_i * US_PER_MONTH + d_i * US_PER_DAY + u_i

    t_pairs = [(nul, F.lit(T_NULL))]
    if f_num:
        t_pairs.append((bothnum, F.lit(T_NUMBER)))
    if f_iv:
        t_pairs.append((is_iv, F.lit(T_INTERVAL)))
    t = _whens(t_pairs, otherwise=F.lit(T_NULL))
    i_pairs = []
    if f_num:
        i_pairs.append((~nul & is_int, a.i * b.i))
    if f_iv:
        i_pairs.append((~nul & is_iv, norm))
    i = _whens(i_pairs) if i_pairs else None
    d_pairs = []
    if f_num:
        d_pairs.append((~nul & bothnum, a.d * b.d))
    if f_iv:
        d_pairs.append((~nul & is_iv, norm.cast("double")))
    d = _whens(d_pairs) if d_pairs else None
    j = F.when(~nul & is_iv, _iv_json(m_i, d_i, u_i)) if f_iv else None
    out = _mk(t, i=i, d=d, j=j)
    rtypes = set()
    if f_num:
        rtypes.add(T_NUMBER)
    if f_iv:
        rtypes.add(T_INTERVAL)
    _tag_types(out, *rtypes)
    if f_iv:
        ok_iv = ~nul & is_iv
        return _attach_iv(out, F.when(ok_iv, m_i), F.when(ok_iv, d_i), F.when(ok_iv, u_i))
    return out


def op_div(a: Column, b: Column) -> Column:
    """int/int -> truncated int division (Postgres int4div semantics);
    interval / number scales with cascade (interval_div,
    gtype_ops.c:541-606). Division by zero -> gtype null; statically-
    infeasible branches are pruned (gv_types)."""
    ta, tb = gv_types(a), gv_types(b)
    nul = (a.t == T_NULL) | (b.t == T_NULL)
    f_num = T_NUMBER in ta and T_NUMBER in tb
    f_iv = T_INTERVAL in ta and T_NUMBER in tb
    false = F.lit(False)
    bothnum = ((a.t == T_NUMBER) & (b.t == T_NUMBER)) if f_num else false
    is_int = (bothnum & _both_int(a, b)) if f_num else false
    bad_int = (is_int & (b.i == 0)) if f_num else false
    iv_num = ((a.t == T_INTERVAL) & (b.t == T_NUMBER)) if f_iv else false
    bad_iv = (iv_num & (b.d == 0.0)) if f_iv else false

    trunc = norm = m_i = d_i = u_i = None
    if f_num:
        q = a.i.cast("double") / b.i
        trunc = F.when(q < 0, F.ceil(q)).otherwise(F.floor(q)).cast("long")
    if f_iv:
        m_i, d_i, u_i = _iv_scale(interval_parts(a), F.lit(1.0) / b.d)
        norm = m_i * US_PER_MONTH + d_i * US_PER_DAY + u_i

    t_pairs = [(nul | bad_int | bad_iv, F.lit(T_NULL))]
    if f_num:
        t_pairs.append((bothnum, F.lit(T_NUMBER)))
    if f_iv:
        t_pairs.append((iv_num, F.lit(T_INTERVAL)))
    t = _whens(t_pairs, otherwise=F.lit(T_NULL))
    ok = ~nul & ~bad_int & ~bad_iv
    i_pairs = []
    if f_num:
        i_pairs.append((ok & is_int, trunc))
    if f_iv:
        i_pairs.append((ok & iv_num, norm))
    i = _whens(i_pairs) if i_pairs else None
    d_pairs = []
    if f_num:
        d_pairs.append((ok & is_int, trunc.cast("double")))
        d_pairs.append((ok & bothnum, a.d / b.d))
    if f_iv:
        d_pairs.append((ok & iv_num, norm.cast("double")))
    d = _whens(d_pairs) if d_pairs else None
    j = F.when(ok & iv_num, _iv_json(m_i, d_i, u_i)) if f_iv else None
    out = _mk(t, i=i, d=d, j=j)
    rtypes = set()
    if f_num:
        rtypes.add(T_NUMBER)
    if f_iv:
        rtypes.add(T_INTERVAL)
    _tag_types(out, *rtypes)
    if f_iv:
        ok_iv = ok & iv_num
        return _attach_iv(out, F.when(ok_iv, m_i), F.when(ok_iv, d_i), F.when(ok_iv, u_i))
    return out


def op_mod(a: Column, b: Column) -> Column:
    # Spark's % on longs/doubles keeps the dividend's sign = PG int4mod/fmod
    return _arith(a, b, a.i % b.i, a.d % b.d, int_invalid=b.i == 0)


def op_pow(a: Column, b: Column) -> Column:
    return _arith(a, b, None, F.pow(a.d, b.d))


def op_neg(a: Column) -> Column:
    nat = native(a)
    if nat is not None and nat[0] == "long":
        return gv_int(-a.i)
    if nat is not None and nat[0] == "double":
        return gv_float(-a.d)
    isnum = a.t == T_NUMBER
    isiv = a.t == T_INTERVAL
    pa = interval_parts(a)
    t = F.when(isnum, F.lit(T_NUMBER)).when(isiv, F.lit(T_INTERVAL)).otherwise(F.lit(T_NULL))
    return _mk(
        t,
        i=F.when(isnum, -a.i).when(isiv, -a.i),
        d=F.when(isnum | isiv, -a.d),
        j=F.when(isiv, _iv_json(-pa["months"], -pa["days"], -pa["us"])),
    )


# -------------------------------------------------------------- boolean logic

def truth(gv: Column) -> Column:
    """gval -> SQL boolean for WHERE (null/non-bool -> false). A boolean
    with a native payload (a comparison _native_cmp decided, AND/OR/NOT
    of such) is coalesce(payload, false): the comparison itself."""
    nat = native(gv)
    if nat is not None and nat[0] == "bool":
        return F.coalesce(nat[1], F.lit(False))
    return F.coalesce((gv.t == T_BOOL) & gv.b, F.lit(False))


def _b3(gv: Column) -> Column:
    """gval -> three-valued SQL boolean (gtype null -> SQL null); the
    payload itself for a native boolean."""
    nat = native(gv)
    if nat is not None and nat[0] == "bool":
        return nat[1]
    return F.when(gv.t == T_NULL, F.lit(None).cast("boolean")).otherwise(gv.t == T_BOOL).cast("boolean") & gv.b


def op_and(a: Column, b: Column) -> Column:
    return gv_bool(_b3(a) & _b3(b))


def op_or(a: Column, b: Column) -> Column:
    return gv_bool(_b3(a) | _b3(b))


def op_not(a: Column) -> Column:
    return gv_bool(~_b3(a))


def op_xor(a: Column, b: Column) -> Column:
    """XOR (make_xor_expr, cypher_gram.y:16941): (a OR b) AND NOT (a AND b)."""
    r = _b3(a) != _b3(b)
    return gv_bool(r)


def op_is_null(a: Column) -> Column:
    return gv_bool(a.t == T_NULL)


def op_is_not_null(a: Column) -> Column:
    return gv_bool(a.t != T_NULL)


# ------------------------------------------------------------- string predicates

def _str3vl(a: Column, b: Column, res: Column) -> Column:
    ok = (a.t == T_STRING) & (b.t == T_STRING)  # excludes T_NULL too
    return gv_bool(F.when(ok, res))


def op_starts_with(a: Column, b: Column) -> Column:
    return _str3vl(a, b, a.s.startswith(b.s))


def op_ends_with(a: Column, b: Column) -> Column:
    return _str3vl(a, b, a.s.endswith(b.s))


def op_contains(a: Column, b: Column) -> Column:
    return _str3vl(a, b, a.s.contains(b.s))


def op_regex(a: Column, b: Column) -> Column:
    """`=~` full-match regex (reference gtype_eq_tilde: PG regex is
    anchored-by-match semantics; Cypher =~ is a full match)."""
    return _str3vl(a, b, F.regexp_like(a.s, F.concat(F.lit("^(?:"), b.s, F.lit(")$"))))


def op_like(a: Column, b: Column, ci: bool = False, negate: bool = False) -> Column:
    """LIKE / ILIKE / NOT [I]LIKE (gtype_like/gtype_ilike,
    gtype_string.c:163-190 delegating to PG textlike): % and _
    wildcards, full-string match."""
    r = F.ilike(a.s, b.s) if ci else F.like(a.s, b.s)
    return _str3vl(a, b, ~r if negate else r)


def op_tilde_match(a: Column, b: Column, ci: bool = False, negate: bool = False) -> Column:
    """PG regex operators `~` `~*` `!~` `!~*` (gtype_eq_tilde /
    gtype_match_case_insensitive / gtype_regex_not_*, gtype_string.c:
    193-227): match-anywhere semantics, unlike Cypher's anchored =~."""
    pat = F.concat(F.lit("(?i)"), b.s) if ci else b.s
    r = F.regexp_like(a.s, pat)
    return _str3vl(a, b, ~r if negate else r)


def _similar_to_regex(p: str) -> str:
    """SQL SIMILAR TO pattern -> Java regex (the reference routes
    SIMILAR through PG's similar_to_escape, cypher_gram.y:13804-13823):
    % -> .*, _ -> ., backslash escapes the next char to a literal;
    the SQL-regex metachars ()|[]{}*+? pass through; . ^ $ are literal."""
    out = []
    i = 0
    while i < len(p):
        c = p[i]
        if c == "\\" and i + 1 < len(p):
            out.append(re.escape(p[i + 1]))
            i += 2
            continue
        if c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        elif c in ".^$\\":
            out.append("\\" + c)
        else:
            out.append(c)
        i += 1
    return "".join(out)


def op_similar(
    a: Column, b: Column, negate: bool = False, pattern_text: str | None = None
) -> Column:
    """[NOT] SIMILAR TO. Literal patterns convert to a Java regex at
    compile time (`pattern_text`); column patterns convert with a JVM
    regexp_replace chain that FIRST consumes backslash-escape pairs
    left-to-right into a sentinel encoding (so `\\.` stays a literal dot
    and `\\\\.` parses as escaped-backslash + wildcard dot, agreeing
    with the literal path for every escaped metachar — round-6 ADVICE),
    then rewrites the unescaped `%`/`_`/`.^$` forms, then restores the
    escaped chars as regex-literalized. A pattern containing the \\x01
    control char itself is the one undocumented edge. Full-string
    anchored match, string-operand 3VL like the LIKE family."""
    if pattern_text is not None:
        r = F.regexp_like(a.s, F.lit("^(?:" + _similar_to_regex(pattern_text) + ")$"))
        return _str3vl(a, b, ~r if negate else r)
    S = "\x01"  # sentinel marking "next char was backslash-escaped"
    p = F.regexp_replace(b.s, r"\\(.)", S + "$1")  # consume escape pairs
    p = F.regexp_replace(p, f"(?<!{S})([.^$])", r"\\$1")  # literalize . ^ $
    p = F.regexp_replace(p, f"(?<!{S})%", ".*")  # unescaped %
    p = F.regexp_replace(p, f"(?<!{S})_", ".")  # unescaped _
    # escaped alphanumerics emit bare (a backslashed letter is a Java
    # regex class/error; PG errors on these patterns — both paths here
    # treat them as the literal char); everything else regex-literalizes
    p = F.regexp_replace(p, f"{S}([A-Za-z0-9])", "$1")
    p = F.regexp_replace(p, f"{S}(.)", r"\\$1")
    r = F.regexp_like(a.s, F.concat(F.lit("^(?:"), p, F.lit(")$")))
    return _str3vl(a, b, ~r if negate else r)


def op_bool_test(a: Column, which: str, negated: bool = False) -> Column:
    """IS [NOT] TRUE/FALSE/UNKNOWN (BooleanTest, g.y:13887-13931):
    never-null boolean. PG rejects non-boolean operands at parse time;
    under gtype's dynamic typing a non-boolean value simply tests as
    unknown (documented divergence)."""
    b = a.b  # SQL-null for gtype null AND for non-boolean values
    if which == "true":
        r = b.eqNullSafe(F.lit(True))
    elif which == "false":
        r = b.eqNullSafe(F.lit(False))
    else:  # unknown
        r = b.isNull()
    return gv_bool(~r if negated else r)


def op_distinct_from(a: Column, b: Column, negated: bool = False) -> Column:
    """IS [NOT] DISTINCT FROM (g.y:13935-13941): gtype equality with
    null treated as a comparable value — never returns null."""
    an, bn = a.t == T_NULL, b.t == T_NULL
    r = (
        F.when(an & bn, F.lit(False))
        .when(an | bn, F.lit(True))
        .otherwise(~cmp_eq(a, b))
    )
    return gv_bool(~r if negated else r)


# ------------------------------------------------------- bitwise operators

def _int2(a: Column, b: Column, val: Column) -> Column:
    ok = (a.t == T_NUMBER) & a.i.isNotNull() & (b.t == T_NUMBER) & b.i.isNotNull()
    return gv_int(F.when(ok, val))


def op_bitand(a: Column, b: Column) -> Column:
    """`&` — KNOWN DIVERGENCE (superset): integer bitwise AND (PG int8and
    semantics). The reference only wires `&` for inet and tsquery
    operands (gtype_bitwise_and, gtype_ops.c:716-740); inet arithmetic
    lives in functions/network.py here."""
    return _int2(a, b, a.i.bitwiseAND(b.i))


def op_bitor(a: Column, b: Column) -> Column:
    """`|` — integer bitwise OR (see op_bitand divergence note;
    reference: inet-only, gtype_ops.c:742-753)."""
    return _int2(a, b, a.i.bitwiseOR(b.i))


def op_bitnot(a: Column) -> Column:
    """unary `~` — integer bitwise NOT (reference: inetnot,
    gtype_ops.c:703-713; same divergence note as op_bitand)."""
    ok = (a.t == T_NUMBER) & a.i.isNotNull()
    return gv_int(F.when(ok, F.bitwise_not(a.i)))


# --------------------------------------- containment / existence operators

def _jsonb_scalar_eq(x, y) -> bool:
    if isinstance(x, bool) or isinstance(y, bool):
        return x is y if isinstance(x, bool) and isinstance(y, bool) else False
    if isinstance(x, (int, float)) and isinstance(y, (int, float)):
        return float(x) == float(y)
    return type(x) is type(y) and x == y


def _jsonb_contains(a, b, top: bool = False) -> bool:
    """jsonb containment (gtype_deep_contains / gtype_contains,
    gtype_ops.c:849-1080; PG jsonb semantics): objects contain objects
    pairwise-recursively, arrays contain arrays element-containment-wise,
    and a TOP-LEVEL array contains a bare scalar."""
    if isinstance(b, dict):
        return isinstance(a, dict) and all(
            k in a and _jsonb_contains(a[k], v) for k, v in b.items()
        )
    if isinstance(b, list):
        return isinstance(a, list) and all(
            any(_jsonb_contains(x, e) for x in a) for e in b
        )
    if top and isinstance(a, list):
        return any(_jsonb_scalar_eq(x, b) for x in a)
    return _jsonb_scalar_eq(a, b)


#: containment recursion is unrolled to this nesting depth; at the
#: bound, leaves compare by canonical JSON text (exact equality) — a
#: conservative under-approximation only for structures nested deeper.
#: 4 keeps the unrolled tree (~2^d branches of nested lambdas) inside
#: comfortable codegen/analysis budgets while covering real documents
_CONTAIN_DEPTH = 4


def _scalar_eq_txt(x: Column, y: Column) -> Column:
    """JSON-text scalar equality with numeric cross-type (1 == 1.0).
    Both sides are to_json renderings, so strings keep their quotes and
    never collide with bare numbers."""
    xd, yd = x.try_cast("double"), y.try_cast("double")
    return F.when(xd.isNotNull() & yd.isNotNull(), xd == yd).otherwise(x == y)


def _contains_txt(a: Column, b: Column, depth: int, top: bool = False) -> Column:
    """jsonb containment over canonical JSON text, as pure JVM
    expressions (gtype_deep_contains semantics, gtype_ops.c:849-1080):
    objects contain objects pairwise-recursively, arrays contain arrays
    element-containment-wise, a TOP-LEVEL array contains a bare scalar.
    Depth-unrolled recursion (schema-bounded) — each level re-parses its
    sub-document with from_json into map/array<variant> and recurses via
    to_json, so dynamic object keys work (variant paths alone cannot)."""
    if depth == 0:
        return _scalar_eq_txt(a, b)
    a_obj, a_arr = a.startswith("{"), a.startswith("[")
    b_obj, b_arr = b.startswith("{"), b.startswith("[")
    am = F.from_json(a, "map<string, variant>")
    bm = F.from_json(b, "map<string, variant>")
    aa = F.from_json(a, "array<variant>")
    ba = F.from_json(b, "array<variant>")
    obj_ok = F.forall(
        F.map_entries(bm),
        lambda kv: F.map_contains_key(am, kv["key"])
        & _contains_txt(
            F.to_json(F.element_at(am, kv["key"])), F.to_json(kv["value"]), depth - 1
        ),
    )
    arr_ok = F.forall(
        ba,
        lambda e: F.exists(
            aa, lambda x: _contains_txt(F.to_json(x), F.to_json(e), depth - 1)
        ),
    )
    chain = F.when(b_obj, a_obj & F.coalesce(obj_ok, F.lit(False))).when(
        b_arr, a_arr & F.coalesce(arr_ok, F.lit(False))
    )
    if top:
        scalar_in_arr = F.exists(aa, lambda x: _scalar_eq_txt(F.to_json(x), b))
        chain = chain.when(a_arr, F.coalesce(scalar_in_arr, F.lit(False)))
    return chain.otherwise(~a_obj & ~a_arr & _scalar_eq_txt(a, b))


def _py_scalar_eq(x, y) -> bool:
    xb, yb = isinstance(x, bool), isinstance(y, bool)
    if xb or yb:
        return xb and yb and x == y
    xn = isinstance(x, (int, float))
    yn = isinstance(y, (int, float))
    if xn or yn:
        return xn and yn and float(x) == float(y)
    return x == y


def _py_deep_contains(a, b, top: bool = False) -> bool:
    """gtype_deep_contains (gtype_ops.c:849-1080) in python, to
    arbitrary depth: objects contain objects pairwise-recursively,
    arrays contain arrays element-containment-wise, a top-level array
    contains a bare scalar; numbers compare numerically, bools never
    equal numbers."""
    if isinstance(b, dict):
        return isinstance(a, dict) and all(
            k in a and _py_deep_contains(a[k], v) for k, v in b.items()
        )
    if isinstance(b, list):
        return isinstance(a, list) and all(
            any(_py_deep_contains(x, e) for x in a) for e in b
        )
    if top and isinstance(a, list):
        return any(_py_scalar_eq(x, b) for x in a)
    if isinstance(a, (dict, list)):
        return False
    return _py_scalar_eq(a, b)


_DEEP_CONTAINS_UDF = None


def _deep_contains_udf(at: Column, bt: Column) -> Column:
    global _DEEP_CONTAINS_UDF
    if _DEEP_CONTAINS_UDF is None:
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import BooleanType

        def _k(sa, sb):
            import json as _json

            def one(ta, tb):
                if ta is None or tb is None:
                    return None
                return _py_deep_contains(_json.loads(ta), _json.loads(tb), top=True)

            return sa.combine(sb, one)

        _DEEP_CONTAINS_UDF = pandas_udf(_k, BooleanType())
    return _DEEP_CONTAINS_UDF(at, bt)


def _deeper_than(txt: Column, k: int) -> Column:
    """True when the JSON text has a CONTAINER node below depth k —
    i.e. the depth-k unrolled containment walk would hit a container at
    its text-equality leaves. Same unrolled shape as _contains_txt."""
    if k == 0:
        return txt.startswith("{") | txt.startswith("[")
    am = F.from_json(txt, "map<string, variant>")
    aa = F.from_json(txt, "array<variant>")
    obj_deep = F.exists(F.map_values(am), lambda v: _deeper_than(F.to_json(v), k - 1))
    arr_deep = F.exists(aa, lambda e: _deeper_than(F.to_json(e), k - 1))
    return (
        F.when(txt.startswith("{"), F.coalesce(obj_deep, F.lit(False)))
        .when(txt.startswith("["), F.coalesce(arr_deep, F.lit(False)))
        .otherwise(F.lit(False))
    )


def json_value_depth(v) -> int:
    """Max container-nesting depth of a python JSON value (scalar=0)."""
    if isinstance(v, dict):
        return 1 + max((json_value_depth(x) for x in v.values()), default=0)
    if isinstance(v, list):
        return 1 + max((json_value_depth(x) for x in v), default=0)
    return 0


def op_contains_json(a: Column, b: Column, needle_depth: int | None = None) -> Column:
    """`@>` deep containment. The JVM variant walk (depth-unrolled to
    _CONTAIN_DEPTH) is EXACT whenever the needle (b) nests no deeper
    than the unroll — only the needle's depth matters: a deeper
    haystack value against a scalar needle leaf correctly fails the
    text-equality leaf. The compiler passes needle_depth for literal
    needles (_fold_const_container), keeping the overwhelmingly common
    literal-needle predicate PURE JVM — safe in scan predicates at any
    scale. Deeper or unknown-depth needles route through an
    Arrow-batched recursive check; the unknown-depth case guards with a
    JVM depth probe and passes NULL inputs for shallow rows, so the
    python worker only ever decodes genuinely deep needles."""
    at, bt = F.trim(to_json_text(a)), F.trim(to_json_text(b))
    ok = at.isNotNull() & bt.isNotNull()
    if needle_depth is not None and needle_depth <= _CONTAIN_DEPTH:
        return gv_bool(F.when(ok, _contains_txt(at, bt, _CONTAIN_DEPTH, top=True)))
    if needle_depth is not None:  # known-deep literal needle
        return gv_bool(F.when(ok, _deep_contains_udf(at, bt)))
    deep = _deeper_than(bt, _CONTAIN_DEPTH)
    guard = ok & deep
    return gv_bool(
        F.when(guard, _deep_contains_udf(F.when(guard, at), F.when(guard, bt))).when(
            ok, _contains_txt(at, bt, _CONTAIN_DEPTH, top=True)
        )
    )


def op_contained_by_json(a: Column, b: Column, needle_depth: int | None = None) -> Column:
    """`<@` — containment with the operands flipped."""
    return op_contains_json(b, a, needle_depth=needle_depth)


def op_has_key(a: Column, b: Column) -> Column:
    """`?` key/element existence (gtype_exists, gtype_ops.c): object has
    key, or array has the string as an element."""
    obj = (a.t == T_OBJECT) & (b.t == T_STRING)
    arr = (a.t == T_ARRAY) & (b.t == T_STRING)
    in_obj = F.array_contains(F.json_object_keys(a.j), b.s)
    in_arr = F.exists(to_variant_array(a), lambda e: from_variant(e).s == b.s)
    r = F.when(obj, in_obj).when(arr, F.coalesce(in_arr, F.lit(False)))
    return gv_bool(r)


def _keys_of(a: Column) -> Column:
    """keys to probe for ?| / ?&: object keys or string elements."""
    return F.when(a.t == T_OBJECT, F.json_object_keys(a.j)).when(
        a.t == T_ARRAY, F.from_json(a.j, "array<string>")
    )


def op_has_any(a: Column, b: Column) -> Column:
    """`?|` — any of the strings in b exist (gtype_exists_any)."""
    keys = _keys_of(a)
    probes = F.from_json(b.j, "array<string>")
    r = F.when(
        keys.isNotNull() & (b.t == T_ARRAY),
        F.exists(probes, lambda p: F.array_contains(keys, p)),
    )
    return gv_bool(r)


def op_has_all(a: Column, b: Column) -> Column:
    """`?&` — all of the strings in b exist (gtype_exists_all)."""
    keys = _keys_of(a)
    probes = F.from_json(b.j, "array<string>")
    r = F.when(
        keys.isNotNull() & (b.t == T_ARRAY),
        F.forall(probes, lambda p: F.array_contains(keys, p)),
    )
    return gv_bool(r)


def op_in_list(x: Column, lst: Column) -> Column:
    """x IN [..] (gtype.c:1833-1892): membership with 3VL."""
    arr = to_variant_array(lst)
    found = F.exists(arr, lambda e: cmp_eq(from_variant(e), x))
    has_null = F.exists(arr, lambda e: from_variant(e).t == T_NULL)
    nullb = F.lit(None).cast("boolean")
    r = (
        F.when((x.t == T_NULL) | (lst.t != T_ARRAY), nullb)
        .when(found, F.lit(True))
        .when(has_null, nullb)
        .otherwise(F.lit(False))
    )
    return gv_bool(r)


# ---------------------------------------------------------------- decoding

def decode(value) -> Any:
    """Collected gval Row -> python value (tests/clients). Temporal
    scalars decode to ISO-style text (timestamp/date/time) or the
    {months, days, us} dict (interval)."""
    if value is None:
        return None
    t = value["t"]
    if t == T_NULL:
        return None
    if t == T_BOOL:
        return value["b"]
    if t == T_NUMBER:
        return value["i"] if value["i"] is not None else value["d"]
    if t == T_STRING:
        return value["s"]
    if t in (T_ARRAY, T_OBJECT):
        return json.loads(value["j"])
    if t in (T_TIMESTAMP, T_DATE, T_TIME) and value["i"] is not None:
        import datetime as _dt

        us = value["i"]
        # ±infinity sentinels (PG DT_NOEND/DT_NOBEGIN) render as text
        # before any datetime construction can overflow
        if t in (T_TIMESTAMP, T_DATE):
            if us == (1 << 63) - 1:
                return "infinity"
            if us == -(1 << 63):
                return "-infinity"
        if t == T_DATE:
            try:
                d0 = _dt.date(1970, 1, 1) + _dt.timedelta(days=us)
                return d0.isoformat()
            except OverflowError:
                # BC / far-future dates: civil-from-days, ISO proleptic
                z = us + 719468
                era = z // 146097
                doe = z - era * 146097
                yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
                y = yoe + era * 400
                doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
                mp = (5 * doy + 2) // 153
                dd = doy - (153 * mp + 2) // 5 + 1
                mm = mp + 3 if mp < 10 else mp - 9
                y += 1 if mm <= 2 else 0
                return f"{'-' if y < 0 else ''}{abs(y):04d}-{mm:02d}-{dd:02d}"
        if t == T_TIME:
            sec, frac = divmod(us, 1_000_000)
            h, rem = divmod(sec, 3600)
            m, s = divmod(rem, 60)
            out = f"{h:02d}:{m:02d}:{s:02d}"
            return out + (f".{frac:06d}".rstrip("0") if frac else "")
        try:
            ts = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=us)
        except (OverflowError, OSError):
            # out-of-datetime-range timestamps: render via the civil-
            # from-days fallback (same algorithm as the date branch)
            days, tod = divmod(us, US_PER_DAY)
            d_txt = decode({"t": T_DATE, "i": days, "b": None, "d": None, "s": None, "j": None})
            t_txt = decode({"t": T_TIME, "i": tod, "b": None, "d": None, "s": None, "j": None})
            return f"{d_txt} {t_txt}"
        out = ts.strftime("%Y-%m-%d %H:%M:%S")
        return out + (f".{ts.microsecond:06d}".rstrip("0") if ts.microsecond else "")
    if t == T_INTERVAL and value["j"] is not None:
        return json.loads(value["j"])
    return value["j"]
