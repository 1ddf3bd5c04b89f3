"""Extended typecast kit — the `to*` families beyond the core scalars
(reference gtype_typecasting.c, 2,409 LoC / 112 fns; Cypher-callable
names are the no-underscore set: tobytea, toinet/tocidr, tomacaddr[8],
to*range, ...; totsvector/totsquery live in the tsearch kit).

Engine convention: exotic scalar types travel as their CANONICAL TEXT
form in a string gval (SURVEY §1.3 maps inet/macaddr/tsvector/range to
StringType + kits). Casts therefore parse + validate + canonicalize;
unparseable input -> gtype null (this engine's error->null convention).
Everything that has a regular grammar is a pure JVM expression; only
inet/cidr (real address parsing) use an Arrow pandas UDF.

Golden behaviors mirrored from old/regress/range.out, network.out,
typecasting.out: int ranges canonicalize to '[lo,hi)' ('[0,1]'->'[0,2)',
'(0,1)'->'empty'); macaddr8 from a 6-byte macaddr inserts ff:fe in the
middle; macaddr from macaddr8 requires the ff:fe midsection.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from postgraph_spark.functions import gtype as G
from postgraph_spark.functions import temporal as TMP


def _str_in(gv: Column) -> Column:
    """string payload of a string gval (others -> null -> gtype null)."""
    return F.when(gv["t"] == G.T_STRING, gv["s"])


# ------------------------------------------------------------------ bytea

def cast_bytea(gv: Column) -> Column:
    """tobytea (gtype_typecasting.c:239-260): '\\x<hex>' text passes
    through (byteain hex form); any other string encodes its UTF-8
    bytes. Output is PG's canonical '\\x...' lowercase hex."""
    s = _str_in(gv)
    is_hex = s.rlike(r"^\\x([0-9a-fA-F]{2})*$")
    out = F.when(is_hex, F.lower(s)).otherwise(
        F.concat(F.lit("\\x"), F.lower(F.hex(F.encode(s, "UTF-8"))))
    )
    return G.gv_str(F.when(s.isNotNull(), out))


# ------------------------------------------------------------- mac addresses

_MAC_SEP = r"[:\-\.]"


def _mac_hex(s: Column) -> Column:
    """address text -> bare lowercase hex digits (null if non-hex junk)."""
    stripped = F.lower(F.regexp_replace(s, _MAC_SEP, ""))
    return F.when(stripped.rlike(r"^[0-9a-f]+$"), stripped)


def _mac_fmt(hx: Column, n_bytes: int) -> Column:
    parts = [hx.substr(i * 2 + 1, 2) for i in range(n_bytes)]
    return F.concat_ws(":", *parts)


def cast_macaddr(gv: Column) -> Column:
    """tomacaddr (gtype_typecasting.c:481+): 6-byte MAC in any of the
    PG input forms -> canonical 'aa:bb:cc:dd:ee:ff'. A macaddr8 with
    the ff:fe midsection converts back (network.out:248-251); other
    8-byte inputs are errors -> null."""
    hx = _mac_hex(_str_in(gv))
    is6 = F.length(hx) == 12
    is8 = (F.length(hx) == 16) & (hx.substr(7, 4) == "fffe")
    from8 = F.concat(hx.substr(1, 6), hx.substr(11, 6))
    out = F.when(is6, _mac_fmt(hx, 6)).when(is8, _mac_fmt(from8, 6))
    return G.gv_str(out)


def cast_macaddr8(gv: Column) -> Column:
    """tomacaddr8: 8-byte EUI-64 passthrough; a 6-byte macaddr expands
    by inserting ff:fe in the middle (PG macaddrtomacaddr8)."""
    hx = _mac_hex(_str_in(gv))
    is8 = F.length(hx) == 16
    is6 = F.length(hx) == 12
    from6 = F.concat(hx.substr(1, 6), F.lit("fffe"), hx.substr(7, 6))
    out = F.when(is8, _mac_fmt(hx, 8)).when(is6, _mac_fmt(from6, 8))
    return G.gv_str(out)


# --------------------------------------------------------------- inet / cidr

_INET_UDFS: dict[str, object] = {}


def _inet_udf(kind: str):
    """Arrow-vectorized inet/cidr canonicalizer (real address parsing
    has no JVM expression; module-level cache so the UDF is built once)."""
    if kind in _INET_UDFS:
        return _INET_UDFS[kind]
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    def _cast_fn(s: pd.Series) -> pd.Series:
        import ipaddress

        def safe(v):
            if v is None:
                return None
            try:
                iface = ipaddress.ip_interface(v)
                if kind == "cidr":
                    # cidr_in errors when host bits are set
                    if int(iface.ip) & int(iface.network.hostmask) != 0:
                        return None
                    return str(iface.network)
                # inet_out omits a full-length prefix
                if iface.network.prefixlen == iface.ip.max_prefixlen:
                    return str(iface.ip)
                return str(iface)
            except ValueError:
                return None

        return s.map(safe)

    _cast_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _cast = pandas_udf(T.StringType())(_cast_fn)
    _INET_UDFS[kind] = _cast
    return _cast


def cast_inet(gv: Column) -> Column:
    return G.gv_str(_inet_udf("inet")(_str_in(gv)))


def cast_cidr(gv: Column) -> Column:
    return G.gv_str(_inet_udf("cidr")(_str_in(gv)))


# ------------------------------------------------------------------- ranges

def _range_parts(s: Column) -> dict[str, Column]:
    """'[lo,hi)' text -> bound texts + inclusivity flags (null lo/hi text
    = unbounded). Tolerates quotes and spaces around bounds."""
    ok = s.rlike(r"^\s*[\[\(][^,]*,[^,]*[\]\)]\s*$")
    lo_inc = F.trim(s).startswith("[")
    hi_inc = F.trim(s).endswith("]")
    lo = F.regexp_extract(s, r"^\s*[\[\(]\s*\"?'?([^,'\"]*?)'?\"?\s*,", 1)
    hi = F.regexp_extract(s, r",\s*\"?'?([^,'\"]*?)'?\"?\s*[\]\)]\s*$", 1)
    return {"ok": ok, "lo": lo, "hi": hi, "lo_inc": lo_inc, "hi_inc": hi_inc}


def cast_intrange(gv: Column) -> Column:
    """tointrange (gtype_typecasting.c:825+): int range, CANONICALIZED
    to '[lo,hi)' — '[0,1]' -> '[0,2)', '(0,1)' -> 'empty'
    (old/regress/range.out:28-49)."""
    p = _range_parts(_str_in(gv))
    lo = F.when(p["lo"] != "", p["lo"].cast("long"))
    hi = F.when(p["hi"] != "", p["hi"].cast("long"))
    lo_c = F.when(p["lo_inc"], lo).otherwise(lo + 1)
    hi_c = F.when(p["hi_inc"], hi + 1).otherwise(hi)
    empty = lo_c.isNotNull() & hi_c.isNotNull() & (lo_c >= hi_c)
    txt = F.concat(
        F.lit("["), F.coalesce(lo_c.cast("string"), F.lit("")),
        F.lit(","), F.coalesce(hi_c.cast("string"), F.lit("")), F.lit(")"),
    )
    bad = ~p["ok"] | ((p["lo"] != "") & lo.isNull()) | ((p["hi"] != "") & hi.isNull())
    return G.gv_str(F.when(bad, F.lit(None)).when(empty, F.lit("empty")).otherwise(txt))


def _num_txt(d: Column) -> Column:
    """double -> PG-numeric-ish text (integral values without '.0')."""
    as_long = d.cast("long")
    return F.when(d.isNull(), F.lit("")).when(
        as_long.cast("double") == d, as_long.cast("string")
    ).otherwise(d.cast("string"))


def _range_text(lo_txt: Column, hi_txt: Column, lo_inc: Column, hi_inc: Column) -> Column:
    return F.concat(
        F.when(lo_inc, F.lit("[")).otherwise(F.lit("(")),
        lo_txt, F.lit(","), hi_txt,
        F.when(hi_inc, F.lit("]")).otherwise(F.lit(")")),
    )


def cast_numrange(gv: Column) -> Column:
    """tonumrange: continuous range — bounds keep their inclusivity
    (no canonicalization); empty when lo > hi or lo = hi not closed."""
    p = _range_parts(_str_in(gv))
    lo = F.when(p["lo"] != "", p["lo"].cast("double"))
    hi = F.when(p["hi"] != "", p["hi"].cast("double"))
    empty = lo.isNotNull() & hi.isNotNull() & (
        (lo > hi) | ((lo == hi) & ~(p["lo_inc"] & p["hi_inc"]))
    )
    bad = ~p["ok"] | ((p["lo"] != "") & lo.isNull()) | ((p["hi"] != "") & hi.isNull())
    txt = _range_text(_num_txt(lo), _num_txt(hi), p["lo_inc"], p["hi_inc"])
    return G.gv_str(F.when(bad, F.lit(None)).when(empty, F.lit("empty")).otherwise(txt))


def _ts_bound_txt(us: Column, as_date: bool) -> Column:
    gvt = G.gv_date(us) if as_date else G.gv_timestamp(us)
    return F.when(us.isNull(), F.lit("")).otherwise(
        F.concat(F.lit('"'), G.temporal_text(gvt), F.lit('"'))
    )


def _cast_temporal_range(gv: Column, as_date: bool, with_tz: bool) -> Column:
    """totsrange / totstzrange / todaterange: bounds parse through the
    temporal kit; render ISO inside the PG quoted-bound form (the
    regress goldens use the regress session's datestyle; this engine
    renders ISO everywhere — documented)."""
    p = _range_parts(_str_in(gv))
    if as_date:
        lo = F.when(p["lo"] != "", TMP.parse_date_days(p["lo"]))
        hi = F.when(p["hi"] != "", TMP.parse_date_days(p["hi"]))
    else:
        lo = F.when(p["lo"] != "", TMP.parse_ts_us(p["lo"], apply_tz=with_tz))
        hi = F.when(p["hi"] != "", TMP.parse_ts_us(p["hi"], apply_tz=with_tz))
    lo_inc, hi_inc = p["lo_inc"], p["hi_inc"]
    if as_date:  # date ranges are discrete: canonicalize to [lo,hi)
        lo_c = F.when(lo_inc, lo).otherwise(lo + 1)
        hi_c = F.when(hi_inc, hi + 1).otherwise(hi)
        empty = lo_c.isNotNull() & hi_c.isNotNull() & (lo_c >= hi_c)
        txt = F.concat(
            F.lit("["), _ts_bound_txt(lo_c, True), F.lit(","),
            _ts_bound_txt(hi_c, True), F.lit(")"),
        )
    else:
        empty = lo.isNotNull() & hi.isNotNull() & (
            (lo > hi) | ((lo == hi) & ~(lo_inc & hi_inc))
        )
        txt = _range_text(_ts_bound_txt(lo, False), _ts_bound_txt(hi, False), lo_inc, hi_inc)
    bad = ~p["ok"] | ((p["lo"] != "") & lo.isNull()) | ((p["hi"] != "") & hi.isNull())
    return G.gv_str(F.when(bad, F.lit(None)).when(empty, F.lit("empty")).otherwise(txt))


def cast_tsrange(gv: Column) -> Column:
    return _cast_temporal_range(gv, as_date=False, with_tz=False)


def cast_tstzrange(gv: Column) -> Column:
    return _cast_temporal_range(gv, as_date=False, with_tz=True)


def cast_daterange(gv: Column) -> Column:
    return _cast_temporal_range(gv, as_date=True, with_tz=False)


def cast_graphid(gv: Column) -> Column:
    """tographid: integer identity (graphid IS int64, graphid.h:31)."""
    i = F.when(gv["t"] == G.T_NUMBER, gv["i"]).when(
        gv["t"] == G.T_STRING, gv["s"].cast("long")
    )
    return G.gv_int(i)


# ----------------------------------------------- range constructors + fns
#
# intrange(lo, hi[, flags]) etc (gtype_range.c constructors) produce the
# same canonical text as the casts; range predicates parse the text with
# pure JVM regex — ranges in the Cypher surface travel as text, while
# relational pipelines use the struct kit (functions/ranges.py).


def range_ctor_int(lo: Column, hi: Column, flags: Column | None) -> Column:
    f = F.coalesce(flags, F.lit("[)")) if flags is not None else F.lit("[)")
    txt = F.concat(
        f.substr(1, 1), F.coalesce(lo.cast("string"), F.lit("")), F.lit(","),
        F.coalesce(hi.cast("string"), F.lit("")), f.substr(2, 1),
    )
    return cast_intrange(G.gv_str(txt))


def range_ctor_num(lo: Column, hi: Column, flags: Column | None) -> Column:
    f = F.coalesce(flags, F.lit("[)")) if flags is not None else F.lit("[)")
    txt = F.concat(
        f.substr(1, 1), _num_txt(lo), F.lit(","), _num_txt(hi), f.substr(2, 1)
    )
    return cast_numrange(G.gv_str(txt))


def range_lower(gv: Column) -> Column:
    """lower(range-text) -> number (numeric ranges) — gtype_range.c."""
    p = _range_parts(_str_in(gv))
    d = F.when(p["lo"] != "", p["lo"].cast("double"))
    i = F.when(d == F.floor(d), d.cast("long"))
    return G.gv_num(i=i, d=d)


def range_upper(gv: Column) -> Column:
    p = _range_parts(_str_in(gv))
    d = F.when(p["hi"] != "", p["hi"].cast("double"))
    i = F.when(d == F.floor(d), d.cast("long"))
    return G.gv_num(i=i, d=d)


def range_isempty(gv: Column) -> Column:
    s = _str_in(gv)
    return G.gv_bool(F.when(s.isNotNull(), s == "empty"))


def range_contains_elem(r: Column, x: Column) -> Column:
    """range-text @> number (numeric/int ranges)."""
    s = _str_in(r)
    p = _range_parts(s)
    lo = F.when(p["lo"] != "", p["lo"].cast("double"))
    hi = F.when(p["hi"] != "", p["hi"].cast("double"))
    v = x["d"]
    above = lo.isNull() | F.when(p["lo_inc"], v >= lo).otherwise(v > lo)
    below = hi.isNull() | F.when(p["hi_inc"], v <= hi).otherwise(v < hi)
    res = F.when(s == "empty", F.lit(False)).otherwise(above & below)
    ok = s.isNotNull() & (x["t"] == G.T_NUMBER)
    return G.gv_bool(F.when(ok, res))


# ------------------------------------------------------------- multiranges
#
# to{int,num,ts,tstz,date}multirange (gtype_typecasting.c; PG
# multirange_in): '{member, member, ...}' — members canonicalize by the
# same rules as the single-range casts above, then sort and MERGE
# overlapping/adjacent members (multirange canonical form). Rendered
# bound style follows this engine's ISO range forms (documented
# DateStyle divergence, same as the r5 range casts). Parsing is scalar
# text work -> pure Python + an Arrow-batched UDF for column inputs;
# literal arguments fold at compile time (functions_map).

import re as _re


def _py_split_members(s: str) -> list[str] | None:
    s = s.strip()
    if not (s.startswith("{") and s.endswith("}")):
        return None
    body = s[1:-1].strip()
    if not body:
        return []
    members, cur, quoted = [], "", False
    for ch in body:
        if quoted:
            cur += ch
            quoted = ch != '"'
            continue
        if ch == '"':
            cur += ch
            quoted = True
        elif ch == "," and (not cur or cur.lstrip()[-1:] in (")", "]")):
            members.append(cur.strip())
            cur = ""
        else:
            cur += ch
    if cur.strip():
        members.append(cur.strip())
    return members


def _py_range_parts(txt: str):
    t = txt.strip()
    if len(t) < 3 or t[0] not in "[(" or t[-1] not in "])":
        return None
    lo_inc, hi_inc = t[0] == "[", t[-1] == "]"
    body = t[1:-1]
    q = False
    for i, ch in enumerate(body):
        if ch == '"':
            q = not q
        elif ch == "," and not q:
            lo, hi = body[:i], body[i + 1 :]
            break
    else:
        return None

    def clean(b: str) -> str:
        b = b.strip()
        if b.startswith('"') and b.endswith('"') and len(b) >= 2:
            b = b[1:-1]
        return b.strip().strip("'").strip()

    return clean(lo), clean(hi), lo_inc, hi_inc


def _py_parse_member(kind: str, txt: str):
    """range text -> (lo, hi, lo_inc, hi_inc) with None = unbounded;
    'empty' -> None-member; unparseable -> ValueError. Discrete kinds
    (int, date) canonicalize to [lo, hi+1) half-open form."""
    if txt.strip().lower() == "empty":
        return "empty"
    p = _py_range_parts(txt)
    if p is None:
        raise ValueError(txt)
    lo_s, hi_s, lo_inc, hi_inc = p

    def bound(b: str):
        if b == "":
            return None
        if kind == "int":
            return int(b)
        if kind == "num":
            return float(b)
        if kind == "date":
            d = TMP.py_parse_date_days(b)
        else:  # ts / tstz
            d = TMP.py_parse_ts_us(b, apply_tz=(kind == "tstz"))
        if d is None:
            raise ValueError(b)
        return d

    lo, hi = bound(lo_s), bound(hi_s)
    if kind in ("int", "date"):  # discrete: canonicalize to [lo, hi)
        if lo is not None and not lo_inc:
            lo, lo_inc = lo + 1, True
        if hi is not None and hi_inc:
            hi, hi_inc = hi + 1, False
        if lo is not None and hi is not None and lo >= hi:
            return "empty"
    else:
        if lo is not None and hi is not None and (
            lo > hi or (lo == hi and not (lo_inc and hi_inc))
        ):
            return "empty"
    return (lo, hi, lo_inc, hi_inc)


def _py_render_member(kind: str, m) -> str:
    lo, hi, lo_inc, hi_inc = m

    def btxt(v):
        if v is None:
            return ""
        if kind == "int":
            return str(v)
        if kind == "num":
            iv = int(v)
            return str(iv) if float(iv) == v else repr(v)
        if kind == "date":
            return '"%s"' % G.decode(
                {"t": G.T_DATE, "i": v, "b": None, "d": None, "s": None, "j": None}
            )
        return '"%s"' % G.decode(
            {"t": G.T_TIMESTAMP, "i": v, "b": None, "d": None, "s": None, "j": None}
        )

    return ("[" if lo_inc else "(") + btxt(lo) + "," + btxt(hi) + ("]" if hi_inc else ")")


def multirange_in_py(kind: str, s: str) -> str | None:
    """'{...}' multirange text -> canonical form (sorted, merged), or
    None on malformed input (errors -> gtype null convention)."""
    try:
        raw = _py_split_members(s)
        if raw is None:
            return None
        members = [_py_parse_member(kind, t) for t in raw]
    except (ValueError, TypeError):
        return None
    members = [m for m in members if m != "empty"]
    NEG = float("-inf")

    def lo_key(m):
        lo = m[0] if m[0] is not None else NEG
        return (lo, not m[2])

    members.sort(key=lo_key)
    merged: list = []
    for m in members:
        if not merged:
            merged.append(list(m))
            continue
        a = merged[-1]
        a_hi, a_hi_inc = a[1], a[3]
        b_lo, b_lo_inc = m[0], m[2]
        if a_hi is None:
            overlap = True
        elif b_lo is None:
            overlap = True
        elif kind in ("int", "date"):
            overlap = b_lo <= a_hi  # [_, h) + [h, _) are adjacent -> merge
        else:
            overlap = b_lo < a_hi or (b_lo == a_hi and (b_lo_inc or a_hi_inc))
        if overlap:
            if a_hi is not None and (
                m[1] is None or m[1] > a_hi or (m[1] == a_hi and m[3] and not a_hi_inc)
            ):
                a[1], a[3] = m[1], m[3]
        else:
            merged.append(list(m))
    return "{" + ",".join(_py_render_member(kind, tuple(m)) for m in merged) + "}"


_MULTIRANGE_UDFS: dict[str, object] = {}


def _multirange_udf(kind: str):
    if kind in _MULTIRANGE_UDFS:
        return _MULTIRANGE_UDFS[kind]
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    def _fn(s: pd.Series) -> pd.Series:
        return s.map(lambda v: multirange_in_py(kind, v) if v is not None else None)

    _fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    udf = pandas_udf(T.StringType())(_fn)
    _MULTIRANGE_UDFS[kind] = udf
    return udf


def cast_multirange(kind: str, gv: Column) -> Column:
    return G.gv_str(_multirange_udf(kind)(_str_in(gv)))
