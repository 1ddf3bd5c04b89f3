"""Clause IR — the analog of the reference's cypher_nodes.h ExtensibleNode
ASTs (src/include/nodes/cypher_nodes.h): one dataclass per clause /
pattern element / expression form.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

# ------------------------------------------------------------- expressions


@dataclass
class Lit:
    value: Any  # None | bool | int | float | str

    @property
    def literal(self) -> Any:
        """The value the compiler's literal case puts in the plan."""
        return self.value


#: the lexer's ints are never negative, so each slot kind maps to one
#: Spark literal type: py4j hands a python int below 2**31 to the JVM as
#: an Integer, below 2**63 as a Long
_INT32, _INT64 = 2**31, 2**63


def literal_kind(v: Any) -> str | None:
    """Spark literal type class of a value parse_atom may lift into a
    parameter slot: "int" (IntegerType), "bigint" (LongType), "double"
    or "string"; None keeps the literal inline (null, booleans, ints
    past int64)."""
    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return "int" if v < _INT32 else "bigint" if v < _INT64 else None
    if isinstance(v, float):
        return "double"
    if isinstance(v, str):
        return "string"
    return None


class Param(Lit):
    """A literal lifted into a parameter slot of its statement's shape
    (the analog of a prepared statement's $n). It is a Lit to every
    consumer, with two differences that make plan templates sound:

    * the compiler's literal case reads ``literal``, which is the slot's
      sentinel while a template compiles (``sentinel`` is set) and the
      real value otherwise;
    * every other read of ``value`` *pins* the slot: the compiler used
      the value in Python (LIMIT, a const-folded cast, a regex it
      translated), so a template is valid only for texts with the same
      value there.
    """

    def __init__(self, value: Any, kind: str, token: int):
        self._value = value
        self.kind = kind  # literal_kind(value)
        self.token = token  # index of the literal's token in the statement
        self.slot = -1  # position among the statement's params
        self.sentinel: Any = None
        self.pinned = False

    @property
    def value(self) -> Any:
        self.pinned = True
        return self._value

    @property
    def literal(self) -> Any:
        return self._value if self.sentinel is None else self.sentinel

    def __eq__(self, other):
        # equal to a Lit of the same value, as Lit(1) == Lit(1)
        if not isinstance(other, Lit):
            return NotImplemented
        return self.value == other.value


@dataclass
class ListLit:
    items: list


@dataclass
class MapLit:
    items: dict  # str -> expr


@dataclass
class Var:
    name: str


@dataclass
class Prop:
    base: Any  # expr (usually Var)
    path: list[str]


@dataclass
class Index:
    base: Any
    index: Any  # expr


@dataclass
class Slice:
    base: Any
    lo: Any | None
    hi: Any | None


@dataclass
class BinOp:
    op: str  # + - * / % ^ = <> < <= > >= AND OR XOR IN STARTS ENDS CONTAINS =~
    left: Any
    right: Any


@dataclass
class UnaryOp:
    op: str  # NOT, -
    operand: Any


@dataclass
class IsNull:
    operand: Any
    negated: bool = False


@dataclass
class BoolTest:
    """IS [NOT] TRUE | FALSE | UNKNOWN (cypher_gram.y:13887-13931
    BooleanTest): never-null boolean result."""

    operand: Any
    which: str  # 'true' | 'false' | 'unknown'
    negated: bool = False


@dataclass
class DistinctFrom:
    """IS [NOT] DISTINCT FROM (cypher_gram.y:13935-13941): null-safe
    comparison — never returns null."""

    left: Any
    right: Any
    negated: bool = False


@dataclass
class WindowSpec:
    """OVER (...) / WINDOW name AS (...) definition
    (cypher_gram.y:17407-17520)."""

    ref_name: Optional[str] = None  # existing window name to extend
    partition_by: list = field(default_factory=list)  # exprs
    order_by: list = field(default_factory=list)  # SortItem
    frame_kind: Optional[str] = None  # 'rows' | 'range' | None (default)
    frame_start: Optional[Any] = None  # 'unbounded' | 'current' | (expr, )
    frame_end: Optional[Any] = None
    frame_start_dir: Optional[str] = None  # 'preceding' | 'following'
    frame_end_dir: Optional[str] = None
    frame_exclude: Optional[str] = None  # 'current' | 'group' | 'ties'


@dataclass
class FuncCall:
    name: str  # lowercase
    args: list
    distinct: bool = False
    star: bool = False  # count(*)
    # decorations (cypher_gram.y:17218: within_group filter over)
    over: Any = None  # WindowSpec | str (named window) | None
    filter_where: Any = None  # FILTER (WHERE expr)
    within_group: list = field(default_factory=list)  # WITHIN GROUP (ORDER BY ...)


@dataclass
class CaseExpr:
    operand: Any | None  # simple CASE operand or None (searched)
    whens: list  # [(cond_or_value, result)]
    default: Any | None


@dataclass
class ExistsPattern:
    """EXISTS ( pattern ) predicate."""

    pattern: "Path"


@dataclass
class SubqueryCmp:
    """Quantified subquery comparison: `expr IN (query)`,
    `expr op ANY/SOME/ALL (query)` (cypher_gram.y:17037-17040,
    17110-17126; sublink transform cypher_expr.c:82,231)."""

    op: str  # = <> < <= > >=
    quant: str  # 'any' | 'all'
    left: Any
    query: Any  # SingleQuery | SetOp producing one column


@dataclass
class Cast:
    """expr :: typename (cypher_gram.y:17107-17109) or a typed literal
    TIMESTAMP '...' / DATE '...' / INTERVAL '...' (g.y:17655+)."""

    operand: Any
    type_name: str  # canonical lowercase: timestamp, timestamptz, date,
    #                 time, timetz, interval, integer, float, numeric,
    #                 string, boolean


# ---------------------------------------------------------------- patterns


@dataclass
class NodePat:
    var: Optional[str]
    label: Optional[str]
    props: Optional[MapLit]


@dataclass
class RelPat:
    var: Optional[str]
    label: Optional[str]
    props: Optional[MapLit]
    direction: str  # 'out' (->), 'in' (<-), 'both'
    varlen: Optional[tuple] = None  # (lo, hi|None); None = fixed single hop


@dataclass
class Path:
    var: Optional[str]  # named path p = (...)
    elements: list  # NodePat, RelPat, NodePat, ...


# ----------------------------------------------------------------- clauses


@dataclass
class SortItem:
    expr: Any
    descending: bool = False
    nulls_first: Optional[bool] = None


@dataclass
class MatchClause:
    paths: list
    where: Any | None = None
    optional: bool = False
    order_by: list = field(default_factory=list)


@dataclass
class ReturnItem:
    expr: Any
    alias: Optional[str]


@dataclass
class GroupSpec:
    """One GROUP BY item: a plain expr, rollup/cube over exprs, empty
    grouping `()`, or GROUPING SETS (cypher_gram.y:4431-4490).
    For kind='grouping_sets', `sets` is the list of expr-lists (an
    empty inner list = the grand-total set)."""

    kind: str  # 'expr' | 'rollup' | 'cube' | 'grouping_sets' | 'empty'
    exprs: list
    sets: list = field(default_factory=list)


@dataclass
class WithClause:
    items: list  # ReturnItem
    distinct: bool = False
    where: Any | None = None
    order_by: list = field(default_factory=list)
    skip: Any | None = None
    limit: Any | None = None
    star: bool = False  # WITH *
    # explicit decorations (cypher_gram.y:5099-5171)
    group_by: list = field(default_factory=list)  # GroupSpec
    having: Any | None = None
    windows: dict = field(default_factory=dict)  # name -> WindowSpec


@dataclass
class ReturnClause:
    items: list
    distinct: bool = False
    order_by: list = field(default_factory=list)
    skip: Any | None = None
    limit: Any | None = None
    #: RETURN * [, items] — expand every in-scope binding (g.y:5177)
    star: bool = False


@dataclass
class UnwindClause:
    expr: Any
    alias: str


@dataclass
class CreateClause:
    paths: list


@dataclass
class SetItem:
    target: Any  # Prop or Var
    expr: Any
    is_add: bool = False  # SET n += map


@dataclass
class SetClause:
    items: list
    is_remove: bool = False


@dataclass
class DeleteClause:
    exprs: list
    detach: bool = False


@dataclass
class MergeClause:
    path: Path


@dataclass
class SingleQuery:
    clauses: list
    # statement-level, set by parser.parse on the root only: the lifted
    # literals in slot order, and the shape key (the token stream with
    # each lifted literal replaced by its slot kind)
    params: list = field(default_factory=list, compare=False, repr=False)
    shape: tuple = field(default=(), compare=False, repr=False)


@dataclass
class SetOp:
    op: str  # 'union' | 'union_all' | 'intersect' | 'except'
    left: Any  # SingleQuery | SetOp
    right: Any
    params: list = field(default_factory=list, compare=False, repr=False)
    shape: tuple = field(default=(), compare=False, repr=False)
