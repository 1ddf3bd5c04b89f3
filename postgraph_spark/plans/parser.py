"""Recursive-descent Cypher parser producing the clause IR in ast.py.

Grammar follows the reference's cypher_gram.y (clauses at g.y:4907-5229,
patterns at g.y:16778-16908, expressions at g.y:16941-17295) with
openCypher operator precedence: OR < XOR < AND < NOT < comparison
(chainable) < additive < multiplicative < unary < power < postfix.
"""

from __future__ import annotations

from postgraph_spark.plans import ast as A
from postgraph_spark.plans.lexer import Token, tokenize


class ParseError(ValueError):
    pass


class Parser:
    def __init__(self, text: str):
        self.toks = tokenize(text)
        self.i = 0
        #: literals lifted into parameter slots, in token order
        self.params: list[A.Param] = []

    # ------------------------------------------------------------ helpers

    @property
    def cur(self) -> Token:
        return self.toks[self.i]

    def peek(self, off: int = 1) -> Token:
        j = min(self.i + off, len(self.toks) - 1)
        return self.toks[j]

    def _peek_op(self, op: str) -> bool:
        # lookahead on the kind too: a string literal '(' is a parameter
        # slot, and the shape key must decide the parse
        return self.peek().kind == "op" and self.peek().value == op

    def advance(self) -> Token:
        t = self.cur
        self.i += 1
        return t

    def at_kw(self, *kws: str) -> bool:
        return self.cur.kind == "kw" and self.cur.value in kws

    def at_op(self, *ops: str) -> bool:
        return self.cur.kind == "op" and self.cur.value in ops

    def eat_kw(self, kw: str) -> Token:
        if not self.at_kw(kw):
            raise ParseError(f"expected {kw.upper()} at {self.cur.pos}, got {self.cur.value!r}")
        return self.advance()

    def eat_op(self, op: str) -> Token:
        if not self.at_op(op):
            raise ParseError(f"expected {op!r} at {self.cur.pos}, got {self.cur.value!r}")
        return self.advance()

    def try_kw(self, *kws: str) -> bool:
        if self.at_kw(*kws):
            self.advance()
            return True
        return False

    def name(self) -> str:
        if self.cur.kind == "name":
            return self.advance().value
        # allow non-reserved keywords as identifiers where unambiguous
        if self.cur.kind == "kw":
            return self.advance().value
        raise ParseError(f"expected name at {self.cur.pos}, got {self.cur.value!r}")

    # -------------------------------------------------------------- query

    def parse(self):
        # optional statement prefix: the reference's SQL grammar enters
        # cypher mode via a leading CYPHER keyword (regress lists.sql
        # `CYPHER WITH ... RETURN ...`); a no-op here
        if self.at_name("cypher"):
            self.advance()
        q = self.parse_setop()
        if self.at_op(";"):
            self.advance()
        if self.cur.kind != "eof":
            raise ParseError(f"trailing input at {self.cur.pos}: {self.cur.value!r}")
        return q

    def parse_setop(self):
        """UNION / INTERSECT / EXCEPT with ALL|DISTINCT on all three
        (cypher_gram.y:1082-1102); operands may be parenthesized set-op
        subtrees — `A UNION (B UNION ALL C)` groups explicitly
        (regress/sql/cypher_setop.sql:74-77)."""
        left = self.parse_setop_operand()
        while self.at_kw("union", "intersect", "except"):
            op = self.advance().value
            if self.try_kw("all"):
                op = op + "_all"
            else:
                self.try_kw("distinct")
            right = self.parse_setop_operand()
            left = A.SetOp(op, left, right)
        return left

    _CLAUSE_STARTERS = ("match", "optional", "unwind", "with", "return",
                        "create", "merge", "cypher", "call")

    def parse_setop_operand(self):
        if (
            self.cur.kind == "op" and self.cur.value == "("
            and self.peek().kind == "kw" and self.peek().value in self._CLAUSE_STARTERS
        ):
            self.eat_op("(")
            q = self.parse_setop()
            self.eat_op(")")
            return q
        return self.parse_single()

    def parse_single(self) -> A.SingleQuery:
        clauses = []
        while True:
            if self.at_kw("optional"):
                self.advance()
                self.eat_kw("match")
                clauses.append(self.parse_match(optional=True))
            elif self.at_kw("match"):
                self.advance()
                clauses.append(self.parse_match())
            elif self.at_kw("unwind"):
                self.advance()
                e = self.parse_expr()
                self.eat_kw("as")
                clauses.append(A.UnwindClause(e, self.name()))
            elif self.at_kw("with"):
                self.advance()
                clauses.append(self.parse_with())
            elif self.at_kw("return"):
                self.advance()
                clauses.append(self.parse_return())
            elif self.at_kw("create"):
                self.advance()
                clauses.append(A.CreateClause(self.parse_pattern_list()))
            elif self.at_kw("merge"):
                self.advance()
                clauses.append(A.MergeClause(self.parse_path()))
            elif self.at_kw("set"):
                self.advance()
                clauses.append(self.parse_set())
            elif self.at_kw("remove"):
                self.advance()
                clauses.append(self.parse_remove())
            elif self.at_kw("delete"):
                self.advance()
                clauses.append(A.DeleteClause(self.parse_expr_list(), detach=False))
            elif self.at_kw("detach"):
                self.advance()
                self.eat_kw("delete")
                clauses.append(A.DeleteClause(self.parse_expr_list(), detach=True))
            else:
                break
        if not clauses:
            raise ParseError(f"expected a clause at {self.cur.pos}")
        return A.SingleQuery(clauses)

    # ------------------------------------------------------------- clauses

    def parse_match(self, optional: bool = False) -> A.MatchClause:
        paths = self.parse_pattern_list()
        where = None
        order_by: list = []
        if self.try_kw("where"):
            where = self.parse_expr()
        if self.at_kw("order"):
            order_by = self.parse_order_by()
        return A.MatchClause(paths, where, optional, order_by)

    def parse_order_by(self) -> list:
        self.eat_kw("order")
        self.eat_kw("by")
        items = []
        while True:
            e = self.parse_expr()
            desc = False
            if self.try_kw("asc", "ascending"):
                desc = False
            elif self.try_kw("desc", "descending"):
                desc = True
            elif self.at_name("using"):
                # ORDER BY x USING < | > (g.y sortby_dir USING qual_all_Op;
                # regress/sql/order_by.sql:49): < = ascending, > = descending
                self.advance()
                op = self.advance().value
                if op not in ("<", "<=", ">", ">="):
                    raise ParseError(f"unsupported USING operator {op!r}")
                desc = op in (">", ">=")
            nulls_first = None
            if self.try_kw("nulls"):
                if self.try_kw("first"):
                    nulls_first = True
                else:
                    self.eat_kw("last")
                    nulls_first = False
            items.append(A.SortItem(e, desc, nulls_first))
            if not self.at_op(","):
                break
            self.advance()
        return items

    def _return_items(self):
        distinct = self.try_kw("distinct")
        star = False
        items = []
        if self.at_op("*"):
            self.advance()
            star = True
            if self.at_op(","):
                self.advance()
            else:
                return distinct, star, items
        while True:
            e = self.parse_expr()
            alias = None
            if self.try_kw("as"):
                alias = self.name()
            items.append(A.ReturnItem(e, alias))
            if not self.at_op(","):
                break
            self.advance()
        return distinct, star, items

    def at_name(self, *names: str) -> bool:
        return self.cur.kind == "name" and self.cur.value.lower() in names

    def try_name(self, *names: str) -> bool:
        if self.at_name(*names):
            self.advance()
            return True
        return False

    def parse_with(self) -> A.WithClause:
        """WITH items [WHERE] [GROUP BY] [HAVING] [WINDOW ...] [ORDER BY]
        [SKIP] [LIMIT] (cypher_gram.y:5099-5171); a trailing WHERE after
        LIMIT is also accepted (legacy position)."""
        distinct, star, items = self._return_items()
        where = None
        if self.try_kw("where"):
            where = self.parse_expr()
        group_by: list = []
        if self.at_name("group") and self.peek().kind == "kw" and self.peek().value == "by":
            self.advance()
            self.advance()
            group_by = self.parse_group_by_list()
        having = None
        if self.try_kw("having"):
            having = self.parse_expr()
        windows: dict = {}
        if self.try_name("window"):
            while True:
                wname = self.name()
                self.eat_kw("as")
                windows[wname] = self.parse_window_spec()
                if not self.at_op(","):
                    break
                self.advance()
        order_by = self.parse_order_by() if self.at_kw("order") else []
        skip = limit = None
        if self.try_kw("skip"):
            skip = self.parse_expr()
        if self.try_kw("limit"):
            limit = self.parse_expr()
        if where is None and self.try_kw("where"):
            where = self.parse_expr()
        return A.WithClause(
            items, distinct, where, order_by, skip, limit, star,
            group_by=group_by, having=having, windows=windows,
        )

    def parse_group_by_list(self) -> list:
        """plain exprs | ROLLUP(...) | CUBE(...) | GROUPING SETS
        ((a,b),(a),()) | empty grouping () (cypher_gram.y:4441-4490)."""
        out = []
        while True:
            if self.at_name("rollup", "cube") and self._peek_op("("):
                kind = self.advance().value.lower()
                self.eat_op("(")
                exprs = self.parse_expr_list()
                self.eat_op(")")
                out.append(A.GroupSpec(kind, exprs))
            elif (
                self.at_name("grouping")
                and self.peek().kind == "name"
                and self.peek().value.lower() == "sets"
            ):
                self.advance()
                self.advance()
                self.eat_op("(")
                sets: list = []
                while True:
                    if self.at_op("("):
                        self.advance()
                        inner = [] if self.at_op(")") else self.parse_expr_list()
                        self.eat_op(")")
                        sets.append(inner)
                    else:
                        sets.append([self.parse_expr()])
                    if not self.at_op(","):
                        break
                    self.advance()
                self.eat_op(")")
                out.append(A.GroupSpec("grouping_sets", [], sets=sets))
            elif self.at_op("(") and self.peek().kind == "op" and self.peek().value == ")":
                self.advance()
                self.advance()
                out.append(A.GroupSpec("empty", []))
            else:
                out.append(A.GroupSpec("expr", [self.parse_expr()]))
            if not self.at_op(","):
                break
            self.advance()
        return out

    def parse_window_spec(self) -> A.WindowSpec:
        """'(' [existing_name] [PARTITION BY exprs] [ORDER BY items]
        [ROWS|RANGE frame] ')' (cypher_gram.y:17437-17520)."""
        self.eat_op("(")
        spec = A.WindowSpec()
        if (
            self.cur.kind == "name"
            and self.cur.value.lower() not in ("partition", "rows", "range", "groups")
            and not self.at_op(")")
        ):
            spec.ref_name = self.advance().value
        if self.at_name("partition"):
            self.advance()
            self.eat_kw("by")
            spec.partition_by = self.parse_expr_list()
        if self.at_kw("order"):
            spec.order_by = self.parse_order_by()
        if self.at_name("rows", "range", "groups"):
            spec.frame_kind = self.advance().value.lower()

            def bound():
                if self.try_name("unbounded"):
                    d = self.advance().value.lower()  # preceding|following
                    return "unbounded", d
                if self.try_name("current"):
                    tok = self.advance()  # 'row'
                    if tok.value.lower() != "row":
                        raise ParseError(f"expected ROW at {tok.pos}")
                    return "current", None
                e = self.parse_expr()
                d = self.advance().value.lower()
                if d not in ("preceding", "following"):
                    raise ParseError(f"expected PRECEDING/FOLLOWING, got {d!r}")
                return e, d

            if self.at_name("between"):
                self.advance()
                spec.frame_start, spec.frame_start_dir = bound()
                self.eat_kw("and")
                spec.frame_end, spec.frame_end_dir = bound()
            else:
                spec.frame_start, spec.frame_start_dir = bound()
                spec.frame_end, spec.frame_end_dir = "current", None
            # frame_exclusion (g.y:17545-17565): EXCLUDE CURRENT ROW |
            # GROUP | TIES | NO OTHERS
            if self.at_name("exclude"):
                self.advance()
                tok = self.advance().value.lower()
                if tok == "current":
                    row = self.advance().value.lower()
                    if row != "row":
                        raise ParseError("expected ROW after EXCLUDE CURRENT")
                    spec.frame_exclude = "current"
                elif tok in ("group", "ties"):
                    spec.frame_exclude = tok
                elif tok == "no":
                    others = self.advance().value.lower()
                    if others != "others":
                        raise ParseError("expected OTHERS after EXCLUDE NO")
                else:
                    raise ParseError(f"bad EXCLUDE option {tok!r}")
        self.eat_op(")")
        return spec

    def parse_return(self) -> A.ReturnClause:
        distinct, star, items = self._return_items()
        order_by = self.parse_order_by() if self.at_kw("order") else []
        skip = limit = None
        if self.try_kw("skip"):
            skip = self.parse_expr()
        if self.try_kw("limit"):
            limit = self.parse_expr()
        return A.ReturnClause(items, distinct, order_by, skip, limit, star=star)

    def parse_set(self) -> A.SetClause:
        items = []
        while True:
            target = self.parse_expr_postfix_only()
            if self.at_op("+="):
                self.advance()
                items.append(A.SetItem(target, self.parse_expr(), is_add=True))
            else:
                self.eat_op("=")
                items.append(A.SetItem(target, self.parse_expr()))
            if not self.at_op(","):
                break
            self.advance()
        return A.SetClause(items)

    def parse_remove(self) -> A.SetClause:
        items = []
        while True:
            target = self.parse_expr_postfix_only()
            items.append(A.SetItem(target, A.Lit(None)))
            if not self.at_op(","):
                break
            self.advance()
        return A.SetClause(items, is_remove=True)

    def parse_expr_list(self) -> list:
        out = [self.parse_expr()]
        while self.at_op(","):
            self.advance()
            out.append(self.parse_expr())
        return out

    # ------------------------------------------------------------ patterns

    def parse_pattern_list(self) -> list:
        paths = [self.parse_path()]
        while self.at_op(","):
            self.advance()
            paths.append(self.parse_path())
        return paths

    def parse_path(self) -> A.Path:
        var = None
        if self.cur.kind == "name" and self.peek().kind == "op" and self.peek().value == "=" and (
            self.peek(2).kind == "op" and self.peek(2).value == "("
        ):
            var = self.advance().value
            self.advance()  # =
        elements = [self.parse_node()]
        while self.at_op("-", "<-", "<"):
            rel = self.parse_rel()
            node = self.parse_node()
            elements.append(rel)
            elements.append(node)
        return A.Path(var, elements)

    def parse_node(self) -> A.NodePat:
        self.eat_op("(")
        var = label = None
        props = None
        if self.cur.kind == "name":
            var = self.advance().value
        if self.at_op(":"):
            self.advance()
            label = self.name()
        if self.at_op("{"):
            props = self.parse_map_literal()
        self.eat_op(")")
        return A.NodePat(var, label, props)

    def parse_rel(self) -> A.RelPat:
        # entry tokens: '-' (out/both) or '<-' (in)
        direction = "both"
        if self.at_op("<-"):
            self.advance()
            direction = "in"
        else:
            self.eat_op("-")
        var = label = None
        props = None
        varlen = None
        if self.at_op("["):
            self.advance()
            if self.cur.kind == "name":
                var = self.advance().value
            if self.at_op(":"):
                self.advance()
                label = self.name()
            if self.at_op("*"):
                self.advance()
                lo_default = 1
                lo = hi = None
                if self.cur.kind == "int":
                    lo = int(self.advance().value)
                if self.at_op(".."):
                    self.advance()
                    if self.cur.kind == "int":
                        hi = int(self.advance().value)
                    varlen = (lo if lo is not None else lo_default, hi)
                else:
                    # bare *  -> (1, None); *n -> exactly n
                    varlen = (lo if lo is not None else lo_default, lo if lo is not None else None)
                if lo is None and varlen[0] == 1 and self.at_op(".."):
                    pass
            if self.at_op("{"):
                props = self.parse_map_literal()
            self.eat_op("]")
        if self.at_op("->"):
            self.advance()
            if direction == "in":
                raise ParseError("invalid relationship direction <- ... ->")
            direction = "out"
        elif self.at_op("-"):
            self.advance()
            # direction stays 'in' or 'both'
        else:
            raise ParseError(f"expected -> or - at {self.cur.pos}")
        return A.RelPat(var, label, props, direction, varlen)

    def parse_map_literal(self) -> A.MapLit:
        self.eat_op("{")
        items = {}
        if not self.at_op("}"):
            while True:
                k = self.name() if self.cur.kind in ("name", "kw") else self.advance().value
                self.eat_op(":")
                items[k] = self.parse_expr()
                if not self.at_op(","):
                    break
                self.advance()
        self.eat_op("}")
        return A.MapLit(items)

    # --------------------------------------------------------- expressions

    def parse_expr(self):
        return self.parse_or()

    def parse_or(self):
        left = self.parse_xor()
        while self.at_kw("or"):
            self.advance()
            left = A.BinOp("OR", left, self.parse_xor())
        return left

    def parse_xor(self):
        left = self.parse_and()
        while self.at_kw("xor"):
            self.advance()
            left = A.BinOp("XOR", left, self.parse_and())
        return left

    def parse_and(self):
        left = self.parse_not()
        while self.at_kw("and"):
            self.advance()
            left = A.BinOp("AND", left, self.parse_not())
        return left

    def parse_not(self):
        if self.at_kw("not"):
            self.advance()
            return A.UnaryOp("NOT", self.parse_not())
        return self.parse_comparison()

    _CMP = {"=", "<>", "<", "<=", ">", ">="}
    #: postfix-style binary predicates that parse at comparison level:
    #: PG regex ops (gtype_string.c:193-227) and jsonb containment /
    #: existence (gtype_ops.c:849-1080), LIKE family (g.y:2595-2601)
    _CMP_OPS = {"~": "~", "~*": "~*", "!~": "!~", "!~*": "!~*",
                "@>": "@>", "<@": "<@", "?": "?", "?|": "?|", "?&": "?&",
                "@@": "@@",
                # match_vles: two VLE bindings connect head-to-tail
                # (variable_edge.c:269-289; OPERATOR !!=,
                # sql/postgraph.sql.in:529-537)
                "!!=": "!!=",
                # inet subnet operators (gtype_ops.c:756-827;
                # old/regress/network.sql): contained-by / contains /
                # strict variants / overlap
                "<<": "<<", "<<=": "<<=", ">>": ">>", ">>=": ">>=",
                "&&": "&&"}

    def parse_comparison(self):
        left = self.parse_bitor()
        chain = []
        while True:
            if self.cur.kind == "op" and self.cur.value in self._CMP:
                op = self.advance().value
                # quantified subquery: op ANY/SOME/ALL ( query )
                # (cypher_gram.y:17110-17126)
                if (
                    (self.at_kw("all") or self.at_name("any", "some"))
                    and self.peek().kind == "op"
                    and self.peek().value == "("
                ):
                    quant = "all" if self.advance().value.lower() == "all" else "any"
                    self.eat_op("(")
                    sub = self.parse_setop()
                    self.eat_op(")")
                    chain.append(A.SubqueryCmp(op, quant, left, sub))
                    break
                right = self.parse_bitor()
                chain.append(A.BinOp(op, left, right))
                left = right
            elif self.at_kw("starts"):
                self.advance()
                self.eat_kw("with")
                chain.append(A.BinOp("STARTS", left, self.parse_bitor()))
                break
            elif self.at_kw("ends"):
                self.advance()
                self.eat_kw("with")
                chain.append(A.BinOp("ENDS", left, self.parse_bitor()))
                break
            elif self.at_kw("contains"):
                self.advance()
                chain.append(A.BinOp("CONTAINS", left, self.parse_bitor()))
                break
            elif self.at_op("=~"):
                self.advance()
                chain.append(A.BinOp("=~", left, self.parse_bitor()))
                break
            elif self.at_kw("like", "ilike"):
                op = self.advance().value.upper()
                chain.append(A.BinOp(op, left, self.parse_bitor()))
                break
            elif self.at_kw("not") and self.peek().kind == "kw" and self.peek().value in ("like", "ilike"):
                self.advance()
                op = "NOT_" + self.advance().value.upper()
                chain.append(A.BinOp(op, left, self.parse_bitor()))
                break
            elif self.at_name("similar") or (
                self.at_kw("not")
                and self.peek().kind == "name"
                and self.peek().value.lower() == "similar"
            ):
                # [NOT] SIMILAR TO (g.y:13804-13823 via similar_to_escape)
                neg = self.try_kw("not")
                self.advance()  # similar
                if not self.try_name("to"):
                    raise ParseError(f"expected TO after SIMILAR at {self.cur.pos}")
                chain.append(
                    A.BinOp("NOT_SIMILAR" if neg else "SIMILAR", left, self.parse_bitor())
                )
                break
            elif self.at_name("between") or (
                self.at_kw("not")
                and self.peek().kind == "name"
                and self.peek().value.lower() == "between"
            ):
                # [NOT] BETWEEN [ASYMMETRIC|SYMMETRIC] b AND c — desugared
                # to comparison conjunctions exactly as the reference
                # grammar does (g.y:13943-13989)
                neg = self.try_kw("not")
                self.advance()  # between
                sym = False
                if self.at_name("symmetric"):
                    sym = True
                    self.advance()
                elif self.at_name("asymmetric"):
                    self.advance()
                lo = self.parse_bitor()
                self.eat_kw("and")
                hi = self.parse_bitor()
                rng = A.BinOp("AND", A.BinOp(">=", left, lo), A.BinOp("<=", left, hi))
                if sym:
                    rev = A.BinOp("AND", A.BinOp(">=", left, hi), A.BinOp("<=", left, lo))
                    rng = A.BinOp("OR", rng, rev)
                chain.append(A.UnaryOp("NOT", rng) if neg else rng)
                break
            elif (
                self.at_kw("not")
                and self.peek().kind == "kw"
                and self.peek().value == "in"
            ):
                # NOT IN (list | subquery): the subquery form is the
                # reference's <> ALL sublink (g.y:14006-14014)
                self.advance()
                self.advance()
                if self.at_op("(") and self.peek().kind == "kw" and self.peek().value in (
                    "match", "unwind", "with", "return", "optional",
                ):
                    self.eat_op("(")
                    sub = self.parse_setop()
                    self.eat_op(")")
                    chain.append(A.SubqueryCmp("<>", "all", left, sub))
                    break
                chain.append(A.UnaryOp("NOT", A.BinOp("IN", left, self.parse_bitor())))
                break
            elif self.at_name("isnull") and not self._peek_op("("):
                # a_expr ISNULL (g.y:13871)
                self.advance()
                chain.append(A.IsNull(left, False))
                break
            elif self.at_name("notnull") and not self._peek_op("("):
                # a_expr NOTNULL (g.y:13879)
                self.advance()
                chain.append(A.IsNull(left, True))
                break
            elif self.cur.kind == "op" and self.cur.value in self._CMP_OPS:
                op = self.advance().value
                chain.append(A.BinOp(op, left, self.parse_bitor()))
                break
            elif self.at_kw("in"):
                self.advance()
                # expr IN ( query ) — membership vs a subquery
                # (cypher_gram.y:17037-17040, `@=` sublink)
                if self.at_op("(") and self.peek().kind == "kw" and self.peek().value in (
                    "match", "unwind", "with", "return", "optional",
                ):
                    self.eat_op("(")
                    sub = self.parse_setop()
                    self.eat_op(")")
                    chain.append(A.SubqueryCmp("=", "any", left, sub))
                    break
                chain.append(A.BinOp("IN", left, self.parse_bitor()))
                break
            elif self.at_kw("is"):
                self.advance()
                negated = self.try_kw("not")
                if self.at_kw("true", "false"):
                    chain.append(A.BoolTest(left, self.advance().value, negated))
                elif self.at_name("unknown"):
                    self.advance()
                    chain.append(A.BoolTest(left, "unknown", negated))
                elif self.at_kw("distinct"):
                    self.advance()
                    if not self.try_name("from"):
                        raise ParseError(
                            f"expected FROM after IS [NOT] DISTINCT at {self.cur.pos}"
                        )
                    chain.append(A.DistinctFrom(left, self.parse_bitor(), negated))
                else:
                    self.eat_kw("null")
                    chain.append(A.IsNull(left, negated))
                break
            else:
                break
        if not chain:
            return left
        out = chain[0]
        for c in chain[1:]:
            out = A.BinOp("AND", out, c)
        return out

    def parse_bitor(self):
        # PG generic-operator precedence puts ||, | and & between the
        # comparison predicates and additive arithmetic
        left = self.parse_bitand()
        while self.at_op("|", "||"):
            op = self.advance().value
            left = A.BinOp(op, left, self.parse_bitand())
        return left

    def parse_bitand(self):
        left = self.parse_tsphrase()
        while self.at_op("&"):
            self.advance()
            left = A.BinOp("&", left, self.parse_tsphrase())
        return left

    def parse_tsphrase(self):
        # `<->` (tsquery phrase / vector l2 — runtime dispatch in the
        # compiler, mirroring vector.c:285-350) plus the vector-only
        # distance spellings `<=>` (cosine) and `<#>` (negative inner
        # product) — postgraph-gtype.sql.in:140-167; between & and
        # additive, mirroring PG generic-operator precedence
        left = self.parse_additive()
        while self.at_op("<->", "<=>", "<#>"):
            op = self.advance().value
            left = A.BinOp(op, left, self.parse_additive())
        return left

    def parse_additive(self):
        left = self.parse_multiplicative()
        while self.at_op("+", "-"):
            op = self.advance().value
            left = A.BinOp(op, left, self.parse_multiplicative())
        return left

    def parse_multiplicative(self):
        left = self.parse_unary()
        while self.at_op("*", "/", "%"):
            op = self.advance().value
            left = A.BinOp(op, left, self.parse_unary())
        return left

    def parse_unary(self):
        if self.at_op("-"):
            self.advance()
            return A.UnaryOp("-", self.parse_unary())
        if self.at_op("~"):
            self.advance()
            return A.UnaryOp("~", self.parse_unary())
        if self.at_op("!!"):
            # tsquery negation (gtype_tsquery_not)
            self.advance()
            return A.UnaryOp("!!", self.parse_unary())
        if self.at_op("@-@"):
            # length: VLE hop count / geometric path length (the 1-arg
            # gtype_distance; old/regress/variable_edge_functions.sql)
            self.advance()
            return A.UnaryOp("@-@", self.parse_unary())
        if self.at_op("+"):
            self.advance()
            return self.parse_unary()
        return self.parse_power()

    def parse_power(self):
        left = self.parse_postfix()
        if self.at_op("^"):
            self.advance()
            return A.BinOp("^", left, self.parse_unary())  # right-assoc
        return left

    def parse_expr_postfix_only(self):
        return self.parse_postfix()

    # canonical type names for `::` casts and typed literals
    _TYPE_ALIASES = {
        "timestamp": "timestamp", "timestamptz": "timestamptz",
        "date": "date", "time": "time", "timetz": "timetz",
        "interval": "interval",
        "int": "integer", "integer": "integer", "bigint": "integer",
        "smallint": "integer", "int2": "integer", "int4": "integer",
        "int8": "integer",
        "float": "float", "float4": "float", "float8": "float",
        "real": "float", "double": "float",
        "numeric": "numeric", "decimal": "numeric",
        "text": "string", "string": "string", "varchar": "string",
        "bool": "boolean", "boolean": "boolean",
        # extended scalar kits (functions/casts.py)
        "bytea": "bytea", "inet": "inet", "cidr": "cidr",
        "macaddr": "macaddr", "macaddr8": "macaddr8",
        "tsvector": "tsvector", "tsquery": "tsquery",
        "intrange": "intrange", "int4range": "intrange",
        "int8range": "intrange", "numrange": "numrange",
        "tsrange": "tsrange", "tstzrange": "tstzrange",
        "daterange": "daterange", "graphid": "graphid",
        "vector": "vector",
        # geometric kit (functions/geometric.py)
        "point": "point", "box": "box", "lseg": "lseg", "line": "line",
        "circle": "circle", "path": "path", "polygon": "polygon",
        # multiranges (casts.py multirange_in_py)
        "intmultirange": "intmultirange", "int4multirange": "intmultirange",
        "int8multirange": "intmultirange", "nummultirange": "nummultirange",
        "tsmultirange": "tsmultirange", "tstzmultirange": "tstzmultirange",
        "datemultirange": "datemultirange",
    }

    def parse_type_name(self) -> str:
        """Type name after `::` — including the multiword SQL spellings
        TIMESTAMP/TIME [WITH|WITHOUT] TIME ZONE (cypher_gram.y:17655+)."""
        base = self.name().lower()
        if base not in self._TYPE_ALIASES:
            raise ParseError(f"unknown type name {base!r} at {self.cur.pos}")
        t = self._TYPE_ALIASES[base]
        if t in ("timestamp", "time") and (
            self.at_kw("with") or (self.cur.kind == "name" and self.cur.value.lower() == "without")
        ):
            with_tz = self.at_kw("with")
            self.advance()
            for w in ("time", "zone"):
                tok = self.advance()
                if tok.value.lower() != w:
                    raise ParseError(f"expected {w.upper()} at {tok.pos}")
            if with_tz:
                t = "timestamptz" if t == "timestamp" else "timetz"
        return t

    def parse_postfix(self):
        e = self.parse_atom()
        while True:
            if self.at_op("::"):
                self.advance()
                e = A.Cast(e, self.parse_type_name())
            elif self.at_op("."):
                self.advance()
                key = self.name()
                if isinstance(e, A.Prop):
                    e.path.append(key)
                else:
                    e = A.Prop(e, [key])
            elif self.at_op("["):
                self.advance()
                lo = None
                if not self.at_op(".."):
                    lo = self.parse_expr()
                if self.at_op(".."):
                    self.advance()
                    hi = None
                    if not self.at_op("]"):
                        hi = self.parse_expr()
                    e = A.Slice(e, lo, hi)
                else:
                    e = A.Index(e, lo)
                self.eat_op("]")
            else:
                break
        return e

    def shape(self) -> tuple:
        """The statement's shape key: its token stream with each lifted
        literal replaced by its slot kind. Texts of one shape parse to
        the same tree up to the lifted values."""
        out = [(t.kind, t.value) for t in self.toks]
        for p in self.params:
            out[p.token] = ("$", p.kind)
        return tuple(out)

    def _lift(self, value):
        """A literal of parse_atom -> a parameter slot (A.Param), or an
        inline A.Lit when its Spark type depends on more than its kind."""
        kind = A.literal_kind(value)
        if kind is None:
            return A.Lit(value)
        p = A.Param(value, kind, self.i - 1)
        self.params.append(p)
        return p

    def _inline_if_literal(self, e, first_param: int):
        """A fully literal list/map container stays inline: the compiler
        folds it to one JSON text in Python, so its literals are part of
        the shape rather than slots."""
        if not _all_literal(e):
            return e
        del self.params[first_param:]
        return _inline(e)

    def parse_atom(self):
        t = self.cur
        if t.kind == "int":
            self.advance()
            return self._lift(int(t.value))
        if t.kind == "float":
            self.advance()
            return self._lift(float(t.value))
        if t.kind == "string":
            self.advance()
            return self._lift(t.value)
        if t.kind == "kw":
            if t.value == "null":
                self.advance()
                return A.Lit(None)
            if t.value == "true":
                self.advance()
                return A.Lit(True)
            if t.value == "false":
                self.advance()
                return A.Lit(False)
            if t.value == "case":
                return self.parse_case()
            if t.value == "exists":
                self.advance()
                self.eat_op("(")
                if self.at_op("("):
                    pat = self.parse_path()
                    self.eat_op(")")
                    return A.ExistsPattern(pat)
                e = self.parse_expr()
                self.eat_op(")")
                return A.FuncCall("exists", [e])
            if t.value in ("count",):  # count(*) — count is also a kw-ish name
                pass
        # typed literals: TIMESTAMP '...' / DATE '...' / INTERVAL '...'
        # with optional WITH/WITHOUT TIME ZONE (cypher_gram.y:17655-17707)
        if (
            t.kind == "name"
            and t.value.lower() in ("timestamp", "date", "time", "interval")
            and (
                self.peek().kind == "string"
                or (self.peek().kind == "kw" and self.peek().value == "with")
                or (self.peek().kind == "name" and self.peek().value.lower() == "without")
            )
        ):
            tname = self.parse_type_name()
            tok = self.advance()
            if tok.kind != "string":
                raise ParseError(f"expected string literal after {tname} at {tok.pos}")
            return A.Cast(A.Lit(tok.value), tname)
        # EXTRACT(field FROM expr) (cypher_gram.y:17418+)
        if t.kind == "name" and t.value.lower() == "extract" and (
            self.peek().kind == "op" and self.peek().value == "("
        ):
            self.advance()
            self.eat_op("(")
            field = self.name().lower()
            frm = self.advance()
            if frm.value.lower() != "from":
                raise ParseError(f"expected FROM in EXTRACT at {frm.pos}")
            arg = self.parse_expr()
            self.eat_op(")")
            return A.FuncCall("extract", [A.Lit(field), arg])
        if t.kind == "name" or t.kind == "kw":
            # function call or variable
            if self.peek().kind == "op" and self.peek().value == "(":
                fname = self.advance().value.lower()
                self.eat_op("(")
                distinct = self.try_kw("distinct")
                if self.at_op("*"):
                    self.advance()
                    self.eat_op(")")
                    return self._func_decorations(A.FuncCall(fname, [], star=True))
                args = []
                if not self.at_op(")"):
                    args = self.parse_expr_list()
                self.eat_op(")")
                return self._func_decorations(A.FuncCall(fname, args, distinct=distinct))
            if t.kind == "name":
                # paren-less SQL value functions (g.y:17655-17707)
                if t.value.lower() in (
                    "current_date", "current_time", "current_timestamp",
                    "localtime", "localtimestamp",
                ):
                    self.advance()
                    return A.FuncCall(t.value.lower(), [])
                self.advance()
                return A.Var(t.value)
            raise ParseError(f"unexpected keyword {t.value!r} at {t.pos}")
        if t.kind == "op" and t.value == "(":
            self.advance()
            e = self.parse_expr()
            if self.at_op(","):
                # row pair: (s1, e1) OVERLAPS (s2, e2) (gtype_temporal.c:748)
                self.advance()
                e1 = self.parse_expr()
                self.eat_op(")")
                ov = self.advance()
                if ov.value.lower() != "overlaps":
                    raise ParseError(f"expected OVERLAPS at {ov.pos}")
                self.eat_op("(")
                s2 = self.parse_expr()
                self.eat_op(",")
                e2 = self.parse_expr()
                self.eat_op(")")
                return A.FuncCall("overlaps", [e, e1, s2, e2])
            self.eat_op(")")
            return e
        if t.kind == "op" and t.value == "[":
            self.advance()
            first = len(self.params)
            items = []
            if not self.at_op("]"):
                items = self.parse_expr_list()
            self.eat_op("]")
            return self._inline_if_literal(A.ListLit(items), first)
        if t.kind == "op" and t.value == "{":
            first = len(self.params)
            return self._inline_if_literal(self.parse_map_literal(), first)
        raise ParseError(f"unexpected token {t.value!r} at {t.pos}")

    def _func_decorations(self, fc: A.FuncCall) -> A.FuncCall:
        """Postfix decorations on a function call: WITHIN GROUP (ORDER
        BY ...), FILTER (WHERE ...), OVER spec|name (g.y:17218)."""
        if self.at_name("within"):
            self.advance()
            tok = self.advance()
            if tok.value.lower() != "group":
                raise ParseError(f"expected GROUP after WITHIN at {tok.pos}")
            self.eat_op("(")
            fc.within_group = self.parse_order_by()
            self.eat_op(")")
        if self.at_name("filter"):
            self.advance()
            self.eat_op("(")
            self.eat_kw("where")
            fc.filter_where = self.parse_expr()
            self.eat_op(")")
        if self.at_name("over"):
            self.advance()
            if self.at_op("("):
                fc.over = self.parse_window_spec()
            else:
                fc.over = self.name()
        return fc

    def parse_case(self):
        self.eat_kw("case")
        operand = None
        if not self.at_kw("when"):
            operand = self.parse_expr()
        whens = []
        while self.try_kw("when"):
            cond = self.parse_expr()
            self.eat_kw("then")
            whens.append((cond, self.parse_expr()))
        default = None
        if self.try_kw("else"):
            default = self.parse_expr()
        self.eat_kw("end")
        return A.CaseExpr(operand, whens, default)


def _all_literal(e) -> bool:
    if isinstance(e, A.Lit):
        return True
    if isinstance(e, A.ListLit):
        return all(_all_literal(x) for x in e.items)
    if isinstance(e, A.MapLit):
        return all(_all_literal(x) for x in e.items.values())
    return isinstance(e, A.UnaryOp) and e.op == "-" and _all_literal(e.operand)


def _inline(e):
    """Copy of a fully literal container with its params as plain Lits."""
    if isinstance(e, A.Param):
        return A.Lit(e.literal)
    if isinstance(e, A.ListLit):
        return A.ListLit([_inline(x) for x in e.items])
    if isinstance(e, A.MapLit):
        return A.MapLit({k: _inline(v) for k, v in e.items.items()})
    if isinstance(e, A.UnaryOp):
        return A.UnaryOp(e.op, _inline(e.operand))
    return e


def parse(text: str):
    """Parse one statement. Its int, float and string literals become
    parameter slots (A.Param); the root carries them in slot order as
    ``params``, and the shape key as ``shape``."""
    p = Parser(text)
    q = p.parse()
    for slot, param in enumerate(p.params):
        param.slot = slot
    q.params, q.shape = p.params, p.shape()
    return q
