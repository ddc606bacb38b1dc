"""SELECT-body AST for the delta-MV dispatcher.

The statement parser (plans/parser.py) treats query bodies as opaque
text and hands them to Catalyst — right for peeks, wrong for deciding
HOW to incrementally maintain a view. This module parses the body into
a small relational tree (SelectQ) that plans/sqlfront.py walks to
assemble maintained operators per node — the way the reference walks
its optimized MIR plan and emits per-operator rendering plans
(src/compute/src/render.rs; plan selection src/compute-types/src/plan/
reduce.rs, top_k.rs, join.rs) instead of pattern-matching SQL text.

Token-level parsing (the same lexer as every other statement), so
string literals, nested parens, whitespace variants, and expression
aliases all parse where the old regexes fell through.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from materialize_spark.plans.lexer import LexError  # noqa: F401 (re-export)
from materialize_spark.plans.parser import ParseError, Parser

# aggregate item leaf: AGG(arg) — confined to one parsed select item,
# never used for statement dispatch
_AGG_RE = re.compile(
    r"^(?P<kind>sum|count|min|max|avg)\s*\(\s*(?P<arg>\*|.+)\s*\)$",
    re.I | re.S)

# ranking-function window leaf inside one parsed select item: the TopK
# idiom accepts ROW_NUMBER (k rows per group), RANK (ties share a rank,
# so <= k may keep more than k rows), and DENSE_RANK (<= k keeps the
# rows of the k best distinct order values) — the reference's TopK
# covers the same family (src/compute-types/src/plan/top_k.rs)
_ROW_NUMBER_RE = re.compile(
    r"^(?P<fn>ROW_NUMBER|RANK|DENSE_RANK)\s*\(\s*\)\s+OVER\s*\(\s*"
    r"PARTITION\s+BY\s+"
    r"(?P<keys>.+?)\s+ORDER\s+BY\s+(?P<ord>\w+)\s*(?P<dir>ASC|DESC)?"
    r"\s*\)$", re.I | re.S)

# frameless window-aggregate leaf: AGG(arg) OVER ([PARTITION BY keys])
# — no ORDER BY means no frame, so the value is the whole partition's
# aggregate (a Reduce joined back to its input); OVER () is the global
# total (the share-of-total idiom v / SUM(v) OVER ())
_WIN_AGG_RE = re.compile(
    r"^(?P<kind>sum|count|min|max|avg)\s*\(\s*(?P<arg>\*|.+?)\s*\)\s*"
    r"OVER\s*\(\s*(?:PARTITION\s+BY\s+(?P<keys>[\w\s,]+?))?\s*\)$",
    re.I | re.S)


@dataclass
class SelectItem:
    expr: str                  # raw expression text (no alias)
    alias: str | None = None   # AS alias, when given

    @property
    def is_column(self) -> bool:
        return re.fullmatch(r"\w+", self.expr) is not None

    @property
    def agg(self) -> tuple[str, str] | None:
        """(kind, arg) when the item is a bare aggregate call. The
        greedy regex would swallow ``sum(a) / sum(b)`` whole (arg =
        ``a) / sum(b``) — a paren-balance check on the captured arg
        rejects anything but a single call spanning the item."""
        m = _AGG_RE.match(self.expr)
        if not m:
            return None
        arg = m.group("arg").strip()
        depth = 0
        for ch in arg:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    return None  # the call ends before the item does
        if depth != 0:
            return None
        return m.group("kind").lower(), arg

    @property
    def win_agg(self) -> tuple[str, str, list[str]] | None:
        """(kind, arg, partition keys — empty for OVER ()) when the
        item is an aggregate over a frameless window."""
        m = _WIN_AGG_RE.match(self.expr)
        if not m:
            return None
        keys = [k.strip() for k in m.group("keys").split(",")] \
            if m.group("keys") else []
        return m.group("kind").lower(), m.group("arg").strip(), keys

    @property
    def row_number(self) -> tuple[str, list[str], str, bool] | None:
        """(ranking fn, partition keys, order col, descending) for the
        grouped-TopK ranking idiom (ROW_NUMBER / RANK / DENSE_RANK)."""
        m = _ROW_NUMBER_RE.match(self.expr)
        if not m:
            return None
        keys = [k.strip() for k in m.group("keys").split(",")]
        return (m.group("fn").lower(), keys, m.group("ord"),
                (m.group("dir") or "ASC").upper() == "DESC")


@dataclass
class SubFilter:
    """One ``[NOT] EXISTS (SELECT ...)`` / ``expr [NOT] IN (SELECT
    ...)`` conjunct lifted out of a WHERE clause. The reference
    decorrelates these into semi/anti joins during lowering
    (src/sql/src/plan/lowering.rs:10-37) and maintains them like any
    dataflow; the planner (plans/sqlfront._plan_delta_semijoin)
    classifies ``conjuncts`` into correlation pairs vs inner-local
    predicates once it knows both sides' columns."""

    negated: bool
    kind: str                  # exists | in | cmpagg | cmpscalar
    table: str                 # inner FROM table ("" for cmpscalar)
    alias: str | None          # inner table alias, when given
    conjuncts: list[str]       # raw inner WHERE conjuncts
    # cmpscalar (uncorrelated scalar subquery with an arbitrary
    # dispatcher-supported body — joins, keyless aggregates): the raw
    # body text, planned as an internal delta MV by the planner
    raw: str | None = None
    in_expr: str | None = None  # IN: the outer-side expression text
    in_col: str | None = None   # IN: the inner SELECT column
    # cmpagg (scalar-aggregate comparison, the q17/q2/q20 family):
    # ``lhs op (SELECT <expr around one AGG(arg)> FROM u WHERE ...)``
    cmp_op: str | None = None      # <, <=, >, >=, =, <>
    agg_kind: str | None = None    # sum | count | min | max | avg
    agg_arg: str | None = None     # the aggregate's argument text
    # the scalar expression around the aggregate with the call
    # replaced by the marker __AGGVAL__ (e.g. "0.2 * __AGGVAL__")
    template: str | None = None


@dataclass
class JoinSeg:
    kind: str                        # inner | left | full | right
    table: str
    pairs: list[tuple[str, str]]     # equi-join ON pairs (raw order)
    raw_on: str                      # the ON text (diagnostics)
    extra: str | None = None         # non-equi residual conjuncts
    alias: str | None = None         # table alias, when given
    # per-occurrence column renames for SELF-JOINS (a repeated table's
    # later occurrence reads through original→occurrence names so the
    # chain's bare namespace stays collision-free)
    renames: dict | None = None


@dataclass
class SelectQ:
    items: list[SelectItem]
    distinct: bool = False
    table: str | None = None         # FROM base table, or …
    sub: "SelectQ | None" = None     # … FROM (subquery)
    sub_raw: str | None = None       # the subquery's raw SQL text
    # … FROM (q1 UNION ALL q2 [...]): one SelectQ per branch
    sub_branches: "list[SelectQ] | None" = None
    sub_alias: str | None = None
    joins: list[JoinSeg] = field(default_factory=list)
    # FROM list incl. comma-joined items: [(table, alias-or-None)];
    # explicit-JOIN bodies keep only the first item here
    from_items: list[tuple[str, str | None]] = field(
        default_factory=list)
    # alias -> table for every aliased relation in scope
    aliases: dict[str, str] = field(default_factory=dict)
    where: str | None = None
    group_by: list[str] = field(default_factory=list)
    having: str | None = None
    order: list[tuple[str, bool]] = field(default_factory=list)
    limit: int | None = None            # ORDER BY col [DESC] LIMIT k
    # [NOT] EXISTS / [NOT] IN subquery conjuncts lifted from WHERE
    subfilters: list[SubFilter] = field(default_factory=list)


_STOPS_ITEMS = ("FROM",)
_JOIN_INTRO = ("JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS")
_TAIL_STOPS = ("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "UNION",
               "INTERSECT", "EXCEPT", "WINDOW", "QUALIFY") + _JOIN_INTRO


def _split_alias(span: str) -> SelectItem:
    """Split one select-item span into expression + AS alias using
    tokens (a top-level AS inside a CAST(... AS int) never splits).
    Implicit aliases — ``count(o_orderkey) c_count``, the TPC-H q13
    style — split when the span's LAST token is a bare identifier
    directly following a closed call/paren (``) word``): an
    expression can never continue a closing paren with a bare word,
    so the word is the alias (PostgreSQL's optional AS)."""
    p = Parser(span)
    depth = 0
    last_as = None
    while True:
        t = p.peek()
        if t.kind == "EOF":
            break
        if t.kind == "LP":
            depth += 1
        elif t.kind == "RP":
            depth -= 1
        elif t.kind == "WORD" and t.upper == "AS" and depth == 0:
            last_as = (t.start, p.i)
        p.next()
    if last_as is None:
        toks = [t for t in p.toks if t.kind != "EOF"]
        if len(toks) >= 2 and toks[-1].kind == "WORD" \
                and toks[-2].kind == "RP":
            return SelectItem(expr=span[:toks[-1].start].strip(),
                              alias=toks[-1].value)
        return SelectItem(expr=span.strip())
    start, idx = last_as
    alias_tok = p.toks[idx + 1] if idx + 1 < len(p.toks) else None
    if alias_tok is None or alias_tok.kind not in ("WORD", "QIDENT") \
            or (idx + 2 < len(p.toks)
                and p.toks[idx + 2].kind != "EOF"):
        return SelectItem(expr=span.strip())
    return SelectItem(expr=span[:start].strip(), alias=alias_tok.value)


def _parse_on_pairs(
        cond: str) -> tuple[list[tuple[str, str]], str | None] | None:
    """Split an ON conjunction into (equality pairs, residual): equi
    conjuncts ``a = b`` become join-key pairs (qualifiers stripped —
    membership in the actual column sets disambiguates during
    normalization), everything else joins a residual predicate
    evaluated over the joined row. None when there is no equi conjunct
    at all (a keyless join would be a cross product — not
    delta-maintainable)."""
    pairs: list[tuple[str, str]] = []
    residual: list[str] = []
    for part in re.split(r"(?i)\bAND\b", cond):
        m = re.fullmatch(
            r"\s*(?:\w+\s*\.\s*)?(\w+)\s*=\s*"
            r"(?:\w+\s*\.\s*)?(\w+)\s*", part)
        if m is None:
            residual.append(part.strip())
        else:
            pairs.append((m.group(1), m.group(2)))
    if not pairs:
        return None
    extra = " AND ".join(f"({r})" for r in residual) if residual \
        else None
    return pairs, extra


def _using_seg(p: Parser, kind: str, table: str,
               alias: str | None) -> JoinSeg:
    """``USING (k, ...)`` after a joined table: the equi pairs (k, k).
    The chain keeps one ``k``, the left input's — USING's merged column
    for INNER and LEFT joins. A RIGHT or FULL join's merged column is
    COALESCE(left.k, right.k), which the chain does not model."""
    at = p.peek()
    p.expect_kw("USING")
    if kind in ("right", "full"):
        raise ParseError(
            f"{kind.upper()} JOIN ... USING is not delta-maintainable "
            "(its USING column merges both inputs' keys); write the "
            "join with ON", at)
    inner = Parser(p.paren_span())
    cols = [inner.ident()]
    while inner.peek().kind == "COMMA":
        inner.next()
        cols.append(inner.ident())
    inner.expect_end()
    return JoinSeg(kind=kind, table=table, pairs=[(c, c) for c in cols],
                   raw_on=f"USING ({', '.join(cols)})", alias=alias)


_OVER_PART_RE = re.compile(
    r"^\s*PARTITION\s+BY\s+(?P<keys>.+?)"
    r"(?:\s+ORDER\s+BY\s+(?P<ord>.+?))?\s*$", re.I | re.S)


def window_specs(expr: str) -> list[tuple[list[str], bool]]:
    """Find every ``OVER (...)`` clause in one select-item expression
    (token-level paren matching) and return (partition keys, has ORDER
    BY) per window. Windows without PARTITION BY return ([] , ordered).
    Used by the delta planners to route frameless window aggregates
    (maintained Reduce) vs ordered windows (touched-partition
    recompute)."""
    out: list[tuple[list[str], bool]] = []
    p = Parser(expr)
    while True:
        t = p.peek()
        if t.kind == "EOF":
            break
        if t.kind == "WORD" and t.upper == "OVER" \
                and p.peek(1).kind == "LP":
            p.next()
            inner = p.paren_span()
            m = _OVER_PART_RE.match(inner)
            if m is not None:
                keys_txt = m.group("keys")
                # a frame clause may trail the ORDER BY; ordered is
                # what routing needs, keys must be plain columns
                keys = [k.strip() for k in keys_txt.split(",")]
                out.append((keys, m.group("ord") is not None))
            else:
                ordered = re.search(r"(?i)\bORDER\s+BY\b",
                                    inner) is not None
                out.append(([], ordered))
            continue
        p.next()
    return out


def split_conjuncts(text: str) -> list[str]:
    """Split a predicate on TOP-LEVEL ``AND`` (token-level: parens and
    string literals never split; the AND that pairs a BETWEEN's bounds
    is part of the BETWEEN, not a conjunction)."""
    p = Parser(text)
    depth = 0
    pending_between = 0
    spans: list[str] = []
    start = 0
    while True:
        t = p.peek()
        if t.kind == "EOF":
            break
        if t.kind == "LP":
            depth += 1
        elif t.kind == "RP":
            depth -= 1
        elif t.kind == "WORD" and depth == 0 and t.upper == "BETWEEN":
            pending_between += 1
        elif t.kind == "WORD" and depth == 0 and t.upper == "AND":
            if pending_between:
                pending_between -= 1
            else:
                spans.append(text[start:t.start])
                p.next()
                start = p.peek().start
                continue
        p.next()
    spans.append(text[start:])
    return [s.strip() for s in spans if s.strip()]


def split_disjuncts(text: str) -> list[str]:
    """Split a predicate on TOP-LEVEL ``OR`` (token-level: parens and
    string literals never split). Used to detect q19-style
    OR-of-conjunct-blocks whose blocks share equi join pairs."""
    p = Parser(text)
    depth = 0
    spans: list[str] = []
    start = 0
    while True:
        t = p.peek()
        if t.kind == "EOF":
            break
        if t.kind == "LP":
            depth += 1
        elif t.kind == "RP":
            depth -= 1
        elif t.kind == "WORD" and depth == 0 and t.upper == "OR":
            spans.append(text[start:t.start])
            p.next()
            start = p.peek().start
            continue
        p.next()
    spans.append(text[start:])
    return [s.strip() for s in spans if s.strip()]


_AGG_CALL_RE = re.compile(r"(?is)\b(sum|count|min|max|avg)\s*\(")


def _parse_multi_agg_item(item: str
                          ) -> tuple[list[tuple[str, str]],
                                     str] | None:
    """Decompose one scalar select item containing one or MORE
    aggregate calls (the q8/q14 ratio-of-sums head: ``sum(a)/sum(b)``,
    ``100.0 * sum(CASE ...)/sum(x)``) into ([(kind, arg), ...],
    template) where the template replaces call i with ``__AGGVAL{i}__``.
    None when no aggregate call is present or one is malformed."""
    out: list[tuple[str, str]] = []
    tmpl_parts: list[str] = []
    pos = 0
    while True:
        m = _AGG_CALL_RE.search(item, pos)
        if m is None:
            break
        depth = 1
        i = m.end()
        while i < len(item) and depth:
            if item[i] == "(":
                depth += 1
            elif item[i] == ")":
                depth -= 1
            i += 1
        if depth:
            return None
        arg = item[m.end():i - 1].strip()
        if re.match(r"(?is)^DISTINCT\b", arg):
            return None
        tmpl_parts.append(item[pos:m.start()])
        tmpl_parts.append(f"__AGGVAL{len(out)}__")
        out.append((m.group(1).lower(), arg))
        pos = i
    if not out:
        return None
    tmpl_parts.append(item[pos:])
    return out, "".join(tmpl_parts).strip()


def _parse_scalar_agg_item(item: str
                           ) -> tuple[str, str, str] | None:
    """Decompose one scalar select item containing exactly one
    aggregate call into (agg kind, agg argument text, template with
    the call replaced by __AGGVAL__)."""
    m = _AGG_CALL_RE.search(item)
    if m is None:
        return None
    if _AGG_CALL_RE.search(item, m.end()):
        return None  # more than one aggregate: out of shape
    # match the call's closing paren
    depth = 1
    i = m.end()
    while i < len(item) and depth:
        if item[i] == "(":
            depth += 1
        elif item[i] == ")":
            depth -= 1
        i += 1
    if depth:
        return None
    arg = item[m.end():i - 1].strip()
    if re.match(r"(?is)^DISTINCT\b", arg):
        return None
    template = item[:m.start()] + "__AGGVAL__" + item[i:]
    return m.group(1).lower(), arg, template.strip()


def _parse_sub_body(body: str, kind: str) -> SubFilter | None:
    """Parse one EXISTS/IN subquery body ``SELECT ... FROM t [alias]
    [WHERE ...]`` into a partial SubFilter (negation filled by caller).
    None when the body is out of the supported decorrelatable shape."""
    p = Parser(body)
    if not p.take_kw("SELECT"):
        return None
    spans = p.comma_list_spans("FROM")
    if not spans:
        return None
    in_col = None
    agg_kind = agg_arg = template = None
    if kind == "in":
        if len(spans) != 1 or not re.fullmatch(r"\w+", spans[0].strip()):
            return None  # IN needs exactly one plain inner column
        in_col = spans[0].strip()
    elif kind == "cmpagg":
        if len(spans) != 1:
            return None
        parsed = _parse_scalar_agg_item(spans[0].strip())
        if parsed is None:
            return None
        agg_kind, agg_arg, template = parsed
    if not p.take_kw("FROM"):
        return None
    if p.peek().kind not in ("WORD", "QIDENT"):
        return None
    table = p.ident()
    alias = None
    if p.peek().kind in ("WORD", "QIDENT") \
            and p.peek().upper not in ("WHERE", "GROUP", "HAVING",
                                       "ORDER", "LIMIT"):
        p.take_kw("AS")
        alias = p.ident()
    conjuncts: list[str] = []
    cmp_op = None
    if p.take_kw("WHERE"):
        w = p.span_until_kw("GROUP")
        if not w:
            return None
        conjuncts = split_conjuncts(w)
    if kind == "in" and p.take_kw("GROUP", "BY"):
        # the q18 membership idiom: IN (SELECT k FROM t GROUP BY k
        # HAVING AGG(x) cmp thr) ⟺ a per-key threshold comparison
        gcol = p.ident()
        if gcol.lower() != in_col.lower() or not p.take_kw("HAVING"):
            return None
        h = p.span_until_kw()
        m = re.match(
            r"(?is)^\s*(sum|count|min|max|avg)\s*\((?P<arg>[^()]*|\*)"
            r"\)\s*(?P<op><=|>=|<|>|=)\s*(?P<thr>.+?)\s*$", h)
        if m is None:
            return None
        agg_kind = m.group(1).lower()
        agg_arg = m.group("arg").strip()
        cmp_op = m.group("op")
        template = m.group("thr").strip()   # the threshold expression
    if p.peek().kind == "SEMI":
        p.next()
    if p.peek().kind != "EOF":
        return None
    return SubFilter(negated=False, kind=kind, table=table,
                     alias=alias, conjuncts=conjuncts, in_col=in_col,
                     cmp_op=cmp_op, agg_kind=agg_kind,
                     agg_arg=agg_arg, template=template)


def _has_top_bool(expr: str) -> bool:
    """True when a top-level boolean operator appears — the expression
    is then not a standalone comparison/membership operand."""
    ep = Parser(expr)
    d = 0
    while ep.peek().kind != "EOF":
        et = ep.next()
        if et.kind == "LP":
            d += 1
        elif et.kind == "RP":
            d -= 1
        elif et.kind == "WORD" and d == 0 \
                and et.upper in ("OR", "NOT", "AND", "CASE"):
            return True
    return False


def _match_subfilter(conj: str) -> SubFilter | None:
    """Recognize one WHERE conjunct as ``[NOT] EXISTS (SELECT ...)`` or
    ``expr [NOT] IN (SELECT ...)``; None for ordinary predicates."""
    # strip redundant outer parens: (EXISTS (...)) == EXISTS (...)
    while True:
        p = Parser(conj)
        if p.peek().kind != "LP":
            break
        inner = p.paren_span()
        if p.peek().kind != "EOF":
            break
        conj = inner
    p = Parser(conj)
    negated = False
    if p.at_kw("NOT", "EXISTS") or p.at_kw("EXISTS"):
        negated = p.take_kw("NOT")
        p.expect_kw("EXISTS")
        if p.peek().kind != "LP":
            return None
        body = p.paren_span()
        if p.peek().kind != "EOF":
            return None
        sf = _parse_sub_body(body, "exists")
        if sf is None:
            return None
        sf.negated = negated
        return sf
    # scan for a top-level [NOT] IN ( SELECT ...  or  a top-level
    # comparison against a scalar-aggregate subquery (q17/q2/q20)
    depth = 0
    while True:
        t = p.peek()
        if t.kind == "EOF":
            return None
        if t.kind == "LP":
            depth += 1
        elif t.kind == "RP":
            depth -= 1
        elif t.kind == "OP" and depth == 0 \
                and t.text in ("<", "<=", ">", ">=", "=", "<>", "!="):
            if not (p.peek(1).kind == "LP"
                    and p.peek(2).kind == "WORD"
                    and p.peek(2).upper == "SELECT"):
                p.next()
                continue
            cut = t.start
            p.next()
            body = p.paren_span()
            if p.peek().kind != "EOF":
                return None
            lhs = conj[:cut].strip()
            if not lhs or _has_top_bool(lhs):
                return None
            sf = _parse_sub_body(body, "cmpagg")
            if sf is None:
                # not the single-table correlated shape — keep the raw
                # body; the planner tries it as an UNCORRELATED scalar
                # subquery (internal keyless-aggregate MV: the q11/q22
                # threshold family — joins and comma-FROM inside)
                sf = SubFilter(negated=False, kind="cmpscalar",
                               table="", alias=None, conjuncts=[],
                               raw=body)
            else:
                sf.raw = body
            sf.in_expr = lhs
            sf.cmp_op = "<>" if t.text == "!=" else t.text
            return sf
        elif t.kind == "WORD" and depth == 0 \
                and t.upper in ("IN", "NOT"):
            if t.upper == "NOT":
                if not p.at_kw("NOT", "IN", k=0):
                    p.next()
                    continue
                negated = True
                cut = t.start
                p.next()
            else:
                cut = t.start
            p.next()  # IN
            if p.peek().kind != "LP" \
                    or not (p.peek(1).kind == "WORD"
                            and p.peek(1).upper == "SELECT"):
                return None
            body = p.paren_span()
            if p.peek().kind != "EOF":
                return None
            expr = conj[:cut].strip()
            if not expr or _has_top_bool(expr):
                # IN binds tighter than OR/NOT: a disjunct to the left
                # means this is NOT a standalone membership conjunct
                return None
            sf = _parse_sub_body(body, "in")
            if sf is None:
                # not the single-table correlated shape — keep the raw
                # body; the planner tries it as an UNCORRELATED
                # membership set planned as an internal delta MV (the
                # q20 nested composition)
                sf = SubFilter(negated=False, kind="in", table="",
                               alias=None, conjuncts=[], raw=body)
            else:
                sf.raw = body
            sf.negated = negated
            sf.in_expr = expr
            return sf
        p.next()


def extract_subfilters(
        where: str) -> tuple[str | None, list[SubFilter]]:
    """Lift top-level AND-connected ``[NOT] EXISTS`` / ``[NOT] IN
    (SELECT ...)`` conjuncts out of a WHERE predicate. Returns the
    residual predicate (None when every conjunct lifted) and the
    lifted SubFilters in order."""
    subs: list[SubFilter] = []
    rest: list[str] = []
    for conj in split_conjuncts(where):
        sf = _match_subfilter(conj)
        if sf is not None:
            subs.append(sf)
        else:
            rest.append(conj)
    if not subs:
        return where, []
    residual = " AND ".join(f"({c})" for c in rest) if rest else None
    return residual, subs


def parse_select(body: str) -> SelectQ:
    """Parse one SELECT body (no set ops, no ORDER BY tail) into a
    SelectQ tree; raises ParseError on anything else."""
    p = Parser(body)
    return _parse_query(p, top=True)


def _split_setops(
        body: str) -> tuple[list[str], list[tuple[str, bool]]]:
    """Split a body on TOP-LEVEL set operators (token-level: parens and
    string literals never split). Returns (branch spans, operators
    between consecutive spans) with each operator as (kind, is_all),
    kind ∈ union | intersect | except."""
    p = Parser(body)
    depth = 0
    spans: list[str] = []
    ops: list[tuple[str, bool]] = []
    start = 0
    while True:
        t = p.peek()
        if t.kind == "EOF":
            break
        if t.kind == "LP":
            depth += 1
        elif t.kind == "RP":
            depth -= 1
        elif t.kind == "WORD" and depth == 0 \
                and t.upper in ("UNION", "INTERSECT", "EXCEPT"):
            cut = t.start
            p.next()
            nt = p.peek()
            is_all = False
            if nt.kind == "WORD" and nt.upper == "ALL":
                is_all = True
                p.next()
            elif nt.kind == "WORD" and nt.upper == "DISTINCT":
                p.next()  # explicit DISTINCT = the SQL default
            ops.append((t.upper.lower(), is_all))
            spans.append(body[start:cut])
            start = p.peek().start
            continue
        p.next()
    spans.append(body[start:])
    return spans, ops


def split_union_all(body: str) -> list[str]:
    """Split a body on TOP-LEVEL ``UNION ALL`` into branch spans. Any
    other set operator raises — callers that maintain the other set ops
    (top-level MV bodies) go through parse_set_op_branches instead;
    this strict form guards the positions (FROM-subqueries) where only
    the linear Union is composable (the reference's Union relation is
    the ALL form, src/expr/src/relation/mod.rs MirRelationExpr::Union)."""
    spans, ops = _split_setops(body)
    for kind, is_all in ops:
        if kind != "union" or not is_all:
            raise ParseError(
                f"only UNION ALL is delta-maintainable here "
                f"(got {kind.upper()}{'' if is_all else ' [DISTINCT]'})",
                Parser(body).peek())
    return spans


def parse_select_branches(body: str) -> list[SelectQ]:
    """Parse a body that may be a top-level UNION ALL chain into one
    SelectQ per branch (a single-branch list for a plain SELECT)."""
    return [parse_select(s) for s in split_union_all(body)]


def parse_set_op_branches(
        body: str) -> tuple[str, bool, list[SelectQ]]:
    """Parse a body that may be a top-level set-op chain into
    (op, is_all, branches). op ∈ select (no set op — one branch) |
    union | intersect | except; mixed-operator chains raise (their
    grouping is precedence-sensitive — parenthesize and the inner
    chain becomes a subquery)."""
    spans, ops = _split_setops(body)
    if not ops:
        return "select", True, [parse_select(spans[0])]
    if len({o for o in ops}) > 1:
        raise ParseError(
            "mixed set operators are not delta-maintainable in one "
            "chain (parenthesize the inner chain)",
            Parser(body).peek())
    kind, is_all = ops[0]
    return kind, is_all, [parse_select(s) for s in spans]


def _parse_query(p: Parser, top: bool = False) -> SelectQ:
    p.expect_kw("SELECT")
    q = SelectQ(items=[])
    q.distinct = p.take_kw("DISTINCT")
    spans = p.comma_list_spans(*_STOPS_ITEMS)
    if not spans:
        raise ParseError("empty select list", p.peek())
    q.items = [_split_alias(s) for s in spans]
    p.expect_kw("FROM")
    if p.peek().kind == "LP":
        inner = p.paren_span()
        branches = parse_select_branches(inner)
        if len(branches) == 1:
            q.sub = branches[0]
            q.sub_raw = inner.strip()
        else:
            q.sub_branches = branches
        if p.peek().kind in ("WORD", "QIDENT") \
                and p.peek().upper not in _TAIL_STOPS:
            p.take_kw("AS")
            q.sub_alias = p.ident()
    else:
        def _opt_alias() -> str | None:
            if p.take_kw("AS"):
                return p.ident()
            t = p.peek()
            if t.kind in ("WORD", "QIDENT") \
                    and t.upper not in _TAIL_STOPS \
                    and t.upper != "ON":
                return p.ident()
            return None

        q.table = p.ident()
        a = _opt_alias()
        q.from_items = [(q.table, a)]
        if a:
            q.aliases[a] = q.table
        # comma-joined FROM list (implicit joins — the TPC-H text
        # style); the planner desugars WHERE equi conjuncts into an
        # explicit left-deep chain
        while p.peek().kind == "COMMA":
            p.next()
            t = p.ident()
            a = _opt_alias()
            q.from_items.append((t, a))
            if a:
                q.aliases[a] = t
    # join chain
    while True:
        kind = None
        if p.take_kw("JOIN") or p.take_kw("INNER", "JOIN"):
            kind = "inner"
        elif p.take_kw("LEFT", "OUTER", "JOIN") or p.take_kw("LEFT",
                                                             "JOIN"):
            kind = "left"
        elif p.take_kw("RIGHT", "OUTER", "JOIN") or p.take_kw("RIGHT",
                                                              "JOIN"):
            kind = "right"
        elif p.take_kw("FULL", "OUTER", "JOIN") or p.take_kw("FULL",
                                                             "JOIN"):
            kind = "full"
        elif p.at_kw("CROSS"):
            raise ParseError("CROSS JOIN is not delta-maintainable",
                             p.peek())
        if kind is None:
            break
        if len(q.from_items) > 1:
            raise ParseError(
                "mixing comma-joined FROM items with explicit JOIN "
                "syntax is not supported — use one style", p.peek())
        t = p.ident()
        al = None
        if p.take_kw("AS"):
            al = p.ident()
        elif p.peek().kind in ("WORD", "QIDENT") \
                and p.peek().upper not in ("ON", "USING") \
                and p.peek().upper not in _TAIL_STOPS:
            al = p.ident()
        if al:
            q.aliases[al] = t
        if p.at_kw("USING"):
            q.joins.append(_using_seg(p, kind, t, al))
            continue
        p.expect_kw("ON")
        cond = p.span_until_kw(*_TAIL_STOPS)
        parsed = _parse_on_pairs(cond)
        if parsed is None:
            raise ParseError(
                f"the join ON needs at least one equi conjunct to be "
                f"delta-maintainable (got {cond!r})", p.peek())
        pairs, extra = parsed
        q.joins.append(JoinSeg(kind=kind, table=t, pairs=pairs,
                               raw_on=cond, extra=extra, alias=al))
    if p.take_kw("WHERE"):
        q.where = p.span_until_kw("GROUP", "HAVING", "ORDER", "LIMIT")
        if not q.where:
            raise ParseError("empty WHERE", p.peek())
        q.where, q.subfilters = extract_subfilters(q.where)
    if p.take_kw("GROUP", "BY"):
        q.group_by = p.comma_list_spans("HAVING", "ORDER", "LIMIT")
    if p.take_kw("HAVING"):
        q.having = p.span_until_kw("ORDER", "LIMIT")
    if p.take_kw("ORDER", "BY"):
        while True:
            col = p.ident()
            desc = False
            if p.take_kw("DESC"):
                desc = True
            else:
                p.take_kw("ASC")
            q.order.append((col, desc))
            if p.peek().kind != "COMMA":
                break
            p.next()
    if p.take_kw("LIMIT"):
        q.limit = p.int_()
    t = p.peek()
    if t.kind == "SEMI":
        p.next()
        t = p.peek()
    if t.kind != "EOF":
        raise ParseError("unsupported trailing clause", t)
    return q
