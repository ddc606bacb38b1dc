"""MzSession: the SQL entry point (DDL + queries) over a Catalog.

Statements are parsed by a hand-written lexer + recursive-descent parser
(plans/lexer.py, plans/parser.py — the same front-end design as the
reference's src/sql-lexer + src/sql-parser/src/parser.rs:140), producing
typed AST nodes that this module executes. Query bodies inside statements
are delegated to Catalyst after the PG-dialect rewrite.

Reference statement surface (src/sql-parser/src/ast/defs/statement.rs:43-117)
mapped to engine actions:

| statement                         | action                                |
|-----------------------------------|---------------------------------------|
| CREATE VIEW v AS q                | store plan (DataFrame), temp view     |
| CREATE MATERIALIZED VIEW v AS q   | maintained result table (batch:       |
|                                   | eager refresh; streaming: ivm.py)     |
| CREATE INDEX i ON obj (cols)      | arrangement: repartition+persist      |
| CREATE DEFAULT INDEX ...          | same, keyed on all columns            |
| DROP VIEW/INDEX/TABLE             | catalog drop (+unpersist)             |
| SHOW VIEWS / TABLES               | catalog listing                       |
| SELECT ...                        | dialect rewrite → spark.sql           |
| SUBSCRIBE v                       | diff stream of the MV (ivm deltas)    |

One-shot SELECTs hit Catalyst directly (the reference's "peek" path);
reads of a materialized view serve the maintained table — the fast path
(reference FastPathPlan::PeekExisting, src/adapter/src/coord/peek.rs:171).
"""

from __future__ import annotations

import contextlib
import re
from dataclasses import replace as _dc_replace

from pyspark.sql import DataFrame, SparkSession

from materialize_spark.catalog import Catalog, apply_policy
from materialize_spark.ckpt import fresh_break, lineage_break
from materialize_spark.operators.setops import (
    expand, net_diff, signed, threshold,
)
from materialize_spark.plans import parser as ast
from materialize_spark.plans.delta import (
    Branch, DeltaView, Distinct, JoinFront, Reduce, SetOp, SetOpFront,
    SingleFront, Spine, Stage, TemporalView, Threshold, TopK, UnionFront,
    WindowAggView, WindowOrderView, WinSet, WmrView,
)
from materialize_spark.plans.dialect import rewrite, set_session_user
from materialize_spark.plans.lexer import LexError, split_statements
from materialize_spark.plans.select_ast import (
    window_specs as _window_specs,
)

_INTROSPECT = re.compile(
    r"\bmz_(?:tables|views|materialized_views|indexes|objects|columns"
    r"|sources|sinks|arrangement_sizes|comments|roles|role_members"
    r"|types|network_policy_rules"
    r"|default_privileges|clusters"
    r"|cluster_replicas|databases|schemas"
    r"|source_statuses|sink_statuses|source_statistics"
    r"|activity_log)\b"
    r"|\bpg_(?:class|namespace|attribute|tables|views|description)\b"
    r"|\b(?:obj|col)_description\b", re.I)

# recursive view bodies (batch-only — see _create_view's gap note)
_WMR_RE = re.compile(r"\s*WITH\s+MUTUALLY\s+RECURSIVE\b", re.I)

# Credential redaction for statement surfaces the reference scrubs
# (SHOW CREATE and the statement/activity log redact inline secret
# values; references-by-name like `PASSWORD = SECRET pw` stay intact).
_SECRET_AS_RE = re.compile(
    r"((?:CREATE|ALTER)\s+SECRET\s+\S+\s+AS\s+)'(?:[^']|'')*'", re.I)
_PASSWORD_OPT_RE = re.compile(
    r"\b((?:sasl[_ ])?password|ssl[_ ]key|secret[_ ]access[_ ]key|token)"
    r"(\s*=\s*)'(?:[^']|'')*'", re.I)


def _classify_keyless_items(items):
    """Classify a keyless-aggregate select list where each item is an
    aliased aggregate OR a scalar expression around exactly one
    aggregate call (``sum(x) / 7.0 AS v`` — the q17 head). Returns
    (aggs, exprs, post) with ``post`` the result-level projection, or
    None when out of shape."""
    from materialize_spark.plans.select_ast import (
        _parse_scalar_agg_item,
    )
    aggs = {}
    exprs = {}
    post = []

    def in_col(arg):
        arg = arg.strip()
        if arg == "*":
            return "__one"
        if re.match(r"(?i)DISTINCT\b", arg):
            return None
        if re.fullmatch(r"\w+", arg):
            return arg
        internal = f"__x{len(exprs)}"
        exprs[internal] = arg
        return internal

    for i, it in enumerate(items):
        if it.alias is None:
            return None
        bare = it.agg
        if bare is not None:
            kind, arg = bare
            col = in_col(arg)
            if col is None or (col == "__one" and kind != "count"):
                return None
            aggs[it.alias] = (kind, col)
            post.append(it.alias)
            continue
        parsed = _parse_scalar_agg_item(it.expr)
        if parsed is not None:
            kind, arg, tmpl = parsed
            col = in_col(arg)
            if col is None or (col == "__one" and kind != "count"):
                return None
            internal = f"__pa{i}"
            aggs[internal] = (kind, col)
            post.append(f"({tmpl.replace('__AGGVAL__', internal)}) "
                        f"AS {it.alias}")
            continue
        # MULTIPLE aggregate calls in one item — the q14 ratio head
        # (100.0 * sum(CASE ...) / sum(x)): each call reduces under an
        # internal name and the expression rebuilds post-reduce
        from materialize_spark.plans.select_ast import (
            _parse_multi_agg_item,
        )
        mparsed = _parse_multi_agg_item(it.expr)
        if mparsed is None:
            return None
        aggl, tmpl = mparsed
        for j, (kind, arg) in enumerate(aggl):
            col = in_col(arg)
            if col is None or (col == "__one" and kind != "count"):
                return None
            internal = f"__pa{i}_{j}"
            aggs[internal] = (kind, col)
            tmpl = tmpl.replace(f"__AGGVAL{j}__", internal)
        post.append(f"({tmpl}) AS {it.alias}")
    return (aggs, exprs, post) if aggs else None


def _classify_agg_items(items):
    """Classify a parsed delta-MV SELECT list (select_ast.SelectItem)
    into plain keys + aliased aggregates. Aggregate INPUTS may be
    arbitrary scalar expressions (the q3/q5 revenue shape
    ``SUM(price * (1 - disc))``): each gets an internal column computed
    on the delta before the keyed reduce. Aliased expressions around
    one or MORE aggregate calls (the q8/q14 ratio-of-sums head,
    ``sum(a)/sum(b) AS share``) reduce each call separately and
    rebuild the expression as a POST projection over the maintained
    result. Returns (keys, aggs, exprs, order, post) or None when out
    of shape; ``exprs`` maps internal name -> source SQL, ``order`` is
    the SELECT-list output column order (the reference preserves it in
    the result, while the maintained reduce is keys-first — the
    view's terminal restores it), and ``post`` (when set) is the
    result-level projection in SELECT order."""
    from materialize_spark.plans.select_ast import (
        _parse_multi_agg_item,
    )
    keys: list[str] = []
    aggs: dict[str, tuple[str, str]] = {}
    exprs: dict[str, str] = {}
    order: list[str] = []
    post_items: list[str] = []
    has_multi = False
    for i, it in enumerate(items):
        agg = it.agg
        if agg is not None:
            kind, arg = agg
            if arg == "*":
                if kind != "count":
                    return None
                col = "__one"
            elif re.match(r"(?i)DISTINCT\b", arg):
                # COUNT/SUM(DISTINCT col): re-derived from the shared
                # (group, value) support — the reference's DistinctBy
                # reduce collation (plan/reduce.rs)
                inner = arg[len("DISTINCT"):].strip()
                if kind not in ("count", "sum", "avg") \
                        or not re.fullmatch(r"\w+", inner):
                    return None
                kind = f"{kind}_distinct"
                col = inner
            elif re.fullmatch(r"\w+", arg):
                col = arg
            else:
                internal = f"__x{len(exprs)}"
                exprs[internal] = arg
                col = internal
            if it.alias is None:
                return None  # unaliased aggregates: no result column
            aggs[it.alias] = (kind, col)
            order.append(it.alias)
            post_items.append(it.alias)
        elif it.is_column and it.alias is None:
            # plain group keys may appear anywhere in the select list
            # (the TPC-H q3/q10 style lists keys after the aggregate)
            keys.append(it.expr)
            order.append(it.expr)
            post_items.append(it.expr)
        elif it.alias is not None \
                and not re.search(
                    r"(?i)\b(sum|count|min|max|avg)\s*\(|\bOVER\b|"
                    r"\(\s*SELECT\b", it.expr):
            # aliased EXPRESSION key (date_trunc buckets, a || b, …):
            # computed as an internal column on the delta before the
            # keyed reduce, named by the alias — the reference's mfp
            # fusion puts group-key expressions in the same pre-reduce
            # Map (reduce.rs group_key is a list of MirScalarExprs)
            keys.append(it.alias)
            exprs[it.alias] = it.expr
            order.append(it.alias)
            post_items.append(it.alias)
        elif it.alias is not None \
                and not re.search(r"(?i)\bOVER\b|\(\s*SELECT\b",
                                  it.expr):
            # aliased expression around one or more aggregate calls:
            # each call reduces under an internal name; the expression
            # rebuilds as a post projection (reference: the mfp ABOVE
            # the Reduce)
            parsed = _parse_multi_agg_item(it.expr)
            if parsed is None:
                return None
            aggl, tmpl = parsed
            for j, (kind, arg) in enumerate(aggl):
                if arg == "*":
                    if kind != "count":
                        return None
                    col = "__one"
                elif re.fullmatch(r"\w+", arg):
                    col = arg
                else:
                    col = f"__x{len(exprs)}"
                    exprs[col] = arg
                internal = f"__ma{i}_{j}"
                aggs[internal] = (kind, col)
                tmpl = tmpl.replace(f"__AGGVAL{j}__", internal)
            post_items.append(f"({tmpl}) AS {it.alias}")
            order.append(it.alias)
            has_multi = True
        else:
            return None   # unaliased/aggregate-bearing expression keys
    return keys, aggs, exprs, order, \
        (post_items if has_multi else None)


def _keys_match_group_by(keys: list[str], exprs: dict[str, str],
                         group_by: list[str]) -> bool:
    """GROUP BY entries must match the SELECT's keys in order — each
    either the key's output name or the key's source expression
    (whitespace/case-insensitive)."""
    if len(keys) != len(group_by):
        return False

    def norm(s: str) -> str:
        return re.sub(r"\s+", "", s).lower()

    for k, g in zip(keys, group_by):
        if norm(g) == norm(k):
            continue
        src = exprs.get(k)
        if src is not None and norm(g) == norm(src):
            continue
        return False
    return True


def _grouped_items(q):
    """``_classify_agg_items`` of a GROUP BY body that has an aggregate
    and whose SELECT keys equal its GROUP BY keys, else None."""
    parsed = _classify_agg_items(q.items)
    if parsed is None or not parsed[1] or not _keys_match_group_by(
            parsed[0], parsed[2], [k.strip() for k in q.group_by]):
        return None
    return parsed


def _having_over_aliases(having: str, aggs: dict[str, tuple[str, str]],
                         exprs: dict[str, str] | None = None) -> str:
    """Rewrite a HAVING clause to reference the SELECT's aggregate
    aliases — the maintained result carries the aliases as columns, so
    the threshold becomes an ordinary filter over it (the reference
    lowers HAVING to a Filter above the Reduce the same way)."""
    exprs = exprs or {}
    for alias, (kind, col) in aggs.items():
        src = exprs.get(col, col)
        if src == "__one":
            body = r"\*"
        else:
            # whitespace-insensitive match of the SELECT's source text
            body = re.sub(r"(?:\\?\s)+", r"\\s*", re.escape(src))
        if kind.endswith("_distinct"):
            kind = kind[:-len("_distinct")]
            body = rf"DISTINCT\s+{body}"
        having = re.sub(rf"(?i)\b{kind}\s*\(\s*{body}\s*\)", alias,
                       having)
    if re.search(r"(?i)\b(sum|count|min|max|avg)\s*\(", having):
        return None  # references an aggregate the SELECT doesn't keep
    return having


# statement kinds whose OPTIONS can carry inline credentials — the only
# surfaces option-redaction applies to. A view body's ordinary data
# predicate (WHERE token = 'abc') must NOT be rewritten: the reference
# scrubs WITH-option values on connection-ish statements, never query
# text (src/sql-parser redaction of CreateConnection/Secret options).
_CREDENTIAL_STMT_RE = re.compile(
    r"\s*(?:CREATE|ALTER)\s+(?:CONNECTION|SECRET|SOURCE|SINK)\b", re.I)


def _outside_subqueries(text: str, fn):
    """Apply ``fn`` to the spans of ``text`` OUTSIDE parenthesized
    SELECT bodies. A subquery is its own name scope — the implicit-join
    desugar's qualifier stripping and dropped-key renames must never
    rewrite identifiers inside one (q11's HAVING threshold carries the
    outer join predicate's very column names in its own FROM)."""
    from materialize_spark.plans.lexer import tokens as _lex
    try:
        toks = [t for t in _lex(text, lenient=True)
                if t.kind != "EOF"]
    except Exception:
        return fn(text)
    spans: list[tuple[int, int]] = []
    i, n = 0, len(toks)
    while i < n:
        t = toks[i]
        if t.kind == "LP" and i + 1 < n \
                and toks[i + 1].kind == "WORD" \
                and toks[i + 1].text.upper() == "SELECT":
            depth, j = 1, i + 1
            while j < n and depth:
                if toks[j].kind == "LP":
                    depth += 1
                elif toks[j].kind == "RP":
                    depth -= 1
                j += 1
            end = toks[j - 1].start + 1 if j <= n else len(text)
            spans.append((t.start, end))
            i = j
        else:
            i += 1
    if not spans:
        return fn(text)
    out, last = [], 0
    for a, b in spans:
        out.append(fn(text[last:a]))
        out.append(text[a:b])
        last = b
    out.append(fn(text[last:]))
    return "".join(out)


def _sub_ident_tokens(text: str, mapping: dict[str, str]) -> str:
    """Substitute bare identifier tokens per ``mapping`` using the
    shared lexer: string literals, quoted identifiers and numbers are
    separate token kinds and never rewrite — the raw-regex version
    (\\b\\w+\\b over text) also rewrote matches INSIDE string literals,
    silently changing predicate semantics (e.g. WHERE note = 'grp')."""
    from materialize_spark.plans.lexer import tokens as _tokens
    try:
        toks = _tokens(text, lenient=True)
    except Exception:
        return text
    out, last = [], 0
    for t in toks:
        if t.kind == "WORD" and t.text in mapping:
            out.append(text[last:t.start])
            out.append(mapping[t.text])
            last = t.start + len(t.text)
    out.append(text[last:])
    return "".join(out)


def redact_sql(sql: str) -> str:
    """Replace inline credential literals with '<REDACTED>' before a
    statement is stored anywhere a non-owner can read it back. Applies
    only to statement kinds that can carry credentials in options —
    arbitrary view/MV bodies keep their literals intact (a data filter
    like ``WHERE token = 'abc'`` is not a secret)."""
    sql = _SECRET_AS_RE.sub(r"\1'<REDACTED>'", sql)
    if _CREDENTIAL_STMT_RE.match(sql):
        return _PASSWORD_OPT_RE.sub(r"\1\2'<REDACTED>'", sql)
    return sql

_DELTA_SUPPORTED = (
    "supported shapes: grouped aggregates (SUM/COUNT/MIN/MAX/AVG over "
    "scalar expressions, plain or EXPRESSION group keys [+ HAVING]), "
    "keyless (global) aggregates, over one table or stateless "
    "subqueries; SELECT DISTINCT; grouped TopK (the "
    "ROW_NUMBER/RANK/DENSE_RANK <= k idiom, the rank column may be "
    "projected) and global ORDER BY ... "
    "LIMIT; frameless window aggregates (AGG OVER (PARTITION BY ...) "
    "/ OVER ()); INNER/LEFT/FULL equi-join chains — plain, filtered, "
    "GROUP BY aggregated, DISTINCT, or TopK'd; [NOT] EXISTS / [NOT] "
    "IN (SELECT ...) conjuncts with equality correlation (plus at "
    "most one <> exclusion — the q21 shape) over a table or join "
    "chain; top-level set-op "
    "chains (UNION [ALL], EXCEPT [ALL], INTERSECT [ALL]) of stateless "
    "branches; stateless Map/Filter over one relation; any base "
    "relation may itself be a delta MV (stacked views); use a plain "
    "MATERIALIZED VIEW (snapshot + REFRESH) for other shapes")

# EXPLAIN MAINTENANCE labels of the subfilter stages, by the
# SemiAntiFilterMV kind maintaining them
_SEMI_LABELS = {"exists": "SemiJoin[EXISTS]",
                "not_exists": "AntiJoin[NOT EXISTS]",
                "in": "SemiJoin[IN]", "not_in": "AntiJoin[NOT IN]"}


def _cmp_label(cmp_op: str, agg_kind: str) -> str:
    """EXPLAIN MAINTENANCE label of a per-key aggregate comparison."""
    return f"ScalarAggCompare[{cmp_op} {agg_kind.upper()}]"


# the TopK outer filter: WHERE rn <= k over the ROW_NUMBER subquery —
# a leaf pattern checked on one parsed WHERE span (never statement
# dispatch; the tree walk happens in _plan_delta_mv over select_ast)
_TOPK_FILTER_RE = re.compile(r"^\s*(?P<rn>\w+)\s*<=\s*(?P<k>\d+)\s*$")

# the q18 threshold shape's HAVING: AGG(arg) > n or alias > n — decides
# ThresholdSemijoinMV vs the general RetractionAwareAgg + filter
_THRESHOLD_HAVING_RE = re.compile(
    r"^\s*(?:SUM\s*\(\s*(?P<val>\w+)\s*\)|COUNT\s*\(\s*\*\s*\)"
    r"|(?P<alias>\w+))\s*>\s*(?P<thr>-?\d+(?:\.\d+)?)\s*$", re.I)


def split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren depth 0, outside string literals — so
    ``decimal(12,2)`` column defs and function-call arguments survive."""
    parts, buf = [], []
    depth = 0
    in_lit = False
    for ch in s:
        if in_lit:
            buf.append(ch)
            if ch == "'":
                in_lit = False
            continue
        if ch == "'":
            in_lit = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    if buf:
        parts.append("".join(buf).strip())
    return parts


def _pg_coldefs(coldefs: str, custom_types: dict[str, str] | None = None
                ) -> str:
    """Translate a PG column-def list to Spark DDL (paren-aware, so
    ``decimal(12,2)`` next to other columns survives). ``custom_types``
    resolves CREATE TYPE names in column positions."""
    from materialize_spark.plans.dialect import _PG_TYPES
    cols = []
    for part in split_top_level(coldefs):
        toks = part.split(None, 1)
        name = toks[0]
        typ = toks[1].strip() if len(toks) > 1 else "string"
        typ = (custom_types or {}).get(typ.lower()) \
            or _PG_TYPES.get(typ.lower(), typ)
        cols.append(f"{name} {typ}")
    return ", ".join(cols)


class MzSession:
    """SQL surface bound to a SparkSession + Catalog.

    ``strict_errors=True`` (default) evaluates one-shot SELECTs with ANSI
    semantics: division by zero, invalid casts, and numeric overflow raise
    errors exactly like the reference's PG-compatible evaluator
    (reference BinaryFunc::Div, src/expr/src/scalar/func.rs) instead of
    returning NULL."""

    # name -> (built-in default, description) — the vars.rs catalog of
    # session/system variables this engine surfaces. SHOW ALL lists them;
    # SET/RESET move the session value; ALTER SYSTEM SET/RESET moves the
    # default layer underneath (reference SystemVars / SessionVars).
    VAR_DEFAULTS: dict[str, tuple[str, str]] = {
        "application_name": ("", "Sets the application name reported in "
                                 "system tables and logs."),
        "search_path": ("public", "Sets the schema search order for "
                                  "unqualified names."),
        "database": ("materialize", "Sets the current database."),
        "cluster": ("quickstart", "Sets the current cluster."),
        "transaction_isolation": ("strict serializable",
                                  "Sets the current transaction's "
                                  "isolation level."),
        "statement_timeout": ("0", "Aborts any statement that runs "
                                   "longer than this duration."),
        "network_policy": ("default", "Sets the network policy that "
                                      "gates new connections."),
        "timezone": ("UTC", "Sets the time zone for timestamp display "
                            "and conversion."),
        "server_version": ("9.5.0", "Shows the PostgreSQL-compatible "
                                    "server version."),
        "emit_timestamp_notice": ("off", "Emits a NOTICE with the chosen "
                                         "query timestamp."),
        "max_result_size": ("1073741824", "The maximum size in bytes for "
                                          "a single query's result."),
        "max_connections": ("5000", "The maximum number of concurrent "
                                    "client connections."),
    }

    def __init__(self, spark: SparkSession, sf_dir: str | None = None,
                 strict_errors: bool = True):
        self.spark = spark
        self.strict_errors = strict_errors
        self.catalog = Catalog(spark, sf_dir) if sf_dir else Catalog(spark)
        # the data-sized Spark policy of this session's directory, applied
        # with its timezone at the start of every public entry
        self._policy = self.catalog._tables.policy
        self._matviews: dict[str, DataFrame] = {}
        self._matview_sql: dict[str, str] = {}
        # WITH (MAINTENANCE 'delta') views: updated on WRITE, never
        # refreshed. name -> typed view (plans/delta/); a view's
        # ``inputs`` are read only by _dependents, and its
        # ``internal_deps`` lists the planner-owned internal views it
        # owns (made by _internal_views, removed with it by _forget)
        self._delta_mvs: dict[str, DeltaView] = {}
        # execute-path SUBSCRIBE: one lazily-opened internal PUSH cursor
        # per object (name -> sub_id in _subscriptions). Concurrent
        # pollers must DECLARE their own named cursors instead.
        self._exec_subs: dict[str, int] = {}
        # SUBSCRIBE (SELECT ...): ephemeral query-subscription state —
        # recompute-on-commit specs (non-delta-maintainable shapes),
        # bounded-cursor teardown names, and the name counter
        self._query_subs: dict[str, dict] = {}
        self._eph_bounded: dict[int, str] = {}
        self._subq_n = 0
        # Push subscriptions: per-subscriber cursors, keyed by a
        # subscription id — NOT by object name — so concurrent
        # subscribers each own a complete delta stream (reference: each
        # SUBSCRIBE is its own dataflow sink with its own frontier,
        # src/compute/src/sink/subscribe.rs). Commits append their OWN
        # diff frames to every open queue — O(delta), never a
        # full-table diff.
        self._subscriptions: dict[int, dict] = {}
        self._sub_next_id = 0
        # Commit clock: every commit bumps the sequence and wakes
        # blocked stream loops (condition-variable push, not a poll).
        import threading as _threading
        self._commit_seq = 0
        self._commit_cond = _threading.Condition()
        # MV name → (period_s, last_refresh monotonic) for REFRESH EVERY
        self._refresh_every: dict[str, tuple[float, float]] = {}
        self._comments: dict[tuple[str, str], str] = {}  # COMMENT ON
        # RETAIN HISTORY: per-MV changelog of commit deltas, readable via
        # SELECT ... AS OF <epoch> (streaming.history.RetainedHistory);
        # retention window counted in commit epochs (_compact_history).
        self._histories: dict[str, object] = {}
        self._retain: dict[str, int] = {}
        self._view_sql: dict[str, str] = {}
        self._sinks: dict[str, dict] = {}
        self._webhooks: dict[str, object] = {}
        # catalog-table names that were created as SOURCEs (file/loadgen/
        # webhook) — SHOW OBJECTS reports them as 'source', not 'table'
        self._source_tables: set[str] = set()
        # per-source/sink health + ingest counters backing the
        # mz_internal.mz_source_statuses / mz_sink_statuses /
        # mz_source_statistics relations (reference
        # src/storage-client/src/healthcheck.rs status model;
        # mz_source_statistics_raw counters). A failed CREATE keeps its
        # 'stalled' row with the error — the reference's status history
        # retains the last error for exactly this "why is my source
        # broken" query.
        self._source_stats: dict[str, dict] = {}
        # CREATE INDEX name -> (indexed object, cluster) for SHOW INDEXES
        self._index_meta: dict[str, tuple[str, str]] = {}
        # object name -> original CREATE statement (SHOW CREATE ...)
        self._create_sql: dict[str, str] = {}
        # bounded statement history backing mz_activity_log (reference
        # mz_internal.mz_recent_activity_log / statement logging):
        # (sql, role, cluster, status, error, duration_ms)
        self._activity: list[tuple] = []
        self._prepared: dict[str, str] = {}
        self._cursors: dict[str, dict] = {}
        self._txn_snapshot: dict | None = None
        self._secrets: dict[str, str] = {}
        self._connections: dict[str, dict] = {}
        # RBAC (reference CREATE ROLE / GRANT / REVOKE,
        # src/sql-parser/src/ast/defs/statement.rs:63-65): session-scoped
        # role set; 'materialize' is the default superuser role. Grants
        # are (privilege, object, role); object creators own their
        # objects and bypass grants on them.
        self._roles: set[str] = {"materialize"}
        self._role: str = "materialize"
        # session variables (reference src/sql/src/session/vars.rs):
        # live values in _vars; ALTER SYSTEM SET overlays sit in
        # _system_vars (the reference's SystemVars layer) and become the
        # default a RESET restores to; _session_set remembers which names
        # the session SET explicitly so a later ALTER SYSTEM doesn't
        # clobber a deliberate session choice (vars.rs precedence:
        # session > system > built-in default).
        self._vars: dict[str, str] = {
            n: d for n, (d, _desc) in self.VAR_DEFAULTS.items()}
        self._system_vars: dict[str, str] = {}
        self._session_set: set[str] = set()
        self._grants: set[tuple[str, str, str]] = set()
        self._owners: dict[str, str] = {}
        # role membership (reference GrantRoleStatement, rbac.rs role
        # graph): (role, member) edges; privileges and ownership are
        # inherited through the transitive closure (PG INHERIT default,
        # which is the reference's only mode).
        self._memberships: set[tuple[str, str]] = set()
        # ALTER DEFAULT PRIVILEGES entries applied at CREATE time:
        # (creator_role|None, schema|None, priv, grantee); None creator
        # matches any creating role, None schema matches any schema
        # (reference mz_default_privileges)
        self._default_privs: set[tuple] = set()
        # ALTER ROLE r SET var = v — role defaults applied at SET ROLE
        # unless the session explicitly SET the var (vars.rs precedence)
        self._role_vars: dict[str, dict[str, str]] = {}
        # ALTER ... SET CLUSTER placements (object → cluster)
        self._object_clusters: dict[str, str] = {}
        # network policies (reference CreateNetworkPolicyStatement;
        # adapter enforcement on new connections): name → rule list of
        # (rule_name, action, direction, cidr). The built-in 'default'
        # policy is open, like the reference's.
        self._network_policies: dict[str, list[tuple]] = {
            "default": [("open_ingress", "allow", "ingress",
                         "0.0.0.0/0")],
        }
        # custom types (reference CreateTypeStatement: CREATE TYPE ... AS
        # LIST/MAP, ddl.rs custom types): name → Spark DDL type string.
        # Spark types are structural, so custom types resolve to their
        # definition at use sites (casts, column defs) — the nominal-
        # vs-structural distinction the reference enforces is documented
        # as a capability delta.
        self._types: dict[str, str] = {}
        # database/schema namespaces (reference names.rs 3-part naming;
        # materialize.public IS the flat namespace)
        from materialize_spark.plans.namespaces import NamespaceState
        self._ns = NamespaceState()
        # clusters (reference CREATE CLUSTER / CLUSTER REPLICA,
        # src/sql-parser statement.rs; compute pools in src/cluster/).
        # Spark-first mapping: a cluster is a SCHEDULER POOL — with
        # spark.scheduler.mode=FAIR each cluster's queries get isolated
        # scheduling, the in-process analog of separate clusterd
        # processes (on a real deployment: separate YARN/K8s queues).
        # Replicas are availability bookkeeping (Spark's executor
        # fault-tolerance replaces active-active replication).
        self._clusters: dict[str, dict] = {
            "quickstart": {"size": "1", "replicas": {"r1": {"size": "1"}}},
        }
        # catalog durability (reference: the catalog is a durable record
        # of DDL replayed on boot — src/catalog's durable layer): every
        # state-changing statement is journaled in execution order;
        # persist_catalog writes the journal, restore_catalog replays it
        # into a fresh session against the same base data.
        self._journal: list[str] = []
        # every session store keyed by object name: _forget pops an
        # object from each, _alter_rename moves it across them
        self._object_stores = (
            self._matviews, self._matview_sql, self._view_sql,
            self._histories, self._retain, self._refresh_every,
            self._delta_mvs, self._query_subs, self._exec_subs,
            self._owners)

    def _apply_policy(self) -> None:
        """Statement start: make this session's policy and ``timezone``
        the SparkSession's. Other MzSessions over the same SparkSession
        may have applied theirs since this session's last statement."""
        apply_policy(self.spark, self._policy, self._vars["timezone"])

    def webhook(self, name: str):
        """The WebhookSource behind ``CREATE SOURCE name FROM WEBHOOK`` —
        call ``.post(body, headers)`` to deliver events."""
        return self._webhooks[name]

    def _strict(self):
        """ANSI-mode window for one-shot query analysis. Spark captures
        EvalMode at analysis (verified: a plan built under ANSI raises on
        collect even after the conf is reset), so scoping the conf to the
        spark.sql() call gives PG error semantics to exactly this query."""
        import contextlib

        @contextlib.contextmanager
        def ctx():
            if not self.strict_errors:
                yield
                return
            old = self.spark.conf.get("spark.sql.ansi.enabled", "false")
            self.spark.conf.set("spark.sql.ansi.enabled", "true")
            try:
                yield
            finally:
                self.spark.conf.set("spark.sql.ansi.enabled", old)
        return ctx()

    # -- entry points -------------------------------------------------------
    def execute(self, sql: str) -> DataFrame | None:
        """Execute one statement; queries return a DataFrame, DDL returns
        None (SHOW returns a DataFrame listing)."""
        import time as _time
        t0 = _time.monotonic()
        try:
            self._apply_policy()
            out = self._execute_inner(sql)
        except Exception as ex:
            self._log_activity(sql, "error", str(ex), t0)
            raise
        self._log_activity(sql, "success", None, t0)
        return out

    def _log_activity(self, sql: str, status: str, error: str | None,
                      t0: float) -> None:
        """Statement history for mz_activity_log (reference
        mz_internal.mz_recent_activity_log): bounded ring of the last
        1000 statements with role/cluster/outcome/latency."""
        import time as _time
        self._activity.append(
            (redact_sql(sql.strip())[:1024], self._role,
             self._vars["cluster"],
             status, error,
             round((_time.monotonic() - t0) * 1000.0, 3)))
        if len(self._activity) > 1000:
            del self._activity[:-1000]

    def _execute_inner(self, sql: str) -> DataFrame | None:
        set_session_user(self._role)  # CURRENT_USER tracks SET ROLE
        sql = self._resolve_names(sql)  # db.schema.obj → flat names
        try:
            node = ast.parse_statement(sql)
        except (ast.ParseError, LexError):
            # Statement forms beyond the structured surface go straight to
            # the peek path, where Catalyst produces the error if it's
            # genuinely malformed (mirrors the reference: the parser is
            # permissive about expressions, strict about statement heads).
            return self._exec_peek(sql)
        handler = self._DISPATCH[type(node)]
        out = handler(self, node, sql)
        if type(node) in self._JOURNALED:
            self._journal.append(sql)
        # SHOW CREATE source text: keep the original statement per
        # created object (the reference reconstructs canonical SQL from
        # the catalog; here the journaled statement IS the definition)
        if type(node).__name__.startswith("Create") \
                and getattr(node, "name", None):
            # redacted: SHOW CREATE must not echo credential literals
            # (the durability journal keeps the raw text — restore
            # needs real values; it is not client-readable)
            self._create_sql[node.name] = redact_sql(sql.strip())
        return out

    def sql(self, q: str) -> DataFrame:
        out = self.execute(q)
        assert out is not None, "statement returned no relation"
        return out

    def run_script(self, script: str) -> list[DataFrame | None]:
        """Execute a multi-statement script: statements split on top-level
        semicolons (token-aware, so ';' inside strings or comments
        survives); returns one result per statement."""
        return [self.execute(stmt) for stmt in split_statements(script)]

    # -- CREATE -------------------------------------------------------------
    def _eval_view_body(self, body: str):
        """View bodies are usually plain SELECTs; WITH MUTUALLY RECURSIVE
        bodies route through the LetRec fixpoint evaluator (_wmr)."""
        if _WMR_RE.match(body):
            from materialize_spark.plans.parser import parse_statement
            return self._wmr(parse_statement(body), body)
        return self.spark.sql(self._resolve_custom_types(rewrite(body)))

    # -- delta-maintained MVs (WITH (MAINTENANCE 'delta')) -------------------
    def _create_delta_mv(self, node: ast.CreateView) -> None:
        """Always-fresh maintenance: the view updates ON WRITE from each
        statement's delta (no REFRESH needed) — the reference's defining
        behavior. The body is parsed into a relational tree
        (plans/select_ast.SelectQ) and _plan_delta_mv walks it,
        assembling maintained operators per node the way the reference's
        render.rs walks its optimized plan and selects per-operator
        rendering plans (src/compute-types/src/plan/{reduce,top_k,
        join}.rs). Unsupported shapes get an explicit error rather than
        silently degrading to snapshots."""
        from materialize_spark.plans.select_ast import (
            parse_set_op_branches,
        )

        if node.uid is None:
            node = _dc_replace(node, uid=self._uid(node.name))
        if _WMR_RE.match(node.body):
            self._plan_delta_wmr(node)
            return
        try:
            op, is_all, qs = parse_set_op_branches(node.body)
        except (ast.ParseError, LexError) as ex:
            if "mixed set operators" in str(ex):
                self._plan_delta_setop_mixed(node)
                return
            raise ValueError(
                f"MAINTENANCE 'delta': cannot parse the view body for "
                f"incremental maintenance ({ex}); " + _DELTA_SUPPORTED)
        if len(qs) > 1:
            if any(self._branch_stateful(q) for q in qs):
                self._plan_delta_setop_stateful(node, op, is_all, qs)
            else:
                self._plan_delta_setop(node, qs, op, is_all)
            return
        self._plan_delta_mv(node, qs[0])

    @staticmethod
    def _branch_stateful(q) -> bool:
        """True when a set-op branch is beyond the stateless
        Map/Filter-over-one-table shape the linear set-op planners
        accept (aggregates, DISTINCT, joins, subqueries, windows,
        ORDER BY/LIMIT)."""
        if (q.group_by or q.having or q.distinct or q.joins
                or q.sub is not None or q.subfilters
                or getattr(q, "sub_branches", None)
                or q.order or q.limit is not None
                or (getattr(q, "from_items", None)
                    and len(q.from_items) > 1)):
            return True
        for it in q.items:
            if getattr(it, "agg", None) \
                    or re.search(r"(?i)\bOVER\b|\(\s*SELECT\b",
                                 it.expr):
                return True
        return bool(q.where and re.search(r"(?i)\(\s*SELECT\b",
                                          q.where))

    def _plan_delta_setop_stateful(self, node: ast.CreateView,
                                   op: str, is_all: bool, qs) -> None:
        """Set-op chains with STATEFUL branches (``SELECT g, sum(v) ..
        GROUP BY g UNION SELECT ..``): each stateful branch plans as a
        planner-owned internal delta MV and the set-op rides the
        internals' published diffs — the same stacking the reference
        performs when plan_set_expr's inputs are themselves Reduce
        subtrees (src/sql/src/plan/query.rs; each Let binding becomes
        an imported arrangement, render.rs). Stateless branches stay
        inline."""
        from materialize_spark.plans.select_ast import _split_setops

        spans, _ops = _split_setops(node.body)
        parts: list[str] = []
        with self._internal_views(node.name) as internal_view:
            for i, (span, q) in enumerate(zip(spans, qs)):
                if not self._branch_stateful(q):
                    parts.append(span)
                    continue
                internal = internal_view(
                    f"__sbr_{node.uid}_{i}", span)
                cols = list(self._matviews[internal].columns)
                parts.append(f"SELECT {', '.join(cols)} FROM {internal}")
            glue = f" {op.upper()}{' ALL' if is_all else ''} "
            self._create_delta_mv(_dc_replace(node, body=glue.join(parts)))

    @staticmethod
    def _binding_monotone(body: str) -> bool:
        """STRUCTURAL monotonicity of one WMR binding body: True only
        when the parsed tree is built purely from monotone operators —
        inner joins, filters (any fixed predicate is monotone in the
        relation), projections, UNION [ALL], DISTINCT, and monotone
        FROM-subqueries. Aggregates, set difference/intersection,
        outer joins, windows, LIMIT, and any [NOT] EXISTS/IN or scalar
        subquery flag non-monotone (reference: LetRec maintenance
        reasons about monotonicity structurally,
        src/expr/src/relation.rs:154). Anything unparseable is
        non-monotone — a warm start of a non-monotone binding would be
        a CORRECTNESS bug, so the default is the safe cold re-run."""
        from materialize_spark.plans.select_ast import (
            parse_set_op_branches,
        )

        def q_ok(q) -> bool:
            if q.group_by or q.having or q.order \
                    or q.limit is not None or q.subfilters:
                return False
            if q.where and re.search(r"(?i)\(\s*SELECT\b", q.where):
                return False
            for it in q.items:
                if re.search(r"(?i)\b(sum|count|min|max|avg)\s*\(",
                             it.expr) \
                        or re.search(r"(?i)\bOVER\b", it.expr) \
                        or re.search(r"(?i)\(\s*SELECT\b", it.expr):
                    return False
            for seg in q.joins:
                if seg.kind != "inner":
                    return False
            subs = ([q.sub] if q.sub is not None else []) \
                + list(q.sub_branches or ())
            return all(q_ok(s) for s in subs)

        try:
            op, _is_all, qs = parse_set_op_branches(body)
        except Exception:
            return False
        if op not in ("select", "union"):
            return False   # EXCEPT / INTERSECT: non-monotone
        return all(q_ok(q) for q in qs)

    @staticmethod
    def _binding_seminaive(body: str, names: list[str]) -> bool:
        """Eligibility for DIFFERENTIAL (semi-naive) rounds: the body
        is a top-level UNION (distinct) chain — binding values are
        then sets, so frontier deltas compose exactly — and each
        recursive binding name appears at most ONCE per branch (the
        multilinear delta rule substitutes per NAME; a self-join of
        one binding inside a single branch would need per-occurrence
        substitution)."""
        from materialize_spark.plans.lexer import tokens as _lex
        from materialize_spark.plans.select_ast import (
            parse_set_op_branches,
        )
        try:
            op, is_all, qs = parse_set_op_branches(body)
            spans = [body] if op == "select" else None
        except Exception:
            return False
        if op == "union" and is_all:
            return False
        if op not in ("select", "union"):
            return False
        from materialize_spark.plans.select_ast import _split_setops
        spans = _split_setops(body)[0]
        low = {n.lower() for n in names}
        for span in spans:
            try:
                toks = _lex(span, lenient=True)
            except Exception:
                return False
            cnt: dict[str, int] = {}
            for t in toks:
                if t.kind == "WORD" and t.text.lower() in low:
                    cnt[t.text.lower()] = cnt.get(t.text.lower(),
                                                  0) + 1
            if any(v > 1 for v in cnt.values()):
                return False
        return True

    def _wmr_fixpoint_seminaive(self, node: ast.Wmr, seed=None
                                ) -> tuple[dict, DataFrame]:
        """Semi-naive LetRec: per round, each binding evaluates its
        body with ONE recursive reference bound to the previous
        round's FRONTIER (delta) and the others to the
        already-accumulated/previous state — the multilinear delta
        rule — so per-round work is proportional to the frontier
        joined against the bindings, never a re-evaluation over the
        full current state (the reference's LetRec iterates
        differentially the same way, src/expr/src/relation.rs:154;
        semi-naive evaluation is the classic Datalog technique).
        Binding values are SETS (union-distinct bodies — gated by
        _binding_seminaive). ``seed`` warm-starts: round 0 evaluates
        each body once against the seed to pick up base-relation
        changes, then rounds ride the frontiers only."""
        from pyspark.sql import functions as F  # noqa: F401

        bindings = node.bindings
        names = [b[0] for b in bindings]
        low = {n.lower() for n in names}
        shadowed = [n for n in names
                    if n in self.catalog._tables
                    or n in self.catalog._views]

        def refs_of(body: str) -> list[str]:
            from materialize_spark.plans.lexer import tokens as _lex
            seen = []
            for t in _lex(body, lenient=True):
                if t.kind == "WORD" and t.text.lower() in low \
                        and t.text.lower() not in seen:
                    seen.append(t.text.lower())
            return seen

        def ev(body: str, env: dict) -> DataFrame:
            for k, v in env.items():
                v.createOrReplaceTempView(k)
            return self.spark.sql(rewrite(body))

        cur = {n.lower(): fresh_break(seed[k]) for k in seed
               for n in [k]} if seed is not None else {
            name.lower(): self.spark.createDataFrame(
                [], _pg_coldefs(coldefs))
            for name, coldefs, _ in bindings}
        # round 0: one full evaluation against the seed/empty state —
        # picks up base-relation changes (and the base branches)
        delta = {}
        for name, _c, body in bindings:
            nl = name.lower()
            full = ev(body, cur).distinct()
            delta[nl] = fresh_break(full.exceptAll(cur[nl]))
            cur[nl] = fresh_break(cur[nl].unionByName(delta[nl]))
        rounds = 0
        max_iter = node.limit or 100
        while rounds < max_iter \
                and any(not d.isEmpty() for d in delta.values()):
            rounds += 1
            prev_delta = delta
            delta = {}
            for name, _c, body in bindings:
                nl = name.lower()
                rset = refs_of(body)
                if not rset:
                    delta[nl] = cur[nl].limit(0)
                    continue
                terms = []
                for i, r in enumerate(rset):
                    # refs before r see the ACCUMULATED state, r sees
                    # the frontier, refs after r see accumulated too —
                    # sound for monotone set bodies (over-approximates
                    # the exact multilinear rule; exceptAll below
                    # keeps only genuinely new facts)
                    env = dict(cur)
                    env[r] = prev_delta[r]
                    terms.append(ev(body, env))
                cand = terms[0]
                for t in terms[1:]:
                    cand = cand.unionByName(t)
                delta[nl] = fresh_break(cand.distinct()
                                  .exceptAll(cur[nl]))
            for nl in list(cur):
                if not delta[nl].isEmpty():
                    cur[nl] = fresh_break(cur[nl].unionByName(delta[nl]))
        result = {name: cur[name.lower()]
                  for name, _c, _b in bindings}
        for k, v in result.items():
            v.createOrReplaceTempView(k)
        out = self.spark.sql(rewrite(node.final))
        for name in names:
            self.spark.catalog.dropTempView(name)
            if name in shadowed:
                self.catalog.table(name).createOrReplaceTempView(name)
        return result, out

    def _plan_delta_wmr(self, node: ast.CreateView) -> None:
        """Delta-maintained WITH MUTUALLY RECURSIVE: the MV stays
        always fresh ON WRITE by re-running the LetRec fixpoint per
        commit — WARM-STARTED from the previous binding fixpoints for
        monotone bindings under insert-only commits (the old fixpoint
        sits below the new least fixpoint, so the monotone iteration
        climbs the remaining distance only — semi-naive in iteration
        count; the reference maintains LetRec incrementally in
        differential dataflow, src/expr/src/relation.rs:154). Commits
        carrying retractions, or bindings with non-monotone constructs,
        re-run the fixpoint from empty (DRed-style over-deletion is
        out of scope; a cold re-run is always correct)."""
        wmr = ast.parse_statement(node.body)
        if not isinstance(wmr, ast.Wmr):
            raise ValueError("not a WITH MUTUALLY RECURSIVE body")
        deps = self._table_deps(node.body)
        deps -= {b[0].lower() for b in wmr.bindings}
        if not deps:
            raise ValueError(
                "MAINTENANCE 'delta' on WITH MUTUALLY RECURSIVE needs "
                "at least one base table to maintain against")
        monotone = all(self._binding_monotone(b[2])
                       for b in wmr.bindings)
        bnames = [b[0] for b in wmr.bindings]
        seminaive = monotone and all(
            self._binding_seminaive(b[2], bnames)
            for b in wmr.bindings)
        fixpoint = self._wmr_fixpoint_seminaive if seminaive \
            else self._wmr_fixpoint
        self._install(node, WmrView(
            wmr, tuple(deps), lambda seed: fixpoint(wmr, seed=seed),
            monotone=monotone, seminaive=seminaive))

    def _plan_delta_setop_mixed(self, node: ast.CreateView) -> None:
        """Mixed set-operator chains (``A UNION ALL B EXCEPT C``):
        pairwise reduction into STACKED internal delta MVs with SQL
        precedence (INTERSECT binds tighter; UNION/EXCEPT associate
        left) — the reference plans such chains as nested
        Threshold/Union/Negate trees (src/sql/src/plan/query.rs
        plan_set_expr), and each pair here is exactly one maintained
        2-side node whose published diff is the next node's commit
        (the views-over-views dataflow composition, render.rs)."""
        from materialize_spark.plans.select_ast import _split_setops

        spans, ops = _split_setops(node.body)
        work_items: list[tuple[str, object]] = [("span", sp)
                                               for sp in spans]
        work_ops = list(ops)

        def branch_text(item):
            kind, val = item
            if kind == "span":
                return val
            name, cols = val
            return f"SELECT {', '.join(cols)} FROM {name}"

        def reduce_pair(a, b, kind, is_all, name):
            body = (f"{branch_text(a)} {kind.upper()}"
                    f"{' ALL' if is_all else ''} {branch_text(b)}")
            if name == node.name:
                self._create_delta_mv(_dc_replace(node, body=body))
            else:
                internal_view(name, body)
            return ("internal",
                    (name, list(self._matviews[name].columns)))

        idx = 0
        with self._internal_views(node.name) as internal_view:
            for precedence in (("intersect",), ("union", "except")):
                i = 0
                while i < len(work_ops):
                    kind, is_all = work_ops[i]
                    if kind not in precedence:
                        i += 1
                        continue
                    last = len(work_ops) == 1
                    name = node.name if last \
                        else f"__setop_{node.uid}_{idx}"
                    idx += 1
                    merged = reduce_pair(work_items[i],
                                         work_items[i + 1],
                                         kind, is_all, name)
                    work_items[i:i + 2] = [merged]
                    work_ops.pop(i)

    @staticmethod
    def _strip_quals(text: str | None, quals: set[str]) -> str | None:
        """Remove ``qual.`` prefixes for the given relation names and
        aliases (TOKEN-level: string literals never rewrite; chain
        output columns are bare, so qualified references resolve by
        dropping the qualifier — uniqueness is enforced by the chain
        normalizer's collision checks)."""
        if not text or not quals:
            return text
        from materialize_spark.plans.lexer import tokens as _lex
        low = {qn.lower() for qn in quals}
        try:
            toks = _lex(text, lenient=True)
        except Exception:
            return text
        cuts: list[tuple[int, int]] = []
        for i, t in enumerate(toks):
            if t.kind != "WORD" or t.text.lower() not in low:
                continue
            nxt = toks[i + 1] if i + 1 < len(toks) else None
            nn = toks[i + 2] if i + 2 < len(toks) else None
            if nxt is not None and nxt.kind == "OP" \
                    and nxt.text == "." and nn is not None \
                    and nn.kind in ("WORD", "QIDENT"):
                cuts.append((t.start, nxt.end))
        for a, b in reversed(cuts):
            text = text[:a] + text[b:]
        return text

    def _desugar_implicit_joins(self, q):
        """Rewrite a comma-joined FROM list (``FROM a, b c, d WHERE a.x
        = c.y AND ...``) into the explicit left-deep equi-join chain
        the dispatcher maintains — the classic implicit-join planning
        the reference's optimizer performs. Equality conjuncts linking
        a new FROM item to the accumulated ones become its ON pairs;
        every other conjunct stays a residual filter. Qualified
        references then drop their qualifiers (chain columns are
        bare)."""
        from materialize_spark.plans.select_ast import (
            JoinSeg, SelectItem, split_conjuncts,
        )

        items = q.from_items
        for t, _a in items:
            self._delta_check_table(t)
        cols_of = {i: set(self._base_frame(t).columns)
                   for i, (t, _a) in enumerate(items)}
        alias_of = {(a or t).lower(): i
                    for i, (t, a) in enumerate(items)}
        # SELF-JOINS (the q7/q8 two-nation pattern): a REPEATED table's
        # later occurrences get per-occurrence column renames
        # (n2.n_name → __n2_n_name) so the chain's bare namespace stays
        # collision-free — the reference keeps two arrangements of the
        # same collection and distinguishes them by Let binding
        # (render.rs); here the occurrence IS the rename
        occ_ren: dict[int, dict[str, str]] = {}
        seen_tables: set[str] = set()
        for i, (t, a) in enumerate(items):
            if t in seen_tables:
                tag = (a or f"t{i}").lower()
                occ_ren[i] = {c: f"__{tag}_{c}" for c in cols_of[i]}
                cols_of[i] = set(occ_ren[i].values())
            seen_tables.add(t)

        def occ_col(i: int, col: str) -> str:
            return occ_ren.get(i, {}).get(col, col)

        def owner(qual: str | None, col: str) -> int | None:
            if qual is not None:
                return alias_of.get(qual.lower())
            hits = [i for i, cs in cols_of.items()
                    if col in cs or (i in occ_ren and col in occ_ren[i])]
            return hits[0] if len(hits) == 1 else None

        def unwrap(c: str) -> str:
            # conjuncts re-joined after subfilter extraction arrive
            # wrapped in parens
            while True:
                m = re.fullmatch(r"\s*\((.*)\)\s*", c, re.S)
                if m is None:
                    return c.strip()
                inner = m.group(1)
                depth = 0
                for ch in inner:
                    if ch == "(":
                        depth += 1
                    elif ch == ")":
                        depth -= 1
                        if depth < 0:
                            return c.strip()
                c = inner

        conjs = [unwrap(c) for c in split_conjuncts(q.where)] \
            if q.where else []
        cmp_re = re.compile(
            r"^\s*(?:(\w+)\s*\.\s*)?(\w+)\s*=\s*"
            r"(?:(\w+)\s*\.\s*)?(\w+)\s*$")
        links: list[tuple[int, int, str, str]] = []  # (i, j, ci, cj)
        residual: list[str] = []

        def link_of(c: str) -> tuple[int, int, str, str] | None:
            m = cmp_re.match(c)
            if not m:
                return None
            o1 = owner(m.group(1), m.group(2))
            o2 = owner(m.group(3), m.group(4))
            if o1 is None or o2 is None or o1 == o2:
                return None
            c1 = occ_col(o1, m.group(2))
            c2 = occ_col(o2, m.group(4))
            if o1 > o2:  # canonical order for cross-block matching
                return (o2, o1, c2, c1)
            return (o1, o2, c1, c2)

        def common_or_links(c: str) -> list:
            """q19's OR-of-conjunct-blocks: when EVERY top-level OR
            branch carries the same equi conjunct(s) linking two FROM
            items, hoist them as join keys and keep the whole OR as a
            residual filter over the joined output — the classic
            common-disjunct pullup the reference's optimizer performs
            (tpch_create_materialized_view.slt:1434-1460 joins q19 on
            the shared p_partkey = l_partkey)."""
            from materialize_spark.plans.select_ast import (
                split_disjuncts,
            )
            branches = split_disjuncts(c)
            if len(branches) < 2:
                return []
            shared = None
            for br in branches:
                found = {lk for lk in
                         (link_of(unwrap(x))
                          for x in split_conjuncts(unwrap(br)))
                         if lk is not None}
                shared = found if shared is None else shared & found
                if not shared:
                    return []
            return sorted(shared)

        for c in conjs:
            lk = link_of(c)
            if lk is not None:
                links.append(lk)
                continue
            links.extend(common_or_links(c))
            residual.append(c)
        links = list(dict.fromkeys(links))  # hoisted dups collapse
        # inner-join links keep the ACCUMULATED side's key name and
        # drop the right one; ren maps every dropped (item, name) to
        # its surviving (item, name) synonym — OWNER-aware, so a
        # dropped key's bare name never captures a same-named live
        # column of a different FROM item
        ren: dict[tuple[int, str], tuple[int, str]] = {}

        def live(o: int, col: str) -> tuple[int, str]:
            while (o, col) in ren:
                o, col = ren[(o, col)]
            return o, col

        joins: list[JoinSeg] = []
        placed = {0}
        remaining = list(range(1, len(items)))
        while remaining:
            # greedy join-graph linearization: place ANY item with an
            # equality link into the placed set (the FROM list's
            # textual order need not be join order — q8 lists part
            # before the supplier–lineitem link)
            pick = None
            for i in remaining:
                if any((b_i == i and a_i in placed)
                       or (a_i == i and b_i in placed)
                       for (a_i, b_i, _ca, _cb) in links):
                    pick = i
                    break
            if pick is None:
                raise ValueError(
                    f"MAINTENANCE 'delta': FROM item "
                    f"{items[remaining[0]][0]!r} has no equality "
                    "link to the preceding items (a cross product "
                    "is not delta-maintainable)")
            i = pick
            pairs = []
            rest = []
            for (a_i, b_i, ca, cb) in links:
                if b_i == i and a_i in placed:
                    pairs.append((live(a_i, ca), cb))
                elif a_i == i and b_i in placed:
                    pairs.append((live(b_i, cb), ca))
                else:
                    rest.append((a_i, b_i, ca, cb))
            links = rest
            placed.add(i)
            remaining.remove(i)
            for (ao, acc_c), right_c in pairs:
                ren[(i, right_c)] = (ao, acc_c)
            joins.append(JoinSeg(kind="inner", table=items[i][0],
                                 pairs=[(ac, rc)
                                        for (_ao, ac), rc in pairs],
                                 raw_on="", alias=items[i][1],
                                 renames=occ_ren.get(i)))
        # links whose both ends were already placed became residual
        # equalities over the joined row
        for (a_i, b_i, ca, cb) in links:
            residual.append(
                f"{live(a_i, ca)[1]} = {live(b_i, cb)[1]}")
        quals = {(a or t) for t, a in items} | {t for t, _ in items}
        # dropped-name resolution maps: per-qualifier for qualified
        # references; bare only when the name is owned by exactly one
        # FROM item (otherwise a bare reference was ambiguous — raise
        # if one appears rather than silently capturing)
        qual2item: dict[str, int] = {}
        for i, (t, a) in enumerate(items):
            qual2item[(a or t).lower()] = i
            qual2item.setdefault(t.lower(), i)
        qual_ren: dict[tuple[str, str], str] = {}
        bare_ren: dict[str, str] = {}
        collided: set[str] = set()
        # occurrence renames resolve FIRST (then any dropped-key
        # rename composes through live()); their original bare names
        # are inherently ambiguous — raise on bare use
        for i, ren_i in occ_ren.items():
            for ql, oi in qual2item.items():
                if oi != i:
                    continue
                for orig, renamed in ren_i.items():
                    qual_ren[(ql, orig)] = live(i, renamed)[1]
            collided |= set(ren_i.keys())
        for (o, c) in list(ren):
            fc = live(o, c)[1]
            if fc == c:
                continue
            for ql, oi in qual2item.items():
                if oi == o:
                    qual_ren[(ql, c)] = fc
            if sum(1 for cs in cols_of.values() if c in cs) == 1:
                bare_ren[c] = fc
            else:
                collided.add(c)

        def check_bare(txt: str | None) -> None:
            if not txt or not collided:
                return
            from materialize_spark.plans.lexer import tokens as _lex
            try:
                toks = _lex(txt, lenient=True)
            except Exception:
                return
            for j, t in enumerate(toks):
                if t.kind != "WORD" or t.text not in collided:
                    continue
                prv = toks[j - 1] if j > 0 else None
                nxt = toks[j + 1] if j + 1 < len(toks) else None
                if (prv is None or prv.text != ".") \
                        and (nxt is None or nxt.text not in (".",
                                                             "(")):
                    raise ValueError(
                        f"MAINTENANCE 'delta': bare reference "
                        f"{t.text!r} is ambiguous — the name belongs "
                        "to multiple FROM items (qualify it)")

        def sub_qualified(txt: str | None) -> str | None:
            """Token-level ``qual.name`` → survivor for dropped join
            keys (before qualifier stripping, so same-named live
            columns of OTHER items keep resolving to themselves)."""
            if not txt or not qual_ren:
                return txt
            from materialize_spark.plans.lexer import tokens as _lex
            try:
                toks = _lex(txt, lenient=True)
            except Exception:
                return txt
            cuts: list[tuple[int, int, str]] = []
            for j, t in enumerate(toks):
                nxt = toks[j + 1] if j + 1 < len(toks) else None
                nn = toks[j + 2] if j + 2 < len(toks) else None
                if t.kind == "WORD" and nxt is not None \
                        and nxt.kind == "OP" and nxt.text == "." \
                        and nn is not None and nn.kind == "WORD":
                    rep = qual_ren.get((t.text.lower(), nn.text))
                    if rep is not None:
                        cuts.append((t.start, nn.end, rep))
            for a, b, rep in reversed(cuts):
                txt = txt[:a] + rep + txt[b:]
            return txt

        def _rw_seg(seg):
            check_bare(seg)
            seg = self._strip_quals(sub_qualified(seg), quals)
            if seg and bare_ren:
                seg = _sub_ident_tokens(seg, bare_ren)
            return seg

        def st(txt):
            if not txt:
                return txt
            # subquery bodies are their own scope: never rewrite inside
            return _outside_subqueries(txt, _rw_seg)

        new_items = []
        for it in q.items:
            if re.search(r"(?i)\(\s*SELECT\b", it.expr):
                # subquery-bearing item: rewrite only OUTSIDE the
                # subquery (its own scope)
                new_items.append(SelectItem(expr=st(it.expr),
                                            alias=it.alias))
                continue
            check_bare(it.expr)
            expr = self._strip_quals(sub_qualified(it.expr), quals)
            m = re.fullmatch(r"\w+", expr or "")
            if it.alias is None and m and expr in bare_ren:
                # a dropped join-key name in the select list: project
                # the surviving synonym under the USER's name (an
                # aliased expression key — the reduce computes it per
                # delta and the output keeps the queried name)
                new_items.append(SelectItem(expr=bare_ren[expr],
                                            alias=expr))
            else:
                orig = re.fullmatch(
                    r"\s*(?:(\w+)\s*\.\s*)?(\w+)\s*", it.expr)
                if it.alias is None and m and orig is not None \
                        and expr != orig.group(2):
                    # a QUALIFIED dropped key (t2.y → x): keep the
                    # user-visible output name
                    new_items.append(SelectItem(expr=expr,
                                                alias=orig.group(2)))
                else:
                    new_items.append(SelectItem(
                        expr=_sub_ident_tokens(expr, bare_ren)
                        if bare_ren else expr, alias=it.alias))
        return _dc_replace(
            q, table=items[0][0], joins=joins, from_items=[],
            items=new_items,
            where=" AND ".join(f"({st(c)})" for c in residual)
            if residual else None,
            group_by=[st(k) for k in q.group_by],
            having=st(q.having))

    def _plan_delta_mv(self, node: ast.CreateView, q) -> None:
        """Dispatch a parsed view body onto maintained operators:
        subquery forms (TopK idiom, agg-over-map), join chains, and
        single-table reduce/distinct; ORDER BY ... LIMIT k as the
        global TopK."""
        if getattr(q, "from_items", None) and len(q.from_items) > 1:
            q = self._desugar_implicit_joins(q)
        elif q.table is not None and (getattr(q, "aliases", None)
                                      or q.joins):
            # aliased/qualified references over explicit relations:
            # qualifiers drop (chain output columns are bare)
            from materialize_spark.plans.select_ast import SelectItem
            quals = (set(q.aliases) | {q.table}
                     | {seg.table for seg in q.joins})
            st = lambda s: self._strip_quals(s, quals)  # noqa: E731
            q = _dc_replace(
                q,
                items=[SelectItem(expr=st(it.expr), alias=it.alias)
                       for it in q.items],
                where=st(q.where), group_by=[st(k) for k in
                                             q.group_by],
                having=st(q.having),
                joins=[_dc_replace(seg, extra=st(seg.extra))
                       for seg in q.joins])
        if q.order and q.limit is None:
            # ORDER BY without LIMIT in an MV body: relations are
            # unordered, so the clause is content-irrelevant — the
            # reference accepts and ignores it (the verbatim TPC-H q13
            # text carries one, tpch_create_materialized_view.slt)
            q = _dc_replace(q, order=[])
        if q.group_by and not q.having and not q.distinct \
                and len(q.items) == len(q.group_by) \
                and all(it.is_column
                        and (it.alias is None or it.alias == it.expr)
                        for it in q.items) \
                and {it.expr for it in q.items} \
                == {k.strip() for k in q.group_by}:
            # GROUP BY with no aggregates over exactly its keys IS
            # SELECT DISTINCT (the reference plans both as
            # Reduce distinct, plan_query.rs)
            q = _dc_replace(q, group_by=[], distinct=True)
        if q.order and q.limit is not None \
                and (q.group_by or q.sub is not None or q.joins
                     or q.subfilters):
            # ORDER BY ... LIMIT k over a STATEFUL body (the TPC-H
            # q3/q10/q18 tails): the body-without-tail plans as an
            # internal delta MV and the global TopK stacks over its
            # published diffs
            if self._plan_delta_topk_over_stateful(node, q):
                return
        if getattr(q, "subfilters", None):
            if self._plan_delta_semijoin(node, q):
                return
            raise ValueError(
                "MAINTENANCE 'delta' maintains [NOT] EXISTS / [NOT] "
                "IN (SELECT ...) only as top-level AND conjuncts over "
                "a table or equi-join chain (plain columns, GROUP BY "
                "aggregate, or DISTINCT above), with one equality "
                "correlation (plus at most one <> exclusion) per "
                "subquery; " + _DELTA_SUPPORTED)
        if q.where and re.search(r"(?i)\bmz_now\s*\(", q.where):
            if self._plan_delta_temporal(node, q):
                return
            raise ValueError(
                "MAINTENANCE 'delta' temporal filters support "
                "mz_now() bound conjuncts (mz_now() <=/</>=/> expr, "
                "expr cmp mz_now(), or mz_now() BETWEEN lo AND hi) "
                "over one table with stateless select items — rows "
                "then appear and retract as time passes (tick_time); "
                + _DELTA_SUPPORTED)
        if getattr(q, "sub_branches", None):
            if self._plan_delta_union_agg(node, q):
                return
            raise ValueError(
                "MAINTENANCE 'delta' over a UNION ALL subquery "
                "supports a grouped aggregate or SELECT DISTINCT above "
                "stateless branches; " + _DELTA_SUPPORTED)
        if q.order or q.limit is not None:
            if self._plan_delta_global_topk(node, q):
                return
            raise ValueError(
                "MAINTENANCE 'delta' supports ORDER BY ... LIMIT only "
                "as the global TopK shape (plain columns over one "
                "table, single ORDER BY column); " + _DELTA_SUPPORTED)
        if q.having and q.group_by \
                and re.search(r"(?i)\(\s*SELECT\b", q.having):
            # HAVING with a scalar-subquery threshold (q11): stacked
            # reduce + maintained global frontier
            if self._plan_delta_having_scalar(node, q):
                return
        if any(re.search(r"(?i)\(\s*SELECT\b", it.expr)
               for it in q.items):
            # scalar subqueries in the SELECT list (the q2-family
            # projection): per-key aggregate MVs LEFT-joined in
            if self._plan_delta_select_scalar_sub(node, q):
                return
        if q.joins and not q.group_by and not q.distinct \
                and q.sub is None \
                and not getattr(q, "subfilters", None) \
                and q.limit is None \
                and (any(_window_specs(it.expr) for it in q.items)
                     or (any(not it.is_column for it in q.items)
                         and not any(getattr(it, "agg", None)
                                     for it in q.items)
                         and not any(re.search(r"(?i)\(\s*SELECT\b",
                                               it.expr)
                                     for it in q.items))):
            # window functions or stateless EXPRESSION projections
            # over a join chain: the join part plans as an internal
            # delta MV and the window/Map plan stacks above
            if self._plan_delta_window_over_join(node, q):
                return
        if q.sub is not None and q.joins:
            if self._plan_delta_join_over_from_subquery(node, q):
                return
        if q.sub is not None:
            if self._plan_delta_topk(node, q) \
                    or self._plan_delta_agg_over_subquery(node, q) \
                    or self._plan_delta_over_join_subquery(node, q) \
                    or self._plan_delta_stacked_subquery(node, q):
                return
        elif q.joins:
            if self._plan_delta_join(node, q):
                return
        elif q.group_by:
            if self._plan_delta_single_agg(node, q):
                return
        elif q.distinct:
            if self._plan_delta_distinct(node, q):
                return
        elif any(_window_specs(it.expr) for it in q.items):
            # frameless window aggregates keep the maintained-Reduce
            # plan; any ORDER BY inside OVER routes to the
            # touched-partition recompute plan
            if self._plan_delta_window_agg(node, q) \
                    or self._plan_delta_window_order(node, q):
                return
            raise ValueError(
                "MAINTENANCE 'delta' window functions support "
                "AGG(x) OVER (PARTITION BY ...) / OVER () (maintained "
                "reduce) and ordered windows — running aggregates, "
                "LAG/LEAD, FIRST/LAST_VALUE, ROW_NUMBER — with ONE "
                "shared plain-column partition key set that the "
                "SELECT also projects; " + _DELTA_SUPPORTED)
        elif q.items and all(it.agg for it in q.items):
            if self._plan_delta_global_agg(node, q):
                return
        elif q.table is not None:
            # stateless Map/Filter over one relation — a one-branch
            # Union on the parts spine (output delta = the transformed
            # input delta, O(delta) per commit with no state at all);
            # meaningful mainly when the relation is an upstream delta
            # MV (stacked dataflows)
            try:
                self._plan_delta_union(node, [q])
                return
            except ValueError:
                pass
        raise ValueError(
            "MAINTENANCE 'delta' does not support this shape; "
            + _DELTA_SUPPORTED)

    def _delta_check_table(self, table: str) -> None:
        """A delta-MV base relation: a table, or ANOTHER delta MV —
        stacked always-fresh dataflows, the reference's views-over-views
        composition (a dependent dataflow imports the upstream
        arrangement, src/compute/src/render.rs). Snapshot/REFRESH MVs
        are rejected: they publish no per-commit diffs, so a downstream
        'always fresh' view over one would silently be stale."""
        if table not in self.catalog._tables \
                and table not in self._delta_mvs:
            raise KeyError(
                f"unknown table {table!r} (a delta-MV base must be a "
                "table or another MAINTENANCE 'delta' view)")

    def _base_frame(self, name: str):
        """Current rows of a delta-MV base relation (table or upstream
        delta MV's maintained result)."""
        t = self.catalog._tables.get(name)
        if t is not None:
            return t
        return self._matviews[name]

    def _plan_delta_union(self, node: ast.CreateView, qs) -> None:
        """UNION ALL delta MV: Union is LINEAR in diff algebra — each
        branch maintains independently and the MV's output delta is the
        branches' diff-sum (reference MirRelationExpr::Union,
        src/expr/src/relation/mod.rs:292; render.rs just concatenates
        the input streams). Branches are stateless Map/Filter/Project
        over one table each, so a commit to table t costs exactly the
        transforms of t's branches over the commit's delta — no state
        probe at all. Column names resolve positionally to the FIRST
        branch's output names (SQL set-op semantics)."""
        branches, _cols = self._union_branch_specs(qs)
        self._install(node, DeltaView(
            UnionFront(branches, self._base_frame),
            Spine(self._body(node.name))))

    def _union_branch_specs(
            self, qs) -> tuple[list[Branch], list[str]]:
        """Validate and normalize UNION ALL branches (stateless
        Map/Filter over one table each; names resolve positionally to
        the first branch's output names)."""
        cols: list[str] | None = None
        branches: list[Branch] = []
        for q in qs:
            if (q.joins or q.group_by or q.having or q.distinct
                    or q.sub is not None or q.subfilters
                    or len(getattr(q, "from_items", ()) or ()) > 1
                    or getattr(q, "sub_branches", None) or q.order
                    or q.limit is not None):
                raise ValueError(
                    "MAINTENANCE 'delta' UNION ALL: every branch must "
                    "be a stateless SELECT over one table (plain or "
                    "aliased-expression columns, optional WHERE; no "
                    "joins, aggregates, DISTINCT, subqueries or "
                    "ORDER BY within a branch)")
            self._delta_check_table(q.table)
            names, exprs = [], []
            for it in q.items:
                if re.search(r"(?i)\b(sum|count|min|max|avg)\s*\(|"
                             r"\bOVER\b|\(\s*SELECT\b", it.expr):
                    # an aggregate / window / scalar subquery is NOT a
                    # stateless per-row transform — applying it to a
                    # delta would silently differ from applying it to
                    # the table
                    raise ValueError(
                        "MAINTENANCE 'delta': branch columns must be "
                        "stateless scalar expressions (no aggregates, "
                        "window functions, or subqueries)")
                if it.alias is not None:
                    names.append(it.alias)
                    exprs.append(rewrite(it.expr))
                elif it.is_column:
                    names.append(it.expr)
                    exprs.append(it.expr)
                else:
                    raise ValueError(
                        "MAINTENANCE 'delta' UNION ALL: expression "
                        "branch columns need an AS alias")
            if cols is None:
                cols = names
            elif len(names) != len(cols):
                raise ValueError(
                    "UNION ALL branches must have the same number of "
                    "columns")
            branches.append(Branch(
                q.table, [f"({e}) AS {cols[i]}" for i, e in enumerate(exprs)],
                f"coalesce(({rewrite(q.where)}), false)" if q.where
                else None))
        return branches, cols

    def _plan_delta_union_agg(self, node: ast.CreateView, q) -> bool:
        """Reduce / DISTINCT over a UNION ALL subquery: the union's
        diff-sum feeds a maintained RetractionAwareAgg/Distinct — the
        same per-operator composition the join chain's terminal uses
        (reference render.rs stacks a reduce over a Union input like
        any other)."""
        from materialize_spark.streaming.retraction import (
            RetractionAwareAgg, RetractionAwareDistinct,
        )

        branches, _cols = self._union_branch_specs(q.sub_branches)
        if q.order or q.limit is not None:
            return False
        if q.group_by:
            parsed = _grouped_items(q)
            if parsed is None or parsed[4]:
                return False
            keys, aggs, exprs, out_order, _post = parsed
            having = q.having
            if having is not None:
                having = _having_over_aliases(having, aggs, exprs)
                if having is None:
                    return False
            terminal = Reduce(
                RetractionAwareAgg(self.spark, keys=keys, aggs=aggs),
                self._body(node.name), exprs=exprs, having=having,
                out_order=out_order)
        elif q.distinct:
            if not all(it.is_column and it.alias is None
                       for it in q.items):
                return False
            dcols = [it.expr for it in q.items]
            terminal = Distinct(RetractionAwareDistinct(
                self.spark, cols=dcols), dcols, self._body(node.name))
        else:
            return False
        self._install(node, DeltaView(
            UnionFront(branches, self._base_frame, where=q.where),
            terminal))
        return True

    def _plan_delta_setop(self, node: ast.CreateView, qs, op: str,
                          is_all: bool) -> None:
        """Set-op chains of stateless branches. UNION ALL is the linear
        union (_plan_delta_union). UNION [DISTINCT] is a Distinct
        reduce over the ALL-form union, as the reference plans it
        (src/sql/src/plan/query.rs plan_set_expr): per commit only the
        touched rows re-derive visibility. EXCEPT/INTERSECT [ALL] keep
        per-side multiplicity state (RetractionAwareSetOp), the
        reference's Threshold(Union(A, Negate(B))) composition
        (Negate/Threshold at src/expr/src/relation.rs:278-288) without
        materializing the negated union."""
        from materialize_spark.streaming.retraction import (
            RetractionAwareDistinct, RetractionAwareSetOp,
        )

        if op == "union" and is_all:
            self._plan_delta_union(node, qs)
            return
        branches, cols = self._union_branch_specs(qs)
        if op == "union":
            view = DeltaView(UnionFront(branches, self._base_frame),
                             Distinct(RetractionAwareDistinct(
                                 self.spark, cols=cols), cols,
                                 self._body(node.name)))
        else:
            view = DeltaView(SetOpFront(branches, self._base_frame),
                             SetOp(RetractionAwareSetOp(
                                 self.spark, cols=cols, op=op, all=is_all,
                                 nsides=len(branches)), cols))
        self._install(node, view)

    def _plan_delta_join_over_from_subquery(self, node: ast.CreateView,
                                            q) -> bool:
        """FROM (stateless subquery) JOIN t ... — desugared into a
        STACKED plan: the subquery becomes an internal delta MV (the
        one-branch Map/Filter spine) and the outer join chain reads it
        as its first base relation, exactly how the reference renders a
        Let binding feeding a join (render.rs builds the subplan once
        and imports its arrangement). The internal view is dropped with
        its owner."""
        sub = q.sub
        if (sub.joins or sub.group_by or sub.having or sub.distinct
                or sub.sub is not None or sub.subfilters
                or len(getattr(sub, "from_items", ()) or ()) > 1
                or getattr(sub, "sub_branches", None) or sub.order
                or sub.limit is not None or sub.table is None):
            return False
        sel = []
        for it in sub.items:
            if it.alias is not None:
                sel.append(f"{it.expr} AS {it.alias}")
            elif it.is_column:
                sel.append(it.expr)
            else:
                return False  # unaliased expression: no output name
        body = f"SELECT {', '.join(sel)} FROM {sub.table}"
        if sub.where:
            body += f" WHERE {sub.where}"
        internal = f"__jsub_{node.uid}"
        q2 = _dc_replace(q, sub=None, sub_alias=None, table=internal)
        return self._stacked(
            node, internal, body,
            lambda view: self._plan_delta_union(view, [sub]),
            lambda: self._plan_delta_join(node, q2))

    def _stacked(self, node: ast.CreateView, internal: str, body: str,
                 plan_internal, plan_outer) -> bool:
        """Plan ``body`` as the internal view ``internal`` with
        ``plan_internal``, then ``node`` over it with ``plan_outer``
        (returning False rejects). Any failure forgets the internal
        and returns False, so the dispatcher tries its next shape."""
        try:
            with self._internal_views(node.name) as internal_view:
                internal_view(internal, body, plan_internal)
                if plan_outer() is False:
                    raise ValueError(f"{node.name!r}: outer plan rejected")
        except Exception:
            return False
        return True

    @contextlib.contextmanager
    def _internal_views(self, owner: str):
        """Make planner-owned internal delta views for ``owner`` (the
        stacking desugars: FROM-subqueries, stateful set-op branches,
        scalar and IN subfilters, ...). Yields ``internal_view(name,
        body, plan=None)``, which refuses a name already in use,
        records the body, plans it with ``plan(view)`` (default: the
        full dispatcher), forgets it again if planning fails, and gives
        it ``owner``'s role. The block plans ``owner`` or raises: if it
        raises, every internal made in it is forgotten; otherwise they
        and the internals they own join ``owner``'s ``internal_deps``,
        so ``_forget(owner)`` takes them all."""
        made: list[str] = []

        def internal_view(name: str, body: str, plan=None) -> str:
            if name in self._delta_mvs:
                raise ValueError(f"MAINTENANCE 'delta': internal view "
                                 f"{name!r} already exists")
            self._matview_sql[name] = body
            try:
                (plan or self._create_delta_mv)(ast.CreateView(
                    name=name, body=body, materialized=True,
                    maintenance="delta", uid=self._uid(name)))
            except Exception:
                self._forget(name)
                raise
            made.append(name)
            self._owners.setdefault(name,
                                    self._owners.get(owner, self._role))
            return name

        try:
            yield internal_view
        except BaseException:
            for name in made:
                self._forget(name)
            raise
        if made:
            view = self._delta_mvs[owner]
            deps = list(view.internal_deps)
            for name in made:
                deps += [name, *self._delta_mvs[name].internal_deps]
            view.internal_deps = tuple(dict.fromkeys(deps))

    def _plan_delta_stacked_subquery(self, node: ast.CreateView,
                                     q) -> bool:
        """FROM (STATEFUL subquery) — the general internal-MV stacking
        desugar. The inner SELECT may be ANY dispatcher-supported shape
        (aggregate, DISTINCT, join chain, semijoin stages, nested
        FROM-subqueries): it is planned as a planner-owned internal
        delta MV, and the outer body re-plans with the internal view as
        its base relation, fed by the internal's committed diffs
        (_commit) — the reference renders such bodies as a Let
        binding whose arrangement the outer dataflow imports
        (src/compute/src/render.rs). This is what lets the verbatim
        TPC-H q13 two-level aggregate (LEFT OUTER JOIN + GROUP BY under
        GROUP BY, test/sqllogictest/
        tpch_create_materialized_view.slt:1001-1021) delta-maintain."""
        sub, raw = q.sub, q.sub_raw
        if sub is None or raw is None:
            return False
        internal = f"__jsub_{node.uid}"
        aliases = dict(getattr(q, "aliases", {}) or {})
        if q.sub_alias:
            aliases[q.sub_alias] = internal
        q2 = _dc_replace(q, sub=None, sub_raw=None, sub_alias=None,
                         table=internal, aliases=aliases,
                         from_items=[(internal, None)])
        return self._stacked(
            node, internal, raw,
            lambda view: self._plan_delta_mv(view, sub),
            lambda: self._plan_delta_mv(node, q2))

    def _plan_delta_window_over_join(self, node: ast.CreateView,
                                     q) -> bool:
        """Window functions OR stateless expression projections over
        a join chain: the join part (the original text's FROM/WHERE,
        projected to the referenced columns) plans as a planner-owned
        internal delta MV, and the outer plan — a window Reduce or a
        stateless Map — stacks over its published diffs. The
        reference renders window functions as a whole-group Reduce
        above whatever plan feeds it (src/expr/src/relation/func.rs)
        and fuses Map/Filter/Project onto any input; the input being
        a join changes nothing."""
        from materialize_spark.plans.lexer import tokens as _lex

        try:
            parsed = self._normalize_join_chain(q)
        except (ValueError, KeyError):
            return False
        if parsed is None:
            return False
        _tables, _links, _kinds, acc_cols, _extras, jrenames = parsed
        if any(jrenames) or any(c.startswith("__") for c in acc_cols):
            # self-join per-occurrence renames: rebuilding from the
            # ORIGINAL text would cross naming levels — out of scope
            return False
        words: set[str] = set()
        for it in q.items:
            try:
                words |= {t.text for t in _lex(it.expr, lenient=True)
                          if t.kind == "WORD"}
            except Exception:
                return False
        cols = [c for c in sorted(acc_cols) if c in words]
        if not cols:
            return False
        try:
            toks = _lex(node.body)
        except Exception:
            return False
        depth, from_at = 0, None
        for t in toks:
            if t.kind == "LP":
                depth += 1
            elif t.kind == "RP":
                depth -= 1
            elif depth == 0 and t.kind == "WORD" \
                    and t.upper == "FROM":
                from_at = t.start
                break
        if from_at is None:
            return False
        inner = f"SELECT {', '.join(cols)} {node.body[from_at:]}"
        internal = f"__jsub_{node.uid}"
        q2 = _dc_replace(q, table=internal, joins=[], where=None,
                         aliases={}, from_items=[(internal, None)])
        return self._stacked(node, internal, inner, None,
                             lambda: self._plan_delta_mv(node, q2))

    def _plan_delta_window_agg(self, node: ast.CreateView, q) -> bool:
        """Frameless window aggregate over one table:
        SELECT cols..., AGG(x) OVER (PARTITION BY k) AS a FROM t
        [WHERE ...]. With no ORDER BY inside OVER the window value is
        the whole partition's aggregate, so the reference lowers it to
        a Reduce joined back to its input (window function planning in
        src/sql/src/plan/query.rs); maintained form: a
        RetractionAwareAgg keyed on the partition + a touched-partition
        row refresh from the current table — a commit re-derives ONLY
        its own partitions' rows, never the table."""
        if q.table is None:
            return False
        exprs: dict[str, str] = {}
        plains: list[str] = []
        out_cols: list[str] = []
        # one maintained reduce per DISTINCT partition key set; the
        # empty set (OVER ()) is the global total — the share-of-total
        # idiom. keyed by the lowered key tuple.
        sets: dict[tuple, tuple[list, dict]] = {}
        for it in q.items:
            wa = it.win_agg
            if wa is not None:
                kind, arg, keys = wa
                if it.alias is None:
                    return False  # unaliased window: no output name
                if arg == "*":
                    if kind != "count":
                        return False
                    col = "__one"
                elif re.match(r"(?i)DISTINCT\b", arg):
                    return False
                elif re.fullmatch(r"\w+", arg):
                    col = arg
                else:
                    col = f"__x{len(exprs)}"
                    exprs[col] = arg
                sk = tuple(k.lower() for k in keys)
                sets.setdefault(sk, (keys, {}))[1][it.alias] = (kind, col)
                out_cols.append(it.alias)
            elif it.is_column and it.alias is None:
                plains.append(it.expr)
                out_cols.append(it.expr)
            else:
                return False  # expression passthroughs: out of shape
        if not sets:
            return False
        low_plains = {p.lower() for p in plains}
        for sk in sets:
            if any(k not in low_plains for k in sk):
                return False  # partition keys must be projected
        try:
            self._delta_check_table(q.table)
        except KeyError:
            return False
        from materialize_spark.streaming.retraction import (
            RetractionAwareAgg,
        )
        self._install(node, WindowAggView(
            q.table, self._base_frame, where=q.where, plains=plains,
            out_cols=out_cols, exprs=exprs, sets=[
                WinSet(keys, wins, RetractionAwareAgg(
                    self.spark, keys=keys or ["__g"], aggs=wins))
                for keys, wins in sets.values()]))
        return True

    _MZNOW_L_RE = re.compile(
        r"(?is)^\s*MZ_NOW\s*\(\s*\)\s*(?P<op><=|<|>=|>)\s*(?P<e>.+)$")
    _MZNOW_R_RE = re.compile(
        r"(?is)^(?P<e>.+?)\s*(?P<op><=|<|>=|>)\s*MZ_NOW\s*\(\s*\)\s*$")
    _MZNOW_BTW_RE = re.compile(
        r"(?is)^\s*MZ_NOW\s*\(\s*\)\s+BETWEEN\s+(?P<lo>.+?)\s+AND\s+"
        r"(?P<hi>.+)$")

    def _plan_delta_temporal(self, node: ast.CreateView, q) -> bool:
        """Temporal filters on a MAINTAINED view: WHERE conjuncts
        comparing ``mz_now()`` against row expressions become validity
        BOUNDS (the reference's MfpPlan lower/upper bound extraction,
        src/expr/src/linear.rs:1724-1760; design doc
        20210426_temporal_filters.md) — rows appear and RETRACT as the
        logical clock passes their bounds, with no commit required
        (``tick_time``), the reference's hallmark temporal-filter
        behavior."""
        from materialize_spark.plans.select_ast import split_conjuncts

        if (q.table is None or q.joins or q.distinct
                or q.sub is not None
                or getattr(q, "sub_branches", None) or q.order
                or q.limit is not None or q.subfilters):
            return False
        bounds: list[tuple[str, str]] = []   # (op, expr), mz_now left
        static: list[str] = []
        flip = {"<=": ">=", "<": ">", ">=": "<=", ">": "<"}
        for conj in split_conjuncts(q.where):
            m = self._MZNOW_L_RE.match(conj)
            if m:
                bounds.append((m.group("op"), m.group("e").strip()))
                continue
            m = self._MZNOW_R_RE.match(conj)
            if m and not re.search(r"(?i)\bmz_now\s*\(",
                                   m.group("e")):
                bounds.append((flip[m.group("op")],
                               m.group("e").strip()))
                continue
            m = self._MZNOW_BTW_RE.match(conj)
            if m:
                bounds.append((">=", m.group("lo").strip()))
                bounds.append(("<=", m.group("hi").strip()))
                continue
            if re.search(r"(?i)\bmz_now\s*\(", conj):
                return False  # mz_now in an unsupported position
            static.append(conj)
        if not bounds:
            return False
        for it in q.items:
            if re.search(r"(?i)\bmz_now\s*\(", it.expr):
                return False  # the clock belongs in bounds, not values
        reduce = None
        out_exprs: list[str] = []
        out_cols: list[str] = []
        if q.group_by:
            # sliding-window aggregate — the flagship temporal idiom
            # (SELECT k, agg(..) FROM t WHERE mz_now() <= ts + ...
            # GROUP BY k): the temporal stage's ± diffs feed a
            # maintained reduce, so windows slide with NO commits
            from materialize_spark.streaming.retraction import (
                RetractionAwareAgg,
            )
            parsed = _grouped_items(q)
            if parsed is None or parsed[4]:
                return False
            keys, aggs, exprs, out_order, _post = parsed
            having = q.having
            if having is not None:
                having = _having_over_aliases(having, aggs, exprs)
                if having is None:
                    return False
            in_cols = sorted({c for _k, c in aggs.values()})
            out_exprs = list(keys)
            for c in in_cols:
                if c == "__one":
                    out_exprs.append("1 AS __one")
                elif c in exprs:
                    out_exprs.append(f"({rewrite(exprs[c])}) AS {c}")
                else:
                    out_exprs.append(c)
            out_cols = keys + in_cols
            reduce = Reduce(
                RetractionAwareAgg(self.spark, keys=keys, aggs=aggs),
                self._body(node.name), having=having, out_order=out_order)
        elif q.having:
            return False
        else:
            for it in q.items:
                if it.is_column and it.alias is None:
                    out_exprs.append(it.expr)
                    out_cols.append(it.expr)
                elif it.alias is not None:
                    out_exprs.append(
                        f"{rewrite(it.expr)} AS {it.alias}")
                    out_cols.append(it.alias)
                else:
                    return False
        try:
            self._delta_check_table(q.table)
        except KeyError:
            return False
        self._install(node, TemporalView(
            q.table, self._base_frame,
            static=" AND ".join(f"({c})" for c in static)
            if static else None,
            bounds=bounds, out_exprs=out_exprs, out_cols=out_cols,
            reduce=reduce))
        return True

    def tick_time(self, now=None) -> list[str]:
        """Advance the logical clock for every temporal delta MV:
        rows whose validity bounds were crossed since the MV's last
        logical time appear/retract as published diffs (cursors,
        sinks, downstream MVs all see them) — the tick_sources /
        tick_refreshes sibling for TIME itself. Returns the MVs that
        changed clock."""
        from datetime import datetime
        self._apply_policy()
        ticked = []
        for name, view in list(self._delta_mvs.items()):
            if not isinstance(view, TemporalView):
                continue
            t1 = now if now is not None else datetime.now()
            if t1 <= view.last_tick:
                continue
            change = view.advance(None, now=t1)
            if change is not None:
                self._commit_change(name, change)
            ticked.append(name)
        return ticked

    def _plan_delta_window_order(self, node: ast.CreateView,
                                 q) -> bool:
        """Ordered window functions over one table — running
        SUM/COUNT/MIN/MAX/AVG, LAG/LEAD, FIRST/LAST_VALUE, NTILE,
        ROW_NUMBER with ``OVER (PARTITION BY k ORDER BY o [frame])``.
        The reference executes window functions as whole-group Reduce
        computations (src/expr/src/relation/func.rs:1960-1999), so its
        maintenance cost class is 'recompute the touched partitions' —
        exactly what this plan does: a commit re-derives ONLY its own
        partitions' rows from the current table via Spark's native
        window execution, untouched partitions pass through. Every
        window in the view must share one non-empty partition key set
        (the touched-confinement key); the partition keys must be
        projected."""
        from materialize_spark.plans.select_ast import window_specs

        if q.table is None:
            return False
        shared: tuple | None = None
        any_ordered = False
        plains: list[str] = []
        out_exprs: list[str] = []
        out_cols: list[str] = []
        n_windows = 0
        for it in q.items:
            wins = window_specs(it.expr)
            if wins:
                if it.alias is None:
                    return False  # windowed expression needs a name
                for keys, ordered in wins:
                    n_windows += 1
                    any_ordered = any_ordered or ordered
                    if not keys or not all(re.fullmatch(r"\w+", k)
                                           for k in keys):
                        return False  # global / expression partitions
                    sk = tuple(k.lower() for k in keys)
                    if shared is None:
                        shared = sk
                    elif sk != shared:
                        return False  # mixed partition sets
                out_exprs.append(f"{rewrite(it.expr)} AS {it.alias}")
                out_cols.append(it.alias)
            elif it.is_column and it.alias is None:
                plains.append(it.expr)
                out_exprs.append(it.expr)
                out_cols.append(it.expr)
            elif it.alias is not None:
                # deterministic scalar passthrough: recomputed with
                # the touched slice
                out_exprs.append(f"{rewrite(it.expr)} AS {it.alias}")
                out_cols.append(it.alias)
            else:
                return False
        if not n_windows or not any_ordered or shared is None:
            return False  # frameless-only: the maintained-Reduce plan
        low_plains = {p.lower() for p in plains}
        if any(k not in low_plains for k in shared):
            return False  # partition keys must be projected
        keys = [p for p in plains if p.lower() in shared]
        try:
            self._delta_check_table(q.table)
        except KeyError:
            return False
        self._install(node, WindowOrderView(
            q.table, self._base_frame, where=q.where, keys=keys,
            out_exprs=out_exprs, out_cols=out_cols))
        return True

    def _install(self, node: ast.CreateView, view: DeltaView) -> None:
        """Register the delta view ``view`` planned for ``node``, with
        the node's stable id, and publish its first state."""
        view.uid = node.uid
        self._delta_mvs[node.name] = view
        self._commit_change(node.name, view.form())

    def _uid(self, name: str) -> str:
        """The stable id for a new delta view ``name``, picked once when
        its planning starts and carried on its CreateView node: ``name``,
        unless a live view (one renamed away from ``name``) still holds
        it, then ``name_2``, ``name_3``, ... A view keeps its id across
        RENAME."""
        held = {v.uid for v in self._delta_mvs.values()}
        uid, n = name, 1
        while uid in held:
            n += 1
            uid = f"{name}_{n}"
        return uid

    def _body(self, name: str):
        """Evaluates the body of view ``name`` as written: the exact
        schema (or keyless one-row answer) of a view with no state."""
        body = self._matview_sql.get(name)
        return lambda: self.spark.sql(rewrite(body))

    def _plan_delta_single_agg(self, node: ast.CreateView, q,
                               layers: list | None = None) -> bool:
        """Grouped aggregate over one table: SELECT keys, AGG(expr) AS
        a[, ...] FROM t [WHERE] GROUP BY keys [HAVING ...] with AGG in
        SUM/COUNT/MIN/MAX/AVG. Plan selection mirrors the reference's
        reduce plans (src/compute-types/src/plan/reduce.rs): the q18
        single-SUM/COUNT strict-threshold shape uses ThresholdSemijoinMV
        (Accumulable + semijoin threshold); everything else uses
        RetractionAwareAgg (Accumulable for sum/count/avg, Hierarchical
        support for min/max under retractions) with HAVING as a Filter
        over the maintained result. ``layers`` carry inner stateless
        Map/Filter subqueries (agg-over-subquery composition)."""
        from materialize_spark.streaming.retraction import (
            RetractionAwareAgg,
        )

        parsed = _classify_agg_items(q.items)
        if parsed is None:
            return False
        keys, aggs, exprs, out_order, mpost = parsed
        if not aggs or not keys:
            return False
        gkeys = [k.strip() for k in q.group_by]
        if not _keys_match_group_by(keys, exprs, gkeys):
            raise ValueError("MAINTENANCE 'delta': the SELECT keys must "
                             "equal the GROUP BY keys (by output name "
                             "or source expression)")
        self._delta_check_table(q.table)
        front = SingleFront(q.table, self._base_frame, where=q.where,
                            layers=layers or ())
        having = q.having
        if having is not None:
            threshold = None if mpost else self._threshold_plan(
                q, keys, aggs, exprs, out_order)
            if threshold is not None:
                self._install(node, DeltaView(front, threshold))
                return True
            having = _having_over_aliases(having, aggs, exprs)
            if having is None:
                return False  # HAVING over unselected aggregates
        self._install(node, DeltaView(front, Reduce(
            RetractionAwareAgg(self.spark, keys=keys, aggs=aggs),
            self._body(node.name), exprs=exprs, post=mpost, having=having,
            out_order=None if mpost else out_order)))
        return True

    def _plan_delta_global_agg(self, node: ast.CreateView, q) -> bool:
        """Global aggregate over one table (no GROUP BY): the
        reference's reduce with an EMPTY key (one output row —
        src/compute-types/src/plan/reduce.rs renders keyless reduces
        like any other). Maintained by RetractionAwareAgg on a
        synthetic constant group; the empty-input row (COUNT = 0, the
        rest NULL) is synthesized when the state drains, matching SQL's
        one-row guarantee for keyless aggregates."""
        from materialize_spark.streaming.retraction import (
            RetractionAwareAgg,
        )

        parsed = _classify_agg_items(q.items)
        if parsed is None:
            return False
        keys, aggs, exprs, out_order, mpost = parsed
        if keys or not aggs:
            return False
        having = q.having
        if having is not None:
            # HAVING without GROUP BY: the whole input is ONE group —
            # the predicate filters the maintained single row (after
            # the empty-input synthesis, so an empty table behaves
            # like SQL: one row produced, then filtered)
            having = _having_over_aliases(having, aggs, exprs)
            if having is None:
                return False  # references unselected aggregates
        self._delta_check_table(q.table)
        self._install(node, DeltaView(
            SingleFront(q.table, self._base_frame, where=q.where),
            Reduce(RetractionAwareAgg(self.spark, keys=["__g"], aggs=aggs),
                   self._body(node.name), exprs=exprs, post=mpost,
                   having=having, keyless=True)))
        return True

    def _threshold_plan(self, q, keys: list[str], aggs: dict,
                        exprs: dict, out_order) -> Threshold | None:
        """The q18 inner shape: a single SUM(col)/COUNT(*) with a strict
        > threshold HAVING — maintained by ThresholdSemijoinMV (the
        accumulable reduce + threshold semijoin fast path). None when
        the body is not this shape (the general agg plan handles it)."""
        from pyspark.sql import functions as F

        from materialize_spark.streaming.delta_ivm import (
            ThresholdSemijoinMV,
        )

        if len(aggs) != 1 or exprs:
            return None
        alias, (kind, col) = next(iter(aggs.items()))
        if kind not in ("sum", "count"):
            return None
        m = _THRESHOLD_HAVING_RE.match(q.having)
        if m is None:
            return None
        hval, halias = m.group("val"), m.group("alias")
        if hval is not None:
            if kind != "sum" or hval.lower() != col.lower():
                raise ValueError("MAINTENANCE 'delta': HAVING must "
                                 "repeat the SELECT aggregate")
        elif halias is not None:
            if halias.lower() != alias.lower():
                return None  # HAVING over a key: general plan decides
        elif kind != "count":
            raise ValueError("MAINTENANCE 'delta': HAVING must repeat "
                             "the SELECT aggregate")
        thr = float(m.group("thr"))
        val = None if col == "__one" else col

        def enrich(out):
            out = out.select(*keys, F.col("__sum").alias(alias))
            if val is None:  # COUNT(*): integral output
                out = out.withColumn(alias, F.col(alias).cast("long"))
            return out

        mv = ThresholdSemijoinMV(self.spark, keys=keys,
                                 val=val or "__one",
                                 having=lambda s: s > thr, enrich=enrich)
        return Threshold(mv, val, out_order)

    def _plan_delta_distinct(self, node: ast.CreateView, q,
                             layers: list | None = None) -> bool:
        """SELECT DISTINCT delta MV (reference reduce.rs Distinct plan):
        net row multiplicity decides visibility, so deletes of one
        duplicate keep the row and deletes of the last one retire it.
        ``layers`` carry inner stateless Map/Filter subqueries."""
        from materialize_spark.streaming.retraction import (
            RetractionAwareDistinct,
        )

        if not all(it.is_column and it.alias is None for it in q.items):
            return False
        cols = [it.expr for it in q.items]
        self._delta_check_table(q.table)
        self._install(node, DeltaView(
            SingleFront(q.table, self._base_frame, where=q.where,
                        layers=layers or ()),
            Distinct(RetractionAwareDistinct(self.spark, cols=cols), cols,
                     self._body(node.name))))
        return True

    @staticmethod
    def _topk_shape(q):
        """Recognize the grouped-TopK idiom on a parsed tree: outer
        ``SELECT cols FROM (inner) WHERE rn <= k`` where the inner
        select list is plain columns + one ROW_NUMBER/RANK/DENSE_RANK()
        OVER (PARTITION BY keys ORDER BY col) AS rn. ``cols`` may
        project ``rn`` itself (any case). Returns (cols, icols, keys,
        ord, desc, k, inner, mode, rank_col) — ``rank_col`` is the
        inner alias when projected, else None — or None."""
        inner = q.sub
        if (q.distinct or q.group_by or q.having or q.joins
                or q.where is None or q.subfilters or inner.distinct
                or inner.group_by or inner.having or inner.subfilters
                or len(getattr(inner, "from_items", ()) or ()) > 1
                or inner.sub is not None):
            return None
        m = _TOPK_FILTER_RE.match(q.where)
        if m is None:
            return None
        rn_item = None
        icols: list[str] = []
        for it in inner.items:
            if it.row_number is not None:
                if rn_item is not None:
                    return None
                rn_item = it
            elif it.is_column and it.alias is None:
                icols.append(it.expr)
            else:
                return None
        if rn_item is None or rn_item.alias is None \
                or rn_item.alias.lower() != m.group("rn").lower():
            return None
        if not all(it.is_column and it.alias is None for it in q.items):
            return None
        cols = [it.expr for it in q.items]
        mode, keys, ord_col, desc = rn_item.row_number
        low = {c.lower() for c in icols}
        rank = rn_item.alias.lower()
        if not all(c.lower() in low or c.lower() == rank for c in cols) \
                or not all(re.fullmatch(r"\w+", k) and k.lower() in low
                           for k in keys) \
                or ord_col.lower() not in low:
            return None
        rank_col = (rn_item.alias if any(c.lower() == rank for c in cols)
                    else None)
        return (cols, icols, keys, ord_col, desc, int(m.group("k")),
                inner, mode, rank_col)

    def _plan_delta_topk(self, node: ast.CreateView, q) -> bool:
        """Grouped TopK delta MV via the ROW_NUMBER/RANK/DENSE_RANK
        idiom (the shape the reference plans as TopK, src/compute-types/
        src/plan/top_k.rs), over one table or a join chain; the outer
        SELECT may project the rank column, which the operator then
        emits under that name. Maintained by
        RetractionAwareTopK: the full compacted support survives
        deletes that evict a current top-k row (the non-monotonic
        'Basic' plan's guarantee); over joins, the bilinear chain's
        output delta feeds the TopK directly — the per-operator plan
        composition render.rs performs."""
        from materialize_spark.streaming.retraction import (
            RetractionAwareTopK,
        )

        shape = self._topk_shape(q)
        if shape is None:
            return False
        cols, icols, keys, ord_col, desc, k, inner, mode, rank_col = shape
        topk = TopK(RetractionAwareTopK(
            self.spark, keys=keys, order_col=ord_col, limit=k,
            descending=desc, mode=mode, rank_col=rank_col), icols, cols,
            self._body(node.name))
        if inner.joins:
            parsed = self._normalize_join_chain(inner)
            if parsed is None:
                return False
            tables, norm_links, kinds, acc_cols, extras, jrenames \
                = parsed
            if not all(c in acc_cols for c in icols):
                return False
            self._install(node, DeltaView(JoinFront(
                tables, norm_links, kinds, extras, jrenames,
                self._base_frame, where=inner.where), topk))
            return True
        self._delta_check_table(inner.table)
        self._install(node, DeltaView(SingleFront(
            inner.table, self._base_frame, where=inner.where), topk))
        return True

    def _plan_delta_global_topk(self, node: ast.CreateView, q) -> bool:
        """Global TopK: ``SELECT cols FROM t [WHERE ..] ORDER BY c
        [DESC] LIMIT k`` — the reference's TopK plan with an EMPTY
        group key (src/compute-types/src/plan/top_k.rs; the leaderboard
        MV). Maintained by RetractionAwareTopK over a constant group:
        a deleted top-k row pulls the evicted successor back in."""
        from materialize_spark.streaming.retraction import (
            RetractionAwareTopK,
        )

        if (q.limit is None or not q.order or q.group_by
                or q.having or q.distinct or q.sub is not None
                or q.joins):
            return False
        if not all(it.is_column and it.alias is None for it in q.items):
            return False
        if not all(re.fullmatch(r"\w+", c) for c, _d in q.order):
            return False
        ord_col, desc = q.order[0]
        cols = [it.expr for it in q.items]
        self._delta_check_table(q.table)
        icols = list(cols)
        for oc, _d in q.order:
            if oc not in icols:
                icols.append(oc)
        icols.append("__g")
        self._install(node, DeltaView(
            SingleFront(q.table, self._base_frame, where=q.where,
                        pre=["*", "1 AS __g"]),
            TopK(RetractionAwareTopK(
                self.spark, keys=["__g"], order_col=ord_col,
                limit=q.limit, descending=desc, order_by=list(q.order)),
                icols, cols, self._body(node.name))))
        return True

    def _plan_delta_agg_over_subquery(self, node: ast.CreateView,
                                      q) -> bool:
        """Reduce over a stateless subquery: ``SELECT keys, AGG(..)
        FROM (SELECT <scalar exprs> FROM t [WHERE ..]) GROUP BY keys``
        (or SELECT DISTINCT over the same inner shape). The inner
        Map/Filter carries no state, so it composes as a per-delta
        transform in front of the maintained reduce — the way the
        reference fuses Map/Filter/Project into the surrounding
        rendered operators (mfp fusion in src/compute/src/render.rs)."""
        if not (q.group_by or q.distinct):
            return False
        # Descend through ARBITRARILY NESTED stateless layers to the
        # base table: each layer is a Map/Filter over the previous
        # one's output, so the whole chain composes as an ordered list
        # of per-delta transforms in front of the maintained reduce
        # (the reference's optimizer flattens such nests into one MFP
        # before render.rs sees them).
        layers: list[tuple[str | None, list[str]]] = []
        cur = q.sub
        while True:
            if (cur.joins or cur.group_by or cur.having or cur.distinct
                    or cur.subfilters
                    or len(getattr(cur, "from_items", ()) or ()) > 1
                    or cur.order or cur.limit is not None):
                return False
            sel: list[str] = []
            for it in cur.items:
                if it.alias is not None:
                    sel.append(f"{rewrite(it.expr)} AS {it.alias}")
                elif it.is_column:
                    sel.append(it.expr)
                else:
                    return False  # unaliased expression: no output name
            layers.append((rewrite(cur.where) if cur.where else None,
                           sel))
            if cur.sub is None:
                break
            cur = cur.sub
        layers.reverse()  # innermost transform applies first
        q2 = type(q)(items=q.items, distinct=q.distinct,
                     table=cur.table, where=q.where,
                     group_by=q.group_by, having=q.having)
        if q.distinct and not q.group_by:
            return self._plan_delta_distinct(node, q2,
                                             layers=layers)
        return self._plan_delta_single_agg(node, q2,
                                           layers=layers)

    def _plan_delta_over_join_subquery(self, node: ast.CreateView,
                                       q) -> bool:
        """Reduce / DISTINCT / projection over a subquery whose FROM is
        a JOIN CHAIN — the 'join, clean, aggregate' MV. The inner
        select list is a stateless Map over the chain's output, so its
        aliases SUBSTITUTE into the outer clauses and the whole body
        flattens to the equivalent join+reduce plan the bilinear chain
        already maintains (the reference's optimizer inlines such
        subqueries the same way before render.rs sees them). Alias-of-
        expression may appear in aggregate inputs and filters; group
        keys must resolve to plain chain columns."""
        inner = q.sub
        if inner is not None \
                and len(getattr(inner, "from_items", ()) or ()) > 1 \
                and not (inner.group_by or inner.having
                         or inner.distinct or inner.sub is not None
                         or inner.subfilters):
            # comma-FROM inner chains (the q7/q8 text style, incl.
            # self-joins) desugar to the explicit chain first
            try:
                inner = self._desugar_implicit_joins(inner)
            except ValueError:
                return False
        if (not inner.joins or inner.group_by or inner.having
                or inner.distinct or inner.sub is not None
                or inner.subfilters):
            return False
        if inner.aliases:
            # aliased inner chains: strip qualifiers before flattening
            from materialize_spark.plans.select_ast import SelectItem
            quals = (set(inner.aliases) | {inner.table}
                     | {seg.table for seg in inner.joins})
            st = lambda x: self._strip_quals(x, quals)  # noqa: E731
            inner = _dc_replace(
                inner,
                items=[SelectItem(expr=st(it.expr), alias=it.alias)
                       for it in inner.items],
                where=st(inner.where),
                joins=[_dc_replace(seg, extra=st(seg.extra))
                       for seg in inner.joins])
        # plain-column aliases become REAL renames of the chain output
        # (they name the outer scope's columns — group keys included);
        # expression aliases substitute textually into the outer
        # clauses, with their bodies rewritten to the renamed columns
        ren: dict[str, str] = {}
        emap: dict[str, str] = {}
        for it in inner.items:
            if it.alias is None:
                if not it.is_column:
                    return False  # unaliased expression: no name
            elif it.is_column:
                if it.alias != it.expr:
                    ren[it.expr] = it.alias
            else:
                emap[it.alias] = it.expr

        def rensub(text: str) -> str:
            return _sub_ident_tokens(text, ren)

        emap = {a: f"({rensub(e)})" for a, e in emap.items()}

        def osub(text: str) -> str:
            return _sub_ident_tokens(text, emap)

        from materialize_spark.plans.select_ast import SelectItem
        items = []
        for it in q.items:
            e = it.expr.strip()
            if it.alias is None and re.fullmatch(r"\w+", e) \
                    and e in emap:
                # a bare reference to an inner EXPRESSION alias used as
                # a group key (q7's l_year): keep it an aliased
                # expression key — the classifier computes it per delta
                # and the output keeps the queried name
                items.append(SelectItem(expr=emap[e], alias=e))
            else:
                items.append(SelectItem(expr=osub(it.expr),
                                        alias=it.alias))
        group_by = [k.strip() if k.strip() in emap else osub(k)
                    for k in q.group_by]
        if not all(re.fullmatch(r"\w+", k) for k in group_by):
            return False  # expression group keys: out of scope
        # rename applies FIRST, so both filters speak renamed columns
        wheres = [w for w in
                  (rensub(inner.where) if inner.where else None,
                   osub(q.where) if q.where else None) if w]
        where = " AND ".join(f"({w})" for w in wheres) if wheres \
            else None
        q2 = type(q)(items=items, distinct=q.distinct,
                     table=inner.table, joins=inner.joins,
                     where=where, group_by=group_by,
                     having=osub(q.having) if q.having else None)
        return self._plan_delta_join(node, q2, renames=ren)

    # identifier-shaped sides only: a numeric literal like 0.00 must
    # NOT parse as qualifier '0' . column '00'
    _SUB_CMP_RE = re.compile(
        r"^\s*(?:(?P<q1>[A-Za-z_]\w*)\s*\.\s*)?(?P<c1>[A-Za-z_]\w*)\s*"
        r"(?P<op><=|>=|<>|!=|=|<|>)\s*"
        r"(?:(?P<q2>[A-Za-z_]\w*)\s*\.\s*)?(?P<c2>[A-Za-z_]\w*)\s*$")

    def _plan_delta_semijoin(self, node: ast.CreateView, q) -> bool:
        """``[NOT] EXISTS (SELECT ...)`` / ``expr [NOT] IN (SELECT
        ...)`` WHERE conjuncts over a table or equi-join chain,
        optionally with a grouped aggregate / DISTINCT above. The
        reference decorrelates these into semi/anti joins
        (src/sql/src/plan/lowering.rs:10-37) and maintains them like
        any dataflow — here each subquery becomes a maintained
        SemiAntiFilterMV stage on the chain's diff stream (support
        counts keyed by the correlation; flips emit ± current outer
        rows), composed in front of the usual reduce/DISTINCT/spine."""
        if (q.order or q.limit is not None or q.sub is not None
                or getattr(q, "sub_branches", None)):
            return False
        parsed = self._normalize_join_chain(q)
        if parsed is None:
            return False
        tables, norm_links, kinds, acc_cols, extras, jrenames \
            = parsed
        # inner links drop the right key name from the chain output;
        # subfilter correlations and the residual WHERE may still say
        # the dropped name — substitute the surviving (equal-valued)
        # left name
        renmap: dict[str, str] = {}
        for i, pairs in enumerate(norm_links):
            if kinds[i] == "inner":
                for onl, onr in pairs:
                    if onl != onr:
                        renmap[onr] = onl
        terminal = self._chain_terminal(node, q, acc_cols)
        if terminal is None:
            return False
        aliases = set(getattr(q, "aliases", {}) or ())
        src_where = _sub_ident_tokens(q.where, renmap) if q.where \
            else None
        with self._internal_views(node.name) as internal_view:
            stages = tuple(self._build_subfilter_stage(
                sf, tables, acc_cols, renmap, aliases,
                owner=node.uid,
                idx=i, internal_view=internal_view)
                for i, sf in enumerate(q.subfilters))
            self._install(node, DeltaView(JoinFront(
                tables, norm_links, kinds, extras, jrenames,
                self._base_frame, where=src_where, stages=stages),
                terminal))
        return True

    def _build_subfilter_stage(self, sf, tables: list[str],
                               acc_cols: set, renmap: dict,
                               aliases: set | None = None,
                               owner: str = "", idx: int = 0,
                               internal_view=None) -> Stage:
        """Classify one SubFilter's inner conjuncts against the outer
        chain's columns into (correlation pairs, <> exclusion, local
        predicate) and instantiate the maintained stage. The
        correlation resolution mirrors the reference's lowering of
        correlated subqueries to join keys (lowering.rs)."""
        from materialize_spark.streaming.semijoin import (
            SemiAntiFilterMV,
        )

        outer_strip0 = ({t for t in tables} | set(aliases or ()))
        if sf.kind == "cmpscalar":
            return self._build_scalar_stage(
                sf, f"__ssub_{owner}_{idx}", internal_view, outer_strip0)
        if sf.kind == "in" and not sf.table and sf.raw is not None:
            return self._build_setmember_stage(
                sf, f"__msub_{owner}_{idx}", internal_view, outer_strip0,
                acc_cols, renmap)
        if any(re.search(r"(?i)\(\s*SELECT\b", c)
               for c in sf.conjuncts):
            # a nested subquery inside this subfilter's WHERE must NOT
            # fall through to the per-delta prep_where filter (a
            # correlated inner reference would silently re-resolve
            # against the temp view, not the delta row). Uncorrelated
            # [NOT] IN bodies re-route through the internal-MV path —
            # the full dispatcher plans the body with its own nested
            # stages; anything else rejects loudly.
            if sf.kind == "in" and sf.raw:
                return self._build_setmember_stage(
                    sf, f"__msub_{owner}_{idx}", internal_view,
                    outer_strip0, acc_cols, renmap)
            raise ValueError(
                "MAINTENANCE 'delta': nested subqueries are "
                "maintainable inside [NOT] IN membership bodies only "
                "(the body plans as its own maintained view)")
        self._delta_check_table(sf.table)
        inner_cols = set(self._base_frame(sf.table).columns)
        iq = (sf.alias or sf.table).lower()
        # SQL scoping: inside the subquery, bare names and the inner
        # relation's own name/alias resolve INNER-first; outer
        # references over the same table need an OUTER alias (the q21
        # l1 style) — qualifier resolution below implements exactly
        # that, so an alias-less self-table subquery (the q17 style,
        # correlating on a different table's column) needs no special
        # casing
        outer_quals = ({t.lower() for t in tables}
                       | {a.lower() for a in (aliases or ())}) - {iq}

        def side(qual, col):
            if qual is not None:
                ql = qual.lower()
                if ql == iq:
                    return ("inner", col)
                if ql in outer_quals:
                    return ("outer", col)
                raise ValueError(
                    f"MAINTENANCE 'delta': unknown qualifier "
                    f"{qual!r} in subquery predicate")
            if col in inner_cols:
                return ("inner", col)
            if col in acc_cols or renmap.get(col, col) in acc_cols:
                return ("outer", col)
            return ("lit", col)

        def outer_name(col):
            mapped = renmap.get(col, col)
            if mapped not in acc_cols:
                raise ValueError(
                    f"MAINTENANCE 'delta': correlated column {col!r} "
                    "is not a column of the outer relation")
            return mapped

        pairs: list[tuple[str, str]] = []   # (inner col, outer col)
        member: tuple[str, str] | None = None
        # one inequality correlation (inner col, op-with-inner-left,
        # outer col): EXISTS(inner.c > outer.e | key) reduces to the
        # per-key MAX/MIN comparison (q4's l_shipdate > o_orderdate)
        ineq: tuple[str, str, str] | None = None
        local: list[str] = []
        opflip = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
        strip = re.compile(rf"(?i)\b{re.escape(iq)}\s*\.\s*")
        for conj in sf.conjuncts:
            m = self._SUB_CMP_RE.match(conj)
            sides = None
            if m is not None:
                s1 = side(m.group("q1"), m.group("c1"))
                s2 = side(m.group("q2"), m.group("c2"))
                sides = {s1[0], s2[0]}
                if sides == {"inner", "outer"}:
                    op_t = m.group("op")
                    ic = s1[1] if s1[0] == "inner" else s2[1]
                    oc = s2[1] if s1[0] == "inner" else s1[1]
                    if op_t in opflip and s1[0] != "inner":
                        op_t = opflip[op_t]
                    if op_t == "=":
                        pairs.append((ic, outer_name(oc)))
                    elif op_t in ("<>", "!="):
                        if sf.kind != "exists":
                            raise ValueError(
                                "MAINTENANCE 'delta': <> correlation "
                                "is supported in EXISTS subqueries "
                                "only")
                        if member is not None:
                            raise ValueError(
                                "MAINTENANCE 'delta': at most one <> "
                                "correlation per subquery")
                        member = (ic, outer_name(oc))
                    else:
                        if sf.kind != "exists":
                            raise ValueError(
                                "MAINTENANCE 'delta': inequality "
                                "correlations are supported in EXISTS "
                                "subqueries only")
                        if ineq is not None:
                            raise ValueError(
                                "MAINTENANCE 'delta': at most one "
                                "inequality correlation per subquery")
                        ineq = (ic, op_t, outer_name(oc))
                    continue
            # not a correlation: must be a purely inner-local predicate
            for qm in re.finditer(r"\b(\w+)\s*\.\s*\w+", conj):
                if qm.group(1).lower() in outer_quals:
                    raise ValueError(
                        "MAINTENANCE 'delta': correlated subquery "
                        f"predicates beyond =, <>, and one "
                        f"inequality are not maintainable ({conj!r})")
            for wm in re.finditer(r"\b(\w+)\b", conj):
                w = wm.group(1)
                if w not in inner_cols and w in acc_cols:
                    raise ValueError(
                        "MAINTENANCE 'delta': subquery predicate "
                        f"references outer column {w!r} in an "
                        "unsupported position (only =, <>, and one "
                        "inequality correlate)")
            local.append(strip.sub("", conj))
        outer_strip = {t for t in tables} | set(aliases or ())
        if sf.kind == "in":
            strip_outer = self._strip_quals(sf.in_expr, outer_strip)
            if not re.fullmatch(r"\w+", strip_outer.strip()):
                raise ValueError(
                    "MAINTENANCE 'delta': the IN expression must be a "
                    f"plain outer column (got {sf.in_expr!r})")
            if sf.in_col not in inner_cols:
                raise ValueError(
                    f"MAINTENANCE 'delta': {sf.in_col!r} is not a "
                    f"column of {sf.table!r}")
            pairs.append((sf.in_col, outer_name(strip_outer.strip())))
        if not pairs:
            if sf.kind == "cmpagg" and ineq is None and sf.raw:
                # no correlation at all: the subquery is a GLOBAL
                # scalar (the q11/q22 threshold family)
                return self._build_scalar_stage(
                    sf, f"__ssub_{owner}_{idx}", internal_view,
                    outer_strip0)
            raise ValueError(
                "MAINTENANCE 'delta': the subquery needs at least one "
                "equality correlation with the outer relation")
        prep_where = " AND ".join(f"({c})" for c in local) \
            if local else None
        okeys = [oc for _ic, oc in pairs]
        if sf.kind == "cmpagg":
            # scalar-aggregate comparison (q17/q2/q20 family): the
            # per-key aggregate maintains in a RetractionAwareAgg and
            # the comparison's truth flips per touched key
            from materialize_spark.streaming.semijoin import (
                CmpAggFilterMV,
            )
            if member is not None:
                raise ValueError(
                    "MAINTENANCE 'delta': <> correlation does not "
                    "apply to scalar-aggregate subqueries")
            lhs = rewrite(self._strip_quals(sf.in_expr, outer_strip))
            tmpl = rewrite(self._strip_quals(sf.template, outer_strip))
            vexpr = "coalesce({V}, 0)" if sf.agg_kind == "count" \
                else "{V}"
            qual = (f"coalesce(({lhs}) {sf.cmp_op} "
                    f"({tmpl.replace('__AGGVAL__', vexpr)}), false)")
            op = CmpAggFilterMV(
                self.spark, keys=okeys, qual_tmpl=qual,
                agg_kind=sf.agg_kind)
            arg = sf.agg_arg.strip()
            if arg == "*":
                if sf.agg_kind != "count":
                    raise ValueError(
                        "MAINTENANCE 'delta': * argument is only "
                        "valid for COUNT")
                arg = "1"  # COUNT(*): every row weighs one
            return Stage(op, sf.table, _cmp_label(sf.cmp_op, sf.agg_kind),
                         prep_where=prep_where,
                         prep_select=list(pairs),
                         prep_arg=strip.sub("", arg))
        if sf.kind == "in" and sf.agg_kind:
            # the q18 membership idiom: IN (SELECT k FROM t GROUP BY k
            # HAVING AGG(x) cmp thr) ⟺ per-key aggregate threshold —
            # membership flips exactly when the key's aggregate
            # crosses the threshold (ThresholdSemijoin semantics,
            # maintained by the same CmpAggFilterMV)
            from materialize_spark.streaming.semijoin import (
                CmpAggFilterMV,
            )
            if sf.negated:
                raise ValueError(
                    "MAINTENANCE 'delta': NOT IN over a HAVING "
                    "subquery is not supported (rewrite as NOT EXISTS)")
            for wm in re.finditer(r"\b(\w+)\b", sf.template):
                w = wm.group(1)
                if w in acc_cols and w not in inner_cols:
                    raise ValueError(
                        "MAINTENANCE 'delta': the HAVING threshold "
                        f"must not reference outer columns ({w!r})")
            arg = sf.agg_arg
            if arg == "*":
                if sf.agg_kind != "count":
                    raise ValueError(
                        "MAINTENANCE 'delta': * argument is only "
                        "valid for COUNT")
                arg = "1"
            base = (f"coalesce(({{V}}) {sf.cmp_op} "
                    f"({rewrite(strip.sub('', sf.template))}), false)")
            opx = CmpAggFilterMV(
                self.spark, keys=okeys, qual_tmpl=base,
                agg_kind=sf.agg_kind)
            return Stage(opx, sf.table,
                         _cmp_label(sf.cmp_op, sf.agg_kind),
                         prep_where=prep_where,
                         prep_select=list(pairs),
                         prep_arg=strip.sub("", arg))
        if ineq is not None:
            # EXISTS(... AND inner.c CMP outer.e): qualification is
            # per-key extremum vs the outer column — MAX for >/>=,
            # MIN for </<= (empty key -> NULL -> UNKNOWN -> EXISTS
            # false; NOT EXISTS inverts around the coalesce)
            from materialize_spark.streaming.semijoin import (
                CmpAggFilterMV,
            )
            if member is not None:
                raise ValueError(
                    "MAINTENANCE 'delta': <> and inequality "
                    "correlations cannot combine in one subquery yet")
            ic, o, oc = ineq
            agg_kind = "max" if o in (">", ">=") else "min"
            qual = f"coalesce(({{V}}) {o} ({oc}), false)"
            if sf.negated:
                qual = f"(NOT {qual})"
            opx = CmpAggFilterMV(
                self.spark, keys=okeys, qual_tmpl=qual,
                agg_kind=agg_kind)
            return Stage(opx, sf.table, _cmp_label(o, agg_kind),
                         prep_where=prep_where,
                         prep_select=list(pairs),
                         prep_arg=ic)
        if sf.kind == "in":
            # the IN-value pair was appended LAST; the leading pairs
            # are the `=` correlations (keys). The stage gets them
            # split so the three-valued NULL terms (emptiness, inner
            # NULLs) apply to the IN value PER correlation key.
            kind = "not_in" if sf.negated else "in"
            op = SemiAntiFilterMV(
                self.spark, keys=[oc for _ic, oc in pairs[:-1]],
                kind=kind, in_col=pairs[-1][1])
            return Stage(op, sf.table, _SEMI_LABELS[kind],
                         prep_where=prep_where,
                         prep_select=list(pairs))
        kind = "not_exists" if sf.negated else "exists"
        prep_select = list(pairs)
        omember = None
        if member is not None:
            prep_select.append(member)
            omember = member[1]
        op = SemiAntiFilterMV(
            self.spark, keys=okeys, kind=kind, member=omember)
        return Stage(op, sf.table, _SEMI_LABELS[kind],
                     prep_where=prep_where,
                     prep_select=prep_select)

    @staticmethod
    def _cut_clauses(body: str, kws: tuple[str, ...] = ("HAVING",
                                                        "ORDER")
                     ) -> str:
        """Remove top-level clauses introduced by the given keywords
        (each spans to the next depth-0 clause keyword or EOF) — used
        to derive the inner body text of a HAVING-threshold desugar."""
        from materialize_spark.plans.lexer import tokens as _lex
        stops = {"HAVING", "ORDER", "LIMIT"}
        try:
            toks = [t for t in _lex(body, lenient=True)
                    if t.kind != "EOF"]
        except Exception:
            return body
        depth = 0
        cuts = []
        start = None
        for t in toks:
            if t.kind == "LP":
                depth += 1
            elif t.kind == "RP":
                depth -= 1
            elif t.kind == "WORD" and depth == 0:
                up = t.text.upper()
                if start is not None and up in stops:
                    cuts.append((start, t.start))
                    start = None
                if start is None and up in kws:
                    start = t.start
        if start is not None:
            cuts.append((start, len(body)))
        for a, b in reversed(cuts):
            body = body[:a] + body[b:]
        return body.strip()

    def _plan_delta_topk_over_stateful(self, node: ast.CreateView,
                                       q) -> bool:
        """``<stateful body> ORDER BY c [DESC][, ...] LIMIT k`` — the
        TPC-H q3/q10/q18 tails: the body WITHOUT its tail plans as a
        planner-owned internal delta MV and a global TopK maintains
        over its published diffs (the reference renders the same plan:
        TopK above the Reduce, src/compute-types/src/plan/top_k.rs).
        Multi-column ORDER BY (q18's o_totalprice DESC, o_orderdate)
        rides the maintained TopK's lexicographic window order."""
        from materialize_spark.plans.select_ast import (
            SelectItem, SelectQ,
        )

        internal = f"__jsub_{node.uid}"
        inner_sql = self._cut_clauses(node.body, kws=("ORDER",
                                                      "LIMIT"))
        inner_q = _dc_replace(q, order=[], limit=None)

        def plan_tail():
            icols = list(self._matviews[internal].columns)
            if not all(oc in icols for oc, _d in q.order):
                return False
            return self._plan_delta_global_topk(node, SelectQ(
                items=[SelectItem(expr=c) for c in icols],
                table=internal, order=list(q.order), limit=q.limit))

        return self._stacked(
            node, internal, inner_sql,
            lambda view: self._plan_delta_mv(view, inner_q), plan_tail)

    def _plan_delta_having_scalar(self, node: ast.CreateView,
                                  q) -> bool:
        """GROUP BY ... HAVING <agg> cmp (SELECT <scalar>) — the TPC-H
        q11 threshold: stacked desugar. The body WITHOUT the HAVING
        plans as a planner-owned internal delta MV (the keyed reduce),
        and the HAVING — its aggregate calls rewritten to the reduce's
        output aliases — becomes the WHERE of an outer stateless body
        whose cmpscalar subfilter maintains the global threshold
        (reference: the q11 plan is Reduce → Filter-against-Let,
        tpch_create_materialized_view.slt:820-860)."""
        from materialize_spark.plans.select_ast import (
            SelectItem, SelectQ, extract_subfilters,
        )

        parsed = _classify_agg_items(q.items)
        if parsed is None:
            return False
        keys, aggs, exprs, out_order, mpost = parsed
        if not aggs or not keys or mpost:
            return False
        residual, subs = extract_subfilters(q.having)
        if not subs:
            return False
        for sf in subs:
            if sf.kind not in ("cmpagg", "cmpscalar") \
                    or sf.in_expr is None:
                return False
            lhs = _having_over_aliases(sf.in_expr, aggs, exprs)
            if lhs is None:
                return False
            sf.in_expr = lhs
        if residual is not None:
            residual = _having_over_aliases(residual, aggs, exprs)
            if residual is None:
                return False
        internal = f"__jsub_{node.uid}"
        inner_sql = self._cut_clauses(node.body)
        inner_q = _dc_replace(q, having=None, order=[])
        with self._internal_views(node.name) as internal_view:
            try:
                internal_view(internal, inner_sql,
                              lambda v: self._plan_delta_mv(v, inner_q))
            except Exception:
                return False
            # the outer plan's errors are the statement's errors
            self._plan_delta_mv(node, SelectQ(
                items=[SelectItem(expr=c) for c in out_order],
                table=internal, where=residual, subfilters=subs))
        return True

    def _plan_delta_select_scalar_sub(self, node: ast.CreateView,
                                      q) -> bool:
        """Correlated scalar-aggregate subqueries in the SELECT LIST —
        the q2-family projection form ``SELECT cols, (SELECT AGG(x)
        FROM i WHERE i.k = o.k [AND local]) AS m FROM o ...``. The
        reference plans HirScalarExpr::Select anywhere an expression
        goes (src/sql/src/plan/hir.rs:226-263) by decorrelating into a
        per-key Reduce LEFT-joined to the outer relation
        (lowering.rs); same desugar here: each subquery item becomes a
        planner-owned internal keyed-aggregate delta MV and a LEFT
        link on the correlation keys (empty group → NULL, exactly the
        scalar-subquery semantics for sum/min/max/avg; COUNT — whose
        empty-group value is 0, not NULL — rejects)."""
        from materialize_spark.plans.select_ast import (
            JoinSeg, SelectItem, _parse_sub_body, parse_select,
        )

        subs = [(i, it) for i, it in enumerate(q.items)
                if re.search(r"(?i)^\(\s*SELECT\b.*\)$",
                             it.expr.strip(), re.S)]
        if not subs or q.group_by or q.having or q.distinct \
                or q.sub is not None or q.subfilters \
                or getattr(q, "sub_branches", None) or q.table is None:
            return False
        # outer column universe (correlations must resolve here)
        try:
            out_cols = set(self._base_frame(q.table).columns)
            for seg in q.joins:
                out_cols |= set(self._base_frame(seg.table).columns)
        except KeyError:
            return False
        items = list(q.items)
        joins = list(q.joins)
        bodies: dict[str, str] = {}

        def fail(msg):
            raise ValueError(f"MAINTENANCE 'delta': {msg}")

        for idx, it in subs:
            if it.alias is None:
                fail("a SELECT-list scalar subquery needs an alias")
            body = it.expr.strip()[1:-1]
            sf = _parse_sub_body(body, "cmpagg")
            if sf is None:
                fail("the SELECT-list subquery must be a single-table "
                     "scalar aggregate (SELECT AGG(x) FROM t WHERE "
                     "...)")
            if sf.agg_kind == "count":
                fail("COUNT in a SELECT-list scalar subquery is not "
                     "maintainable via the LEFT-join desugar (its "
                     "empty-group value is 0, not NULL) — use "
                     "SUM(1) or rewrite as a join")
            inner_cols = set(self._base_frame(sf.table).columns)
            iq = (sf.alias or sf.table).lower()
            pairs: list[tuple[str, str]] = []   # (inner, outer)
            local: list[str] = []
            strip = re.compile(rf"(?i)\b{re.escape(iq)}\s*\.\s*")
            for conj in sf.conjuncts:
                m = self._SUB_CMP_RE.match(conj)
                if m and m.group("op") == "=":
                    def side(qual, col):
                        if qual and qual.lower() == iq:
                            return ("inner", col)
                        if qual and qual.lower() == q.table.lower():
                            return ("outer", col)
                        if qual is None and col in inner_cols:
                            return ("inner", col)
                        if qual is None and col in out_cols:
                            return ("outer", col)
                        return ("lit", col)
                    s1 = side(m.group("q1"), m.group("c1"))
                    s2 = side(m.group("q2"), m.group("c2"))
                    if {s1[0], s2[0]} == {"inner", "outer"}:
                        ic = s1[1] if s1[0] == "inner" else s2[1]
                        oc = s2[1] if s1[0] == "inner" else s1[1]
                        pairs.append((ic, oc))
                        continue
                for qm in re.finditer(r"\b(\w+)\b", conj):
                    if qm.group(1) not in inner_cols \
                            and qm.group(1) in out_cols:
                        fail("SELECT-list subquery predicates beyond "
                             "equality correlations are not "
                             f"maintainable ({conj!r})")
                local.append(strip.sub("", conj))
            if not pairs:
                fail("a SELECT-list scalar subquery needs at least "
                     "one equality correlation (uncorrelated scalars "
                     "belong in WHERE/HAVING)")
            internal = f"__psub_{node.uid}_{idx}"
            if sf.template.strip() != "__AGGVAL__":
                fail("a SELECT-list scalar subquery supports a bare "
                     "aggregate only (move the surrounding expression "
                     "outside the subquery)")
            ikeys = [ic for ic, _oc in pairs]
            item_sql = (f"{sf.agg_kind}"
                        f"({strip.sub('', sf.agg_arg)})")
            body2 = (f"SELECT {', '.join(ikeys)}, {item_sql} AS "
                     f"{it.alias} FROM {sf.table}")
            if local:
                body2 += " WHERE " + " AND ".join(f"({c})"
                                                  for c in local)
            body2 += f" GROUP BY {', '.join(ikeys)}"
            bodies[internal] = body2
            joins.append(JoinSeg(kind="left", table=internal,
                                 pairs=[(oc, ic)
                                        for ic, oc in pairs],
                                 raw_on=""))
            items[idx] = SelectItem(expr=it.alias, alias=None)
        with self._internal_views(node.name) as internal_view:
            for internal, body2 in bodies.items():
                try:
                    internal_view(internal, body2,
                                  lambda v: self._plan_delta_mv(
                                      v, parse_select(v.body)))
                except ValueError as e:
                    fail("the SELECT-list subquery is not maintainable "
                         f"({e})")
            self._plan_delta_mv(node, _dc_replace(q, items=items,
                                                  joins=joins))
        return True

    def _build_scalar_stage(self, sf, internal: str, internal_view,
                            outer_strip: set) -> Stage:
        """Uncorrelated scalar-subquery comparison (the q11/q22
        threshold family): the subquery body — ANY dispatcher-supported
        keyless-aggregate shape, joins and comma-FROM included — plans
        as a planner-owned internal delta MV whose one-row result is a
        maintained global frontier; a GlobalCmpFilterMV stage
        re-qualifies the outer rows when the scalar moves (the
        reference decorrelates uncorrelated scalar subqueries to a Let
        binding cross-joined to the outer relation, lowering.rs)."""
        from materialize_spark.plans.select_ast import (
            SelectItem, parse_select,
        )
        from materialize_spark.streaming.semijoin import (
            GlobalCmpFilterMV,
        )

        body = sf.raw
        try:
            iq = parse_select(body)
        except Exception as e:
            raise ValueError(
                "MAINTENANCE 'delta': the comparison subquery is not "
                f"maintainable ({e})")
        if len(iq.items) != 1:
            raise ValueError(
                "MAINTENANCE 'delta': a scalar subquery must produce "
                "exactly one column")
        if iq.items[0].alias is None:
            iq = _dc_replace(iq, items=[SelectItem(
                expr=iq.items[0].expr, alias="__v")])
        try:
            internal_view(internal, body,
                          lambda v: self._plan_delta_mv(v, iq))
        except Exception as e:
            raise ValueError(
                "MAINTENANCE 'delta': the uncorrelated comparison "
                f"subquery is not maintainable as a scalar ({e})")
        scalar = self._delta_mvs[internal].terminal
        if not (isinstance(scalar, Reduce) and scalar.keyless):
            raise ValueError(
                "MAINTENANCE 'delta': an uncorrelated comparison "
                "subquery must be a keyless (scalar) aggregate")
        lhs = rewrite(self._strip_quals(sf.in_expr, outer_strip))
        qual = f"coalesce(({lhs}) {sf.cmp_op} ({{V}}), false)"
        if sf.negated:
            qual = f"(NOT {qual})"
        op = GlobalCmpFilterMV(self.spark, qual_tmpl=qual)
        return Stage(op, internal,
                     f"GlobalScalarCompare[{sf.cmp_op} SCALAR]",
                     whole=True)

    def _build_setmember_stage(self, sf, internal: str, internal_view,
                               outer_strip: set, acc_cols: set,
                               renmap: dict) -> Stage:
        """Uncorrelated ``expr [NOT] IN (SELECT c FROM <complex
        body>)`` — the q20 nesting: the membership SET is ANY
        dispatcher-supported body (joins, aggregates, its own nested
        subfilters), planned as a planner-owned internal delta MV whose
        published diffs feed an uncorrelated SemiAntiFilterMV (the
        reference plans nested subqueries by recursive lowering into
        stacked Let bindings, lowering.rs)."""
        from materialize_spark.plans.select_ast import parse_select

        from materialize_spark.streaming.semijoin import (
            SemiAntiFilterMV,
        )

        body = sf.raw
        try:
            iq = parse_select(body)
        except Exception as e:
            raise ValueError(
                "MAINTENANCE 'delta': the IN subquery is not "
                f"maintainable ({e})")
        if len(iq.items) != 1:
            raise ValueError(
                "MAINTENANCE 'delta': an IN subquery must produce "
                "exactly one column")
        it = iq.items[0]
        in_col = it.alias if it.alias is not None \
            else (it.expr if it.is_column else None)
        if in_col is None:
            raise ValueError(
                "MAINTENANCE 'delta': the IN subquery's output "
                "expression needs a name (alias it)")
        try:
            internal_view(internal, body,
                          lambda v: self._plan_delta_mv(v, iq))
        except Exception as e:
            raise ValueError(
                "MAINTENANCE 'delta': the IN subquery body is not "
                f"maintainable ({e})")
        strip_outer = self._strip_quals(sf.in_expr, outer_strip)
        if not re.fullmatch(r"\w+", strip_outer.strip()):
            raise ValueError(
                "MAINTENANCE 'delta': the IN expression must be a "
                f"plain outer column (got {sf.in_expr!r})")
        oc = renmap.get(strip_outer.strip(), strip_outer.strip())
        if oc not in acc_cols:
            raise ValueError(
                f"MAINTENANCE 'delta': IN expression {oc!r} is not a "
                "column of the outer relation")
        kind = "not_in" if sf.negated else "in"
        op = SemiAntiFilterMV(self.spark, keys=[], kind=kind,
                              in_col=oc)
        return Stage(op, internal, _SEMI_LABELS[kind],
                     prep_select=[(in_col, oc)])

    def _normalize_join_chain(self, q):
        """Normalize a parsed left-deep join chain (select_ast.SelectQ
        with JoinSeg links) into (tables, norm_links, kinds, acc_cols)
        where each norm_link is a LIST of (acc-side key, right key)
        pairs and kind ∈ inner|left|full; None when the chain is out
        of the supported shape."""
        if q.table is None:
            return None
        tables = [q.table]
        links: list[list[tuple[str, str]]] = []
        kinds: list[str] = []
        extras: list[str | None] = []
        for seg in q.joins:
            extra = seg.extra
            if extra is not None and seg.kind != "inner":
                # an outer link's residual ON conjunct changes the
                # MATCH SET, not the output filter — but when it
                # references only RIGHT-side columns it pushes down as
                # a right-input pre-filter (L ⟕ σ_p(R) ≡ L ⟕ R ON
                # equi ∧ p(R) — the reference's predicate pushdown;
                # the q13 o_comment NOT LIKE conjunct). Anything
                # referencing the left side stays unsupported.
                rc_ = set(self._base_frame(seg.table).columns)
                from materialize_spark.plans.lexer import (
                    tokens as _lex,
                )
                left_cols = set()
                for tt in tables:
                    left_cols |= set(self._base_frame(tt).columns)
                try:
                    words = {t.text for t in _lex(extra, lenient=True)
                             if t.kind == "WORD"}
                except Exception:
                    words = {None}
                if None in words or (words & left_cols) - rc_:
                    raise ValueError(
                        "MAINTENANCE 'delta': non-equi ON conjuncts "
                        "on outer links must reference only the "
                        "right input's columns (push-down form); "
                        f"got {extra!r}")
                extra = ("right", extra)
            tables.append(seg.table)
            links.append(list(seg.pairs))
            kinds.append(seg.kind)
            extras.append(extra)
        jrenames = [seg.renames for seg in q.joins]
        if len(set(tables)) != len(tables) \
                and not all(jrenames[i - 1]
                            for i in range(1, len(tables))
                            if tables[i] in tables[:i]):
            # self-joins need per-occurrence column renames (the
            # comma-FROM desugar provides them; explicit-JOIN syntax
            # self-joins stay out)
            return None
        for t in tables:
            self._delta_check_table(t)
        acc_cols = set(self._base_frame(tables[0]).columns)
        norm_links: list[list[tuple[str, str]]] = []
        for i, pairs in enumerate(links):
            rc = set(self._base_frame(tables[i + 1]).columns)
            if jrenames[i]:
                rc = {jrenames[i].get(c, c) for c in rc}
            norm_pairs: list[tuple[str, str]] = []
            for onl, onr in pairs:
                if onl in rc and onr in acc_cols:  # written right=left
                    onl, onr = onr, onl
                if onl not in acc_cols or onr not in rc:
                    return None
                norm_pairs.append((onl, onr))
            onrs = {onr for _l, onr in norm_pairs}
            if acc_cols & (rc - onrs):
                return None  # non-key column collision: out of scope
            norm_links.append(norm_pairs)
            acc_cols |= rc - onrs
            if kinds[i] != "inner":
                # outer ON semantics keep BOTH key columns (the right
                # key is NULL on unmatched-left rows, and vice versa)
                for onl, onr in norm_pairs:
                    if onr != onl:
                        if onr in acc_cols:
                            return None
                        acc_cols.add(onr)
        return tables, norm_links, kinds, acc_cols, extras, \
            jrenames

    def _chain_terminal(self, node: ast.CreateView, q, acc_cols: set):
        """The terminal over a join chain's output (``acc_cols``): a
        keyed Reduce (GROUP BY), a keyless Reduce (aggregates without
        GROUP BY; items may be scalar expressions around one aggregate,
        sum(x)/7.0), a Distinct or a projection Spine over plain
        columns. None when the SELECT list is out of shape."""
        from materialize_spark.streaming.retraction import (
            RetractionAwareAgg, RetractionAwareDistinct,
        )

        keys: list[str] = []
        aggs: dict[str, tuple[str, str]] = {}
        cols: list[str] = []
        exprs: dict[str, str] = {}
        global_agg = False
        post = None
        out_order = None
        out_names = None
        if q.distinct and q.group_by:
            return None  # DISTINCT + GROUP BY: out of shape
        if q.group_by:
            parsed = _grouped_items(q)
            if parsed is None:
                return None
            keys, aggs, exprs, out_order, mpost = parsed
            if mpost:
                post, out_order = mpost, None
        elif (q.items and not q.distinct and not q.having
              and _classify_keyless_items(q.items) is not None):
            # keyless (global) aggregate over the chain; items may be
            # scalar expressions around one aggregate (sum(x)/7.0)
            aggs, exprs, post = _classify_keyless_items(q.items)
            keys = ["__g"]
            global_agg = True
        else:
            if not all(it.is_column for it in q.items):
                return None
            cols = [it.expr for it in q.items]
            onames = [it.alias or it.expr for it in q.items]
            if len(set(onames)) != len(onames):
                return None  # duplicate output names
            if onames != cols:
                out_names = onames
            if not all(c in acc_cols for c in cols):
                return None
        having = q.having
        if having is not None:
            having = _having_over_aliases(having, aggs, exprs)
            if having is None:
                return None  # HAVING over unselected aggregates
        empty = self._body(node.name)
        if q.distinct:
            return Distinct(RetractionAwareDistinct(
                self.spark, cols=out_names or cols), cols, empty,
                names=out_names)
        if aggs:
            return Reduce(
                RetractionAwareAgg(self.spark, keys=keys, aggs=aggs),
                empty, exprs=exprs, post=post, having=having,
                out_order=None if global_agg else out_order,
                keyless=global_agg)
        # projection: the chain's output delta IS the published diff;
        # SELECT-list aliases rename chain columns at the output
        # boundary (WHERE spoke the chain names)
        return Spine(empty, cols, out_names)

    def _plan_delta_join(self, node: ast.CreateView, q,
                         renames: dict[str, str] | None = None) -> bool:
        """Equi-join delta MV (INNER / LEFT / FULL links), optionally
        with a grouped aggregate: maintained by the bilinear delta-join
        ΔA⋈B + A⋈ΔB + ΔA⋈ΔB — never a re-join of the histories — with
        null-padded anti parts for outer links, composed with
        RetractionAwareAgg for the GROUP BY form (reference
        src/compute/src/render/join/linear_join.rs; the q3/q5 'dim
        join + grouped sum' always-fresh shape). WHERE may reference
        any column of the joined output — it filters the chain's
        output delta."""
        # left-deep chain: t1 JOIN t2 ON .. [JOIN t3 ON ..]* — link i
        # joins the accumulated left side with tables[i+1] (the
        # reference's linear join plans compose the same way)
        parsed = self._normalize_join_chain(q)
        if parsed is None:
            return False
        tables, norm_links, kinds, acc_cols, extras, jrenames \
            = parsed
        if renames:
            acc_cols = {renames.get(c, c) for c in acc_cols}
        terminal = self._chain_terminal(node, q, acc_cols)
        if terminal is None:
            return False
        self._install(node, DeltaView(JoinFront(
            tables, norm_links, kinds, extras, jrenames,
            self._base_frame, renames=renames, where=q.where), terminal))
        return True

    def _commit(self, rel: str, delta: DataFrame | None, *,
                state: DataFrame | None = None,
                history: DataFrame | None = None) -> None:
        """The one commit path: every table write, source tick, REFRESH
        and delta-view publish hands ``rel``'s change here as one
        signed frame ``delta`` ``(cols..., diff)``, any nonzero diff,
        or ``None`` when no consumer wants it (``_wants_diffs``). In
        order:

        1. swap in ``state``: a table's new version, or a view's new
           result;
        2. append ``history`` (else ``delta``) to a view's RETAIN
           HISTORY log at its upper, creating the log on the view's
           first commit, and apply the view's window;
        3. feed ``delta`` to each of ``_dependents(rel)`` and commit
           the Change each returns (``_commit_change``) — stacked
           views compose as the reference imports an upstream
           arrangement into a dependent dataflow
           (src/compute/src/render.rs);
        4. recompute the query subscriptions over ``rel`` that no
           delta plan maintains, hand the commit's unit rows to its
           Kafka sinks and subscriptions, and advance the commit clock
           (waking blocked stream loops).

        The reference funnels every table write through one persist
        append, and its sinks read their input's deltas
        (src/storage/src/render): O(delta), never a snapshot diff."""
        from pyspark.sql import functions as F

        from materialize_spark.streaming.history import (
            TS_COL, RetainedHistory,
        )
        if state is not None:
            if rel in self._delta_mvs or rel in self._matview_sql:
                self._matviews[rel] = state
                self.catalog.create_view(rel, state)
                hist = self._histories.get(rel)
                if hist is None:
                    hist = self._histories[rel] = RetainedHistory()
                hist.append(delta if history is None else history,
                            hist.upper)
                self._compact_history(rel)
            else:
                self.catalog.register_table(rel, state)
        for name in self._dependents(rel):
            change = self._delta_mvs[name].feed(rel, delta)
            if change is not None:
                self._commit_change(name, change)
        for qname, qspec in list(self._query_subs.items()):
            if rel in qspec["deps"] and not qspec.get("busy"):
                qspec["busy"] = True  # a query sub never feeds itself
                try:
                    self._refresh_mv(ast.RefreshMV(qname), "")
                finally:
                    qspec["busy"] = False
        subs = [s for s in self._subscriptions.values()
                if s["node"].name == rel]
        sinks = [sp for sp in self._sinks.values()
                 if sp.get("kafka") and sp["from"] == rel]
        # no consumer: no Spark action — isEmpty() costs a job, and
        # this is the per-commit hot path of every write
        if delta is not None and (subs or sinks) \
                and not delta.isEmpty():
            units = lineage_break(expand(delta))
            if sinks:
                self._emit_kafka_sinks(sinks, units)
            stamped = None  # built lazily: only AS OF streams need it
            with self._commit_cond:
                for sub in subs:
                    if sub.get("stamp_ts"):
                        if stamped is None:
                            hist = self._histories.get(rel)
                            ts = (hist.upper - 1 if hist is not None
                                  and hist.upper > 0
                                  else self._commit_seq + 1)
                            stamped = units.withColumn(
                                TS_COL, F.lit(ts).cast("long"))
                        sub["queue"].append(stamped)
                    else:
                        sub["queue"].append(units)
        with self._commit_cond:
            self._commit_seq += 1
            self._commit_cond.notify_all()

    def _commit_change(self, name: str, change) -> None:
        """Commit the Change a delta view returns, through the one
        Change → frame conversion:

        - the view's first commit: its whole result at +1;
        - ``out_delta``: the operator's own consolidated delta, as is
          (projection-shaped join views hand the chain's signed frame
          straight through; the reference's MV sink reads its input
          arrangement's deltas, src/compute/src/sink/
          materialized_view.rs);
        - ``touched``+``keys``: consumers read the diff of the touched
          groups' rows, a null-safe probe of both states, O(touched
          groups), built only when a consumer wants it; the history
          keeps ``net_diff(result, old)`` (its docstring says why);
        - neither: ``net_diff(result, old)`` for both — the TopK
          projections that drop the group keys (k rows per group, so
          the result is small).
        """
        from pyspark.sql import functions as F
        result, old = change.result, self._matviews.get(name)
        history = None
        if old is None:
            delta = result.withColumn("diff", F.lit(1))
        elif change.out_delta is not None:
            delta = change.out_delta
        elif change.touched is not None and change.keys:
            from materialize_spark.streaming.retraction import _ns_probe
            history, delta = net_diff(result, old), None
            if self._wants_diffs(name):
                delta = net_diff(
                    _ns_probe(result, change.touched, change.keys),
                    _ns_probe(old, change.touched, change.keys))
        else:
            delta = net_diff(result, old)
        self._commit(name, delta, state=result, history=history)

    def _compact_history(self, name: str) -> None:
        """RETAIN HISTORY FOR n: keep the last n commit epochs of
        ``name`` readable via AS OF; older epochs are compacted into
        one snapshot (reference AlterRetainHistoryStatement — the
        duration maps to commit epochs under this logical clock)."""
        hist, window = self._histories[name], self._retain.get(name)
        if window is not None and hist.upper - 1 - window > hist.since:
            hist.compact(hist.upper - 1 - window)

    def _dependents(self, rel: str) -> list[str]:
        """The delta views whose ``inputs`` hold ``rel``, in creation
        order — so a planner-owned internal comes before its owner. The
        one commit fan-out, and the dependency check of DROP and
        RENAME."""
        return [n for n, v in self._delta_mvs.items()
                if n != rel and rel in v.inputs]

    def _create_view(self, node: ast.CreateView, sql: str):
        # PG requires SELECT on every base relation the body references —
        # without this, a role denied SELECT on t could launder access by
        # owning `CREATE VIEW v AS SELECT * FROM t` (reference rbac.rs
        # checks item privileges on the view's dependency closure).
        self._check_select_refs(node.body)
        if getattr(node, "maintenance", None) is not None:
            if node.maintenance != "delta":
                raise ValueError(
                    f"unknown MAINTENANCE mode {node.maintenance!r} "
                    "(supported: 'delta')")
            if not node.materialized:
                raise ValueError("MAINTENANCE applies to MATERIALIZED "
                                 "views")
            self._owners[node.name] = self._role
            self._apply_default_privs(node.name)
            self._matview_sql[node.name] = node.body
            self._create_delta_mv(node)
            return
        if _WMR_RE.match(node.body):
            # Recursive queries are batch-evaluated (SURVEY §2.8.9: WITH
            # MUTUALLY RECURSIVE is an accepted streaming gap — the
            # reference maintains LetRec dataflows incrementally,
            # src/compute/src/render/mod.rs rendering LetRec; this engine
            # re-runs the fixpoint per refresh). A continuously/scheduled-
            # maintained recursive MV would silently be stale, so it is
            # an explicit error; snapshot MVs (+ manual REFRESH) work.
            if not node.materialized:
                raise ValueError(
                    "CREATE VIEW over WITH MUTUALLY RECURSIVE is not "
                    "supported: recursive queries are batch-evaluated; "
                    "use CREATE MATERIALIZED VIEW (snapshot semantics, "
                    "re-run the fixpoint with REFRESH)")
            if node.refresh_every_s is not None:
                raise ValueError(
                    "streaming/scheduled maintenance (REFRESH EVERY) of "
                    "a WITH MUTUALLY RECURSIVE view is not supported: "
                    "recursive dataflows are batch-only here; drop the "
                    "REFRESH EVERY option and REFRESH explicitly")
        self._owners[node.name] = self._role
        self._apply_default_privs(node.name)
        df = self._eval_view_body(node.body)
        if node.materialized:
            # Batch MV: eagerly refreshed snapshot (REFRESH ON COMMIT
            # analog); the streaming maintenance path is
            # streaming.ivm.MaterializedView.
            from pyspark.sql import functions as F
            snap = lineage_break(df)
            # WMR bodies stay raw: _eval_view_body re-routes them through
            # the fixpoint evaluator (which rewrites each binding itself)
            self._matview_sql[node.name] = (
                node.body if _WMR_RE.match(node.body)
                else rewrite(node.body))
            self._commit(node.name, snap.withColumn("diff", F.lit(1)),
                         state=snap)
            if node.refresh_every_s is not None:
                # WITH (REFRESH EVERY ...) — reference RefreshSchedule
                # (refresh_schedule.rs + compute/src/sink/refresh.rs):
                # the MV refreshes on schedule ticks, not on commit.
                # Batch analog: record the period; the host drives
                # tick_refreshes() from its clock (Trigger.ProcessingTime
                # in the streaming path).
                import time as _t
                self._refresh_every[node.name] = (
                    float(node.refresh_every_s), _t.monotonic())
        else:
            self.catalog.create_view(node.name, df)
            self._view_sql[node.name] = rewrite(node.body)

    def _create_index(self, node: ast.CreateIndex, sql: str):
        df = self.catalog.table(node.on)
        # CREATE DEFAULT INDEX (or no column list): key on ALL columns —
        # the reference's default-index semantics.
        keys = node.keys if node.keys else list(df.columns)
        name = node.name or f"{node.on}_idx"
        self.catalog.create_index(name, df, *keys)
        # SHOW INDEXES bookkeeping: the indexed object and the cluster
        # the arrangement lives in (reference mz_indexes columns)
        self._index_meta[name] = (node.on, self._vars["cluster"])

    def _create_table_as(self, node: ast.CreateTableAs, sql: str):
        self._check_select_refs(node.body)  # same laundering guard as views
        self._owners[node.name] = self._role
        self._apply_default_privs(node.name)
        self.catalog.register_table(
            node.name,
            lineage_break(self.spark.sql(rewrite(node.body))))

    def _create_table(self, node: ast.CreateTable, sql: str):
        self._owners[node.name] = self._role
        self._apply_default_privs(node.name)
        if node.if_not_exists and node.name in self.catalog._tables:
            return None
        ddl = _pg_coldefs(node.coldefs, self._types)
        self.catalog.register_table(
            node.name, self.spark.createDataFrame([], ddl))

    def _create_sink(self, node: ast.CreateSink, sql: str):
        # CREATE SINK s FROM obj INTO FILE '<path>' [FORMAT f]
        # [ENVELOPE DEBEZIUM|UPSERT|NONE] — the reference's continuous
        # Kafka/Iceberg sink surface (src/storage-types/src/sinks.rs:
        # 137-140) mapped onto the file writers; the snapshot is written
        # now, REFRESH-driven deltas via sinks.writers.
        from materialize_spark.sinks.writers import write_sink_snapshot
        df = self.catalog.table(node.source)
        write_sink_snapshot(df, node.path, node.fmt, node.envelope)
        self._sinks[node.name] = {"from": node.source, "path": node.path,
                                  "format": node.fmt,
                                  "envelope": node.envelope}

    def _create_sink_kafka(self, node: ast.CreateSinkKafka, sql: str):
        # CREATE SINK ... INTO KAFKA CONNECTION c (TOPIC 't') [ENVELOPE
        # UPSERT|DEBEZIUM]: the snapshot is produced NOW with the
        # envelope's framing, and every subsequent commit against the
        # upstream object (INSERT/UPDATE/DELETE, REFRESH, delta-MV
        # publish) produces its diff continuously — the reference's
        # sink contract (src/storage-types/src/sinks.rs:137-140; sink
        # rendering src/storage/src/render), not a one-shot export.
        from materialize_spark.sinks.writers import (
            kafka_envelope_frames, write_kafka_wire,
        )
        conn = self._connections.get(node.connection)
        if conn is None:
            raise KeyError(f"unknown connection {node.connection!r}")
        bootstrap = conn.get("broker") or \
            f"{conn['host']}:{conn.get('port', 9092)}"
        df = self.catalog.table(node.source)
        key = node.key or df.columns[0]
        if node.fmt not in ("json", "avro"):
            raise ValueError(f"unsupported sink format {node.fmt!r} "
                             "(json | avro)")
        if node.envelope not in ("none", "upsert", "debezium"):
            raise ValueError(
                f"unsupported sink ENVELOPE {node.envelope!r} "
                "(none | upsert | debezium)")
        spec = {"from": node.source, "path": f"kafka://{node.topic}",
                "format": node.fmt, "envelope": node.envelope,
                "rows": 0, "kafka": True, "bootstrap": bootstrap,
                "topic": node.topic, "key": key}
        if node.fmt == "avro":
            # derive + register the value schema BEFORE producing
            # (reference sinks publish CSR-registered Avro,
            # src/interchange/src/avro). ENVELOPE DEBEZIUM registers
            # the nested before/after envelope schema; NONE/UPSERT the
            # flat row record.
            from materialize_spark.sources.avro import (
                spark_to_avro_schema, spark_to_debezium_avro_schema,
            )
            from materialize_spark.sources.schema_registry import (
                HttpSchemaRegistry,
            )
            csr_name = node.fmt_opts.get("csr_connection")
            csr = self._connections.get(csr_name)
            if csr is None or not csr.get("url"):
                raise KeyError(
                    f"unknown or URL-less CSR connection {csr_name!r}")
            derive = (spark_to_debezium_avro_schema
                      if node.envelope == "debezium"
                      else spark_to_avro_schema)
            schema_json, stringified = derive(df.schema)
            registry = HttpSchemaRegistry(str(csr["url"]))
            sid = registry.register_subject(f"{node.topic}-value",
                                            schema_json)
            spec.update({"schema_json": schema_json, "schema_id": sid,
                         "stringified": stringified})
        # snapshot emission at CREATE; afterwards every commit routes
        # its own diff rows here via _commit — the sink never
        # holds (or re-diffs against) a table snapshot again
        snap = lineage_break(df)
        for frame in self._kafka_sink_frames(spec, snap, None):
            spec["rows"] += write_kafka_wire(frame, bootstrap,
                                             node.topic)
        self._sinks[node.name] = spec

    def _kafka_sink_frames(self, spec: dict, adds, rets) -> list:
        """Envelope- and format-framed (key, value) record frames for
        one change batch, in produce order."""
        from pyspark.sql import functions as F

        from materialize_spark.sinks.writers import (
            kafka_envelope_frames,
        )
        if spec["format"] == "json":
            return kafka_envelope_frames(adds, rets, spec["key"],
                                         spec["envelope"])
        # avro: encode data columns as Confluent-framed records
        from materialize_spark.sources.avro import encode_avro_stream

        def prep(df):
            out = df
            for c in spec["stringified"]:
                out = out.withColumn(c, F.col(c).cast("string"))
            return out.withColumn("__key",
                                  F.col(spec["key"]).cast("string"))

        if spec["envelope"] == "debezium":
            # nested before/after change records (the reference's
            # Debezium Avro sink, src/interchange/src/avro): deletes
            # encode {before: row, after: null}, inserts the reverse
            from materialize_spark.sources.avro import (
                encode_avro_debezium_stream,
            )
            frames = []
            if rets is not None:
                frames.append(encode_avro_debezium_stream(
                    prep(rets), spec["schema_json"], spec["schema_id"],
                    key_col="__key", side="before"))
            frames.append(encode_avro_debezium_stream(
                prep(adds), spec["schema_json"], spec["schema_id"],
                key_col="__key", side="after"))
            return frames
        frames = []
        if rets is not None:
            if spec["envelope"] == "none":
                if not rets.isEmpty():
                    raise ValueError(
                        "ENVELOPE NONE Kafka sink cannot represent "
                        "retractions; recreate the sink with ENVELOPE "
                        "UPSERT")
            else:  # upsert: vanished keys tombstone
                gone = rets.join(adds.select(spec["key"]).distinct(),
                                 on=spec["key"], how="left_anti")
                frames.append(gone.select(
                    F.col(spec["key"]).cast("string").alias("key"),
                    F.lit(None).cast("binary").alias("value")))
        frames.append(encode_avro_stream(
            prep(adds), spec["schema_json"], spec["schema_id"],
            key_col="__key"))
        return frames

    def _emit_kafka_sinks(self, sinks: list[dict],
                          units: DataFrame) -> None:
        """Continuous emission: after a commit changes an object, every
        Kafka sink reading it produces the commit's OWN unit rows,
        envelope-framed. O(delta) — the Spark analog of the reference
        reading its sink's input arrangement deltas (src/storage/src/
        render); a sink on a huge object costs each commit only its
        change batch."""
        from pyspark.sql import functions as F

        from materialize_spark.sinks.writers import write_kafka_wire
        adds = units.filter(F.col("diff") > 0).drop("diff")
        rets = units.filter(F.col("diff") < 0).drop("diff")
        for spec in sinks:
            for frame in self._kafka_sink_frames(spec, adds, rets):
                spec["rows"] += write_kafka_wire(
                    frame, spec["bootstrap"], spec["topic"])

    def _source_stat(self, name: str, type_: str, *, status: str = "running",
                     error: str | None = None, messages: int | None = None,
                     snapshot: bool = True) -> None:
        """Record a source's health + counters for the mz_internal status
        relations (reference healthcheck.rs states: starting → running →
        stalled/failed; mz_source_statistics_raw counters).
        messages=None means "not knowable without a scan" — lazy file/
        loadgen registrations stay NULL like a statistic not yet
        reported."""
        self._source_stats[name] = {
            "type": type_, "status": status, "error": error,
            "messages": messages, "snapshot": snapshot and status == "running",
        }

    def _create_source_file(self, node: ast.CreateSourceFile, sql: str):
        fmt, path = node.fmt, node.path
        if fmt == "debezium":
            # FORMAT DEBEZIUM: JSON change events {before, after, op}
            # decoded into explicit diffs and consolidated to the current
            # collection (reference SourceEnvelope Debezium,
            # src/storage-types/src/sources/envelope.rs)
            from pyspark.sql import functions as F

            from materialize_spark.sources.envelopes import debezium_decode
            probe = self.spark.read.json(path)
            row_ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in probe.schema["after"].dataType.fields)
            updates = debezium_decode(
                self.spark.read.text(path), "value", row_ddl)
            data_cols = [c for c in updates.columns if c != "diff"]
            df = (updates.groupBy(*data_cols)
                  .agg(F.sum("diff").alias("__net"))
                  .filter(F.col("__net") > 0).drop("__net"))
        elif fmt == "csv":
            df = self.spark.read.csv(path, header=True)
        else:
            df = self.spark.read.format(fmt).load(path)
        self.catalog.register_table(node.name, df)
        self._source_tables.add(node.name)
        self._source_stat(node.name, fmt if fmt == "debezium" else "file")

    def _create_source_loadgen(self, node: ast.CreateSourceLoadgen, sql: str):
        from materialize_spark.sources.loadgen import load_generator
        kwargs = ({"scale_factor": node.scale_factor}
                  if node.scale_factor is not None else {})
        df = load_generator(self.spark, node.generator, **kwargs)
        self._source_stat(node.name, "load-generator")
        if isinstance(df, dict):
            # multi-output generator (TPCH): one subsource per table,
            # named <source>_<table> like the reference
            for sub, sdf in df.items():
                self.catalog.register_table(f"{node.name}_{sub}", sdf)
                self._source_tables.add(f"{node.name}_{sub}")
            return None
        self.catalog.register_table(node.name, df)
        self._source_tables.add(node.name)

    def _create_source_webhook(self, node: ast.CreateSourceWebhook, sql: str):
        # Webhook stand-in (reference statement.rs:52): a spool
        # directory; posts via MzSession.webhook(name).post(...)
        import tempfile

        from materialize_spark.sources.webhook import WebhookSource
        name = node.name
        src = WebhookSource(
            self.spark, tempfile.mkdtemp(prefix=f"mz_webhook_{name}_"),
            body_format=node.body_format)
        def _on_post(rec, n=name, s=src):
            from pyspark.sql import functions as F
            # the delivery IS the commit's diff frame, so delta MVs,
            # sinks, and subscriptions over the webhook source update on
            # every POST (reference webhook.rs appends land in persist
            # like any table write)
            row = (self.spark.createDataFrame(
                [(rec["body"], rec["headers"], rec["received_at"])],
                "body string, headers map<string,string>, "
                "received_at string")
                .withColumn("received_at",
                            F.col("received_at").cast("timestamp")))
            self._commit(n, row.withColumn("diff", F.lit(1)),
                         state=s.df())
            # received-message counter: one request = one message, an
            # O(1) increment (no per-POST scan of the spool)
            st = self._source_stats.get(n)
            got = (st["messages"] or 0) + 1 if st else 1
            self._source_stat(n, "webhook", messages=got)
        src.on_post = _on_post
        self._webhooks[name] = src
        self.catalog.register_table(name, src.df())
        self._source_tables.add(name)
        self._source_stat(name, "webhook", messages=0)

    def _create_source_kafka(self, node: ast.CreateSourceKafka, sql: str):
        # status-recording wrapper: a wire/decode failure leaves a
        # 'stalled' row with the error in mz_source_statuses (reference
        # healthcheck.rs keeps the last error for exactly this probe)
        try:
            self._create_source_kafka_impl(node, sql)
        except Exception as ex:
            self._source_stat(node.name, "kafka", status="stalled",
                              error=str(ex), snapshot=False)
            raise
        # the snapshot poll's raw record count, tombstones and replaced
        # values included (not the collection's row count)
        self._source_stat(node.name, "kafka",
                          messages=self._sources[node.name]["stream"].polled)

    def _create_source_kafka_impl(self, node: ast.CreateSourceKafka,
                                  sql: str):
        """CREATE SOURCE ... FROM KAFKA CONNECTION c (TOPIC 't') — the
        reference's primary source (sources.rs KafkaSourceConnection):
        drains the topic over the wire protocol (KafkaWireStream.poll:
        in the driver, or one Spark task per partition for a large
        topic), decodes per FORMAT, applies ENVELOPE, and registers the
        collection. The connection's SSL/SASL options ride into every
        fetch (connections.rs TLS + SASL surface)."""
        from materialize_spark.sources.tlsconf import connection_ssl_conf

        conn = self._connections.get(node.connection)
        if conn is None:
            raise KeyError(f"unknown connection {node.connection!r}")
        broker = conn.get("broker") or (
            f"{conn['host']}:{conn.get('port', 9092)}"
            if conn.get("host") else None)
        if broker is None:
            raise ValueError(
                f"connection {node.connection!r} has no BROKER/HOST")
        sasl = None
        if conn.get("sasl_username") is not None:
            sasl = (str(conn.get("sasl_mechanism",
                                 "SCRAM-SHA-256")).upper(),
                    conn["sasl_username"], conn.get("sasl_password", ""))
        want_headers = bool(node.include) and any(
            k == "headers" or k.startswith("header:")
            for k, _a in node.include)
        # continuous-ingestion handle: the snapshot IS the stream's
        # first poll, so the committed offset frontier starts exactly
        # past what the snapshot decoded (tick_sources polls onward)
        from materialize_spark.sources.kafka_wire import KafkaWireStream
        stream = KafkaWireStream(self.spark, broker, node.topic,
                                 ssl_conf=connection_ssl_conf(conn),
                                 sasl=sasl,
                                 include_headers=want_headers)
        frame = stream.poll(compact=node.envelope == "upsert")
        stream.commit()
        df, data_cols = self._kafka_decode_frame(node, frame)
        df = self._kafka_apply_envelope(node, df, data_cols)
        df = self._kafka_apply_include(node, df)
        self.catalog.register_table(
            node.name, df.localCheckpoint(eager=True))
        self._source_tables.add(node.name)
        self._sources = getattr(self, "_sources", {})
        tick_error = None
        if node.include is not None and node.envelope != "none":
            tick_error = (
                "continuous ingestion of this source is not supported: "
                "INCLUDE metadata under ENVELOPE "
                f"{node.envelope.upper()} cannot be merged "
                "incrementally; recreate the source without INCLUDE "
                "(or with ENVELOPE NONE)")
        self._sources[node.name] = {"flavor": "kafka",
                                    "topic": node.topic,
                                    "connection": node.connection,
                                    "stream": stream, "node": node,
                                    "tick_error": tick_error}

    def _kafka_decode_frame(self, node: ast.CreateSourceKafka, frame):
        """FORMAT decode of one wire frame (snapshot or tick batch) →
        (df, data_cols); the metadata columns (partition / offset /
        timestamp [/ headers]) survive alongside the decoded data."""
        from pyspark.sql import functions as F

        meta_cols = [c for c in ("partition", "offset", "timestamp",
                                 "headers") if c in frame.columns]
        data_cols = ["data"]
        if node.fmt == "json":
            # FORMAT JSON: one `data` text column of the JSON payload
            # (the reference's jsonb column), key as text
            df = frame.select(
                F.col("key").cast("string").alias("key"),
                F.col("value").cast("string").alias("data"),
                *meta_cols)
        elif node.fmt in ("bytes", "text"):
            df = frame.select(
                F.col("key").cast("string").alias("key"),
                (F.col("value") if node.fmt == "bytes"
                 else F.col("value").cast("string")).alias("data"),
                *meta_cols)
        elif node.fmt in ("avro", "protobuf"):
            df, data_cols = self._decode_csr_format(node, frame)
        elif node.fmt == "csv":
            # FORMAT CSV WITH n COLUMNS: columns column1..columnN
            # (reference csv.rs: positional names; wrong-arity rows are
            # decode errors — here they surface as NULL tail columns)
            n = int(node.fmt_opts["columns"])
            delim = node.fmt_opts.get("delimiter", ",")
            parts = F.split(F.col("value").cast("string"),
                            re.escape(delim))
            data_cols = [f"column{i}" for i in range(1, n + 1)]
            df = frame.select(
                F.col("key").cast("string").alias("key"),
                *[F.element_at(parts, i).alias(f"column{i}")
                  for i in range(1, n + 1)],
                *meta_cols)
        elif node.fmt == "regex":
            # FORMAT REGEX: capture groups become columns — named
            # groups by name, unnamed as column1..N (reference
            # encoding.rs RegexEncoding)
            pat = node.fmt_opts["regex"]
            compiled = re.compile(pat)
            names = {v: k for k, v in compiled.groupindex.items()}
            data_cols = [names.get(i, f"column{i}")
                         for i in range(1, compiled.groups + 1)]
            # Spark regexp_extract uses Java regex: strip the Python
            # (?P<name>) spelling down to Java's (?<name>)
            jpat = pat.replace("(?P<", "(?<")
            val = F.col("value").cast("string")
            df = frame.select(
                F.col("key").cast("string").alias("key"),
                *[F.nullif(F.regexp_extract(val, jpat, i), F.lit(""))
                  .alias(data_cols[i - 1])
                  for i in range(1, compiled.groups + 1)],
                *meta_cols)
        else:
            raise ValueError(
                f"unsupported FORMAT {node.fmt!r} (json | bytes | text "
                "| avro | protobuf | csv | regex)")
        return df, data_cols

    def _kafka_apply_envelope(self, node: ast.CreateSourceKafka, df,
                              data_cols: list[str]):
        """ENVELOPE applied over a decoded topic snapshot (tick
        batches use the incremental merges of _apply_source_batch
        instead). An UPSERT snapshot arrives compacted by the poll."""
        from pyspark.sql import functions as F
        if node.envelope == "upsert":
            df = self._upsert_live(df, data_cols)
        elif node.envelope == "debezium" and node.fmt == "avro" \
                and {"before", "after"} <= set(data_cols):
            # Debezium-enveloped AVRO: the CSR decode already produced
            # the nested before/after row structs (sink mirror:
            # encode_avro_debezium_stream) — fold change records to
            # explicit diffs and consolidate to the net collection
            rows_after = (df.filter(F.col("after").isNotNull())
                          .select("after.*").withColumn("diff", F.lit(1)))
            rows_before = (df.filter(F.col("before").isNotNull())
                           .select("before.*")
                           .withColumn("diff", F.lit(-1)))
            updates = rows_after.unionByName(rows_before)
            data_cols = [c for c in updates.columns if c != "diff"]
            df = (updates.groupBy(*data_cols)
                  .agg(F.sum("diff").alias("__net"))
                  .filter(F.col("__net") > 0).drop("__net"))
        elif node.envelope == "debezium":
            # values are Debezium change events {before, after, op}:
            # decode to explicit diffs and consolidate to the current
            # collection (same envelope the FILE source supports;
            # reference SourceEnvelope Debezium, envelope.rs) — THE
            # reference combo for database->Kafka pipelines
            from materialize_spark.sources.envelopes import debezium_decode
            if node.fmt != "json":
                raise ValueError(
                    "ENVELOPE DEBEZIUM requires FORMAT JSON (or FORMAT "
                    "AVRO USING CONFLUENT SCHEMA REGISTRY with the "
                    "nested before/after envelope schema)")
            vals = (df.filter(F.col("data").isNotNull())
                    .select(F.col("data").alias("value")))
            probe = self.spark.read.json(
                vals.rdd.map(lambda r: r.value))
            row_ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in probe.schema["after"].dataType.fields)
            updates = debezium_decode(vals, "value", row_ddl)
            data_cols = [c for c in updates.columns if c != "diff"]
            df = (updates.groupBy(*data_cols)
                  .agg(F.sum("diff").alias("__net"))
                  .filter(F.col("__net") > 0).drop("__net"))
        elif node.envelope != "none":
            raise ValueError(f"unsupported ENVELOPE {node.envelope!r} "
                             "(none | upsert | debezium)")
        return df

    @staticmethod
    def _upsert_live(df, data_cols: list[str]):
        """The live (key, data) rows of a batch compacted to one newest
        record per key: a tombstone (NULL value, so every decoded column
        NULL) deletes its key."""
        from functools import reduce

        from pyspark.sql import functions as F
        tomb = reduce(lambda a, b: a & b,
                      [F.col(c).isNull() for c in data_cols])
        return df.filter(~tomb).select("key", *data_cols)

    def _kafka_apply_include(self, node: ast.CreateSourceKafka, df):
        from pyspark.sql import functions as F
        if node.include is not None:
            # INCLUDE projection (reference KafkaMetadataKind,
            # src/storage-types/src/sources/kafka.rs:534-540): only the
            # requested metadata columns survive, under their aliases;
            # data columns always do. Requesting metadata the envelope
            # consumed (e.g. OFFSET after UPSERT collapsed it) errors.
            # HEADERS → the full list<record{key, value bytes}>;
            # HEADER 'k' [BYTES] → that one header's value (text unless
            # BYTES), NULL when the record lacks it.
            meta = dict(node.include)
            missing = [k for k in meta
                       if (k.split(":")[0] if k.startswith("header")
                           else k) not in df.columns
                       and not (k.startswith("header")
                                and "headers" in df.columns)]
            if missing:
                raise ValueError(
                    f"INCLUDE {', '.join(m.split(':')[0] for m in missing).upper()} "
                    f"not available under ENVELOPE {node.envelope.upper()}")
            sel = []
            if "key" in meta:
                sel.append(F.col("key").alias(meta["key"]))
            sel += [F.col(c) for c in df.columns
                    if c not in ("key", "partition", "offset",
                                 "timestamp", "headers")]
            sel += [F.col(k).alias(meta[k])
                    for k in ("partition", "offset", "timestamp")
                    if k in meta]
            if "headers" in meta:
                sel.append(F.col("headers").alias(meta["headers"]))
            for k, alias in node.include:
                if not k.startswith("header:"):
                    continue
                _tag, hkey, *rest = k.split(":")
                val = F.try_element_at(
                    F.filter(F.col("headers"),
                             lambda h: h["key"] == F.lit(hkey)),
                    F.lit(1))["value"]
                if "bytes" not in rest:
                    val = val.cast("string")
                sel.append(val.alias(alias))
            df = df.select(*sel)
        return df

    def tick_sources(self) -> list[str]:
        """Drive CONTINUOUS ingestion for SQL-created Kafka sources:
        poll each source's committed offset frontier, decode the new
        records, and apply them as an ordinary COMMIT — delta MVs,
        Kafka sinks, and open subscriptions all update through the
        same diff bus DML uses. Host-driven like tick_refreshes (the
        reference's source dataflows run continuously; kafka.rs
        consume → emit → advance the offset frontier — the batch
        analog is repeated bounded reads). Returns the names that
        ingested new records.

        A steady tick's poll fetches, counts and (under UPSERT)
        compacts its records in the driver, so emptiness and the
        ``messages`` counter come from ``stream.polled`` without a
        Spark job. ENVELOPE NONE appends the batch; UPSERT replaces
        the batch's keys, one job writing the new collection and its
        retractions; DEBEZIUM folds the batch's diffs into the
        collection's multiset."""
        self._apply_policy()
        advanced: list[str] = []
        for name, spec in list(getattr(self, "_sources", {}).items()):
            if spec.get("tick_error"):
                # non-tickable combination: note it in the status
                # relation once and keep ticking the other sources
                stat = self._source_stats.get(name)
                if stat is not None and not stat.get("error"):
                    stat["error"] = spec["tick_error"]
                continue
            if spec.get("cdc_tick"):
                tick = {"postgres": self._tick_cdc_postgres,
                        "mysql": self._tick_cdc_mysql,
                        "sqlserver": self._tick_cdc_sqlserver}[
                            spec["flavor"]]
                if tick(name, spec):
                    advanced.append(name)
                continue
            stream = spec.get("stream")
            if stream is None:
                continue
            node = spec["node"]
            batch = stream.poll(compact=node.envelope == "upsert")
            if not stream.polled:
                stream.commit()
                continue
            df, data_cols = self._kafka_decode_frame(node, batch)
            self._apply_source_batch(name, node, df, data_cols)
            stream.commit()
            stat = self._source_stats.get(name)
            if stat is not None and stat.get("messages") is not None:
                stat["messages"] += stream.polled
            advanced.append(name)
        return advanced

    def _tick_cdc_postgres(self, name: str, spec: dict) -> bool:
        """Continuous replication for a Postgres CDC source: re-read
        the slot/log, decode ONLY the frames past the applied LSN
        frontier, fold them into each captured subsource with the same
        snapshot⊎diff merge the CREATE handoff used, and publish each
        table's commit diffs (reference replication.rs: the slot
        stream keeps the table current after the snapshot)."""
        from pyspark.sql import functions as F

        from materialize_spark.sources.pgoutput import (
            decode_pgoutput_stream, pgoutput_to_diff,
        )
        conn = spec["conn"]
        if "host" in conn:
            from materialize_spark.sources.pg_replication import (
                read_pg_replication,
            )
            from materialize_spark.sources.tlsconf import (
                connection_ssl_conf,
            )
            log = read_pg_replication(
                self.spark, conn["host"], int(conn.get("port", 5432)),
                conn.get("slot", "mz_slot"),
                conn.get("publication", "mz_pub"),
                user=conn.get("user", "mz"),
                database=conn.get("database", "db"),
                ssl_conf=connection_ssl_conf(conn),
                dialer=self._ssh_dialer(conn))
        else:
            log = self.spark.read.parquet(conn["log"])
        fresh = log.filter(F.col("lsn") > spec["applied"])
        if fresh.isEmpty():
            return False
        hi = fresh.agg(F.max("lsn").alias("m")).collect()[0].m
        # relation metadata cached from CREATE: pgoutput Relation
        # messages precede the data frames, so mid-stream NEW tables
        # would need a re-snapshot anyway (reference behavior)
        env = decode_pgoutput_stream(fresh, relations=spec["rels"])
        moved = False
        for tname in spec["tables"]:
            rel = spec["rels_by_name"].get(tname)
            if rel is None:
                continue
            diff = pgoutput_to_diff(env, rel)
            if diff.isEmpty():
                continue
            self._apply_cdc_tick_diff(name, tname, diff,
                                      spec["keys"][tname])
            moved = True
        spec["applied"] = hi
        return moved

    def _apply_cdc_tick_diff(self, name: str, tname: str, diff,
                             keys: list[str]) -> None:
        """Fold one table's new replication diffs into its subsource
        and commit (shared by all three CDC tick flavors)."""
        from materialize_spark.sources.pgoutput import apply_cdc
        sub = f"{name}_{tname}"
        cur = self.catalog._tables[sub]
        new = apply_cdc(cur, diff, keys).localCheckpoint(eager=True)
        touched = diff.select(*keys).distinct()
        rets = cur.join(touched, on=keys, how="left_semi")
        adds = new.join(touched, on=keys, how="left_semi")
        self._commit(sub, signed(adds, rets), state=new)

    def _tick_cdc_mysql(self, name: str, spec: dict) -> bool:
        """Continuous binlog replication: decode only events past the
        applied position (table maps + column names cached from the
        CREATE handoff) and fold each table's diffs in."""
        from pyspark.sql import functions as F

        from materialize_spark.sources.mysql_binlog import (
            binlog_to_diff, decode_binlog_stream,
        )
        conn = spec["conn"]
        if "host" in conn:
            from materialize_spark.sources.mysql_wire import (
                read_mysql_binlog,
            )
            from materialize_spark.sources.tlsconf import (
                connection_ssl_conf,
            )
            log = read_mysql_binlog(
                self.spark, conn["host"], int(conn.get("port", 3306)),
                user=conn.get("user", "repl"),
                password=conn.get("password"),
                ssl_conf=connection_ssl_conf(conn),
                dialer=self._ssh_dialer(conn))
        else:
            log = self.spark.read.parquet(conn["log"])
        fresh = log.filter(F.col("pos") > spec["applied"])
        if fresh.isEmpty():
            return False
        hi = fresh.agg(F.max("pos").alias("m")).collect()[0].m
        env = decode_binlog_stream(fresh, table_maps=spec["maps"],
                                   columns=spec["names"])
        moved = False
        for tname, rel in spec["rels_by_table"].items():
            snap = self.catalog._tables[f"{name}_{tname}"]
            row_ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in snap.schema.fields)
            diff = binlog_to_diff(env, rel, row_ddl)
            if diff.isEmpty():
                continue
            self._apply_cdc_tick_diff(name, tname, diff,
                                      [snap.columns[0]])
            moved = True
        spec["applied"] = hi
        return moved

    def _tick_cdc_sqlserver(self, name: str, spec: dict) -> bool:
        """Continuous change-table replication: re-read each capture
        instance and fold only rows past the applied LSN (the
        40-hex-char string orders lexicographically)."""
        from pyspark.sql import functions as F

        from materialize_spark.sources.sqlserver_cdc import (
            changes_to_diff,
        )
        conn = spec["conn"]
        moved = False
        for tname, origin in spec["ct"].items():
            kind, path = origin
            if kind == "path":
                ct = self.spark.read.parquet(path)
            else:  # live TDS endpoint
                from materialize_spark.sources.tds_wire import (
                    read_sqlserver_ct,
                )
                from materialize_spark.sources.tlsconf import (
                    connection_ssl_conf,
                )
                ct = read_sqlserver_ct(
                    self.spark, conn["host"],
                    int(conn.get("port", 1433)), tname,
                    ssl_conf=connection_ssl_conf(conn),
                    user=conn.get("user", "mz"),
                    password=conn.get("password"))
            diff = changes_to_diff(ct).filter(
                F.col("lsn") > spec["applied"].get(tname, ""))
            if diff.isEmpty():
                continue
            hi = diff.agg(F.max("lsn").alias("m")).collect()[0].m
            self._apply_cdc_tick_diff(name, tname, diff,
                                      [diff.columns[0]])
            spec["applied"][tname] = hi
            moved = True
        return moved

    def _apply_source_batch(self, name: str,
                            node: ast.CreateSourceKafka, df,
                            data_cols: list[str]) -> None:
        """Merge one decoded tick batch into a source's collection per
        its ENVELOPE and commit its diff."""
        from pyspark.sql import functions as F
        old = self.catalog._tables[name]
        if node.envelope == "none":
            rows = self._kafka_apply_include(node, df)
            self.append_rows(name, rows)
            return
        if node.envelope == "upsert":
            if "key" not in old.columns:
                raise ValueError(
                    f"source {name!r}: incremental UPSERT merge needs "
                    "the key column in the collection")
            # The poll compacted the batch to one newest record per key;
            # keys match null-safely, so a NULL key is one key that a
            # later record replaces like any other. shuffle_hash: never a broadcast, whose hashed relation
            # outlived the tick; a task's is freed with the task. The
            # retractions are checkpointed with the new collection, one
            # job for both: a retraction join left lazy would sit in
            # each delta view's lazy maintenance chain, and the read
            # that finally runs the chain built one hashed relation
            # (32 MB pages) per tick in a single task, out of memory
            # after ~30 ticks on a 4 GB heap.
            keys = df.select(F.col("key").alias("__k")) \
                .hint("shuffle_hash")
            hit = old["key"].eqNullSafe(keys["__k"])
            rets = old.join(keys, hit, "left_semi") \
                .localCheckpoint(eager=False)
            adds = self._upsert_live(df, data_cols).select(*old.columns)
            new = (old.join(keys, hit, "left_anti")
                   .unionByName(adds).localCheckpoint(eager=False))
            new.unionByName(rets).count()
        elif node.envelope == "debezium":
            if node.fmt == "avro" \
                    and {"before", "after"} <= set(data_cols):
                adds = (df.filter(F.col("after").isNotNull())
                        .select("after.*"))
                rets = (df.filter(F.col("before").isNotNull())
                        .select("before.*"))
            else:
                from materialize_spark.sources.envelopes import (
                    debezium_decode,
                )
                vals = (df.filter(F.col("data").isNotNull())
                        .select(F.col("data").alias("value")))
                row_ddl = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in old.schema.fields)
                updates = debezium_decode(vals, "value", row_ddl)
                adds = (updates.filter(F.col("diff") > 0).drop("diff"))
                rets = (updates.filter(F.col("diff") < 0).drop("diff"))
            adds = adds.select(*old.columns)
            rets = rets.select(*old.columns)
            # multiset merge: net multiplicities decide survival
            new = (expand(threshold(old.withColumn("diff", F.lit(1))
                                    .unionByName(signed(adds, rets))))
                   .drop("diff").localCheckpoint(eager=True))
        else:
            raise ValueError(
                f"unsupported ENVELOPE {node.envelope!r} for ticks")
        self._commit(name, signed(adds, rets), state=new)

    def _decode_csr_format(self, node: ast.CreateSourceKafka, frame):
        """FORMAT AVRO | PROTOBUF USING CONFLUENT SCHEMA REGISTRY
        CONNECTION csr: resolve the topic's subject against the CSR
        connection's URL and decode the Confluent-framed payloads
        (reference encoding.rs:95-102 AvroEncoding/ProtobufEncoding +
        the src/ccsr client). Returns (decoded frame, data columns)."""
        import json as _json

        from pyspark.sql import functions as F

        from materialize_spark.sources.schema_registry import (
            HttpSchemaRegistry, SchemaRegistry, decode_confluent_stream,
        )

        csr_name = node.fmt_opts.get("csr_connection")
        csr = self._connections.get(csr_name)
        if csr is None:
            raise KeyError(f"unknown connection {csr_name!r}")
        if csr.get("url"):
            registry = HttpSchemaRegistry(str(csr["url"]),
                                          subject=f"{node.topic}-value")
        elif csr.get("path"):  # registry snapshot file backend
            registry = SchemaRegistry(path=str(csr["path"]))
        else:
            raise ValueError(
                f"connection {csr_name!r} has no URL (confluent "
                "schema registry connections need URL '...')")
        meta_cols = [c for c in ("partition", "offset", "timestamp",
                                 "headers") if c in frame.columns]
        base = frame.select(F.col("key").cast("string").alias("key"),
                            "value", *meta_cols)
        if node.fmt == "avro":
            out = decode_confluent_stream(base, "value", registry)
            data_cols = [c for c in out.columns
                         if c not in ("key", "partition", "offset",
                                      "timestamp", "headers")]
            return (out.select("key", *data_cols, *meta_cols),
                    data_cols)
        # protobuf: the subject stores the flat field-descriptor JSON
        # {"<field number>": ["<name>", "<type>"], ...} this package's
        # wire decoder consumes (sources/protobuf.py; the reference
        # resolves compiled .proto descriptors the same way)
        from materialize_spark.sources.protobuf import (
            decode_proto_stream,
        )
        if isinstance(registry, HttpSchemaRegistry):
            _sid, schema = registry.latest()
        else:
            schema = registry.schema_json(registry.latest_id())
        fields = {int(k): (v[0], v[1])
                  for k, v in _json.loads(schema).items()}
        # strip the Confluent frame (magic + schema id [+ message
        # indexes]) before the proto payload: framed CSR-protobuf
        # carries a zigzag message-index list, 0x00 for the first type
        stripped = base.withColumn(
            "value",
            F.when(F.col("value").isNotNull(),
                   F.expr("substring(value, 7)")).otherwise(F.lit(None)))
        # proto3 semantics: a missing scalar field IS its default
        # (0 / "" / false) — only tombstones (NULL payloads) yield NULLs
        out = decode_proto_stream(stripped, "value", fields,
                                  missing_as_null=False)
        # field-number order, matching proto_spark_schema
        data_cols = [name for _n, (name, _t) in sorted(fields.items())]
        return (out.select("key", *data_cols, *meta_cols), data_cols)

    def _create_source_cdc(self, node: ast.CreateSourceCdc, sql: str):
        # status-recording wrapper (see _create_source_kafka). Subsource
        # row counts are NOT taken here: their plans may replay a live
        # replication read, so the counter stays NULL (unreported).
        try:
            self._create_source_cdc_impl(node, sql)
        except Exception as ex:
            self._source_stat(node.name, node.flavor, status="stalled",
                              error=str(ex), snapshot=False)
            raise
        self._source_stat(node.name, node.flavor)

    def _create_source_cdc_impl(self, node: ast.CreateSourceCdc, sql: str):
        """CREATE SOURCE ... FROM POSTGRES|MYSQL|SQL SERVER CONNECTION —
        the reference's replication sources (sources.rs:694-700). No
        database servers exist in this sandbox, so the connection's
        options name the replication artifacts instead of a host (same
        emulation stance as the file-spool webhook): ``log`` is a
        parquet of (lsn, message) pgoutput frames / (pos, event) binlog
        frames, ``changes_<table>`` a parquet of a cdc.<t>_CT change
        table. Each captured table becomes the subsource
        ``<source>_<table>`` holding snapshot ⊎ log (current state),
        exactly the snapshot-then-replication handoff. Schemas come
        from the replication metadata itself (pgoutput Relation
        messages, change-table columns); MySQL's binlog carries no
        column names, so — like the reference reading
        information_schema out-of-band — the already-registered
        snapshot table supplies them."""
        from materialize_spark.sources.pgoutput import apply_cdc

        conn = self._connections.get(node.connection)
        if conn is None:
            raise KeyError(f"unknown connection {node.connection!r}")
        spark = self.spark

        def base_or_empty(tname: str, schema_df):
            try:
                return self.catalog.table(tname)
            except KeyError:
                return spark.createDataFrame([], schema_df.schema)

        wanted = set(node.tables) if node.tables else None
        registered = []
        if node.flavor == "postgres":
            from materialize_spark.sources.pgoutput import (
                collect_relations, decode_pgoutput_stream, pgoutput_to_diff,
            )
            if "host" in conn:
                # live endpoint: drain the replication slot over the
                # wire (pg_replication.py — the reference's
                # START_REPLICATION path, replication.rs:600+)
                from materialize_spark.sources.pg_replication import (
                    read_pg_replication,
                )
                from materialize_spark.sources.tlsconf import (
                    connection_ssl_conf,
                )
                log = read_pg_replication(
                    spark, conn["host"], int(conn.get("port", 5432)),
                    conn.get("slot", "mz_slot"),
                    conn.get("publication", "mz_pub"),
                    user=conn.get("user", "mz"),
                    database=conn.get("database", "db"),
                    ssl_conf=connection_ssl_conf(conn),
                    dialer=self._ssh_dialer(conn))
            else:
                log = spark.read.parquet(conn["log"])
            rels = collect_relations(log)
            env = decode_pgoutput_stream(log, relations=rels)
            rels_by_name: dict[str, dict] = {}
            keys_by_table: dict[str, list[str]] = {}
            for oid, rel in rels.items():
                if not isinstance(oid, int):
                    continue  # harvest metadata (relation_breaks)
                tname = rel["name"]
                if wanted is not None and tname not in wanted:
                    continue
                diff = pgoutput_to_diff(env, rel)
                keys = [c["name"] for c in rel["columns"] if c["is_key"]]
                keys = keys or [rel["columns"][0]["name"]]
                base = base_or_empty(tname, diff.drop("lsn", "seq", "diff"))
                self.catalog.register_table(
                    f"{node.name}_{tname}", apply_cdc(base, diff, keys))
                registered.append(tname)
                rels_by_name[tname] = rel
                keys_by_table[tname] = keys
            # continuous replication: ticks decode only frames past
            # this LSN frontier (the CREATE handoff applied the rest)
            from pyspark.sql import functions as F
            hi = log.agg(F.max("lsn").alias("m")).collect()[0].m
            tick_extra = {
                "cdc_tick": True, "conn": conn, "applied": hi or 0,
                "rels": rels, "rels_by_name": rels_by_name,
                "keys": keys_by_table}
        elif node.flavor == "mysql":
            from materialize_spark.sources.mysql_binlog import (
                binlog_to_diff, collect_table_maps, decode_binlog_stream,
            )
            if "host" in conn:
                # live endpoint: replica handshake + COM_BINLOG_DUMP
                # (mysql_wire.py — the reference's replica connection)
                from materialize_spark.sources.mysql_wire import (
                    read_mysql_binlog,
                )
                from materialize_spark.sources.tlsconf import (
                    connection_ssl_conf,
                )
                log = read_mysql_binlog(
                    spark, conn["host"], int(conn.get("port", 3306)),
                    user=conn.get("user", "repl"),
                    password=conn.get("password"),
                    ssl_conf=connection_ssl_conf(conn),
                    dialer=self._ssh_dialer(conn))
            else:
                log = spark.read.parquet(conn["log"])
            maps = collect_table_maps(log)
            # int keys are TABLE_MAPs; the string "checksum" key carries
            # the stream's binlog_checksum mode for the decoder
            tmes = [v for k, v in maps.items() if isinstance(k, int)]
            names = {}
            for tme in tmes:
                tname = tme["table"]
                if wanted is not None and tname not in wanted:
                    continue
                try:
                    snap = self.catalog.table(tname)
                except KeyError:
                    raise KeyError(
                        f"MySQL source needs snapshot table {tname!r} "
                        "registered for column names (binlog carries "
                        "none; the reference reads information_schema)")
                names[f"{tme['schema']}.{tname}"] = snap.columns
            env = decode_binlog_stream(log, table_maps=maps, columns=names)
            rels_by_table: dict[str, str] = {}
            for tme in tmes:
                tname = tme["table"]
                rel = f"{tme['schema']}.{tname}"
                if rel not in names:
                    continue
                snap = self.catalog.table(tname)
                row_ddl = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in snap.schema.fields)
                diff = binlog_to_diff(env, rel, row_ddl)
                self.catalog.register_table(
                    f"{node.name}_{tname}",
                    apply_cdc(snap, diff, [snap.columns[0]]))
                registered.append(tname)
                rels_by_table[tname] = rel
            from pyspark.sql import functions as F
            hi = log.agg(F.max("pos").alias("m")).collect()[0].m
            tick_extra = {"cdc_tick": True, "conn": conn,
                          "applied": hi or 0, "maps": maps,
                          "names": names,
                          "rels_by_table": rels_by_table}
        else:  # sqlserver
            from pyspark.sql import functions as F

            from materialize_spark.sources.sqlserver_cdc import (
                changes_to_diff,
            )
            ct_origins: dict[str, tuple[str, str | None]] = {}
            applied_by_table: dict[str, str] = {}

            def _note_ct(tname, origin, diff):
                ct_origins[tname] = origin
                m = diff.agg(F.max("lsn").alias("m")).collect()[0].m
                applied_by_table[tname] = m or ""

            if "host" in conn:
                # live endpoint: read cdc.<instance>_CT over TDS
                # (tds_wire.py — the reference's by-query CDC reads)
                from materialize_spark.sources.tds_wire import (
                    read_sqlserver_ct,
                )
                for tname in (node.tables or ()):
                    from materialize_spark.sources.tlsconf import (
                        connection_ssl_conf,
                    )
                    ct = read_sqlserver_ct(
                        spark, conn["host"], int(conn.get("port", 1433)),
                        tname, ssl_conf=connection_ssl_conf(conn),
                        user=conn.get("user", "mz"),
                        password=conn.get("password"))
                    diff = changes_to_diff(ct)
                    base = base_or_empty(
                        tname, diff.drop("lsn", "seq", "diff"))
                    self.catalog.register_table(
                        f"{node.name}_{tname}",
                        apply_cdc(base, diff, [diff.columns[0]]))
                    registered.append(tname)
                    _note_ct(tname, ("wire", None), diff)
                if not node.tables:
                    raise ValueError(
                        "SQL Server live sources need FOR TABLES (...) — "
                        "capture instances are named per table")
            prefix = "changes_"
            for key, path in conn.items():
                if not key.startswith(prefix):
                    continue
                tname = key[len(prefix):]
                if wanted is not None and tname not in wanted:
                    continue
                diff = changes_to_diff(spark.read.parquet(path))
                base = base_or_empty(tname, diff.drop("lsn", "seq", "diff"))
                self.catalog.register_table(
                    f"{node.name}_{tname}",
                    apply_cdc(base, diff, [diff.columns[0]]))
                registered.append(tname)
                _note_ct(tname, ("path", path), diff)
            tick_extra = {"cdc_tick": True, "conn": conn,
                          "ct": ct_origins,
                          "applied": applied_by_table}
        if wanted is not None and (missing := wanted - set(registered)):
            raise KeyError(
                f"tables not present in replication source: {sorted(missing)}")
        self._sources = getattr(self, "_sources", {})
        spec = {"flavor": node.flavor, "tables": registered}
        spec.update(tick_extra)  # every CDC flavor ticks (frontier etc.)
        self._sources[node.name] = spec

    def _create_secret(self, node: ast.CreateSecret, sql: str):
        # CREATE SECRET (reference CreateSecretStatement): opaque
        # session-scoped value, referenced by connections; never echoed.
        self._secrets[node.name] = node.value

    def _create_connection(self, node: ast.CreateConnection, sql: str):
        # CREATE CONNECTION name TO KAFKA (BROKER '...', ...) —
        # reference CreateConnectionStatement; options resolve SECRET
        # references and feed the matching reader/sink when used.
        parsed = {}
        for key, value, is_secret in node.options:
            parsed[key] = self._secrets[value] if is_secret else value
        self._connections[node.name] = {"type": node.kind, **parsed}

    def _ssh_dialer(self, conn: dict):
        """None, or a ``dialer(host, port) -> socket-like`` routing
        through the connection's ``SSH TUNNEL <name>`` reference
        (reference connections.rs: tunnel resolution happens when the
        owning connection dials)."""
        tname = conn.get("ssh_tunnel")
        if tname is None:
            return None
        tconn = self._connections.get(tname)
        if tconn is None or tconn.get("type") != "ssh-tunnel":
            raise KeyError(
                f"unknown ssh-tunnel connection {tname!r}")
        from materialize_spark.sources.ssh_tunnel import tunnel_dialer
        return tunnel_dialer(tconn)

    def _validate(self, node: ast.Validate, sql: str):
        """VALIDATE CONNECTION: dial the endpoint NOW and error if it is
        unreachable (reference ValidateConnectionStatement — connection
        creation is validated eagerly unless WITH (VALIDATE false)).
        ssh-tunnel connections run the FULL client handshake (kex +
        host key verification + auth), not just a TCP connect."""
        import socket

        conn = self._connections.get(node.name)
        if conn is None:
            raise KeyError(f"unknown connection {node.name!r}")
        host = conn.get("host")
        if host is None:
            return None  # file-backed connection: nothing to dial
        if conn.get("type") == "ssh-tunnel":
            from materialize_spark.sources.ssh_tunnel import (
                tunnel_dialer,
            )
            try:
                # tunnel_dialer's client constructor performs kex,
                # host-key pinning and auth; opening no channel
                import base64
                from materialize_spark.sources.ssh_tunnel import (
                    SshTunnelClient,
                )
                hk = conn.get("host_key")
                cli = SshTunnelClient(
                    host, int(conn.get("port", 22)),
                    user=conn.get("user", "mz"),
                    password=conn.get("password", ""),
                    host_key=(base64.b64decode(hk)
                              if isinstance(hk, str) else hk))
                cli.close()
            except (OSError, ConnectionError, PermissionError) as ex:
                raise ConnectionError(
                    f"connection {node.name!r} failed validation "
                    f"({host}): {ex}") from ex
            return None
        defaults = {"kafka": 9092, "postgres": 5432, "mysql": 3306,
                    "sql-server": 1433, "sqlserver": 1433}
        port = int(conn.get("port", defaults.get(conn["type"], 0)))
        try:
            sock = socket.create_connection((host, port), timeout=5)
            # SSL options on the connection → validation dials TLS too
            # (reference: connection validation exercises the configured
            # TLS mode, src/storage-types/src/connections.rs)
            from materialize_spark.sources.tlsconf import (
                client_context, connection_ssl_conf,
            )
            ctx = client_context(connection_ssl_conf(conn))
            if ctx is not None:
                sock = ctx.wrap_socket(sock, server_hostname=host)
            sock.close()
        except OSError as ex:
            raise ConnectionError(
                f"connection {node.name!r} failed validation "
                f"({host}:{port}): {ex}") from ex
        return None

    # -- DROP / DML ---------------------------------------------------------
    def _drop(self, node: ast.Drop, sql: str):
        """DROP with PG IF EXISTS semantics: DROP of a missing object
        errors; IF EXISTS makes it a no-op."""
        if node.kind == "role":
            if node.name == "materialize":
                raise PermissionError("cannot drop the superuser role")
            if node.name not in self._roles and not node.if_exists:
                raise KeyError(f"unknown role {node.name!r}")
            owned = [o for o, r in self._owners.items() if r == node.name]
            if owned:
                raise ValueError(
                    f"role {node.name!r} cannot be dropped because it "
                    f"owns {owned[0]!r} (REASSIGN OWNED or DROP OWNED "
                    "first)")
            self._roles.discard(node.name)
            self._grants = {g for g in self._grants if g[2] != node.name}
            self._memberships = {m for m in self._memberships
                                 if node.name not in m}
            self._role_vars.pop(node.name, None)
            self._default_privs = {
                d for d in self._default_privs
                if d[3] != node.name and d[0] != node.name}
            return None
        if node.kind == "cluster":
            if node.name not in self._clusters:
                if node.if_exists:
                    return None
                raise KeyError(f"unknown cluster {node.name!r}")
            if node.name == self._vars["cluster"]:
                raise PermissionError(
                    f"cannot drop the active cluster {node.name!r}")
            del self._clusters[node.name]
            return None
        if node.kind == "cluster replica":
            cl, _, rep = node.name.partition(".")
            c = self._clusters.get(cl)
            if c is None or rep not in c["replicas"]:
                if node.if_exists:
                    return None
                raise KeyError(f"unknown replica {node.name!r}")
            del c["replicas"][rep]
            return None
        if node.kind == "database":
            if node.name not in self._ns.databases:
                if node.if_exists:
                    return None
                raise KeyError(f"unknown database {node.name!r}")
            if not node.cascade:
                # PG semantics: plain DROP on a non-empty database errors;
                # only CASCADE takes the contained objects with it.
                for d, s in self._ns.schemas:
                    if d == node.name and self._mangled_objects(
                            f"__ns__{d}__{s}__"):
                        raise ValueError(
                            f"database {node.name!r} is not empty; "
                            "use DROP DATABASE ... CASCADE")
            for prefix in self._ns.drop_database(node.name):
                self._drop_mangled(prefix)
            return None
        if node.kind == "schema":
            db, _, name = node.name.rpartition(".")
            db = db or self._vars["database"]
            if (db, name) not in self._ns.schemas:
                if node.if_exists:
                    return None
                raise KeyError(f"unknown schema {db}.{name}")
            if not node.cascade and self._mangled_objects(
                    f"__ns__{db}__{name}__"):
                raise ValueError(
                    f"schema {db}.{name} is not empty; "
                    "use DROP SCHEMA ... CASCADE")
            self._drop_mangled(self._ns.drop_schema(db, name))
            return None
        if not self._superuser() \
                and self._owners.get(node.name, self._role) \
                not in self._active_roles():
            raise PermissionError(
                f"must be owner of {node.name} to drop it")
        if node.kind == "sink":
            if node.name not in self._sinks and not node.if_exists:
                raise KeyError(f"unknown sink {node.name!r}")
            self._sinks.pop(node.name, None)
            self._owners.pop(node.name, None)
            return None
        if node.kind == "secret":
            if node.name not in self._secrets and not node.if_exists:
                raise KeyError(f"unknown secret {node.name!r}")
            self._secrets.pop(node.name, None)
            self._owners.pop(node.name, None)
            return None
        if node.kind == "type":
            if node.name.lower() not in self._types \
                    and not node.if_exists:
                raise KeyError(f"unknown type {node.name!r}")
            self._types.pop(node.name.lower(), None)
            self._owners.pop(node.name, None)
            return None
        if node.kind == "network policy":
            if node.name not in self._network_policies \
                    and not node.if_exists:
                raise KeyError(f"unknown network policy {node.name!r}")
            if node.name == self._vars.get("network_policy"):
                raise PermissionError(
                    f"cannot drop the active network policy "
                    f"{node.name!r}")
            self._network_policies.pop(node.name, None)
            self._owners.pop(node.name, None)
            return None
        if node.kind == "connection":
            if node.name not in self._connections and not node.if_exists:
                raise KeyError(f"unknown connection {node.name!r}")
            self._connections.pop(node.name, None)
            self._owners.pop(node.name, None)
            return None
        # PG/reference dependency semantics: a relation that an
        # always-fresh view reads cannot be dropped out from under it
        # (the downstream would silently stop updating); CASCADE takes
        # the dependents with it.
        if not node.cascade:
            self._refuse_dependents(node.name, "drop",
                                    " (use DROP ... CASCADE)")
        self.catalog.drop(node.name, if_exists=node.if_exists)
        self._forget(node.name, cascade=True)

    def _refuse_dependents(self, rel: str, verb: str,
                           hint: str = "") -> None:
        """Raise when a delta view reads ``rel``: DROP, RENAME and SWAP
        of it would leave that view stale."""
        deps = self._dependents(rel)
        if deps:
            raise ValueError(f"cannot {verb} {rel!r}: delta-maintained "
                             f"view {deps[0]!r} depends on it{hint}")

    def _forget(self, name: str, cascade: bool = False) -> None:
        """Remove ``name`` and the planner-owned internal views it owns
        (``internal_deps``) from the catalog and every per-object
        store. ``cascade`` first drops the delta views that read it."""
        for dep in self._dependents(name) if cascade else ():
            if dep in self._delta_mvs:  # not already cascaded away
                self._forget(dep, cascade=True)
        view = self._delta_mvs.get(name)
        internals = view.internal_deps if view is not None else ()
        for n in (name, *internals):
            self._close_exec_sub(n)
            self.catalog.drop(n, if_exists=True)
            self._source_tables.discard(n)
            for store in self._object_stores:
                store.pop(n, None)
            # comments die with the object (reference: mz_comments rows
            # are keyed by object id; a dropped id takes its comments —
            # and its columns' comments, keyed "obj.col" — with it)
            for key in [k for k in self._comments
                        if k[1] == n or k[1].startswith(n + ".")]:
                del self._comments[key]

    def append_rows(self, table: str, rows) -> None:
        """Append ``rows`` (schema-aligned to ``table``) to a base table
        and commit the insertion as a +1 diff (``_commit``), which every
        delta-maintained MV over it folds in. Every append path — INSERT, COPY ... FROM '<path>', and
        the pgwire COPY ... FROM STDIN sub-protocol — must come through
        here: a write that bypasses the delta feed leaves always-fresh
        MVs permanently wrong (the reference funnels all table writes
        through one persist append, so its dataflows see every diff)."""
        from pyspark.sql import functions as F
        self._apply_policy()
        target = self.catalog._tables[table]
        # Align NAMES and TYPES to the table schema: VALUES literals
        # infer narrow types (INT for small ints), and a delta frame
        # whose key column type differs from the table's breaks every
        # type-sensitive downstream — xxhash64 spill-prefix pruning
        # above all (hash(INT 6) != hash(BIGINT 6): the probe would
        # silently miss the state partition).
        aligned = rows.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name)
              for f in target.schema.fields])
        # Tables are append-only multisets (reference INSERT semantics);
        # checkpoint so repeated inserts don't grow the plan.
        self._commit(table, aligned.withColumn("diff", F.lit(1)),
                     state=lineage_break(target.unionByName(aligned)))

    def _insert(self, node: ast.Insert, sql: str):
        self._check_priv("insert", node.table)
        target = self.catalog._tables[node.table]
        tail = node.body
        if tail.upper().startswith("VALUES"):
            rows = self.spark.sql(
                f"SELECT * FROM {rewrite(tail)}").toDF(*target.columns)
        else:
            rows = self.spark.sql(rewrite(tail)).toDF(*target.columns)
        self.append_rows(node.table, rows)

    def _update(self, node: ast.Update, sql: str):
        self._check_priv("update", node.table)
        # UPDATE t SET c = e, ... [WHERE p] (reference UpdateStatement,
        # src/sql-parser/src/ast/defs/statement.rs:526): rewrite every
        # row in one SELECT — assignments see the OLD row values
        # (simultaneous-assignment semantics), the result keeps the
        # column's original type.
        target = self.catalog._tables[node.table]
        assigns = {col.lower(): rewrite(expr)
                   for col, expr in node.assignments}
        pred = (f"coalesce(({rewrite(node.where)}), false)"
                if node.where else "true")
        types = {f.name.lower(): f.dataType.simpleString()
                 for f in target.schema.fields}
        exprs = []
        for c in target.columns:
            a = assigns.get(c.lower())
            if a is None:
                exprs.append(c)
            else:
                exprs.append(f"CASE WHEN {pred} THEN CAST(({a}) AS "
                             f"{types[c.lower()]}) ELSE {c} END AS {c}")
        new_target = lineage_break(target.selectExpr(*exprs))
        delta = None
        if self._wants_diffs(node.table):
            # The commit's diff derives from the PREDICATE, not a
            # table-wide anti-join: only matched rows change, so the
            # retractions are exactly `target WHERE pred` and the
            # insertions are those same rows with the assignments
            # applied — one filtered scan each, never O(table) exceptAll
            # (the reference writes the matched rows' (old,-1),(new,+1)
            # updates straight to persist the same way).
            rets = target.filter(pred)
            upd_exprs = []
            for c in target.columns:
                a = assigns.get(c.lower())
                upd_exprs.append(
                    c if a is None
                    else f"CAST(({a}) AS {types[c.lower()]}) AS {c}")
            delta = signed(rets.selectExpr(*upd_exprs), rets)
        self._commit(node.table, delta, state=new_target)

    def _delete(self, node: ast.Delete, sql: str):
        # DELETE FROM t [WHERE p] (reference DeleteStatement :558):
        # keep the rows where p is not TRUE (NULL predicate keeps).
        self._check_priv("delete", node.table)
        target = self.catalog._tables[node.table]
        kept = (target.limit(0) if node.where is None else
                target.filter(f"NOT coalesce(({rewrite(node.where)}), false)"))
        delta = None
        if self._wants_diffs(node.table):
            from pyspark.sql import functions as F
            # gone is by construction the predicate's complement of
            # `kept` — one filtered scan, never target.exceptAll(kept)
            # (a table-wide hash anti-join per watched DELETE)
            gone = (target if node.where is None else target.filter(
                f"coalesce(({rewrite(node.where)}), false)"))
            delta = gone.withColumn("diff", F.lit(-1))
        self._commit(node.table, delta, state=lineage_break(kept))

    # -- REFRESH / ALTER ----------------------------------------------------
    def _refresh_mv(self, node: ast.RefreshMV, sql: str):
        """REFRESH: re-evaluate a batch MV's body and commit the
        snapshot diff. Also the recompute-on-commit of a SUBSCRIBE
        query whose shape no delta plan maintains — the declared
        fallback cost class."""
        name = node.name
        if name in self._delta_mvs:
            return  # delta-maintained: always fresh, REFRESH is a no-op
        old = self._matviews[name]
        snap = lineage_break(self._eval_view_body(
            self._matview_sql[name]))
        self._commit(name, net_diff(snap, old), state=snap)

    def tick_refreshes(self, now: float | None = None) -> list[str]:
        """Drive the REFRESH EVERY schedules: refresh every MV whose
        period has elapsed since its last refresh, update its clock, and
        return the refreshed names. The host calls this from its own
        timer (the reference's refresh.rs sink does the equivalent on
        system-clock ticks; the Structured Streaming analog is
        Trigger.ProcessingTime driving the same recompute). ``now``
        overrides the monotonic clock for tests."""
        import time as _t

        self._apply_policy()
        now = _t.monotonic() if now is None else now
        refreshed = []
        for name, (period, last) in list(self._refresh_every.items()):
            if now - last >= period:
                self._refresh_mv(ast.RefreshMV(name), "")
                self._refresh_every[name] = (period, now)
                refreshed.append(name)
        return refreshed

    def _alter_add_column(self, node: ast.AlterAddColumn, sql: str):
        """ALTER TABLE t ADD COLUMN c <type>: appended nullable column,
        existing rows read NULL (reference AlterTableAddColumnStatement)."""
        from pyspark.sql import functions as F
        df = self.catalog._tables[node.table]
        if node.column in df.columns:
            raise ValueError(f"column {node.column!r} already exists")
        spark_type = _pg_coldefs(f"{node.column} {node.coltype}") \
            .split(" ", 1)[1]
        self.catalog.register_table(
            node.table,
            df.withColumn(node.column, F.lit(None).cast(spark_type)))

    def _comment(self, node: ast.Comment, sql: str):
        """COMMENT ON ... IS ...: session comment store, readable via the
        mz_comments introspection relation (reference mz_internal)."""
        key = (node.kind, node.name)
        if node.text is None:
            self._comments.pop(key, None)
        else:
            self._comments[key] = node.text

    def _alter_retain(self, node: ast.AlterRetain, sql: str):
        # ALTER MATERIALIZED VIEW v SET (RETAIN HISTORY FOR n)
        self._retain[node.name] = node.window
        self._compact_history(node.name)

    def _alter_rename(self, node: ast.AlterRename, sql: str):
        old, new = node.name, node.new_name
        # a dependent view's plan names ``old``: refuse rather than
        # leave it reading a relation that no longer exists
        self._refuse_dependents(old, "rename")
        for store in (self.catalog._views, self.catalog._indexes,
                      getattr(self.catalog._tables, "_loaded",
                              self.catalog._tables)):
            if old in store:
                df = store.pop(old)
                store[new] = df
                self.spark.catalog.dropTempView(old)
                df.createOrReplaceTempView(new)
                # session-side state follows the object across the rename
                for st in self._object_stores:
                    if old in st:
                        st[new] = st.pop(old)
                # push cursors follow the object too: commits publish
                # under the new name after the rename
                with self._commit_cond:
                    for s in self._subscriptions.values():
                        if s["node"].name == old:
                            s["node"].name = new
                # grants key on the object name too
                self._grants = {
                    (p, new if o == old else o, r)
                    for (p, o, r) in self._grants}
                # comments track the object across the rename (reference:
                # comments key on object id, which survives RENAME);
                # column comments keyed "obj.col" are rekeyed too
                for kind, name in [k for k in self._comments
                                   if k[1] == old
                                   or k[1].startswith(old + ".")]:
                    self._comments[(kind, new + name[len(old):])] = \
                        self._comments.pop((kind, name))
                return None
        raise KeyError(f"unknown object {old!r}")

    # -- SUBSCRIBE ----------------------------------------------------------
    def _subscribe(self, node: ast.Subscribe, sql: str):
        if getattr(node, "query", None):
            # one-shot SUBSCRIBE (SELECT ...) on the execute path:
            # evaluate the body and return its +1 snapshot, stateless —
            # the streaming/polling forms are subscribe_open (pgwire/WS
            # streams) and DECLARE c CURSOR FOR SUBSCRIBE (...)
            from pyspark.sql import functions as F
            self._check_select_refs(node.query)
            out = self._eval_view_body(node.query)
            out = (out if node.snapshot else out.limit(0)) \
                .withColumn("diff", F.lit(1))
            return self._shape_sub_batch(
                node, out, 1 if node.progress else None)
        if node.as_of is not None:
            # Time travel: updates strictly after AS OF, bounded below
            # UP TO when given (the reference's self-terminating subscribe).
            hist = self._histories[node.name]
            out = hist.subscribe_since(node.as_of)
            if node.up_to is not None:
                from pyspark.sql import functions as F

                from materialize_spark.streaming.history import TS_COL
                out = out.filter(F.col(TS_COL) < node.up_to)
            return out
        # Diff stream: first call emits the snapshot (+1 rows); later
        # calls DRAIN the object's internal push cursor — each commit's
        # own diff rows, queued by _commit, never an
        # exceptAll poll of the table (reference SUBSCRIBE = snapshot
        # then updates as frontiers advance). This is the single-poller
        # convenience path: all execute-path callers of one object
        # share the cursor. Concurrent pollers each DECLARE a named
        # cursor (DECLARE c CURSOR FOR SUBSCRIBE ...) — a private
        # subscription carrying the full stream. Output modifiers
        # (reference SubscribeOutput, src/sql/src/plan.rs:907-930)
        # shape each drained batch with THIS call's options.
        from pyspark.sql import functions as F

        frames: list = []
        delta = None
        sub_id = self._exec_subs.get(node.name)
        with self._commit_cond:
            sub = (self._subscriptions.get(sub_id)
                   if sub_id is not None else None)
            if sub is None:
                # first call: register the cursor and snapshot. WITH
                # (SNAPSHOT = false) suppresses the initial state; the
                # stream begins with changes after this call (plan.rs
                # SubscribeOptions.snapshot).
                cur = self.catalog.table(node.name)
                delta = (cur if node.snapshot else cur.limit(0)) \
                    .withColumn("diff", F.lit(1))
                self._sub_next_id += 1
                sub_id = self._sub_next_id
                sub = {"node": node, "queue": [], "ts": 0,
                       "stamp_ts": False, "seq0": self._commit_seq}
                self._subscriptions[sub_id] = sub
                self._exec_subs[node.name] = sub_id
            else:
                frames = sub["queue"]
                sub["queue"] = []
            ts = None
            if node.progress:
                sub["ts"] += 1
                ts = sub["ts"]
        if delta is None:
            if frames:
                delta = frames[0]
                for f in frames[1:]:
                    delta = delta.unionByName(f)
            else:  # nothing committed since the last drain
                delta = (self.catalog.table(node.name).limit(0)
                         .withColumn("diff", F.lit(1)))
        return self._shape_sub_batch(node, delta, ts)

    def _shape_sub_batch(self, node: ast.Subscribe, delta: DataFrame,
                         ts: int | None) -> DataFrame:
        """Apply a SUBSCRIBE's output modifiers to one diff batch.
        Output modifiers (reference SubscribeOutput, src/sql/src/
        plan.rs:907-930): WITHIN TIMESTAMP ORDER BY for deterministic
        per-batch presentation, ENVELOPE UPSERT / DEBEZIUM (KEY (...))
        for keyed change shapes, WITH (PROGRESS) frontier markers."""
        from pyspark.sql import functions as F
        out = delta
        if node.envelope:
            from materialize_spark.streaming.subscribe import (
                envelope_debezium, envelope_upsert)
            fn = (envelope_upsert if node.envelope == "upsert"
                  else envelope_debezium)
            out = fn(delta, node.envelope_keys)
        elif node.order_by:
            from materialize_spark.streaming.subscribe import (
                within_timestamp_order_by)
            out = within_timestamp_order_by(delta, *node.order_by)
        if node.progress:
            # WITH (PROGRESS): every batch additionally carries one
            # mz_progressed=true row whose data columns are NULL — the
            # frontier-advance marker that distinguishes "no changes"
            # from "no news" (plan.rs SubscribeOptions.progress). The
            # logical timestamp is the per-subscription batch counter.
            # PROGRESS composes with ENVELOPE / WITHIN TIMESTAMP ORDER BY:
            # the marker wraps whatever shape those modifiers produced.
            data = out.select(
                F.lit(ts).alias("mz_timestamp"),
                F.lit(False).alias("mz_progressed"),
                *[F.col(c) for c in out.columns])
            marker = self.spark.range(1).select(
                F.lit(ts).alias("mz_timestamp"),
                F.lit(True).alias("mz_progressed"),
                *[F.lit(None).cast(f.dataType).alias(f.name)
                  for f in out.schema.fields])
            return data.unionByName(marker)
        return out

    # -- push subscriptions (per-subscriber cursors) --------------------------
    def subscribe_open(self, sql: str) -> tuple[int, DataFrame,
                                                ast.Subscribe]:
        """Open a per-subscriber SUBSCRIBE cursor and return
        ``(sub_id, first_batch, node)``. The first batch is the
        snapshot (or the history since AS OF); afterwards every commit
        against the object appends its OWN diff frames to this
        subscription's queue — each subscriber owns a complete stream
        with its own frontier (reference: one dataflow sink per
        SUBSCRIBE, src/compute/src/sink/subscribe.rs). Callers drain
        with subscribe_poll() after wait_commit() signals, and MUST
        subscribe_close() when the stream ends.

        AS OF without UP TO streams on after its historical batch (the
        reference's semantics); AS OF ... UP TO is bounded — the
        returned cursor is closed already and polls return None."""
        from pyspark.sql import functions as F
        self._apply_policy()
        node = ast.Parser(sql).parse()
        if not isinstance(node, ast.Subscribe):
            raise ValueError("subscribe_open requires a SUBSCRIBE "
                             "statement")
        ephemeral = None
        if getattr(node, "query", None):
            # SUBSCRIBE (SELECT ...): plan the body as an ephemeral
            # maintained view (delta-maintained when the dispatcher
            # supports the shape, recompute-on-commit otherwise) and
            # subscribe to it; subscribe_close tears it down.
            node.name = ephemeral = self._open_query_sub(node.query)
        else:
            self._check_priv("select", node.name)
        bounded = node.up_to is not None
        with self._commit_cond:
            stamp_ts = False
            if node.as_of is not None:
                hist = self._histories[node.name]
                first = hist.subscribe_since(node.as_of)
                if node.up_to is not None:
                    from materialize_spark.streaming.history import TS_COL
                    first = first.filter(F.col(TS_COL) < node.up_to)
                # the historical batch carries mz_timestamp; later push
                # frames must be stamped with the same column so every
                # DataRow matches the RowDescription's field count
                stamp_ts = True
            else:
                cur = self.catalog.table(node.name)
                first = (cur if node.snapshot else cur.limit(0)) \
                    .withColumn("diff", F.lit(1))
            self._sub_next_id += 1
            sub_id = self._sub_next_id
            if not bounded:
                # seq0 is captured UNDER the commit lock while the
                # cursor registers: a commit landing while the caller
                # collects/sends the snapshot bumps the clock past seq0,
                # so the first wait_commit(seq0) returns immediately and
                # the queued frame is delivered — no lost wakeup.
                self._subscriptions[sub_id] = {
                    "node": node, "queue": [], "ts": 0,
                    "stamp_ts": stamp_ts, "seq0": self._commit_seq,
                    "ephemeral": ephemeral}
            elif ephemeral is not None:
                # bounded query subscription: the cursor never
                # registers, so record the ephemeral view for teardown
                # on the caller's subscribe_close
                self._eph_bounded[sub_id] = ephemeral
        ts = None
        if node.progress and not bounded:
            sub = self._subscriptions[sub_id]
            sub["ts"] += 1
            ts = sub["ts"]
        elif node.progress:
            ts = 1
        return sub_id, self._shape_sub_batch(node, first, ts), node

    def subscribe_poll(self, sub_id: int) -> DataFrame | None:
        """Drain a subscription's queued diff frames into one shaped
        batch, or None when nothing committed since the last poll.
        O(delta): the frames ARE the commits' diffs."""
        self._apply_policy()
        with self._commit_cond:
            sub = self._subscriptions.get(sub_id)
            if sub is None:
                return None
            frames = sub["queue"]
            if not frames:
                return None
            sub["queue"] = []
            if sub["node"].progress:
                sub["ts"] += 1
            ts = sub["ts"]
        delta = frames[0]
        for f in frames[1:]:
            delta = delta.unionByName(f)
        return self._shape_sub_batch(sub["node"], delta, ts)

    def subscribe_close(self, sub_id: int) -> None:
        self._apply_policy()
        with self._commit_cond:
            sub = self._subscriptions.pop(sub_id, None)
        eph = ((sub or {}).get("ephemeral")
               or self._eph_bounded.pop(sub_id, None))
        if eph is not None:
            # the ephemeral backing view and its internal views
            self._forget(eph)

    # -- SUBSCRIBE (SELECT ...): ephemeral query subscriptions ---------------
    def _open_query_sub(self, body: str) -> str:
        """Plan a SUBSCRIBE query body as an ephemeral maintained view
        and return its generated name. Delta-maintained when
        _plan_delta_mv accepts the shape (always-fresh, O(delta) per
        commit); otherwise recompute-on-commit over the body's base
        dependencies — honest about the cost, like the reference
        rendering any SUBSCRIBE relation as its own dataflow
        (src/compute/src/sink/subscribe.rs)."""
        from pyspark.sql import functions as F

        from materialize_spark.plans.select_ast import (
            parse_set_op_branches,
        )
        self._check_select_refs(body)
        self._subq_n += 1
        name = f"__subq{self._subq_n}"
        self._matview_sql[name] = body
        fake = ast.CreateView(name=name, body=body, materialized=True,
                              maintenance="delta", uid=self._uid(name))
        try:
            op, is_all, qs = parse_set_op_branches(body)
            if len(qs) > 1:
                self._plan_delta_setop(fake, qs, op, is_all)
            else:
                self._plan_delta_mv(fake, qs[0])
            return name
        except (ValueError, KeyError, ast.ParseError, LexError):
            pass  # shape not delta-maintainable: recompute on commit
        snap = lineage_break(self._eval_view_body(body))
        self._commit(name, snap.withColumn("diff", F.lit(1)), state=snap)
        self._query_subs[name] = {"deps": self._table_deps(body)}
        return name

    def _table_deps(self, body: str) -> set[str]:
        """Commit-publishing objects a query body depends on: tables
        and materialized views it references, expanded one level through
        plain-view definitions (a virtual view never publishes commits;
        its base tables do)."""
        from materialize_spark.plans.lexer import tokens as _tokens
        out: set[str] = set()
        frontier, seen = [body], set()
        while frontier:
            sql = frontier.pop()
            try:
                toks = _tokens(sql, lenient=True)
            except Exception:
                continue
            for t in toks:
                if t.kind != "WORD":
                    continue
                n = t.text.lower()
                if n in seen:
                    continue
                seen.add(n)
                if n in self.catalog._tables or n in self._matviews:
                    out.add(n)
                if n in self._view_sql:
                    frontier.append(self._view_sql[n])
        return out

    def _close_exec_sub(self, name: str) -> None:
        """Tear down an object's internal execute-path push cursor
        (dropped/renamed-away objects must not keep queueing frames)."""
        sid = self._exec_subs.pop(name, None)
        if sid is not None:
            self.subscribe_close(sid)

    def subscribe_seq(self, sub_id: int) -> int:
        """The commit sequence captured when the cursor registered —
        the stream loop's STARTING frontier. Using this (instead of
        commit_seq() read after the snapshot was collected and sent)
        closes the lost-wakeup window: a commit during the snapshot
        send bumps the clock past it, so wait_commit returns at once."""
        with self._commit_cond:
            sub = self._subscriptions.get(sub_id)
            return self._commit_seq if sub is None else sub["seq0"]

    def commit_seq(self) -> int:
        with self._commit_cond:
            return self._commit_seq

    def wait_commit(self, seq: int, timeout: float) -> int:
        """Block until the commit clock advances past ``seq`` (or the
        timeout elapses) and return the current sequence — the push
        wake-up stream loops use instead of polling the table."""
        with self._commit_cond:
            if self._commit_seq == seq:
                self._commit_cond.wait(timeout)
            return self._commit_seq

    def _wants_diffs(self, obj: str) -> bool:
        """True when some consumer (delta MV, Kafka sink, open
        subscription) needs this commit's explicit diff frames."""
        return (bool(self._dependents(obj))
                or any(sp.get("kafka") and sp["from"] == obj
                       for sp in self._sinks.values())
                or any(s["node"].name == obj
                       for s in self._subscriptions.values()))

    # -- COPY ---------------------------------------------------------------
    def _copy_to(self, node: ast.CopyTo, sql: str):
        from materialize_spark.sinks.writers import copy_to

        df = (self.spark.sql(rewrite(node.body)) if node.body
              else self.catalog.table(node.table))
        copy_to(df, node.path, node.fmt)

    def _copy_from(self, node: ast.CopyFrom, sql: str):
        # COPY t FROM '<path>' (reference CopyStatement, direction FROM):
        # bulk-append files into a table, schema-aligned to the target
        # (the reference's COPY FROM stdin analog for an engine whose
        # inputs are files).
        self._check_priv("insert", node.table)
        target = self.catalog._tables[node.table]
        reader = self.spark.read.schema(target.schema)
        rows = (reader.option("header", "true").csv(node.path)
                if node.fmt == "csv" else
                reader.json(node.path) if node.fmt == "json" else
                self.spark.read.parquet(node.path))
        self.append_rows(node.table, rows)

    # -- SHOW ---------------------------------------------------------------
    def _mangled_objects(self, prefix: str) -> list[str]:
        """Catalog objects living under a mangled-namespace prefix."""
        return [n for store in (self.catalog._tables,
                                self.catalog._views,
                                self.catalog._indexes)
                for n in list(store) if n.startswith(prefix)]

    def _drop_mangled(self, prefix: str) -> None:
        """Drop every catalog object under a mangled-namespace prefix
        (DROP ... CASCADE takes contained objects with it, and the
        delta views that read them)."""
        for n in set(self._mangled_objects(prefix)):
            self._forget(n, cascade=True)

    def _create_cluster(self, node: ast.CreateCluster, sql: str):
        if node.name in self._clusters:
            raise KeyError(f"cluster {node.name!r} already exists")
        self._clusters[node.name] = {
            "size": node.size or "1",
            "replicas": {f"r{i + 1}": {"size": node.size or "1"}
                         for i in range(node.replication_factor)},
        }

    def _create_cluster_replica(self, node: ast.CreateClusterReplica,
                                sql: str):
        c = self._clusters.get(node.cluster)
        if c is None:
            raise KeyError(f"unknown cluster {node.cluster!r}")
        if node.name in c["replicas"]:
            raise KeyError(
                f"replica {node.cluster}.{node.name!r} already exists")
        c["replicas"][node.name] = {"size": node.size or c["size"]}

    def _alter_cluster(self, node: ast.AlterCluster, sql: str):
        c = self._clusters.get(node.name)
        if c is None:
            raise KeyError(f"unknown cluster {node.name!r}")
        if node.size is not None:
            c["size"] = node.size
        if node.replication_factor is not None:
            # managed-cluster resize: grow adds rN replicas, shrink
            # drops the highest-numbered ones (reference ALTER CLUSTER
            # managed semantics)
            want = node.replication_factor
            reps = c["replicas"]
            for i in range(want):
                reps.setdefault(f"r{i + 1}", {"size": c["size"]})
            for name in [n for n in list(reps)
                         if n.startswith("r") and n[1:].isdigit()
                         and int(n[1:]) > want]:
                del reps[name]

    def _create_database(self, node: ast.CreateDatabase, sql: str):
        self._ns.create_database(node.name,
                                 if_not_exists=node.if_not_exists)

    def _create_schema(self, node: ast.CreateSchema, sql: str):
        db = node.database or self._vars["database"]
        self._ns.create_schema(db, node.name,
                               if_not_exists=node.if_not_exists)

    def _obj_exists(self, name: str) -> bool:
        c = self.catalog
        return (name in c._tables or name in c._views
                or name in c._indexes)

    def _resolve_names(self, sql: str) -> str:
        path = [s.strip() for s in
                self._vars["search_path"].split(",") if s.strip()]
        return self._ns.resolve_sql(sql, self._vars["database"], path,
                                    self._obj_exists)

    def _show(self, node: ast.Show, sql: str):
        kind = node.kind
        if kind == "clusters":
            rows = [(n, c["size"], len(c["replicas"]))
                    for n, c in sorted(self._clusters.items())]
            return self.spark.createDataFrame(
                rows, "name string, size string, replicas int")
        if kind == "cluster replicas":
            rows = [(cn, rn, r["size"])
                    for cn, c in sorted(self._clusters.items())
                    for rn, r in sorted(c["replicas"].items())]
            return self.spark.createDataFrame(
                rows, "cluster string, replica string, size string")
        if kind == "subsources":
            # SHOW SUBSOURCES [FROM src]: per-table subsources a CDC
            # source registered (reference ShowSubsources)
            srcs = getattr(self, "_sources", {})
            if node.in_db is not None:
                if node.in_db not in srcs:
                    raise KeyError(f"unknown source {node.in_db!r}")
                srcs = {node.in_db: srcs[node.in_db]}
            rows = [(f"{sn}_{t}", sn, "subsource")
                    for sn, s in sorted(srcs.items())
                    for t in sorted(s.get("tables", []))]
            return self.spark.createDataFrame(
                rows or [], "name string, source string, type string")
        if kind == "databases":
            return self.spark.createDataFrame(
                [(d,) for d in sorted(self._ns.databases)], "name string")
        if kind == "schemas":
            db = node.in_db or self._vars["database"]
            return self.spark.createDataFrame(
                [(s,) for d, s in sorted(self._ns.schemas) if d == db],
                "name string")
        if kind == "roles":
            return self.spark.createDataFrame(
                [(r,) for r in sorted(self._roles)], "name string")
        if kind == "sinks":
            rows = [(n, s["from"], s["format"], s["envelope"])
                    for n, s in sorted(self._sinks.items())]
            return self.spark.createDataFrame(
                rows or [], "name string, source string, format string,"
                            " envelope string")
        if kind == "sources":
            # every source kind, like the reference's mz_sources-backed
            # listing: webhook, wire (kafka/cdc), file, load-generator
            types: dict[str, str] = {n: "webhook" for n in self._webhooks}
            for n, s in sorted(getattr(self, "_sources", {}).items()):
                types[n] = s["flavor"]
            for n, st in self._source_stats.items():
                if st["status"] == "running":
                    types.setdefault(n, st["type"])
            return self.spark.createDataFrame(
                sorted(types.items()) or [], "name string, type string")
        if kind == "secrets":
            rows = [(n,) for n in sorted(self._secrets)]
            return self.spark.createDataFrame(rows or [], "name string")
        if kind == "privileges":
            # SHOW PRIVILEGES [FOR role]: explicit grants (owner/
            # superuser bypasses are implicit, like the reference's
            # mz_show_all_privileges surfacing only granted rows)
            rows = [(o, r, p) for (p, o, r) in sorted(
                self._grants, key=lambda g: (g[1], g[2], g[0]))
                if node.in_db is None or r == node.in_db]
            return self.spark.createDataFrame(
                rows or [], "object string, grantee string, "
                            "privilege string")
        if kind == "role membership":
            # SHOW ROLE MEMBERSHIP [FOR role]: the membership edges,
            # restricted to roles reachable from FOR's role when given
            if node.in_db is not None:
                reach = self._roles_reachable(node.in_db)
                rows = sorted((r, m) for (r, m) in self._memberships
                              if m in reach or m == node.in_db)
            else:
                rows = sorted(self._memberships)
            return self.spark.createDataFrame(
                rows or [], "role string, member string")
        if kind == "network policies":
            rows = [(n, ", ".join(r[0] for r in rs))
                    for n, rs in sorted(self._network_policies.items())]
            return self.spark.createDataFrame(
                rows or [], "name string, rules string")
        if kind == "types":
            # SHOW TYPES: (name, category) — list vs map, like the
            # reference's mz_types category column
            rows = [(n, "list" if t.startswith("array") else "map")
                    for n, t in sorted(self._types.items())]
            return self.spark.createDataFrame(
                rows or [], "name string, category string")
        if kind == "connections":
            rows = [(n, c["type"])
                    for n, c in sorted(self._connections.items())]
            return self.spark.createDataFrame(rows or [],
                                              "name string, type string")
        if kind == "objects":
            # SHOW OBJECTS: every catalog object with its type, the
            # reference's cross-kind listing (mz_objects as a statement)
            rows = ([(n, "source" if n in self._source_tables
                        else "table") for n in self.catalog._tables]
                    + [(n, "materialized-view" if n in self._matviews
                        else "view") for n in self.catalog._views]
                    + [(n, "index") for n in self.catalog._indexes]
                    + [(n, "sink") for n in self._sinks]
                    + [(n, "source") for n in getattr(self, "_sources", {})]
                    + [(n, "secret") for n in self._secrets]
                    + [(n, "connection") for n in self._connections])
            return self.spark.createDataFrame(
                sorted(rows), "name string, type string")
        if kind == "indexes":
            # SHOW INDEXES: (name, on, cluster, key) like the reference's
            # mz_indexes-backed listing; key is the arrangement's column
            # list. Indexes registered below the SQL surface (catalog
            # API) have no recorded object/cluster.
            rows = []
            for n in sorted(self.catalog._indexes):
                on, cluster = self._index_meta.get(n, ("", ""))
                key = ", ".join(self.catalog._index_keys.get(n, []))
                rows.append((n, on, cluster, key))
            if node.like is not None:
                pat = ("^" + re.escape(node.like).replace("%", ".*")
                       .replace("_", ".") + "$")
                rows = [r for r in rows if re.match(pat, r[0])]
            return self.spark.createDataFrame(
                rows or [],
                "name string, on string, cluster string, key string")
        names = {
            "views": sorted(n for n in self.catalog._views
                            if n not in self._matviews),
            "materialized views": sorted(self._matviews),
            "tables": sorted(self.catalog._tables),
        }[kind]
        if node.like is not None:
            # SQL LIKE pattern over object names (reference SHOW ... LIKE):
            # % = any run, _ = one char
            pat = ("^" + re.escape(node.like).replace("%", ".*")
                   .replace("_", ".") + "$")
            names = [n for n in names if re.match(pat, n)]
        return self.spark.createDataFrame([(n,) for n in names],
                                          "name string")

    def _show_create(self, node: ast.ShowCreate, sql: str):
        # SHOW CREATE [MATERIALIZED] VIEW|TABLE|SOURCE|SINK|INDEX|
        # CONNECTION — reference ShowCreate* statements return
        # (name, create_sql). Views render from their stored body; every
        # other object returns its original CREATE statement (the
        # reference reconstructs canonical SQL from the catalog; the
        # journaled statement IS this catalog's definition).
        name = node.name
        if name in self._matview_sql:
            create = (f"CREATE MATERIALIZED VIEW {name} AS "
                      f"{self._matview_sql[name]}")
        elif name in self._view_sql:
            create = f"CREATE VIEW {name} AS {self._view_sql[name]}"
        elif name in self._create_sql:
            create = self._create_sql[name]
        elif (name in self.catalog._views or name in self.catalog._tables
              or name in self.catalog._indexes):
            # registered through the DataFrame API, no SQL definition
            create = f"CREATE VIEW {name} AS <dataframe-defined>"
        else:
            raise KeyError(f"unknown object {name!r}")
        return self.spark.createDataFrame(
            [(name, create)], "name string, create_sql string")

    def _show_columns(self, node: ast.ShowColumns, sql: str):
        # SHOW COLUMNS FROM obj — (name, nullable, type) like the
        # reference's output, in schema position order.
        schema = self.catalog.table(node.table).schema
        return self.spark.createDataFrame(
            [(f.name, f.nullable, f.dataType.simpleString())
             for f in schema.fields],
            "name string, nullable boolean, type string")

    # -- EXPLAIN ------------------------------------------------------------
    def _explain_timestamp(self, node: ast.ExplainTimestamp, sql: str):
        # EXPLAIN TIMESTAMP (reference ExplainTimestampStatement):
        # the object's read frontiers — since (compaction) and upper
        # (write) — from its retained history when present, else the
        # always-readable [0, now) window of a static table.
        hist = self._histories.get(node.name)
        since = hist.since if hist is not None else 0
        upper = hist.upper if hist is not None else 0
        return self.spark.createDataFrame(
            [(node.name, since, upper, max(since, upper - 1))],
            "name string, since long, upper long, query_timestamp long")

    def _explain_maintenance(self, node: ast.ExplainMaintenance,
                             sql: str):
        """EXPLAIN MAINTENANCE FOR <delta MV>: render the
        maintained-operator tree the dispatcher assembled — the
        reference's EXPLAIN over an installed dataflow shows its
        per-operator incremental plans the same way
        (src/compute-types/src/plan/{reduce,top_k,join}.rs)."""
        view = self._delta_mvs.get(node.name)
        if view is None:
            if node.name in self._matviews:
                raise ValueError(
                    f"{node.name!r} is not delta-maintained (snapshot "
                    "/ REFRESH MV) — EXPLAIN MAINTENANCE applies to "
                    "WITH (MAINTENANCE 'delta') views")
            raise KeyError(f"unknown materialized view {node.name!r}")
        lines = self._render_maintenance(view)
        return self.spark.createDataFrame(
            [(i, ln) for i, ln in enumerate(lines)],
            "seq int, plan string")

    def _render_maintenance(self, view: DeltaView) -> list[str]:
        """One indented line per maintained operator, leaves last.
        Planner-internal upstreams (FROM-subquery desugar) inline their
        own subtree; user-created upstream MVs render as Imports."""
        def rel(t):
            if t.startswith(("__jsub_", "__ssub_", "__msub_",
                             "__psub_", "__sbr_")) \
                    and t in self._delta_mvs:
                sub = self._render_maintenance(self._delta_mvs[t])
                return "\n".join([f"Subplan {t} (planner-internal)"]
                                 + [f"  {ln}" for ln in sub])
            return f"Import {t} (upstream delta MV)" \
                if t in self._delta_mvs else f"Scan {t}"

        lines = view.explain(rel)
        out: list[str] = []
        for ln in lines:  # flatten inlined subplans, keeping indent
            if "\n" in ln:
                first, *rest = ln.split("\n")
                pad = " " * (len(first) - len(first.lstrip()))
                out.append(first)
                out.extend(pad + r for r in rest)
            else:
                out.append(ln)
        return out

    def _explain(self, node: ast.Explain, sql: str):
        # Reference EXPLAIN stages (doc/developer/101-query-compilation
        # .md:50-91): RAW = parsed logical plan, OPTIMIZED = after
        # Catalyst rewrites, PHYSICAL (default) = executable plan.
        # ANALYZE executes the query and reports per-operator runtime
        # metrics (the reference's EXPLAIN ANALYZE surface over
        # mz_introspection; here Spark's SQL metrics).
        df = self.spark.sql(rewrite(node.body))
        if node.stage == "ANALYZE":
            df.collect()
            qe = df._jdf.queryExecution()
            rows = []

            def walk(plan, depth):
                name = plan.nodeName()
                it = plan.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    metric = kv._2()
                    rows.append((depth, name, str(kv._1()),
                                 int(metric.value())))
                # AQE wraps the real tree in childless shims: descend
                # through AdaptiveSparkPlanExec.executedPlan and
                # QueryStageExec.plan explicitly
                if name.startswith("AdaptiveSparkPlan"):
                    walk(plan.executedPlan(), depth + 1)
                elif name.endswith("QueryStage"):
                    walk(plan.plan(), depth + 1)
                ch = plan.children().iterator()
                while ch.hasNext():
                    walk(ch.next(), depth + 1)

            walk(qe.executedPlan(), 0)
            return self.spark.createDataFrame(
                rows or [(0, "", "", 0)],
                "depth int, operator string, metric string, value long") \
                .filter("operator <> ''")
        if node.stage == "PUSHDOWN":
            # EXPLAIN FILTER PUSHDOWN (reference
            # ExplainPushdownStatement — which predicates reach storage
            # and prune parts before reading). Spark analog: per scan
            # node, the PushedFilters that reach the parquet reader
            # (row-group/page pruning) vs the DataFilters evaluated
            # post-scan; an empty pushdown on a filtered scan is the
            # smell the statement exists to catch.
            qe = df._jdf.queryExecution()
            rows = []

            def scan_walk(plan):
                name = plan.nodeName()
                if "Scan" in name:
                    src, pushed, post = name, "[]", "[]"
                    try:
                        # FileSourceScanExec: PushedFilters reach the
                        # parquet reader (row-group/page pruning)
                        md = plan.metadata()
                        it = md.iterator()
                        meta = {}
                        while it.hasNext():
                            kv = it.next()
                            meta[str(kv._1())] = str(kv._2())
                        src = meta.get("Location", name)
                        src = src.rstrip("]").rsplit("/", 1)[-1] \
                            if "/" in src else src
                        pushed = meta.get("PushedFilters", "[]")
                        post = meta.get("DataFilters", "[]")
                    except Exception:
                        # InMemoryTableScan (cached arrangement): its
                        # predicate list prunes cached batches by
                        # min/max stats — the arrangement-side pushdown
                        simple = str(plan.simpleString(20))
                        m = re.findall(r"\[([^\[\]]*)\]", simple)
                        if len(m) >= 2 and m[1].strip():
                            pushed = f"[{m[1]}]"
                    rows.append((src, pushed, post))
                if name.startswith("AdaptiveSparkPlan"):
                    scan_walk(plan.executedPlan())
                elif name.endswith("QueryStage"):
                    scan_walk(plan.plan())
                ch = plan.children().iterator()
                while ch.hasNext():
                    scan_walk(ch.next())

            scan_walk(qe.executedPlan())
            return self.spark.createDataFrame(
                rows or [("", "[]", "[]")],
                "source string, pushed_filters string, "
                "post_scan_filters string").filter("source <> ''")
        qe = df._jdf.queryExecution()
        # Stage map onto the reference pipeline (101-query-compilation
        # .md:50-91): RAW = parsed, DECORRELATED = name/subquery
        # resolution done but nothing rewritten (Catalyst's analyzed
        # plan), LOCALLY OPTIMIZED = per-object rewrites only — cached
        # arrangement substitution, no global optimization (Catalyst's
        # withCachedData), OPTIMIZED = the global optimizer's output,
        # PHYSICAL = executable.
        text = {
            "RAW": lambda: qe.logical().toString(),
            "DECORRELATED": lambda: qe.analyzed().toString(),
            "LOCALLY OPTIMIZED": lambda: qe.withCachedData().toString(),
            "OPTIMIZED": lambda: qe.optimizedPlan().toString(),
            "PHYSICAL": lambda: qe.executedPlan().toString(),
        }[node.stage]()
        return self.spark.createDataFrame(
            [(line,) for line in text.splitlines()], "plan string")

    # -- session statements -------------------------------------------------
    def _prepare(self, node: ast.Prepare, sql: str):
        # PREPARE name AS <stmt with $1..$n> (reference PrepareStatement;
        # the pgwire extended protocol surface)
        self._prepared[node.name] = node.body

    def _execute_prepared(self, node: ast.Execute, sql: str):
        if node.name not in self._prepared:
            return self._exec_peek(sql)
        text = self._prepared[node.name]
        for i in reversed(range(len(node.args))):  # $10 before $1
            text = text.replace(f"${i + 1}", node.args[i])
        return self.execute(text)

    def _deallocate(self, node: ast.Deallocate, sql: str):
        if node.name == "ALL":
            self._prepared.clear()
        else:
            self._prepared.pop(node.name, None)

    def _declare(self, node: ast.Declare, sql: str):
        # DECLARE c CURSOR FOR q / FETCH [n] c / CLOSE c (reference
        # Declare/Fetch/Close statements). A plain query materializes
        # on DECLARE and FETCH walks it in chunks. DECLARE ... FOR
        # SUBSCRIBE opens a PRIVATE per-cursor push subscription — the
        # reference's canonical polling idiom (DECLARE c CURSOR FOR
        # SUBSCRIBE ...; FETCH c): each named cursor owns the complete
        # diff stream, so concurrent pollers (e.g. two HTTP clients)
        # never split one stream between them.
        import re as _re
        if _re.match(r"\s*SUBSCRIBE\b", node.body, _re.I):
            sub_id, first, snode = self.subscribe_open(node.body)
            self._cursors[node.name] = {
                "sub": sub_id, "first": first, "node": snode,
                "schema": first.schema, "buf": []}
            return
        df = self.sql(node.body)
        self._cursors[node.name] = {"rows": df.collect(),
                                    "schema": df.schema, "pos": 0}

    def _fetch(self, node: ast.Fetch, sql: str):
        if node.cursor not in self._cursors:
            return self._exec_peek(sql)
        cur = self._cursors[node.cursor]
        if "sub" in cur:  # subscribe cursor: drain snapshot, then polls
            def next_batch():
                if cur["first"] is not None:
                    out = cur["first"]
                    cur["first"] = None
                    return out
                return self.subscribe_poll(cur["sub"])
            if node.count is None:  # FETCH ALL: the available batch
                out = next_batch()
                if cur["buf"]:
                    rows, cur["buf"] = cur["buf"], []
                    got = self.spark.createDataFrame(rows, cur["schema"])
                    return got if out is None else got.unionByName(out)
                return (out if out is not None else
                        self.spark.createDataFrame([], cur["schema"]))
            # FETCH n: chunked reads keep the remainder buffered
            while len(cur["buf"]) < node.count:
                out = next_batch()
                if out is None:
                    break
                cur["buf"].extend(out.collect())
            chunk, cur["buf"] = (cur["buf"][:node.count],
                                 cur["buf"][node.count:])
            return self.spark.createDataFrame(chunk, cur["schema"])
        n = len(cur["rows"]) if node.count is None else node.count
        chunk = cur["rows"][cur["pos"]:cur["pos"] + n]
        cur["pos"] += len(chunk)
        return self.spark.createDataFrame(chunk, cur["schema"])

    def _close(self, node: ast.Close, sql: str):
        if node.name not in self._cursors:
            return self._exec_peek(sql)
        cur = self._cursors.pop(node.name)
        if "sub" in cur:
            self.subscribe_close(cur["sub"])

    def _begin(self, node: ast.Begin, sql: str):
        # Transactions over an immutable-DataFrame catalog are snapshot
        # + restore: BEGIN snapshots the loaded table handles; ROLLBACK
        # reinstates them (DataFrames are immutable, so the snapshot is
        # O(names), not O(data)). Mirrors the reference's all-or-nothing
        # write transactions.
        if self._txn_snapshot is not None:
            raise ValueError("already inside a transaction")
        loaded = getattr(self.catalog._tables, "_loaded",
                         self.catalog._tables)
        self._txn_snapshot = dict(loaded)

    def _commit_txn(self, node: ast.Commit, sql: str):
        if self._txn_snapshot is None:
            raise ValueError("no transaction in progress")
        self._txn_snapshot = None

    def _rollback(self, node: ast.Rollback, sql: str):
        if self._txn_snapshot is None:
            raise ValueError("no transaction in progress")
        loaded = getattr(self.catalog._tables, "_loaded",
                         self.catalog._tables)
        for name in set(loaded) - set(self._txn_snapshot):
            self.spark.catalog.dropTempView(name)
            del loaded[name]
        for name, df in self._txn_snapshot.items():
            loaded[name] = df
            df.createOrReplaceTempView(name)
        self._txn_snapshot = None

    # -- queries ------------------------------------------------------------
    def _select_as_of(self, node: ast.SelectAsOf, sql: str):
        # SELECT * FROM v AS OF t: reconstruct the rows at epoch t from
        # the retained changelog.
        return self._histories[node.name].as_of(node.ts)

    def _table_stmt(self, node: ast.TableStmt, sql: str):
        # PG `TABLE t` shorthand for SELECT * FROM t
        return self.catalog.table(node.name)

    def _peek(self, node: ast.Peek, sql: str):
        return self._exec_peek(node.body)

    def _exec_peek(self, sql: str):
        """One-shot query path (the reference's peek): mz_catalog
        introspection, then PG-dialect rewrite into Catalyst under strict
        (ANSI) error semantics."""
        if _INTROSPECT.search(sql):
            self._register_introspection()
        self._check_select_refs(sql)
        # route the query to the active cluster's scheduler pool (with
        # spark.scheduler.mode=FAIR, pools give per-cluster isolation —
        # the serving analog of the reference running each query on the
        # session's cluster)
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", self._vars["cluster"])
        with self._strict():
            return self.spark.sql(self._resolve_custom_types(rewrite(sql)))

    # -- WITH MUTUALLY RECURSIVE --------------------------------------------
    def _wmr(self, node: ast.Wmr, sql: str) -> DataFrame:
        """WITH MUTUALLY RECURSIVE [(RETURN AT RECURSION LIMIT n)]
        b1 (cols) AS (q1), ... SELECT ...

        Reference semantics (MIR LetRec, src/expr/src/relation.rs:154;
        SQL surface test/sqllogictest/with_mutually_recursive.slt):
        bindings start empty, each iteration re-evaluates every binding IN
        ORDER — later bindings see earlier bindings' values from the same
        iteration — until all bindings reach a fixpoint, or until the
        RECURSION LIMIT, whose non-erroring RETURN AT form yields the
        state at that iteration (slt :39). Multiset semantics: any
        DISTINCT/UNION the query wants must be written in the bodies."""
        return self._wmr_fixpoint(node)[1]

    def _wmr_fixpoint(self, node: ast.Wmr, seed=None
                      ) -> tuple[dict, DataFrame]:
        """Run the LetRec fixpoint and return (binding fixpoints,
        final-query result). ``seed`` warm-starts the iteration from a
        previous fixpoint instead of empty bindings — sound for
        monotone bindings under insert-only base commits (the old
        fixpoint is below the new least fixpoint and the monotone
        iteration climbs from it; the reference's LetRec maintains the
        same way in differential dataflow by seeding with the changed
        diffs, src/expr/src/relation.rs:154)."""
        from materialize_spark.operators.letrec import let_rec

        bindings = node.bindings
        shadowed = [b[0] for b in bindings
                    if b[0] in self.catalog._tables or b[0] in
                    self.catalog._views]
        initial = seed if seed is not None else {
            name: self.spark.createDataFrame([], _pg_coldefs(coldefs))
            for name, coldefs, _ in bindings
        }

        def step(cur):
            env = dict(cur)
            for name, _coldefs, body in bindings:
                for k, v in env.items():
                    v.createOrReplaceTempView(k)
                env[name] = self.spark.sql(rewrite(body))
            return env

        result = let_rec(initial, step, distinct=False,
                         max_iter=node.limit or 100)
        for k, v in result.items():
            v.createOrReplaceTempView(k)
        out = self.spark.sql(rewrite(node.final))  # analyzed eagerly
        # un-shadow: binding names must not leak over catalog objects
        for name, _coldefs, _body in bindings:
            self.spark.catalog.dropTempView(name)
            if name in shadowed:
                self.catalog.table(name).createOrReplaceTempView(name)
        return result, out

    # node-type → handler (class attribute, bound per instance at call)
    # -- RBAC ----------------------------------------------------------------
    def _superuser(self) -> bool:
        return self._role == "materialize"

    def _roles_reachable(self, start: str) -> set[str]:
        """Roles reachable from ``start`` through membership edges —
        ``start`` plus every role it is a (transitive) member of."""
        out = {start}
        frontier = [start]
        while frontier:
            m = frontier.pop()
            for role, member in self._memberships:
                if member == m and role not in out:
                    out.add(role)
                    frontier.append(role)
        return out

    def _active_roles(self) -> set[str]:
        """The session role's privilege set: itself plus inherited roles
        (reference rbac.rs — Materialize roles always INHERIT, so a
        member exercises the granted role's privileges without SET
        ROLE)."""
        return self._roles_reachable(self._role)

    def _is_owner(self, obj: str) -> bool:
        return self._owners.get(obj) in self._active_roles()

    def _check_priv(self, priv: str, obj: str) -> None:
        """PG-style privilege check: superuser and owners bypass
        (ownership inherited via role membership); others need a grant
        to any active role (reference rbac.rs check flow)."""
        if self._superuser() or self._is_owner(obj):
            return
        if not any((priv, obj, r) in self._grants
                   for r in self._active_roles()):
            raise PermissionError(
                f"permission denied for {obj} (role {self._role!r} "
                f"lacks {priv.upper()})")

    def _check_select_refs(self, sql: str) -> None:
        """Peek-path enforcement: every catalog object the statement
        references needs SELECT. References = identifier tokens
        intersected with catalog names (the reference resolves names in
        planning and checks each; token-intersection reaches the same
        objects for any statement our catalog can satisfy)."""
        if self._superuser():
            return
        from materialize_spark.plans.lexer import tokens as _tokens
        known = set(self.catalog._tables) | set(self.catalog._views)
        try:
            toks = _tokens(sql, lenient=True)
        except Exception:
            return
        seen = set()
        for t in toks:
            if t.kind == "WORD":
                name = t.text.lower()
                if name in known and name not in seen:
                    seen.add(name)
                    self._check_priv("select", name)

    def _create_role(self, node: ast.CreateRole, sql: str):
        if node.name in self._roles:
            raise KeyError(f"role {node.name!r} already exists")
        self._roles.add(node.name)

    def _grant(self, node: ast.Grant, sql: str):
        if node.role not in self._roles:
            raise KeyError(f"unknown role {node.role!r}")
        for p in node.privileges:
            self._grants.add((p, node.object, node.role))

    def _revoke(self, node: ast.Revoke, sql: str):
        if node.role not in self._roles:
            raise KeyError(f"unknown role {node.role!r}")
        for p in node.privileges:
            self._grants.discard((p, node.object, node.role))

    def _grant_role(self, node: ast.GrantRole, sql: str):
        """GRANT <role> TO <member>: membership edge; PG/reference reject
        circular membership ("role X is a member of role Y")."""
        for r in node.roles + node.members:
            if r not in self._roles:
                raise KeyError(f"unknown role {r!r}")
        for role in node.roles:
            for member in node.members:
                if role == member:
                    raise ValueError(
                        f"role {role!r} cannot be a member of itself")
                if member in self._roles_reachable(role):
                    raise ValueError(
                        f"circular membership: role {member!r} is "
                        f"already a member of {role!r}")
                self._memberships.add((role, member))

    def _revoke_role(self, node: ast.RevokeRole, sql: str):
        for r in node.roles + node.members:
            if r not in self._roles:
                raise KeyError(f"unknown role {r!r}")
        for role in node.roles:
            for member in node.members:
                self._memberships.discard((role, member))

    # -- ownership administration --------------------------------------------
    def _object_kind(self, name: str) -> str | None:
        """Map a catalog name to its DROP-able kind (the SHOW OBJECTS
        taxonomy)."""
        if name in self._sinks:
            return "sink"
        if name in self.catalog._indexes:
            return "index"
        if name in self.catalog._views:
            return "view"  # DROP VIEW path covers matviews' state too
        if name in self.catalog._tables:
            return "source" if name in self._source_tables else "table"
        if name in getattr(self, "_sources", {}):
            return "source"
        if name in self._secrets:
            return "secret"
        if name in self._connections:
            return "connection"
        return None

    def _alter_owner(self, node: ast.AlterOwner, sql: str):
        """ALTER <kind> <name> OWNER TO <role> (reference
        AlterOwnerStatement; rbac.rs: requires current ownership or
        superuser, and the new owner must be an existing role)."""
        if self._object_kind(node.name) is None:
            raise KeyError(f"unknown object {node.name!r}")
        if node.new_owner not in self._roles:
            raise KeyError(f"unknown role {node.new_owner!r}")
        if not self._superuser() and not self._is_owner(node.name):
            raise PermissionError(
                f"must be owner of {node.name} to change its owner")
        self._owners[node.name] = node.new_owner

    def _alter_swap(self, node: ast.AlterSwap, sql: str):
        """ALTER <kind> a SWAP WITH b — atomic name exchange (reference
        AlterObjectSwapStatement, the blue/green cutover)."""
        for n in (node.name, node.other):
            if self._object_kind(n) is None:
                raise KeyError(f"unknown object {n!r}")
            if not self._superuser() and not self._is_owner(n):
                raise PermissionError(
                    f"must be owner of {n} to swap it")
            self._refuse_dependents(n, "swap")
        tmp = f"__swap_tmp_{node.name}"
        for old, new in ((node.name, tmp), (node.other, node.name),
                         (tmp, node.other)):
            self._alter_rename(ast.AlterRename(old, new), sql)

    def _reassign_owned(self, node: ast.ReassignOwned, sql: str):
        """REASSIGN OWNED BY old[, ...] TO new (reference
        ReassignOwnedStatement): every owned object changes owner."""
        for r in node.old_roles + [node.new_owner]:
            if r not in self._roles:
                raise KeyError(f"unknown role {r!r}")
        if not self._superuser():
            act = self._active_roles()
            missing = [r for r in node.old_roles + [node.new_owner]
                       if r not in act]
            if missing:
                raise PermissionError(
                    f"must be a member of {missing[0]!r} to reassign "
                    "its objects")
        for obj, owner in list(self._owners.items()):
            if owner in node.old_roles:
                self._owners[obj] = node.new_owner

    def _drop_owned(self, node: ast.DropOwned, sql: str):
        """DROP OWNED BY r[, ...]: drop all objects the roles own and
        revoke all their privileges (reference DropOwnedStatement)."""
        for r in node.roles:
            if r not in self._roles:
                raise KeyError(f"unknown role {r!r}")
        if not self._superuser():
            act = self._active_roles()
            missing = [r for r in node.roles if r not in act]
            if missing:
                raise PermissionError(
                    f"must be a member of {missing[0]!r} to drop its "
                    "objects")
        owned = [obj for obj, owner in self._owners.items()
                 if owner in node.roles]
        # dependency-safe order: sinks/indexes first, then views, then
        # base objects, then secrets/connections
        order = {"sink": 0, "index": 1, "view": 2, "table": 3,
                 "source": 3, "secret": 4, "connection": 4}
        kinds = [(obj, self._object_kind(obj)) for obj in owned]
        for obj, kind in sorted(
                (p for p in kinds if p[1] is not None),
                key=lambda p: order.get(p[1], 9)):
            self._drop(ast.Drop(kind, obj, if_exists=True,
                                cascade=node.cascade), sql)
            self._owners.pop(obj, None)
        self._grants = {g for g in self._grants
                        if g[2] not in node.roles}
        self._default_privs = {
            d for d in self._default_privs
            if d[3] not in node.roles and d[0] not in node.roles}

    # -- default privileges / role variables ----------------------------------
    def _alter_default_privs(self, node: ast.AlterDefaultPrivileges,
                             sql: str):
        if node.grantee not in self._roles:
            raise KeyError(f"unknown role {node.grantee!r}")
        if node.target_role is not None \
                and node.target_role not in self._roles:
            raise KeyError(f"unknown role {node.target_role!r}")
        entries = {(node.target_role, node.schema, p, node.grantee)
                   for p in node.privileges}
        if node.is_grant:
            self._default_privs |= entries
        else:
            self._default_privs -= entries

    def _apply_default_privs(self, name: str) -> None:
        """At CREATE time, materialize matching ALTER DEFAULT PRIVILEGES
        entries into concrete grants on the new object (PG rule: the
        defaults of the *creating* role apply)."""
        if not self._default_privs:
            return
        schema = self._vars.get("search_path", "public").split(",")[0] \
            .strip()
        for creator, sch, priv, grantee in self._default_privs:
            if creator is not None and creator != self._role:
                continue
            if sch is not None and sch not in (schema, "public"):
                continue
            self._grants.add((priv, name, grantee))

    def _alter_role_set(self, node: ast.AlterRoleSet, sql: str):
        if node.role not in self._roles:
            raise KeyError(f"unknown role {node.role!r}")
        if not node.var:
            return None  # attribute-only ALTER ROLE: accepted, no-op
        if node.var not in self._vars:
            raise KeyError(
                f"unrecognized configuration parameter {node.var!r}")
        if node.value is None:
            self._role_vars.get(node.role, {}).pop(node.var, None)
        else:
            if node.var == "timezone":
                self._check_timezone(node.value)
            self._role_vars.setdefault(node.role, {})[node.var] = \
                node.value

    def _discard(self, node: ast.Discard, sql: str):
        """DISCARD ALL resets the session to its startup state: prepared
        statements, cursors, session vars, role (reference
        DiscardStatement; PG DISCARD ALL)."""
        self._prepared.clear()
        self._cursors.clear()
        if node.what == "all":
            for n, (d, _desc) in self.VAR_DEFAULTS.items():
                self._vars[n] = self._system_vars.get(n, d)
            self._session_set.clear()
            self._role = "materialize"
            self._txn_snapshot = None
        return None

    def _alter_secret(self, node: ast.AlterSecret, sql: str):
        if node.name not in self._secrets:
            raise KeyError(f"unknown secret {node.name!r}")
        if not self._superuser() and not self._is_owner(node.name):
            raise PermissionError(
                f"must be owner of {node.name} to alter it")
        self._secrets[node.name] = node.value

    # -- sink schema / cluster placement ---------------------------------------
    @staticmethod
    def _avro_type(field) -> object:
        """Spark field → Avro schema type (reference avro encoding,
        src/interchange/src/avro (column_names_and_types); nullable
        columns become the ["null", t] union like the reference)."""
        s = field.dataType.simpleString()
        if s.startswith("decimal"):
            p, sc = s[8:-1].split(",")
            t: object = {"type": "bytes", "logicalType": "decimal",
                         "precision": int(p), "scale": int(sc)}
        elif s == "date":
            t = {"type": "int", "logicalType": "date"}
        elif s.startswith("timestamp"):
            t = {"type": "long", "logicalType": "timestamp-micros"}
        else:
            t = {"tinyint": "int", "smallint": "int", "int": "int",
                 "bigint": "long", "float": "float", "double": "double",
                 "string": "string", "boolean": "boolean",
                 "binary": "bytes"}.get(s, "string")
        return ["null", t] if field.nullable else t

    def _explain_sink_schema(self, node: ast.ExplainSinkSchema,
                             sql: str):
        """EXPLAIN KEY|VALUE SCHEMA FOR CREATE SINK: the Avro schema the
        sink would publish, WITHOUT creating it (reference
        ExplainSinkSchemaStatement, sql/src/plan/statement/ddl.rs)."""
        import json as _json

        from materialize_spark.plans.parser import parse_statement
        create = parse_statement(node.create_sql)
        if not isinstance(create, (ast.CreateSink, ast.CreateSinkKafka)):
            raise ValueError(
                "EXPLAIN ... SCHEMA expects a CREATE SINK statement")
        src = self.catalog.table(create.source)
        if node.which == "key":
            key = getattr(create, "key", None)
            if not key:
                raise ValueError(
                    f"sink {create.name!r} has no KEY; no key schema")
            fields = [f for f in src.schema.fields if f.name == key]
            name = f"{create.name}_key"
        else:
            fields = list(src.schema.fields)
            name = "envelope"
        doc = {"type": "record", "name": name,
               "fields": [{"name": f.name, "type": self._avro_type(f)}
                          for f in fields]}
        return self.spark.createDataFrame(
            [(_json.dumps(doc, indent=2),)], "schema string")

    def _alter_set_cluster(self, node: ast.AlterSetCluster, sql: str):
        """ALTER ... SET CLUSTER (reference AlterSetClusterStatement):
        reassign the object's dataflow to another cluster's pool."""
        if node.cluster not in self._clusters:
            raise KeyError(f"unknown cluster {node.cluster!r}")
        if self._object_kind(node.name) is None:
            raise KeyError(f"unknown object {node.name!r}")
        if node.name in self._index_meta:  # SHOW INDEXES stays in sync
            on, _c = self._index_meta[node.name]
            self._index_meta[node.name] = (on, node.cluster)
        self._object_clusters[node.name] = node.cluster

    # -- network policies ------------------------------------------------------
    def _create_network_policy(self, node: ast.CreateNetworkPolicy,
                               sql: str):
        """CREATE/ALTER NETWORK POLICY (reference
        CreateNetworkPolicyStatement / AlterNetworkPolicyStatement).
        Rules are validated eagerly: action must be 'allow' (the
        reference's only action), direction 'ingress', address a valid
        CIDR block."""
        import ipaddress
        if not node.replace and node.name in self._network_policies:
            raise KeyError(f"network policy {node.name!r} already exists")
        if node.replace and node.name not in self._network_policies:
            raise KeyError(f"unknown network policy {node.name!r}")
        for rname, action, direction, cidr in node.rules:
            if action != "allow":
                raise ValueError(
                    f"rule {rname!r}: unknown ACTION {action!r} "
                    "(only 'allow' is supported)")
            if direction != "ingress":
                raise ValueError(
                    f"rule {rname!r}: unknown DIRECTION {direction!r}")
            ipaddress.ip_network(cidr)  # raises ValueError on bad CIDR
        self._network_policies[node.name] = list(node.rules)

    def check_network(self, peer_ip: str) -> None:
        """Connection-time enforcement: the active policy (system var
        ``network_policy``) must contain an allow rule matching the
        peer address, else the connection is denied (reference adapter
        network-policy check, error 'session denied')."""
        import ipaddress
        policy = self._network_policies.get(
            self._vars.get("network_policy", "default"), [])
        addr = ipaddress.ip_address(peer_ip)
        for _rname, action, direction, cidr in policy:
            if action == "allow" and direction == "ingress" \
                    and addr in ipaddress.ip_network(cidr):
                return
        raise PermissionError(
            f"session denied by network policy for address {peer_ip}")

    # -- custom types ----------------------------------------------------------
    def _create_type(self, node: ast.CreateType, sql: str):
        """CREATE TYPE ... AS LIST/MAP (reference CreateTypeStatement;
        ddl.rs plan_create_type). Element/key/value types resolve
        through the PG-type map and may reference earlier custom types
        (the reference allows nested custom types the same way)."""
        if node.name.lower() in self._types:
            raise KeyError(f"type {node.name!r} already exists")
        from materialize_spark.plans.dialect import _PG_TYPES

        def res(t: str) -> str:
            t = t.lower()
            return self._types.get(t) or _PG_TYPES.get(t, t)

        if node.kind == "list":
            spark_t = f"array<{res(node.element)}>"
        else:
            key_t = res(node.key)
            if key_t.lower() not in ("string", "text"):
                # reference map keys must be text (ddl.rs)
                raise ValueError("MAP key type must be text")
            spark_t = f"map<string,{res(node.value)}>"
        self._types[node.name.lower()] = spark_t
        self._owners[node.name] = self._role

    def _resolve_custom_types(self, s: str) -> str:
        """Substitute registered custom type names at cast sites only
        (``CAST(x AS t)`` — the ``::t`` form already rewrote to CAST).
        The match requires the closing paren of the CAST and skips
        string literals, so a column alias (``SELECT 1 AS ctq_ints``)
        or literal text equal to a type name is left alone."""
        if not self._types:
            return s
        # odd split indices are quoted literals — never rewrite those
        parts = re.split(r"('(?:[^']|'')*')", s)
        for i in range(0, len(parts), 2):
            seg = parts[i]
            for name, typ in self._types.items():
                seg = re.sub(rf"(?i)(\bAS\s+){name}(?=\s*\))",
                             rf"\g<1>{typ}", seg)
            parts[i] = seg
        return "".join(parts)

    def _alter_connection(self, node: ast.AlterConnection, sql: str):
        if node.name not in self._connections:
            raise KeyError(f"unknown connection {node.name!r}")
        if not self._superuser() and not self._is_owner(node.name):
            raise PermissionError(
                f"must be owner of {node.name} to alter it")
        conn = self._connections[node.name]
        for k, v in node.sets.items():
            conn[k] = v
        for k in node.resets:
            conn.pop(k, None)

    def _set_var(self, node: ast.SetVar, sql: str):
        # unknown names error like the reference ("unrecognized
        # configuration parameter") rather than silently storing
        if node.name not in self._vars:
            raise KeyError(
                f"unrecognized configuration parameter {node.name!r}")
        if node.name == "database" \
                and node.value not in self._ns.databases:
            raise KeyError(f"unknown database {node.value!r}")
        if node.name == "network_policy" \
                and node.value not in self._network_policies:
            raise KeyError(
                f"unknown network policy {node.value!r}")
        if node.name == "cluster" and node.value not in self._clusters:
            raise KeyError(f"unknown cluster {node.value!r}")
        if node.name == "timezone":
            self._check_timezone(node.value)
        # the next statement's _apply_policy hands a new timezone to Spark
        self._vars[node.name] = node.value
        self._session_set.add(node.name)

    def _check_timezone(self, zone: str) -> None:
        """Refuse a zone Spark cannot resolve (the session timezone's own
        validity check), before any session value changes."""
        from pyspark.errors import PySparkException
        try:
            self.spark._jvm.org.apache.spark.sql.catalyst.util \
                .DateTimeUtils.getZoneId(zone)
        except PySparkException:
            raise ValueError(
                f"invalid value for parameter \"TimeZone\": {zone!r}"
            ) from None

    def _var_default(self, name: str) -> str:
        """The value a RESET restores: the ALTER SYSTEM overlay when one
        exists, else the built-in default (vars.rs precedence)."""
        return self._system_vars.get(name, self.VAR_DEFAULTS[name][0])

    def _reset_var(self, node: ast.ResetVar, sql: str):
        # RESET <var> / RESET ALL (PG + reference semantics): drop the
        # session override(s), restoring the system-level value
        names = (list(self._vars) if node.name == "all" else [node.name])
        if node.name != "all" and node.name not in self._vars:
            raise KeyError(
                f"unrecognized configuration parameter {node.name!r}")
        for n in names:
            self._session_set.discard(n)
            self._vars[n] = self._var_default(n)

    def _alter_system(self, node: ast.AlterSystem, sql: str):
        # ALTER SYSTEM SET name = value | ALTER SYSTEM RESET name
        # (reference AlterSystemSet/ResetStatement, vars.rs SystemVars):
        # moves the default layer; sessions that did not explicitly SET
        # the name observe the new value immediately.
        if self._role != "materialize":
            # reference: ALTER SYSTEM is superuser-only (vars.rs system
            # vars are mutable by mz_system/superusers, not plain roles)
            raise PermissionError(
                "permission denied for ALTER SYSTEM: superuser required")
        name = node.name
        if name not in self._vars:
            raise KeyError(
                f"unrecognized configuration parameter {name!r}")
        if node.value is None:
            self._system_vars.pop(name, None)
        else:
            if name == "network_policy" \
                    and node.value not in self._network_policies:
                raise KeyError(
                    f"unknown network policy {node.value!r}")
            if name == "timezone":
                self._check_timezone(node.value)
            self._system_vars[name] = node.value
        if name not in self._session_set:
            self._vars[name] = self._var_default(name)

    def _show_var(self, node: ast.ShowVar, sql: str):
        if node.name == "all":
            # SHOW ALL: (name, setting, description) like PG / the
            # reference's ShowAllStatement over the vars catalog
            rows = [(n, self._vars[n], self.VAR_DEFAULTS[n][1])
                    for n in sorted(self._vars)]
            return self.spark.createDataFrame(
                rows, "name string, setting string, description string")
        if node.name not in self._vars:
            raise KeyError(
                f"unrecognized configuration parameter {node.name!r}")
        return self.spark.createDataFrame(
            [(self._vars[node.name],)], f"{node.name} string")

    @staticmethod
    def _size_bytes(raw: str) -> int:
        """Parse a size variable value: bare int = bytes; kB/MB/GB
        suffixes accepted (vars.rs ByteSize values)."""
        raw = (raw or "0").strip()
        for suffix, mult in (("kb", 1024), ("mb", 1024 ** 2),
                             ("gb", 1024 ** 3), ("b", 1)):
            if raw.lower().endswith(suffix):
                try:
                    return int(float(raw[:-len(suffix)]) * mult)
                except ValueError:
                    return 0
        try:
            return int(raw)
        except ValueError:
            return 0

    def check_result_size(self, rows: list) -> list:
        """Enforce max_result_size on a collected result (the reference
        coordinator bounds peek results the same way, vars.rs
        max_result_size): estimated wire bytes must stay under the
        session's limit. Returns the rows unchanged when within budget."""
        limit = self._size_bytes(self._vars.get("max_result_size"))
        if limit <= 0:
            return rows
        total = 0
        for r in rows:
            for v in r:
                total += 8 if v is None else len(str(v))
            if total > limit:
                raise ValueError(
                    f"result exceeds max size of {limit} bytes")
        return rows

    def _set_role(self, node: ast.SetRole, sql: str):
        name = node.name or "materialize"
        if name not in self._roles:
            raise KeyError(f"unknown role {name!r}")
        self._role = name
        # ALTER ROLE ... SET defaults apply when the role activates,
        # unless the session explicitly SET the var (vars.rs precedence:
        # session > role > system > built-in)
        for var, val in self._role_vars.get(name, {}).items():
            if var not in self._session_set:
                self._vars[var] = val

    # statements that mutate session catalog state (queries, SHOWs,
    # cursors, and transactions are reads / transient)
    _JOURNALED_NAMES = (
        "CreateView", "CreateIndex", "CreateTableAs", "CreateTable",
        "CreateSink", "CreateSourceFile", "CreateSourceLoadgen",
        "CreateSourceWebhook", "CreateSourceCdc",
        "CreateSourceKafka", "CreateSecret",
        "CreateConnection", "Drop", "Insert", "Update", "Delete",
        "RefreshMV", "AlterRetain", "AlterRename", "AlterAddColumn",
        "Comment", "CopyFrom", "CreateRole", "Grant", "Revoke",
        "SetVar", "CreateDatabase", "CreateSchema", "CreateCluster",
        "CreateClusterReplica", "AlterCluster", "AlterSystem", "ResetVar",
        "GrantRole", "RevokeRole", "AlterOwner", "AlterSwap",
        "ReassignOwned", "DropOwned", "AlterDefaultPrivileges",
        "AlterRoleSet", "AlterSecret", "AlterConnection", "CreateType",
        "CreateNetworkPolicy", "AlterSetCluster",
    )

    def persist_catalog(self, path: str) -> None:
        """Write the DDL/DML journal. Together with the immutable base
        parquet, this is the session's durable catalog: replaying it
        reconstructs every object and its data."""
        import json as _json
        import os as _os
        _os.makedirs(_os.path.dirname(path) or ".", exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            _json.dump({"version": 1, "statements": self._journal}, f,
                       indent=1)
        _os.replace(tmp, path)  # atomic swap, like the reference's
        # durable catalog writing complete snapshots

    @classmethod
    def restore_catalog(cls, spark: SparkSession, sf_dir: str,
                        path: str, **kwargs) -> "MzSession":
        """Boot a session from a persisted journal: replay every
        journaled statement in order (the reference re-opens its durable
        catalog and re-creates dataflows on restart)."""
        import json as _json
        with open(path) as f:
            doc = _json.load(f)
        if doc.get("version") != 1:
            raise ValueError(f"unknown catalog version {doc.get('version')}")
        sess = cls(spark, sf_dir, **kwargs)
        for stmt in doc["statements"]:
            sess.execute(stmt)
        return sess

    _DISPATCH = {
        ast.CreateView: _create_view,
        ast.CreateIndex: _create_index,
        ast.CreateTableAs: _create_table_as,
        ast.CreateTable: _create_table,
        ast.CreateSink: _create_sink,
        ast.CreateSinkKafka: _create_sink_kafka,
        ast.CreateSourceFile: _create_source_file,
        ast.CreateSourceLoadgen: _create_source_loadgen,
        ast.CreateSourceWebhook: _create_source_webhook,
        ast.CreateSourceCdc: _create_source_cdc,
        ast.CreateSourceKafka: _create_source_kafka,
        ast.CreateSecret: _create_secret,
        ast.CreateConnection: _create_connection,
        ast.Validate: _validate,
        ast.Drop: _drop,
        ast.CreateDatabase: _create_database,
        ast.CreateSchema: _create_schema,
        ast.CreateCluster: _create_cluster,
        ast.CreateClusterReplica: _create_cluster_replica,
        ast.AlterCluster: _alter_cluster,
        ast.CreateRole: _create_role,
        ast.Grant: _grant,
        ast.Revoke: _revoke,
        ast.GrantRole: _grant_role,
        ast.RevokeRole: _revoke_role,
        ast.AlterOwner: _alter_owner,
        ast.AlterSwap: _alter_swap,
        ast.ReassignOwned: _reassign_owned,
        ast.DropOwned: _drop_owned,
        ast.AlterDefaultPrivileges: _alter_default_privs,
        ast.AlterRoleSet: _alter_role_set,
        ast.Discard: _discard,
        ast.AlterSecret: _alter_secret,
        ast.AlterConnection: _alter_connection,
        ast.CreateType: _create_type,
        ast.CreateNetworkPolicy: _create_network_policy,
        ast.ExplainSinkSchema: _explain_sink_schema,
        ast.AlterSetCluster: _alter_set_cluster,
        ast.SetRole: _set_role,
        ast.SetVar: _set_var,
        ast.ResetVar: _reset_var,
        ast.AlterSystem: _alter_system,
        ast.ShowVar: _show_var,
        ast.Insert: _insert,
        ast.Update: _update,
        ast.Delete: _delete,
        ast.RefreshMV: _refresh_mv,
        ast.AlterRetain: _alter_retain,
        ast.AlterRename: _alter_rename,
        ast.AlterAddColumn: _alter_add_column,
        ast.Comment: _comment,
        ast.Subscribe: _subscribe,
        ast.CopyTo: _copy_to,
        ast.CopyFrom: _copy_from,
        ast.Show: _show,
        ast.ShowCreate: _show_create,
        ast.ShowColumns: _show_columns,
        ast.ExplainTimestamp: _explain_timestamp,
        ast.Explain: _explain,
        ast.ExplainMaintenance: _explain_maintenance,
        ast.Prepare: _prepare,
        ast.Execute: _execute_prepared,
        ast.Deallocate: _deallocate,
        ast.Declare: _declare,
        ast.Fetch: _fetch,
        ast.Close: _close,
        ast.Begin: _begin,
        ast.Commit: _commit_txn,
        ast.Rollback: _rollback,
        ast.SelectAsOf: _select_as_of,
        ast.TableStmt: _table_stmt,
        ast.Wmr: _wmr,
        ast.Peek: _peek,
    }

    _JOURNALED = {getattr(ast, n) for n in _JOURNALED_NAMES}


    # -- introspection relations (mz_catalog) -------------------------------
    def _register_introspection(self) -> None:
        """Materialize the mz_catalog system relations from the live
        catalog as temp views, so plain SELECTs can query them (reference:
        mz_catalog.mz_tables / mz_views / mz_materialized_views /
        mz_indexes / mz_objects / mz_columns — the introspection schema
        documented under doc/user sql/system-catalog). Ids follow the
        reference's `u<N>` user-object scheme, assigned by name order —
        stable within a session snapshot."""
        cat = self.catalog
        objs = []  # (id, name, type)
        internal = ("__jsub_", "__ssub_", "__msub_", "__psub_",
                    "__setop_", "__sbr_")
        named = [("table", n) for n in cat._tables] + \
                [("materialized-view" if n in self._matviews else "view", n)
                 for n in cat._views
                 if not n.startswith(internal)] + \
                [("index", n) for n in cat._indexes]
        for i, (typ, name) in enumerate(sorted(named, key=lambda t: t[1])):
            # owner column (reference mz_objects.owner_id; names here —
            # this catalog keys roles by name). Unattributed objects
            # (DataFrame-API registrations) default to the superuser.
            objs.append((f"u{i + 1}", name, typ,
                         self._owners.get(name, "materialize")))
        spark = self.spark
        mk = spark.createDataFrame
        mk(objs or [("u0", "", "", "")],
           "id string, name string, type string, owner string") \
            .filter("id <> 'u0'").createOrReplaceTempView("mz_objects")
        for typ, rel in (("table", "mz_tables"), ("view", "mz_views"),
                         ("materialized-view", "mz_materialized_views"),
                         ("index", "mz_indexes")):
            rows = [(i, n) for (i, n, t, _o) in objs if t == typ]
            df = mk(rows or [("u0", "")], "id string, name string") \
                .filter("id <> 'u0'")
            if rel == "mz_indexes":
                key_rows = [(i, n, ", ".join(cat._index_keys.get(n, [])))
                            for (i, n, t, _o) in objs if t == typ]
                df = mk(key_rows or [("u0", "", "")],
                        "id string, name string, key string") \
                    .filter("id <> 'u0'")
            if rel == "mz_materialized_views":
                rows3 = [(i, n, self._matview_sql.get(n, ""))
                         for (i, n, t, _o) in objs if t == typ]
                df = mk(rows3 or [("u0", "", "")],
                        "id string, name string, definition string") \
                    .filter("id <> 'u0'")
            df.createOrReplaceTempView(rel)
        col_rows = []
        for oid, name, _typ, _own in objs:
            try:
                schema = cat.table(name).schema
            except KeyError:  # pragma: no cover
                continue
            for pos, f in enumerate(schema.fields, start=1):
                col_rows.append((oid, name, f.name, pos, f.nullable,
                                 f.dataType.simpleString()))
        mk(col_rows or [("u0", "", "", 0, True, "")],
           "id string, object_name string, name string, position int, "
           "nullable boolean, type string") \
            .filter("id <> 'u0'").createOrReplaceTempView("mz_columns")
        # connector relations (reference mz_catalog.mz_sources / mz_sinks)
        src_types: dict[str, str] = {n: "webhook" for n in self._webhooks}
        for n, s in getattr(self, "_sources", {}).items():
            src_types[n] = s["flavor"]
        for n, st in self._source_stats.items():
            if st["status"] == "running":
                src_types.setdefault(n, st["type"])
        src_ids = {n: f"s{i + 1}" for i, n in enumerate(sorted(src_types))}
        src_rows = [(src_ids[n], n, t) for n, t in sorted(src_types.items())]
        mk(src_rows or [("s0", "", "")],
           "id string, name string, type string") \
            .filter("id <> 's0'").createOrReplaceTempView("mz_sources")
        sink_rows = [(f"k{i + 1}", n, s["from"], s["format"], s["envelope"])
                     for i, (n, s) in enumerate(sorted(self._sinks.items()))]
        mk(sink_rows or [("k0", "", "", "", "")],
           "id string, name string, source string, format string, "
           "envelope string") \
            .filter("id <> 'k0'").createOrReplaceTempView("mz_sinks")
        # health + ingest-counter relations (reference
        # mz_internal.mz_source_statuses / mz_sink_statuses /
        # mz_source_statistics over healthcheck.rs status updates).
        # Stalled rows survive even when the CREATE failed — the status
        # history keeps the last error a broken source reported.
        stat_rows = [(src_ids.get(n, f"s{1000 + i}"), n, st["type"],
                      st["status"], st["error"])
                     for i, (n, st) in
                     enumerate(sorted(self._source_stats.items()))]
        mk(stat_rows or [("s0", "", "", "", None)],
           "id string, name string, type string, status string, "
           "error string") \
            .filter("id <> 's0'").createOrReplaceTempView(
                "mz_source_statuses")
        mk([(f"k{i + 1}", n, "running", None)
            for i, n in enumerate(sorted(self._sinks))]
           or [("k0", "", "", None)],
           "id string, name string, status string, error string") \
            .filter("id <> 'k0'").createOrReplaceTempView(
                "mz_sink_statuses")
        counter_rows = [
            (src_ids.get(n, f"s{1000 + i}"), n, bool(st["snapshot"]),
             st["messages"])
            for i, (n, st) in
            enumerate(sorted(self._source_stats.items()))]
        mk(counter_rows or [("s0", "", False, None)],
           "id string, name string, snapshot_committed boolean, "
           "messages_received bigint") \
            .filter("id <> 's0'") \
            .createOrReplaceTempView("mz_source_statistics")
        # statement history (reference mz_internal.mz_recent_activity_log
        # / statement logging): the session's bounded ring, oldest first
        act_rows = [(i + 1, *row) for i, row in enumerate(self._activity)]
        mk(act_rows or [(0, "", "", "", "", None, 0.0)],
           "id bigint, sql string, role string, cluster string, "
           "status string, error string, duration_ms double") \
            .filter("id <> 0").createOrReplaceTempView("mz_activity_log")
        # arrangement accounting (reference mz_internal.mz_arrangement_sizes:
        # per-arrangement operator memory). Spark analog: every persisted
        # base/secondary arrangement and CREATE INDEX cache, with its key,
        # shard count, and decoded size (parquet-footer bytes — what the
        # uncompressed columnar cache occupies; NULL when derived plans
        # make it unknowable without running a job).
        from materialize_spark.catalog import ARRANGE_KEYS, LazyTables
        arr_rows = []
        tabs = cat._tables
        if isinstance(tabs, LazyTables):
            for name, df in tabs._loaded.items():
                if not getattr(df.storageLevel, "useMemory", False):
                    continue
                if "_by_" in name:
                    base, key = name.split("_by_", 1)
                    kind = "index"
                else:
                    base, key = name, ARRANGE_KEYS.get(name, "")
                    kind = "base"
                arr_rows.append((name, key or "", kind,
                                 tabs.decoded_bytes(base) or None))
        for name, df in cat._indexes.items():
            arr_rows.append((name, ", ".join(cat._index_keys.get(name, [])),
                             "create_index", None))
        mk(arr_rows or [("", "", "", None)],
           "name string, key string, kind string, size_bytes bigint") \
            .filter("name <> ''").createOrReplaceTempView(
                "mz_arrangement_sizes")
        # COMMENT ON store (reference mz_internal.mz_comments)
        cm_rows = [(k, n, c) for (k, n), c in sorted(self._comments.items())]
        mk(cm_rows or [("", "", "")],
           "object_type string, name string, comment string") \
            .filter("object_type <> ''").createOrReplaceTempView(
                "mz_comments")
        # roles (reference mz_catalog.mz_roles)
        mk([(f"r{i + 1}", r) for i, r in enumerate(sorted(self._roles))],
           "id string, name string").createOrReplaceTempView("mz_roles")
        # custom types (reference mz_catalog.mz_types: id, name,
        # category)
        mk([(f"u{i + 1}", n,
             "list" if t.startswith("array") else "map")
            for i, (n, t) in enumerate(sorted(self._types.items()))],
           "id string, name string, category string"
           ).createOrReplaceTempView("mz_types")
        # network policies (reference mz_internal.mz_network_policies +
        # mz_network_policy_rules)
        mk([(n, r[0], r[1], r[2], r[3])
            for n, rs in sorted(self._network_policies.items())
            for r in rs],
           "policy string, rule string, action string, "
           "direction string, address string"
           ).createOrReplaceTempView("mz_network_policy_rules")
        # role membership edges (reference mz_catalog.mz_role_members:
        # role_id, member, grantor — names here, this catalog keys by
        # name)
        mk(sorted(self._memberships),
           "role string, member string"
           ).createOrReplaceTempView("mz_role_members")
        # default privileges (reference mz_catalog.mz_default_privileges)
        mk([(c or "PUBLIC", s or "", p, g)
            for c, s, p, g in sorted(
                self._default_privs,
                key=lambda d: (d[0] or "", d[1] or "", d[2], d[3]))],
           "role string, schema string, privilege string, grantee string"
           ).createOrReplaceTempView("mz_default_privileges")
        # databases + schemas (reference mz_catalog.mz_databases /
        # mz_schemas)
        mk([(f"u{i + 1}", d) for i, d in
            enumerate(sorted(self._ns.databases))],
           "id string, name string").createOrReplaceTempView(
            "mz_databases")
        db_ids = {d: f"u{i + 1}"
                  for i, d in enumerate(sorted(self._ns.databases))}
        mk([(f"u{i + 1}", db_ids[d], s) for i, (d, s) in
            enumerate(sorted(self._ns.schemas))],
           "id string, database_id string, name string"
           ).createOrReplaceTempView("mz_schemas")
        # clusters + replicas (reference mz_catalog.mz_clusters /
        # mz_cluster_replicas)
        mk([(f"u{i + 1}", n, c["size"], len(c["replicas"]))
            for i, (n, c) in enumerate(sorted(self._clusters.items()))],
           "id string, name string, size string, replication_factor int"
           ).createOrReplaceTempView("mz_clusters")
        rep_rows = [(f"u{j + 1}", cn, rn, r["size"])
                    for j, (cn, rn, r) in enumerate(
                        (cn, rn, r)
                        for cn, c in sorted(self._clusters.items())
                        for rn, r in sorted(c["replicas"].items()))]
        mk(rep_rows or [("u0", "", "", "")],
           "cluster_id string, cluster string, name string, size string"
           ).filter("cluster_id <> 'u0'") \
            .createOrReplaceTempView("mz_cluster_replicas")
        # pg_catalog compatibility tail (reference exposes a pg_catalog
        # shim for PG tooling — src/catalog's pg_* builtins). OIDs: user
        # objects from 16384 by name order (PG's first user oid), system
        # namespaces at their PG-fixed oids. atttypid maps Spark types
        # back through the pgoutput OID table.
        from materialize_spark.sources.pgoutput import PG_TYPE_OIDS
        _t2oid = {}
        for oid, t in PG_TYPE_OIDS.items():
            _t2oid.setdefault(t, oid)
        kind_map = {"table": "r", "view": "v",
                    "materialized-view": "m", "index": "i"}
        cls_rows = [(16384 + i, name, 2200, kind_map.get(typ, "r"))
                    for i, (_id, name, typ, _own) in enumerate(objs)]
        mk(cls_rows or [(0, "", 0, "")],
           "oid int, relname string, relnamespace int, relkind string") \
            .filter("oid <> 0").createOrReplaceTempView("pg_class")
        user_schemas = sorted(
            s for d, s in self._ns.schemas
            if d == self._vars["database"] and s != "public")
        mk([(2200, "public"), (11, "pg_catalog"),
            (16656, "mz_catalog"), (16657, "mz_internal")]
           + [(16700 + i, s) for i, s in enumerate(user_schemas)],
           "oid int, nspname string").createOrReplaceTempView("pg_namespace")
        name2oid = {name: 16384 + i
                    for i, (_id, name, _typ, _own) in enumerate(objs)}
        att_rows = []
        for oid_s, name, _typ, _own in objs:
            try:
                schema = cat.table(name).schema
            except KeyError:  # pragma: no cover
                continue
            for pos, f in enumerate(schema.fields, start=1):
                att_rows.append((name2oid[name], f.name, pos,
                                 _t2oid.get(f.dataType.simpleString(), 25),
                                 not f.nullable))
        mk(att_rows or [(0, "", 0, 0, False)],
           "attrelid int, attname string, attnum int, atttypid int, "
           "attnotnull boolean") \
            .filter("attrelid <> 0").createOrReplaceTempView("pg_attribute")
        mk([(name, "public") for (_i, name, t, _o) in objs if t == "table"]
           or [("", "")], "tablename string, schemaname string") \
            .filter("tablename <> ''").createOrReplaceTempView("pg_tables")
        view_rows = [(name, "public", self._view_sql.get(
            name, self._matview_sql.get(name, "")))
            for (_i, name, t, _o) in objs if t in ("view", "materialized-view")]
        mk(view_rows or [("", "", "")],
           "viewname string, schemaname string, definition string") \
            .filter("viewname <> ''").createOrReplaceTempView("pg_views")
        # pg_description from the COMMENT ON store: table comments at
        # objsubid 0, column comments ("obj.col") at the column attnum —
        # what obj_description()/col_description() read in PG
        desc_rows = []
        colpos = {(rid, cname): pos
                  for rid, cname, pos, _t, _nn in att_rows}
        for (kind, name), text in self._comments.items():
            if "." in name:
                obj, col = name.rsplit(".", 1)
                rid = name2oid.get(obj)
                if rid is not None:
                    desc_rows.append((rid, 1259,
                                      colpos.get((rid, col), 0), text))
            else:
                rid = name2oid.get(name)
                if rid is not None:
                    desc_rows.append((rid, 1259, 0, text))
        mk(desc_rows or [(0, 0, 0, "")],
           "objoid int, classoid int, objsubid int, description string") \
            .filter("objoid <> 0").createOrReplaceTempView("pg_description")
