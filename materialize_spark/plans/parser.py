"""Recursive-descent SQL statement parser.

The reference front-end is a hand-written recursive-descent parser over a
lexed token stream (reference src/sql-parser/src/parser.rs:140; statement
surface src/sql-parser/src/ast/defs/statement.rs:43-117). This module is
the same design: :mod:`lexer` tokens in, typed AST statement nodes out.

Division of labor: this parser owns *statement structure* — heads, names,
options, clause boundaries, balanced parens — while query *bodies* and
scalar *expressions* are captured as raw-text spans (token-sliced from the
source) and delegated to Catalyst after the PG-dialect rewrite, exactly as
the reference delegates expression typing/evaluation to its own
expr layer. Spans are cut on token boundaries, so a ``)`` or ``,`` inside
a string literal or comment can never truncate a body.

``parse_statement`` returns one AST node, or raises :class:`ParseError`
with the offending position. Query-shaped statements (SELECT/WITH/VALUES/
parenthesized) come back as :class:`Peek` passthroughs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from materialize_spark.plans.lexer import LexError, Token, tokens


class ParseError(ValueError):
    def __init__(self, msg: str, tok: Token | None = None):
        at = f" at position {tok.start} (near {tok.text!r})" if tok else ""
        super().__init__(msg + at)


# -- AST --------------------------------------------------------------------

@dataclass
class Stmt:
    pass


_INTERVAL_UNITS = {
    "second": 1.0, "seconds": 1.0, "s": 1.0,
    "minute": 60.0, "minutes": 60.0, "m": 60.0,
    "hour": 3600.0, "hours": 3600.0, "h": 3600.0,
    "day": 86400.0, "days": 86400.0, "d": 86400.0,
}


def _split_top_level_commas(span: str) -> list[str]:
    """Split an option list on commas outside parentheses (so
    ``decimal(12,2)`` survives as one token)."""
    parts, depth, cur = [], 0, []
    for ch in span:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return [p for p in (s.strip() for s in parts) if p]


def _cluster_opts(span: str) -> dict[str, str]:
    """(SIZE 'x', REPLICATION FACTOR n, ...) — unknown options are
    accepted and ignored (managed-cluster knobs are orchestration
    concerns; see the CreateCluster handler)."""
    p = Parser(span)
    out: dict[str, str] = {}
    while p.peek().kind != "EOF":
        if p.take_kw("SIZE"):
            out["size"] = p.string()
        elif p.take_kw("REPLICATION", "FACTOR"):
            out["replication factor"] = str(p.int_())
        else:
            p.next()
        if p.peek().kind == "COMMA":
            p.next()
    return out


def _interval_seconds(text: str) -> float:
    """PG-style interval string ('1 hour', '30 seconds', '2 days') →
    seconds. Multi-part ('1 hour 30 minutes') sums."""
    import re as _re
    total, matched = 0.0, False
    for num, unit in _re.findall(r"([0-9.]+)\s*([a-zA-Z]+)", text):
        if unit.lower() not in _INTERVAL_UNITS:
            raise ValueError(f"unknown interval unit {unit!r}")
        total += float(num) * _INTERVAL_UNITS[unit.lower()]
        matched = True
    if not matched:
        raise ValueError(f"cannot parse interval {text!r}")
    return total


@dataclass
class CreateView(Stmt):
    name: str
    body: str
    materialized: bool = False
    or_replace: bool = False
    # WITH (REFRESH EVERY '<interval>') — reference RefreshSchedule
    # (src/repr/src/refresh_schedule.rs); seconds, None = on commit
    refresh_every_s: float | None = None
    # WITH (MAINTENANCE 'delta'): incremental write-path maintenance for
    # supported shapes (grouped-sum HAVING) instead of snapshot+REFRESH
    maintenance: str | None = None
    # a delta view's stable id, picked once when planning starts: its
    # internal views are named after it, and it survives RENAME
    uid: str | None = None


@dataclass
class CreateIndex(Stmt):
    on: str
    name: str | None = None
    keys: list[str] | None = None   # None = DEFAULT / all columns
    default: bool = False


@dataclass
class CreateTableAs(Stmt):
    name: str
    body: str


@dataclass
class CreateTable(Stmt):
    name: str
    coldefs: str
    if_not_exists: bool = False


@dataclass
class CreateSink(Stmt):
    name: str
    source: str
    path: str
    fmt: str = "json"
    envelope: str = "none"


@dataclass
class CreateSinkKafka(Stmt):
    name: str
    source: str
    connection: str
    topic: str
    key: str | None = None
    fmt: str = "json"
    envelope: str = "none"
    fmt_opts: dict = field(default_factory=dict)


@dataclass
class CreateSourceFile(Stmt):
    name: str
    path: str
    fmt: str = "parquet"


@dataclass
class CreateSourceLoadgen(Stmt):
    name: str
    generator: str
    scale_factor: float | None = None


@dataclass
class CreateSourceWebhook(Stmt):
    name: str
    body_format: str = "json"


@dataclass
class CreateSourceKafka(Stmt):
    """CREATE SOURCE s FROM KAFKA CONNECTION c (TOPIC 't')
    [FORMAT JSON|BYTES|TEXT
     | AVRO USING CONFLUENT SCHEMA REGISTRY CONNECTION csr
     | PROTOBUF USING CONFLUENT SCHEMA REGISTRY CONNECTION csr
     | CSV WITH n COLUMNS [DELIMITED BY 'c'] | REGEX 'pattern']
    [ENVELOPE NONE|UPSERT|DEBEZIUM] — the reference's primary source
    statement (statement.rs CreateSource with KafkaSourceConnection;
    DataEncoding variants src/storage-types/src/sources/
    encoding.rs:95-102)."""
    name: str
    connection: str
    topic: str
    fmt: str = "json"
    envelope: str = "none"
    fmt_opts: dict = field(default_factory=dict)
    # INCLUDE KEY|PARTITION|OFFSET|TIMESTAMP [AS name] metadata columns
    # (reference sources.rs KafkaMetadataKind); None → legacy default of
    # including all four under their standard names
    include: tuple | None = None


@dataclass
class CreateSourceCdc(Stmt):
    """CREATE SOURCE ... FROM POSTGRES|MYSQL|SQL SERVER CONNECTION c
    [(PUBLICATION 'p')] FOR ALL TABLES | FOR TABLES (a, b) — the
    reference's replication-source statements (statement.rs
    CreatePostgres/MySql/SqlServer source variants)."""
    name: str
    flavor: str  # postgres | mysql | sqlserver
    connection: str
    tables: tuple[str, ...] | None = None  # None → FOR ALL TABLES
    publication: str | None = None


@dataclass
class CreateSecret(Stmt):
    name: str
    value: str


@dataclass
class CreateConnection(Stmt):
    name: str
    kind: str
    options: list[tuple[str, str, bool]] = field(default_factory=list)
    # (key, value, is_secret_ref)


@dataclass
class Validate(Stmt):
    name: str   # VALIDATE CONNECTION <name>


@dataclass
class Drop(Stmt):
    kind: str
    name: str
    if_exists: bool = False
    cascade: bool = False  # plain DROP SCHEMA/DATABASE on non-empty errors


@dataclass
class CreateRole(Stmt):
    name: str


@dataclass
class Grant(Stmt):
    privileges: list[str]   # select/insert/update/delete (ALL expanded)
    object: str
    role: str


@dataclass
class Revoke(Stmt):
    privileges: list[str]
    object: str
    role: str


@dataclass
class GrantRole(Stmt):
    """GRANT <role>[, ...] TO <member>[, ...] — role membership
    (reference GrantRoleStatement, statement.rs)."""
    roles: list[str]
    members: list[str]


@dataclass
class RevokeRole(Stmt):
    roles: list[str]
    members: list[str]


@dataclass
class AlterOwner(Stmt):
    """ALTER <kind> <name> OWNER TO <role> (reference
    AlterOwnerStatement, statement.rs)."""
    kind: str
    name: str
    new_owner: str


@dataclass
class AlterSwap(Stmt):
    """ALTER <kind> a SWAP WITH b — atomic name exchange, the
    blue/green cutover primitive (reference AlterObjectSwapStatement)."""
    kind: str
    name: str
    other: str


@dataclass
class ReassignOwned(Stmt):
    """REASSIGN OWNED BY <role>[, ...] TO <role> (reference
    ReassignOwnedStatement)."""
    old_roles: list[str]
    new_owner: str


@dataclass
class DropOwned(Stmt):
    """DROP OWNED BY <role>[, ...] [CASCADE|RESTRICT] (reference
    DropOwnedStatement): drop owned objects, revoke the roles' grants."""
    roles: list[str]
    cascade: bool = False


@dataclass
class AlterDefaultPrivileges(Stmt):
    """ALTER DEFAULT PRIVILEGES [FOR ROLE r] [IN SCHEMA s] GRANT|REVOKE
    <privs> ON TABLES TO|FROM <role> (reference
    AlterDefaultPrivilegesStatement). schema=None means all schemas;
    target_role=None means the current role at CREATE time (PG rule)."""
    target_role: str | None
    schema: str | None
    privileges: list[str]
    grantee: str
    is_grant: bool = True


@dataclass
class AlterRoleSet(Stmt):
    """ALTER ROLE r SET var = value | ALTER ROLE r RESET var — role
    default variables applied at SET ROLE (reference AlterRoleStatement
    role variables)."""
    role: str
    var: str
    value: str | None = None   # None = RESET


@dataclass
class Discard(Stmt):
    """DISCARD { ALL | PLANS | TEMP } (reference DiscardStatement)."""
    what: str


@dataclass
class AlterSecret(Stmt):
    """ALTER SECRET name AS 'value' (reference AlterSecretStatement)."""
    name: str
    value: str


@dataclass
class AlterConnection(Stmt):
    """ALTER CONNECTION name SET (opt = v) / RESET (opt) (reference
    AlterConnectionStatement)."""
    name: str
    sets: dict
    resets: list


@dataclass
class ExplainSinkSchema(Stmt):
    """EXPLAIN KEY|VALUE SCHEMA [AS JSON] FOR CREATE SINK ... (reference
    ExplainSinkSchemaStatement: the Avro schema the sink would publish)."""
    which: str          # "key" | "value"
    create_sql: str     # the CREATE SINK statement text


@dataclass
class AlterSetCluster(Stmt):
    """ALTER <kind> <name> SET CLUSTER c (reference
    AlterSetClusterStatement): move the object's dataflow to a cluster."""
    name: str
    cluster: str


@dataclass
class CreateNetworkPolicy(Stmt):
    """CREATE NETWORK POLICY p (RULES (r1 (ACTION 'allow', DIRECTION
    'ingress', ADDRESS '1.2.3.0/24'), ...)) (reference
    CreateNetworkPolicyStatement; rule options statement.rs
    NetworkPolicyRuleOptionName: Direction, Action, Address)."""
    name: str
    rules: list    # [(rule_name, action, direction, address_cidr)]
    replace: bool = False   # ALTER NETWORK POLICY reuses the node


@dataclass
class CreateType(Stmt):
    """CREATE TYPE t AS LIST (ELEMENT TYPE = ty) | AS MAP (KEY TYPE =
    ty, VALUE TYPE = ty) (reference CreateTypeStatement, statement.rs;
    sql/src/plan/statement/ddl.rs custom list/map types)."""
    name: str
    kind: str                    # "list" | "map"
    element: str | None = None   # list element type
    key: str | None = None       # map key type
    value: str | None = None     # map value type


@dataclass
class SetRole(Stmt):
    name: str | None        # None = RESET ROLE


@dataclass
class SetVar(Stmt):
    name: str
    value: str


@dataclass
class ResetVar(Stmt):
    name: str               # "all" = RESET ALL


@dataclass
class AlterSystem(Stmt):
    name: str
    value: str | None = None  # None = ALTER SYSTEM RESET


@dataclass
class CreateDatabase(Stmt):
    name: str
    if_not_exists: bool = False


@dataclass
class CreateCluster(Stmt):
    name: str
    size: str | None = None
    replication_factor: int = 1


@dataclass
class CreateClusterReplica(Stmt):
    cluster: str
    name: str
    size: str | None = None


@dataclass
class AlterCluster(Stmt):
    name: str
    size: str | None = None
    replication_factor: int | None = None


@dataclass
class CreateSchema(Stmt):
    name: str               # schema name
    database: str | None = None  # None = current database
    if_not_exists: bool = False


@dataclass
class ShowVar(Stmt):
    name: str


@dataclass
class Insert(Stmt):
    table: str
    body: str   # VALUES ... or SELECT ...


@dataclass
class Update(Stmt):
    table: str
    assignments: list[tuple[str, str]]
    where: str | None = None


@dataclass
class Delete(Stmt):
    table: str
    where: str | None = None


@dataclass
class RefreshMV(Stmt):
    name: str


@dataclass
class AlterAddColumn(Stmt):
    table: str
    column: str
    coltype: str  # PG type name, converted by the executor


@dataclass
class Comment(Stmt):
    kind: str       # table | view | column | ...
    name: str       # object name (column: "table.column")
    text: str | None  # None = COMMENT IS NULL (remove)


@dataclass
class AlterRename(Stmt):
    name: str
    new_name: str


@dataclass
class AlterRetain(Stmt):
    name: str
    window: int


@dataclass
class Subscribe(Stmt):
    name: str
    # SUBSCRIBE (SELECT ...): the reference subscribes to arbitrary
    # queries, not just named objects (SubscribeStatement's relation is
    # a full query, src/sql-parser/src/ast/defs/statement.rs). When set,
    # the session plans the body as an ephemeral maintained view and
    # fills ``name`` with its generated object name.
    query: str | None = None
    as_of: int | None = None
    up_to: int | None = None
    order_by: list[str] | None = None
    envelope: str | None = None          # "upsert" | "debezium"
    envelope_keys: list[str] | None = None
    snapshot: bool = True                # WITH (SNAPSHOT [= bool])
    progress: bool = False               # WITH (PROGRESS [= bool])


@dataclass
class CopyTo(Stmt):
    path: str
    fmt: str = "parquet"
    body: str | None = None
    table: str | None = None


@dataclass
class CopyFrom(Stmt):
    table: str
    path: str
    fmt: str = "parquet"


@dataclass
class Show(Stmt):
    kind: str               # views|tables|indexes|sources|sinks|secrets|connections|databases|schemas
    like: str | None = None
    in_db: str | None = None  # SHOW SCHEMAS FROM <db>


@dataclass
class ShowCreate(Stmt):
    name: str


@dataclass
class ShowColumns(Stmt):
    table: str


@dataclass
class ExplainTimestamp(Stmt):
    name: str


@dataclass
class Explain(Stmt):
    body: str
    stage: str = "PHYSICAL"


@dataclass
class ExplainMaintenance(Stmt):
    name: str   # EXPLAIN MAINTENANCE FOR [MATERIALIZED VIEW] <name>


@dataclass
class Prepare(Stmt):
    name: str
    body: str


@dataclass
class Execute(Stmt):
    name: str
    args: list[str] = field(default_factory=list)


@dataclass
class Deallocate(Stmt):
    name: str               # "ALL" deallocates everything


@dataclass
class Declare(Stmt):
    name: str
    body: str


@dataclass
class Fetch(Stmt):
    cursor: str
    count: int | None = None   # None = ALL


@dataclass
class Close(Stmt):
    name: str


@dataclass
class Begin(Stmt):
    pass


@dataclass
class Commit(Stmt):
    pass


@dataclass
class Rollback(Stmt):
    pass


@dataclass
class SelectAsOf(Stmt):
    name: str
    ts: int


@dataclass
class TableStmt(Stmt):
    name: str


@dataclass
class Wmr(Stmt):
    bindings: list[tuple[str, str, str]]   # (name, coldefs, body)
    final: str
    limit: int | None = None


@dataclass
class Peek(Stmt):
    body: str


# -- parser -----------------------------------------------------------------

class Parser:
    def __init__(self, sql: str):
        self.sql = sql
        self.toks = tokens(sql)
        self.i = 0

    # primitives ------------------------------------------------------------
    def peek(self, k: int = 0) -> Token:
        j = min(self.i + k, len(self.toks) - 1)
        return self.toks[j]

    def next(self) -> Token:
        t = self.toks[self.i]
        if t.kind != "EOF":
            self.i += 1
        return t

    def at_kw(self, *words: str, k: int = 0) -> bool:
        """True if the next tokens are exactly these keywords."""
        for off, w in enumerate(words):
            t = self.peek(k + off)
            if t.kind != "WORD" or t.upper != w:
                return False
        return True

    def take_kw(self, *words: str) -> bool:
        if self.at_kw(*words):
            self.i += len(words)
            return True
        return False

    def expect_kw(self, *words: str) -> None:
        if not self.take_kw(*words):
            raise ParseError(f"expected {' '.join(words)}", self.peek())

    def take_op(self, op: str) -> bool:
        t = self.peek()
        if t.kind == "OP" and t.text == op:
            self.next()
            return True
        return False

    def ident(self) -> str:
        t = self.next()
        if t.kind not in ("WORD", "QIDENT"):
            raise ParseError("expected identifier", t)
        return t.value

    def string(self) -> str:
        t = self.next()
        if t.kind != "STRING":
            raise ParseError("expected string literal", t)
        return t.value

    def int_(self) -> int:
        t = self.next()
        if t.kind != "NUMBER" or not t.text.isdigit():
            raise ParseError("expected integer", t)
        return int(t.text)

    def expect_end(self) -> None:
        t = self.peek()
        if t.kind == "SEMI" and self.peek(1).kind == "EOF":
            self.next()
            t = self.peek()
        if t.kind != "EOF":
            raise ParseError("unexpected trailing input", t)

    # span capture ----------------------------------------------------------
    def rest(self) -> str:
        """Raw text from the current token to end of statement (any single
        trailing top-level ``;`` excluded)."""
        start = self.peek().start
        end = len(self.sql)
        # find a trailing SEMI+EOF pair to exclude
        if (self.toks[-1].kind == "EOF" and len(self.toks) >= 2
                and self.toks[-2].kind == "SEMI"):
            end = self.toks[-2].start
        self.i = len(self.toks) - 1
        return self.sql[start:end].strip()

    def paren_span(self) -> str:
        """Consume a balanced ``( ... )`` group, returning the inner raw
        text. Token-level matching: parens inside strings or comments were
        never tokenized, so depth counting cannot be fooled."""
        t = self.next()
        if t.kind != "LP":
            raise ParseError("expected (", t)
        depth, start = 1, self.peek().start
        while depth:
            t = self.next()
            if t.kind == "EOF":
                raise ParseError("unbalanced parentheses", t)
            if t.kind == "LP":
                depth += 1
            elif t.kind == "RP":
                depth -= 1
        return self.sql[start:t.start].strip()

    def span_until_kw(self, *stops: str) -> str:
        """Raw text from here until one of the stop keywords at paren depth
        0 (or end of statement). Does not consume the stop keyword."""
        start = self.peek().start
        depth = 0
        while True:
            t = self.peek()
            if t.kind == "EOF" or (t.kind == "SEMI" and depth == 0):
                return self.sql[start:t.start].strip()
            if t.kind == "LP":
                depth += 1
            elif t.kind == "RP":
                depth -= 1
            elif (t.kind == "WORD" and depth == 0 and t.upper in stops):
                return self.sql[start:t.start].strip()
            self.next()

    def comma_list_spans(self, *stops: str) -> list[str]:
        """Comma-separated raw spans at paren depth 0, stopping at any of
        the stop keywords (at depth 0) or end of statement."""
        items: list[str] = []
        start = self.peek().start
        depth = 0
        while True:
            t = self.peek()
            if (t.kind == "EOF" or (depth == 0 and t.kind == "SEMI")
                    or (t.kind == "WORD" and depth == 0
                        and t.upper in stops)):
                last = self.sql[start:t.start].strip()
                if last:
                    items.append(last)
                return items
            if t.kind == "LP":
                depth += 1
            elif t.kind == "RP":
                depth -= 1
            elif t.kind == "COMMA" and depth == 0:
                items.append(self.sql[start:t.start].strip())
                self.next()
                start = self.peek().start
                continue
            self.next()

    # statement dispatch ----------------------------------------------------
    def parse(self) -> Stmt:
        t = self.peek()
        if t.kind != "WORD":
            return Peek(self.rest())   # e.g. "(SELECT ...)" set ops
        head = t.upper
        fn = getattr(self, f"_p_{head.lower()}", None)
        if fn is None:
            return Peek(self.rest())
        return fn()

    # CREATE ----------------------------------------------------------------
    def _p_create(self) -> Stmt:
        self.expect_kw("CREATE")
        or_replace = self.take_kw("OR", "REPLACE")
        if self.take_kw("ROLE"):
            name = self.ident()
            # role attributes (INHERIT etc.) accepted and ignored — the
            # reference's role options are cluster concerns (SURVEY §7)
            while self.peek().kind == "WORD":
                self.next()
            self.expect_end()
            return CreateRole(name)
        if self.take_kw("DATABASE"):
            if_not_exists = self.take_kw("IF", "NOT", "EXISTS")
            name = self.ident()
            self.expect_end()
            return CreateDatabase(name, if_not_exists=if_not_exists)
        if self.take_kw("NETWORK", "POLICY"):
            name = self.ident()
            rules = self._p_network_rules(self.paren_span())
            self.expect_end()
            return CreateNetworkPolicy(name, rules)
        if self.take_kw("TYPE"):
            # CREATE TYPE t AS LIST (ELEMENT TYPE = ty) / AS MAP (KEY
            # TYPE = ty, VALUE TYPE = ty) (reference CreateTypeStatement)
            name = self.ident()
            self.expect_kw("AS")
            if self.take_kw("LIST"):
                opts = self._type_opts(self.paren_span())
                if "element type" not in opts:
                    raise ParseError("LIST types need ELEMENT TYPE",
                                     self.peek())
                self.expect_end()
                return CreateType(name, "list",
                                  element=opts["element type"])
            if self.take_kw("MAP"):
                opts = self._type_opts(self.paren_span())
                if "key type" not in opts or "value type" not in opts:
                    raise ParseError("MAP types need KEY TYPE and "
                                     "VALUE TYPE", self.peek())
                self.expect_end()
                return CreateType(name, "map", key=opts["key type"],
                                  value=opts["value type"])
            raise ParseError("expected LIST or MAP", self.peek())
        if self.take_kw("CLUSTER", "REPLICA"):
            # CREATE CLUSTER REPLICA c.r [(SIZE '...')]
            cluster = self.ident()
            if not (self.peek().kind == "OP" and self.peek().text == "."):
                raise ParseError("expected cluster.replica name",
                                 self.peek())
            self.next()
            name = self.ident()
            size = None
            if self.peek().kind == "LP":
                size = _cluster_opts(self.paren_span()).get("size")
            self.expect_end()
            return CreateClusterReplica(cluster, name, size=size)
        if self.take_kw("CLUSTER"):
            # CREATE CLUSTER c (SIZE '...', REPLICATION FACTOR n)
            name = self.ident()
            opts = {}
            if self.peek().kind == "LP":
                opts = _cluster_opts(self.paren_span())
            self.expect_end()
            return CreateCluster(
                name, size=opts.get("size"),
                replication_factor=int(opts.get("replication factor", 1)))
        if self.take_kw("SCHEMA"):
            if_not_exists = self.take_kw("IF", "NOT", "EXISTS")
            first = self.ident()
            db = None
            if self.peek().kind == "OP" and self.peek().text == ".":
                self.next()
                db, first = first, self.ident()
            self.expect_end()
            return CreateSchema(first, database=db,
                                if_not_exists=if_not_exists)
        if self.at_kw("MATERIALIZED", "VIEW") or self.at_kw("VIEW"):
            materialized = self.take_kw("MATERIALIZED")
            self.expect_kw("VIEW")
            name = self.ident()
            every = None
            maintenance = None
            if materialized and self.take_kw("WITH"):
                inner = self.paren_span()
                p = Parser(inner)
                while True:
                    if p.take_kw("REFRESH"):
                        if p.take_kw("EVERY"):
                            every = _interval_seconds(p.string())
                        elif p.take_kw("ON", "COMMIT"):
                            every = None  # the default refresh schedule
                        else:
                            raise ParseError("expected EVERY or ON COMMIT",
                                             p.peek())
                    elif p.take_kw("MAINTENANCE"):
                        p.take_op("=")
                        maintenance = p.string().lower()
                    else:
                        raise ParseError("expected REFRESH or MAINTENANCE",
                                         p.peek())
                    if p.peek().kind == "COMMA":
                        p.next()
                        continue
                    break
                p.expect_end()
            self.expect_kw("AS")
            return CreateView(name, self.rest(), materialized=materialized,
                              or_replace=or_replace, refresh_every_s=every,
                              maintenance=maintenance)
        if self.at_kw("DEFAULT", "INDEX") or self.at_kw("INDEX"):
            default = self.take_kw("DEFAULT")
            self.expect_kw("INDEX")
            iname = None
            if not self.at_kw("ON"):
                iname = self.ident()
            self.expect_kw("ON")
            obj = self.ident()
            keys = None
            if self.peek().kind == "LP":
                inner = self.paren_span()
                keys = [c.strip() for c in inner.split(",") if c.strip()]
            self.expect_end()
            return CreateIndex(obj, name=iname, keys=keys, default=default)
        if self.take_kw("TABLE"):
            if_not_exists = self.take_kw("IF", "NOT", "EXISTS")
            name = self.ident()
            if self.take_kw("AS"):
                return CreateTableAs(name, self.rest())
            coldefs = self.paren_span()
            self.expect_end()
            return CreateTable(name, coldefs, if_not_exists=if_not_exists)
        if self.take_kw("SINK"):
            name = self.ident()
            self.expect_kw("FROM")
            source = self.ident()
            self.expect_kw("INTO")
            if self.take_kw("KAFKA"):
                # CREATE SINK s FROM obj INTO KAFKA CONNECTION c
                # (TOPIC 't') [KEY (col)] [FORMAT JSON] (reference
                # KafkaSinkConnection, sinks.rs:137-140)
                self.expect_kw("CONNECTION")
                conn = self.ident()
                topic = None
                if self.peek().kind == "LP":
                    inner = self.paren_span()
                    pp = Parser(inner)
                    pp.expect_kw("TOPIC")
                    topic = pp.string()
                    pp.expect_end()
                key = None
                if self.take_kw("KEY"):
                    key = self.paren_span().strip()
                fmt = "json"
                fmt_opts: dict = {}
                envelope = "none"
                if self.take_kw("FORMAT"):
                    fmt = self.ident().lower()
                    if fmt == "avro":
                        # FORMAT AVRO USING CONFLUENT SCHEMA REGISTRY
                        # CONNECTION csr: the sink derives + registers
                        # its value schema before producing (reference
                        # sinks.rs + interchange/avro publisher)
                        self.expect_kw("USING", "CONFLUENT", "SCHEMA",
                                       "REGISTRY", "CONNECTION")
                        fmt_opts["csr_connection"] = self.ident()
                if self.take_kw("ENVELOPE"):
                    envelope = self.ident().lower()
                self.expect_end()
                return CreateSinkKafka(name, source, conn,
                                       topic or name, key=key, fmt=fmt,
                                       envelope=envelope,
                                       fmt_opts=fmt_opts)
            self.expect_kw("FILE")
            path = self.string()
            fmt = "json"
            envelope = "none"
            if self.take_kw("FORMAT"):
                fmt = self.ident().lower()
            if self.take_kw("ENVELOPE"):
                envelope = self.ident().lower()
            self.expect_end()
            return CreateSink(name, source, path, fmt=fmt, envelope=envelope)
        if self.take_kw("SOURCE"):
            name = self.ident()
            self.expect_kw("FROM")
            if self.take_kw("KAFKA"):
                self.expect_kw("CONNECTION")
                conn = self.ident()
                topic = name
                if self.peek().kind == "LP":
                    inner = self.paren_span()
                    pp = Parser(inner)
                    pp.expect_kw("TOPIC")
                    topic = pp.string()
                    pp.expect_end()
                fmt = "json"
                fmt_opts: dict = {}
                envelope = "none"
                if self.take_kw("FORMAT"):
                    fmt = self.ident().lower()
                    if fmt in ("avro", "protobuf"):
                        # FORMAT AVRO|PROTOBUF USING CONFLUENT SCHEMA
                        # REGISTRY CONNECTION csr (reference
                        # encoding.rs:95-102 AvroEncoding/
                        # ProtobufEncoding with csr_connection)
                        self.expect_kw("USING", "CONFLUENT", "SCHEMA",
                                       "REGISTRY", "CONNECTION")
                        fmt_opts["csr_connection"] = self.ident()
                    elif fmt == "csv":
                        # FORMAT CSV WITH n COLUMNS [DELIMITED BY 'c']
                        self.expect_kw("WITH")
                        t = self.next()
                        if t.kind != "NUMBER":
                            raise ParseError("expected column count", t)
                        fmt_opts["columns"] = int(t.value)
                        self.expect_kw("COLUMNS")
                        if self.take_kw("DELIMITED", "BY"):
                            fmt_opts["delimiter"] = self.string()
                    elif fmt == "regex":
                        # FORMAT REGEX 'pattern' (named groups become
                        # columns; unnamed become column1..N)
                        fmt_opts["regex"] = self.string()
                include = None
                if self.take_kw("INCLUDE"):
                    # INCLUDE KEY|PARTITION|OFFSET|TIMESTAMP|HEADERS
                    # [AS name] | HEADER 'key' [AS name] [BYTES]
                    # [, ...] (reference KafkaMetadataKind,
                    # src/storage-types/src/sources/kafka.rs:534-540)
                    include = []
                    while True:
                        kind = self.ident().lower()
                        if kind == "header":
                            hkey = self.string()
                            alias = (self.ident() if self.take_kw("AS")
                                     else hkey)
                            as_bytes = self.take_kw("BYTES")
                            include.append(
                                (f"header:{hkey}"
                                 + (":bytes" if as_bytes else ""),
                                 alias))
                        elif kind in ("key", "partition", "offset",
                                      "timestamp", "headers"):
                            alias = (self.ident() if self.take_kw("AS")
                                     else kind)
                            include.append((kind, alias))
                        else:
                            raise ParseError(
                                "INCLUDE supports KEY | PARTITION | "
                                "OFFSET | TIMESTAMP | HEADERS | "
                                "HEADER 'key'", self.peek())
                        if self.peek().kind == "COMMA":
                            self.next()
                            continue
                        break
                    include = tuple(include)
                if self.take_kw("ENVELOPE"):
                    envelope = self.ident().lower()
                self.expect_end()
                return CreateSourceKafka(name, conn, topic, fmt=fmt,
                                         envelope=envelope,
                                         fmt_opts=fmt_opts,
                                         include=include)
            if self.take_kw("FILE"):
                path = self.string()
                fmt = "parquet"
                if self.take_kw("FORMAT"):
                    fmt = self.ident().lower()
                self.expect_end()
                return CreateSourceFile(name, path, fmt=fmt)
            if self.take_kw("LOAD", "GENERATOR"):
                gen = self.ident()
                sf = None
                if self.peek().kind == "LP":
                    self.next()
                    self.expect_kw("SCALE", "FACTOR")
                    t = self.next()
                    if t.kind != "NUMBER":
                        raise ParseError("expected scale factor", t)
                    sf = float(t.text)
                    if self.next().kind != "RP":
                        raise ParseError("expected )", self.peek())
                self.expect_end()
                return CreateSourceLoadgen(name, gen.lower(), scale_factor=sf)
            if self.take_kw("WEBHOOK"):
                body_fmt = "json"
                if self.take_kw("BODY", "FORMAT"):
                    body_fmt = self.ident().lower()
                self.expect_end()
                return CreateSourceWebhook(name, body_format=body_fmt)
            flavor = None
            if self.take_kw("POSTGRES"):
                flavor = "postgres"
            elif self.take_kw("MYSQL"):
                flavor = "mysql"
            elif self.take_kw("SQL", "SERVER"):
                flavor = "sqlserver"
            if flavor is not None:
                self.expect_kw("CONNECTION")
                conn = self.ident()
                publication = None
                if self.peek().kind == "LP":
                    self.next()
                    self.expect_kw("PUBLICATION")
                    publication = self.string()
                    if self.next().kind != "RP":
                        raise ParseError("expected )", self.peek())
                tables: tuple[str, ...] | None = None
                self.expect_kw("FOR")
                if self.take_kw("ALL", "TABLES"):
                    pass
                else:
                    self.expect_kw("TABLES")
                    if self.next().kind != "LP":
                        raise ParseError("expected (", self.peek())
                    names = [self.ident()]
                    while self.peek().kind == "COMMA":
                        self.next()
                        names.append(self.ident())
                    if self.next().kind != "RP":
                        raise ParseError("expected )", self.peek())
                    tables = tuple(names)
                self.expect_end()
                return CreateSourceCdc(name, flavor, conn, tables=tables,
                                       publication=publication)
            raise ParseError(
                "expected FILE, LOAD GENERATOR, WEBHOOK, POSTGRES, MYSQL,"
                " or SQL SERVER", self.peek())
        if self.take_kw("SECRET"):
            name = self.ident()
            self.expect_kw("AS")
            value = self.string()
            self.expect_end()
            return CreateSecret(name, value)
        if self.take_kw("CONNECTION"):
            name = self.ident()
            self.expect_kw("TO")
            kind = self.ident().lower()
            if kind == "confluent":
                # CREATE CONNECTION c TO CONFLUENT SCHEMA REGISTRY
                # (URL '...') — reference CsrConnection (connections.rs)
                self.expect_kw("SCHEMA", "REGISTRY")
                kind = "confluent-schema-registry"
            elif kind == "sql":
                self.expect_kw("SERVER")
                kind = "sql-server"
            elif kind == "ssh":
                # reference SshConnection (src/storage-types/src/
                # connections.rs:315): a network-tunnel object other
                # connections reference via SSH TUNNEL <conn>. Backed
                # by a real SSH-2 transport (sources/ssh_tunnel.py:
                # curve25519 kex, ed25519 host keys, aes128-ctr +
                # hmac-sha2-256, direct-tcpip forwarding).
                self.expect_kw("TUNNEL")
                kind = "ssh-tunnel"
            elif kind == "aws" and self.at_kw("PRIVATELINK"):
                raise ValueError(
                    "CREATE CONNECTION ... TO AWS PRIVATELINK is not "
                    "supported by this engine: connect brokers/hosts "
                    "directly; VPC endpoints are a deployment concern")
            opts: list[tuple[str, str, bool]] = []
            if self.next().kind != "LP":
                raise ParseError("expected (", self.peek())
            while True:
                t = self.peek()
                if t.kind == "RP":
                    self.next()
                    break
                key = self.ident().lower()
                if key == "ssh" and self.take_kw("TUNNEL"):
                    # SSH TUNNEL <conn> — reference connections route
                    # their dial through a named ssh-tunnel connection
                    self.take_op("=")
                    opts.append(("ssh_tunnel", self.ident(), False))
                    if self.peek().kind == "COMMA":
                        self.next()
                    continue
                self.take_op("=")
                if self.at_kw("SECRET"):
                    self.next()
                    opts.append((key, self.ident(), True))
                else:
                    v = self.next()
                    if v.kind not in ("STRING", "NUMBER", "WORD"):
                        raise ParseError("expected option value", v)
                    opts.append((key, v.value, False))
                if self.peek().kind == "COMMA":
                    self.next()
            self.expect_end()
            return CreateConnection(name, kind, opts)
        raise ParseError("unsupported CREATE statement", self.peek())

    # DROP / DML ------------------------------------------------------------
    def _p_validate(self) -> Stmt:
        # VALIDATE CONNECTION name (reference ValidateConnectionStatement:
        # probe the endpoint now, error if unreachable)
        self.expect_kw("VALIDATE", "CONNECTION")
        name = self.ident()
        self.expect_end()
        return Validate(name)

    def _p_drop(self) -> Stmt:
        self.expect_kw("DROP")
        if self.take_kw("OWNED", "BY"):
            # DROP OWNED BY r[, ...] [CASCADE|RESTRICT] (reference
            # DropOwnedStatement)
            roles = self._ident_list()
            cascade = bool(self.take_kw("CASCADE"))
            if not cascade:
                self.take_kw("RESTRICT")
            self.expect_end()
            return DropOwned(roles, cascade=cascade)
        t = self.next()
        if t.kind == "WORD" and t.upper == "MATERIALIZED":
            # DROP MATERIALIZED VIEW — the reference's spelling for
            # dropping an MV (catalog stores both under one namespace)
            self.expect_kw("VIEW")
            t = t._replace(text="VIEW")
        if t.kind != "WORD" or t.upper not in (
                "VIEW", "INDEX", "TABLE", "SOURCE", "SINK", "ROLE",
                "DATABASE", "SCHEMA", "CLUSTER", "SECRET", "CONNECTION",
                "TYPE", "NETWORK"):
            raise ParseError("expected VIEW/INDEX/TABLE/SOURCE/SINK/ROLE"
                             "/DATABASE/SCHEMA/CLUSTER", t)
        kind = t.upper.lower()
        if kind == "cluster" and self.take_kw("REPLICA"):
            kind = "cluster replica"  # DROP CLUSTER REPLICA c.r
        if kind == "network":
            self.expect_kw("POLICY")
            kind = "network policy"
        if_exists = self.take_kw("IF", "EXISTS")
        name = self.ident()
        if kind in ("schema", "cluster replica") \
                and self.peek().kind == "OP" and self.peek().text == ".":
            self.next()
            name = name + "." + self.ident()  # db.schema / cluster.replica
        cascade = bool(self.take_kw("CASCADE"))
        if not cascade:
            self.take_kw("RESTRICT")  # explicit RESTRICT == the default
        self.expect_end()
        return Drop(kind, name, if_exists=if_exists, cascade=cascade)

    def _p_insert(self) -> Stmt:
        self.expect_kw("INSERT", "INTO")
        table = self.ident()
        if not (self.at_kw("VALUES") or self.at_kw("SELECT")
                or self.at_kw("WITH") or self.at_kw("TABLE")):
            raise ParseError("expected VALUES or query", self.peek())
        return Insert(table, self.rest())

    def _p_update(self) -> Stmt:
        self.expect_kw("UPDATE")
        table = self.ident()
        self.expect_kw("SET")
        assigns: list[tuple[str, str]] = []
        for part in self.comma_list_spans("WHERE"):
            col, eq, expr = part.partition("=")
            if not eq:
                raise ParseError(f"malformed assignment {part!r}")
            assigns.append((col.strip(), expr.strip()))
        if not assigns:
            raise ParseError("UPDATE requires at least one assignment")
        where = None
        if self.take_kw("WHERE"):
            where = self.rest()
        self.expect_end()
        return Update(table, assigns, where=where)

    def _p_delete(self) -> Stmt:
        self.expect_kw("DELETE", "FROM")
        table = self.ident()
        where = None
        if self.take_kw("WHERE"):
            where = self.rest()
        self.expect_end()
        return Delete(table, where=where)

    # RBAC --------------------------------------------------------------------
    _PRIVS = ("SELECT", "INSERT", "UPDATE", "DELETE")

    def _p_privileges(self) -> list[str]:
        if self.take_kw("ALL"):
            self.take_kw("PRIVILEGES")
            return [p.lower() for p in self._PRIVS]
        privs = []
        while True:
            t = self.next()
            if t.kind != "WORD" or t.upper not in self._PRIVS:
                raise ParseError("expected a privilege", t)
            privs.append(t.upper.lower())
            if self.peek().kind != "COMMA":
                return privs
            self.next()

    @staticmethod
    def _p_network_rules(span: str) -> list:
        """RULES (r1 (ACTION 'allow', DIRECTION 'ingress', ADDRESS
        '1.2.3.0/24'), r2 (...)) → [(name, action, direction, cidr)]."""
        p = Parser(span)
        p.expect_kw("RULES")
        rules = []
        inner = Parser(p.paren_span())
        while inner.peek().kind != "EOF":
            rname = inner.ident()
            opts: dict[str, str] = {}
            for part in _split_top_level_commas(inner.paren_span()):
                k, _, v = part.partition("=")
                opts[k.strip().lower()] = v.strip().strip("'")
            missing = {"action", "direction", "address"} - set(opts)
            if missing:
                raise ParseError(
                    f"network policy rule {rname!r} missing "
                    f"{sorted(missing)}")
            rules.append((rname, opts["action"].lower(),
                          opts["direction"].lower(), opts["address"]))
            if inner.peek().kind == "COMMA":
                inner.next()
        p.expect_end()
        return rules

    @staticmethod
    def _type_opts(span: str) -> dict[str, str]:
        """Parse ``KEY TYPE = ty, VALUE TYPE = ty`` style option lists
        (types may carry parens, e.g. decimal(12,2))."""
        opts: dict[str, str] = {}
        for part in _split_top_level_commas(span):
            if "=" in part:
                k, _, v = part.partition("=")
            else:  # ELEMENT TYPE int4 (option value without '=')
                toks = part.rsplit(None, 1)
                k, v = (toks[0], toks[1]) if len(toks) == 2 \
                    else (part, "")
            opts[" ".join(k.split()).lower()] = v.strip().lower()
        return opts

    def _ident_list(self) -> list[str]:
        names = [self.ident()]
        while self.peek().kind == "COMMA":
            self.next()
            names.append(self.ident())
        return names

    def _p_grant(self) -> Stmt:
        self.expect_kw("GRANT")
        t = self.peek()
        if t.kind == "WORD" and t.upper not in self._PRIVS \
                and t.upper != "ALL":
            # GRANT <role>[, ...] TO <member>[, ...] — role membership
            # (reference GrantRoleStatement)
            roles = self._ident_list()
            self.expect_kw("TO")
            members = self._ident_list()
            self.expect_end()
            return GrantRole(roles, members)
        privs = self._p_privileges()
        self.expect_kw("ON")
        self.take_kw("TABLE")
        obj = self.ident()
        self.expect_kw("TO")
        role = self.ident()
        self.expect_end()
        return Grant(privs, obj, role)

    def _p_revoke(self) -> Stmt:
        self.expect_kw("REVOKE")
        t = self.peek()
        if t.kind == "WORD" and t.upper not in self._PRIVS \
                and t.upper != "ALL":
            # REVOKE <role>[, ...] FROM <member>[, ...]
            roles = self._ident_list()
            self.expect_kw("FROM")
            members = self._ident_list()
            self.expect_end()
            return RevokeRole(roles, members)
        privs = self._p_privileges()
        self.expect_kw("ON")
        self.take_kw("TABLE")
        obj = self.ident()
        self.expect_kw("FROM")
        role = self.ident()
        self.expect_end()
        return Revoke(privs, obj, role)

    def _p_set(self) -> Stmt:
        self.expect_kw("SET")
        self.take_kw("SESSION") or self.take_kw("LOCAL")
        if self.take_kw("TRANSACTION"):
            # SET TRANSACTION ISOLATION LEVEL <level> (reference
            # SetTransactionStatement → the transaction_isolation var)
            self.expect_kw("ISOLATION", "LEVEL")
            words = []
            while self.peek().kind == "WORD":
                words.append(self.next().text.lower())
            if not words:
                raise ParseError("expected isolation level", self.peek())
            self.expect_end()
            return SetVar("transaction_isolation", " ".join(words))
        if self.take_kw("ROLE"):
            if self.take_kw("NONE"):
                self.expect_end()
                return SetRole(None)
            name = self.ident()
            self.expect_end()
            return SetRole(name)
        # SET <var> { = | TO } <value> (reference session variables,
        # src/sql/src/session/vars.rs)
        name = self.ident().lower()
        if not (self.take_op("=") or self.take_kw("TO")):
            raise ParseError("expected = or TO", self.peek())
        parts = []
        while True:
            t = self.next()
            if t.kind not in ("STRING", "NUMBER", "WORD"):
                raise ParseError("expected value", t)
            parts.append(t.value if t.kind == "STRING" else t.text)
            if self.peek().kind != "COMMA":
                break
            self.next()
        self.expect_end()
        # list values (search_path) keep their comma form
        return SetVar(name, ", ".join(parts))

    def _p_reset(self) -> Stmt:
        # RESET ROLE | RESET ALL | RESET <var> (PG/reference
        # ResetVariableStatement)
        self.expect_kw("RESET")
        if self.take_kw("ROLE"):
            self.expect_end()
            return SetRole(None)
        name = self.ident().lower()
        self.expect_end()
        return ResetVar(name)

    # misc DDL ----------------------------------------------------------------
    def _p_refresh(self) -> Stmt:
        self.expect_kw("REFRESH", "MATERIALIZED", "VIEW")
        name = self.ident()
        self.expect_end()
        return RefreshMV(name)

    def _p_alter(self) -> Stmt:
        self.expect_kw("ALTER")
        if self.take_kw("SYSTEM"):
            # ALTER SYSTEM SET name = value | ALTER SYSTEM RESET name
            # (reference AlterSystemSetStatement / AlterSystemReset)
            if self.take_kw("RESET"):
                name = self.ident().lower()
                self.expect_end()
                return AlterSystem(name, None)
            self.expect_kw("SET")
            name = self.ident().lower()
            if not (self.take_op("=") or self.take_kw("TO")):
                raise ParseError("expected = or TO", self.peek())
            t = self.next()
            if t.kind not in ("STRING", "NUMBER", "WORD"):
                raise ParseError("expected value", t)
            self.expect_end()
            return AlterSystem(
                name, t.value if t.kind == "STRING" else t.text)
        if self.take_kw("CLUSTER"):
            # ALTER CLUSTER c SET (SIZE '...', REPLICATION FACTOR n)
            name = self.ident()
            self.expect_kw("SET")
            opts = _cluster_opts(self.paren_span())
            self.expect_end()
            return AlterCluster(
                name, size=opts.get("size"),
                replication_factor=(
                    int(opts["replication factor"])
                    if "replication factor" in opts else None))
        if self.take_kw("DEFAULT", "PRIVILEGES"):
            # ALTER DEFAULT PRIVILEGES [FOR ROLE r] [IN SCHEMA s]
            # GRANT <privs> ON TABLES TO <role> (reference
            # AlterDefaultPrivilegesStatement)
            target = None
            if self.take_kw("FOR"):
                self.take_kw("ROLE") or self.take_kw("ALL", "ROLES")
                if not self.at_kw("IN") and not self.at_kw("GRANT") \
                        and not self.at_kw("REVOKE"):
                    target = self.ident()
            schema = None
            if self.take_kw("IN", "SCHEMA"):
                schema = self.ident()
                while self.take_op("."):
                    schema += "." + self.ident()
            is_grant = bool(self.take_kw("GRANT"))
            if not is_grant:
                self.expect_kw("REVOKE")
            privs = self._p_privileges()
            self.expect_kw("ON", "TABLES")
            self.expect_kw("TO") if is_grant else self.expect_kw("FROM")
            grantee = self.ident()
            self.expect_end()
            return AlterDefaultPrivileges(target, schema, privs, grantee,
                                          is_grant=is_grant)
        if self.take_kw("NETWORK", "POLICY"):
            # ALTER NETWORK POLICY p SET (RULES (...)) — replaces the
            # rule set (reference AlterNetworkPolicyStatement)
            name = self.ident()
            self.expect_kw("SET")
            rules = self._p_network_rules(self.paren_span())
            self.expect_end()
            return CreateNetworkPolicy(name, rules, replace=True)
        if self.take_kw("ROLE"):
            # ALTER ROLE r SET var = v | ALTER ROLE r RESET var — role
            # default variables (reference AlterRoleStatement); role
            # attributes (INHERIT etc.) accepted and ignored like CREATE
            role = self.ident()
            if self.take_kw("RESET"):
                var = self.ident().lower()
                self.expect_end()
                return AlterRoleSet(role, var, None)
            if self.take_kw("SET"):
                var = self.ident().lower()
                if not (self.take_op("=") or self.take_kw("TO")):
                    raise ParseError("expected = or TO", self.peek())
                t = self.next()
                if t.kind not in ("STRING", "NUMBER", "WORD"):
                    raise ParseError("expected value", t)
                self.expect_end()
                return AlterRoleSet(
                    role, var, t.value if t.kind == "STRING" else t.text)
            while self.peek().kind == "WORD":  # WITH <attributes>
                self.next()
            self.expect_end()
            return AlterRoleSet(role, "", None)  # attribute-only no-op
        if self.take_kw("SECRET"):
            # ALTER SECRET name AS 'value' (reference AlterSecretStatement)
            name = self.ident()
            if self.take_kw("OWNER", "TO"):
                owner = self.ident()
                self.expect_end()
                return AlterOwner("secret", name, owner)
            if self.take_kw("RENAME", "TO"):
                new = self.ident()
                self.expect_end()
                return AlterRename(name, new)
            self.expect_kw("AS")
            value = self.string()
            self.expect_end()
            return AlterSecret(name, value)
        if self.take_kw("CONNECTION"):
            # ALTER CONNECTION name SET (opt = v, ...) | RESET (opt, ...)
            # (reference AlterConnectionStatement)
            name = self.ident()
            if self.take_kw("OWNER", "TO"):
                owner = self.ident()
                self.expect_end()
                return AlterOwner("connection", name, owner)
            sets: dict[str, str] = {}
            resets: list[str] = []
            while True:
                if self.take_kw("SET"):
                    p = Parser(self.paren_span())
                    key = p.ident().lower()
                    while p.peek().kind == "WORD":
                        key += " " + p.ident().lower()
                    if not (p.take_op("=") or p.take_kw("TO")):
                        raise ParseError("expected =", p.peek())
                    t = p.next()
                    sets[key] = t.value if t.kind == "STRING" else t.text
                elif self.take_kw("RESET"):
                    p = Parser(self.paren_span())
                    resets.extend(n.lower() for n in p._ident_list())
                else:
                    break
                if not self.take_op(","):
                    break
            if not sets and not resets:
                raise ParseError("expected SET or RESET", self.peek())
            self.expect_end()
            return AlterConnection(name, sets, resets)
        kinds = (("MATERIALIZED", "VIEW"), ("TABLE",), ("VIEW",),
                 ("SOURCE",), ("INDEX",), ("SINK",))
        kind = None
        for kw in kinds:
            if self.take_kw(*kw):
                kind = " ".join(kw).lower()
                break
        if kind is None:
            raise ParseError("expected object kind", self.peek())
        name = self.ident()
        if self.take_kw("OWNER", "TO"):
            owner = self.ident()
            self.expect_end()
            return AlterOwner(kind, name, owner)
        if self.take_kw("SET", "CLUSTER"):
            # ALTER ... SET CLUSTER c (reference AlterSetClusterStatement)
            cluster = self.ident()
            self.expect_end()
            return AlterSetCluster(name, cluster)
        if self.take_kw("SWAP", "WITH"):
            other = self.ident()
            self.expect_end()
            return AlterSwap(kind, name, other)
        if self.take_kw("RENAME", "TO"):
            new = self.ident()
            self.expect_end()
            return AlterRename(name, new)
        if self.take_kw("SET"):
            inner = self.paren_span()
            p = Parser(inner)
            p.expect_kw("RETAIN", "HISTORY")
            if not p.take_kw("FOR"):
                p.take_op("=")
            t = p.next()
            if t.kind == "STRING":
                window = int(t.value)
            elif t.kind == "NUMBER":
                window = int(t.text)
            else:
                raise ParseError("expected retention window", t)
            self.expect_end()
            return AlterRetain(name, window)
        if self.take_kw("ADD", "COLUMN"):
            # AlterTableAddColumnStatement (statement.rs:84): nullable
            # column appended; existing rows read NULL
            col = self.ident()
            coltype = self.rest().strip()
            if not coltype:
                raise ParseError("expected column type", self.peek())
            return AlterAddColumn(name, col, coltype)
        raise ParseError("unsupported ALTER", self.peek())

    def _p_reassign(self) -> Stmt:
        self.expect_kw("REASSIGN", "OWNED", "BY")
        old = self._ident_list()
        self.expect_kw("TO")
        new = self.ident()
        self.expect_end()
        return ReassignOwned(old, new)

    def _p_discard(self) -> Stmt:
        self.expect_kw("DISCARD")
        t = self.next()
        if t.kind != "WORD" or t.upper not in ("ALL", "PLANS", "TEMP",
                                               "TEMPORARY", "SEQUENCES"):
            raise ParseError("expected ALL/PLANS/TEMP", t)
        self.expect_end()
        return Discard(t.upper.lower())

    # COMMENT -----------------------------------------------------------------
    def _p_comment(self) -> Stmt:
        """COMMENT ON <kind> <name> IS '<text>' | NULL (reference
        CommentStatement, statement.rs:117)."""
        self.expect_kw("COMMENT", "ON")
        t = self.next()
        if t.kind != "WORD":
            raise ParseError("expected object kind", t)
        kind = t.upper.lower()
        if kind == "materialized":
            self.expect_kw("VIEW")
            kind = "materialized-view"
        name = self.ident()
        while self.take_op("."):
            name += "." + self.ident()
        self.expect_kw("IS")
        text = None if self.take_kw("NULL") else self.string()
        self.expect_end()
        return Comment(kind, name, text)

    # SUBSCRIBE ---------------------------------------------------------------
    def _p_subscribe(self) -> Stmt:
        self.expect_kw("SUBSCRIBE")
        self.take_kw("TO")
        if self.peek().kind == "LP":
            # SUBSCRIBE (SELECT ...) — query form
            node = Subscribe("", query=self.paren_span())
        else:
            node = Subscribe(self.ident())
        if self.take_kw("AS", "OF"):
            node.as_of = self.int_()
            if self.take_kw("UP", "TO"):
                node.up_to = self.int_()
        elif self.take_kw("WITHIN", "TIMESTAMP", "ORDER", "BY"):
            node.order_by = self.comma_list_spans("WITH")
        elif self.take_kw("ENVELOPE"):
            t = self.next()
            if t.upper not in ("UPSERT", "DEBEZIUM"):
                raise ParseError("expected UPSERT or DEBEZIUM", t)
            node.envelope = t.upper.lower()
            inner = self.paren_span()
            p = Parser(inner)
            p.expect_kw("KEY")
            keys = p.paren_span()
            node.envelope_keys = [k.strip() for k in keys.split(",")]
        if self.take_kw("WITH"):
            # WITH (SNAPSHOT [= bool], PROGRESS [= bool]) — reference
            # SubscribeOptions (src/sql/src/plan.rs SubscribeFrom opts)
            inner = self.paren_span()
            p = Parser(inner)
            while True:
                opt = p.ident().lower()
                if opt not in ("snapshot", "progress"):
                    raise ParseError(
                        "expected SNAPSHOT or PROGRESS", p.peek())
                val = True
                if p.take_op("="):
                    word = p.ident().lower()
                    if word not in ("true", "false"):
                        raise ParseError("expected TRUE or FALSE", p.peek())
                    val = word == "true"
                setattr(node, opt, val)
                if p.peek().kind != "COMMA":
                    break
                p.next()
            p.expect_end()
        self.expect_end()
        return node

    # COPY --------------------------------------------------------------------
    def _p_copy(self) -> Stmt:
        self.expect_kw("COPY")
        body = table = None
        if self.peek().kind == "LP":
            body = self.paren_span()
        else:
            table = self.ident()
        if self.take_kw("TO"):
            path = self.string()
            fmt = self._copy_format() or "parquet"
            self.expect_end()
            return CopyTo(path, fmt=fmt, body=body, table=table)
        if table is not None and self.take_kw("FROM"):
            path = self.string()
            fmt = self._copy_format() or "parquet"
            self.expect_end()
            return CopyFrom(table, path, fmt=fmt)
        raise ParseError("expected TO or FROM", self.peek())

    def _copy_format(self) -> str | None:
        if not self.take_kw("WITH"):
            return None
        inner = self.paren_span()
        p = Parser(inner)
        p.expect_kw("FORMAT")
        return p.ident().lower()

    # SHOW --------------------------------------------------------------------
    def _p_show(self) -> Stmt:
        self.expect_kw("SHOW")
        if self.take_kw("CREATE"):
            # SHOW CREATE [MATERIALIZED] VIEW|TABLE|SOURCE|SINK|INDEX
            # (reference ShowCreate* statements, one per object kind)
            self.take_kw("MATERIALIZED")
            if not (self.take_kw("VIEW") or self.take_kw("TABLE")
                    or self.take_kw("SOURCE") or self.take_kw("SINK")
                    or self.take_kw("INDEX") or self.take_kw("TYPE")
                    or self.take_kw("CONNECTION")):
                raise ParseError("expected object kind", self.peek())
            name = self.ident()
            self.expect_end()
            return ShowCreate(name)
        if self.take_kw("COLUMNS", "FROM"):
            table = self.ident()
            self.expect_end()
            return ShowColumns(table)
        if self.take_kw("MATERIALIZED", "VIEWS"):
            like = None
            if self.take_kw("LIKE"):
                like = self.string()
            self.expect_end()
            return Show("materialized views", like=like)
        if self.take_kw("CLUSTER", "REPLICAS"):
            self.expect_end()
            return Show("cluster replicas")
        if self.take_kw("NETWORK", "POLICIES"):
            self.expect_end()
            return Show("network policies")
        if self.take_kw("PRIVILEGES"):
            # SHOW PRIVILEGES [FOR <role>] (reference
            # ShowObjectsStatement::Privileges)
            role = self.ident() if self.take_kw("FOR") else None
            self.expect_end()
            return Show("privileges", in_db=role)
        if self.take_kw("ROLE", "MEMBERSHIP"):
            # SHOW ROLE MEMBERSHIP [FOR <role>] (reference
            # ShowObjectsStatement::RoleMembership)
            role = self.ident() if self.take_kw("FOR") else None
            self.expect_end()
            return Show("role membership", in_db=role)
        if self.take_kw("SUBSOURCES"):
            src = self.ident() if self.take_kw("FROM") else None
            self.expect_end()
            return Show("subsources", in_db=src)
        t = self.next()
        kinds = ("VIEWS", "TABLES", "INDEXES", "SOURCES", "SINKS",
                 "SECRETS", "CONNECTIONS", "ROLES", "DATABASES", "SCHEMAS",
                 "CLUSTERS", "OBJECTS", "TYPES")
        if t.kind != "WORD" or t.upper not in kinds:
            # SHOW <session variable> (reference SHOW for vars.rs names)
            if t.kind == "WORD" and self.peek().kind in ("EOF", "SEMI"):
                self.expect_end()
                return ShowVar(t.text.lower())
            raise ParseError(
                f"expected one of MATERIALIZED VIEWS, {', '.join(kinds)}", t)
        in_db = None
        if t.upper == "SCHEMAS" and self.take_kw("FROM"):
            in_db = self.ident()
        like = None
        if self.take_kw("LIKE"):
            like = self.string()
        self.expect_end()
        return Show(t.upper.lower(), like=like, in_db=in_db)

    # EXPLAIN -----------------------------------------------------------------
    def _p_explain(self) -> Stmt:
        self.expect_kw("EXPLAIN")
        if self.take_kw("TIMESTAMP", "FOR"):
            if self.take_kw("SELECT"):
                t = self.peek()
                if not (t.kind == "OP" and t.text == "*"):
                    raise ParseError("expected SELECT * FROM <obj>", t)
                self.next()
                self.expect_kw("FROM")
            name = self.ident()
            self.expect_end()
            return ExplainTimestamp(name)
        for which in ("KEY", "VALUE"):
            if self.take_kw(which, "SCHEMA"):
                # EXPLAIN KEY|VALUE SCHEMA [AS JSON] FOR CREATE SINK ...
                # (reference parse_explain_schema, parser.rs:9435)
                if self.take_kw("AS"):
                    self.expect_kw("JSON")  # only JSON, like the reference
                self.expect_kw("FOR")
                if not self.at_kw("CREATE"):
                    raise ParseError("expected CREATE SINK", self.peek())
                return ExplainSinkSchema(which.lower(), self.rest())
        if self.take_kw("MAINTENANCE", "FOR"):
            # EXPLAIN MAINTENANCE FOR [MATERIALIZED VIEW] <name> —
            # render the maintained-operator tree of a delta MV (the
            # reference's EXPLAIN over an installed dataflow)
            self.take_kw("MATERIALIZED")
            self.take_kw("VIEW")
            name = self.ident()
            self.expect_end()
            return ExplainMaintenance(name)
        stage = "PHYSICAL"
        if self.take_kw("FILTER", "PUSHDOWN"):
            # reference ExplainPushdownStatement (EXPLAIN FILTER
            # PUSHDOWN FOR SELECT ...)
            stage = "PUSHDOWN"
        elif self.take_kw("DECORRELATED"):
            stage = "DECORRELATED"
        elif self.take_kw("LOCALLY", "OPTIMIZED"):
            stage = "LOCALLY OPTIMIZED"
        else:
            for s in ("RAW", "OPTIMIZED", "PHYSICAL", "ANALYZE"):
                if self.take_kw(s):
                    stage = s
                    break
        self.take_kw("PLAN")
        self.take_kw("FOR")
        if not (self.at_kw("SELECT") or self.at_kw("WITH")):
            raise ParseError("expected a query", self.peek())
        return Explain(self.rest(), stage=stage)

    # session statements ------------------------------------------------------
    def _p_prepare(self) -> Stmt:
        self.expect_kw("PREPARE")
        name = self.ident()
        self.expect_kw("AS")
        return Prepare(name, self.rest())

    def _p_execute(self) -> Stmt:
        self.expect_kw("EXECUTE")
        name = self.ident()
        args: list[str] = []
        if self.peek().kind == "LP":
            inner = self.paren_span()
            if inner.strip():
                p = Parser(inner)
                args = p.comma_list_spans()
        self.expect_end()
        return Execute(name, args)

    def _p_deallocate(self) -> Stmt:
        self.expect_kw("DEALLOCATE")
        self.take_kw("PREPARE")
        name = "ALL" if self.take_kw("ALL") else self.ident()
        self.expect_end()
        return Deallocate(name)

    def _p_declare(self) -> Stmt:
        self.expect_kw("DECLARE")
        name = self.ident()
        self.expect_kw("CURSOR", "FOR")
        return Declare(name, self.rest())

    def _p_fetch(self) -> Stmt:
        self.expect_kw("FETCH")
        count = None
        t = self.peek()
        if t.kind == "NUMBER":
            count = self.int_()
        elif self.take_kw("ALL"):
            count = None
        self.take_kw("FROM")
        cursor = self.ident()
        self.expect_end()
        return Fetch(cursor, count=count)

    def _p_close(self) -> Stmt:
        self.expect_kw("CLOSE")
        name = self.ident()
        self.expect_end()
        return Close(name)

    def _p_begin(self) -> Stmt:
        self.expect_kw("BEGIN")
        self.expect_end()
        return Begin()

    def _p_start(self) -> Stmt:
        self.expect_kw("START", "TRANSACTION")
        self.expect_end()
        return Begin()

    def _p_commit(self) -> Stmt:
        self.expect_kw("COMMIT")
        self.expect_end()
        return Commit()

    def _p_rollback(self) -> Stmt:
        self.expect_kw("ROLLBACK")
        self.expect_end()
        return Rollback()

    # query heads -------------------------------------------------------------
    def _p_table(self) -> Stmt:
        # PG `TABLE t` shorthand; only the bare single-name form is special
        if self.peek(2).kind in ("EOF", "SEMI") and \
                self.peek(1).kind in ("WORD", "QIDENT"):
            self.expect_kw("TABLE")
            name = self.ident()
            self.expect_end()
            return TableStmt(name)
        return Peek(self.rest())

    def _p_select(self) -> Stmt:
        # time-travel fast path: SELECT * FROM <obj> AS OF <ts> exactly
        save = self.i
        self.expect_kw("SELECT")
        t = self.peek()
        if t.kind == "OP" and t.text == "*":
            self.next()
            if self.take_kw("FROM"):
                t = self.peek()
                if t.kind in ("WORD", "QIDENT"):
                    name = self.ident()
                    if self.take_kw("AS", "OF"):
                        ts_tok = self.peek()
                        if ts_tok.kind == "NUMBER":
                            ts = self.int_()
                            if self.take_kw("UP", "TO"):
                                self.int_()  # bound applies to SUBSCRIBE only
                            if self.peek().kind in ("EOF", "SEMI"):
                                return SelectAsOf(name, ts)
        self.i = save
        return Peek(self.rest())

    def _p_values(self) -> Stmt:
        return Peek(self.rest())

    def _p_with(self) -> Stmt:
        if not self.at_kw("WITH", "MUTUALLY", "RECURSIVE"):
            return Peek(self.rest())
        self.expect_kw("WITH", "MUTUALLY", "RECURSIVE")
        limit = None
        if self.peek().kind == "LP":
            inner = self.paren_span()
            p = Parser(inner)
            p.expect_kw("RETURN", "AT", "RECURSION", "LIMIT")
            limit = p.int_()
            p.expect_end()
        bindings: list[tuple[str, str, str]] = []
        while True:
            name = self.ident()
            coldefs = self.paren_span()
            self.expect_kw("AS")
            body = self.paren_span()
            bindings.append((name, coldefs, body))
            if self.peek().kind == "COMMA":
                self.next()
                continue
            break
        return Wmr(bindings, self.rest(), limit=limit)


def parse_statement(sql: str) -> Stmt:
    """Parse one statement into an AST node (raises Parse/LexError)."""
    p = Parser(sql)
    t = p.peek()
    if t.kind == "EOF":
        raise ParseError("empty statement")
    return p.parse()


__all__ = [
    "ParseError", "LexError", "Parser", "parse_statement",
    "Stmt", "CreateView", "CreateIndex", "CreateTableAs", "CreateTable",
    "CreateSink", "CreateSinkKafka", "CreateSourceFile", "CreateSourceLoadgen",
    "CreateSourceWebhook", "CreateSourceCdc", "CreateSourceKafka",
    "CreateSecret",
    "CreateConnection", "Validate", "Drop", "CreateRole", "Grant",
    "Revoke", "SetRole",
    "CreateDatabase", "CreateSchema", "CreateCluster",
    "CreateClusterReplica", "AlterCluster",
    "SetVar", "ShowVar", "ResetVar", "AlterSystem",
    "Insert", "Update", "Delete", "RefreshMV", "AlterRename", "AlterRetain",
    "AlterAddColumn", "Comment",
    "Subscribe", "CopyTo", "CopyFrom", "Show", "ShowCreate", "ShowColumns",
    "ExplainTimestamp", "Explain", "ExplainMaintenance",
    "Prepare", "Execute", "Deallocate",
    "Declare", "Fetch", "Close", "Begin", "Commit", "Rollback",
    "SelectAsOf", "TableStmt", "Wmr", "Peek",
]
