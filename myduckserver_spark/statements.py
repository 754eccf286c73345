"""MySQL statement front door: parse DDL/DML text into routed calls.

The reference's entry point is SQL text on the MySQL wire; its
DuckBuilder dispatches plan-node classes to either generated DuckDB SQL
or engine code (reference: backend/executor.go:74-165). Here the same
dispatch happens one layer earlier — on the statement text — because
Catalyst is the query engine and only DDL/DML need engine code.

Pure-Python parsing, no external parser: the grammar we accept is the
statement surface the reference's conformance corpus exercises
(CREATE/ALTER/DROP/RENAME TABLE, INSERT [IGNORE]/REPLACE VALUES|SELECT,
UPDATE/DELETE/TRUNCATE, SHOW, SET/USE, BEGIN/COMMIT). Queries fall
through untouched to Catalyst.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


# --------------------------------------------------------------- lexing


def strip_comments(sql: str, hash_comments: bool = True) -> str:
    """Remove -- / # line comments and /* */ block comments,
    quote-aware. ``#`` starts a comment only in the MySQL dialect
    (hash_comments=False for pg, where # is the bitwise-XOR
    operator)."""
    out, i, n = [], 0, len(sql)
    while i < n:
        c = sql[i]
        if c in ("'", '"', "`"):
            j = i + 1
            while j < n:
                if sql[j] == "\\" and c != "`":
                    j += 2
                    continue
                if sql[j] == c:
                    if j + 1 < n and sql[j + 1] == c:  # doubled quote
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i : j + 1])
            i = j + 1
        elif sql.startswith("--", i) or (hash_comments and c == "#"):
            while i < n and sql[i] != "\n":
                i += 1
        elif sql.startswith("/*!", i):
            # MySQL version comment: executable content on a
            # new-enough server (always, here) — unwrap, keep it
            j = sql.find("*/", i + 3)
            body = sql[i + 3 : (n if j < 0 else j)]
            k = 0
            while k < len(body) and body[k].isdigit():
                k += 1
            out.append(body[k:])
            i = n if j < 0 else j + 2
        elif sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            i = n if j < 0 else j + 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def split_statements(sql: str, hash_comments: bool = True) -> list[str]:
    """Split on top-level ';' (quote-aware)."""
    sql = strip_comments(sql, hash_comments)
    parts, buf, i, n = [], [], 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "$":
            # pg dollar-quoted bodies ($$...$$ / $tag$...$tag$) hold
            # semicolons that must not split
            dm = re.match(r"\$(\w*)\$", sql[i:])
            if dm:
                close = sql.find(dm.group(0), i + dm.end())
                if close >= 0:
                    end = close + dm.end()
                    buf.append(sql[i:end])
                    i = end
                    continue
            buf.append(c)
            i += 1
            continue
        if c in ("'", '"', "`"):
            j = i + 1
            while j < n:
                if sql[j] == "\\" and c != "`":
                    j += 2
                    continue
                if sql[j] == c:
                    if j + 1 < n and sql[j + 1] == c:
                        j += 2
                        continue
                    break
                j += 1
            buf.append(sql[i : j + 1])
            i = j + 1
        elif c == ";":
            s = "".join(buf).strip()
            if s:
                parts.append(s)
            buf = []
            i += 1
        else:
            buf.append(c)
            i += 1
    s = "".join(buf).strip()
    if s:
        parts.append(s)
    # re-join CREATE TRIGGER ... BEGIN ... END bodies that the ';'
    # split broke apart (MySQL clients use DELIMITER for this; a script
    # replayed here arrives without it)
    merged: list[str] = []
    i = 0
    # keyword tests run on masked text so literals like
    # 'read the PROCEDURE manual BEGIN section' can't trigger a merge,
    # and only statements that actually OPEN a routine definition
    # (CREATE [DEFINER=...] TRIGGER/PROCEDURE/FUNCTION/EVENT) engage
    # it. Merging continues while the block balance (BEGIN/IF/WHILE/
    # LOOP/REPEAT/CASE openers minus END closers) stays positive, so
    # single-compound-statement bodies without BEGIN…END — e.g.
    # `... FOR EACH ROW IF c THEN SIGNAL …; END IF` — re-join too.
    _opener = re.compile(
        r"(?is)^\s*CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?"
        r"(?:(?:ALGORITHM|SQL\s+SECURITY)\s*=?\s*\S+\s+)*"
        r"(?:TRIGGER|PROCEDURE|FUNCTION|EVENT)\b"
    )
    while i < len(parts):
        p = parts[i]
        pm = mask_strings(p)
        if _opener.search(pm):
            bal = _block_balance(pm)
            j = i
            while bal > 0 and j + 1 < len(parts):
                j += 1
                p += "; " + parts[j]
                bal += _block_balance(mask_strings(parts[j]))
            i = j + 1
        else:
            i += 1
        merged.append(p)
    return merged


_STMT_STARTERS = {"BEGIN", "THEN", "ELSE", "DO", "ROW", "LOOP", ";", ":"}


def _block_balance(masked: str) -> int:
    """Net count of SQL compound-block openers (BEGIN, statement-IF,
    WHILE…DO, LOOP, REPEAT, CASE) minus END closers in masked text.

    BEGIN always opens (it is never a function). The others open only
    in STATEMENT position — at the start of the text or right after a
    statement-introducing token (BEGIN/THEN/ELSE/DO/ROW/';'/a label
    ':') — which cleanly excludes the IF()/REPEAT() functions. CASE
    counts unconditionally: a CASE *expression* and a CASE *statement*
    are each closed by exactly one END token, so +1 per CASE keeps the
    balance exact wherever it appears (an expression-position CASE's
    END would otherwise drive the count negative and cut a body merge
    short). The keyword following END ('END IF', 'END CASE' …) is part
    of the closer, already counted."""
    n = 0
    for m in re.finditer(
        r"(?i)\b(BEGIN|LOOP|REPEAT|CASE|IF|WHILE|END)\b", masked
    ):
        w = m.group(1).upper()
        tail = masked[: m.start()].rstrip()
        if w == "END":
            n -= 1
            continue
        if tail.upper().endswith("END"):
            continue  # the closer's keyword, already counted
        if w in ("BEGIN", "CASE"):
            n += 1
            continue
        last = re.search(r"([A-Za-z_]+|\S)\s*$", tail)
        if last is None or last.group(1).upper() in _STMT_STARTERS:
            n += 1
    return n


def _match_close_paren(s: str, open_idx: int) -> int:
    """Index of the ')' closing the '(' at open_idx, string-literal
    aware; -1 when unbalanced."""
    mask = mask_strings(s)
    depth = 0
    for i in range(open_idx, len(s)):
        if mask[i] == "\x01":
            continue
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    return -1


def split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on `sep` at paren depth 0, quote-aware."""
    parts, buf, depth, i, n = [], [], 0, 0, len(s)
    while i < n:
        c = s[i]
        if c in ("'", '"', "`"):
            j = i + 1
            while j < n:
                if s[j] == "\\" and c != "`":
                    j += 2
                    continue
                if s[j] == c:
                    if j + 1 < n and s[j + 1] == c:
                        j += 2
                        continue
                    break
                j += 1
            buf.append(s[i : j + 1])
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == sep and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
            i += 1
            continue
        buf.append(c)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        parts.append(tail)
    return parts


def mask_strings(s: str) -> str:
    """Same-length copy with quoted-literal/identifier bodies blanked.

    Regex searches over the mask can never match inside a string literal
    or quoted identifier, while every match span maps 1:1 back onto the
    original text.
    """
    out = list(s)
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c in ("'", '"', "`"):
            j = i + 1
            while j < n:
                if s[j] == "\\" and c != "`":
                    j += 2
                    continue
                if s[j] == c:
                    if j + 1 < n and s[j + 1] == c:
                        j += 2
                        continue
                    break
                j += 1
            for k in range(i + 1, min(j, n)):
                out[k] = "\x01"
            i = j + 1
        else:
            i += 1
    return "".join(out)


def sub_outside_strings(pattern: str, repl, s: str, flags=0) -> str:
    """re.sub that never rewrites inside quoted literals/identifiers."""
    mask = mask_strings(s)
    out: list[str] = []
    pos = 0
    for m in re.finditer(pattern, mask, flags):
        out.append(s[pos : m.start()])
        # re-run the match against the ORIGINAL span so group values are
        # real text, not mask bytes (span content is identical outside
        # strings, and patterns can't match into masked regions)
        om = re.match(pattern, s[m.start() : m.end()], flags)
        if om is None:  # pattern depended on masked context; leave as-is
            out.append(s[m.start() : m.end()])
        else:
            out.append(repl(om) if callable(repl) else om.expand(repl))
        pos = m.end()
    out.append(s[pos:])
    return "".join(out)


def peel_order_limit(text: str) -> tuple[str, str | None, int | None]:
    """Strip a trailing top-level ``[ORDER BY ...] LIMIT n`` from a
    DML tail (MySQL row-capped UPDATE/DELETE). Returns
    (remaining, order_by_text, limit). LIMIT is required — a bare
    ORDER BY on UPDATE/DELETE is a MySQL no-op and passes through."""
    mask = mask_strings(text)
    m = None
    depth = 0
    for tok in re.finditer(r"[()]|\bORDER\s+BY\b|\bLIMIT\b", mask, re.I):
        t = tok.group()
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and (m is None or t.upper().startswith("ORDER")):
            m = tok
            if t.upper().startswith("ORDER"):
                break
    if m is None:
        return text, None, None
    tail = text[m.start():]
    tm = re.fullmatch(
        r"(?:ORDER\s+BY\s+(.+?)\s+)?LIMIT\s+(\d+)\s*", tail, re.I | re.S
    )
    if not tm:
        # A trailing top-level ORDER BY with no LIMIT: MySQL treats it
        # as a no-op on UPDATE/DELETE — strip it rather than letting the
        # ORDER BY text land inside the WHERE condition (ADVICE r2).
        if re.fullmatch(r"ORDER\s+BY\s+[^()]*", tail, re.I | re.S):
            return text[: m.start()].rstrip(), None, None
        return text, None, None
    return text[: m.start()].rstrip(), tm.group(1), int(tm.group(2))


def split_where(text: str) -> tuple[str, str | None]:
    """Split ``body WHERE cond`` at the first top-level WHERE (outside
    parens and quotes — a WHERE inside a subquery doesn't count).
    Returns (body, cond-or-None)."""
    depth, quote, i, n = 0, None, 0, len(text)
    while i < n:
        c = text[i]
        if quote:
            if c == "\\" and quote in "'\"":
                i += 1
            elif c == quote:
                quote = None
        elif c in "'\"`":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif (
            depth == 0
            and c in "Ww"
            and text[i : i + 5].upper() == "WHERE"
            and (i == 0 or text[i - 1].isspace())
            and (i + 5 == n or text[i + 5].isspace())
        ):
            return text[:i].rstrip(), text[i + 5 :].strip()
        i += 1
    return text.rstrip(), None


def split_leading_cte(s: str) -> tuple[str | None, str]:
    """Split a leading ``WITH [RECURSIVE] name [(cols)] AS (...)[, ...]``
    prologue off a statement. Returns (cte-text-or-None, remainder);
    (None, s) when the prologue doesn't parse (caller treats the whole
    string as a query and lets Catalyst produce the error)."""
    m = re.match(r"WITH\s+(?:RECURSIVE\s+)?", s, re.I)
    if not m:
        return None, s
    i, n = m.end(), len(s)
    while True:
        mm = re.match(
            r"\s*(?:`[^`]+`|\w+)\s*(?:\([^)]*\))?\s*AS\s*\(", s[i:], re.I
        )
        if not mm:
            return None, s
        j = i + mm.end()  # just past the opening paren
        depth, quote = 1, None
        while j < n and depth:
            c = s[j]
            if quote:
                if c == "\\" and quote in "'\"":
                    j += 1
                elif c == quote:
                    quote = None
            elif c in "'\"`":
                quote = c
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            j += 1
        if depth:
            return None, s
        mc = re.match(r"\s*,", s[j:])
        if mc:
            i = j + mc.end()
            continue
        return s[:j].strip(), s[j:].strip()


_TABLE_REF_KEYWORDS = (
    "JOIN|INNER|LEFT|RIGHT|FULL|OUTER|CROSS|NATURAL|STRAIGHT_JOIN|ON|USING|AS|WHERE|SET"
)


def parse_table_refs(refs: str) -> dict[str, str]:
    """alias → table map for a FROM-clause fragment of plain tables and
    JOINs (``t1 JOIN t2 AS x ON ...``, ``t1, t2``). Unaliased tables map
    name → name. Derived tables / subqueries in FROM are out of scope
    (route those through a CTAS or view first)."""
    out: dict[str, str] = {}
    pat = re.compile(
        rf"(?:\bFROM\b|\bJOIN\b|,|^)\s*"
        rf"(?!(?:{_TABLE_REF_KEYWORDS})\b)(`[^`]+`|\w+)"
        rf"(?:\s+(?:AS\s+)?(?!(?:{_TABLE_REF_KEYWORDS})\b)(`[^`]+`|\w+))?",
        re.I,
    )
    for m in pat.finditer(refs):
        table = unquote_ident(m.group(1))
        alias = unquote_ident(m.group(2)) if m.group(2) else table
        out[alias] = table
    return out


def unquote_ident(s: str) -> str:
    s = s.strip()
    if len(s) >= 2 and s[0] == "`" and s[-1] == "`":
        return s[1:-1].replace("``", "`")
    return s


def normalize_seq_name(s: str) -> str:
    """Sequence-name normalization: strip `/\"/ quoting per part and a
    leading public. schema (pg's default schema — the engine keeps a
    flat per-database sequence namespace)."""
    parts = [
        p.strip().strip('`"') for p in s.strip().split(".") if p.strip()
    ]
    if len(parts) > 1 and parts[0].lower() == "public":
        parts = parts[1:]
    return ".".join(parts).lower()


def parse_literal(tok: str, exact_decimals: bool = False):
    """One SQL literal → Python value (NULL/bool/int/float/str, plus
    DATE/TIMESTAMP typed literals). With ``exact_decimals`` a decimal
    literal without an exponent parses as ``decimal.Decimal`` — MySQL
    semantics: ``1.23`` is an exact numeric, only ``1.23e0`` is a
    DOUBLE. The VALUES-row path uses this so a DECIMAL(18,4) insert
    keeps all digits (a float round-trip silently corrupts
    >15-significant-digit values); defaults stay float because table
    metadata is JSON-serialized."""
    t = tok.strip()
    up = t.upper()
    if up == "NULL":
        return None
    if up == "TRUE":
        return True
    if up == "FALSE":
        return False
    if up == "DEFAULT":
        return _DEFAULT
    # charset introducers (_utf8mb4'x', _binary'x', N'x') — mysqldump
    # emits these routinely; the bytes themselves are already decoded
    m = re.fullmatch(r"(?:_\w+\s*|[Nn])('(?:[^'\\]|\\.|'')*')", t)
    if m:
        return parse_literal(m.group(1), exact_decimals)
    if (t.startswith("'") and t.endswith("'")) or (
        t.startswith('"') and t.endswith('"')
    ):
        q = t[0]
        body = t[1:-1]
        body = body.replace(q + q, q)
        body = re.sub(r"\\(.)", lambda m: {"n": "\n", "t": "\t", "0": "\0"}.get(
            m.group(1), m.group(1)
        ), body)
        return body
    if re.fullmatch(r"[+-]?\d+", t):
        return int(t)
    if re.fullmatch(r"[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?", t):
        if exact_decimals and "e" not in t.lower():
            import decimal

            return decimal.Decimal(t)
        return float(t)
    # typed temporal literals (standard SQL + MySQL): DATE 'YYYY-MM-DD',
    # TIMESTAMP/DATETIME 'YYYY-MM-DD hh:mm:ss[.ffffff]'
    tm = re.fullmatch(r"(DATE|TIMESTAMP|DATETIME)\s*'([^']*)'", t, re.I)
    if tm:
        import datetime

        body = tm.group(2)
        if tm.group(1).upper() == "DATE":
            return datetime.date.fromisoformat(body)
        return datetime.datetime.fromisoformat(body)
    raise ValueError(f"cannot parse literal: {tok!r}")


class _Default:
    """Sentinel for the DEFAULT keyword in a VALUES tuple."""

    def __repr__(self) -> str:  # pragma: no cover
        return "DEFAULT"


_DEFAULT = _Default()
DEFAULT = _DEFAULT


def parse_values_tuples(s: str) -> list[list[object]]:
    """Parse `(a, b), (c, d), ...` into rows of literals."""
    rows = []
    for grp in split_top_level(s, ","):
        grp = grp.strip()
        if not (grp.startswith("(") and grp.endswith(")")):
            raise ValueError(f"malformed VALUES tuple: {grp!r}")
        rows.append(
            [
                parse_literal(t, exact_decimals=True)
                for t in split_top_level(grp[1:-1], ",")
            ]
        )
    return rows


# ----------------------------------------------------- statement objects


@dataclass
class TableMeta:
    """Declared-but-not-typed table properties the engine enforces
    itself, exactly the set the reference keeps out of DuckDB
    (auto-increment: catalog/database.go:159-210; checks:
    backend/executor.go:110-116; defaults: type_mapping.go:334-352)."""

    primary_key: list[str] = field(default_factory=list)
    auto_increment: str | None = None
    defaults: dict[str, object] = field(default_factory=dict)
    checks: dict[str, str] = field(default_factory=dict)
    not_null: list[str] = field(default_factory=list)
    generated: dict[str, str] = field(default_factory=dict)  # col -> expr
    on_update: dict[str, str] = field(default_factory=dict)  # col -> expr
    indexes: dict[str, dict] = field(default_factory=dict)  # name -> props
    partition_by: list[str] = field(default_factory=list)  # hive partitioning
    stats: dict = field(default_factory=dict)  # ANALYZE TABLE results
    # FOREIGN KEY declarations — metadata-only, exactly the reference's
    # FK policy (harness/duck_harness.go:102-105: accepted, recorded,
    # never enforced); surfaced through information_schema
    # (referential_constraints / key_column_usage) and SHOW CREATE.
    # Each entry: {name, columns, ref_table, ref_columns, on_delete,
    # on_update}
    foreign_keys: list[dict] = field(default_factory=list)
    # CREATE TEMPORARY TABLE: session-scoped — hidden from SHOW TABLES
    # and dropped when a new engine opens the warehouse (MySQL drops
    # temp tables at connection end; the engine instance is the
    # connection analog here).
    temporary: bool = False


@dataclass
class CreateTable:
    name: str
    columns: list[tuple[str, str]]  # (name, mysql_type)
    meta: TableMeta
    if_not_exists: bool = False
    # CREATE TABLE t (<columns>) AS <query>: rows to load after
    # creating the declared table
    query: str | None = None


@dataclass
class CreateTableLike:
    """CREATE TABLE t2 LIKE t1 — clone schema + constraints, no data
    (reference: GMS create-table surface, TestCreateTable)."""

    name: str
    source: str
    if_not_exists: bool = False
    temporary: bool = False


@dataclass
class CreateTableAs:
    name: str
    query: str
    if_not_exists: bool = False
    partition_by: list[str] = field(default_factory=list)
    temporary: bool = False


@dataclass
class Maintenance:
    """CHECK/CHECKSUM/REPAIR TABLE t [, ...]."""

    kind: str  # check | checksum | repair
    targets: list[str]


@dataclass
class DoStmt:
    """DO expr[, ...] — evaluate and discard (MySQL)."""

    expr: str


@dataclass
class EventStmt:
    """CREATE/DROP/ALTER EVENT — catalog-only registry plus a manual
    fire API (`Engine.run_event`). A library engine has no background
    scheduler thread; the host application owns WHEN to fire (cron,
    Airflow, a Structured Streaming trigger) and the registry owns
    WHAT runs — the honest split, documented."""

    action: str  # create | drop | alter_status
    name: str
    schedule: str = ""
    body: str = ""
    status: str = "ENABLED"
    if_clause: bool = False


@dataclass
class UserStmt:
    """CREATE/DROP USER, GRANT, REVOKE — a CATALOG-ONLY account
    registry (mysqldump --all-databases scripts replay; SHOW GRANTS
    reflects it). A single-process library engine enforces nothing:
    every session is root, like the reference's default single-user
    mode."""

    action: str  # create | drop | grant | revoke | noop
    user: str = ""
    privs: str = ""
    target: str = ""
    grant_option: bool = False
    if_clause: bool = False


def _user_spec(raw: str) -> str:
    """'u'@'host' / u@h / `u`@`h` → canonical 'u'@'h' text."""
    raw = (raw or "").strip()
    m = re.match(
        r"(?:'([^']*)'|`([^`]+)`|\"([^\"]+)\"|([\w.-]+))"
        r"(?:\s*@\s*(?:'([^']*)'|`([^`]+)`|\"([^\"]+)\"|([\w.%-]+)))?",
        raw,
    )
    if not m:
        return raw
    user = m.group(1) or m.group(2) or m.group(3) or m.group(4) or ""
    host = m.group(5) or m.group(6) or m.group(7) or m.group(8) or "%"
    return f"'{user}'@'{host}'"


@dataclass
class ProcedureStmt:
    """CREATE/DROP PROCEDURE and CALL. Bodies are straight-line SQL
    statement lists with IN parameters substituted textually at CALL
    time (control flow — DECLARE/IF/WHILE — is rejected at CREATE)."""

    action: str  # create | drop | call
    name: str
    params: list = field(default_factory=list)
    body: str = ""
    if_exists: bool = False
    # stored FUNCTION (compound body): declared RETURNS type — the
    # engine registers it for constant-argument call folding
    returns: str | None = None


@dataclass
class SignalStmt:
    """Standalone SIGNAL SQLSTATE (valid outside routines too —
    MySQL 15.6.7.5); the engine raises SignalError."""

    sqlstate: str
    message: str
    errno: int | None = None


@dataclass
class TriggerStmt:
    """CREATE/DROP TRIGGER. The engine executes triggers SET-BASED
    (one vectorized pass over the affected row set), not row-at-a-time
    — the Spark-native realization of FOR EACH ROW semantics."""

    action: str  # create | drop
    name: str
    timing: str = ""  # before | after
    event: str = ""   # insert | update | delete
    table: str = ""
    body: str = ""
    if_exists: bool = False


@dataclass
class DropTable:
    name: str
    if_exists: bool = False
    more: list = field(default_factory=list)  # DROP TABLE a, b, ...


@dataclass
class AlterTable:
    name: str
    action: str  # add_column|drop_column|rename_column|modify_column|rename_table
    column: str | None = None
    new_name: str | None = None
    mysql_type: str | None = None
    default: object = None
    # ADD COLUMN position: None=append, ""=FIRST, "<col>"=AFTER col
    # (MySQL honors ordering; the reference drops it — we exceed there)
    position: str | None = None
    fk: dict | None = None  # add_fk: parsed FOREIGN KEY clause
    # add/modify/change column attributes parsed from the full column
    # definition (NOT NULL / AUTO_INCREMENT / ON UPDATE / GENERATED /
    # inline CHECK / PRIMARY KEY) — MODIFY replaces the whole
    # definition, so the executor resets unmentioned attributes
    col_meta: "TableMeta | None" = None
    # pg ADD COLUMN IF NOT EXISTS / DROP COLUMN IF EXISTS
    if_exists: bool = False


@dataclass
class AlterTableMulti:
    """ALTER TABLE with a comma-separated action list (the form every
    migration tool emits). Actions apply in order; the engine restores
    the prior snapshot + metadata if any action fails (MySQL 8 atomic
    DDL)."""

    name: str
    actions: list[AlterTable]


@dataclass
class AnalyzeStmt:
    """ANALYZE TABLE t [, ...] — persist optimizer statistics
    (row count, per-column NDV/null fraction/min/max) into table meta
    (reference: GMS TestStatistics; MySQL ANALYZE TABLE)."""

    tables: list[str]


@dataclass
class RenameTable:
    old: str
    new: str
    # RENAME TABLE a TO b, c TO d, ... — applied in order (MySQL's
    # atomic multi-rename; the swap idiom depends on the ordering)
    more: list = field(default_factory=list)


@dataclass
class Truncate:
    name: str


@dataclass
class Optimize:
    """OPTIMIZE t [ZORDER BY (a, b)] — data-skipping rewrite
    (Delta-style syntax; see catalog.ParquetTable.optimize)."""

    name: str
    zorder_cols: list[str]


@dataclass
class Vacuum:
    """VACUUM t [RETAIN n VERSIONS] — snapshot retention
    (see catalog.ParquetTable.vacuum)."""

    name: str
    keep_last: int = 1


@dataclass
class SubscriptionStmt:
    """CREATE/ALTER/DROP SUBSCRIPTION — the declarative replication
    surface (reference: pgserver/subscription_handler.go:18-66 grammar,
    :162-238 enable/disable/drop lifecycle). The CONNECTION string is
    key=value pairs as in the reference (:68-146); this engine's feed
    transport is the file feed, so `path=` (feed root), `table=`
    (target) and optional `pk=` drive the applier, while
    dbname/host/port/user/password are parsed and stored for parity.
    """

    action: str  # create | drop | enable | disable
    name: str
    connection: dict[str, str] | None = None
    publication: str | None = None


@dataclass
class Insert:
    table: str
    columns: list[str] | None
    rows: list[list[object]] | None  # literal rows, or None when query
    query: str | None  # INSERT ... SELECT
    mode: str = "insert"  # insert|ignore|replace
    on_dup: dict[str, str] = field(default_factory=dict)  # col -> expr
    conflict_cols: list[str] | None = None  # ON CONFLICT (cols) target
    conflict_constraint: str | None = None  # ON CONFLICT ON CONSTRAINT name
    # True when on_dup came from Postgres ON CONFLICT (strict: requires a
    # unique constraint) vs MySQL ON DUPLICATE KEY (keyless → plain insert,
    # reference TestInsertDuplicateKeyKeyless main_test.go:851)
    from_on_conflict: bool = False
    # pg DO UPDATE SET ... WHERE <cond>: update only conflicting rows
    # matching cond (others stay untouched; the incoming row is dropped)
    on_dup_where: str | None = None


@dataclass
class MergeWhen:
    """One WHEN clause of a MERGE statement, in source order.

    kind: 'matched' | 'not_matched' | 'not_matched_by_source'
    action: 'update' | 'delete' | 'insert' | 'nothing'
    """

    kind: str
    cond: str | None
    action: str
    assignments: dict[str, str] | None = None  # update: col -> expr text
    insert_cols: list[str] | None = None
    insert_vals: list[str] | None = None
    star: bool = False  # UPDATE SET * / INSERT * (Delta-style by-name)


@dataclass
class MergeStmt:
    """MERGE INTO target USING source ON cond WHEN ... (SQL:2003 +
    Postgres 15 / DuckDB 1.4 surface; the reference reaches the same
    semantics through REPLACE/ON DUPLICATE + CDC merge —
    delta/controller.go upsert path; here it's first-class)."""

    target: str
    target_alias: str
    source_text: str  # table name or parenthesized subquery text
    source_alias: str
    on: str
    whens: list[MergeWhen]


def _top_level_positions(masked: str, word: str) -> list[int]:
    """Start offsets of top-level (paren-depth-0) keyword occurrences.

    `masked` must come from mask_strings so literals can't match."""
    out: list[int] = []
    depth = 0
    for m in re.finditer(r"[()]|\b" + word + r"\b", masked, re.I):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            out.append(m.start())
    return out


def parse_merge(s: str) -> MergeStmt:
    """Parse MERGE INTO ... USING ... ON ... WHEN [NOT] MATCHED ..."""
    masked = mask_strings(s)
    m = re.match(r"MERGE\s+INTO\s+(`[^`]+`|\w+)", s, re.I)
    if not m:
        raise ValueError(f"cannot parse MERGE statement: {s[:80]}")
    target = unquote_ident(m.group(1))
    using_pos = next(iter(_top_level_positions(masked, "USING")), None)
    if using_pos is None:
        raise ValueError("MERGE requires a USING clause")
    alias_seg = s[m.end() : using_pos].strip()
    am = re.match(r"^(?:AS\s+)?(`[^`]+`|\w+)?\s*$", alias_seg, re.I)
    target_alias = unquote_ident(am.group(1)) if am and am.group(1) else target

    on_positions = [p for p in _top_level_positions(masked, "ON") if p > using_pos]
    if not on_positions:
        raise ValueError("MERGE requires an ON join condition")
    on_pos = on_positions[0]
    when_positions = [p for p in _top_level_positions(masked, "WHEN") if p > on_pos]
    if not when_positions:
        raise ValueError("MERGE requires at least one WHEN clause")

    src_seg = s[using_pos + len("USING") : on_pos].strip()
    if src_seg.startswith("("):
        # (subquery) [AS] alias — find the matching close paren
        depth = 0
        end = -1
        for idx, c in enumerate(src_seg):
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    end = idx
                    break
        if end < 0:
            raise ValueError("unbalanced parens in MERGE USING source")
        source_text = src_seg[: end + 1]
        tail = src_seg[end + 1 :].strip()
    else:
        parts = src_seg.split(None, 1)
        source_text = parts[0]
        tail = parts[1] if len(parts) > 1 else ""
    sm = re.match(r"^(?:AS\s+)?(`[^`]+`|\w+)?\s*$", tail, re.I)
    if sm and sm.group(1):
        source_alias = unquote_ident(sm.group(1))
    elif not src_seg.startswith("("):
        source_alias = unquote_ident(source_text)
    else:
        raise ValueError("MERGE USING (subquery) requires an alias")

    on = s[on_pos + 2 : when_positions[0]].strip()

    whens: list[MergeWhen] = []
    bounds = when_positions + [len(s)]
    for b0, b1 in zip(bounds, bounds[1:]):
        seg = s[b0:b1].strip()
        seg_masked = masked[b0:b1]
        hm = re.match(
            r"WHEN\s+(NOT\s+)?MATCHED(?:\s+BY\s+(SOURCE|TARGET))?\b", seg, re.I
        )
        if not hm:
            raise ValueError(f"cannot parse MERGE WHEN clause: {seg[:60]}")
        neg, by = bool(hm.group(1)), (hm.group(2) or "").upper()
        if neg and by == "SOURCE":
            kind = "not_matched_by_source"
        elif neg:
            kind = "not_matched"
        elif by:
            raise ValueError("WHEN MATCHED takes no BY qualifier")
        else:
            kind = "matched"
        # THEN that introduces the action (first top-level THEN followed
        # by UPDATE/DELETE/INSERT/DO — a CASE..THEN inside the AND
        # condition is followed by an expression instead)
        then_pos = None
        depth = 0
        for tm in re.finditer(r"[()]|\bTHEN\b", seg_masked, re.I):
            tok = tm.group(0)
            if tok == "(":
                depth += 1
            elif tok == ")":
                depth -= 1
            elif depth == 0 and re.match(
                r"\s*(UPDATE|DELETE|INSERT|DO)\b", seg[tm.end():], re.I
            ):
                then_pos = tm.start()
                break
        if then_pos is None:
            raise ValueError(f"MERGE WHEN clause has no THEN action: {seg[:60]}")
        cond_seg = seg[hm.end() : then_pos].strip()
        cond = None
        if cond_seg:
            cm = re.match(r"AND\s+(.*)$", cond_seg, re.I | re.S)
            if not cm:
                raise ValueError(
                    f"expected AND <condition> before THEN, got: {cond_seg[:40]}"
                )
            cond = cm.group(1).strip()
        action_seg = seg[then_pos + 4 :].strip().rstrip(";").strip()
        aup = action_seg.upper()
        if aup.startswith("UPDATE"):
            if kind == "not_matched":
                raise ValueError("WHEN NOT MATCHED cannot UPDATE")
            body = re.sub(r"^UPDATE\s+SET\s+", "", action_seg, flags=re.I)
            if body.strip() == "*":
                whens.append(MergeWhen(kind, cond, "update", star=True))
                continue
            assignments: dict[str, str] = {}
            for item in split_top_level(body, ","):
                im = re.match(r"^\s*(`[^`]+`|[\w.]+)\s*=\s*(.*)$", item, re.S)
                if not im:
                    raise ValueError(f"cannot parse MERGE SET item: {item[:40]}")
                col = unquote_ident(im.group(1).split(".")[-1])
                assignments[col] = im.group(2).strip()
            whens.append(MergeWhen(kind, cond, "update", assignments=assignments))
        elif aup.startswith("DELETE"):
            if kind == "not_matched":
                raise ValueError("WHEN NOT MATCHED cannot DELETE")
            whens.append(MergeWhen(kind, cond, "delete"))
        elif aup.startswith("INSERT"):
            if kind != "not_matched":
                raise ValueError("INSERT is only valid in WHEN NOT MATCHED")
            body = action_seg[len("INSERT") :].strip()
            if body == "*" or body == "":
                whens.append(MergeWhen(kind, cond, "insert", star=True))
                continue
            cols = None
            if body.startswith("("):
                depth, end = 0, -1
                for idx, c in enumerate(body):
                    if c == "(":
                        depth += 1
                    elif c == ")":
                        depth -= 1
                        if depth == 0:
                            end = idx
                            break
                cols = [
                    unquote_ident(x.strip())
                    for x in split_top_level(body[1:end], ",")
                ]
                body = body[end + 1 :].strip()
            vm = re.match(r"^VALUES\s*\((.*)\)\s*$", body, re.I | re.S)
            if not vm:
                raise ValueError(
                    f"cannot parse MERGE INSERT action: {action_seg[:60]}"
                )
            vals = [x.strip() for x in split_top_level(vm.group(1), ",")]
            if cols is not None and len(cols) != len(vals):
                raise ValueError(
                    f"MERGE INSERT has {len(cols)} columns but "
                    f"{len(vals)} values"
                )
            whens.append(
                MergeWhen(kind, cond, "insert", insert_cols=cols, insert_vals=vals)
            )
        elif aup.startswith("DO NOTHING"):
            whens.append(MergeWhen(kind, cond, "nothing"))
        else:
            raise ValueError(f"unknown MERGE action: {action_seg[:40]}")
    return MergeStmt(target, target_alias, source_text, source_alias, on, whens)


@dataclass
class Update:
    table: str
    assignments: dict[str, str]  # col -> expression text
    where: str | None
    # UPDATE IGNORE: rows whose post-image violates a CHECK / NOT NULL
    # constraint are skipped with a warning instead of failing the
    # statement (MySQL semantics; reference GMS TestUpdateIgnore)
    ignore: bool = False
    # MySQL UPDATE ... [ORDER BY ...] LIMIT n (row-capped update)
    order_by: str | None = None
    limit: int | None = None
    # Multi-table form (UPDATE t1 JOIN t2 ON ... SET t1.c = ...):
    # the raw FROM-clause fragment; `table` is then resolved by the
    # engine from the SET qualifiers (reference: TestUpdate join cases,
    # main_test.go:948).
    from_text: str | None = None
    # Leading `WITH name AS (...)` prologue (MySQL 8 WITH...UPDATE);
    # prepended to the engine's re-planned SELECTs.
    cte: str | None = None


@dataclass
class Delete:
    table: str
    where: str | None
    # MySQL DELETE ... [ORDER BY ...] LIMIT n (row-capped delete)
    order_by: str | None = None
    limit: int | None = None
    # Multi-table forms (DELETE t1 FROM t1 JOIN t2 ... / DELETE FROM t1
    # USING ...): the raw FROM/USING fragment plus the target list
    # (aliases or table names, `.*` suffix allowed as in MySQL).
    from_text: str | None = None
    targets: list[str] | None = None
    cte: str | None = None


@dataclass
class Show:
    kind: str  # tables|columns|create_table|variables|table_status|...
    target: str | None = None
    like: str | None = None
    where: str | None = None  # SHOW ... WHERE expr (filters the rows)


@dataclass
class SelectIntoVars:
    """SELECT ... INTO @a, @b — single-row select assigned to user
    variables (MySQL errors on >1 row; 0 rows leaves them untouched
    with a warning). The query text has the INTO clause stripped."""

    query: str
    vars: list[str]


@dataclass
class SelectIntoOutfile:
    """SELECT ... INTO OUTFILE 'path' [FIELDS ...] [LINES ...]
    (reference: GMS TestSelectIntoFile, main_test.go; MySQL server-side
    file export). The query text has the INTO clause stripped."""

    query: str
    path: str
    fields_sep: str = "\t"
    enclosed: str | None = None
    lines_term: str = "\n"


@dataclass
class SetVar:
    name: str
    value: object
    # value holds EXPRESSION TEXT the engine must evaluate (user-var
    # refs substituted, left-to-right across a multi-assignment list)
    is_expr: bool = False


@dataclass
class SetVarList:
    """SET a = x, b = y, ... — assignments apply left-to-right with
    earlier ones visible to later expressions (MySQL)."""

    items: list[SetVar]


@dataclass
class UseDb:
    name: str


@dataclass
class Prepare:
    """PREPARE name FROM 'text' (reference: pg extended-protocol Parse,
    pgserver/duck_handler.go:133 ComPrepareParsed; MySQL PREPARE via GMS)."""

    name: str
    query: str


@dataclass
class ReplicaStmt:
    """Binlog replica controller statements (reference:
    binlogreplication/binlog_replica_controller.go — CHANGE REPLICATION
    SOURCE TO persists config, START/STOP drive the applier, RESET
    clears). `options` holds the CHANGE … TO key/value list."""

    action: str  # change_source | start | stop | reset
    options: dict | None = None
    all: bool = False  # RESET REPLICA ALL


@dataclass
class ExecutePrepared:
    name: str
    using: list[str]  # user-variable names, without the '@'
    # pg spelling EXECUTE name(lit, ...): literal argument values
    args: list | None = None


@dataclass
class Deallocate:
    name: str


@dataclass
class CreateDb:
    name: str
    if_not_exists: bool = False


@dataclass
class DropDb:
    name: str
    if_exists: bool = False


@dataclass
class CreateView:
    name: str
    query: str
    or_replace: bool = False
    # WITH [CASCADED|LOCAL] CHECK OPTION: DML through the view must
    # keep rows visible in it (enforced by the engine's updatable-view
    # path; CASCADED/LOCAL collapse — view-on-view DML is rejected)
    check_option: bool = False


@dataclass
class DropView:
    name: str
    if_exists: bool = False
    more: list = field(default_factory=list)  # DROP VIEW a, b, ...


@dataclass
class CreateMatView:
    """CREATE MATERIALIZED VIEW: a physical table + stored defining
    SQL (pg semantics: snapshot at creation, REFRESH re-runs)."""

    name: str
    query: str
    with_data: bool = True
    if_not_exists: bool = False


@dataclass
class RefreshMatView:
    name: str


@dataclass
class DropMatView:
    name: str
    if_exists: bool = False


@dataclass
class CreateType:
    """pg CREATE TYPE name AS ENUM (...) / CREATE DOMAIN name AS
    base [CHECK (...)]: a warehouse-level type alias the engine
    substitutes into later DDL (enum → the MySQL-style ENUM(...)
    machinery; domain → base type + per-column VALUE check)."""

    name: str
    values: list[str] | None = None  # enum labels, declaration order
    base: str | None = None  # domain base type
    check: str | None = None  # domain CHECK body (VALUE placeholder)


@dataclass
class DropType:
    name: str
    if_exists: bool = False


@dataclass
class CreateMacro:
    """CREATE [OR REPLACE] MACRO name(params) AS body — DuckDB's UDF
    mechanism, which the reference uses for its internal function shims
    (catalog/internal_macro.go:17-31) and exposes to pg clients
    (pgserver/stmt.go:437-443). Untyped lazy templates: expansion is
    textual at call sites, the same late-binding semantics DuckDB
    applies."""

    name: str
    params: list[str]
    body: str
    or_replace: bool = False


@dataclass
class DropMacro:
    name: str
    if_exists: bool = False


@dataclass
class CreateSequence:
    """CREATE SEQUENCE — user-facing pg sequences. The reference gets
    these through its pg→DuckDB passthrough and uses them itself for
    AUTO_INCREMENT backing (catalog/table.go:219 CREATE SEQUENCE,
    :259/:413 nextval defaults, currval note at :802). The counter
    persists in warehouse metadata (engine.__sequences.json), the same
    store discipline as AUTO_INCREMENT."""

    name: str
    start: int | None = None
    increment: int = 1
    minvalue: int | None = None
    maxvalue: int | None = None
    cycle: bool = False
    if_not_exists: bool = False


@dataclass
class DropSequence:
    names: list[str]
    if_exists: bool = False


@dataclass
class AlterSequence:
    """ALTER SEQUENCE name RESTART [WITH n] / INCREMENT [BY n] —
    the subset migration tools emit."""

    name: str
    restart: bool = False
    restart_with: int | None = None
    increment: int | None = None


@dataclass
class CreateIndex:
    name: str
    table: str
    columns: list[str] = field(default_factory=list)
    unique: bool = False
    fulltext: bool = False


@dataclass
class CreateVectorIndex:
    """CREATE [OR REPLACE] VECTOR INDEX n ON t (col) [WITH (nlist=8, ...)]
    — materialized IVF structure (operators/vindex.py), the embedding-
    column analog of the reference's ART indexes (catalog/table.go)."""

    name: str
    table: str
    column: str
    options: dict = field(default_factory=dict)
    or_replace: bool = False


@dataclass
class DropIndex:
    name: str
    table: str | None = None
    if_exists: bool = False


@dataclass
class LoadData:
    """LOAD DATA INFILE (reference: backend/loaddata.go:56-227 rewrites
    it to INSERT INTO ... FROM read_csv(...))."""

    path: str
    table: str
    columns: list[str] | None = None
    mode: str = "insert"  # insert|ignore|replace
    sep: str = "\t"  # MySQL LOAD DATA defaults: tab fields, \n lines
    quote: str = ""
    escape: str = "\\"
    line_sep: str | None = None
    skip: int = 0


@dataclass
class DeclareCursor:
    """Session-level pg cursor: DECLARE name CURSOR FOR query.
    FETCH streams via toLocalIterator — no full-result collect."""

    name: str
    query: str


@dataclass
class FetchCursor:
    name: str
    count: int | None = None  # None = ALL
    move_only: bool = False


@dataclass
class CloseCursor:
    name: str  # 'ALL' closes everything


@dataclass
class CopyStmt:
    """COPY ... TO/FROM (reference: pgserver/copy.go:14-48 parse,
    datawriter.go:49-139 writer, dataloader.go:156-256 loader)."""

    direction: str  # to|from
    target: str  # table name or (query) for TO
    is_query: bool
    path: str
    fmt: str = "csv"
    options: dict[str, object] = field(default_factory=dict)


@dataclass
class BackupStmt:
    """BACKUP/RESTORE DATABASE ... TO/FROM '<uri>' with object-store
    credentials (reference: pgserver/backup_handler.go:14-90 syntax)."""

    direction: str  # backup|restore
    name: str
    uri: str
    endpoint: str | None = None
    access_key_id: str | None = None
    secret_access_key: str | None = None


@dataclass
class TxnStmt:
    kind: str  # begin|commit|rollback|savepoint|rollback_to|release
    name: str | None = None  # savepoint name for the last three kinds


@dataclass
class Query:
    sql: str


_COL_CONSTRAINT_WORDS = (
    "PRIMARY",
    "UNIQUE",
    "KEY",
    "INDEX",
    "CONSTRAINT",
    "FOREIGN",
    "CHECK",
)

_TYPE_RE = (
    r"[A-Za-z]+(?:\s*\(\s*[^)]*\))?"  # TYPE or TYPE(args)
    r"(?:\s*\[\s*\d*\s*\])?"          # pg array suffix: elem[] / elem[N]
                                      # (a declared dimension is
                                      # documentation in pg: FLOAT[4] ≡ FLOAT[])
    r"(?:\s*<\s*[A-Za-z]+(?:\s*\(\s*[^)]*\))?\s*>)?"  # ARRAY<elem>
    r"(?:\s+UNSIGNED)?(?:\s+ZEROFILL)?"
)


def _parse_column_def(item: str, meta: TableMeta) -> tuple[str, str] | None:
    """One CREATE TABLE item → (name, type) or None for constraints."""
    first = item.split(None, 1)[0].upper().strip("`")
    if first in _COL_CONSTRAINT_WORDS and not item.startswith("`"):
        up = item.upper()
        if up.startswith("PRIMARY KEY"):
            cols = re.search(r"\((.*?)\)", item, re.S).group(1)
            meta.primary_key = [unquote_ident(c) for c in cols.split(",")]
        elif "CHECK" in up:
            m = re.match(
                r"(?:CONSTRAINT\s+(\S+)\s+)?CHECK\s*\((.*)\)\s*$",
                item,
                re.I | re.S,
            )
            if m:
                cname = unquote_ident(m.group(1) or f"check_{len(meta.checks)}")
                meta.checks[cname] = m.group(2).strip()
        fm = re.match(
            r"(?:CONSTRAINT\s+(`[^`]+`|\w+)\s+)?FOREIGN\s+KEY\s*"
            r"\(([^)]*)\)\s*REFERENCES\s+(`[^`]+`|\w+)\s*\(([^)]*)\)"
            r"(?:\s+ON\s+DELETE\s+(CASCADE|SET\s+NULL|RESTRICT|NO\s+ACTION))?"
            r"(?:\s+ON\s+UPDATE\s+(CASCADE|SET\s+NULL|RESTRICT|NO\s+ACTION))?",
            item,
            re.I | re.S,
        )
        if fm:
            meta.foreign_keys.append({
                "name": unquote_ident(
                    fm.group(1) or f"fk_{len(meta.foreign_keys)}"
                ),
                "columns": [
                    unquote_ident(c) for c in fm.group(2).split(",")
                ],
                "ref_table": unquote_ident(fm.group(3)),
                "ref_columns": [
                    unquote_ident(c) for c in fm.group(4).split(",")
                ],
                "on_delete": (fm.group(5) or "NO ACTION").upper(),
                "on_update": (fm.group(6) or "NO ACTION").upper(),
            })
        # UNIQUE/KEY/INDEX: recorded in meta.indexes (SHOW CREATE
        # TABLE / information_schema.statistics / dump round-trips),
        # never enforced — like the reference
        # (harness/duck_harness.go:102-105). FULLTEXT/SPATIAL inline
        # keys stay unrecorded (CREATE FULLTEXT INDEX builds the real
        # index tables; GEOMETRY is out of scope).
        im = re.match(
            r"(?:(UNIQUE)\s+(?:INDEX\s+|KEY\s+)?|(?:INDEX|KEY)\s+)"
            r"(`[^`]+`|\w+)?\s*"
            r"\(((?:[^()]|\([^)]*\))*)\)",  # allow col(10) prefixes
            item, re.I | re.S,
        )
        if im and first in ("UNIQUE", "KEY", "INDEX"):
            cols = [
                unquote_ident(re.sub(r"\s*\(\d+\)\s*$", "", c.strip()))
                for c in split_top_level(im.group(3), ",")
            ]
            name = unquote_ident(im.group(2)) if im.group(2) else cols[0]
            meta.indexes[name] = {
                "columns": cols, "unique": bool(im.group(1))
            }
        return None

    m = re.match(rf"(`[^`]+`|\w+)\s+({_TYPE_RE})(.*)$", item, re.I | re.S)
    if not m:
        raise ValueError(f"cannot parse column definition: {item!r}")
    name = unquote_ident(m.group(1))
    mysql_type = m.group(2).strip()
    rest = m.group(3) or ""
    up = rest.upper()
    tu = mysql_type.upper()
    if tu in ("SERIAL", "BIGSERIAL", "SMALLSERIAL",
              "SERIAL2", "SERIAL4", "SERIAL8"):
        # pg serial family + MySQL's own SERIAL alias (= BIGINT
        # UNSIGNED NOT NULL AUTO_INCREMENT UNIQUE): an auto-assigned
        # integer id → the engine's AUTO_INCREMENT machinery
        mysql_type = {"SMALLSERIAL": "SMALLINT", "SERIAL2": "SMALLINT",
                      "SERIAL4": "INT"}.get(tu, "BIGINT")
        meta.auto_increment = name
        if name not in meta.not_null:
            meta.not_null.append(name)
    idm = re.search(
        r"\bGENERATED\s+(?:ALWAYS|BY\s+DEFAULT)\s+AS\s+IDENTITY"
        r"(?:\s*\(([^)]*)\))?",
        rest, re.I,
    )
    if idm:
        # pg identity ≈ AUTO_INCREMENT; sequence options: START WITH
        # honored, non-1 INCREMENT has no engine analog — reject
        meta.auto_increment = name
        if name not in meta.not_null:
            meta.not_null.append(name)
        seqopts = idm.group(1) or ""
        sm2 = re.search(r"(?i)START\s+WITH\s+(\d+)", seqopts)
        if sm2:
            meta.stats["auto_increment_base"] = int(sm2.group(1))
        im2 = re.search(r"(?i)INCREMENT\s+BY\s+(\d+)", seqopts)
        if im2 and int(im2.group(1)) != 1:
            raise NotImplementedError(
                "IDENTITY ... INCREMENT BY n != 1 is not supported "
                "(auto-assignment is +1); use an explicit sequence"
            )
        # remove the clause so later generated-column regexes never
        # see the AS keyword
        rest = rest[:idm.start()] + rest[idm.end():]
        up = rest.upper()
    if "AUTO_INCREMENT" in up:
        meta.auto_increment = name
    if re.search(r"\bNOT\s+NULL\b", up):
        meta.not_null.append(name)
    if re.search(r"\bPRIMARY\s+KEY\b", up):
        meta.primary_key = [name]
    gm = re.search(
        r"\b(?:GENERATED\s+ALWAYS\s+)?AS\s*\((.*)\)\s*(?:STORED|VIRTUAL)?\s*$",
        rest,
        re.I | re.S,
    )
    if gm:
        meta.generated[name] = gm.group(1).strip()
    om = re.search(r"\bON\s+UPDATE\s+(\w+(?:\s*\([^)]*\))?)", rest, re.I)
    if om:
        meta.on_update[name] = om.group(1).strip()
    dm = re.search(
        r"\bDEFAULT\s+('(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.|\"\")*\"|[^\s,]+)",
        rest,
        re.I,
    )
    if dm:
        try:
            meta.defaults[name] = parse_literal(dm.group(1))
        except ValueError:
            meta.defaults[name] = None  # expression default: not enforced
    cm = re.search(r"\bCHECK\s*\((.*)\)", rest, re.I | re.S)
    if cm:
        meta.checks[f"{name}_check"] = cm.group(1).strip()
    chm = re.search(r"\b(?:CHARACTER\s+SET|CHARSET)\s+(\w+)", rest, re.I)
    if chm:
        mysql_type = f"{mysql_type} CHARACTER SET {chm.group(1).lower()}"
    return name, mysql_type


def _scan_placeholders(sql: str, repl: list[str] | None):
    """Walk `sql` outside quoted regions; count or substitute '?' marks."""
    out: list[str] = []
    count = 0
    quote: str | None = None
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if quote:
            out.append(c)
            if c == quote:
                quote = None
            elif c == "\\" and quote in "'\"" and i + 1 < n:
                out.append(sql[i + 1])
                i += 1
        elif c in "'\"`":
            quote = c
            out.append(c)
        elif c == "?":
            if repl is not None:
                out.append(repl[count])
            count += 1
        else:
            out.append(c)
        i += 1
    return "".join(out), count


def count_placeholders(sql: str) -> int:
    """Number of '?' parameter marks outside string/ident literals."""
    return _scan_placeholders(sql, None)[1]


def bind_placeholders(sql: str, literals: list[str]) -> str:
    """Substitute rendered literals for '?' marks (DML bind path)."""
    return _scan_placeholders(sql, literals)[0]


_STR_LIT = r"'(?:[^'\\]|\\.|'')*'"

# MySQL index options accepted (and ignored — parquet snapshots have no
# physical index structure to tune): USING BTREE/HASH, visibility,
# comments, block size
_INDEX_OPTS = (
    r"(?:\s*(?:USING\s+\w+|VISIBLE|INVISIBLE|COMMENT\s+'[^']*'|"
    r"KEY_BLOCK_SIZE\s*=?\s*\w+))*"
    r"(?:\s+WHERE\s+.+)?\s*"  # pg partial-index predicate (metadata)
)


def _parse_into_outfile(s: str) -> SelectIntoOutfile | None:
    """Detect and strip a top-level INTO OUTFILE clause from a SELECT."""
    m = re.search(r"\bINTO\s+OUTFILE\b", mask_strings(s), re.I)
    if not m:
        return None
    tail = s[m.start():]
    tm = re.match(rf"INTO\s+OUTFILE\s+({_STR_LIT})", tail, re.I)
    if not tm:
        raise ValueError("INTO OUTFILE requires a quoted file path")
    path = parse_literal(tm.group(1))
    pos = tm.end()
    vals: dict[str, str] = {}
    opt_res = [
        ("fields_sep",
         rf"\s*(?:FIELDS|COLUMNS)\s+TERMINATED\s+BY\s+({_STR_LIT})"),
        ("enclosed", rf"\s*(?:OPTIONALLY\s+)?ENCLOSED\s+BY\s+({_STR_LIT})"),
        ("escaped", rf"\s*ESCAPED\s+BY\s+({_STR_LIT})"),
        ("lines_term", rf"\s*LINES\s+TERMINATED\s+BY\s+({_STR_LIT})"),
    ]
    progress = True
    while progress:
        progress = False
        for k, rx in opt_res:
            mm = re.match(rx, tail[pos:], re.I)
            if mm and k not in vals:
                vals[k] = parse_literal(mm.group(1))
                pos += mm.end()
                progress = True
    # Anything left after the options belongs to the query (MySQL also
    # allows INTO OUTFILE before FROM).
    query = (s[: m.start()].rstrip() + " " + tail[pos:].lstrip()).strip()
    return SelectIntoOutfile(
        query=query,
        path=path,
        fields_sep=vals.get("fields_sep", "\t"),
        enclosed=vals.get("enclosed") or None,
        lines_term=vals.get("lines_term", "\n"),
    )


def _part_expr_cols(expr: str) -> list[str]:
    """Column identifiers in a MySQL partition expression — words not
    followed by '(' (those are function names): RANGE (YEAR(d)) → [d],
    RANGE COLUMNS(a, b) → [a, b]."""
    out = []
    for m in re.finditer(r"(`[^`]+`|[A-Za-z_]\w*)\s*(\()?", expr):
        if m.group(2):
            continue
        name = m.group(1).strip("`")
        if name.upper() not in ("MAXVALUE", "AND", "OR"):
            out.append(name)
    return out


def _parse_into_vars(s: str) -> "SelectIntoVars | None":
    """Detect and strip a top-level `INTO @a[, @b...]` clause (MySQL
    SELECT-into-user-variables; allowed before FROM or at the end)."""
    masked = mask_strings(s)
    m = re.search(r"\bINTO\s+(@\w+(?:\s*,\s*@\w+)*)(?!\s*\()", masked, re.I)
    if not m:
        return None
    names = [v.strip()[1:] for v in m.group(1).split(",")]
    query = (s[: m.start()].rstrip() + " " + s[m.end():].lstrip()).strip()
    return SelectIntoVars(query=query, vars=names)


def _parse_alter_action(name: str, rest: str) -> AlterTable:
    """One ALTER TABLE action (MySQL allows a comma-separated
    list; parse_statement splits at top level and parses each
    through here)."""
    _CONSTRAINT_FIRST = ("INDEX", "KEY", "UNIQUE", "CONSTRAINT",
                         "FOREIGN", "CHECK", "FULLTEXT", "SPATIAL",
                         "PRIMARY")

    im = re.match(r"ADD\s+(?:COLUMN\s+)?IF\s+NOT\s+EXISTS\s+(.+)$",
                  rest, re.I | re.S)
    if im:
        # pg ADD COLUMN IF NOT EXISTS — peel before the generic ADD
        # branch reads 'IF' as the column name
        inner = _parse_alter_action(name, "ADD COLUMN " + im.group(1))
        inner.if_exists = True
        return inner

    def _peel_position(body: str) -> tuple[str, str | None]:
        # None=append, ""=FIRST, name=AFTER <name>
        pm = re.search(
            r"(?i)\s+(?:(FIRST)|AFTER\s+(`[^`]+`|\w+))\s*$",
            mask_strings(body),
        )
        if not pm:
            return body, None
        pos = "" if pm.group(1) else unquote_ident(
            body[pm.start(2):pm.end(2)])
        return body[: pm.start()], pos

    am = re.match(
        r"ADD\s+(COLUMN\s+)?(`[^`]+`|\w+)\s+(.+)$", rest, re.I | re.S
    )
    if am and (am.group(1) or unquote_ident(am.group(2)).upper()
               not in _CONSTRAINT_FIRST):
        # full column definition: attributes (NOT NULL / COMMENT /
        # AUTO_INCREMENT / ON UPDATE / GENERATED / inline CHECK /
        # PRIMARY KEY) parse through the CREATE TABLE item parser
        body, position = _peel_position(
            f"{am.group(2)} {am.group(3).strip()}")
        cm = TableMeta()
        parsed = _parse_column_def(body.strip(), cm)
        if parsed:
            col, mysql_type = parsed
            return AlterTable(name, "add_column", column=col,
                              mysql_type=mysql_type,
                              default=cm.defaults.get(col),
                              position=position, col_meta=cm)
    am = re.match(r"DROP\s+(?:COLUMN\s+)?(`[^`]+`|\w+)\s*$", rest, re.I)
    if am:
        return AlterTable(name, "drop_column", column=unquote_ident(am.group(1)))
    am = re.match(
        r"RENAME\s+COLUMN\s+(`[^`]+`|\w+)\s+TO\s+(`[^`]+`|\w+)\s*$", rest, re.I
    )
    if am:
        return AlterTable(name, "rename_column", column=unquote_ident(am.group(1)),
                          new_name=unquote_ident(am.group(2)))
    am = re.match(
        r"(MODIFY|CHANGE)\s+(?:COLUMN\s+)?(`[^`]+`|\w+)\s+(.+)$",
        rest, re.I | re.S,
    )
    if am:
        # MODIFY col <definition> / CHANGE old new <definition>:
        # the definition REPLACES the column's attributes (MySQL —
        # an omitted NOT NULL or DEFAULT drops it)
        verb = am.group(1).upper()
        old = unquote_ident(am.group(2))
        body = am.group(3).strip()
        new = old
        if verb == "CHANGE":
            nm = re.match(r"(`[^`]+`|\w+)\s+(.+)$", body, re.S)
            if not nm:
                raise ValueError(
                    f"cannot parse CHANGE COLUMN definition: {rest!r}")
            new, body = unquote_ident(nm.group(1)), nm.group(2).strip()
        body, position = _peel_position(f"`{new}` {body}")
        cm = TableMeta()
        parsed = _parse_column_def(body.strip(), cm)
        if parsed:
            _col, mysql_type = parsed
            return AlterTable(
                name,
                "modify_column" if verb == "MODIFY" else "change_column",
                column=old, new_name=new, mysql_type=mysql_type,
                default=cm.defaults.get(new), position=position,
                col_meta=cm,
            )
    am = re.match(r"RENAME\s+(?:TO\s+)?(`[^`]+`|\w+)\s*$", rest, re.I)
    if am:
        return AlterTable(name, "rename_table", new_name=unquote_ident(am.group(1)))
    am = re.match(
        r"ADD\s+(?:CONSTRAINT\s+(`[^`]+`|\w+)\s+)?FOREIGN\s+KEY", rest,
        re.I,
    )
    if am:
        # reuse the CREATE TABLE clause parser for the FK body
        tmp = TableMeta()
        _parse_column_def(rest[rest.upper().index("FOREIGN"):]
                          if not am.group(1)
                          else rest[len("ADD "):], tmp)
        if not tmp.foreign_keys:
            raise ValueError(f"cannot parse FOREIGN KEY clause: {rest!r}")
        fk = tmp.foreign_keys[0]
        if am.group(1):
            fk["name"] = unquote_ident(am.group(1))
        return AlterTable(name, "add_fk", fk=fk)
    am = re.match(
        r"DROP\s+FOREIGN\s+KEY\s+(`[^`]+`|\w+)\s*$", rest, re.I
    )
    if am:
        return AlterTable(name, "drop_fk",
                          column=unquote_ident(am.group(1)))
    am = re.match(
        r"ADD\s+(UNIQUE\s+)?(?:INDEX|KEY)\s+(`[^`]+`|\w+)\s*"
        r"\(([^)]*)\)" + _INDEX_OPTS + r"$",
        rest,
        re.I,
    )
    if am:
        cols = [unquote_ident(c) for c in am.group(3).split(",")]
        return AlterTable(
            name, "add_index",
            fk={"name": unquote_ident(am.group(2)), "columns": cols,
                "unique": bool(am.group(1))},
        )
    am = re.match(
        r"ADD\s+(?:CONSTRAINT\s+(`[^`]+`|\w+)\s+)?CHECK\s*\((.*)\)\s*$",
        rest,
        re.I | re.S,
    )
    if am:
        return AlterTable(
            name, "add_check",
            fk={"name": unquote_ident(am.group(1)) if am.group(1)
                else None, "expr": am.group(2).strip()},
        )
    am = re.match(
        r"DROP\s+(CHECK|CONSTRAINT)\s+(`[^`]+`|\w+)\s*$", rest, re.I
    )
    if am:
        action = (
            "drop_check" if am.group(1).upper() == "CHECK"
            else "drop_constraint"
        )
        return AlterTable(name, action,
                          column=unquote_ident(am.group(2)))
    am = re.match(
        r"ALTER\s+(?:COLUMN\s+)?(`[^`]+`|\w+)\s+SET\s+DEFAULT\s+(.+)$",
        rest,
        re.I | re.S,
    )
    if am:
        return AlterTable(
            name, "set_default", column=unquote_ident(am.group(1)),
            default=parse_literal(am.group(2).strip()),
        )
    am = re.match(
        r"ALTER\s+(?:COLUMN\s+)?(`[^`]+`|\w+)\s+DROP\s+DEFAULT\s*$",
        rest,
        re.I,
    )
    if am:
        return AlterTable(name, "drop_default",
                          column=unquote_ident(am.group(1)))
    am = re.match(r"COMMENT\s*=?\s*(.+)$", rest, re.I | re.S)
    if am:
        return AlterTable(
            name, "set_comment",
            default=parse_literal(am.group(1).strip()),
        )
    am = re.fullmatch(r"AUTO_INCREMENT\s*=?\s*(\d+)", rest, re.I)
    if am:
        return AlterTable(name, "set_ai_base",
                          default=int(am.group(1)))
    # storage/physical options are meaningless for parquet snapshots
    # but harmless to accept (MySQL dump files carry them routinely)
    if re.fullmatch(
        r"(?:ENGINE|AUTO_EXTEND_SIZE|ROW_FORMAT|KEY_BLOCK_SIZE|"
        r"STATS_PERSISTENT|ALGORITHM|LOCK)\s*=?\s*\w+"
        # DISABLE/ENABLE KEYS toggles MyISAM index maintenance
        # around bulk loads (mysqldump wraps every INSERT block in
        # them); snapshots have no maintained index structure
        r"|(?:DISABLE|ENABLE)\s+KEYS"
        # ORDER BY: a MyISAM physical-sort hint ("the table does not
        # remain in this order after inserts and deletes" — MySQL
        # manual); parquet snapshots keep no maintained row order
        r"|ORDER\s+BY\s+\S[^;]*",
        rest, re.I,
    ):
        return AlterTable(name, "noop_option")
    # charset/collation declarations: strings are always UTF-8 in
    # Spark; the declared charset is recorded as table metadata
    am = re.fullmatch(
        r"(?:CONVERT\s+TO\s+|DEFAULT\s+)?(?:CHARACTER\s+SET|CHARSET)"
        r"\s*=?\s*(\w+)(?:\s+COLLATE\s*=?\s*\w+)?",
        rest, re.I,
    )
    if am:
        return AlterTable(name, "set_charset", default=am.group(1))
    # ALTER TABLE t DROP INDEX/KEY name (MySQL's ALTER-form of
    # DROP INDEX ... ON t)
    am = re.match(r"DROP\s+(?:INDEX|KEY)\s+(`[^`]+`|\w+)\s*$", rest, re.I)
    if am:
        return AlterTable(name, "drop_index_alter",
                          column=unquote_ident(am.group(1)))
    # ADD [CONSTRAINT [name]] UNIQUE [INDEX|KEY] [idxname] (cols)
    am = re.match(
        r"ADD\s+(?:CONSTRAINT\s+(?:(`[^`]+`|\w+)\s+)?)?UNIQUE"
        r"(?:\s+(?:INDEX|KEY))?(?:\s+(`[^`]+`|\w+))?\s*"
        r"\(([^)]*)\)" + _INDEX_OPTS + r"$",
        rest, re.I,
    )
    if am:
        iname = unquote_ident(am.group(2) or am.group(1) or "")
        cols = [unquote_ident(c.strip().split("(")[0])
                for c in am.group(3).split(",")]
        return AlterTable(
            name, "add_index",
            fk={"name": iname or ("uq_" + "_".join(cols)),
                "columns": cols, "unique": True},
        )
    # ADD [CONSTRAINT [name]] PRIMARY KEY (cols)
    am = re.match(
        r"ADD\s+(?:CONSTRAINT\s+(?:`[^`]+`|\w+)\s+)?PRIMARY\s+KEY\s*"
        r"\(([^)]*)\)\s*$",
        rest, re.I,
    )
    if am:
        cols = [unquote_ident(c.strip()) for c in am.group(1).split(",")]
        return AlterTable(name, "add_pk",
                          fk={"columns": cols})
    am = re.match(
        r"DROP\s+(?:COLUMN\s+)?IF\s+EXISTS\s+(`[^`]+`|\w+)\s*$",
        rest, re.I,
    )
    if am:
        return AlterTable(name, "drop_column",
                          column=unquote_ident(am.group(1)),
                          if_exists=True)
    # pg: ALTER [COLUMN] x TYPE t [USING expr] — type-only change
    # (attributes survive, unlike MySQL MODIFY's replace semantics)
    am = re.match(
        r"ALTER\s+(?:COLUMN\s+)?(`[^`]+`|\w+)\s+(?:SET\s+DATA\s+)?"
        r"TYPE\s+([\w()\s,]+?)(?:\s+USING\s+(.+))?\s*$",
        rest, re.I | re.S,
    )
    if am:
        col = unquote_ident(am.group(1))
        using = (am.group(3) or "").strip()
        if using and not re.fullmatch(
            rf"(?:{re.escape(col)}|\({re.escape(col)}\))\s*::\s*[\w()\s,]+"
            rf"|CAST\s*\(\s*{re.escape(col)}\s+AS\s+[\w()\s,]+\)",
            using, re.I,
        ):
            raise NotImplementedError(
                "ALTER COLUMN ... TYPE with a non-cast USING "
                f"expression is not supported: {using!r}"
            )
        return AlterTable(name, "modify_column", column=col,
                          new_name=col,
                          mysql_type=am.group(2).strip())
    # pg: ALTER [COLUMN] x SET/DROP NOT NULL
    am = re.match(
        r"ALTER\s+(?:COLUMN\s+)?(`[^`]+`|\w+)\s+SET\s+NOT\s+NULL\s*$",
        rest, re.I,
    )
    if am:
        return AlterTable(name, "set_not_null",
                          column=unquote_ident(am.group(1)))
    am = re.match(
        r"ALTER\s+(?:COLUMN\s+)?(`[^`]+`|\w+)\s+DROP\s+NOT\s+NULL\s*$",
        rest, re.I,
    )
    if am:
        return AlterTable(name, "drop_not_null",
                          column=unquote_ident(am.group(1)))
    # pg ownership/security declarations: no principal store for
    # object ownership — metadata no-ops
    if re.fullmatch(
        r"OWNER\s+TO\s+\S+|ENABLE\s+ROW\s+LEVEL\s+SECURITY"
        r"|DISABLE\s+ROW\s+LEVEL\s+SECURITY"
        r"|(?:SET|RESET)\s*\([^)]*\)|REPLICA\s+IDENTITY\s+.+"
        r"|ALTER\s+(?:COLUMN\s+)?(?:`[^`]+`|\w+)\s+SET\s+"
        r"(?:STATISTICS\s+\d+|STORAGE\s+\w+|COMPRESSION\s+\w+"
        r"|\([^)]*\))",
        rest, re.I,
    ):
        return AlterTable(name, "noop_option")
    raise ValueError(f"unsupported ALTER TABLE action: {rest!r}")


def parse_statement(sql: str, hash_comments: bool = True):
    """One statement string → a typed statement object."""
    s = strip_comments(sql, hash_comments).strip().rstrip(";").strip()
    # MySQL DML priority/speed modifiers are scheduler hints with no
    # analog in a snapshot engine — strip them (DELETE IGNORE's error
    # suppression targets FK cascades, which deletes here never raise)
    s = re.sub(
        r"(?i)^(INSERT|REPLACE)\s+(?:LOW_PRIORITY|DELAYED|HIGH_PRIORITY)\s+",
        r"\1 ", s,
    )
    s = re.sub(
        r"(?i)^DELETE\s+(?:(?:LOW_PRIORITY|QUICK|IGNORE)\s+)+FROM\s+",
        "DELETE FROM ", s,
    )
    s = re.sub(r"(?i)^UPDATE\s+LOW_PRIORITY\s+", "UPDATE ", s)
    up = s.upper()

    if up.startswith(("SELECT", "WITH")):
        into = _parse_into_outfile(s)
        if into is not None:
            return into
        into_v = _parse_into_vars(s)
        if into_v is not None:
            return into_v

    if up.startswith("WITH"):
        # MySQL 8 allows WITH before UPDATE/DELETE too; peel the CTE
        # prologue and re-dispatch on what follows.
        cte, rest = split_leading_cte(s)
        if cte and re.match(r"(?:UPDATE|DELETE)\b", rest, re.I):
            stmt = parse_statement(rest)
            stmt.cte = cte
            return stmt
        if cte and re.match(r"(?:INSERT|REPLACE)\b", rest, re.I):
            # pg-style WITH-prologue INSERT: fold the CTE into the
            # source query so it routes through the engine's insert
            # executor (constraints/triggers/auto-increment). Left as
            # a Query it would reach Spark's native INSERT INTO, which
            # appends parquet files straight into the current snapshot
            # directory — bypassing every gate AND corrupting snapshot
            # immutability.
            stmt = parse_statement(rest)
            if getattr(stmt, "query", None) is None:
                raise ValueError(
                    "WITH ... INSERT requires a SELECT-sourced INSERT"
                )
            stmt.query = f"{cte} {stmt.query}"
            return stmt
        return Query(s)

    # a statement that IS a parenthesized query / set-op of
    # parenthesized operands — `(SELECT ... LIMIT 1) UNION ALL
    # (SELECT ...)`, the MySQL way to ORDER/LIMIT set-op arms
    if re.match(r"\(\s*(SELECT|VALUES|TABLE|WITH)\b", s, re.I):
        close = _match_close_paren(s, s.index("("))
        if close == len(s.rstrip()) - 1:
            # outer parens wrap the WHOLE statement: strip (Spark
            # rejects a bare parenthesized top-level query)
            return parse_statement(s[s.index("(") + 1:close])
        return Query(s)

    # EXPLAIN <table> is DESCRIBE <table> in MySQL
    em = re.match(r"EXPLAIN\s+(`[^`]+`|\w+)\s*$", s, re.I)
    if em and em.group(1)[0] == "`" or (
        em and em.group(1).upper() not in (
            "ANALYZE", "FORMATTED", "EXTENDED", "CODEGEN", "COST")
    ):
        return Show("columns", target=unquote_ident(em.group(1)))

    if up.startswith("EXPLAIN"):
        # MySQL EXPLAIN [ANALYZE] [FORMAT={TRADITIONAL|TREE|JSON}] →
        # Spark's EXPLAIN FORMATTED (the engine's plan renderer);
        # ANALYZE's runtime stats have no Spark-SQL-text equivalent, so
        # the plan is what comes back.
        norm = re.sub(
            r"(?i)^EXPLAIN(\s+ANALYZE|\s+FORMAT\s*=\s*\w+)+\s+",
            "EXPLAIN FORMATTED ", s,
        )
        return Query(norm)

    if up.startswith("VALUES") and re.match(r"VALUES\s+ROW\s*\(", s, re.I):
        # MySQL 8 table-value constructor: VALUES ROW(...), ROW(...)
        return Query(sub_outside_strings(r"(?i)\bROW\s*\(", "(", s))

    if up.startswith(("SELECT", "VALUES", "TABLE", "EXPLAIN", "DESCRIBE QUERY",
                      "CACHE TABLE", "UNCACHE TABLE", "CLEAR CACHE")):
        # CACHE/UNCACHE/CLEAR CACHE are native Spark SQL statements —
        # the engine's buffer-pool surface (DuckDB's is implicit).
        return Query(s)

    if up.startswith("MERGE"):
        return parse_merge(s)

    if "SUBSCRIPTION" in up:
        m = re.match(
            r"CREATE\s+SUBSCRIPTION\s+([\w-]+)\s+CONNECTION\s+'([^']+)'"
            r"(?:\s+PUBLICATION\s+([\w-]+))?$",
            s,
            re.I,
        )
        if m:
            conn = dict(re.findall(r"(\w+)=([^\s']*)", m.group(2)))
            # reference defaults (subscription_handler.go:137-144)
            conn.setdefault("dbname", "postgres")
            conn.setdefault("port", "5432")
            return SubscriptionStmt(
                "create", m.group(1), connection=conn,
                publication=m.group(3),
            )
        m = re.match(
            r"ALTER\s+SUBSCRIPTION\s+([\w-]+)\s+(ENABLE|DISABLE)$", s, re.I
        )
        if m:
            return SubscriptionStmt(m.group(2).lower(), m.group(1))
        m = re.match(r"DROP\s+SUBSCRIPTION\s+([\w-]+)$", s, re.I)
        if m:
            return SubscriptionStmt("drop", m.group(1))

    m = re.match(
        # MySQL allows omitting AS before the query (`CREATE TABLE t
        # SELECT ...`, the form mysqldump --no-create-info users write)
        r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|\w+)\s+"
        r"(?:PARTITIONED\s+BY\s*\(([^()]*)\)\s+)?"
        r"(?:AS\s+|(?=(?:SELECT|WITH|VALUES|TABLE)\b))(.*)$",
        s,
        re.I | re.S,
    )
    if m:
        pcols = [
            c.strip().strip("`") for c in (m.group(3) or "").split(",")
            if c.strip()
        ]
        return CreateTableAs(unquote_ident(m.group(2)), m.group(4).strip(),
                             if_not_exists=bool(m.group(1)),
                             partition_by=pcols)

    m = re.match(
        r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|\w+)\s+"
        r"LIKE\s+(`[^`]+`|\w+)\s*$",
        s,
        re.I,
    )
    if m:
        return CreateTableLike(
            unquote_ident(m.group(2)), unquote_ident(m.group(3)),
            if_not_exists=bool(m.group(1)),
        )

    # CREATE TABLE t (<columns, keys>) [options] [AS] <query>: the
    # declared table plus the query to load into it. The plain column-
    # list capture below would otherwise swallow the query up to its
    # last parenthesis and drop it.
    m = re.match(r"CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                 r"(?:`[^`]+`|\w+)\s*\(", s, re.I)
    if m:
        mask, depth = mask_strings(s), 0
        for close in range(m.end() - 1, len(s)):
            depth += {"(": 1, ")": -1}.get(mask[close], 0)
            if depth == 0:
                break
        q = re.search(r"(?:\bAS\s+)?(?=(?:\(\s*)*"
                      r"(?:SELECT|WITH|VALUES|TABLE)\b)",
                      mask[close + 1:], re.I)
        # only table options (no parentheses, unlike a partition
        # clause's VALUES LESS THAN (...)) may sit before the query
        if q and "(" not in mask[close + 1: close + 1 + q.start()]:
            ct = parse_statement(s[: close + 1 + q.start()].rstrip(),
                                 hash_comments)
            if isinstance(ct, CreateTable):
                ct.query = s[close + 1 + q.end():].strip()
                return ct

    # Strip a trailing partition clause FIRST: the column-list capture
    # below is greedy and would swallow the clause's parentheses.
    # MySQL PARTITION BY KEY/HASH(col), RANGE/LIST [COLUMNS] with
    # per-partition definitions, and hive-style PARTITIONED BY
    # (col [type]) all land here; value-based hive layout is the
    # Spark-side realization of each (RANGE(YEAR(d)) partitions on d —
    # partition pruning on the underlying column subsumes the bounds).
    part_cols: list[str] = []
    if re.match(r"CREATE\s+TABLE\b", s, re.I):
        pm = re.search(
            r"\bPARTITION\s+BY\s+(?:RANGE|LIST)(?:\s+COLUMNS)?\s*"
            r"\(([^()]*(?:\([^()]*\)[^()]*)*)\)\s*"
            r"\((?:[^()]|\([^()]*\))*\)\s*$",
            s,
            re.I | re.S,
        )
        if pm:
            part_cols = _part_expr_cols(pm.group(1))
            s = s[: pm.start()].rstrip()
        else:
            pm = re.search(
                r"\bPARTITION(?:ED)?\s+BY\s+"
                r"((?:KEY|HASH|LINEAR\s+KEY|LINEAR\s+HASH)\s*)?"
                r"\(([^()]*)\)\s*(?:PARTITIONS\s+\d+)?\s*$",
                s,
                re.I,
            )
            if pm:
                # KEY/HASH partitioning is a physical distribution
                # hint — mapping it onto hive VALUE partitioning would
                # mint one directory per key value (catastrophic for a
                # high-cardinality id at scale). Accept and drop;
                # Spark's shuffle owns distribution. Hive-style
                # PARTITIONED BY (no keyword) keeps the value layout.
                if not pm.group(1):
                    part_cols = [
                        it.strip().split()[0].strip("`")
                        for it in pm.group(2).split(",")
                        if it.strip()
                    ]
                s = s[: pm.start()].rstrip()
        # table-options tail (mysqldump emits these on every table);
        # AUTO_INCREMENT / COMMENT / charset are recorded, the rest are
        # physical-storage hints with no parquet-snapshot meaning
        table_opts: dict[str, str] = {}
        while True:
            tm = re.search(
                r"\s((?:DEFAULT\s+)?(?:CHARSET|CHARACTER\s+SET)|ENGINE|"
                r"AUTO_INCREMENT|COLLATE|COMMENT|ROW_FORMAT|"
                r"KEY_BLOCK_SIZE|MAX_ROWS|MIN_ROWS|STATS_PERSISTENT|"
                r"STATS_AUTO_RECALC|PACK_KEYS|CHECKSUM|DELAY_KEY_WRITE|"
                r"COMPRESSION|TABLESPACE|AUTO_EXTEND_SIZE)"
                r"\s*=?\s*('[^']*'|\w+)\s*$",
                s, re.I,
            )
            if not tm:
                break
            key = re.sub(r"\s+", " ", tm.group(1).upper())
            key = key.replace("DEFAULT ", "").replace("CHARACTER SET",
                                                      "CHARSET")
            table_opts[key] = tm.group(2)
            s = s[: tm.start()].rstrip()
    m = re.match(
        r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|\w+)\s*"
        r"\(\s*LIKE\s+(`[^`]+`|\w+)"
        r"(?:\s+(?:INCLUDING|EXCLUDING)\s+\w+)*\s*\)\s*$",
        s, re.I,
    )
    if m:
        # pg spelling of CREATE TABLE ... LIKE (clone lives in
        # CreateTableLike; INCLUDING/EXCLUDING granularity collapses
        # to the engine's full-constraint clone)
        return CreateTableLike(unquote_ident(m.group(2)),
                               unquote_ident(m.group(3)),
                               if_not_exists=bool(m.group(1)))
    m = re.match(
        r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|\w+)\s*\((.*)\)\s*$",
        s,
        re.I | re.S,
    )
    if m:
        meta = TableMeta()
        cols = []
        for item in split_top_level(m.group(3), ","):
            parsed = _parse_column_def(item.strip(), meta)
            if parsed:
                cols.append(parsed)
        meta.partition_by = part_cols
        if table_opts.get("AUTO_INCREMENT", "").isdigit():
            meta.stats["auto_increment_base"] = int(
                table_opts["AUTO_INCREMENT"]
            )
        if "COMMENT" in table_opts:
            meta.stats["comment"] = parse_literal(table_opts["COMMENT"])
        if "CHARSET" in table_opts:
            meta.stats["charset"] = table_opts["CHARSET"]
        return CreateTable(unquote_ident(m.group(2)), cols, meta,
                           if_not_exists=bool(m.group(1)))

    m = re.match(
        r"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?((?:`[^`]+`|\w+)"
        r"(?:\s*,\s*(?:`[^`]+`|\w+))*)\s*(?:CASCADE|RESTRICT)?\s*$",
        s, re.I)
    if m:
        names = [unquote_ident(x.strip())
                 for x in m.group(2).split(",")]
        return DropTable(names[0], if_exists=bool(m.group(1)),
                         more=names[1:])

    m = re.match(r"ALTER\s+TABLE\s+(`[^`]+`|\w+)\s+(.*)$", s, re.I | re.S)
    if m:
        name = unquote_ident(m.group(1))
        rest_all = m.group(2).strip()
        if re.fullmatch(r"ORDER\s+BY\s+\S.*", rest_all, re.I | re.S):
            # whole-statement ORDER BY hint: its column list must not
            # split as actions
            return _parse_alter_action(name, rest_all)
        parts = [p.strip() for p in
                 split_top_level(rest_all, ",") if p.strip()]
        if not parts:
            raise ValueError("empty ALTER TABLE action list")
        # an ORDER BY action's column list also splits on commas —
        # absorb subsequent bare-identifier parts back into it
        # (MyISAM-era dumps emit ALTER TABLE t ADD ..., ORDER BY a, b)
        merged: list[str] = []
        for p in parts:
            if (merged
                    and re.match(r"ORDER\s+BY\b", merged[-1], re.I)
                    and re.fullmatch(r"[`\"\w.]+(?:\s+(?:ASC|DESC))?",
                                     p, re.I)):
                merged[-1] += ", " + p
            else:
                merged.append(p)
        parts = merged
        acts = [_parse_alter_action(name, p) for p in parts]
        if len(acts) == 1:
            return acts[0]
        # multi-action form (one statement, applied in order with
        # statement-level rollback in the engine)
        return AlterTableMulti(name, acts)

    m = re.match(r"RENAME\s+TABLE\s+(.+)$", s, re.I | re.S)
    if m:
        pairs = []
        for part in split_top_level(m.group(1), ","):
            pm = re.match(r"\s*(`[^`]+`|\w+)\s+TO\s+(`[^`]+`|\w+)\s*$",
                          part, re.I)
            if pm is None:
                pairs = None
                break
            pairs.append((unquote_ident(pm.group(1)),
                          unquote_ident(pm.group(2))))
        if pairs:
            return RenameTable(pairs[0][0], pairs[0][1], more=pairs[1:])

    m = re.match(
        r"TRUNCATE\s+(?:TABLE\s+)?(`[^`]+`|\w+)"
        r"(?:\s+(?:RESTART|CONTINUE)\s+IDENTITY)?"
        r"(?:\s+(?:CASCADE|RESTRICT))?\s*$", s, re.I)
    if m:
        return Truncate(unquote_ident(m.group(1)))

    m = re.match(
        r"OPTIMIZE\s+(?:TABLE\s+)?(`[^`]+`|\w+)"
        r"(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*$",
        s,
        re.I,
    )
    if m:
        cols = [
            unquote_ident(c.strip())
            for c in (m.group(2) or "").split(",")
            if c.strip()
        ]
        return Optimize(unquote_ident(m.group(1)), cols)

    m = re.match(
        r"VACUUM\s+(`[^`]+`|\w+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS?)?\s*$",
        s,
        re.I,
    )
    if m:
        return Vacuum(unquote_ident(m.group(1)), int(m.group(2) or 1))

    # pg INSERT ... OVERRIDING SYSTEM|USER VALUE: the identity
    # override marker — explicit values already win here; drop it
    s = re.sub(r"(?i)\bOVERRIDING\s+(?:SYSTEM|USER)\s+VALUE\s+", "",
               s, count=1)

    # INSERT/REPLACE ... SET col = val, ... (MySQL alternative form):
    # rewritten to the canonical columns+VALUES text and re-dispatched,
    # so DEFAULT handling / ON DUPLICATE KEY parsing is shared.
    m = re.match(
        r"(INSERT|REPLACE)(\s+IGNORE)?\s+INTO\s+(`[^`]+`|\w+)\s+SET\s+(.*)$",
        s,
        re.I | re.S,
    )
    if m:
        body = m.group(4)
        dup_tail = ""
        dm = re.search(
            r"\bON\s+DUPLICATE\s+KEY\s+UPDATE\b", mask_strings(body), re.I
        )
        if dm:
            dup_tail = " " + body[dm.start():]
            body = body[: dm.start()]
        cols, vals = [], []
        for part in split_top_level(body, ","):
            k, eq, v = part.partition("=")
            if not eq:
                raise ValueError(f"bad INSERT ... SET item: {part!r}")
            cols.append(f"`{unquote_ident(k)}`")
            vals.append(v.strip())
        rewritten = (
            f"{m.group(1)}{m.group(2) or ''} INTO {m.group(3)} "
            f"({', '.join(cols)}) VALUES ({', '.join(vals)}){dup_tail}"
        )
        return parse_statement(rewritten)

    m = re.match(
        # the column-list parens must not swallow a parenthesized
        # query source (`INSERT INTO t (SELECT ...)`, legal MySQL)
        r"(INSERT|REPLACE)\s+(IGNORE\s+)?INTO\s+(`[^`]+`|\w+)\s*"
        r"(\(\s*(?!SELECT\b|WITH\b|TABLE\b)([^)]*)\)\s*)?"
        r"(VALUES?\s*(.*)|SELECT\s+.*|WITH\s+.*|TABLE\s+.*"
        r"|\(\s*(?:SELECT|WITH|TABLE)\b.*)$",
        s,
        re.I | re.S,
    )
    if m:
        verb = m.group(1).upper()
        mode = "replace" if verb == "REPLACE" else (
            "ignore" if m.group(2) else "insert"
        )
        table = unquote_ident(m.group(3))
        columns = (
            [unquote_ident(c) for c in m.group(5).split(",")] if m.group(5) else None
        )
        body = m.group(6).strip()
        masked_body = mask_strings(body)
        on_dup: dict[str, str] = {}
        # Search the MASKED body: 'ON DUPLICATE'/'ON CONFLICT' appearing
        # inside a VALUES string literal must not trigger the clause parse.
        dm = re.search(
            r"\sON\s+DUPLICATE\s+KEY\s+UPDATE\s+", masked_body, re.I
        )
        if dm:
            tail = body[dm.end() :]
            pre_body = body[: dm.start()]
            # MySQL 8.0.19+ row alias: VALUES (…),(…) AS new [(c1,…)]
            # ON DUPLICATE KEY UPDATE x = new.x — the modern spelling
            # ORMs emit now that VALUES() is deprecated (8.0.20).
            row_alias: str | None = None
            alias_cols: list[str] | None = None
            am = re.search(
                r"(?i)\sAS\s+(`[^`]+`|\w+)\s*(?:\(([^)]*)\))?\s*$",
                mask_strings(pre_body),
            )
            if am and pre_body.strip().upper().startswith("VALUE"):
                row_alias = unquote_ident(am.group(1))
                if am.group(2) is not None:
                    alias_cols = [
                        unquote_ident(c.strip())
                        for c in pre_body[am.start(2):am.end(2)].split(",")
                        if c.strip()
                    ]
                    if not columns:
                        raise ValueError(
                            "row alias column list (AS new (c1, …)) "
                            "needs an explicit insert column list to "
                            "resolve positions"
                        )
                    if len(alias_cols) != len(columns):
                        raise ValueError(
                            "row alias column list length must match "
                            "the insert column list"
                        )
                pre_body = pre_body[: am.start()]
            body = pre_body.strip()
            for part in split_top_level(tail, ","):
                k, _, v = part.partition("=")
                expr = v.strip()
                if row_alias:
                    def _alias_sub(em):
                        c = unquote_ident(em.group(1))
                        if alias_cols and c in alias_cols:
                            c = columns[alias_cols.index(c)]
                        return f"VALUES(`{c}`)"

                    expr = sub_outside_strings(
                        rf"\b{re.escape(row_alias)}\s*\.\s*"
                        r"(`[^`]+`|\w+)",
                        _alias_sub, expr, flags=re.I,
                    )
                    # column aliases are usable BARE (MySQL: AS new
                    # (m, n) … UPDATE c = m); names shadow base
                    # columns inside the clause
                    for ac, real in zip(alias_cols or (), columns or ()):
                        expr = sub_outside_strings(
                            rf"(?<![\w.`]){re.escape(ac)}(?![\w`(])",
                            f"VALUES(`{real}`)", expr, flags=re.I,
                        )
                on_dup[unquote_ident(k)] = expr
        # Postgres/DuckDB ON CONFLICT (reference: pg front door passes it
        # to DuckDB verbatim). DO NOTHING → IGNORE semantics; DO UPDATE →
        # the ON DUPLICATE path with excluded.col as the incoming row.
        # The conflict target is the table's PK (the engine's upsert key);
        # an explicit (col) target is checked against it; an ON CONSTRAINT
        # name is recorded for the engine to resolve against metadata.
        cm = re.search(
            r"\sON\s+CONFLICT\s*(?:\(([^)]*)\)|ON\s+CONSTRAINT\s+(\w+))?\s*"
            r"DO\s+(NOTHING|UPDATE\s+SET\s+)",
            masked_body,
            re.I,
        )
        conflict_cols: list[str] | None = None
        conflict_constraint: str | None = None
        on_dup_where: str | None = None
        if cm:
            set_tail = body[cm.end() :]
            is_nothing = cm.group(3).upper().startswith("NOTHING")
            if cm.group(1):
                conflict_cols = [
                    unquote_ident(c.strip())
                    for c in body[cm.start(1) : cm.end(1)].split(",")
                    if c.strip()
                ]
            if cm.group(2):
                conflict_constraint = cm.group(2)
            body = body[: cm.start()].strip()
            if is_nothing:
                mode = "ignore"
            else:
                # Postgres DO UPDATE SET ... WHERE <cond>: split the
                # condition off (top-level WHERE only) and record it
                # for the engine's conditional-upsert path.
                set_mask = mask_strings(set_tail)
                wm = None
                depth = 0
                for tok in re.finditer(r"[()]|\bWHERE\b", set_mask, re.I):
                    if tok.group() == "(":
                        depth += 1
                    elif tok.group() == ")":
                        depth -= 1
                    elif depth == 0:
                        wm = tok
                        break
                if wm is not None:
                    cond = set_tail[wm.end():].strip()
                    set_tail = set_tail[:wm.start()].strip()
                    cond = sub_outside_strings(
                        r"\bexcluded\s*\.\s*(?:`([^`]+)`|\"([^\"]+)\""
                        r"|(\w+))",
                        lambda em: "VALUES("
                        + (em.group(1) or em.group(2) or em.group(3))
                        + ")",
                        cond, flags=re.I,
                    )
                    cond = sub_outside_strings(
                        rf"\b(?:{re.escape(table)}"
                        rf"|`{re.escape(table)}`"
                        rf"|\"{re.escape(table)}\")\s*\.\s*",
                        "", cond, flags=re.I,
                    )
                    on_dup_where = cond
                for part in split_top_level(set_tail, ","):
                    k, _, v = part.partition("=")
                    expr = sub_outside_strings(
                        r"\bexcluded\s*\.\s*(?:`([^`]+)`|\"([^\"]+)\"|(\w+))",
                        lambda em: "VALUES("
                        + (em.group(1) or em.group(2) or em.group(3))
                        + ")",
                        v.strip(),
                        flags=re.I,
                    )
                    # pg: <table>.col in DO UPDATE SET is the EXISTING
                    # row — same as a bare column in the rewrite
                    expr = sub_outside_strings(
                        rf"\b(?:{re.escape(table)}"
                        rf"|`{re.escape(table)}`"
                        rf"|\"{re.escape(table)}\")\s*\.\s*",
                        "",
                        expr,
                        flags=re.I,
                    )
                    on_dup[unquote_ident(k)] = expr
        from_oc = bool(cm)
        if body.startswith("("):
            # parenthesized query source: strip the outer parens when
            # they wrap the whole body (Spark rejects a bare
            # parenthesized top-level query)
            close = _match_close_paren(body, 0)
            if close == len(body.rstrip()) - 1:
                body = body[1:close].strip()
        if body.upper().startswith("VALUE"):
            tuples = re.sub(r"^VALUES?\s*", "", body, flags=re.I)
            # MySQL 8 VALUES ROW(...),ROW(...) constructor inside INSERT
            if re.match(r"(?i)ROW\s*\(", tuples):
                tuples = sub_outside_strings(
                    r"(?i)\bROW\s*\(", "(", tuples)
            try:
                return Insert(table, columns, parse_values_tuples(tuples),
                              None, mode, on_dup, conflict_cols,
                              conflict_constraint, from_oc,
                              on_dup_where)
            except ValueError:
                # VALUES tuples holding real EXPRESSIONS (MySQL allows
                # any expr) — Spark's VALUES is a full query form, so
                # route through the query path; DEFAULT keywords need
                # the literal path and stay a parse error here.
                if re.search(r"(?i)\bDEFAULT\b", mask_strings(tuples)):
                    raise
                return Insert(table, columns, None, f"VALUES {tuples}",
                              mode, on_dup, conflict_cols,
                              conflict_constraint, from_oc,
                              on_dup_where)
        return Insert(table, columns, None, body, mode, on_dup, conflict_cols,
                      conflict_constraint, from_oc, on_dup_where)

    m = re.match(r"UPDATE\s+(IGNORE\s+)?(.+?)\s+SET\s+(.*)$",
                 s, re.I | re.S)
    if m:
        ignore = bool(m.group(1))
        refs = m.group(2).strip()
        tail, order_by, limit = peel_order_limit(m.group(3))
        body, where = split_where(tail)
        assignments = {}
        for part in split_top_level(body, ","):
            k, _, v = part.partition("=")
            assignments[unquote_ident(k)] = v.strip()
        if re.fullmatch(r"`[^`]+`|\w+", refs):
            return Update(unquote_ident(refs), assignments, where,
                          order_by=order_by, limit=limit, ignore=ignore)
        # Multi-table / aliased form: target resolved by the engine
        # from the SET qualifiers against the refs fragment. ORDER BY /
        # LIMIT cap the DISTINCT target rows affected (engine
        # _multi_row_cap) — MySQL proper rejects this combination but
        # the reference's GMS front door accepts it (TestUpdate,
        # main_test.go:948).
        return Update("", assignments, where, from_text=refs,
                      order_by=order_by, limit=limit, ignore=ignore)

    # DELETE FROM t [USING refs] [WHERE ...] [ORDER BY ... LIMIT n]
    m = re.match(r"DELETE\s+FROM\s+(`[^`]+`|\w+)(\s.*)?$", s, re.I | re.S)
    if m:
        tail, order_by, limit = peel_order_limit(m.group(2) or "")
        rest, where = split_where(tail)
        rest = rest.strip()
        target = unquote_ident(m.group(1))
        if rest:
            um = re.match(r"USING\s+(.+)$", rest, re.I | re.S)
            if not um:
                raise ValueError(f"cannot parse DELETE tail: {rest!r}")
            # ORDER BY / LIMIT with USING cap the distinct target rows
            # deleted (engine _multi_row_cap; GMS TestDeleteFrom,
            # main_test.go:989).
            return Delete(target, where, from_text=um.group(1).strip(),
                          targets=[target], order_by=order_by, limit=limit)
        return Delete(target, where, order_by=order_by, limit=limit)

    # DELETE t1[, t2] FROM <refs> [WHERE ...]  (multi-table form)
    m = re.match(r"DELETE\s+(.+?)\s+FROM\s+(.*)$", s, re.I | re.S)
    if m:
        targets = [
            unquote_ident(t.strip()[:-2] if t.strip().endswith(".*") else t.strip())
            for t in split_top_level(m.group(1), ",")
        ]
        refs, where = split_where(m.group(2))
        return Delete(targets[0], where, from_text=refs.strip(), targets=targets)

    m = re.match(
        r"SHOW\s+(FULL\s+)?TABLES"
        r"(?:\s+(?:FROM|IN)\s+(`[^`]+`|\w+))?\s*(?:LIKE\s+(.+))?$",
        s, re.I,
    )
    if m:
        like = parse_literal(m.group(3)) if m.group(3) else None
        return Show("full_tables" if m.group(1) else "tables", like=like,
                    target=unquote_ident(m.group(2)) if m.group(2)
                    else None)
    if re.match(r"SHOW\s+OPEN\s+TABLES\s*$", s, re.I):
        return Show("open_tables")
    m = re.match(r"SHOW\s+GRANTS(?:\s+FOR\s+(.+?))?\s*$", s, re.I)
    if m:
        tgt = _user_spec(m.group(1)) if m.group(1) else None
        return Show("grants", target=tgt)
    m = re.match(r"SHOW\s+TABLE\s+STATUS\s*(?:LIKE\s+(.+))?$", s, re.I)
    if m:
        like = parse_literal(m.group(1)) if m.group(1) else None
        return Show("table_status", like=like)
    m = re.match(
        r"SHOW\s+(?:DATABASES|SCHEMAS)\s*(?:LIKE\s+(.+))?$", s, re.I
    )
    if m:
        like = parse_literal(m.group(1)) if m.group(1) else None
        return Show("databases", like=like)
    # LOCK/UNLOCK TABLES: snapshot isolation makes row/table locks
    # no-ops (the reference delegates to GMS, which also treats them
    # as session bookkeeping).
    if re.match(r"(?:LOCK\s+TABLES?\b|UNLOCK\s+TABLES?\s*$)", s, re.I):
        return Show("noop_lock")
    if re.match(r"SHOW\s+(?:FULL\s+)?PROCESSLIST\s*$", s, re.I):
        return Show("processlist")
    if re.match(r"SHOW\s+(?:STORAGE\s+)?ENGINES\s*$", s, re.I):
        return Show("engines")
    m = re.match(
        r"SHOW\s+(?:SESSION\s+|GLOBAL\s+)?STATUS\s*(?:LIKE\s+(.+))?$", s, re.I
    )
    if m:
        like = parse_literal(m.group(1)) if m.group(1) else None
        return Show("status", like=like)
    m = re.match(
        r"SHOW\s+(?:CHARACTER\s+SET|CHARSET)\s*(?:LIKE\s+(.+))?$", s, re.I
    )
    if m:
        like = parse_literal(m.group(1)) if m.group(1) else None
        return Show("charset", like=like)
    m = re.match(r"SHOW\s+COLLATION\s*(?:LIKE\s+(.+))?$", s, re.I)
    if m:
        like = parse_literal(m.group(1)) if m.group(1) else None
        return Show("collation", like=like)
    m = re.match(
        r"SHOW\s+(?:FULL\s+)?(?:COLUMNS|FIELDS)\s+FROM\s+(`[^`]+`|\w+)"
        r"(?:\s+LIKE\s+('(?:[^']|'')*'))?\s*$",
        s, re.I,
    )
    if m:
        return Show("columns", target=unquote_ident(m.group(1)),
                    like=parse_literal(m.group(2)) if m.group(2) else None)
    # Client/ORM probe surface: MySQL clients issue these between
    # statements; each returns the correct (usually empty) shape
    # rather than erroring the session (reference delegates to GMS,
    # which answers all of them).
    if re.match(r"SHOW\s+(?:WARNINGS|ERRORS)\s*$", s, re.I):
        return Show("warnings")
    if re.match(r"SHOW\s+COUNT\s*\(\s*\*\s*\)\s+(?:WARNINGS|ERRORS)\s*$",
                s, re.I):
        return Show("warning_count")
    if re.match(r"SHOW\s+TRIGGERS\b", s, re.I):
        return Show("triggers")
    if re.match(r"SHOW\s+EVENTS\b", s, re.I):
        return Show("events")
    m = re.match(r"SHOW\s+(FUNCTION|PROCEDURE)\s+STATUS\b", s, re.I)
    if m:
        return Show("routine_status", target=m.group(1).upper())
    m = re.match(
        r"SHOW\s+CREATE\s+(PROCEDURE|FUNCTION)\s+(`[^`]+`|\w+)\s*$",
        s, re.I,
    )
    if m:
        return Show("create_routine", target=unquote_ident(m.group(2)),
                    like=m.group(1).upper())
    if re.match(r"SHOW\s+PLUGINS\s*$", s, re.I):
        return Show("plugins")
    if re.match(r"SHOW\s+PRIVILEGES\s*$", s, re.I):
        return Show("privileges")
    if re.match(r"SHOW\s+(?:BINARY\s+LOGS|BINLOGS)\s*$", s, re.I):
        return Show("binary_logs")
    if re.match(r"SHOW\s+BINLOG\s+EVENTS\b", s, re.I):
        return Show("binlog_events")
    m = re.match(r"HELP\s+('(?:[^']|'')*'|\S+)\s*$", s, re.I)
    if m:
        topic = m.group(1)
        return Show(
            "help",
            like=parse_literal(topic) if topic.startswith("'") else topic,
        )
    m = re.match(r"(?:DESCRIBE|DESC)\s+(`[^`]+`|\w+)\s*$", s, re.I)
    if m:
        return Show("columns", target=unquote_ident(m.group(1)))
    # DESCRIBE t col — one column (a LIKE pattern is also legal there)
    m = re.match(
        r"(?:DESCRIBE|DESC)\s+(`[^`]+`|\w+)\s+(`[^`]+`|\w+|'[^']*')\s*$",
        s, re.I,
    )
    if m:
        col = m.group(2)
        like = parse_literal(col) if col.startswith("'") \
            else unquote_ident(col)
        return Show("columns", target=unquote_ident(m.group(1)), like=like)
    m = re.match(r"SHOW\s+CREATE\s+TABLE\s+(`[^`]+`|\w+)\s*$", s, re.I)
    if m:
        return Show("create_table", target=unquote_ident(m.group(1)))
    m = re.match(
        r"SHOW\s+CREATE\s+(?:DATABASE|SCHEMA)\s+"
        r"(?:IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|\w+)\s*$", s, re.I,
    )
    if m:
        return Show("create_database", target=unquote_ident(m.group(1)))
    if re.match(r"SHOW\s+PROFILES?\s*$", s, re.I):
        return Show("profiles")  # profiling is off: empty set, like MySQL
    m = re.match(r"SHOW\s+ENGINE\s+(\w+)\s+(?:STATUS|MUTEX)\s*$", s, re.I)
    if m:
        return Show("engine_status", target=m.group(1))
    m = re.match(r"SHOW\s+CREATE\s+VIEW\s+(`[^`]+`|\w+)\s*$", s, re.I)
    if m:
        return Show("create_view", target=unquote_ident(m.group(1)))
    m = re.match(r"SHOW\s+(?:SESSION\s+|GLOBAL\s+)?VARIABLES\s*(?:LIKE\s+(.+))?$",
                 s, re.I)
    if m:
        like = parse_literal(m.group(1)) if m.group(1) else None
        return Show("variables", like=like)
    # Replication observability (reference: ShowBinlogs/ShowBinlogStatus
    # fallback, backend/executor.go:74-83; position store
    # catalog/internal_tables.go:180-186)
    if re.match(
        r"SHOW\s+(BINLOG\s+STATUS|MASTER\s+STATUS|REPLICA\s+STATUS|"
        r"SLAVE\s+STATUS)\s*$",
        s,
        re.I,
    ):
        return Show("replica_status")

    if re.match(r"SHOW\s+SUBSCRIPTIONS\s*$", s, re.I):
        return Show("subscriptions")

    # Replica controller (reference binlog_replica_controller.go);
    # legacy MASTER/SLAVE spellings accepted like MySQL does
    m = re.match(r"CHANGE\s+REPLICATION\s+FILTER\s+(.+)$", s, re.I | re.S)
    if m:
        filters: dict = {}
        for part in split_top_level(m.group(1), ","):
            fm = re.fullmatch(
                r"\s*(REPLICATE_(?:DO|IGNORE)_TABLE)\s*=\s*\(([^)]*)\)\s*",
                part, re.I,
            )
            if not fm:
                raise NotImplementedError(
                    f"unsupported replication filter: {part.strip()[:40]!r}"
                    " (REPLICATE_DO_TABLE / REPLICATE_IGNORE_TABLE only)"
                )
            names = [
                unquote_ident(t.strip().split(".")[-1])
                for t in fm.group(2).split(",") if t.strip()
            ]
            filters[fm.group(1).upper()] = names
        return ReplicaStmt("change_filter", options=filters)
    m = re.match(
        r"CHANGE\s+(?:REPLICATION\s+SOURCE|MASTER)\s+TO\s+(.+)$",
        s, re.I | re.S,
    )
    if m:
        opts: dict = {}
        for part in split_top_level(m.group(1), ","):
            k, eq, v = part.partition("=")
            if not eq:
                raise ValueError(f"cannot parse CHANGE SOURCE option: "
                                 f"{part!r}")
            key = re.sub(r"(?i)^MASTER_", "SOURCE_", k.strip().upper())
            opts[key] = parse_literal(v.strip())
        return ReplicaStmt("change_source", options=opts)
    m = re.match(r"(START|STOP)\s+(?:REPLICA|SLAVE)\s*$", s, re.I)
    if m:
        return ReplicaStmt(m.group(1).lower())
    m = re.match(r"RESET\s+(?:REPLICA|SLAVE)(\s+ALL)?\s*$", s, re.I)
    if m:
        return ReplicaStmt("reset", all=bool(m.group(1)))

    # pg spelling: PREPARE name [(types)] AS statement ($n params)
    m = re.match(
        r"PREPARE\s+(`[^`]+`|\w+)\s*(?:\(\s*[\w\s,\[\]]*\))?\s+AS\s+(.+)$",
        s, re.I | re.S,
    )
    if m:
        return Prepare(unquote_ident(m.group(1)), m.group(2).strip())
    m = re.match(r"PREPARE\s+(`[^`]+`|\w+)\s+FROM\s+(.+)$", s, re.I | re.S)
    if m:
        body = m.group(2).strip()
        if body.startswith("@"):
            # PREPARE s FROM @text — resolved by the engine at execute time
            return Prepare(unquote_ident(m.group(1)), body)
        return Prepare(unquote_ident(m.group(1)), str(parse_literal(body)))

    # pg spelling: EXECUTE name(arg, ...) with literal arguments
    m = re.match(
        r"EXECUTE\s+(`[^`]+`|\w+)\s*\(\s*(.*?)\s*\)\s*$", s,
        re.I | re.S,
    )
    if m:
        args = [parse_literal(t.strip())
                for t in split_top_level(m.group(2), ",")
                if t.strip()]
        return ExecutePrepared(unquote_ident(m.group(1)), [], args)
    m = re.match(
        r"EXECUTE\s+(`[^`]+`|\w+)(?:\s+USING\s+(.+))?\s*$", s, re.I
    )
    if m:
        using = []
        if m.group(2):
            for tok in split_top_level(m.group(2), ","):
                tok = tok.strip()
                if not tok.startswith("@"):
                    raise ValueError(f"EXECUTE USING expects @vars, got {tok!r}")
                using.append(tok.lstrip("@"))
        return ExecutePrepared(unquote_ident(m.group(1)), using)

    m = re.match(
        r"(?:DEALLOCATE\s+(?:PREPARE\s+)?|DROP\s+PREPARE\s+)"
        r"(ALL|`[^`]+`|\w+)\s*$",
        s, re.I)
    if m:
        return Deallocate(unquote_ident(m.group(1)))

    # Connection-handshake statements every MySQL client sends
    # (reference: GMS session handling; mysql client sends SET NAMES on
    # connect). Routed to session variables / no-ops.
    m = re.match(
        r"SET\s+NAMES\s+'?(\w+)'?(?:\s+COLLATE\s+'?(\w+)'?)?\s*$", s, re.I
    )
    if m:
        return SetVar("character_set_client", m.group(1).lower())
    m = re.match(r"SET\s+(?:CHARACTER\s+SET|CHARSET)\s+'?(\w+)'?\s*$", s, re.I)
    if m:
        return SetVar("character_set_client", m.group(1).lower())
    m = re.match(
        r"SET\s+(?:SESSION\s+|GLOBAL\s+)?"
        r"(?:CHARACTERISTICS\s+AS\s+)?TRANSACTION\s+"
        r"(?:ISOLATION\s+LEVEL\s+([A-Z\s]+?)|READ\s+(ONLY|WRITE))\s*$",
        s,
        re.I,
    )
    if m:
        if m.group(2):
            return SetVar("read_only", 1 if m.group(2).upper() == "ONLY" else 0)
        return SetVar(
            "transaction_isolation",
            m.group(1).strip().upper().replace(" ", "-"),
        )

    # pg spelling: SET [SESSION|LOCAL] name TO value  (psql/ORMs emit
    # `SET search_path TO ...` on every connection)
    m = re.match(
        r"SET\s+(?:SESSION\s+|LOCAL\s+)?([\w.]+)\s+TO\s+(.+)$",
        s, re.I | re.S,
    )
    if m and m.group(1).upper() != "TRANSACTION":
        val = m.group(2).strip()
        try:
            return SetVar(m.group(1), parse_literal(val))
        except ValueError:
            return SetVar(m.group(1), val.strip("'\""))

    if re.match(r"SET\s+(?:SESSION\s+|GLOBAL\s+|LOCAL\s+)?@{0,2}[\w.]+\s*:?=",
                s, re.I):
        items: list[SetVar] = []
        body = re.sub(r"(?i)^SET\s+", "", s, count=1)
        for part in split_top_level(body, ","):
            am = re.match(
                r"(?:SESSION\s+|GLOBAL\s+|LOCAL\s+)?@{0,2}([\w.]+)\s*:?=\s*(.+)$",
                part.strip(), re.I | re.S,
            )
            if not am:
                raise ValueError(f"cannot parse SET item: {part!r}")
            try:
                val, is_expr = parse_literal(am.group(2)), False
            except ValueError:
                txt = am.group(2).strip()
                if re.fullmatch(r"[A-Za-z_][\w$.-]*", txt):
                    # bare-word enum values (utf8mb4, ON,
                    # READ-COMMITTED): strings, not expressions
                    val, is_expr = txt, False
                else:
                    # an expression (SET @x = (SELECT ...),
                    # @y = @x + 1): the engine evaluates it
                    val, is_expr = txt, True
            items.append(SetVar(am.group(1), val, is_expr=is_expr))
        return items[0] if len(items) == 1 else SetVarList(items)

    m = re.match(r"SUMMARIZE\s+(`[^`]+`|\w+)\s*$", s, re.I)
    if m:
        return Show("summarize", target=unquote_ident(m.group(1)))

    m = re.match(r"ANALYZE\s+TABLE\s+(.+)$", s, re.I)
    if m:
        return AnalyzeStmt(
            [unquote_ident(t.strip()) for t in m.group(1).split(",")]
        )

    m = re.match(r"USE\s+(`[^`]+`|\w+)\s*$", s, re.I)
    if m:
        return UseDb(unquote_ident(m.group(1)))

    m = re.match(
        r"CREATE\s+(?:DATABASE|SCHEMA)\s+(IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|\w+)\s*$",
        s, re.I,
    )
    if m:
        return CreateDb(unquote_ident(m.group(2)), if_not_exists=bool(m.group(1)))
    m = re.match(
        r"DROP\s+(?:DATABASE|SCHEMA)\s+(IF\s+EXISTS\s+)?(`[^`]+`|\w+)\s*$", s, re.I
    )
    if m:
        return DropDb(unquote_ident(m.group(2)), if_exists=bool(m.group(1)))

    m = re.match(
        r"CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"(`[^`]+`|\w+)\s+AS\s+(.+?)"
        r"(\s+WITH\s+(NO\s+)?DATA)?\s*$",
        s, re.I | re.S,
    )
    if m:
        return CreateMatView(
            unquote_ident(m.group(2)), m.group(3).strip(),
            with_data=not bool(m.group(5)),
            if_not_exists=bool(m.group(1)),
        )
    m = re.match(
        r"REFRESH\s+MATERIALIZED\s+VIEW\s+(?:CONCURRENTLY\s+)?"
        r"(`[^`]+`|\w+)\s*$", s, re.I)
    if m:
        return RefreshMatView(unquote_ident(m.group(1)))
    m = re.match(
        r"DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?"
        r"(`[^`]+`|\w+)\s*(?:CASCADE|RESTRICT)?\s*$", s, re.I)
    if m:
        return DropMatView(unquote_ident(m.group(2)),
                           if_exists=bool(m.group(1)))
    m = re.match(
        r"CREATE\s+TYPE\s+(`[^`]+`|\w+)\s+AS\s+ENUM\s*"
        r"\(\s*(.*?)\s*\)\s*$", s, re.I | re.S)
    if m:
        vals = [str(parse_literal(t.strip()))
                for t in split_top_level(m.group(2), ",") if t.strip()]
        return CreateType(unquote_ident(m.group(1)), values=vals)
    m = re.match(
        r"CREATE\s+DOMAIN\s+(`[^`]+`|\w+)\s+(?:AS\s+)?"
        r"([A-Za-z_][\w ]*(?:\(\s*[\d,\s]*\))?)"
        r"(?:\s+CHECK\s*\((.*)\))?\s*$", s, re.I | re.S)
    if m:
        return CreateType(unquote_ident(m.group(1)),
                          base=m.group(2).strip(),
                          check=(m.group(3) or "").strip() or None)
    m = re.match(
        r"DROP\s+(?:TYPE|DOMAIN)\s+(IF\s+EXISTS\s+)?(`[^`]+`|\w+)"
        r"\s*(?:CASCADE|RESTRICT)?\s*$", s, re.I)
    if m:
        return DropType(unquote_ident(m.group(2)),
                        if_exists=bool(m.group(1)))
    m = re.match(
        # ALGORITHM/DEFINER/SQL SECURITY are MySQL view attributes with
        # no execution meaning here (single-principal engine) — accepted
        # and dropped, the way mysqldump view definitions arrive.
        # ALTER VIEW redefines like CREATE OR REPLACE (MySQL 15.1.11).
        r"(?:CREATE\s+(OR\s+REPLACE\s+)?|(ALTER)\s+)"
        r"(?:ALGORITHM\s*=\s*\w+\s+)?"
        r"(?:DEFINER\s*=\s*\S+\s+)?"
        r"(?:SQL\s+SECURITY\s+(?:DEFINER|INVOKER)\s+)?"
        r"VIEW\s+(`[^`]+`|\w+)\s*(?:\(([^)]*)\))?\s+AS\s+(.*)$",
        s,
        re.I | re.S,
    )
    if m:
        q = m.group(5).strip()
        cm = re.search(
            r"(?is)\s+WITH\s+(?:CASCADED\s+|LOCAL\s+)?CHECK\s+OPTION\s*$",
            mask_strings(q),
        )
        check = bool(cm)
        if cm:
            q = q[: cm.start()].strip()
        if m.group(4):
            # explicit view column list: positional renames through a
            # column-aliased derived table (MySQL 15.1.23)
            cols = ", ".join(
                f"`{unquote_ident(c.strip())}`"
                for c in m.group(4).split(",") if c.strip()
            )
            q = f"SELECT * FROM ({q}) __v_cols({cols})"
        return CreateView(unquote_ident(m.group(3)), q,
                          or_replace=bool(m.group(1) or m.group(2)),
                          check_option=check)
    m = re.match(
        r"DROP\s+VIEW\s+(IF\s+EXISTS\s+)?((?:`[^`]+`|\w+)"
        r"(?:\s*,\s*(?:`[^`]+`|\w+))*)\s*(?:CASCADE|RESTRICT)?\s*$",
        s, re.I)
    if m:
        names = [unquote_ident(x.strip())
                 for x in m.group(2).split(",")]
        return DropView(names[0], if_exists=bool(m.group(1)),
                        more=names[1:])

    m = re.match(
        r"CREATE\s+(OR\s+REPLACE\s+)?MACRO\s+(`[^`]+`|\w+)\s*"
        r"\(([^)]*)\)\s+AS\s+(.*)$",
        s,
        re.I | re.S,
    )
    if m:
        params = [
            unquote_ident(p) for p in m.group(3).split(",") if p.strip()
        ]
        return CreateMacro(
            unquote_ident(m.group(2)), params, m.group(4).strip(),
            or_replace=bool(m.group(1)),
        )
    m = re.match(
        r"DROP\s+MACRO\s+(IF\s+EXISTS\s+)?(`[^`]+`|\w+)\s*$", s, re.I
    )
    if m:
        return DropMacro(unquote_ident(m.group(2)), if_exists=bool(m.group(1)))

    m = re.match(
        r"CREATE\s+SEQUENCE\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"((?:[\w\"`]+\.)?[\w\"`]+)\s*(.*)$",
        s, re.I | re.S,
    )
    if m:
        seq = CreateSequence(
            normalize_seq_name(m.group(2)),
            if_not_exists=bool(m.group(1)),
        )
        opts = m.group(3)
        for om in re.finditer(
            r"(?i)INCREMENT(?:\s+BY)?\s+(-?\d+)|START(?:\s+WITH)?\s+(-?\d+)"
            r"|(NO\s+)?MINVALUE\s*(-?\d+)?|(NO\s+)?MAXVALUE\s*(-?\d+)?"
            r"|(NO\s+)?CYCLE|CACHE\s+\d+|AS\s+\w+|OWNED\s+BY\s+[\w.]+",
            opts,
        ):
            txt = om.group(0).upper()
            if om.group(1):
                seq.increment = int(om.group(1))
            elif om.group(2):
                seq.start = int(om.group(2))
            elif txt.startswith("MINVALUE") and om.group(4):
                seq.minvalue = int(om.group(4))
            elif txt.startswith("MAXVALUE") and om.group(6):
                seq.maxvalue = int(om.group(6))
            elif txt == "CYCLE":
                seq.cycle = True
            # NO MINVALUE/NO MAXVALUE/NO CYCLE/CACHE/AS/OWNED BY:
            # defaults already match, CACHE is a perf hint
        return seq
    m = re.match(
        r"DROP\s+SEQUENCE\s+(IF\s+EXISTS\s+)?(.+?)"
        r"(?:\s+(?:CASCADE|RESTRICT))?\s*$",
        s, re.I,
    )
    if m:
        return DropSequence(
            [normalize_seq_name(p) for p in m.group(2).split(",")],
            if_exists=bool(m.group(1)),
        )
    m = re.match(
        r"ALTER\s+SEQUENCE\s+(?:IF\s+EXISTS\s+)?"
        r"((?:[\w\"`]+\.)?[\w\"`]+)\s*(.*)$",
        s, re.I | re.S,
    )
    if m and re.match(r"(?i)OWNED\s+BY\b", m.group(2).strip()):
        # pg_dump ownership metadata — nothing to do here
        return Show("noop_admin")
    if m and re.search(r"(?i)\bRESTART\b|\bINCREMENT\b", m.group(2)):
        alt = AlterSequence(normalize_seq_name(m.group(1)))
        rm2 = re.search(r"(?i)\bRESTART(?:\s+WITH\s+(-?\d+))?", m.group(2))
        if rm2:
            alt.restart = True
            if rm2.group(1) is not None:
                alt.restart_with = int(rm2.group(1))
        im2 = re.search(r"(?i)\bINCREMENT(?:\s+BY)?\s+(-?\d+)", m.group(2))
        if im2:
            alt.increment = int(im2.group(1))
        return alt

    m = re.match(
        r"CREATE\s+(OR\s+REPLACE\s+)?VECTOR\s+INDEX\s+(`[^`]+`|\w+)\s+ON\s+"
        r"(`[^`]+`|\w+)\s*\((\w+)\)\s*(?:WITH\s*\(([^)]*)\))?\s*$",
        s,
        re.I,
    )
    if m:
        opts: dict = {}
        for kv in (m.group(5) or "").split(","):
            if "=" in kv:
                k_, v_ = kv.split("=", 1)
                opts[k_.strip().lower()] = parse_literal(v_.strip())
        return CreateVectorIndex(
            unquote_ident(m.group(2)),
            unquote_ident(m.group(3)),
            m.group(4).strip(),
            options=opts,
            or_replace=bool(m.group(1)),
        )
    m = re.match(
        r"CREATE\s+(UNIQUE\s+|FULLTEXT\s+)?INDEX\s+"
        r"(?:CONCURRENTLY\s+)?(?:IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|\w+)\s+ON\s+"
        r"(`[^`]+`|\w+)\s*"
        # greedy cols: column items may carry (10) prefixes
        r"\((.*)\)" + _INDEX_OPTS + r"$",
        s,
        re.I,
    )
    if m:
        kind = (m.group(1) or "").strip().upper()
        return CreateIndex(
            unquote_ident(m.group(2)),
            unquote_ident(m.group(3)),
            # strip MySQL prefix lengths (col(10)) and sort direction
            [
                unquote_ident(re.sub(r"\(\d+\)$", "", c.split()[0]))
                for c in m.group(4).split(",")
                if c.strip()
            ],
            unique=kind == "UNIQUE",
            fulltext=kind == "FULLTEXT",
        )
    m = re.match(
        r"DROP\s+INDEX\s+(?:CONCURRENTLY\s+)?(?:IF\s+EXISTS\s+)?"
        r"(`[^`]+`|\w+)(?:\s+ON\s+(`[^`]+`|\w+))?"
        r"(?:\s+(?:CASCADE|RESTRICT))?\s*$", s, re.I
    )
    if m:
        if_exists = bool(re.search(r"(?i)IF\s+EXISTS", s))
        return DropIndex(unquote_ident(m.group(1)),
                         unquote_ident(m.group(2)) if m.group(2) else None,
                         if_exists=if_exists)
    m = re.match(
        r"SHOW\s+(?:INDEX|INDEXES|KEYS)\s+(?:FROM|IN)\s+(`[^`]+`|\w+)"
        r"(?:\s+WHERE\s+(.+?))?\s*$",
        s, re.I,
    )
    if m:
        return Show("indexes", target=unquote_ident(m.group(1)),
                    where=m.group(2))

    m = re.match(
        r"LOAD\s+DATA\s+(?:LOCAL\s+)?INFILE\s+('(?:[^']|'')*')\s+"
        r"(IGNORE\s+|REPLACE\s+)?INTO\s+TABLE\s+(`[^`]+`|\w+)(.*)$",
        s,
        re.I | re.S,
    )
    if m:
        ld = LoadData(
            path=parse_literal(m.group(1)),
            table=unquote_ident(m.group(3)),
            mode=(m.group(2) or "insert").strip().lower() or "insert",
        )
        if ld.mode not in ("insert", "ignore", "replace"):
            ld.mode = "insert"
        rest = m.group(4) or ""
        fm = re.search(
            r"FIELDS\s+TERMINATED\s+BY\s+('(?:[^']|'')*')", rest, re.I
        )
        if fm:
            ld.sep = parse_literal(fm.group(1))
        em = re.search(r"ENCLOSED\s+BY\s+('(?:[^']|'')*')", rest, re.I)
        if em:
            ld.quote = parse_literal(em.group(1))
        xm = re.search(r"ESCAPED\s+BY\s+('(?:[^']|'')*')", rest, re.I)
        if xm:
            ld.escape = parse_literal(xm.group(1))
        lm = re.search(
            r"LINES\s+TERMINATED\s+BY\s+('(?:[^']|'')*')", rest, re.I
        )
        if lm:
            ld.line_sep = parse_literal(lm.group(1))
        im = re.search(r"IGNORE\s+(\d+)\s+(?:LINES|ROWS)", rest, re.I)
        if im:
            ld.skip = int(im.group(1))
        cm = re.search(r"\(([^)]*)\)\s*$", rest, re.S)
        if cm:
            ld.columns = [unquote_ident(c) for c in cm.group(1).split(",")]
        return ld

    m = re.match(
        r"DECLARE\s+(`[^`]+`|\w+)\s+(?:BINARY\s+)?(?:INSENSITIVE\s+)?"
        r"(?:NO\s+SCROLL\s+|SCROLL\s+)?CURSOR\s+"
        r"(?:WITH(?:OUT)?\s+HOLD\s+)?FOR\s+(.+)$",
        s, re.I | re.S,
    )
    if m:
        return DeclareCursor(unquote_ident(m.group(1)),
                             m.group(2).strip())
    m = re.match(
        r"(FETCH|MOVE)\s+(?:FORWARD\s+)?(?:(NEXT|ALL|\d+)\s+)?"
        r"(?:FROM\s+|IN\s+)?(`[^`]+`|\w+)\s*$",
        s, re.I,
    )
    if m:
        count: int | None = 1
        tok = (m.group(2) or "").upper()
        if tok == "ALL":
            count = None
        elif tok.isdigit():
            count = int(tok)
        return FetchCursor(unquote_ident(m.group(3)), count,
                           move_only=m.group(1).upper() == "MOVE")
    m = re.match(r"CLOSE\s+(ALL|`[^`]+`|\w+)\s*$", s, re.I)
    if m:
        return CloseCursor(unquote_ident(m.group(1)))
    m = re.match(
        r"COPY\s+(\((.*)\)|(`[^`]+`|\w+))\s+(TO|FROM)\s+"
        r"('(?:[^']|'')*'|STDOUT|STDIN)\s*(?:\((.*)\)|(WITH\s+.*))?\s*$",
        s,
        re.I | re.S,
    )
    if m:
        is_query = m.group(2) is not None
        target = m.group(2).strip() if is_query else unquote_ident(m.group(3))
        raw_path = m.group(5)
        stmt = CopyStmt(
            direction=m.group(4).lower(),
            target=target,
            is_query=is_query,
            path=(raw_path.upper() if raw_path.upper() in
                  ("STDOUT", "STDIN") else parse_literal(raw_path)),
        )
        opts_text = m.group(6) or (m.group(7) or "")[4:]
        if (stmt.path in ("STDOUT", "STDIN")
                and not re.search(r"(?i)\bformat\b", opts_text)):
            stmt.fmt = "text"  # pg default for the wire forms
        for opt in split_top_level(opts_text, ","):
            opt = opt.strip()
            if not opt:
                continue
            om = re.match(r"(\w+)\s*(.*)$", opt, re.S)
            key = om.group(1).lower()
            val = om.group(2).strip()
            if key == "format":
                stmt.fmt = val.strip("'\"").lower()
            elif val:
                stmt.options[key] = parse_literal(val)
            else:
                stmt.options[key] = True
        return stmt

    m = re.match(
        r"(BACKUP|RESTORE)\s+DATABASE\s+(`[^`]+`|\w+)\s+(?:TO|FROM)\s+'([^']+)'"
        r"(?:\s+ENDPOINT\s*=\s*'([^']+)')?"
        r"(?:\s+ACCESS_KEY_ID\s*=\s*'([^']+)')?"
        r"(?:\s+SECRET_ACCESS_KEY\s*=\s*'([^']+)')?\s*$",
        s,
        re.I,
    )
    if m:
        return BackupStmt(
            m.group(1).lower(),
            unquote_ident(m.group(2)),
            m.group(3),
            m.group(4),
            m.group(5),
            m.group(6),
        )

    if re.match(
        r"(BEGIN|START\s+TRANSACTION)"
        r"(\s*,?\s*(READ\s+ONLY|READ\s+WRITE|WITH\s+CONSISTENT\s+SNAPSHOT"
        r"|ISOLATION\s+LEVEL\s+[A-Z\s]+?|(?:NOT\s+)?DEFERRABLE))*"
        r"\s*$",
        s, re.I,
    ):
        # access-mode/snapshot modifiers: snapshot isolation already
        # gives consistent reads; READ ONLY is advisory per-txn
        return TxnStmt("begin")
    # XA transactions (J2EE connectors emit these): single-node engine
    # maps the XA lifecycle onto local txn semantics — START begins,
    # COMMIT commits, ROLLBACK rolls back; END/PREPARE are no-ops
    # (nothing to vote on without a second resource manager); RECOVER
    # reports no in-doubt branches.
    m = re.match(
        r"XA\s+(START|BEGIN|END|PREPARE|COMMIT|ROLLBACK|RECOVER)\b"
        r"[^;]*$",
        s, re.I,
    )
    if m:
        verb = m.group(1).upper()
        if verb in ("START", "BEGIN"):
            return TxnStmt("begin")
        if verb == "COMMIT":
            return TxnStmt("commit")
        if verb == "ROLLBACK":
            return TxnStmt("rollback")
        if verb == "RECOVER":
            return Show("xa_recover")
        return Show("noop_admin")  # END / PREPARE
    m = re.match(
        r"(COMMIT|ROLLBACK)(?:\s+WORK)?"
        r"(?:\s+AND\s+(NO\s+)?CHAIN)?(?:\s+(?:NO\s+)?RELEASE)?\s*$",
        s, re.I,
    )
    if m and not re.match(r"ROLLBACK\s+(?:WORK\s+)?TO\b", s, re.I):
        # AND CHAIN starts a new transaction immediately after; RELEASE
        # (connection disconnect) is a wire concern — accepted, no-op
        kind = m.group(1).lower()
        chain = bool(m.group(2) is None and re.search(
            r"(?i)\bAND\s+CHAIN\b", s))
        return TxnStmt(kind, name="__chain__" if chain else None)
    m = re.match(r"SAVEPOINT\s+(`[^`]+`|\w+)\s*$", s, re.I)
    if m:
        return TxnStmt("savepoint", name=unquote_ident(m.group(1)))
    m = re.match(
        r"ROLLBACK\s+(?:WORK\s+)?TO\s+(?:SAVEPOINT\s+)?(`[^`]+`|\w+)\s*$",
        s, re.I,
    )
    if m:
        return TxnStmt("rollback_to", name=unquote_ident(m.group(1)))
    m = re.match(r"RELEASE\s+SAVEPOINT\s+(`[^`]+`|\w+)\s*$", s, re.I)
    if m:
        return TxnStmt("release", name=unquote_ident(m.group(1)))
    if re.match(r"ROLLBACK\s*$", s, re.I):
        return TxnStmt("rollback")

    m = re.match(r"CREATE\s+TEMP\s+(TABLE\b.*)$", s, re.I | re.S)
    if m:  # pg spelling of TEMPORARY
        return parse_statement("CREATE TEMPORARY " + m.group(1))
    m = re.match(r"CREATE\s+UNLOGGED\s+(TABLE\b.*)$", s, re.I | re.S)
    if m:  # pg durability hint — regular table here
        return parse_statement("CREATE " + m.group(1))
    m = re.match(r"CREATE\s+TEMPORARY\s+(TABLE\b.*)$", s, re.I | re.S)
    if m:
        stmt = parse_statement("CREATE " + m.group(1))
        if isinstance(stmt, CreateTable):
            stmt.meta.temporary = True
            return stmt
        if isinstance(stmt, (CreateTableAs, CreateTableLike)):
            stmt.temporary = True
            return stmt
        raise ValueError("TEMPORARY applies to CREATE TABLE forms only")
    m = re.match(r"DROP\s+TEMPORARY\s+(TABLE\b.*)$", s, re.I | re.S)
    if m:
        return parse_statement("DROP " + m.group(1))

    # Maintenance statements (MySQL table admin surface). CHECK/REPAIR
    # report per-table status rows; CHECKSUM computes a REAL content
    # checksum (hash aggregate) — snapshot storage can't be
    # "corrupted-but-repairable", so OK is the truthful answer.
    m = re.match(
        r"(CHECK|CHECKSUM|REPAIR)\s+TABLE\s+(.+?)"
        r"(?:\s+(?:QUICK|FAST|MEDIUM|EXTENDED|CHANGED))*\s*$",
        s, re.I,
    )
    if m:
        targets = [
            unquote_ident(t.strip())
            for t in split_top_level(m.group(2), ",")
            if t.strip()
        ]
        return Maintenance(m.group(1).lower(), targets)

    # Postgres session-reset commands (reference handles these at the
    # pg wire layer, test/bats/postgres/cli.bats
    # discard_all_clears_temp_tables): ALL/TEMP drop session TEMPORARY
    # tables, ALL/PLANS deallocate prepared statements; SEQUENCES is a
    # no-op (no session sequence caches here).
    m = re.match(r"DISCARD\s+(ALL|PLANS|SEQUENCES|TEMPORARY|TEMP)\s*$",
                 s, re.I)
    if m:
        return Maintenance("discard", [m.group(1).lower()])

    # ALTER DATABASE/SCHEMA options (charset/collation/encryption) and
    # pg COMMENT ON: accepted as metadata no-ops (strings are UTF-8
    # here; there is no comment store for arbitrary objects)
    if re.match(
        r"ALTER\s+(?:DATABASE|SCHEMA)\s+(?:`[^`]+`|\w+)?\s*"
        r"(?:DEFAULT\s+)?(?:CHARACTER\s+SET|CHARSET|COLLATE"
        r"|ENCRYPTION|READ\s+ONLY)\b", s, re.I,
    ):
        return Show("noop_admin")
    if re.match(
        r"COMMENT\s+ON\s+(?:TABLE|COLUMN|VIEW|INDEX|SCHEMA|DATABASE"
        r"|SEQUENCE|FUNCTION|CONSTRAINT)\s+", s, re.I,
    ):
        return Show("noop_admin")

    # Administrative no-ops: single-process snapshot engine has no
    # handler caches, privilege caches, or killable threads.
    if re.match(
        r"(FLUSH\s+\w[\w\s,]*|KILL(\s+(QUERY|CONNECTION))?\s+\d+|"
        r"RESET\s+QUERY\s+CACHE|"
        r"CACHE\s+INDEX\s+.+|LOAD\s+INDEX\s+INTO\s+CACHE\s+.+|"
        r"PURGE\s+(?:BINARY|MASTER)\s+LOGS\s+(?:TO|BEFORE)\s+.+|"
        r"RESET\s+(?:MASTER|REPLICA|SLAVE)(?:\s+ALL)?)\s*$",
        s, re.I,
    ):
        return Show("noop_admin")

    # pg async-notification surface: a single-process snapshot engine
    # has no cross-connection channels to signal, so these accept as
    # no-ops (the reference ducks them the same way — its pg wire
    # layer has no LISTEN dispatcher).
    if re.match(
        r"(LISTEN\s+\w+|UNLISTEN\s+(?:\w+|\*)|"
        r"NOTIFY\s+\w+(?:\s*,\s*'(?:[^']|'')*')?|"
        r"CLUSTER(?:\s+VERBOSE)?(?:\s+[\w`\"]+(?:\s+USING\s+\w+)?)?|"
        r"REINDEX(?:\s+\(\s*\w+\s*\))?\s+"
        r"(?:INDEX|TABLE|SCHEMA|DATABASE|SYSTEM)\s+[\w`\".]+"
        r")\s*$",
        s, re.I,
    ):
        return Show("noop_admin")

    # pg's ANALYZE [VERBOSE] [t [(cols)]] is MySQL's ANALYZE TABLE —
    # route named targets to the real stats pass; the bare
    # whole-database form accepts as a no-op (no global stats store).
    m = re.match(
        r"ANALYZE(?:\s+VERBOSE)?(?:\s+(`[^`]+`|\w+)"
        r"(?:\s*\([^)]*\))?)?\s*$",
        s, re.I,
    )
    if m and (m.group(1) or "").upper() != "TABLE":
        if m.group(1):
            return AnalyzeStmt([unquote_ident(m.group(1))])
        return Show("noop_admin")

    m = re.match(r"DO\s+(.+)$", s, re.I | re.S)
    if m:
        return DoStmt(m.group(1).strip())

    m = re.match(
        r"CREATE\s+USER\s+(IF\s+NOT\s+EXISTS\s+)?(.+?)"
        r"(?:\s+IDENTIFIED\s+.+)?$",
        s, re.I | re.S,
    )
    if m:
        return UserStmt("create", user=_user_spec(m.group(2)),
                        if_clause=bool(m.group(1)))
    m = re.match(r"DROP\s+USER\s+(IF\s+EXISTS\s+)?(.+?)\s*$", s, re.I)
    if m:
        return UserStmt("drop", user=_user_spec(m.group(2)),
                        if_clause=bool(m.group(1)))
    m = re.match(
        r"GRANT\s+(.+?)\s+ON\s+(?:TABLE\s+)?(\S+)\s+TO\s+(.+?)"
        r"(\s+WITH\s+GRANT\s+OPTION)?\s*$",
        s, re.I | re.S,
    )
    if m:
        return UserStmt("grant", user=_user_spec(m.group(3)),
                        privs=re.sub(r"\s+", " ", m.group(1)).upper(),
                        target=m.group(2),
                        grant_option=bool(m.group(4)))
    m = re.match(
        r"REVOKE\s+(.+?)\s+ON\s+(?:TABLE\s+)?(\S+)\s+FROM\s+(.+?)\s*$",
        s, re.I | re.S,
    )
    if m:
        return UserStmt("revoke", user=_user_spec(m.group(3)),
                        privs=re.sub(r"\s+", " ", m.group(1)).upper(),
                        target=m.group(2))
    if re.match(r"(ALTER\s+USER|SET\s+PASSWORD|RENAME\s+USER)\b", s, re.I):
        return UserStmt("noop")

    m = re.match(
        r"CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?EVENT\s+"
        r"(IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|\w+)\s+"
        r"ON\s+SCHEDULE\s+(.+?)\s+"
        r"(?:ON\s+COMPLETION\s+(?:NOT\s+)?PRESERVE\s+)?"
        r"((?:ENABLE|DISABLE)\s+)?(?:COMMENT\s+'[^']*'\s+)?"
        r"DO\s+(.+)$",
        s, re.I | re.S,
    )
    if m:
        return EventStmt(
            "create", unquote_ident(m.group(2)),
            schedule=re.sub(r"\s+", " ", m.group(3).strip()),
            status=(m.group(4) or "ENABLE").strip().upper() + "D",
            body=m.group(5).strip(), if_clause=bool(m.group(1)),
        )
    m = re.match(r"DROP\s+EVENT\s+(IF\s+EXISTS\s+)?(`[^`]+`|\w+)\s*$",
                 s, re.I)
    if m:
        return EventStmt("drop", unquote_ident(m.group(2)),
                         if_clause=bool(m.group(1)))
    m = re.match(r"ALTER\s+EVENT\s+(`[^`]+`|\w+)\s+(ENABLE|DISABLE)\s*$",
                 s, re.I)
    if m:
        return EventStmt("alter_status", unquote_ident(m.group(1)),
                         status=m.group(2).upper() + "D")

    # ALTER PROCEDURE/FUNCTION only changes characteristics (COMMENT,
    # SQL SECURITY, [NOT] DETERMINISTIC, access hints) — never the
    # body or parameters (MySQL 15.1.7); accepted as metadata no-ops
    m = re.match(
        r"ALTER\s+(?:PROCEDURE|FUNCTION)\s+(`[^`]+`|\w+)"
        r"(?:\s+(?:COMMENT\s+'(?:[^']|'')*'|LANGUAGE\s+SQL"
        r"|(?:NOT\s+)?DETERMINISTIC|CONTAINS\s+SQL|NO\s+SQL"
        r"|READS\s+SQL\s+DATA|MODIFIES\s+SQL\s+DATA"
        r"|SQL\s+SECURITY\s+(?:DEFINER|INVOKER)))*\s*$",
        s, re.I,
    )
    if m:
        return Show("noop_admin")

    m = re.match(
        r"CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?TRIGGER\s+(`[^`]+`|\w+)\s+"
        r"(BEFORE|AFTER)\s+(INSERT|UPDATE|DELETE)\s+ON\s+(`[^`]+`|\w+)\s+"
        r"FOR\s+EACH\s+ROW\s+(.*)$",
        s, re.I | re.S,
    )
    if m:
        body = m.group(5).strip()
        bm = re.fullmatch(r"BEGIN\s+(.*?)\s*END", body, re.I | re.S)
        if bm:
            body = bm.group(1).strip()
        return TriggerStmt(
            "create", unquote_ident(m.group(1)),
            timing=m.group(2).lower(), event=m.group(3).lower(),
            table=unquote_ident(m.group(4)), body=body,
        )
    m = re.match(
        r"SIGNAL\s+SQLSTATE\s+(?:VALUE\s+)?'(\w+)'(?:\s+SET\s+(.+))?\s*$",
        s, re.I | re.S,
    )
    if m:
        msg, errno = "Unhandled user-defined exception", None
        for item in split_top_level(m.group(2) or "", ","):
            im = re.match(r"\s*MESSAGE_TEXT\s*=\s*'((?:[^']|'')*)'\s*$",
                          item, re.I)
            if im:
                msg = im.group(1).replace("''", "'")
            im = re.match(r"\s*MYSQL_ERRNO\s*=\s*(\d+)\s*$", item, re.I)
            if im:
                errno = int(im.group(1))
        return SignalStmt(m.group(1), msg, errno)

    m = re.match(
        r"DROP\s+TRIGGER\s+(IF\s+EXISTS\s+)?(`[^`]+`|\w+)\s*$", s, re.I
    )
    if m:
        return TriggerStmt("drop", unquote_ident(m.group(2)),
                           if_exists=bool(m.group(1)))

    _CHARACTERISTICS = (
        r"(?:\s+(?:DETERMINISTIC|NOT\s+DETERMINISTIC|NO\s+SQL|"
        r"CONTAINS\s+SQL|READS\s+SQL\s+DATA|MODIFIES\s+SQL\s+DATA|"
        r"SQL\s+SECURITY\s+\w+|COMMENT\s+'[^']*'|LANGUAGE\s+SQL))*"
    )
    m = re.match(
        # param list allows one paren nesting level for typed params
        # (VARCHAR(8), DECIMAL(10,2))
        r"CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?PROCEDURE\s+(`[^`]+`|\w+)"
        r"\s*\(((?:[^()]|\([^()]*\))*)\)" + _CHARACTERISTICS
        + r"\s+(.*)$",
        s, re.I | re.S,
    )
    if m:
        params = []
        for p in split_top_level(m.group(2), ","):
            p = p.strip()
            if not p:
                continue
            pm = re.match(r"(?:(IN|OUT|INOUT)\s+)?(`[^`]+`|\w+)\s+\S+",
                          p, re.I)
            if not pm:
                raise ValueError(f"cannot parse procedure param: {p!r}")
            params.append(((pm.group(1) or "IN").lower(),
                           unquote_ident(pm.group(2))))
        body = m.group(3).strip().rstrip(";").strip()
        bm = re.fullmatch(r"BEGIN\s+(.*?)\s*;?\s*END", body, re.I | re.S)
        if bm:
            body = bm.group(1).strip()
        return ProcedureStmt("create", unquote_ident(m.group(1)),
                             params=params, body=body)
    m = re.match(
        r"CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?FUNCTION\s+(`[^`]+`|\w+)"
        r"\s*\(((?:[^()]|\([^()]*\))*)\)\s*RETURNS\s+\S+(?:\([^)]*\))?"
        + _CHARACTERISTICS
        + r"\s+(?:BEGIN\s+)?RETURN\s+(.*?)\s*;?\s*(?:END\s*)?$",
        s, re.I | re.S,
    )
    if m:
        # MySQL stored SQL functions map onto the macro mechanism
        # (same late-binding textual expansion the reference uses for
        # its internal shims, catalog/internal_macro.go:17-31)
        params = [
            p.strip().split()[0].strip("`")
            for p in split_top_level(m.group(2), ",")
            if p.strip()
        ]
        return CreateMacro(unquote_ident(m.group(1)), params,
                           m.group(3).strip(), or_replace=False)
    m = re.match(
        # stored FUNCTION with a compound body (control flow): runs
        # through the procedure interpreter; calls fold driver-side
        # for constant arguments (engine._fold_stored_functions)
        r"CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?FUNCTION\s+(`[^`]+`|\w+)"
        r"\s*\(((?:[^()]|\([^()]*\))*)\)\s*RETURNS\s+(\S+(?:\([^)]*\))?)"
        + _CHARACTERISTICS
        + r"\s+(BEGIN\b.*)$",
        s, re.I | re.S,
    )
    if m:
        params = [
            ("in", p.strip().split()[0].strip("`"))
            for p in split_top_level(m.group(2), ",")
            if p.strip()
        ]
        body = m.group(4).strip().rstrip(";").strip()
        bm = re.fullmatch(r"BEGIN\s+(.*?)\s*;?\s*END", body,
                          re.I | re.S)
        if bm:
            body = bm.group(1).strip()
        return ProcedureStmt("create", unquote_ident(m.group(1)),
                             params=params, body=body,
                             returns=m.group(3))
    m = re.match(
        r"DROP\s+(?:PROCEDURE|FUNCTION)\s+(IF\s+EXISTS\s+)?"
        r"(`[^`]+`|\w+)\s*(?:\(\s*[\w\s,\[\]]*\))?"
        r"\s*(?:CASCADE|RESTRICT)?\s*$", s, re.I,
    )
    if m:
        # DROP FUNCTION also lands here: the engine's drop removes
        # either a procedure or a macro by that name
        return ProcedureStmt("drop", unquote_ident(m.group(2)),
                             if_exists=bool(m.group(1)))
    m = re.match(r"CALL\s+(`[^`]+`|\w+)\s*(?:\((.*)\))?\s*$",
                 s, re.I | re.S)
    if m:
        args = [
            a.strip() for a in split_top_level(m.group(2) or "", ",")
            if a.strip()
        ]
        return ProcedureStmt("call", unquote_ident(m.group(1)),
                             params=args)

    # pg `SHOW <setting>` (psql/ORM startup: SHOW search_path, SHOW
    # standard_conforming_strings, SHOW server_version). Placed after
    # every MySQL SHOW form so those spellings win.
    m = re.match(r"SHOW\s+([A-Za-z_][\w.]*)\s*$", s, re.I)
    if m:
        return Show("pg_setting", target=m.group(1).lower())

    if re.match(r"HANDLER\s+", s, re.I):
        raise NotImplementedError(
            "HANDLER statements (the MyISAM/InnoDB low-level cursor "
            "API) are not supported — use SELECT, or a cursor inside "
            "a stored procedure"
        )
    if re.match(r"LOAD\s+XML\b", s, re.I):
        raise NotImplementedError(
            "LOAD XML INFILE is not supported — convert the file to "
            "CSV/JSON and use LOAD DATA INFILE or COPY FROM "
            "(ExtractValue/UpdateXML ARE available for XML columns)"
        )
    raise ValueError(f"unsupported statement: {s[:120]!r}")
