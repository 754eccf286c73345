"""Engine facade — the user-facing entry point (SURVEY.md §7 design).

Wraps a SparkSession with (a) a catalog of versioned parquet tables,
(b) a SQL front door with optional MySQL-dialect normalization
(the reference's DuckBuilder ships SQL text to DuckDB after
transpiling, backend/executor.go:183-219 + transpiler/translate.go:102
— here Catalyst is the engine, so the transpile is a light normalize),
(c) ingest/export (LOAD DATA / COPY parity in sources/), and
(d) DML helpers (INSERT / UPDATE / DELETE / REPLACE) that re-express
the reference's DuckDB DML dispatch (backend/executor.go:162-165,
loaddata REPLACE/IGNORE semantics loaddata.go:131-150) as snapshot
rewrites on versioned tables.
"""

from __future__ import annotations

import dataclasses
import decimal
import json
import os
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException
from pyspark.sql import types as T
from pyspark.sql.types import StructType

from myduckserver_spark import statements as st
from myduckserver_spark.catalog import Catalog, ParquetTable
from myduckserver_spark.frames import local_frame
from myduckserver_spark.functions.mysql_compat import translate_mysql
from myduckserver_spark.types import schema_from_mysql, spark_to_mysql



def _has_subquery(text: str | None) -> bool:
    """True when an expression fragment contains a `(SELECT` — those
    can't become a Catalyst Column via F.expr and must route through
    full SQL planning (the reference ships ALL of it to DuckDB as text,
    backend/executor.go:183; we only pay the SQL round-trip when
    needed)."""
    return bool(text) and bool(re.search(r"\(\s*SELECT\b", text, re.I))


# Keywords that can directly follow a value inside an expression, so a
# bare word matching one of these is NOT a MySQL implicit alias
# (`SELECT expr alias`): logical/comparison operators, CASE/INTERVAL
# machinery, interval units, window-frame words, and sort directions.
_NOT_ALIAS_WORDS = frozenset({
    "AND", "OR", "XOR", "NOT", "IS", "NULL", "TRUE", "FALSE", "UNKNOWN",
    "LIKE", "RLIKE", "REGEXP", "IN", "BETWEEN", "DIV", "MOD", "COLLATE",
    "ESCAPE", "BINARY", "CASE", "WHEN", "THEN", "ELSE", "END", "INTERVAL",
    "MICROSECOND", "SECOND", "MINUTE", "HOUR", "DAY", "WEEK", "MONTH",
    "QUARTER", "YEAR", "SECOND_MICROSECOND", "MINUTE_MICROSECOND",
    "MINUTE_SECOND", "HOUR_MICROSECOND", "HOUR_SECOND", "HOUR_MINUTE",
    "DAY_MICROSECOND", "DAY_SECOND", "DAY_MINUTE", "DAY_HOUR", "YEAR_MONTH",
    "OVER", "PARTITION", "ROWS", "RANGE", "FOLLOWING", "PRECEDING",
    "UNBOUNDED", "CURRENT", "ROW", "ASC", "DESC", "DISTINCT", "ALL",
    "SEPARATOR", "SOUNDS",
})


def _ends_value(t) -> bool:
    """True when a token can END an expression value, so that a bare
    identifier right after it reads as a MySQL implicit alias."""
    if t.kind in ("bq", "num", "str", "uservar", "sysvar"):
        return True
    if t.kind == "word":
        return t.text.upper() not in _NOT_ALIAS_WORDS
    return t.kind == "op" and t.text == ")"


def _like_to_re(pat: str) -> "re.Pattern[str]":
    """MySQL LIKE pattern -> anchored regex (% = any run, _ = one char)."""
    body = "".join(
        ".*" if c == "%" else "." if c == "_" else re.escape(c) for c in pat
    )
    return re.compile("^" + body + "$", re.I)


@dataclass
class OkResult:
    """Non-query statement result, mirroring the MySQL OK packet the
    reference returns (reference: backend/executor.go:221-269 builds
    OkResult{RowsAffected, InsertID})."""

    affected_rows: int = 0
    last_insert_id: int = 0
    info: str = ""


class SignalError(ValueError):
    """SIGNAL SQLSTATE raised from a trigger or procedure body —
    MySQL's user-defined error (its standard validation pattern in
    BEFORE triggers; reference corpus main_test.go:1053)."""

    def __init__(self, sqlstate: str, message: str):
        super().__init__(f"SIGNAL SQLSTATE '{sqlstate}': {message}")
        self.sqlstate = sqlstate
        self.message_text = message


class DuplicateKeyError(ValueError):
    """ER_DUP_ENTRY (1062): PRIMARY KEY violation on INSERT/UPDATE —
    MySQL aborts the statement atomically; nothing is written. The
    reference inherits this from DuckDB's ART primary-key index; here
    the engine checks explicitly before committing the snapshot."""

    def __init__(self, key: str, index: str):
        super().__init__(f"Duplicate entry '{key}' for key '{index}'")
        self.sqlstate = "23000"
        self.errno = 1062
        self.message_text = f"Duplicate entry '{key}' for key '{index}'"


class _ProcReturn(Exception):
    """RETURN inside a stored FUNCTION body — carries the value."""

    def __init__(self, value):
        super().__init__("RETURN outside a stored function")
        self.value = value


class _ProcLeave(Exception):
    """Control transfer for LEAVE <label> (caught by the target loop)."""

    def __init__(self, label: str | None):
        self.label = label


class _ProcIterate(Exception):
    """Control transfer for ITERATE <label>."""

    def __init__(self, label: str | None):
        self.label = label


class _ProcExit(Exception):
    """Control transfer for an EXIT handler: unwind to the block that
    declared the handler (`owner` is that block's frame token)."""

    def __init__(self, owner: object):
        self.owner = owner


class Engine:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self._warehouse = warehouse
        self.catalog = Catalog(spark, warehouse)
        self.current_db = "main"
        self._dbs: dict[str, Catalog] = {"main": self.catalog}
        # Session variables (reference: GMS session vars + in-place SET,
        # pgserver/in_place_handler.go:89). A few defaults MySQL clients ask for.
        self.variables: dict[str, object] = {
            "autocommit": 1,
            # MySQL 8 default modes (no ANSI_QUOTES: double quotes are
            # strings until SET sql_mode adds ANSI/ANSI_QUOTES).
            "sql_mode": "ONLY_FULL_GROUP_BY,STRICT_TRANS_TABLES,"
            "NO_ZERO_IN_DATE,NO_ZERO_DATE,ERROR_FOR_DIVISION_BY_ZERO,"
            "NO_ENGINE_SUBSTITUTION",
            "time_zone": "UTC",
            "version": "8.0.0-myduckserver-spark",
            "version_comment": "myduckserver-spark (PySpark engine)",
        }
        # PREPARE name FROM '...' registry (reference: prepared-stmt cache
        # pgserver/duck_handler.go:133-233 / MySQL PREPARE through GMS).
        self._prepared: dict[str, str] = {}
        # JSON mutation/inspection UDF bases (once per SparkSession —
        # the provider-init analog, catalog/provider.go:108-239)
        if not getattr(spark, "_mds_json_udfs", False):
            from myduckserver_spark.functions.json_udfs import (
                register_json_udfs,
            )
            from myduckserver_spark.functions.udfs import (
                register_engine_udfs,
            )

            from myduckserver_spark.functions.xml_udfs import (
                register_xml_udfs,
            )

            register_json_udfs(spark)
            register_engine_udfs(spark)
            register_xml_udfs(spark)
            spark._mds_json_udfs = True
        # MySQL drops TEMPORARY tables at connection end; a new engine
        # over the warehouse is the reconnect analog, so leftovers from
        # a previous session are removed here.
        for name in list(self._temp_names()):
            try:
                self.catalog.drop_table(name)
            except Exception:
                pass

    # ------------------------------------------------------------ SQL front
    def sql(self, query: str, dialect: str = "spark", args=None) -> DataFrame:
        """Run SQL; dialect='mysql' applies the MySQL→Spark normalizer.

        Registered engine tables are exposed as temp views lazily so
        SQL text can reference them by name (the reference's catalog
        does this inside DuckDB; here the session catalog is the seam).
        `args` binds `?` positional / `:name` named parameters
        (the Bind step of the reference's extended protocol,
        pgserver/duck_handler.go:105-130).
        """
        # Defense in depth: sql() is the READ front door. Spark's
        # native INSERT INTO would append parquet files straight into
        # the current snapshot directory, bypassing constraints,
        # triggers, and snapshot immutability — mutations must route
        # through execute()'s statement executors.
        head = query
        if re.match(r"(?i)\s*WITH\b", head):
            try:
                _cte, rest = st.split_leading_cte(head)
                if _cte:
                    head = rest
            except Exception:
                pass
        if re.match(r"(?i)\s*(INSERT|UPDATE|DELETE|MERGE|TRUNCATE)\b",
                    head):
            raise ValueError(
                "mutating SQL must go through Engine.execute(), not "
                "Engine.sql() (snapshot writes are statement-executed)"
            )
        if dialect == "mysql":
            mode = str(self.variables.get("sql_mode", "")).upper()
            query = translate_mysql(
                query, ansi_quotes="ANSI" in mode
            )  # ANSI implies ANSI_QUOTES; both substrings match
        elif dialect == "postgres":
            from myduckserver_spark.functions.pg_compat import translate_postgres

            query = translate_postgres(
                query, schema_fn=self._table_columns)
        query = self._rewrite_enum_order(query)
        query = self._rewrite_time_travel(query)
        query = self._rewrite_table_changes(query)
        query = self._rewrite_vector_search(query)
        query = self._rewrite_file_query(query)
        query = self._rewrite_db_qualified(query)
        lowered = query.lower()
        if (
            "information_schema" in lowered
            or "__sys__" in query
            or "pg_catalog" in lowered
            or "pg_" in lowered  # bare pg_type/pg_class/... references
        ):
            from myduckserver_spark import infoschema

            query = infoschema.register_referenced(self, query)
        self._refresh_views()
        query = self._rewrite_asof_join(query)
        query = self._expand_macros(query)
        if args is not None:
            return self.spark.sql(query, args=args)
        return self.spark.sql(query)

    def _enum_columns(self) -> dict[str, list[str]]:
        """col name → declared ENUM values, across engine tables.

        The declaration order is preserved in StructField metadata
        (types.schema_from_mysql → parquet Spark-schema round trip), the
        same lossless-metadata trick the reference plays with DuckDB
        column COMMENTs (catalog/type_mapping.go:31-42, 101-110).
        """
        out: dict[str, list[str]] = {}
        for name in self.catalog.list_tables():
            try:
                fields = self.catalog.table(name).read().schema.fields
            except Exception:
                continue  # unreadable/corrupt dir must not poison reads
            for f in fields:
                md = f.metadata or {}
                vals = md.get("enum_values")
                if vals:
                    out.setdefault(f.name, list(vals))
        return out

    def _rewrite_enum_order(self, query: str) -> str:
        """ORDER BY on an ENUM column sorts by declaration index.

        MySQL/DuckDB order ENUMs by declared position, not lexically
        (reference: native DuckDB ENUM, catalog/type_mapping.go:101-110).
        ENUM is STRING+metadata here, so ORDER BY items naming an ENUM
        column are rewritten to ``array_position(array(...), col)`` —
        1-based declaration index, 0 for the invalid/empty value (which
        MySQL also sorts first), NULLs unaffected.
        """
        if "order" not in query.lower():
            return query
        enums = self._enum_columns()
        ci = self._ci_columns()
        if not enums and not ci:
            return query
        from myduckserver_spark.functions.mysql_lexer import (
            render,
            tokenize,
        )

        toks = tokenize(query)
        sig = [i for i, t in enumerate(toks) if t.kind not in ("ws", "comment")]
        out = list(toks)
        for si, i in enumerate(sig):
            t = toks[i]
            if not (t.kind == "word" and t.text.upper() == "ORDER"):
                continue
            if si + 2 >= len(sig):
                continue
            nxt = toks[sig[si + 1]]
            if not (nxt.kind == "word" and nxt.text.upper() == "BY"):
                continue
            # rewrite bare `col` / `tbl.col` sort items that follow
            expect_item = True
            for sj in range(si + 2, len(sig)):
                j = sig[sj]
                tj = toks[j]
                if tj.kind == "op" and tj.text == ",":
                    expect_item = True
                    continue
                if tj.kind == "op" and tj.text in (")", ";"):
                    break
                if tj.kind == "word" and tj.text.upper() in (
                    "LIMIT", "OFFSET", "UNION", "EXCEPT", "INTERSECT",
                    "FETCH", "WINDOW",
                ):
                    break
                if not expect_item:
                    continue
                expect_item = False
                if tj.kind not in ("word", "bq"):
                    continue
                name = tj.text.strip("`")
                end_sj = sj
                if sj + 2 < len(sig):
                    dot = toks[sig[sj + 1]]
                    colt = toks[sig[sj + 2]]
                    if (
                        dot.kind == "op"
                        and dot.text == "."
                        and colt.kind in ("word", "bq")
                    ):
                        name = colt.text.strip("`")
                        end_sj = sj + 2
                # the item is a BARE column only if what follows is a
                # separator or a sort keyword — any operator means this
                # is an expression (incl. function calls) → leave alone
                after = toks[sig[end_sj + 1]] if end_sj + 1 < len(sig) else None
                is_bare = (
                    after is None
                    or (after.kind == "op" and after.text in (",", ")", ";"))
                    or (
                        after.kind == "word"
                        and after.text.upper()
                        in ("ASC", "DESC", "NULLS", "LIMIT", "OFFSET",
                            "UNION", "EXCEPT", "INTERSECT", "FETCH", "WINDOW")
                    )
                )
                if is_bare and (name in enums or name in ci):
                    end = sig[end_sj]
                    col = render(toks[j : end + 1])
                    if name in enums:
                        arr = ", ".join(
                            "'" + v.replace("'", "''") + "'"
                            for v in enums[name]
                        )
                        key = f"array_position(array({arr}), {col})"
                    else:  # _ci collation: case-insensitive sort key
                        key = f"lower({col})"
                    out[j] = type(tj)("word", key)
                    for k in range(j + 1, end + 1):
                        out[k] = type(tj)("ws", "")
        return render(out)

    def _ci_columns(self) -> set[str]:
        """Columns explicitly declared with a case-insensitive collation
        (COLLATE ..._ci). ORDER BY on them sorts by lower(col) — the
        ai_ci approximation (accent folding not applied); equality/
        GROUP BY keep binary semantics (documented divergence).
        Only explicit COLLATE declarations opt in: MySQL's default
        utf8mb4 collation is _ci too, but silently changing every
        string sort would diverge from the oracle-checked plans.

        Cached per engine and invalidated on DDL (_ddl_changed): the
        uncached form re-read every table's snapshot schema on every
        query containing 'order' — per-query parquet metadata loads
        that scale with table count (ADVICE r2).
        """
        cached = getattr(self, "_ci_cache", None)
        if cached is not None:
            return cached
        out: set[str] = set()
        for name in self.catalog.list_tables():
            for f in self.catalog.table(name).read().schema.fields:
                coll = (f.metadata or {}).get("collation", "")
                if coll.endswith("_ci"):
                    out.add(f.name)
        self._ci_cache = out
        return out

    def _ddl_changed(self) -> None:
        """Invalidate schema-derived per-engine caches after any DDL."""
        self._ci_cache = None
        self._ftidx_cache = None

    def _fulltext_index_map(self) -> list[tuple[frozenset, dict]]:
        """(column-set -> index props) for every FULLTEXT index, built
        in ONE metadata pass and cached until DDL invalidates it —
        MATCH...AGAINST must not pay an O(tables) list_tables scan per
        query (every index mutation funnels through _save_meta /
        drop_table, which call _ddl_changed)."""
        cached = getattr(self, "_ftidx_cache", None)
        if cached is not None:
            return cached
        out: list[tuple[frozenset, dict]] = []
        for tname in self.catalog.list_tables():
            if tname.startswith("__"):
                continue
            try:
                meta = self.table_meta(tname)
            except Exception:
                continue
            for iname, props in meta.indexes.items():
                if props.get("fulltext"):
                    out.append((
                        frozenset(props.get("columns", [])),
                        {**props, "table": tname, "name": iname},
                    ))
        self._ftidx_cache = out
        return out

    def _bm25_stats(
        self, index_table: str, base_table: str, terms: tuple[str, ...]
    ) -> tuple[int, int, dict]:
        """(n_docs, sum_dl, per-term df) for a MATCH query's term set.

        Memoized per (index table, BASE-table version, terms): a
        repeated MATCH query costs zero driver collects, while any DML
        on the base table bumps its snapshot version and forces a
        re-collect (round-4 verdict item — the old memo-less path
        collected per query; a version-less memo would serve stale
        constants after an index rebuild). The collect itself is
        bounded by the query's term count (term-keyed pushdown into
        the index table)."""
        memo = getattr(self, "_bm25_memo", None)
        if memo is None:
            memo = self._bm25_memo = {}
            self._bm25_df_collects = 0
        try:
            base_v = self.catalog.table(base_table).version
        except Exception:
            base_v = -1
        key = (index_table, base_v, terms)
        hit = memo.get(key)
        if hit is not None:
            return hit
        self._bm25_df_collects += 1
        idx = self.catalog.table(index_table).read()
        rows = idx.filter(F.col("term").isin([""] + list(terms))).collect()
        n_docs = sum_dl = 0
        dfs: dict = {}
        for r in rows:
            if r.term == "":
                n_docs, sum_dl = r.n_docs, r.sum_dl
            else:
                dfs[r.term] = r.df
        if len(memo) > 4096:  # bound driver memory across long sessions
            memo.clear()
        memo[key] = (n_docs, sum_dl, dfs)
        return memo[key]

    def _rewrite_time_travel(self, query: str) -> str:
        """``FROM t VERSION AS OF n`` → a registered snapshot view
        (Delta-style time travel over the versioned catalog;
        ParquetTable.read_version)."""
        if "version" not in query.lower():
            return query
        from myduckserver_spark.statements import sub_outside_strings

        def repl(m: re.Match) -> str:
            tbl = m.group(2).strip("`")
            v = int(m.group(3))
            view = f"{tbl}__v{v}"
            self.catalog.table(tbl).read_version(v).createOrReplaceTempView(
                view
            )
            return f"{m.group(1)} {view}"

        return sub_outside_strings(
            r"\b(FROM|JOIN)\s+(`[^`]+`|\w+)\s+VERSION\s+AS\s+OF\s+(\d+)",
            repl,
            query,
            flags=re.I,
        )

    # FROM <l> [AS a] ASOF [LEFT] JOIN <r> [AS b] ON <conjunction>
    _ASOF_RE = re.compile(
        r"\bFROM\s+(`?\w+`?)(?:\s+(?:AS\s+)?(?!ASOF\b)(\w+))?"
        r"\s+ASOF\s+(LEFT\s+)?JOIN\s+(`?\w+`?)(?:\s+(?:AS\s+)?(\w+))?"
        r"\s+ON\s+(.+?)"
        r"(?=\bWHERE\b|\bGROUP\s+BY\b|\bORDER\s+BY\b|\bQUALIFY\b"
        r"|\bHAVING\b|\bLIMIT\b|;|$)",
        re.I | re.S,
    )
    _ASOF_TERM_RE = re.compile(
        r"^\s*(\w+)\.(\w+)\s*(>=|<=|>|<|=)\s*(\w+)\.(\w+)\s*$"
    )

    def _rewrite_asof_join(self, query: str) -> str:
        """DuckDB-dialect ``ASOF JOIN`` front door (the reference's pg
        surface passes ASOF JOIN straight to DuckDB's AsOf operator).
        Spark has no ASOF JOIN, so the clause is parsed here and routed
        to the merge-scan operator (operators/asof.py — one shuffle,
        no pair blowup), the joined result is registered as a temp
        view, and qualified column references in the surrounding query
        are remapped onto the view's columns.

        Supported shape: equality conjuncts plus exactly one
        inequality; ``l.ts >= r.ts`` (or ``>``) routes to the backward
        merge-scan and ``l.ts <= r.ts`` (or ``<``) to the forward one.
        """
        from myduckserver_spark.statements import mask_strings

        if "asof" not in query.lower():
            return query
        while True:
            m = self._ASOF_RE.search(mask_strings(query))
            if not m:
                return query
            lt = m.group(1).strip("`")
            la = m.group(2) or lt
            left_join = bool(m.group(3))
            rt = m.group(4).strip("`")
            ra = m.group(5) or rt
            terms = re.split(r"\bAND\b", m.group(6), flags=re.I)
            eqs: list[tuple[str, str]] = []
            ineq: tuple[str, str, str] | None = None
            for t in terms:
                tm = self._ASOF_TERM_RE.match(t)
                if not tm:
                    raise ValueError(f"unsupported ASOF JOIN condition: {t!r}")
                q1, c1, op, q2, c2 = tm.groups()
                if q1 == ra and q2 == la:  # normalize to left-first
                    q1, c1, q2, c2 = q2, c2, q1, c1
                    op = {">": "<", "<": ">", ">=": "<=", "<=": ">="}.get(
                        op, op
                    )
                if (q1, q2) != (la, ra):
                    raise ValueError(
                        f"ASOF JOIN condition must compare {la} to {ra}: {t!r}"
                    )
                if op == "=":
                    eqs.append((c1, c2))
                elif ineq is not None:
                    raise ValueError("ASOF JOIN needs exactly one inequality")
                else:
                    # >=/> → backward as-of; <=/< → forward as-of
                    ineq = (c1, c2, op)
            if ineq is None:
                raise ValueError("ASOF JOIN needs an inequality condition")

            from myduckserver_spark.operators.asof import (
                asof_join_backward,
                asof_join_forward,
            )

            lts, rts, op = ineq
            asof_fn = (
                asof_join_backward if op in (">=", ">") else asof_join_forward
            )
            ldf = self.spark.table(lt)
            rdf = self.spark.table(rt)
            # Stash every right column under a reserved prefix so the
            # attach can never collide with a left name, then expose the
            # by-keys under the left names the operator joins on.
            r2 = rdf.select(
                *[F.col(c).alias(f"__r__{c}") for c in rdf.columns]
            )
            for lcol, rcol in eqs:
                r2 = r2.withColumn(lcol, F.col(f"__r__{rcol}"))
            joined = asof_fn(
                ldf,
                r2,
                by=[lcol for lcol, _ in eqs],
                left_ts=lts,
                right_ts=f"__r__{rts}",
                value_cols=[f"__r__{c}" for c in rdf.columns if c != rts],
                allow_exact_match=(op in (">=", "<=")),
                suffix="",
            )
            if not left_join:  # ASOF JOIN default is inner: drop no-match
                joined = joined.filter(F.col(f"__r__{rts}").isNotNull())
            # Output names mirror DuckDB: right columns keep their own
            # names unless they collide with a left column, in which
            # case they get the right alias as a prefix.
            out_map: dict[str, str] = {}
            taken = set(ldf.columns)
            for c in rdf.columns:
                cand = c if c not in taken else f"{ra}_{c}"
                while cand in taken:
                    cand += "_r"
                taken.add(cand)
                out_map[c] = cand
            joined = joined.select(
                *[F.col(c) for c in ldf.columns],
                *[
                    F.col(f"__r__{c}").alias(out_map[c])
                    for c in rdf.columns
                ],
            )
            self._asof_seq = getattr(self, "_asof_seq", 0) + 1
            view = f"__asof_{self._asof_seq}"
            joined.createOrReplaceTempView(view)
            query = query[: m.start()] + f"FROM {view} " + query[m.end():]
            from myduckserver_spark.statements import sub_outside_strings

            def _right_ref(rm: re.Match) -> str:
                return out_map.get(rm.group(1), rm.group(1))

            query = sub_outside_strings(
                rf"\b{re.escape(ra)}\.(\w+)", _right_ref, query
            )
            query = sub_outside_strings(
                rf"\b{re.escape(la)}\.(\w+)", lambda lm: lm.group(1), query
            )

    def _rewrite_db_qualified(self, query: str) -> str:
        """MySQL cross-database qualification for reads:
        ``otherdb.tbl`` → a mangled temp view (``__db__<db>__<tbl>``)
        registered on demand with the same version-compare caching the
        current db's views use — cross-db joins work in one query."""
        others = [d for d in self._dbs if d != self.current_db]
        if not others or not any(d + "." in query for d in others):
            return query
        regv = getattr(self, "_xdb_versions", {})
        for d in others:
            cat = self._dbs[d]
            names = set(cat.list_tables())

            def rep(m, _d=d, _cat=cat, _names=names):
                tbl = st.unquote_ident(m.group(1))
                if tbl not in _names:
                    return m.group(0)  # alias.column, not db.table
                t = _cat.table(tbl)
                key = (_d, tbl)
                if regv.get(key) != t.version:
                    t.read().createOrReplaceTempView(
                        f"__db__{_d}__{tbl}"
                    )
                    regv[key] = t.version
                return f"__db__{_d}__{tbl}"

            query = st.sub_outside_strings(
                rf"\b{re.escape(d)}\s*\.\s*(`[^`]+`|\w+)", rep, query
            )
        self._xdb_versions = regv
        return query

    _XDB_TARGET_RE = re.compile(
        r"(?i)^\s*(?:CREATE\s+(?:TEMPORARY\s+)?TABLE"
        r"(?:\s+IF\s+NOT\s+EXISTS)?|DROP\s+(?:TEMPORARY\s+)?TABLE"
        r"(?:\s+IF\s+EXISTS)?|INSERT\s+(?:IGNORE\s+)?INTO|"
        r"REPLACE\s+(?:IGNORE\s+)?INTO|UPDATE|DELETE\s+FROM|"
        r"TRUNCATE(?:\s+TABLE)?|ALTER\s+TABLE|SHOW\s+CREATE\s+TABLE|"
        r"DESCRIBE|DESC|OPTIMIZE(?:\s+TABLE)?|ANALYZE\s+TABLE)\s+"
        r"(`[^`]+`|\w+)\s*\."
    )

    def _qualified_target_db(self, sql: str):
        """(db, sql-with-db-prefixes-stripped) when a DDL/DML statement
        targets ``otherdb.tbl`` — executed under that db's context, the
        qualified-target subset of MySQL's resolution (unqualified
        side-references inside such a statement then also resolve to
        the target db; mixed-db DML is out of scope, documented)."""
        m = self._XDB_TARGET_RE.match(sql)
        if not m:
            return None
        db = st.unquote_ident(m.group(1))
        if db not in self._dbs or db == self.current_db:
            return None
        stripped = st.sub_outside_strings(
            rf"\b{re.escape(db)}\s*\.\s*", "", sql
        )
        return db, stripped

    def _refresh_views(self) -> None:
        # Temp views pin a concrete snapshot path, so they must be
        # re-registered when a table's pointer moves — but re-reading
        # EVERY table per query is O(tables) Py4J round-trips. Compare
        # (database, committed version) per view name (cheap local
        # _VERSION reads) and refresh only what changed: after a USE,
        # a name that exists in both databases at the same version
        # must still re-bind to the current database's table.
        registered = getattr(self, "_registered_versions", {})
        current: dict[str, tuple[str, int]] = {}
        for name in self.catalog.list_tables():
            t = self.catalog.table(name)
            v = (self.current_db, t.version)
            current[name] = v
            if registered.get(name) != v:
                try:
                    t.read().createOrReplaceTempView(name)
                except Exception:
                    # a corrupt/half-written dir must not poison every
                    # other table's queries; the table itself will
                    # still error when referenced directly
                    current.pop(name, None)
        for name in registered:
            if name not in current:
                self.spark.catalog.dropTempView(name)
        self._registered_versions = current
        vdir = os.path.join(self.catalog.root, "__views__")
        if os.path.isdir(vdir):
            files = [f for f in os.listdir(vdir) if f.endswith(".sql")]
            # replay in creation order so view-on-view resolves
            files.sort(key=lambda f: os.path.getmtime(os.path.join(vdir, f)))
            for fn in files:
                with open(os.path.join(vdir, fn)) as fh:
                    query = fh.read()
                self.spark.sql(
                    f"CREATE OR REPLACE TEMPORARY VIEW {fn[:-4]} AS {query}"
                )

    def _resolve_updatable_view(self, name: str):
        """If ``name`` is a stored view, return (base_table,
        view_where_or_None, colmap_or_None) when it has MySQL's
        updatable shape — a single-table SELECT of bare (optionally
        aliased) columns with an optional WHERE. colmap maps view
        column → base column; None means SELECT * (identity). Returns
        None when ``name`` is not a view; raises for views that are
        not updatable (joins, aggregates, derived columns, view-on-
        view). MySQL updatable-view semantics without CHECK OPTION:
        the view's WHERE narrows UPDATE/DELETE, INSERT passes through.
        """
        vpath = os.path.join(
            self.catalog.root, "__views__", f"{name}.sql"
        )
        if not os.path.exists(vpath):
            return None
        with open(vpath) as fh:
            query = fh.read().strip().rstrip(";")
        mask = st.mask_strings(query)
        not_updatable = re.search(
            r"(?i)\b(JOIN|GROUP\s+BY|HAVING|LIMIT|UNION|EXCEPT"
            r"|INTERSECT|DISTINCT)\b|\bOVER\s*\(", mask,
        )
        m = None if not_updatable else re.fullmatch(
            r"(?is)\s*SELECT\s+(.+?)\s+FROM\s+(`[^`]+`|\w+)"
            r"(?:\s+WHERE\s+(.+?))?\s*",
            query,
        )
        if m is None:
            raise ValueError(
                f"view {name} is not updatable (DML through a view "
                "needs a single-table SELECT of plain columns with an "
                "optional WHERE)"
            )
        sel = m.group(1).strip()
        base = st.unquote_ident(m.group(2))
        where = m.group(3)
        if os.path.exists(os.path.join(
                self.catalog.root, "__views__", f"{base}.sql")):
            raise ValueError(
                f"view {name} is not updatable (view-on-view DML is "
                "not supported; target the base table)"
            )
        colmap = None
        if sel != "*":
            colmap = {}
            for item in st.split_top_level(sel, ","):
                im = re.fullmatch(
                    r"\s*(`[^`]+`|\w+)(?:\s+AS\s+(`[^`]+`|\w+))?\s*",
                    item, re.I | re.S,
                )
                if im is None:
                    raise ValueError(
                        f"view {name} is not updatable: derived "
                        f"column {item.strip()[:40]!r}"
                    )
                b = st.unquote_ident(im.group(1))
                a = st.unquote_ident(im.group(2)) if im.group(2) else b
                colmap[a.lower()] = b
        return base, where, colmap

    def _retarget_view_dml(self, s, dialect: str = "mysql"):
        """Rewrite single-table DML aimed at an updatable view onto
        its base table: the view's WHERE narrows UPDATE/DELETE (MySQL
        semantics without CHECK OPTION — INSERT passes through), and
        view column aliases map back to base columns."""
        name = getattr(s, "table", None)
        if not name or getattr(s, "from_text", None):
            return s
        rv = self._resolve_updatable_view(name)
        if rv is None:
            return s
        base, vwhere, colmap = rv
        check = vwhere is not None and os.path.exists(os.path.join(
            self.catalog.root, "__views__", f"{name}.check"))

        def _col(c: str) -> str:
            if colmap is None:
                return c
            b = colmap.get(st.unquote_ident(c).lower())
            if b is None:
                raise ValueError(
                    f"column {c!r} is not part of view {name}"
                )
            return b

        if isinstance(s, st.Insert):
            cols = s.columns
            if colmap is not None:
                cols = (list(colmap.values()) if cols is None
                        else [_col(c) for c in cols])
            on_dup = {
                _col(k): self._map_view_cols(v, colmap)
                for k, v in (s.on_dup or {}).items()
            }
            if check:
                # WITH CHECK OPTION: every incoming row must be
                # visible in the view. The source (VALUES list or
                # SELECT) is evaluated ONCE against the view predicate
                # before any write (MySQL error 1369 on violation).
                # Columns the INSERT omits are folded in as their
                # declared DEFAULT (NULL when none) and generated
                # columns as their expressions — MySQL evaluates the
                # check against the full post-default row image.
                base_schema = self.catalog.table(base).read().schema
                bmeta = self.table_meta(base)
                ck_cols = cols or [f.name for f in base_schema.fields]
                provided = {
                    st.unquote_ident(c).lower() for c in ck_cols
                }
                fill, gen = [], []
                for f_ in base_schema.fields:
                    if f_.name.lower() in provided:
                        continue
                    if f_.name in bmeta.generated:
                        gen.append(
                            f"({bmeta.generated[f_.name]}) "
                            f"AS `{f_.name}`"
                        )
                        continue
                    if (f_.name == bmeta.auto_increment
                            and re.search(
                                rf"\b{re.escape(f_.name)}\b",
                                vwhere, re.I)):
                        # the auto id is assigned during the write;
                        # its value is unknowable at check time
                        raise NotImplementedError(
                            f"WITH CHECK OPTION on view {name}: the "
                            "view predicate references the "
                            "AUTO_INCREMENT column the INSERT does "
                            "not provide"
                        )
                    dt = f_.dataType.simpleString()
                    fill.append(
                        f"CAST({self._render_literal(bmeta.defaults.get(f_.name))} "
                        f"AS {dt}) AS `{f_.name}`"
                    )
                src = s.query if s.query else "VALUES " + ", ".join(
                    "(" + ", ".join(
                        self._render_literal(v) for v in row
                    ) + ")"
                    for row in (s.rows or [])
                )
                img = (
                    f"SELECT *{''.join(', ' + x for x in fill)} "
                    f"FROM ({src}) AS "
                    f"__ck({', '.join(f'`{c}`' for c in ck_cols)})"
                )
                if gen:
                    img = (
                        f"SELECT *{''.join(', ' + x for x in gen)} "
                        f"FROM ({img})"
                    )
                try:
                    hit = self.sql(
                        f"SELECT 1 FROM ({img}) "
                        f"WHERE NOT coalesce(({vwhere}), false) LIMIT 1",
                        dialect=dialect,
                    ).collect()
                except AnalysisException as e:
                    raise NotImplementedError(
                        f"WITH CHECK OPTION on view {name}: could "
                        "not evaluate the view predicate over the "
                        "insert's post-default row image"
                    ) from e
                if hit:
                    raise ValueError(
                        f"CHECK OPTION failed '{name}' (an inserted "
                        "row falls outside the view)"
                    )
            return dataclasses.replace(
                s, table=base, columns=cols, on_dup=on_dup
            )
        w = self._map_view_cols(s.where, colmap)
        combined = (f"({vwhere}) AND ({w})" if vwhere and w
                    else (vwhere or w))
        order_by = self._map_view_cols(s.order_by, colmap)
        if isinstance(s, st.Delete):
            return dataclasses.replace(
                s, table=base, where=combined, order_by=order_by
            )
        assignments = {
            _col(k): self._map_view_cols(v, colmap)
            for k, v in s.assignments.items()
        }
        if check:
            # WITH CHECK OPTION: the POST-image of every affected row
            # must still satisfy the view predicate — fold each
            # assignment into the predicate and ANY-scan before any
            # write (MySQL error 1369).
            post = vwhere
            for c, ex in assignments.items():
                post = st.sub_outside_strings(
                    rf"(?<![\w`.])`?{re.escape(c)}`?(?![\w`])",
                    f"({ex})", post, flags=re.I,
                )
            hit = self.sql(
                f"SELECT 1 FROM `{base}` "
                f"WHERE coalesce(({combined}), false) "
                f"AND NOT coalesce(({post}), false) LIMIT 1",
                dialect=dialect,
            ).collect()
            if hit:
                raise ValueError(
                    f"CHECK OPTION failed '{name}' (an updated row "
                    "would leave the view)"
                )
        return dataclasses.replace(
            s, table=base, where=combined, order_by=order_by,
            assignments=assignments,
        )

    @staticmethod
    def _map_view_cols(expr: str | None, colmap: dict | None
                       ) -> str | None:
        """Rewrite view-column references to base-column names."""
        if expr is None or colmap is None:
            return expr
        for alias, base_col in colmap.items():
            if alias.lower() == base_col.lower():
                continue
            expr = st.sub_outside_strings(
                rf"(?<![\w`.])`?{re.escape(alias)}`?(?![\w`])",
                f"`{base_col}`", expr, flags=re.I,
            )
        return expr

    def _view_names(self) -> list[str]:
        vdir = os.path.join(self.catalog.root, "__views__")
        if not os.path.isdir(vdir):
            return []
        return sorted(f[:-4] for f in os.listdir(vdir) if f.endswith(".sql"))

    # ----------------------------------------------------------------- DDL
    def create_table(
        self,
        name: str,
        schema: StructType | list[tuple[str, str]] | dict[str, str],
        rows: list | None = None,
        partition_by: list[str] | None = None,
    ) -> ParquetTable:
        if not isinstance(schema, StructType):
            schema = schema_from_mysql(schema)
        df = local_frame(self.spark, rows or [], schema)
        return self.catalog.create_table(name, df, partition_by=partition_by)

    def drop_table(self, name: str) -> None:
        self._ddl_changed()
        if getattr(self, "_txn_snapshot", None) is not None:
            # Inside an open transaction DROP is deferred-destructive:
            # the table directory moves to txn trash so ROLLBACK can
            # restore it wholesale (data versions, pointer, meta). The
            # reference bridges the same contract through DuckDB's txn
            # (backend/session.go:87-143).
            import shutil
            import uuid

            src = os.path.join(self.catalog.root, name)
            if os.path.isdir(src):
                trash_root = os.path.join(self.catalog.root, ".txn_trash")
                os.makedirs(trash_root, exist_ok=True)
                dst = os.path.join(trash_root, f"{name}.{uuid.uuid4().hex[:8]}")
                shutil.move(src, dst)
                self._txn_trash.append((name, dst))
        else:
            self.catalog.drop_table(name)
        self.spark.catalog.dropTempView(name)
        # forget the registration too: a later RESTORE can bring the
        # table back at the SAME version number, and a stale cache
        # entry would make _refresh_views skip re-registering it
        getattr(self, "_registered_versions", {}).pop(name, None)

    # ---------------------------------------------------- ALTER TABLE family
    # (reference: catalog/table.go:222+ add/rename/modify/drop column,
    #  exercised by TestAlterTable main_test.go:2116)
    def alter_add_column(
        self, name: str, col: str, mysql_type: str, default=None,
        position: str | None = None,
    ) -> None:
        """ALTER TABLE ADD COLUMN, honoring FIRST / AFTER <col>
        ordering (MySQL semantics; the reference drops the position,
        catalog/table.go:227 — we keep it since SELECT * order is
        user-visible). position: None=append, ""=FIRST, name=AFTER."""
        from myduckserver_spark.types import mysql_to_spark

        dtype, _meta = mysql_to_spark(mysql_type)
        t = self.catalog.table(name)
        df = t.read().withColumn(col, F.lit(default).cast(dtype))
        if position is not None:
            others = [c for c in df.columns if c != col]
            if position == "":
                order = [col] + others
            else:
                if position not in others:
                    raise ValueError(f"AFTER column not found: {position}")
                i = others.index(position) + 1
                order = others[:i] + [col] + others[i:]
            df = df.select(*order)
        t.overwrite(df)

    def alter_drop_column(self, name: str, col: str) -> None:
        self._ddl_changed()
        t = self.catalog.table(name)
        df = t.read()
        if col not in df.columns:
            # Spark's df.drop silently ignores unknown columns;
            # MySQL raises 1091
            raise ValueError(
                f"Can't DROP '{col}'; check that column/key exists"
            )
        t.overwrite(df.drop(col))

    def alter_rename_column(self, name: str, old: str, new: str) -> None:
        self._ddl_changed()
        t = self.catalog.table(name)
        df = t.read()
        if old not in df.columns:
            # withColumnRenamed silently no-ops; MySQL raises 1054
            raise ValueError(
                f"Unknown column '{old}' in '{name}'"
            )
        t.overwrite(df.withColumnRenamed(old, new))
        # metadata travels with the rename: keys (defaults/generated/
        # on_update), column lists (pk/not_null/indexes/partitioning/
        # FKs) and identifier references inside check/generated
        # expressions — leaving any keyed by the old name breaks every
        # later default-fill/constraint on the renamed column
        meta = self.table_meta(name)

        def rn(c):
            return new if c == old else c

        def rexpr(e):
            if not isinstance(e, str):
                return e
            return re.sub(
                rf"(?<![\w.`']){re.escape(old)}(?![\w`'])", new, e,
                flags=re.I,
            )

        meta.primary_key = [rn(c) for c in meta.primary_key]
        if meta.auto_increment == old:
            meta.auto_increment = new
        meta.defaults = {rn(k): v for k, v in meta.defaults.items()}
        meta.not_null = [rn(c) for c in meta.not_null]
        meta.checks = {k: rexpr(v) for k, v in meta.checks.items()}
        meta.generated = {rn(k): rexpr(v)
                          for k, v in meta.generated.items()}
        meta.on_update = {rn(k): rexpr(v)
                          for k, v in meta.on_update.items()}
        for iname, props in (meta.indexes or {}).items():
            if isinstance(props, (list, tuple)):
                meta.indexes[iname] = [rn(c) for c in props]
            elif isinstance(props, dict) and "columns" in props:
                props["columns"] = [rn(c) for c in props["columns"]]
        meta.partition_by = [rn(c) for c in meta.partition_by]
        for fk in meta.foreign_keys or []:
            if "columns" in fk:
                fk["columns"] = [rn(c) for c in fk["columns"]]
        self._save_meta(name, meta)

    def alter_modify_column(self, name: str, col: str, mysql_type: str) -> None:
        """MODIFY COLUMN: cast the column to the new type."""
        from myduckserver_spark.types import mysql_to_spark

        dtype, _meta = mysql_to_spark(mysql_type)
        t = self.catalog.table(name)
        t.overwrite(t.read().withColumn(col, F.col(col).cast(dtype)))

    def rename_table(self, old: str, new: str) -> None:
        import os

        self._ddl_changed()

        os.rename(
            os.path.join(self.catalog.root, old),
            os.path.join(self.catalog.root, new),
        )
        if getattr(self, "_txn_snapshot", None) is not None:
            self._txn_renames.append((old, new))
        self.spark.catalog.dropTempView(old)
        # forget both registrations: `new` may previously have been a
        # dropped table at the same version; `old` is gone
        reg = getattr(self, "_registered_versions", {})
        reg.pop(old, None)
        reg.pop(new, None)

    def ctas(
        self,
        name: str,
        query: str,
        dialect: str = "spark",
        partition_by: list[str] | None = None,
    ) -> ParquetTable:
        """CREATE TABLE AS SELECT (reference: TableCopier,
        backend/executor.go:151-159); optional hive partitioning."""
        return self.catalog.create_table(
            name, self.sql(query, dialect), partition_by=partition_by
        )

    # ----------------------------------------------------------------- DML
    def insert(self, name: str, df: DataFrame) -> None:
        t = self.catalog.table(name)
        base = t.read()
        # array-typed columns: VALUES literals type as
        # array<decimal>/array<double> — cast to the declared element
        # type (scalar coercions stay with unionByName's own rules so
        # real type errors keep failing loudly)
        from pyspark.sql.types import ArrayType

        tgt = {f.name: f.dataType for f in base.schema.fields}
        casts = [
            f.name for f in df.schema.fields
            if isinstance(tgt.get(f.name), ArrayType)
            and f.dataType != tgt[f.name]
        ]
        if casts:
            df = df.select(*[
                (F.col(f.name).cast(tgt[f.name]).alias(f.name)
                 if f.name in casts else F.col(f.name))
                for f in df.schema.fields
            ])
        t.overwrite(base.unionByName(df))

    def insert_with_defaults(
        self, name: str, df: DataFrame, defaults: dict[str, object] | None = None
    ) -> None:
        """INSERT with missing columns filled from declared defaults
        (reference: column defaults parsed/normalized at
        catalog/type_mapping.go:334-352; TestColumnDefaults :1977)."""
        t = self.catalog.table(name)
        base = t.read()
        defaults = defaults or {}
        out = df
        for field in base.schema.fields:
            if field.name not in out.columns:
                out = out.withColumn(
                    field.name,
                    F.lit(defaults.get(field.name)).cast(field.dataType),
                )
        t.overwrite(base.unionByName(out.select(*base.columns)))

    def insert_auto_increment(
        self, name: str, df: DataFrame, id_col: str
    ) -> DataFrame:
        """AUTO_INCREMENT parity (reference implements it as a DuckDB
        SEQUENCE + nextval default, catalog/database.go:159-210): new
        rows get ids starting after the current max. Uses a window
        rank, not monotonically_increasing_id, so ids are dense like
        MySQL's counter. Dense numbering is global-total-order ranking,
        so it routes through operators/globalrank.py (range partition +
        prefix-count correction) — an unpartitioned row_number window
        would serialize a 10⁹-row INSERT…SELECT into one task."""
        t = self.catalog.table(name)
        base = t.read()
        start = self._ai_start(name, base, id_col)
        id_type = dict(base.dtypes)[id_col]
        numbered = self._assign_dense_ids(df, id_col, start, id_type)
        t.overwrite(base.unionByName(numbered.select(*base.columns)))
        # returned so AFTER INSERT triggers see the assigned ids in
        # NEW.<auto_col> (MySQL exposes the assigned id in NEW); the
        # plan depends only on df+start, so re-evaluation after the
        # overwrite reproduces the same dense ids
        return numbered.select(*base.columns)

    def _ai_start(self, name: str, base: DataFrame, id_col: str) -> int:
        """Next AUTO_INCREMENT id: max(col)+1, floored by a declared
        AUTO_INCREMENT=n table option / ALTER (MySQL's counter can sit
        above the data after deletes or an explicit reset)."""
        cur = (base.agg(F.max(id_col)).collect()[0][0] or 0) + 1
        try:
            floor = int(
                self.table_meta(name).stats.get("auto_increment_base", 1)
            )
        except Exception:
            floor = 1
        return max(cur, floor)

    @staticmethod
    def _assign_dense_ids(df: DataFrame, id_col: str, start: int, id_type):
        """Assign dense sequential ids start, start+1, … to `df` rows
        (arbitrary but deterministic-per-plan order) without an
        unpartitioned window — partition-parallel via globalrank."""
        from pyspark.sql import Window as W

        from myduckserver_spark.operators.globalrank import (
            ROW_NUMBER,
            with_global_order,
        )

        order_cols = [c for c in df.columns if c != id_col]
        if not order_cols:
            # degenerate single-column insert: bounded tiny input
            return df.withColumn(
                id_col,
                (F.row_number().over(W.orderBy(F.lit(1))) + start - 1).cast(
                    id_type
                ),
            )
        g = with_global_order(df, *[F.asc(c) for c in order_cols])
        out_cols = (
            df.columns if id_col in df.columns else df.columns + [id_col]
        )
        return g.withColumn(
            id_col, (F.col(ROW_NUMBER) + start - 1).cast(id_type)
        ).select(*out_cols)

    def insert_checked(
        self, name: str, df: DataFrame, checks: dict[str, Column]
    ) -> None:
        """INSERT with CHECK constraints enforced engine-side (the
        reference enforces checks in the GMS layer, not DuckDB —
        backend/executor.go:110-116). Raises on the first violation."""
        for cname, cond in checks.items():
            bad = df.filter(~cond | cond.isNull()).limit(1).collect()
            if bad:
                raise ValueError(
                    f"CHECK constraint '{cname}' violated by row: {bad[0]}"
                )
        self.insert(name, df)

    @staticmethod
    def _all_keys(
        pk_cols: list[str], unique_keys=()
    ) -> list[tuple[list[str], bool]]:
        """(columns, null_exempt) per enforced key: the PK (NULL-free
        by construction) plus each UNIQUE index (MySQL: NULL key parts
        are distinct, so any-NULL rows never conflict)."""
        keys = [(list(pk_cols), False)] if pk_cols else []
        for _name, ucols in unique_keys or ():
            keys.append((list(ucols), True))
        return keys

    @staticmethod
    def _nonnull(cols: list[str]):
        """Rows with no NULL key part — the rows a null-exempt UNIQUE
        level enforces. Not `na.drop`: that also drops NaN, which is an
        ordinary key value (NaN = NaN)."""
        from functools import reduce as _reduce

        return _reduce(
            lambda a, b: a & b, (F.col(c).isNotNull() for c in cols)
        )

    def _replace_survivors(
        self, df: DataFrame, keys: list[tuple[list[str], bool]]
    ) -> DataFrame:
        """MySQL REPLACE processes a batch row-at-a-time: a row
        survives iff NO LATER row conflicts with it on ANY enforced
        key (a later conflicting row deletes it, whether or not that
        row itself survives — so per-key checks against the ORIGINAL
        batch compose exactly). Batch position comes from
        monotonically_increasing_id(), globally ordered by
        (partition, offset) — input order for a VALUES local relation
        or a single-file scan."""
        from pyspark.sql.window import Window

        ordered = df.withColumn("__ord", F.monotonically_increasing_id())
        keep = F.lit(True)
        for cols, null_exempt in keys:
            later = F.max("__ord").over(
                Window.partitionBy(*cols)) > F.col("__ord")
            if null_exempt:
                later = later & self._nonnull(cols)
            keep = keep & ~later
        return (
            ordered.withColumn("__keep", keep)
            .where(F.col("__keep")).drop("__ord", "__keep")
        )

    def insert_replace(self, name: str, df: DataFrame, pk_cols: list[str],
                       unique_keys=()) -> None:
        """INSERT OR REPLACE (MySQL REPLACE INTO): a new row deletes
        EVERY stored row it conflicts with on the PK or any UNIQUE
        index, and within one batch the LAST conflicting occurrence
        wins — MySQL replaces row-by-row (reference loaddata.go:131-137
        → MERGE WHEN MATCHED UPDATE; unique-index semantics from the
        GMS TestReplaceInto corpus)."""
        t = self.catalog.table(name)
        base = t.read()
        keys = self._all_keys(pk_cols, unique_keys)
        # stored-row deletion is a pure set condition over the ORIGINAL
        # batch: row B (present at statement start) is deleted iff ANY
        # batch row shares an enforced key with it — even a batch row
        # that a LATER batch row then replaces (MySQL processes
        # row-at-a-time; base rows deleted mid-batch stay deleted).
        # Probing with post-survivor keys would resurrect such rows.
        orig = df
        df = self._replace_survivors(df, keys)
        kept = base
        for cols, null_exempt in keys:
            probe = orig.select(*cols)
            if null_exempt:
                probe = probe.where(self._nonnull(cols))
                # NULL-keyed stored rows can't conflict; a plain join
                # already never matches them
            kept = kept.join(probe.distinct(), cols, "left_anti")
        # list-form joins surface the join columns first; restore the
        # table's column order before the write
        t.overwrite(
            kept.select(*base.columns).unionByName(
                df.select(*base.columns))
        )

    def insert_ignore(self, name: str, df: DataFrame, pk_cols: list[str],
                      unique_keys=()) -> None:
        """INSERT IGNORE: a row is skipped when it conflicts with a
        stored row OR a previously-INSERTED batch row on the PK or any
        UNIQUE index (reference loaddata.go:138-143 → MERGE WHEN NOT
        MATCHED INSERT). Without intra-batch duplicates each row is
        independent and the whole statement stays set-based; WITH
        them, whether a row inserts depends on whether its blocker
        itself inserted — an inherently sequential chain, resolved
        driver-side over the key columns only (bounded like cursors;
        batch data never leaves the cluster)."""
        t = self.catalog.table(name)
        base = t.read()
        keys = self._all_keys(pk_cols, unique_keys)
        ordered = df.withColumn("__ord", F.monotonically_increasing_id())

        intra = False
        for cols, null_exempt in keys:
            grp = ordered
            if null_exempt:
                grp = grp.where(self._nonnull(cols))
            mx = (
                grp.groupBy(*cols).agg(F.count(F.lit(1)).alias("__c"))
                .agg(F.max("__c").alias("__m")).collect()[0]["__m"]
            )
            if (mx or 0) > 1:
                intra = True
                break

        if not intra:
            fresh = df
            for cols, null_exempt in keys:
                basek = base.select(*cols).distinct()
                if null_exempt:
                    # any-NULL incoming rows are exempt from this key:
                    # anti-join with a null-rejecting condition keeps
                    # them (standard join never matches NULLs anyway)
                    basek = basek.where(self._nonnull(cols))
                fresh = fresh.join(basek, cols, "left_anti")
            t.overwrite(base.unionByName(fresh.select(*base.columns)))
            return

        # sequential chains: resolve survival greedily over (position,
        # key columns, conflicts-with-base flags) on the driver
        key_cols = sorted({c for cols, _ in keys for c in cols})
        probe = ordered.select("__ord", *key_cols)
        flag = F.lit(False)
        for i, (cols, null_exempt) in enumerate(keys):
            basek = base.select(*cols).distinct()
            if null_exempt:
                basek = basek.where(self._nonnull(cols))
            hit = (
                probe.join(basek, cols, "left_semi")
                .select("__ord").withColumn("__hit", F.lit(True))
            )
            probe = probe.join(hit, "__ord", "left").withColumn(
                f"__b{i}", F.coalesce("__hit", F.lit(False))
            ).drop("__hit")
            flag = flag | F.col(f"__b{i}")
        # cap BEFORE materializing: limit(cap+1) bounds the driver
        # transfer; hitting cap+1 rows means the statement is over
        # the cap and nothing beyond that ever reaches the driver
        rows = probe.withColumn("__base_conf", flag).select(
            "__ord", *key_cols, "__base_conf"
        ).limit(self._CHAIN_WALK_CAP + 1).collect()
        if len(rows) > self._CHAIN_WALK_CAP:
            raise NotImplementedError(
                "INSERT IGNORE with intra-batch duplicate keys over "
                f">{self._CHAIN_WALK_CAP} rows: split the batch "
                "(sequential skip chains resolve driver-side)"
            )
        survivors = []
        seen: list[set] = [set() for _ in keys]
        for r in sorted(rows, key=lambda r: r["__ord"]):
            if r["__base_conf"]:
                continue
            kvals = []
            ok = True
            for i, (cols, null_exempt) in enumerate(keys):
                kv = tuple(r[c] for c in cols)
                if null_exempt and any(v is None for v in kv):
                    kvals.append(None)
                    continue
                if kv in seen[i]:
                    ok = False
                    break
                kvals.append(kv)
            if not ok:
                continue
            for i, kv in enumerate(kvals):
                if kv is not None:
                    seen[i].add(kv)
            survivors.append(r["__ord"])
        fresh = ordered.where(
            F.col("__ord").isin(survivors) if survivors else F.lit(False)
        ).drop("__ord")
        t.overwrite(base.unionByName(fresh.select(*base.columns)))

    def _pruned_scan_from_condition(self, t, base: DataFrame, condition):
        """(touched_files_df, carry_files) for a file-pruned DML
        rewrite, or None when pruning can't help. Exact pruning: the
        files that actually produced matching rows (input_file_name()
        over the filtered scan — the WHERE pushes down, so a
        partition/minmax-prunable predicate only ever opens the
        candidate files) are re-read; every other file is carried into
        the next snapshot by link (catalog.overwrite_pruned). The
        collect is bounded by the snapshot's file count."""
        import urllib.parse

        all_files = t.data_files()
        if len(all_files) <= 1:
            return None
        base_dir = t.snapshot_dir()
        rows = (
            base.filter(condition)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .limit(self._PRUNE_MAX_TOUCHED_FILES + 1)
            .collect()
        )
        if len(rows) > self._PRUNE_MAX_TOUCHED_FILES:
            return None
        touched: set[str] = set()
        for r in rows:
            p = urllib.parse.unquote(urllib.parse.urlparse(r.f).path)
            if not p.startswith(base_dir + os.sep):
                return None
            touched.add(os.path.relpath(p, base_dir))
        if len(touched) >= len(all_files):
            return None
        carry = [f for f in all_files if f not in touched]
        if touched:
            df = (
                self.spark.read.option("basePath", base_dir)
                .parquet(*[os.path.join(base_dir, f) for f in sorted(touched)])
                .select(*base.columns)
            )
        else:
            df = base.limit(0)
        return df, carry

    @staticmethod
    def _unique_key_list(meta, cols_available=None):
        """(index_name, columns) per UNIQUE index in table metadata,
        restricted to indexes whose columns exist in cols_available
        (an index over a generated AUTO_INCREMENT column can't be
        probed before id assignment)."""
        out = []
        for iname, props in (meta.indexes or {}).items():
            if isinstance(props, dict) and props.get("unique"):
                icols = list(props["columns"])
                if cols_available is None or set(icols) <= set(
                        cols_available):
                    out.append((iname, icols))
        return out

    def _probe_batch_conflicts(self, t, table: str, df: DataFrame,
                               iname: str, icols: list[str],
                               null_exempt: bool) -> None:
        """MySQL ER_DUP_ENTRY for plain inserts: the batch must not
        repeat a key internally nor collide with a stored one; either
        aborts atomically, writing nothing (the reference inherits
        this from DuckDB's ART indexes). The stored-key probe streams
        the base with the incoming keys on the build side
        (broadcast-sized for VALUES batches, AQE-chosen for
        INSERT…SELECT). UNIQUE treats NULLs as distinct (MySQL):
        any-NULL keys are exempt."""
        cand = df.select(*icols)
        if null_exempt:
            cand = cand.where(self._nonnull(icols))
        bad = (
            cand.groupBy(*icols).agg(F.count(F.lit(1)).alias("__c"))
            .where(F.col("__c") > 1).limit(1).collect()
        )
        if not bad:
            basek = t.read().select(*icols)
            if null_exempt:
                basek = basek.where(self._nonnull(icols))
            bad = basek.join(cand, icols, "left_semi").limit(1).collect()
        if bad:
            key = "-".join(
                "NULL" if bad[0][c] is None else str(bad[0][c])
                for c in icols
            )
            raise DuplicateKeyError(key, f"{table}.{iname}")

    @staticmethod
    def _unique_targets(meta, assigned: set | None = None):
        """(index_name, columns, null_exempt) triples whose uniqueness
        a write assigning `assigned` columns could break (all targets
        when assigned is None). UNIQUE indexes are null-exempt: MySQL
        treats NULL key parts as distinct; the PRIMARY KEY is not."""
        out = []
        pk = list(meta.primary_key or ())
        if pk and (assigned is None or set(pk) & assigned):
            out.append(("PRIMARY", pk, False))
        for iname, props in (meta.indexes or {}).items():
            if isinstance(props, dict) and props.get("unique"):
                icols = list(props["columns"])
                if assigned is None or set(icols) & assigned:
                    out.append((iname, icols, True))
        return out

    def _validate_unique(self, table: str, iname: str, cols) -> None:
        """A UNIQUE key added to a table with rows validates them
        first, like MySQL and pg (ER_DUP_ENTRY); conflict resolution
        relies on stored rows being unique on every declared key."""
        self._enforce_unique_post(
            self.catalog.table(table).read(), [(iname, list(cols), True)],
            table)

    def _enforce_unique_post(self, post: DataFrame, targets,
                             table: str) -> None:
        """ER_DUP_ENTRY guard for UPDATEs that assign a key column:
        the whole post-image must stay unique on each affected key
        before any file is swapped (statement-level atomicity, like
        MySQL / the reference's DuckDB ART indexes). One aggregation
        job per affected key, paid only when one is assigned."""
        for iname, icols, null_exempt in targets:
            cand = post.select(*icols)
            if null_exempt:
                cand = cand.where(self._nonnull(icols))
            bad = (
                cand.groupBy(*icols).agg(F.count(F.lit(1)).alias("__c"))
                .where(F.col("__c") > 1).limit(1).collect()
            )
            if bad:
                key = "-".join(
                    "NULL" if bad[0][c] is None else str(bad[0][c])
                    for c in icols
                )
                raise DuplicateKeyError(key, f"{table}.{iname}")

    def update(self, name: str, condition: Column, assignments: dict[str, Column]) -> int:
        """UPDATE t SET col=expr WHERE cond, as a snapshot rewrite.
        CHECK/NOT NULL constraints are enforced on the post-update
        snapshot — MySQL rejects constraint-violating UPDATEs exactly
        like INSERTs (same GMS-layer rule the insert path applies).

        A predicate that touches a subset of the snapshot's files
        rewrites ONLY those files; the rest carry over by link
        (file-pruned rewrite — at 100 TB a 10-row UPDATE must not
        rewrite every partition). Falls back to the full rewrite when
        the condition/assignment Columns are bound to another plan, an
        assignment rewrites a hive-partition column (rows could move
        between partition dirs), or every file is touched."""
        t = self.catalog.table(name)
        base = t.read()
        n = base.filter(condition).count()

        def transform(df: DataFrame) -> DataFrame:
            return df.withColumns(
                {
                    col: F.when(condition, expr).otherwise(F.col(col))
                    for col, expr in assignments.items()
                }
            )

        meta = self.table_meta(name)
        key_targets = self._unique_targets(meta, set(assignments))
        parts = set(t._read_pointer().get("partition_by") or ())
        # a key assignment forces the full rewrite: uniqueness is a
        # GLOBAL property, so the post-image check must see every row
        if not (set(assignments) & parts) and not key_targets:
            try:
                pruned = self._pruned_scan_from_condition(t, base, condition)
                if pruned is not None:
                    touched_df, carry = pruned
                    updated = transform(touched_df)
                    self._enforce_checks(
                        updated, self.table_meta(name), "UPDATE"
                    )
                    t.overwrite_pruned(updated, carry)
                    return n
            except AnalysisException:
                pass  # plan-bound Columns: full rewrite below
        updated = transform(base)
        self._enforce_checks(updated, meta, "UPDATE")
        if key_targets:
            self._enforce_unique_post(updated, key_targets, name)
        t.overwrite(updated)
        return n

    def _enforce_checks(
        self, df: DataFrame, meta: "st.TableMeta", context: str
    ) -> None:
        """Raise on the first CHECK / NOT NULL violation in `df` (the
        candidate post-DML snapshot). Each probe is a LIMIT-1 filtered
        scan, the same cost class as the insert path's validation."""
        checks = {c: self._fragment(e) for c, e in meta.checks.items()}
        for col in meta.not_null:
            if col != meta.auto_increment and col in df.columns:
                checks.setdefault(f"{col}_not_null", F.col(col).isNotNull())
        # ENUM membership (strict mode: MySQL 1265 / pg "invalid input
        # value for enum") — declared values ride in field metadata
        for f in df.schema.fields:
            vals = (f.metadata or {}).get("enum_values")
            if vals:
                checks.setdefault(
                    f"{f.name}_enum_value",
                    F.col(f.name).isNull() | F.col(f.name).isin(*vals),
                )
        if not checks:
            return
        # ONE violation-flags job for every constraint (was one
        # LIMIT-1 scan per constraint); the bad-row fetch runs only on
        # the error path.
        names = list(checks)
        flags = df.agg(*[
            F.max((~checks[cn] | checks[cn].isNull()).cast("int"))
            .alias(f"__v{i}")
            for i, cn in enumerate(names)
        ]).collect()[0]
        for i, cname in enumerate(names):
            if (flags[i] or 0) > 0:
                cond = checks[cname]
                bad = df.filter(~cond | cond.isNull()).limit(1).collect()
                raise ValueError(
                    f"CHECK/NOT NULL constraint '{cname}' violated by "
                    f"{context}: {bad[0]}"
                )

    def delete(self, name: str, condition: Column) -> int:
        t = self.catalog.table(name)
        base = t.read()
        n = base.filter(condition).count()
        try:
            pruned = self._pruned_scan_from_condition(t, base, condition)
            if pruned is not None:
                touched_df, carry = pruned
                t.overwrite_pruned(
                    touched_df.filter(~condition | condition.isNull()),
                    carry,
                )
                return n
        except AnalysisException:
            pass  # plan-bound condition Column: full rewrite below
        t.overwrite(base.filter(~condition | condition.isNull()))
        return n

    def truncate(self, name: str) -> None:
        t = self.catalog.table(name)
        t.overwrite(t.read().limit(0))

    # ----------------------------------------- DML via full SQL planning
    # UPDATE/DELETE whose WHERE or SET contains subqueries, and the
    # multi-table JOIN forms, are re-planned as SELECTs over the temp
    # views (Catalyst decorrelates IN/EXISTS/scalar subqueries) and the
    # result snapshot-overwrites the table — same dispatch the reference
    # gets by shipping the statement text to DuckDB
    # (backend/executor.go:162-165, TestUpdate/TestDeleteFrom
    # main_test.go:948/:989).

    def _recompute_generated(self, name: str, meta: st.TableMeta) -> None:
        if not meta.generated:
            return
        t = self.catalog.table(name)
        base = t.read()
        t.overwrite(
            base.withColumns(
                {
                    col: self._fragment(e).cast(base.schema[col].dataType)
                    for col, e in meta.generated.items()
                }
            )
        )

    # ----------------------------------------------------------- triggers
    # MySQL triggers, executed SET-BASED: FOR EACH ROW bodies become one
    # vectorized pass over the affected row set (the Spark realization —
    # a row-at-a-time loop would serialize a 10⁹-row insert). The
    # reference serves triggers through its GMS layer (main_test.go:1053
    # exercises them on the MySQL surface); here they run against the
    # snapshot engine directly. Supported shapes (validated at CREATE,
    # honest rejection otherwise):
    #   BEFORE INSERT ... SET NEW.c = expr [, NEW.c2 = expr]
    #   AFTER INSERT/UPDATE/DELETE ... with statements that either
    #     (a) reference NEW.x / OLD.x — must be INSERT ... VALUES
    #         (rewritten to INSERT ... SELECT over the affected-rows
    #         view: per-row semantics, evaluated set-based), or
    #     (b) reference neither — executed once per statement (batch
    #         divergence from MySQL's once-per-row, documented).

    def _triggers_path(self) -> str:
        return os.path.join(self._warehouse, "__triggers.json")

    def _load_triggers(self) -> dict:
        cached = getattr(self, "_trigger_cache", None)
        if cached is not None:
            return cached
        p = self._triggers_path()
        if os.path.exists(p):
            with open(p) as f:
                self._trigger_cache = json.load(f)
        else:
            self._trigger_cache = {}
        return self._trigger_cache

    def _save_triggers(self, m: dict) -> None:
        os.makedirs(self._warehouse, exist_ok=True)
        with open(self._triggers_path(), "w") as f:
            json.dump(m, f)
        self._trigger_cache = m

    @staticmethod
    def _split_set_new(body: str, keep_refs: bool = False) -> dict:
        """``SET NEW.a = e1, NEW.b = e2`` → {a: e1}. With the default
        ``keep_refs=False`` the NEW. qualifiers inside expressions are
        stripped (insert path: NEW.x IS the incoming column); the
        update path keeps them for post-image resolution."""
        m = re.match(r"SET\s+(.*)$", body.strip().rstrip(";"),
                     re.I | re.S)
        if not m:
            return {}
        out = {}
        for part in st.split_top_level(m.group(1), ","):
            am = re.match(r"\s*NEW\.(`[^`]+`|\w+)\s*=\s*(.+)$", part,
                          re.I | re.S)
            if not am:
                return {}
            expr = am.group(2) if keep_refs else re.sub(
                r"(?i)\bNEW\.(`[^`]+`|\w+)", r"\1", am.group(2)
            )
            out[st.unquote_ident(am.group(1))] = expr.strip()
        return out

    def _split_trigger_ops(self, body: str,
                           allow_stmts: bool = False) -> list | None:
        """Parse a BEFORE-trigger body into ordered ops:
        ('set', raw_set_stmt) | ('guard', cond_or_None, sqlstate, msg)
        | ('stmt', raw_sql) — the last only with allow_stmts (side
        statements like audit INSERTs, executed set-based over the
        affected-row image like AFTER bodies).

        Guards are MySQL's standard validation pattern — IF cond THEN
        SIGNAL SQLSTATE ... END IF (reference corpus main_test.go:1053)
        — realized set-based: ONE vectorized ANY over the affected row
        set instead of a per-row branch. Returns None when a statement
        fits no accepted shape."""
        parts = st.split_statements(body)
        ops: list = []
        i = 0
        while i < len(parts):
            p = parts[i].strip()
            m = self._SIGNAL_RE.match(p)
            if m:
                msg = self._signal_message(m.group(2))
                ops.append(("guard", None, m.group(1), msg))
                i += 1
                continue
            im = re.fullmatch(r"IF\s+(.+?)\s+THEN\s+(SIGNAL\s.+)",
                              p, re.I | re.S)
            if (
                im
                and i + 1 < len(parts)
                and re.fullmatch(r"END\s+IF", parts[i + 1].strip(), re.I)
            ):
                sm = self._SIGNAL_RE.match(im.group(2))
                if not sm:
                    return None
                msg = self._signal_message(sm.group(2))
                ops.append(("guard", im.group(1), sm.group(1), msg))
                i += 2
                continue
            if self._split_set_new(p):
                ops.append(("set", p))
                i += 1
                continue
            if allow_stmts:
                ops.append(("stmt", p))
                i += 1
                continue
            return None
        return ops

    @staticmethod
    def _validate_trigger_side_stmt(stmt: str, event: str,
                                    table: str | None = None) -> None:
        """Side statements (non-SET/guard) in a trigger body must be
        NEW/OLD-free DML, or INSERT ... VALUES referencing the row
        images (rewritten set-based over the affected-row view); and
        may not touch the trigger's own table (MySQL ER_CANT_UPDATE
        _USED_TABLE_IN_SF_OR_TRG)."""
        if re.match(
            r"(?i)\s*(?:CREATE|ALTER|DROP|RENAME|TRUNCATE"
            r"|START\s+TRANSACTION|BEGIN\b|COMMIT|ROLLBACK|LOCK"
            r"|UNLOCK|FLUSH|OPTIMIZE|ANALYZE|REPAIR)\b",
            stmt,
        ):
            # DDL and transaction control imply a commit — forbidden
            # in triggers (MySQL 1422); EVENTs may run DDL
            raise ValueError(
                "Explicit or implicit commit is not allowed in a "
                f"trigger (MySQL 1422): {stmt[:50]!r}"
            )
        if table is not None:
            tm = re.match(
                r"(?i)\s*(?:INSERT\s+(?:IGNORE\s+)?INTO|REPLACE\s+INTO"
                r"|UPDATE(?:\s+IGNORE)?|DELETE\s+FROM)\s+(`[^`]+`|\w+)",
                stmt,
            )
            if tm and st.unquote_ident(tm.group(1)) == table:
                raise ValueError(
                    f"Can't update table '{table}' in trigger because "
                    "it is already used by the statement that invoked "
                    "the trigger (MySQL 1442)"
                )
        has_new = re.search(r"(?i)\bNEW\.", stmt)
        has_old = re.search(r"(?i)\bOLD\.", stmt)
        if has_new and event == "delete":
            raise ValueError("DELETE triggers have no NEW row")
        if has_old and event == "insert":
            raise ValueError("INSERT triggers have no OLD row")
        if (has_new or has_old) and not re.match(
            r"(?:INSERT|REPLACE|UPDATE|DELETE)\b",
            stmt, re.I,
        ):
            raise NotImplementedError(
                "trigger statements referencing NEW./OLD. must be DML "
                "(INSERT ... VALUES runs set-based; other DML replays "
                f"per affected row, capped); got: {stmt[:60]!r}"
            )

    def _exec_trigger(self, s: "st.TriggerStmt"):
        trigs = dict(self._load_triggers())
        if s.action == "drop":
            if s.name not in trigs:
                if s.if_exists:
                    return OkResult()
                raise ValueError(f"trigger {s.name} does not exist")
            trigs.pop(s.name)
            self._save_triggers(trigs)
            return OkResult()
        if s.name in trigs:
            raise ValueError(f"trigger {s.name} already exists")
        if not self.catalog.table(s.table).exists():
            raise ValueError(f"table {s.table} does not exist")
        if s.timing == "before":
            ops = self._split_trigger_ops(s.body, allow_stmts=True)
            if not ops:
                raise ValueError(
                    f"BEFORE {s.event.upper()} trigger body must be "
                    "SET NEW.col = expr [, ...] statements, "
                    "IF cond THEN SIGNAL SQLSTATE '…' "
                    "[SET MESSAGE_TEXT = '…'] END IF guards, and/or "
                    "side DML statements"
                )
            for op in ops:
                if op[0] == "set" and s.event == "delete":
                    raise ValueError(
                        "BEFORE DELETE triggers have no NEW row to SET "
                        "— only SIGNAL guards over OLD.* and side DML"
                    )
                if op[0] == "guard" and op[1]:
                    if s.event == "insert" and re.search(
                            r"(?i)\bOLD\.", op[1]):
                        raise ValueError("INSERT triggers have no OLD row")
                    if s.event == "delete" and re.search(
                            r"(?i)\bNEW\.", op[1]):
                        raise ValueError("DELETE triggers have no NEW row")
                if op[0] == "stmt":
                    self._validate_trigger_side_stmt(
                        op[1], s.event, s.table)
        else:
            for stmt in st.split_statements(s.body):
                self._validate_trigger_side_stmt(stmt, s.event, s.table)
        trigs[s.name] = {
            "timing": s.timing, "event": s.event,
            "table": s.table, "body": s.body,
        }
        self._save_triggers(trigs)
        return OkResult()

    def _triggers_for(self, table: str, event: str, timing: str) -> list:
        return [
            dict(t, name=n) for n, t in self._load_triggers().items()
            if t["table"] == table and t["event"] == event
            and t["timing"] == timing
        ]

    def _before_insert_ops(self, table: str) -> list:
        """Ordered BEFORE INSERT ops across triggers in creation order:
        ('set', {col: expr}) with NEW. stripped,
        ('guard', cond_over_plain_cols_or_None, sqlstate, msg), or
        ('stmt', trigger_name, raw_sql) side DML."""
        out: list = []
        for t in self._triggers_for(table, "insert", "before"):
            for op in self._split_trigger_ops(
                    t["body"], allow_stmts=True) or []:
                if op[0] == "set":
                    out.append(("set", self._split_set_new(op[1])))
                elif op[0] == "stmt":
                    out.append(("stmt", t["name"], op[1]))
                else:
                    cond = op[1] and re.sub(
                        r"(?i)\bNEW\.(`[^`]+`|\w+)", r"\1", op[1]
                    )
                    out.append(("guard", cond, op[2], op[3]))
        return out

    def _fire_after_triggers(
        self, table: str, event: str, trig_df: DataFrame | None
    ) -> None:
        """Run AFTER triggers for one DML statement. ``trig_df`` has the
        affected rows with new_*/old_* prefixed columns (whichever
        images the event has)."""
        trigs = self._triggers_for(table, event, "after")
        if not trigs:
            return
        self._run_trigger_stmts(
            [(tg["name"], stmt) for tg in trigs
             for stmt in st.split_statements(tg["body"])],
            trig_df,
        )

    def _run_trigger_stmts(
        self, named_stmts: list, trig_df: DataFrame | None
    ) -> None:
        """Execute trigger body side statements set-based over the
        affected-row image (new_*/old_* prefixed columns). Shared by
        AFTER bodies and the side-DML statements of BEFORE bodies."""
        if not named_stmts:
            return
        depth = getattr(self, "_trig_depth", 0)
        if depth > 8:
            raise ValueError("trigger cascade too deep (cycle?)")
        self._trig_depth = depth + 1
        try:
            view = f"__trig_rows_{depth}"
            if trig_df is not None:
                trig_df.createOrReplaceTempView(view)
            for tg_name, stmt in named_stmts:
                refs = re.search(r"(?i)\b(NEW|OLD)\.", stmt)
                rewritten = re.sub(
                    r"(?i)\bNEW\.(`[^`]+`|\w+)", r"new_\1", stmt
                )
                rewritten = re.sub(
                    r"(?i)\bOLD\.(`[^`]+`|\w+)", r"old_\1", rewritten
                )
                if refs:
                    # INSERT ... VALUES (exprs) → set-based SELECT
                    # over the affected-rows view
                    im = re.match(
                        r"(INSERT\s+(?:IGNORE\s+)?INTO\s+.+?)"
                        r"VALUES\s*\((.*)\)\s*$",
                        rewritten, re.I | re.S,
                    )
                    if im:
                        rewritten = (
                            f"{im.group(1)} SELECT {im.group(2)} "
                            f"FROM {view}"
                        )
                        self.execute(rewritten)
                        continue
                    # other DML reading the row image (UPDATE counters
                    # SET n = n + NEW.qty, keyed DELETEs, …): MySQL
                    # runs the body once per affected row — replay
                    # with the image values bound as literals, bounded
                    # like cursors (one statement per row, sequential
                    # effects preserved)
                    if trig_df is None:
                        raise ValueError(
                            f"trigger {tg_name}: no row image for "
                            f"statement {stmt[:60]!r}"
                        )
                    img = trig_df.limit(
                        self._TRIGGER_PERROW_CAP + 1).collect()
                    if len(img) > self._TRIGGER_PERROW_CAP:
                        raise NotImplementedError(
                            f"trigger {tg_name}: NEW/OLD-referencing "
                            f"body DML over "
                            f">{self._TRIGGER_PERROW_CAP} affected "
                            "rows (per-row replay is driver-bounded)"
                        )
                    cols = sorted(
                        trig_df.columns, key=len, reverse=True
                    )
                    for r in img:
                        stmt_r = rewritten
                        for c in cols:
                            lit = self._render_literal(r[c])
                            stmt_r = st.sub_outside_strings(
                                rf"\b{re.escape(c)}\b",
                                lambda _m, _v=lit: _v, stmt_r,
                            )
                        self.execute(stmt_r)
                    continue
                elif trig_df is not None:
                    rewritten, exact = self._rewrite_batch_trigger_dml(
                        rewritten, view, tg_name
                    )
                    if not exact:
                        # MySQL runs the body once per affected row;
                        # replay the statement N times driver-side
                        # when bounded (each run sees the previous
                        # one's effects — the sequential semantics no
                        # single set-based statement reproduces)
                        n_aff = trig_df.count()
                        if n_aff <= self._TRIGGER_PERROW_CAP:
                            for _ in range(n_aff):
                                self.execute(rewritten)
                            continue
                        self._push_warning(1592, (
                            f"trigger {tg_name}: body statement kept "
                            f"once-per-statement batch semantics over "
                            f"{n_aff} affected rows (> per-row cap "
                            f"{self._TRIGGER_PERROW_CAP}); statement: "
                            f"{stmt[:80]}"
                        ))
                self.execute(rewritten)
        finally:
            self._trig_depth = depth

    # Non-algebraic NEW/OLD-free trigger body DML runs ONCE PER
    # AFFECTED ROW driver-side (MySQL parity) up to this many rows;
    # above it the body keeps once-per-statement batch semantics with
    # a SHOW WARNINGS note (each per-row execution is a full
    # statement — bounded like cursors).
    _TRIGGER_PERROW_CAP = 1000

    def _rewrite_batch_trigger_dml(
        self, stmt: str, view: str, trig_name: str
    ) -> tuple[str, bool]:
        """(rewritten, exact) for a NEW/OLD-free trigger body DML
        statement: recover MySQL's once-per-row semantics where the
        algebra is exact (one distributed statement, no per-row work);
        otherwise return the statement unchanged with exact=False so
        the caller replays it per affected row (≤ cap) or keeps batch
        semantics with a warning.

        `SET c = c + e` run N times ≡ `c + N·e`, and `SET c = c * e`
        run N times ≡ `c · e^N`, provided neither `e` nor the WHERE
        clause reads `c` (bare OR table-qualified — a qualified
        self-reference like `t.c` makes the per-execution value
        order-dependent, so it must NOT be multiplied). Multi-
        assignment SET lists are not algebraically foldable: each
        assignment sees the previous one's per-row result in MySQL
        (reference executes trigger bodies per-row GMS-side,
        main_test.go:1053).
        """
        um = re.match(
            r"UPDATE\s+(`[^`]+`|\w+)\s+SET\s+(.+?)(\s+WHERE\s+.+)?$",
            stmt, re.I | re.S,
        )
        if not um:
            if re.match(r"(?i)\s*(INSERT|REPLACE|DELETE|UPDATE)\b", stmt):
                return stmt, False
            return stmt, True  # non-DML: out of per-row scope
        setlist, where = um.group(2), um.group(3) or ""
        if len(st.split_top_level(setlist)) != 1:
            return stmt, False
        am = re.match(
            r"\s*(`[^`]+`|\w+)\s*=\s*(`[^`]+`|\w+)\s*([+*])\s*(.+?)\s*$",
            setlist, re.S,
        )
        if not am or st.unquote_ident(am.group(1)) != st.unquote_ident(
            am.group(2)
        ):
            return stmt, False
        col = st.unquote_ident(am.group(1))
        expr = am.group(4)
        # occurs-check: the target column must not be read anywhere in
        # the addend/factor or the WHERE — bare `c` or qualified `q.c`
        if re.search(
            rf"(?<![\w`])(?:(?:`[^`]+`|\w+)\s*\.\s*)?`?{re.escape(col)}`?"
            rf"(?![\w`])",
            st.mask_strings(expr + " " + where), re.I,
        ):
            return stmt, False
        n_rows = f"(SELECT COUNT(*) FROM {view})"
        if am.group(3) == "+":
            new_set = f"{am.group(1)} = {am.group(2)} + ({expr}) * {n_rows}"
        else:
            new_set = f"{am.group(1)} = {am.group(2)} * POW({expr}, {n_rows})"
        return f"UPDATE {um.group(1)} SET {new_set}{where}", True

    @staticmethod
    def _strip_self_qualifier(expr: str | None, table: str) -> str | None:
        """Drop `table.` qualifiers from column refs (outside strings):
        in single-table DML MySQL resolves `t.c` to the target table's
        own column, but the engine's fast path evaluates expressions
        over a bare DataFrame where no relation alias is in scope."""
        if not expr or "." not in expr:
            return expr
        # bare form (mask-safe; NB no trailing lookahead —
        # sub_outside_strings re-matches the pattern against the
        # matched slice alone, where a lookahead can never succeed)
        expr = st.sub_outside_strings(
            rf"(?<![\w`.]){re.escape(table)}\s*\.\s*", "", expr, flags=re.I
        )
        # backticked form: the mask hides identifier CONTENT but keeps
        # the backtick delimiters, so scan the original and accept a
        # match only where the mask still shows a '`' (an identifier
        # region, not the inside of a string literal)
        mask = st.mask_strings(expr)
        out: list[str] = []
        pos = 0
        for m in re.finditer(rf"`{re.escape(table)}`\s*\.\s*", expr, re.I):
            if mask[m.start()] == "`":
                out.append(expr[pos:m.start()])
                pos = m.end()
        out.append(expr[pos:])
        return "".join(out)

    @staticmethod
    def _prefix_cols(df: DataFrame, prefix: str) -> DataFrame:
        return df.select(
            *[F.col(c).alias(f"{prefix}{c}") for c in df.columns]
        )

    # ------------------------------------------------------------- events
    # Catalog-only: the registry owns WHAT runs; the HOST application
    # owns when (cron/Airflow/Streaming trigger) via run_event() —
    # a library engine has no background scheduler thread. Reference
    # runs events GMS-side on its own timer (main_test.go:1083).

    def _events_path(self) -> str:
        return os.path.join(self._warehouse, "__events.json")

    def _load_events(self) -> dict:
        cached = getattr(self, "_event_cache", None)
        if cached is not None:
            return cached
        p = self._events_path()
        if os.path.exists(p):
            with open(p) as f:
                self._event_cache = json.load(f)
        else:
            self._event_cache = {}
        return self._event_cache

    def _save_events(self, m: dict) -> None:
        os.makedirs(self._warehouse, exist_ok=True)
        with open(self._events_path(), "w") as f:
            json.dump(m, f)
        self._event_cache = m

    # --------------------------------------------------------- replication
    # Replica controller parity (reference binlog_replica_controller.go:
    # CHANGE REPLICATION SOURCE TO persists config, START/STOP drive the
    # applier thread, RESET clears). A library engine has no network
    # stack or background thread, so the SOURCE binds a LOCAL feed
    # directory (file://… → FileCdcFeed or PartitionedLogFeed) and the
    # HOST pumps via replica_poll() — the same honest host-owns-timing
    # split as run_event(). Config persists like the reference's
    # binlog_metadata_persistence.go; positions live in the table
    # pointers (exactly-once markers), so restart resumes correctly.

    def _replication_path(self) -> str:
        return os.path.join(self._warehouse, "__replication.json")

    def _load_replication(self) -> dict:
        p = self._replication_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {}

    def _save_replication(self, cfg: dict) -> None:
        os.makedirs(self._warehouse, exist_ok=True)
        with open(self._replication_path(), "w") as f:
            json.dump(cfg, f)

    def _exec_replica(self, s: "st.ReplicaStmt"):
        cfg = self._load_replication()
        if s.action == "change_filter":
            # like the reference (and MySQL), filters are NOT persisted
            # — re-apply after a restart
            # (binlog_replica_controller.go:351-352)
            f = getattr(self, "_replica_filters",
                        {"do": set(), "ignore": set()})
            for key, names in (s.options or {}).items():
                side = "do" if "DO" in key else "ignore"
                f[side] = {n.lower() for n in names}
            self._replica_filters = f
            if getattr(self, "_replica_applier", None) is not None:
                # rebind so the running applier picks the filter up
                self._replica_applier = self._build_replica_applier(
                    str((cfg.get("source") or {}).get("SOURCE_HOST"))
                )
            return OkResult()
        if s.action == "change_source":
            if cfg.get("running"):
                raise ValueError(
                    "This operation cannot be performed with a running "
                    "replica; run STOP REPLICA first"
                )
            src = dict(cfg.get("source", {}))
            src.update(s.options or {})
            cfg["source"] = src
            self._save_replication(cfg)
            return OkResult()
        if s.action == "start":
            if cfg.get("running") and \
                    getattr(self, "_replica_applier", None) is not None:
                # reference warns 3083 and keeps the running applier
                return OkResult(info="Replication thread(s) for channel"
                                     " '' are already running.")
            src = cfg.get("source") or {}
            if not src.get("SOURCE_HOST"):
                # reference ErrServerNotConfiguredAsReplica wording
                raise ValueError(
                    "server is not configured as a replica; fix with "
                    "CHANGE REPLICATION SOURCE TO"
                )
            if not src.get("SOURCE_USER"):
                raise ValueError(
                    "Empty username when attempting to start replication"
                )
            self._replica_applier = self._build_replica_applier(
                str(src["SOURCE_HOST"])
            )
            cfg["running"] = True
            self._save_replication(cfg)
            self.replica_poll()  # initial catch-up
            return OkResult()
        if s.action == "stop":
            app = getattr(self, "_replica_applier", None)
            if app is not None:
                app.close()  # flush buffered events before stopping
            self._replica_applier = None
            cfg["running"] = False
            self._save_replication(cfg)
            return OkResult()
        # RESET [ALL]
        if cfg.get("running"):
            raise ValueError(
                "This operation cannot be performed with a running "
                "replica; run STOP REPLICA first"
            )
        if s.all:
            cfg = {}  # forget the source config entirely (MySQL ALL)
        self._save_replication(cfg)
        return OkResult()

    # URI-scheme → CdcFeed factory registry: the drop-in point for
    # network replication clients (vitess/pglogrepl analogs). A
    # factory takes (source_uri, engine) and returns a
    # streaming.feed.CdcFeed; file:// stays built in.
    _FEED_SCHEMES: dict = {}

    @classmethod
    def register_feed_scheme(cls, scheme: str, factory) -> None:
        """Register a CdcFeed factory for SOURCE_HOST='<scheme>://…'."""
        cls._FEED_SCHEMES[scheme.lower()] = factory

    def _build_replica_applier(self, host: str):
        from myduckserver_spark.streaming.cdc_source import FileCdcFeed
        from myduckserver_spark.streaming.log_feed import (
            LogFeedCdcSource,
            PartitionedLogFeed,
        )
        from myduckserver_spark.streaming.multi_applier import (
            MultiTableCdcApplier,
            MultiTableTxnView,
        )

        scheme = host.split("://", 1)[0].lower() if "://" in host else ""
        if scheme == "tcp" and "tcp" not in self._FEED_SCHEMES:
            # built-in network client (reconnect/backoff + position
            # resume — streaming/socket_feed.py); a custom registration
            # for 'tcp' still takes precedence
            from myduckserver_spark.streaming.socket_feed import (
                SocketCdcFeed,
            )

            self._FEED_SCHEMES["tcp"] = SocketCdcFeed
        if scheme != "file" and scheme not in self._FEED_SCHEMES:
            raise NotImplementedError(
                "network binlog sources need a CdcFeed client for the "
                f"'{scheme or host}' scheme (reference "
                "binlog_replica_applier.go speaks the vitess client); "
                "implement streaming.feed.CdcFeed and register it with "
                "Engine.register_feed_scheme, or bind a local feed "
                "directory with SOURCE_HOST='file:///path' — "
                "FileCdcFeed segments or a PartitionedLogFeed"
            )
        path = host.split("://", 1)[1]
        tables: dict = {}
        for name in self.catalog.list_tables():
            if name.startswith("__"):
                continue
            try:
                meta = self.table_meta(name)
            except Exception:
                continue
            if not meta.primary_key:
                continue  # keyless tables are not replicable targets
            schema = self.catalog.table(name).read().schema
            tables[name] = (list(meta.primary_key), schema)
        group = list(tables)  # position spans the whole group,
        # pre-filter — a filter change must not rewind the position
        filters = getattr(self, "_replica_filters", None)
        if filters:
            if filters["do"]:
                tables = {n: v for n, v in tables.items()
                          if n.lower() in filters["do"]}
            tables = {n: v for n, v in tables.items()
                      if n.lower() not in filters["ignore"]}
        if not tables:
            raise ValueError(
                "no replicable tables in the catalog (targets need a "
                "PRIMARY KEY)"
            )
        if scheme != "file":
            # custom CdcFeed client (loopback socket, vitess,
            # pglogrepl, Kafka consumer, …): the factory receives the
            # full URI and this engine; everything downstream consumes
            # only the CdcFeed contract (streaming/feed.py)
            feed = self._FEED_SCHEMES[scheme](host, self)
        elif os.path.exists(os.path.join(path, "_LOGMETA")):
            log = PartitionedLogFeed(path)
            feed = LogFeedCdcSource(
                log,
                # the adapter resumes from the GROUP's position too
                MultiTableTxnView(self.catalog, group, "replica"),
                "replica",
            )
        else:
            feed = FileCdcFeed(path)
        return MultiTableCdcApplier(
            self.spark, feed, self.catalog, tables, app_id="replica",
            # with filters active, events for non-replicated tables are
            # SKIPPED (MySQL filter semantics); without, an unknown
            # table stays a hard error (safety net)
            skip_unregistered=bool(filters and (filters["do"]
                                                or filters["ignore"])),
            position_tables=group,
        )

    def replica_poll(self) -> list:
        """Host-driven replication pump (the host owns timing, like
        run_event): poll the configured feed and flush everything
        buffered — each flush spanning N tables commits atomically
        (merge_batch_multi). Returns the FlushResults."""
        app = getattr(self, "_replica_applier", None)
        if app is None:
            cfg = self._load_replication()
            if not cfg.get("running"):
                raise ValueError(
                    "replica is not running; START REPLICA first"
                )
            app = self._build_replica_applier(
                str(cfg["source"]["SOURCE_HOST"])
            )
            self._replica_applier = app
        results = app.poll()
        r = app.query_barrier()
        if r is not None:
            results.append(r)
        return results

    def _exec_event(self, s: "st.EventStmt"):
        evs = dict(self._load_events())
        if s.action == "create":
            if s.name in evs:
                if s.if_clause:
                    return OkResult()
                raise ValueError(f"event {s.name} already exists")
            evs[s.name] = {"schedule": s.schedule, "body": s.body,
                           "status": s.status}
            self._save_events(evs)
            return OkResult()
        if s.action == "drop":
            if s.name not in evs:
                if s.if_clause:
                    return OkResult()
                raise ValueError(f"event {s.name} does not exist")
            evs.pop(s.name)
            self._save_events(evs)
            return OkResult()
        if s.name not in evs:
            raise ValueError(f"event {s.name} does not exist")
        evs[s.name] = dict(evs[s.name], status=s.status)
        self._save_events(evs)
        return OkResult()

    def run_event(self, name: str):
        """Fire one registered event's body NOW (the host scheduler's
        entry point). DISABLED events refuse, like MySQL's scheduler
        skipping them."""
        ev = self._load_events().get(name)
        if ev is None:
            raise ValueError(f"event {name} does not exist")
        if ev["status"] != "ENABLED":
            raise ValueError(f"event {name} is {ev['status']}")
        return self.execute(ev["body"])

    _EVENT_UNITS = {
        "SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400,
        "WEEK": 7 * 86400,
    }

    def event_tick(self, now: float | None = None) -> list[str]:
        """One scheduler pass: fire every ENABLED event whose EVERY
        interval has elapsed since its last firing (first tick after
        registration counts as elapsed, like MySQL's STARTS-defaulted
        schedule). AT '<ts>' one-shot events fire once their time has
        passed, then flip to DISABLED (ON COMPLETION NOT PRESERVE is
        MySQL's default drop; DISABLED keeps the registry inspectable).
        Returns the fired names."""
        import time as _time

        import datetime as _dt

        def _ts(lit: str) -> float:
            return _dt.datetime.fromisoformat(lit).replace(
                tzinfo=_dt.timezone.utc).timestamp()

        now = _time.time() if now is None else now
        if not hasattr(self, "_event_last"):
            self._event_last: dict[str, float] = {}
        fired: list[str] = []
        for name, ev in list(self._load_events().items()):
            if ev["status"] != "ENABLED":
                continue
            em = re.match(r"(?i)\s*EVERY\s+(\d+)\s+(\w+)", ev["schedule"])
            if em:
                unit = self._EVENT_UNITS.get(em.group(2).upper())
                if unit is None:
                    continue  # MONTH/YEAR etc: host-fired only
                sm = re.search(r"(?i)\bSTARTS\s+'([^']+)'", ev["schedule"])
                if sm and now < _ts(sm.group(1)):
                    continue  # not yet started
                nm = re.search(r"(?i)\bENDS\s+'([^']+)'", ev["schedule"])
                if nm and now > _ts(nm.group(1)):
                    # past its window: MySQL disables (ON COMPLETION
                    # NOT PRESERVE drops; DISABLED keeps it inspectable)
                    evs = dict(self._load_events())
                    evs[name] = dict(evs[name], status="DISABLED")
                    self._save_events(evs)
                    continue
                period = int(em.group(1)) * unit
                last = self._event_last.get(name)
                if last is not None and now - last < period:
                    continue
            else:
                am = re.match(r"(?i)\s*AT\s+'([^']+)'", ev["schedule"])
                if not am:
                    continue
                import datetime as _dt

                at = _dt.datetime.fromisoformat(
                    am.group(1)).replace(tzinfo=_dt.timezone.utc)
                if now < at.timestamp():
                    continue
            self._event_last[name] = now
            self.execute(ev["body"])
            fired.append(name)
            if not em:  # one-shot AT event: never fires again
                evs = dict(self._load_events())
                evs[name] = dict(evs[name], status="DISABLED")
                self._save_events(evs)
        return fired

    def start_event_scheduler(self, interval: float = 1.0) -> None:
        """Background event scheduler (MySQL's event_scheduler=ON; the
        reference runs events GMS-side on its own timer,
        main_test.go:1083): one daemon thread drives event_tick. Errors
        are collected on self.event_errors, never kill the loop."""
        import threading

        t = getattr(self, "_event_thread", None)
        if t is not None and t.is_alive():
            return
        self._event_stop = threading.Event()
        self.event_errors: list[str] = []

        def loop() -> None:
            while not self._event_stop.wait(interval):
                try:
                    self.event_tick()
                except Exception as e:  # keep ticking
                    self.event_errors.append(repr(e))
                    del self.event_errors[:-20]

        self._event_thread = threading.Thread(
            target=loop, daemon=True, name="event-scheduler"
        )
        self._event_thread.start()

    def stop_event_scheduler(self) -> None:
        t = getattr(self, "_event_thread", None)
        if t is None:
            return
        self._event_stop.set()
        t.join(timeout=10)
        self._event_thread = None

    # ------------------------------------------------------ user accounts
    # Catalog-only registry (CREATE USER / GRANT / REVOKE persist and
    # SHOW GRANTS reflects them) so mysqldump --all-databases scripts
    # replay. NOTHING is enforced: a single-process library engine has
    # one principal, the same stance as the reference's default
    # single-user mode (plugin/auth.go is its wire-level concern).

    def _users_path(self) -> str:
        return os.path.join(self._warehouse, "__users.json")

    def _load_users(self) -> dict:
        cached = getattr(self, "_user_cache", None)
        if cached is not None:
            return cached
        p = self._users_path()
        if os.path.exists(p):
            with open(p) as f:
                self._user_cache = json.load(f)
        else:
            self._user_cache = {}
        return self._user_cache

    def _save_users(self, m: dict) -> None:
        os.makedirs(self._warehouse, exist_ok=True)
        with open(self._users_path(), "w") as f:
            json.dump(m, f)
        self._user_cache = m

    def _exec_user(self, s: "st.UserStmt"):
        if s.action == "noop":
            return OkResult(info="account attribute statements are "
                                 "no-ops (single-principal engine)")
        users = dict(self._load_users())
        if s.action == "create":
            if s.user in users:
                if s.if_clause:
                    return OkResult()
                raise ValueError(f"user {s.user} already exists")
            users[s.user] = {"grants": []}
            self._save_users(users)
            return OkResult()
        if s.action == "drop":
            if s.user not in users:
                if s.if_clause:
                    return OkResult()
                raise ValueError(f"user {s.user} does not exist")
            users.pop(s.user)
            self._save_users(users)
            return OkResult()
        rec = users.setdefault(s.user, {"grants": []})
        entry = {"privs": s.privs, "on": s.target,
                 "grant_option": s.grant_option}
        if s.action == "grant":
            if entry not in rec["grants"]:
                rec["grants"] = rec["grants"] + [entry]
        else:  # revoke: match on privs+target (grant_option ignored)
            rec["grants"] = [
                g for g in rec["grants"]
                if not (g["privs"] == s.privs and g["on"] == s.target)
            ]
        self._save_users(users)
        return OkResult()

    # --------------------------------------------------------- procedures
    # MySQL stored procedures: straight-line statement lists with IN
    # parameters substituted textually at CALL time (the reference runs
    # procedures GMS-side, main_test.go:1071; control flow —
    # DECLARE/IF/WHILE/cursors — is rejected at CREATE, honestly).
    # Stored FUNCTIONs map onto the macro mechanism at parse time.

    def _procedures_path(self) -> str:
        return os.path.join(self._warehouse, "__procedures.json")

    def _load_procedures(self) -> dict:
        cached = getattr(self, "_proc_cache", None)
        if cached is not None:
            return cached
        p = self._procedures_path()
        if os.path.exists(p):
            with open(p) as f:
                self._proc_cache = json.load(f)
        else:
            self._proc_cache = {}
        return self._proc_cache

    def _save_procedures(self, m: dict) -> None:
        os.makedirs(self._warehouse, exist_ok=True)
        with open(self._procedures_path(), "w") as f:
            json.dump(m, f)
        self._proc_cache = m

    # MySQL error code → standard SQLSTATE (the subset a dump/routine
    # corpus actually declares handlers for)
    _ERRNO_SQLSTATE = {
        1062: "23000",  # ER_DUP_ENTRY
        1048: "23000",  # ER_BAD_NULL_ERROR
        1146: "42S02",  # ER_NO_SUCH_TABLE
        1054: "42S22",  # ER_BAD_FIELD_ERROR
        1329: "02000",  # ER_SP_FETCH_NO_DATA
        1643: "02000",  # ER_SIGNAL_NOT_FOUND
        1644: "45000",  # ER_SIGNAL_EXCEPTION (user SIGNAL default)
        1216: "23000",  # ER_NO_REFERENCED_ROW
        1217: "23000",  # ER_ROW_IS_REFERENCED
        1451: "23000",  # ER_ROW_IS_REFERENCED_2
        1452: "23000",  # ER_NO_REFERENCED_ROW_2
    }
    # driver-side cursor guard: cursors are inherently row-at-a-time,
    # so OPEN collects the (substituted) query to the driver — honest
    # for procedural workloads, capped so a fact-table cursor fails
    # loudly instead of OOMing the driver (set-based DML is the scale
    # path, SCALING.md §triggers-at-scale)
    _CURSOR_MAX_ROWS = 100_000
    _PROC_MAX_ITER = 100_000  # loop runaway guard
    _SIGNAL_RE = re.compile(
        r"(?is)^\s*SIGNAL\s+SQLSTATE\s+(?:VALUE\s+)?'(\w+)'"
        r"(?:\s+SET\s+(.+?))?\s*$"
    )

    @staticmethod
    def _signal_message(set_list: "str | None") -> str:
        """MESSAGE_TEXT from a SIGNAL ... SET item list (MYSQL_ERRNO
        and other condition items are accepted and folded into the
        message where useful)."""
        msg = "Unhandled user-defined exception"
        for item in st.split_top_level(set_list or "", ","):
            im = re.match(r"\s*MESSAGE_TEXT\s*=\s*'((?:[^']|'')*)'\s*$",
                          item, re.I)
            if im:
                msg = im.group(1).replace("''", "'")
        return msg

    @staticmethod
    def _proc_normalize(parts: list) -> list:
        """Split block openers carrying an inline first statement
        ('IF c THEN stmt' / 'WHILE c DO stmt' / '[lbl:] LOOP stmt' /
        '[lbl:] REPEAT stmt' / 'CASE … THEN stmt' / 'WHEN … THEN stmt'
        / 'ELSE stmt') into standalone opener + statement parts, so
        the parser only ever sees openers on their own. Labels stay
        attached to their opener. CASE statements are then lowered to
        IF/ELSEIF chains (`_lower_case_stmts`)."""
        out: list = []
        for p in parts:
            p = p.strip()
            while True:
                m = re.match(
                    r"((?:\w+\s*:\s*)?"
                    r"(?:(?:ELSE)?IF\s+.+?\s+THEN|WHILE\s+.+?\s+DO"
                    r"|LOOP|REPEAT)"
                    r"|CASE\s+.+?\s+THEN|WHEN\s+.+?\s+THEN|ELSE)"
                    r"\s+(\S.*)$",
                    p, re.I | re.S,
                )
                if not m:
                    break
                out.append(m.group(1).strip())
                p = m.group(2).strip()
            if p:
                out.append(p)
        return Engine._lower_case_stmts(out)

    @staticmethod
    def _lower_case_stmts(parts: list) -> list:
        """Lower CASE *statements* onto the IF machinery:
        `CASE WHEN c THEN` → `IF c THEN`, `CASE subj WHEN v THEN` →
        `IF (subj) = (v) THEN` (subject remembered per nesting level
        for the later WHENs → ELSEIF), `END CASE` → `END IF`. A CASE
        with no ELSE gains MySQL's implicit error arm (SQLSTATE 20000
        'Case not found' — MySQL error 1339) instead of silently
        no-opping. CASE *expressions* never reach this: they sit
        mid-statement and the openers above only match whole parts."""
        res: list = []
        # stack entries: ["if"] | ["case", subject_or_None, has_else]
        stack: list = []
        for p in parts:
            if re.match(r"(?i)(?:\w+\s*:\s*)?(?:ELSE)?IF\s", p) and \
                    re.search(r"(?i)\bTHEN$", p):
                if not re.match(r"(?i)ELSEIF\b", p):
                    stack.append(["if"])
                res.append(p)
                continue
            m = re.fullmatch(r"CASE\s+WHEN\s+(.+?)\s+THEN", p,
                             re.I | re.S)
            if m:
                stack.append(["case", None, False])
                res.append(f"IF {m.group(1)} THEN")
                continue
            m = re.fullmatch(r"CASE\s+(.+?)\s+WHEN\s+(.+?)\s+THEN", p,
                             re.I | re.S)
            if m:
                stack.append(["case", m.group(1), False])
                res.append(f"IF ({m.group(1)}) = ({m.group(2)}) THEN")
                continue
            m = re.fullmatch(r"WHEN\s+(.+?)\s+THEN", p, re.I | re.S)
            if m and stack and stack[-1][0] == "case":
                subj = stack[-1][1]
                res.append(
                    f"ELSEIF ({subj}) = ({m.group(1)}) THEN"
                    if subj else f"ELSEIF {m.group(1)} THEN"
                )
                continue
            if re.fullmatch(r"ELSE", p, re.I) and stack:
                if stack[-1][0] == "case":
                    stack[-1][2] = True
                res.append(p)
                continue
            if re.fullmatch(r"END\s+IF", p, re.I):
                if stack and stack[-1][0] == "if":
                    stack.pop()
                res.append(p)
                continue
            if re.fullmatch(r"END\s+CASE", p, re.I):
                if stack and stack[-1][0] == "case":
                    _k, _subj, has_else = stack.pop()
                    if not has_else:
                        res.append("ELSE")
                        res.append(
                            "SIGNAL SQLSTATE '20000' SET MESSAGE_TEXT"
                            " = 'Case not found for CASE statement'"
                        )
                res.append("END IF")
                continue
            res.append(p)
        return res

    def _parse_proc_block(self, parts: list, i: int = 0,
                          stop=()) -> tuple[list, int]:
        """Recursive-descent parse of a normalized procedure body into
        nodes: ('sql', text) | ('declare', name, default_expr) |
        ('if', [(cond, block), ...], else_block) |
        ('while', cond, block, label) | ('loop', label, block) |
        ('repeat', label, block, until_cond) | ('leave', label) |
        ('iterate', label) | ('signal', sqlstate, message) |
        ('resignal', sqlstate_or_None, message_or_None)."""
        nodes: list = []
        while i < len(parts):
            p = parts[i].strip()
            up = p.upper()
            if any(up == t or up.startswith(t + " ") for t in stop):
                return nodes, i
            m = re.fullmatch(r"LEAVE(?:\s+(\w+))?", p, re.I)
            if m:
                nodes.append(("leave", m.group(1)))
                i += 1
                continue
            m = re.fullmatch(r"ITERATE(?:\s+(\w+))?", p, re.I)
            if m:
                nodes.append(("iterate", m.group(1)))
                i += 1
                continue
            m = re.fullmatch(r"RETURN\s+(.+)", p, re.I | re.S)
            if m:
                nodes.append(("return", m.group(1).strip()))
                i += 1
                continue
            m = self._SIGNAL_RE.match(p)
            if m:
                nodes.append(("signal", m.group(1),
                              self._signal_message(m.group(2))))
                i += 1
                continue
            m = re.fullmatch(
                r"RESIGNAL(?:\s+SQLSTATE\s+(?:VALUE\s+)?'(\w+)')?"
                r"(?:\s+SET\s+MESSAGE_TEXT\s*=\s*'((?:[^']|'')*)')?",
                p, re.I,
            )
            if m:
                # valid only while a handler is active — checked at
                # run time against the live diagnostics area (MySQL
                # ER_RESIGNAL_WITHOUT_ACTIVE_HANDLER otherwise)
                nodes.append(("resignal", m.group(1),
                              (m.group(2) or "").replace("''", "'")
                              or None))
                i += 1
                continue
            m = re.fullmatch(r"(?:(\w+)\s*:\s*)?BEGIN(?:\s+(.+))?$",
                             p, re.I | re.S)
            if m:
                # nested anonymous/labeled BEGIN…END block: its own
                # handler scope (MySQL: handlers expire with their
                # block). The ';' split glues the first inner
                # statement onto the BEGIN — re-insert it.
                if m.group(2):
                    parts.insert(i + 1, m.group(2))
                blk, j = self._parse_proc_block(
                    parts, i + 1, stop=("END",))
                if j >= len(parts):
                    raise ValueError("BEGIN without END")
                nodes.append(("block", m.group(1), blk))
                i = j + 1
                continue
            m = re.fullmatch(r"(?:(\w+)\s*:\s*)?LOOP", p, re.I)
            if m:
                blk, j = self._parse_proc_block(
                    parts, i + 1, stop=("END LOOP",))
                if j >= len(parts):
                    raise ValueError("LOOP without END LOOP")
                nodes.append(("loop", m.group(1), blk))
                i = j + 1
                continue
            m = re.fullmatch(r"(?:(\w+)\s*:\s*)?REPEAT", p, re.I)
            if m:
                blk, j = self._parse_proc_block(
                    parts, i + 1, stop=("UNTIL",))
                um = None if j >= len(parts) else re.fullmatch(
                    r"UNTIL\s+(.+?)\s+END\s+REPEAT(?:\s+\w+)?",
                    parts[j].strip(), re.I | re.S,
                )
                if not um:
                    raise ValueError("REPEAT without UNTIL … END REPEAT")
                nodes.append(("repeat", m.group(1), blk, um.group(1)))
                i = j + 1
                continue
            m = re.fullmatch(
                r"DECLARE\s+(`[^`]+`|\w+)\s+CURSOR\s+FOR\s+(.+)$",
                p, re.I | re.S,
            )
            if m:
                nodes.append(("cursor", st.unquote_ident(m.group(1)).lower(),
                              m.group(2).strip()))
                i += 1
                continue
            m = re.fullmatch(r"OPEN\s+(`[^`]+`|\w+)", p, re.I)
            if m:
                nodes.append(("open", st.unquote_ident(m.group(1)).lower()))
                i += 1
                continue
            m = re.fullmatch(r"CLOSE\s+(`[^`]+`|\w+)", p, re.I)
            if m:
                nodes.append(("close", st.unquote_ident(m.group(1)).lower()))
                i += 1
                continue
            m = re.fullmatch(
                r"FETCH\s+(?:NEXT\s+FROM\s+|FROM\s+)?(`[^`]+`|\w+)"
                r"\s+INTO\s+(.+)$",
                p, re.I | re.S,
            )
            if m:
                targets = [
                    t.strip() for t in st.split_top_level(m.group(2), ",")
                ]
                nodes.append(("fetch", st.unquote_ident(m.group(1)).lower(),
                              targets))
                i += 1
                continue
            m = re.fullmatch(
                r"DECLARE\s+(CONTINUE|EXIT)\s+HANDLER\s+FOR\s+"
                r"(SQLEXCEPTION|SQLWARNING|NOT\s+FOUND"
                r"|SQLSTATE\s+(?:VALUE\s+)?'(\w+)'|\d+)"
                r"\s+(.+)$",
                p, re.I | re.S,
            )
            if m:
                if m.group(2).isdigit():
                    # MySQL error-code conditions: map the common
                    # corpus codes onto their standard SQLSTATEs (the
                    # code IS the condition in MySQL; this engine
                    # raises by SQLSTATE, so the map is the bridge)
                    state = self._ERRNO_SQLSTATE.get(int(m.group(2)))
                    if state is None:
                        raise NotImplementedError(
                            f"HANDLER FOR {m.group(2)}: unmapped MySQL "
                            "error code; use SQLSTATE or a class "
                            "condition (mapped codes: "
                            f"{sorted(self._ERRNO_SQLSTATE)})"
                        )
                    cond = ("state", state)
                else:
                    cond = (
                        ("state", m.group(3)) if m.group(3)
                        else ("class",
                              re.sub(r"\s+", " ", m.group(2)).upper())
                    )
                body = m.group(4).strip()
                bm = re.match(r"BEGIN(?:\s+(.+))?$", body, re.I | re.S)
                if bm:
                    # compound handler body: its own block scope —
                    # handlers/cursors declared inside expire with it,
                    # and (matching the single-statement path) a
                    # failure inside it propagates raw
                    if bm.group(1):
                        parts.insert(i + 1, bm.group(1))
                    blk, j = self._parse_proc_block(
                        parts, i + 1, stop=("END",))
                    if j >= len(parts):
                        raise ValueError("handler BEGIN without END")
                    nodes.append(("handler", m.group(1).lower(), cond,
                                  ("block", blk)))
                    i = j + 1
                    continue
                nodes.append(("handler", m.group(1).lower(), cond,
                              body))
                i += 1
                continue
            m = re.match(r"DECLARE\s+(`[^`]+`|\w+)\s+\S+"
                         r"(?:\([^)]*\))?(?:\s+DEFAULT\s+(.+))?$",
                         p, re.I | re.S)
            if m:
                nodes.append(("declare", st.unquote_ident(m.group(1)),
                              (m.group(2) or "NULL").strip()))
                i += 1
                continue
            m = re.fullmatch(r"IF\s+(.+?)\s+THEN", p, re.I | re.S)
            if m:
                branches = []
                cond = m.group(1)
                while True:
                    blk, j = self._parse_proc_block(
                        parts, i + 1, stop=("ELSEIF", "ELSE", "END IF"))
                    branches.append((cond, blk))
                    if j >= len(parts):
                        raise ValueError("IF without END IF")
                    nxt = parts[j].strip()
                    em = re.fullmatch(r"ELSEIF\s+(.+?)\s+THEN", nxt,
                                      re.I | re.S)
                    if em:
                        cond = em.group(1)
                        i = j
                        continue
                    if nxt.upper() == "ELSE":
                        eblk, j2 = self._parse_proc_block(
                            parts, j + 1, stop=("END IF",))
                        if j2 >= len(parts):
                            raise ValueError("ELSE without END IF")
                        nodes.append(("if", branches, eblk))
                        i = j2 + 1
                        break
                    nodes.append(("if", branches, []))
                    i = j + 1
                    break
                continue
            m = re.fullmatch(
                r"GET\s+(?:CURRENT\s+)?DIAGNOSTICS\s+"
                r"(CONDITION\s+1\s+)?(.+)$",
                p, re.I | re.S,
            )
            if m:
                # GET DIAGNOSTICS t = ROW_COUNT | NUMBER, …
                # GET DIAGNOSTICS CONDITION 1 t = RETURNED_SQLSTATE |
                #   MESSAGE_TEXT | MYSQL_ERRNO, … (handler bodies read
                #   the caught condition; reference corpus
                #   main_test.go:1071 exercises these GMS-side)
                items = []
                for part in st.split_top_level(m.group(2), ","):
                    im = re.fullmatch(
                        r"\s*(@?(?:`[^`]+`|\w+))\s*=\s*(\w+)\s*",
                        part, re.S,
                    )
                    if not im:
                        raise ValueError(
                            f"cannot parse GET DIAGNOSTICS item "
                            f"{part!r}"
                        )
                    items.append(
                        (im.group(1), im.group(2).upper())
                    )
                nodes.append(("getdiag", bool(m.group(1)), items))
                i += 1
                continue
            m = re.fullmatch(r"(?:(\w+)\s*:\s*)?WHILE\s+(.+?)\s+DO",
                             p, re.I | re.S)
            if m:
                blk, j = self._parse_proc_block(
                    parts, i + 1, stop=("END WHILE",))
                if j >= len(parts):
                    raise ValueError("WHILE without END WHILE")
                nodes.append(("while", m.group(2), blk, m.group(1)))
                i = j + 1
                continue
            nodes.append(("sql", p))
            i += 1
        if stop:
            raise ValueError(f"unterminated block (expected {stop})")
        return nodes, i

    def _fold_stored_functions(self, sql: str, dialect: str,
                               depth: int = 0) -> str:
        """Constant-fold calls to stored FUNCTIONs with compound
        bodies: arguments evaluate via Spark, the body runs through
        the procedure interpreter driver-side, and the RETURN value
        splices back as a typed literal. Column-argument calls (per
        ROW on a scan) reject with a pointer at macros — driver-side
        row loops do not scale to a distributed scan (the same law as
        nextval())."""
        if depth > 8:
            raise ValueError("stored function recursion too deep")
        procs = self._load_procedures()
        funcs = {k: v for k, v in procs.items() if v.get("returns")}
        if not funcs:
            return sql
        # locate call sites on the string-masked text so a function
        # name inside a literal or comment is never executed/spliced
        low = st.mask_strings(sql).lower()
        changed = False
        for fname, spec in funcs.items():
            if fname not in low:
                continue
            while True:
                masked = st.mask_strings(sql)
                m = re.search(rf"(?i)\b{re.escape(fname)}\s*\(", masked)
                if not m:
                    break
                op = m.end() - 1
                d2, close = 1, op + 1
                while close < len(masked) and d2:
                    if masked[close] == "(":
                        d2 += 1
                    elif masked[close] == ")":
                        d2 -= 1
                    close += 1
                close -= 1
                args = [x for x in st.split_top_level(
                    sql[op + 1:close], ",") if x.strip()]
                if len(args) != len(spec["params"]):
                    raise ValueError(
                        f"{spec['name']}: {len(args)} arguments for "
                        f"{len(spec['params'])} parameters")
                env: dict = {}
                for pdef, arg in zip(spec["params"], args):
                    pname = pdef[1] if isinstance(pdef, list) else pdef
                    try:
                        val = self.sql(
                            f"SELECT ({arg}) AS v").collect()[0][0]
                    except Exception as ex:
                        raise NotImplementedError(
                            f"stored function {spec['name']}() with a "
                            "non-constant argument executes per row — "
                            "not supported; use a macro (CREATE "
                            "FUNCTION ... RETURN expr) for row-level "
                            "logic"
                        ) from ex
                    env[pname.lower()] = self._render_literal(val)
                nodes, _ = self._parse_proc_block(
                    self._proc_normalize(
                        st.split_statements(spec["body"])))
                try:
                    self._run_proc_block(nodes, env, dialect)
                    raise ValueError(
                        f"FUNCTION {spec['name']} ended without "
                        "RETURN (MySQL 1321)")
                except _ProcReturn as r:
                    from myduckserver_spark.types import mysql_to_spark

                    ty = mysql_to_spark(
                        spec["returns"])[0].simpleString()
                    lit = self._render_literal(r.value)
                    repl = f"CAST({lit} AS {ty})"
                sql = sql[:m.start()] + repl + sql[close + 1:]
                changed = True
        # a substituted RETURN value may reference another function
        if changed and any(
            k in st.mask_strings(sql).lower() for k in funcs
        ):
            return self._fold_stored_functions(sql, dialect, depth + 1)
        return sql

    def _exec_procedure(self, s: "st.ProcedureStmt", dialect: str):
        procs = dict(self._load_procedures())
        if s.action == "create":
            if s.name.lower() in procs:
                raise ValueError(f"procedure {s.name} already exists")
            # parse now: unsupported control flow rejects at CREATE
            self._parse_proc_block(
                self._proc_normalize(st.split_statements(s.body))
            )
            procs[s.name.lower()] = {
                "name": s.name,
                "params": [[m, p] for m, p in s.params],
                "body": s.body,
            }
            if getattr(s, "returns", None):
                procs[s.name.lower()]["returns"] = s.returns
            self._save_procedures(procs)
            return OkResult()
        if s.action == "drop":
            if s.name.lower() in procs:
                procs.pop(s.name.lower())
                self._save_procedures(procs)
                return OkResult()
            macros = dict(self._load_macros())
            if s.name.lower() in macros:  # DROP FUNCTION lands here
                del macros[s.name.lower()]
                self._save_macros(macros)
                return OkResult()
            tfns = self._trig_fns()
            if s.name in tfns:  # pg trigger functions
                del tfns[s.name]
                self._save_trig_fns(tfns)
                return OkResult()
            if s.if_exists:
                return OkResult()
            raise ValueError(f"procedure or function {s.name} "
                             "does not exist")
        # CALL
        proc = procs.get(s.name.lower())
        if proc is None:
            raise ValueError(f"procedure {s.name} does not exist")
        if len(s.params) != len(proc["params"]):
            raise ValueError(
                f"CALL {s.name}: {len(s.params)} arguments for "
                f"{len(proc['params'])} parameters"
            )
        env: dict = {}
        outs: list = []
        for p, arg in zip(proc["params"], s.params):
            mode, pname = (p if isinstance(p, list) else ("in", p))
            if mode == "in":
                env[pname.lower()] = f"({arg})"
                continue
            # OUT/INOUT: the argument must be a user variable; the
            # local starts NULL (OUT) or at the variable's value
            # (INOUT) and is written back after the body runs
            vm = re.fullmatch(r"@(\w+)", arg.strip())
            if not vm:
                raise ValueError(
                    f"{mode.upper()} argument for {pname} must be a "
                    f"@variable, got {arg!r}"
                )
            env[pname.lower()] = (
                "NULL" if mode == "out"
                else self._render_literal(self.variables.get(vm.group(1)))
            )
            outs.append((pname.lower(), vm.group(1)))
        nodes, _ = self._parse_proc_block(
            self._proc_normalize(st.split_statements(proc["body"]))
        )
        try:
            result = self._run_proc_block(nodes, env, dialect)
        except (_ProcLeave, _ProcIterate) as e:
            kind = "LEAVE" if isinstance(e, _ProcLeave) else "ITERATE"
            raise ValueError(
                f"{kind} {e.label or ''} has no matching loop label"
            ) from None
        for pname, var in outs:
            self.variables[var] = self._proc_eval(env[pname], {}, dialect)
        return result

    @staticmethod
    def _parse_proc_select_into(sql: str, env: dict):
        """Detect ``SELECT ... INTO x[, y...]`` whose target list
        includes at least one declared local/OUT param (pure @-var
        lists keep the SelectIntoVars path). Returns
        (query-without-INTO, [lowercased names, '@'-prefixed for user
        vars]) or None."""
        masked = st.mask_strings(sql)
        m = re.search(
            r"\bINTO\s+((?:@?\w+|`[^`]+`)(?:\s*,\s*(?:@?\w+|`[^`]+`))*)"
            r"(?!\s*\()",
            masked, re.I,
        )
        if not m:
            return None
        raw = sql[m.start(1):m.end(1)]
        names = []
        any_local = False
        for piece in raw.split(","):
            p = piece.strip()
            if p.startswith("@"):
                names.append("@" + p[1:])
                continue
            nm = st.unquote_ident(p).lower()
            if nm not in env:
                return None  # not a known target list (e.g. INTO OUTFILE)
            names.append(nm)
            any_local = True
        if not any_local:
            return None
        query = (sql[: m.start()].rstrip() + " "
                 + sql[m.end():].lstrip()).strip()
        return query, names

    def _proc_sub(self, text: str, env: dict) -> str:
        for name, lit in env.items():
            text = st.sub_outside_strings(
                rf"\b{re.escape(name)}\b", lit, text, flags=re.I
            )
        return text

    # sentinel: local evaluation couldn't handle the expression
    _LOCAL_MISS = object()
    # NULL is deliberately absent: Python's None diverges from SQL
    # three-valued logic (`NOT (NULL = 1)` is NULL/falsy in SQL but
    # True in Python) — any NULL falls back to the Spark path.
    _LOCAL_KEYWORDS = {
        "AND": "and", "OR": "or", "NOT": "not",
        "TRUE": "True", "FALSE": "False",
    }
    _LOCAL_TOKEN = re.compile(
        r"'(?:[^']|'')*'|[A-Za-z_]\w*|\d+\.\d+|\d+"
        r"|<=|>=|<>|!=|=|<|>|[()+\-*/]"
    )

    @classmethod
    def _try_local_eval(cls, expr: str):
        """Evaluate a literals-only scalar expression in Python —
        procedure counters and conditions over locals shouldn't launch
        a Spark job each iteration. Anything beyond numbers, strings,
        arithmetic (+ - * /), comparisons, and AND/OR/NOT falls back
        to the Spark path (identifiers → functions/columns; '%' is
        excluded: SQL MOD sign follows the dividend, Python's the
        divisor)."""
        s = expr.strip()
        toks = cls._LOCAL_TOKEN.findall(s)
        if re.sub(r"\s+", "", "".join(toks)) != re.sub(r"\s+", "", s):
            return cls._LOCAL_MISS
        # mixed string/number operands diverge: SQL coerces ('5' = 5
        # is TRUE), Python compares types ('5' == 5 is False) — and
        # the except-fallback can't catch a WRONG boolean
        if any(t.startswith("'") for t in toks) and any(
            re.fullmatch(r"\d+\.\d+|\d+", t) for t in toks
        ):
            return cls._LOCAL_MISS
        py: list[str] = []
        for t in toks:
            if t.startswith("'"):
                py.append(repr(t[1:-1].replace("''", "'")))
            elif re.match(r"[A-Za-z_]", t):
                kw = cls._LOCAL_KEYWORDS.get(t.upper())
                if kw is None:
                    return cls._LOCAL_MISS
                py.append(kw)
            elif t == "=":
                py.append("==")
            elif t == "<>":
                py.append("!=")
            else:
                py.append(t)
        try:
            return eval(  # noqa: S307 - token whitelist above
                " ".join(py), {"__builtins__": {}}, {}
            )
        except Exception:
            return cls._LOCAL_MISS  # e.g. NULL comparison, div by zero

    def _proc_eval(self, expr: str, env: dict, dialect: str):
        sub = self._proc_sub(expr, env)
        v = self._try_local_eval(sub)
        if v is not self._LOCAL_MISS:
            return v
        return self.sql(
            f"SELECT ({sub}) AS v", dialect=dialect
        ).collect()[0][0]

    @staticmethod
    def _match_handler(handlers: list, exc: Exception):
        """Innermost matching handler for an error, resolved FRAME BY
        FRAME from the innermost block out (MySQL scoping: an inner
        SQLEXCEPTION handler beats an outer exact-SQLSTATE handler).
        Only WITHIN one frame does an exact SQLSTATE match beat class
        handlers (SQLEXCEPTION = any error; NOT FOUND = SQLSTATE class
        02; SQLWARNING = class 01 — which this engine never raises)."""
        state = getattr(exc, "sqlstate", None)
        frames: list[int] = []
        by_frame: dict[int, list] = {}
        for h in handlers:
            fid = id(h[0])
            if fid not in by_frame:
                by_frame[fid] = []
                frames.append(fid)
            by_frame[fid].append(h)
        for fid in reversed(frames):
            for want_exact in (True, False):
                for h in reversed(by_frame[fid]):
                    _owner, _mode, (ckind, cval), _stmt = h
                    if want_exact:
                        if ckind == "state" and state == cval:
                            return h
                        continue
                    if ckind != "class":
                        continue
                    if cval == "SQLEXCEPTION":
                        return h
                    if cval == "NOT FOUND" and state \
                            and state.startswith("02"):
                        return h
                    if cval == "SQLWARNING" and state \
                            and state.startswith("01"):
                        return h
        return None

    def _run_proc_block(self, nodes: list, env: dict, dialect: str,
                        handlers: list | None = None,
                        result: "OkResult | None" = None,
                        cursors: dict | None = None):
        """Interpret a parsed procedure body. Control flow runs
        driver-side (conditions are scalar SELECTs); every contained
        statement stays set-based — the loop count is procedural
        logic, never data volume.

        ``handlers`` is the live DECLARE … HANDLER stack shared down
        the recursion (MySQL scoping: a handler covers every statement
        in its block and the blocks nested inside it; it expires with
        its block). A failing leaf statement is rescued by the
        innermost matching handler — CONTINUE resumes after that
        statement, EXIT unwinds to the declaring block via _ProcExit.
        """
        result = OkResult() if result is None else result
        frame = object()
        handlers = [] if handlers is None else handlers
        cursors = {} if cursors is None else cursors
        scope_base = len(handlers)

        def rescue(e: Exception):
            h = self._match_handler(handlers, e)
            if h is None:
                raise e
            owner, mode, _cond, stmt = h
            # handler body: single statement or a BEGIN…END block (its
            # own scope), no handler rescue of its own (a failing
            # handler propagates raw). It is parsed — not passed
            # through as raw SQL — so GET DIAGNOSTICS CONDITION 1 and
            # RESIGNAL can read the caught condition, exposed for the
            # handler's duration as the active diagnostics area.
            prev_cond = getattr(self, "_diag_condition", None)
            self._diag_condition = e
            try:
                hnodes = (stmt[1] if isinstance(stmt, tuple)
                          else self._parse_proc_block([stmt])[0])
                self._run_proc_block(hnodes, env, dialect)
            finally:
                self._diag_condition = prev_cond
            if mode == "exit":
                raise _ProcExit(owner) from None

        try:
            for node in nodes:
                kind = node[0]
                if kind == "handler":
                    handlers.append((frame, node[1], node[2], node[3]))
                elif kind == "sql":
                    try:
                        sm = re.match(r"SET\s+(`[^`]+`|\w+)\s*=\s*(.+)$",
                                      node[1], re.I | re.S)
                        into = None
                        if sm is None and re.match(
                                r"SELECT\b", node[1], re.I):
                            into = self._parse_proc_select_into(
                                node[1], env)
                        if sm and st.unquote_ident(
                                sm.group(1)).lower() in env:
                            var = st.unquote_ident(sm.group(1)).lower()
                            env[var] = self._render_literal(
                                self._proc_eval(sm.group(2), env, dialect)
                            )
                        elif into is not None:
                            # SELECT ... INTO <local/param list>: the
                            # names are assignment TARGETS — strip the
                            # clause BEFORE value substitution, then
                            # bind the single result row (MySQL 1172
                            # on >1 row, NOT FOUND condition on 0)
                            query, names = into
                            rows = self.execute(
                                self._proc_sub(query, env),
                                dialect=dialect,
                            ).limit(2).collect()
                            if len(rows) > 1:
                                raise ValueError(
                                    "Result consisted of more than "
                                    "one row"
                                )
                            if not rows:
                                raise SignalError(
                                    "02000",
                                    "No data - zero rows fetched, "
                                    "selected, or processed",
                                )
                            if len(rows[0]) != len(names):
                                raise ValueError(
                                    "The used SELECT statements have "
                                    "a different number of columns "
                                    "than the INTO list"
                                )
                            for nm, val in zip(names, rows[0]):
                                if nm.startswith("@"):
                                    self.variables[nm[1:]] = val
                                else:
                                    env[nm] = self._render_literal(val)
                            result = OkResult(affected_rows=1)
                        else:
                            result = self.execute(
                                self._proc_sub(node[1], env),
                                dialect=dialect,
                            )
                    except (_ProcLeave, _ProcIterate, _ProcExit):
                        raise
                    except Exception as e:
                        rescue(e)
                elif kind == "declare":
                    try:
                        _k, name, default = node
                        env[name.lower()] = self._render_literal(
                            self._proc_eval(default, env, dialect)
                        )
                    except Exception as e:
                        rescue(e)
                elif kind == "return":
                    # stored-function RETURN: unwinds to the call fold
                    raise _ProcReturn(
                        self._proc_eval(node[1], env, dialect))
                elif kind == "signal":
                    try:
                        raise SignalError(node[1], node[2])
                    except SignalError as e:
                        rescue(e)
                elif kind == "resignal":
                    # re-raise the condition the active handler caught
                    # (optionally re-labeled) — MySQL's
                    # pass-it-up-after-inspection pattern; never
                    # rescued by the raising block's own handlers
                    exc = getattr(self, "_diag_condition", None)
                    if exc is None:
                        raise SignalError(
                            "0K000", "RESIGNAL when handler not active")
                    if node[1] or node[2]:
                        state = node[1] or getattr(
                            exc, "sqlstate", "45000")
                        msg = node[2] or getattr(
                            exc, "message_text", str(exc))
                        raise SignalError(state, msg) from exc
                    raise exc
                elif kind == "if":
                    _k, branches, else_blk = node
                    for cond, blk in branches:
                        if bool(self._proc_eval(cond, env, dialect)):
                            result = self._run_proc_block(
                                blk, env, dialect, handlers, result,
                                cursors)
                            break
                    else:
                        if else_blk:
                            result = self._run_proc_block(
                                else_blk, env, dialect, handlers, result,
                                cursors)
                elif kind == "while":
                    _k, cond, blk, label = node
                    it = 0
                    while bool(self._proc_eval(cond, env, dialect)):
                        it += 1
                        if it > self._PROC_MAX_ITER:
                            raise ValueError(
                                "WHILE exceeded "
                                f"{self._PROC_MAX_ITER} iterations"
                            )
                        res, xfer = self._run_loop_body(
                            blk, env, dialect, label, handlers, result,
                            cursors)
                        if res is not None:
                            result = res
                        if xfer == "leave":
                            break
                elif kind == "loop":
                    _k, label, blk = node
                    it = 0
                    while True:
                        it += 1
                        if it > self._PROC_MAX_ITER:
                            raise ValueError(
                                "LOOP exceeded "
                                f"{self._PROC_MAX_ITER} iterations "
                                "(no LEAVE reached)"
                            )
                        res, xfer = self._run_loop_body(
                            blk, env, dialect, label, handlers, result,
                            cursors)
                        if res is not None:
                            result = res
                        if xfer == "leave":
                            break
                elif kind == "repeat":
                    _k, label, blk, until = node
                    it = 0
                    while True:
                        it += 1
                        if it > self._PROC_MAX_ITER:
                            raise ValueError(
                                "REPEAT exceeded "
                                f"{self._PROC_MAX_ITER} iterations"
                            )
                        res, xfer = self._run_loop_body(
                            blk, env, dialect, label, handlers, result,
                            cursors)
                        if res is not None:
                            result = res
                        if xfer == "leave" or \
                                bool(self._proc_eval(until, env, dialect)):
                            break
                elif kind == "getdiag":
                    _k, is_cond, items = node
                    exc = getattr(self, "_diag_condition", None)
                    for tgt, item in items:
                        if is_cond:
                            if item == "RETURNED_SQLSTATE":
                                val = (getattr(exc, "sqlstate", None)
                                       or "HY000") if exc else None
                            elif item == "MESSAGE_TEXT":
                                val = (getattr(exc, "message_text",
                                               str(exc))
                                       if exc else None)
                            elif item == "MYSQL_ERRNO":
                                # user SIGNALs surface as 1644; any
                                # other engine error as generic 1105
                                val = ((1644 if isinstance(
                                    exc, SignalError) else 1105)
                                    if exc else 0)
                            else:
                                raise ValueError(
                                    "GET DIAGNOSTICS CONDITION 1 "
                                    f"item {item} is not supported "
                                    "(RETURNED_SQLSTATE / MESSAGE_"
                                    "TEXT / MYSQL_ERRNO)"
                                )
                        elif item == "ROW_COUNT":
                            val = getattr(self, "_last_affected", -1)
                        elif item == "NUMBER":
                            val = 1 if exc is not None else 0
                        else:
                            raise ValueError(
                                f"GET DIAGNOSTICS item {item} is not "
                                "supported (ROW_COUNT / NUMBER)"
                            )
                        name = st.unquote_ident(tgt.lstrip("@"))
                        if tgt.startswith("@"):
                            self.variables[name] = val
                        elif name.lower() in env:
                            env[name.lower()] = self._render_literal(val)
                        else:
                            raise ValueError(
                                f"GET DIAGNOSTICS INTO {tgt}: not a "
                                "declared local or @variable"
                            )
                elif kind == "block":
                    _k, label, blk = node
                    try:
                        # own recursion level = own frame: handlers
                        # declared inside expire on exit, and an inner
                        # class handler outranks an outer exact one
                        result = self._run_proc_block(
                            blk, env, dialect, handlers, result,
                            cursors)
                    except _ProcLeave as e:
                        # LEAVE <block_label> targets this block;
                        # anything else keeps unwinding
                        if not (label and e.label
                                and e.label.lower() == label.lower()):
                            raise
                elif kind == "cursor":
                    cursors[node[1]] = {"query": node[2], "rows": None,
                                        "pos": 0}
                elif kind == "open":
                    try:
                        cur = cursors.get(node[1])
                        if cur is None:
                            raise ValueError(
                                f"cursor {node[1]} is not declared")
                        rows = self.sql(
                            self._proc_sub(cur["query"], env),
                            dialect=dialect,
                        ).limit(self._CURSOR_MAX_ROWS + 1).collect()
                        if len(rows) > self._CURSOR_MAX_ROWS:
                            raise ValueError(
                                f"cursor {node[1]} exceeds "
                                f"{self._CURSOR_MAX_ROWS} rows — cursors "
                                "iterate on the driver; use set-based "
                                "DML for data-proportional work"
                            )
                        cur["rows"], cur["pos"] = rows, 0
                    except (_ProcLeave, _ProcIterate, _ProcExit):
                        raise
                    except Exception as e:
                        rescue(e)
                elif kind == "fetch":
                    try:
                        cur = cursors.get(node[1])
                        if cur is None or cur["rows"] is None:
                            raise ValueError(
                                f"cursor {node[1]} is not open")
                        if cur["pos"] >= len(cur["rows"]):
                            # MySQL error 1329 / SQLSTATE 02000 — the
                            # NOT FOUND condition handlers catch
                            raise SignalError(
                                "02000",
                                "No data - zero rows fetched, selected,"
                                " or processed",
                            )
                        row = cur["rows"][cur["pos"]]
                        cur["pos"] += 1
                        targets = node[2]
                        if len(targets) != len(row):
                            raise ValueError(
                                f"FETCH {node[1]}: {len(targets)} INTO "
                                f"targets for {len(row)} columns"
                            )
                        for tgt, val in zip(targets, row):
                            if tgt.startswith("@"):
                                self.variables[tgt[1:]] = val
                            elif tgt.lower() in env:
                                env[tgt.lower()] = \
                                    self._render_literal(val)
                            else:
                                raise ValueError(
                                    f"FETCH INTO {tgt}: not a declared "
                                    "local or @variable"
                                )
                    except (_ProcLeave, _ProcIterate, _ProcExit):
                        raise
                    except Exception as e:
                        rescue(e)
                elif kind == "close":
                    cur = cursors.get(node[1])
                    if cur is not None:
                        cur["rows"], cur["pos"] = None, 0
                elif kind == "leave":
                    raise _ProcLeave(node[1])
                elif kind == "iterate":
                    raise _ProcIterate(node[1])
        except _ProcExit as e:
            if e.owner is not frame:
                raise
        finally:
            del handlers[scope_base:]  # block-scoped handlers expire
        return result  # MySQL returns the last statement's result set

    def _run_loop_body(self, blk: list, env: dict, dialect: str,
                       label: str | None, handlers: list | None = None,
                       result: "OkResult | None" = None,
                       cursors: dict | None = None):
        """One iteration of a loop body; catches LEAVE/ITERATE aimed at
        this loop (matching label, or unlabeled → innermost). Returns
        (result_or_None, 'leave' | 'iterate' | None)."""
        try:
            return self._run_proc_block(
                blk, env, dialect, handlers, result, cursors), None
        except _ProcIterate as e:
            if e.label is None or (label and e.label.lower()
                                   == label.lower()):
                return None, "iterate"
            raise
        except _ProcLeave as e:
            if e.label is None or (label and e.label.lower()
                                   == label.lower()):
                return None, "leave"
            raise

    # ------------------------------------------------------------- macros
    # DuckDB-style scalar macros — the reference's UDF mechanism
    # (catalog/internal_macro.go:17-31; CREATE OR REPLACE MACRO on the
    # pg surface, pgserver/stmt.go:437-443). Untyped lazy templates:
    # call sites expand textually (token-level, string-literal-safe)
    # before planning, DuckDB's late-binding semantics.

    def _macros_path(self) -> str:
        return os.path.join(self._warehouse, "__macros.json")

    def _load_macros(self) -> dict:
        cached = getattr(self, "_macro_cache", None)
        if cached is not None:
            return cached
        p = self._macros_path()
        if os.path.exists(p):
            with open(p) as f:
                self._macro_cache = json.load(f)
        else:
            self._macro_cache = {}
        return self._macro_cache

    def _save_macros(self, m: dict) -> None:
        os.makedirs(self._warehouse, exist_ok=True)
        with open(self._macros_path(), "w") as f:
            json.dump(m, f)
        self._macro_cache = m

    # ---------------------------------------------------------- sequences
    # User-facing pg sequences: CREATE/DROP/ALTER SEQUENCE persisted in
    # warehouse metadata, nextval/currval/setval/lastval constant-folded
    # per statement occurrence against the persisted counter — the same
    # discipline as the AUTO_INCREMENT counter store. The reference gets
    # sequences through its pg→DuckDB passthrough and uses them itself
    # for AUTO_INCREMENT (catalog/table.go:219 CREATE SEQUENCE, :259/:413
    # nextval defaults, currval note at :802).

    def _sequences_path(self) -> str:
        return os.path.join(self._warehouse, "__sequences.json")

    def _load_sequences(self) -> dict:
        # No memo (unlike macros/triggers): counters mutate on every
        # nextval and a second Engine over the same warehouse must see
        # them — sequence statements are rare, the JSON is tiny, and a
        # stale counter means duplicate ids.
        p = self._sequences_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {}

    def _save_sequences(self, seqs: dict) -> None:
        os.makedirs(self._warehouse, exist_ok=True)
        with open(self._sequences_path(), "w") as f:
            json.dump(seqs, f)

    def _seq_state(self, name: str) -> dict:
        seqs = self._load_sequences()
        st_ = seqs.get(name)
        if st_ is None:
            raise ValueError(
                f'relation "{name}" does not exist (no such sequence)'
            )
        return st_

    def _seq_nextval(self, name: str) -> int:
        seqs = dict(self._load_sequences())
        s = dict(self._seq_state(name))
        inc = int(s["increment"])
        if not s["is_called"]:
            val = int(
                s["last_value"] if s["last_value"] is not None
                else s["start"]
            )
        else:
            val = int(s["last_value"]) + inc
            lo, hi = s["minvalue"], s["maxvalue"]
            if hi is not None and val > int(hi):
                if not s["cycle"]:
                    raise ValueError(
                        f'nextval: reached maximum value of sequence '
                        f'"{name}" ({hi})'
                    )
                val = int(lo) if lo is not None else 1
            if lo is not None and val < int(lo):
                if not s["cycle"]:
                    raise ValueError(
                        f'nextval: reached minimum value of sequence '
                        f'"{name}" ({lo})'
                    )
                val = int(hi) if hi is not None else -1
        s["last_value"], s["is_called"] = val, True
        seqs[name] = s
        self._save_sequences(seqs)
        self._seq_lastval = val
        return val

    def _seq_currval(self, name: str) -> int:
        s = self._seq_state(name)
        if not s["is_called"]:
            raise ValueError(
                f'currval of sequence "{name}" is not yet defined '
                "in this session"
            )
        return int(s["last_value"])

    def _seq_setval(self, name: str, value: int,
                    is_called: bool = True) -> int:
        seqs = dict(self._load_sequences())
        s = dict(self._seq_state(name))
        s["last_value"], s["is_called"] = int(value), bool(is_called)
        seqs[name] = s
        self._save_sequences(seqs)
        self._seq_lastval = int(value)
        return int(value)

    _SEQ_FN_RE = re.compile(
        r"(?i)\b(?:nextval|currval|setval|lastval)\s*\("
    )

    def _fold_sequence_funcs(self, sql: str) -> str:
        """Replace nextval/currval/setval/lastval calls with literal
        values BEFORE parse/translation. Each textual OCCURRENCE of
        nextval allocates independently, so a multi-row VALUES list
        gets per-row ids (pg parity); per-ROW allocation over a
        scanned input (nextval inside INSERT...SELECT / UPDATE /
        DELETE) is rejected with a pointer at AUTO_INCREMENT — a
        driver-side counter cannot scale to a distributed scan, which
        is exactly why AUTO_INCREMENT assignment lives in the write
        path instead."""
        masked = st.mask_strings(sql)
        if re.search(r"(?i)\bnextval\s*\(", masked):
            head = re.match(r"(?i)\s*(INSERT|REPLACE|UPDATE|DELETE)\b",
                            masked)
            per_row = head and (
                head.group(1).upper() in ("UPDATE", "DELETE")
                or re.search(r"(?i)\bSELECT\b", masked)
            )
            # A plain SELECT scanning an input (any FROM clause) would
            # also need per-ROW allocation — one literal per textual
            # occurrence would stamp every scanned row with the SAME
            # id, silently diverging from pg. The common FROM-less
            # `SELECT nextval('s')` probe stays allowed.
            if not head and re.search(r"(?i)\bFROM\b", masked):
                per_row = True
            if per_row:
                raise NotImplementedError(
                    "nextval() with per-row semantics (inside "
                    "INSERT...SELECT / UPDATE / DELETE, or a SELECT "
                    "with a FROM clause) is not supported — use an "
                    "AUTO_INCREMENT column for distributed id "
                    "assignment"
                )
        seq_lit = r"\(\s*'([^']+)'(?:\s*::\s*regclass)?\s*"

        def seq_key(raw: str) -> str:
            return st.normalize_seq_name(raw)

        def do_nextval(m: re.Match) -> str:
            return str(self._seq_nextval(seq_key(m.group(1))))

        def do_currval(m: re.Match) -> str:
            return str(self._seq_currval(seq_key(m.group(1))))

        sql = re.sub(r"(?i)\bnextval\s*" + seq_lit + r"\)",
                     do_nextval, sql)
        sql = re.sub(r"(?i)\bcurrval\s*" + seq_lit + r"\)",
                     do_currval, sql)
        # setval('s', expr[, bool]) — the expr may be a scalar subquery
        # (the classic post-COPY `setval('t_id_seq', (SELECT max(id)
        # FROM t))`), so scan balanced parens and evaluate via Spark.
        while True:
            m = re.search(r"(?i)\bsetval\s*\(", sql)
            if not m:
                break
            op = m.end() - 1
            masked2 = st.mask_strings(sql)
            depth, close = 1, op + 1
            while close < len(masked2) and depth:
                if masked2[close] == "(":
                    depth += 1
                elif masked2[close] == ")":
                    depth -= 1
                close += 1
            close -= 1
            args = st.split_top_level(sql[op + 1:close], ",")
            if len(args) not in (2, 3):
                raise ValueError("setval() takes 2 or 3 arguments")
            nm = re.match(
                r"\s*'([^']+)'(?:\s*::\s*regclass)?\s*$", args[0]
            )
            if nm is None:
                raise ValueError(
                    "setval(): first argument must be a sequence "
                    "name literal"
                )
            val = self.sql(
                f"SELECT CAST(({args[1]}) AS BIGINT) AS v"
            ).collect()[0][0]
            called = True
            if len(args) == 3:
                called = args[2].strip().lower() != "false"
            out = self._seq_setval(seq_key(nm.group(1)),
                                   int(val), called)
            sql = sql[:m.start()] + str(out) + sql[close + 1:]
        def do_lastval(m: re.Match) -> str:
            lv = getattr(self, "_seq_lastval", None)
            if lv is None:
                raise ValueError(
                    "lastval is not yet defined in this session"
                )
            return str(lv)

        sql = re.sub(r"(?i)\blastval\s*\(\s*\)", do_lastval, sql)
        return sql

    def _expand_macros(self, query: str, depth: int = 0) -> str:
        macros = self._load_macros()
        low = query.lower()
        if not macros or not any(n in low for n in macros):
            return query
        if depth > 8:
            raise ValueError(
                "macro/function expansion too deep — recursive stored "
                "functions and triggers are not allowed (MySQL 1424)"
            )
        from myduckserver_spark.functions.mysql_lexer import (
            match_paren,
            render,
            split_args,
            tokenize,
        )

        toks = tokenize(query)
        out: list[str] = []
        i = 0
        changed = False
        while i < len(toks):
            t = toks[i]
            if t.kind == "word" and t.text.lower() in macros:
                k = next(
                    (
                        j
                        for j in range(i + 1, len(toks))
                        if toks[j].kind not in ("ws", "comment")
                    ),
                    -1,
                )
                if k >= 0 and toks[k].kind == "op" and toks[k].text == "(":
                    close = match_paren(toks, k)
                    if close >= 0:
                        params, body = macros[t.text.lower()]
                        args = [
                            render(a).strip()
                            for a in split_args(toks, k, close)
                        ]
                        if args == [""]:
                            args = []
                        if len(args) != len(params):
                            raise ValueError(
                                f"macro {t.text} expects {len(params)} "
                                f"arguments, got {len(args)}"
                            )
                        pm = {
                            p.lower(): f"({a})"
                            for p, a in zip(params, args)
                        }
                        rep = [
                            pm.get(bt.text.lower(), bt.text)
                            if bt.kind == "word"
                            else bt.text
                            for bt in tokenize(body)
                        ]
                        out.append("(" + "".join(rep) + ")")
                        i = close + 1
                        changed = True
                        continue
            out.append(t.text)
            i += 1
        res = "".join(out)
        return self._expand_macros(res, depth + 1) if changed else res

    def _exec_dml_returning(
        self, body: str, returning: str, dialect: str
    ) -> DataFrame:
        """INSERT/UPDATE/DELETE ... RETURNING <exprs> (pg and DuckDB
        surface; the reference passes RETURNING through to DuckDB on
        its pg front door). The affected rows come from the versioned
        catalog's row-level diff (table_changes) between the
        before/after commits — INSERT returns new+upserted rows, UPDATE
        the post-images, DELETE the deleted rows — then the RETURNING
        expressions project over them. Needs a PRIMARY KEY (the
        diff's join key), like TABLE_CHANGES itself. No row order is
        guaranteed (pg guarantees none either)."""
        s = st.parse_statement(body)
        table = getattr(s, "table", None) or getattr(s, "name", None)
        if not table:
            raise ValueError("RETURNING: cannot resolve target table")
        v0 = self.catalog.table(table).version
        self._execute_one(body, dialect)
        v1 = self.catalog.table(table).version
        up = body.lstrip().upper()
        kinds = (
            ("delete",)
            if up.startswith("DELETE")
            # an UPDATE that assigns a PK column diffs as
            # delete+insert — the post-images are the insert rows
            else ("update_postimage", "insert")
            if up.startswith("UPDATE")
            else ("insert", "update_postimage")  # INSERT/REPLACE/upsert
        )
        if v1 == v0:
            changed = self.catalog.table(table).read().limit(0)
        else:
            changed = (
                self.table_changes(table, v0, v1)
                .filter(F.col("_change_type").isin(*kinds))
                .drop("_change_type")
            )
        exprs = [
            e.strip() for e in st.split_top_level(returning, ",") if e.strip()
        ]
        return changed.selectExpr(*(exprs or ["*"]))

    def _subquery_row_cap(
        self,
        table: str,
        pre: str,
        where: str,
        order_by: str | None,
        limit: int,
        dialect: str,
    ) -> str:
        """LIMIT cap for the SQL-text DML path: resolve the first
        `limit` matching PKs through full SQL planning (so subqueries /
        CTEs in `where` work) and return the equivalent PK-membership
        predicate. Mirrors _row_cap_cond; n is the user's explicit
        LIMIT, inherently small."""
        meta = self.table_meta(table)
        pks = self._limit_dml_pks(meta, table)
        order_clause = order_by if order_by else ", ".join(
            f"`{c}` ASC" for c in pks)
        rows = self.sql(
            f"{pre}SELECT {', '.join(f'`{c}`' for c in pks)} "
            f"FROM `{table}` "
            f"WHERE coalesce(({where}), false) "
            f"ORDER BY {order_clause} LIMIT {int(limit)}",
            dialect=dialect,
        ).collect()
        return self._pk_membership_sql(pks, [tuple(r) for r in rows])

    @staticmethod
    def _limit_dml_pks(meta, table: str) -> list[str]:
        """UPDATE/DELETE ... LIMIT needs a PRIMARY KEY to identify the
        first n rows (MySQL needs a deterministic order for LIMIT to
        be well-defined too); any arity works — membership collects
        the full key tuple."""
        pks = list(meta.primary_key or [])
        if not pks:
            raise ValueError(
                f"UPDATE/DELETE ... LIMIT needs a primary key on "
                f"{table}"
            )
        return pks

    def _pk_membership_sql(
        self, pks: list[str], rows: list[tuple], qual: str | None = None
    ) -> str:
        """Render an n-row PK-membership predicate (bounded by the
        user's explicit LIMIT): single-column keys as `pk IN (...)`,
        composite keys as an OR of per-row conjunctions (Spark's
        tuple-IN needs exact struct type equality, so literal
        conjunctions are the robust form)."""
        if not rows:
            return "FALSE"
        p = f"`{qual}`." if qual else ""
        if len(pks) == 1:
            vals = ", ".join(self._render_literal(v) for (v,) in rows)
            return f"{p}`{pks[0]}` IN ({vals})"
        terms = " OR ".join(
            "(" + " AND ".join(
                f"{p}`{c}` = {self._render_literal(v)}"
                for c, v in zip(pks, rid)
            ) + ")"
            for rid in rows
        )
        return f"({terms})"

    def _multi_row_cap(
        self,
        qual: str,
        table: str,
        refs: str,
        where: str | None,
        order_by: str | None,
        limit: int,
        pre: str,
        dialect: str,
    ) -> str:
        """LIMIT cap for MULTI-TABLE UPDATE/DELETE (GMS accepts ORDER
        BY/LIMIT on these forms, main_test.go:948/:989): resolve the
        first `limit` DISTINCT target PKs in join order — min
        row_number per PK over the user's ORDER BY (first match wins,
        mirroring MySQL's row-cap counting deleted/updated rows, not
        join matches) — and return the PK-membership predicate. The
        collect is bounded by the user's explicit LIMIT."""
        meta = self.table_meta(table)
        pks = self._limit_dml_pks(meta, table)
        pk_alias = [f"__pk_{j}" for j in range(len(pks))]
        pk_sel = ", ".join(
            f"`{qual}`.`{c}` AS {a}" for c, a in zip(pks, pk_alias))
        pk_grp = ", ".join(f"`{qual}`.`{c}`" for c in pks)
        order_clause = order_by if order_by else ", ".join(
            f"`{qual}`.`{c}` ASC" for c in pks)
        where_sql = f"WHERE {where} " if where else ""
        items = [
            i.strip() for i in st.split_top_level(order_clause, ",")
            if i.strip()
        ]
        dirs, exprs = [], []
        for it in items:
            dm = re.match(r"(.+?)\s+(ASC|DESC)$", it, re.I | re.S)
            if dm:
                exprs.append(dm.group(1))
                dirs.append(dm.group(2).upper())
            else:
                exprs.append(it)
                dirs.append("ASC")
        if len(set(dirs)) == 1:
            # Uniform direction: per-PK best sort key via MIN/MAX (a
            # STRUCT compares lexicographically for multi-key orders),
            # then a plain ORDER BY ... LIMIT — TakeOrderedAndProject,
            # no single-partition window, scale-safe at any match size.
            d = dirs[0]
            agg = "MIN" if d == "ASC" else "MAX"
            key = (
                f"STRUCT({', '.join(exprs)})"
                if len(exprs) > 1
                else exprs[0]
            )
            cap_sql = (
                f"{pre}SELECT {', '.join(pk_alias)} FROM ("
                f"SELECT {pk_sel}, {agg}({key}) AS __k "
                f"FROM {refs} {where_sql}"
                f"GROUP BY {pk_grp}) "
                f"ORDER BY __k {d}, {', '.join(pk_alias)} "
                f"LIMIT {int(limit)}"
            )
        else:
            # Mixed ASC/DESC keys: no aggregate expresses the
            # lexicographic best — global rank fallback (bounded by
            # the user's LIMIT; accepts the single-partition window).
            cap_sql = (
                f"{pre}SELECT {', '.join(pk_alias)} FROM ("
                f"SELECT {pk_sel}, "
                f"ROW_NUMBER() OVER (ORDER BY {order_clause}) AS __rn "
                f"FROM {refs} {where_sql}) "
                f"GROUP BY {', '.join(pk_alias)} "
                f"ORDER BY MIN(__rn) LIMIT {int(limit)}"
            )
        rows = self.sql(cap_sql, dialect=dialect).collect()
        return self._pk_membership_sql(
            pks, [tuple(r) for r in rows], qual=qual)

    # Above this many touched files the pruned rewrite stops paying
    # for itself (link bookkeeping + per-file scan setup) and the plain
    # whole-snapshot rewrite is simpler; DML that touches thousands of
    # files is a bulk rewrite anyway.
    _PRUNE_MAX_TOUCHED_FILES = 4096

    # Driver-side sequential chain walks (INSERT IGNORE / UPDATE
    # IGNORE / ON DUPLICATE KEY intra-batch resolution) are bounded
    # like cursors; the cap is enforced BEFORE materialization via
    # limit(cap+1).
    _CHAIN_WALK_CAP = 100_000

    def _pruned_dml_plan(
        self, table: str, pre: str, where: str, dialect: str
    ):
        """File-pruned DML rewrite plan: find which data files of the
        current snapshot actually hold rows matching ``where`` (exact,
        via input_file_name() on the matched rows — sharper than
        min/max pruning and partition-layout agnostic) and return
        (scan_view_name, carry_files): a temp view over ONLY the
        touched files plus the relative paths to carry over by link
        (catalog.overwrite_pruned). None = pruning can't help (single
        file, every file touched, or an unexpected path); callers fall
        back to the full-snapshot rewrite. The file-list collect is
        bounded by the snapshot's file count (itself bounded by the
        write parallelism), never by row count."""
        import urllib.parse

        t = self.catalog.table(table)
        all_files = t.data_files()
        if len(all_files) <= 1:
            return None
        base = t.snapshot_dir()
        rows = self.sql(
            f"{pre}SELECT DISTINCT input_file_name() AS f FROM `{table}` "
            f"WHERE coalesce(({where}), false)",
            dialect=dialect,
        ).limit(self._PRUNE_MAX_TOUCHED_FILES + 1).collect()
        if len(rows) > self._PRUNE_MAX_TOUCHED_FILES:
            return None
        touched: set[str] = set()
        for r in rows:
            p = urllib.parse.unquote(urllib.parse.urlparse(r.f).path)
            if not p.startswith(base + os.sep):
                return None
            touched.add(os.path.relpath(p, base))
        if len(touched) >= len(all_files):
            return None
        carry = [f for f in all_files if f not in touched]
        cols = [f.name for f in t.read().schema.fields]
        if touched:
            df = (
                self.spark.read.option("basePath", base)
                .parquet(*[os.path.join(base, f) for f in sorted(touched)])
                .select(*cols)
            )
        else:
            df = t.read().limit(0)
        view = f"__dml_pruned_{table}"
        df.createOrReplaceTempView(view)
        return view, carry

    def _narrow_ignore_key_conflicts(
        self, table: str, pre: str, where: str,
        assignments: dict[str, str], meta, key_targets, dialect: str,
    ) -> str:
        """UPDATE IGNORE narrowing for key conflicts: MySQL processes
        rows in order and SKIPS (with a warning) any row whose updated
        key already exists in the live index — including keys of rows
        the same statement has not yet moved. Conflicts against
        UNAFFECTED rows are order-independent and resolve as one
        distributed semi-join; conflicts among affected rows are a
        sequential chain walked driver-side over key columns only
        (pk-ascending — MySQL's usual scan order — bounded like
        cursors; row data never leaves the cluster)."""
        pks = list(meta.primary_key or [])
        if not pks:
            raise NotImplementedError(
                "UPDATE IGNORE assigning a key column needs a "
                f"PRIMARY KEY on {table}"
            )
        pk_alias = [f"__pk_{j}" for j in range(len(pks))]
        base_schema = self.catalog.table(table).read().schema
        sel = [f"`{c}` AS {a}" for c, a in zip(pks, pk_alias)]
        for i, (_iname, icols, _ex) in enumerate(key_targets):
            for c in icols:
                sel.append(f"`{c}` AS __o{i}_{c}")
                post = assignments.get(c)
                if post is None:
                    sel.append(f"`{c}` AS __n{i}_{c}")
                else:
                    dt = base_schema[c].dataType.simpleString()
                    sel.append(f"CAST(({post}) AS {dt}) AS __n{i}_{c}")
        aff = self.sql(
            f"{pre}SELECT {', '.join(sel)} FROM `{table}` "
            f"WHERE coalesce(({where}), false)",
            dialect=dialect,
        )
        # order-independent part: new key hits an unaffected row's key
        flag = F.lit(False)
        for i, (_iname, icols, null_exempt) in enumerate(key_targets):
            un = self.sql(
                f"{pre}SELECT {', '.join(f'`{c}`' for c in icols)} "
                f"FROM `{table}` WHERE NOT coalesce(({where}), false)",
                dialect=dialect,
            )
            if null_exempt:
                un = un.where(self._nonnull(icols))
            cond = None
            for c in icols:
                eq = F.col(f"__n{i}_{c}") == F.col(f"u.`{c}`")
                cond = eq if cond is None else (cond & eq)
            hit = (
                aff.join(un.alias("u"), cond, "left_semi")
                .select(*pk_alias).withColumn("__h", F.lit(True))
            )
            aff = aff.join(hit, pk_alias, "left").withColumn(
                f"__b{i}", F.coalesce("__h", F.lit(False))
            ).drop("__h")
            flag = flag | F.col(f"__b{i}")
        # cap BEFORE materializing: limit(cap+1) bounds the driver
        # transfer (the guard must prevent the memory cost, not
        # report it after the fact)
        rows = aff.withColumn("__bc", flag).limit(
            self._CHAIN_WALK_CAP + 1).collect()
        if len(rows) > self._CHAIN_WALK_CAP:
            raise NotImplementedError(
                "UPDATE IGNORE key-conflict resolution over "
                f">{self._CHAIN_WALK_CAP} affected rows: narrow the "
                "WHERE (sequential skip chains resolve driver-side)"
            )
        def _rid(r):
            return tuple(r[a] for a in pk_alias)

        live: list[dict] = []
        for i, (_iname, icols, null_exempt) in enumerate(key_targets):
            d = {}
            for r in rows:
                kv = tuple(r[f"__o{i}_{c}"] for c in icols)
                if null_exempt and any(v is None for v in kv):
                    continue
                d[kv] = _rid(r)
            live.append(d)
        skipped = []
        for r in sorted(rows, key=_rid):
            ok = not r["__bc"]
            if ok:
                for i, (_iname, icols, null_exempt) in enumerate(
                        key_targets):
                    nk = tuple(r[f"__n{i}_{c}"] for c in icols)
                    if null_exempt and any(v is None for v in nk):
                        continue
                    owner = live[i].get(nk)
                    if owner is not None and owner != _rid(r):
                        ok = False
                        break
            if not ok:
                skipped.append(_rid(r))
                continue
            for i, (_iname, icols, null_exempt) in enumerate(key_targets):
                ok_t = tuple(r[f"__o{i}_{c}"] for c in icols)
                nk = tuple(r[f"__n{i}_{c}"] for c in icols)
                if live[i].get(ok_t) == _rid(r):
                    del live[i][ok_t]
                if not (null_exempt and any(v is None for v in nk)):
                    live[i][nk] = _rid(r)
        if skipped:
            self._push_warning(
                1062,
                f"{len(skipped)} row(s) skipped by UPDATE IGNORE "
                "(duplicate key)", level="Warning",
            )
            if len(pks) == 1:
                ids = ", ".join(
                    self._render_literal(v) for (v,) in skipped)
                where = f"({where}) AND `{pks[0]}` NOT IN ({ids})"
            else:
                terms = " OR ".join(
                    "(" + " AND ".join(
                        f"`{c}` = {self._render_literal(v)}"
                        for c, v in zip(pks, rid)
                    ) + ")"
                    for rid in skipped
                )
                where = f"({where}) AND NOT ({terms})"
        return where

    def _exec_update_subquery(self, s: st.Update, dialect: str) -> OkResult:
        pre = f"{s.cte} " if s.cte else ""
        meta = self.table_meta(s.table)
        t = self.catalog.table(s.table)
        base = t.read()
        assignments = dict(s.assignments)
        for col, expr_text in meta.on_update.items():
            assignments.setdefault(col, expr_text)
        # BEFORE UPDATE triggers (SET NEW.c = expr): folded into the
        # assignment map in creation order. NEW.y means the
        # post-statement value of y (the assignment expression when y
        # is being set, the stored column otherwise); OLD.y is the
        # stored column — both resolve to plain SQL over the pre-image.
        guards: list = []
        before_stmts: list = []
        for tg in self._triggers_for(s.table, "update", "before"):
            for op in self._split_trigger_ops(
                    tg["body"], allow_stmts=True) or []:
                if op[0] == "stmt":
                    # side DML (e.g. audit INSERT): executed set-based
                    # over the old_/new_ image, after the statement's
                    # gates pass, before the overwrite (statement
                    # atomicity: a failing gate leaves no side effect)
                    before_stmts.append((tg["name"], op[1]))
                    continue
                if op[0] == "guard":
                    # snapshot the assignment map AS FOLDED SO FAR: a
                    # guard reading NEW.x must see statement order —
                    # a later `SET NEW.x = 0` in the body must not
                    # retroactively silence it (MySQL evaluates the
                    # body in order; the INSERT path already does)
                    guards.append((*op[1:], dict(assignments)))
                    continue
                for col, ex in self._split_set_new(
                        op[1], keep_refs=True).items():
                    def _new_ref(m, _a=dict(assignments)):
                        y = st.unquote_ident(m.group(1))
                        return f"({_a[y]})" if y in _a else f"`{y}`"
                    ex = re.sub(r"(?i)\bNEW\.(`[^`]+`|\w+)", _new_ref, ex)
                    ex = re.sub(r"(?i)\bOLD\.(`[^`]+`|\w+)", r"`\1`", ex)
                    assignments[col] = ex
        where = s.where or "TRUE"
        if s.limit is not None:
            where = self._subquery_row_cap(
                s.table, pre, where, s.order_by, s.limit, dialect
            )
        if s.ignore and (meta.checks or meta.not_null):
            # UPDATE IGNORE: rows whose POST-image violates a CHECK /
            # NOT NULL constraint are SKIPPED with a warning, not an
            # error (MySQL; reference GMS TestUpdateIgnore). Fold each
            # assignment into the constraint text and narrow WHERE.
            matched = where
            for cname, cexpr in meta.checks.items():
                post = cexpr
                for c, ex in assignments.items():
                    post = st.sub_outside_strings(
                        rf"(?<![\w`.])`?{re.escape(c)}`?(?![\w`])",
                        f"({ex})", post, flags=re.I,
                    )
                where = f"({where}) AND coalesce(({post}), false)"
            for col in meta.not_null:
                if col in assignments and col != meta.auto_increment:
                    where = (f"({where}) AND "
                             f"(({assignments[col]}) IS NOT NULL)")
            if where != matched:
                skipped = self.sql(
                    f"{pre}SELECT count(*) AS n FROM `{s.table}` "
                    f"WHERE coalesce(({matched}), false) "
                    f"AND NOT coalesce(({where}), false)",
                    dialect=dialect,
                ).collect()[0][0]
                if skipped:
                    self._push_warning(
                        3819,
                        f"{skipped} row(s) skipped by UPDATE IGNORE "
                        "(CHECK/NOT NULL constraint violated)",
                        level="Warning",
                    )
        if s.ignore:
            kt = self._unique_targets(meta, set(assignments))
            if kt:
                where = self._narrow_ignore_key_conflicts(
                    s.table, pre, where, assignments, meta, kt, dialect
                )
        # BEFORE UPDATE SIGNAL guards: one ANY scan over the affected
        # rows, BEFORE any file is written (statement-level rollback).
        # NEW.y = the value as assigned UP TO the guard's position in
        # the body (per-guard snapshot), OLD.y = the stored column.
        for cond, sqlstate, msg, snap in guards:
            gc = "TRUE" if cond is None else re.sub(
                r"(?i)\bNEW\.(`[^`]+`|\w+)",
                lambda m, _a=snap: (
                    f"({_a[st.unquote_ident(m.group(1))]})"
                    if st.unquote_ident(m.group(1)) in _a
                    else f"`{st.unquote_ident(m.group(1))}`"),
                cond,
            )
            gc = re.sub(r"(?i)\bOLD\.(`[^`]+`|\w+)", r"`\1`", gc)
            hit = self.sql(
                f"{pre}SELECT 1 FROM `{s.table}` "
                f"WHERE coalesce(({where}), false) "
                f"AND coalesce(({gc}), false) LIMIT 1",
                dialect=dialect,
            ).collect()
            if hit:
                raise SignalError(sqlstate, msg)
        sel = []
        for f in base.schema.fields:
            if f.name in assignments:
                sel.append(
                    f"CASE WHEN coalesce(({where}), false) THEN "
                    f"CAST(({assignments[f.name]}) AS {f.dataType.simpleString()}) "
                    f"ELSE `{f.name}` END AS `{f.name}`"
                )
            else:
                sel.append(f"`{f.name}`")
        n = self.sql(
            f"{pre}SELECT count(*) AS n FROM `{s.table}` "
            f"WHERE coalesce(({where}), false)",
            dialect=dialect,
        ).collect()[0][0]
        # AFTER UPDATE triggers: one pass builds BOTH images perfectly
        # row-paired (old_* = stored values, new_* = the CASE
        # assignments), materialized before the overwrite swaps files.
        trig_df = None
        if before_stmts or self._triggers_for(s.table, "update", "after"):
            pair = [
                f"`{f.name}` AS `old_{f.name}`"
                for f in base.schema.fields
            ] + [
                (f"CAST(({assignments[f.name]}) AS "
                 f"{f.dataType.simpleString()}) AS `new_{f.name}`"
                 if f.name in assignments
                 else f"`{f.name}` AS `new_{f.name}`")
                for f in base.schema.fields
            ]
            trig_df = self.sql(
                f"{pre}SELECT {', '.join(pair)} FROM `{s.table}` "
                f"WHERE coalesce(({where}), false)",
                dialect=dialect,
            ).localCheckpoint()
        # Pruned rewrite unless an assignment rewrites a hive-partition
        # column (rows could move between partition directories — the
        # full rewrite handles relocation).
        parts = set(t._read_pointer().get("partition_by") or ())
        # a key assignment forces the full rewrite: uniqueness is a
        # GLOBAL property, so the post-image check must see every row
        key_targets = self._unique_targets(meta, set(assignments))
        pruned = None
        if not (set(assignments) & parts) and not key_targets:
            pruned = self._pruned_dml_plan(s.table, pre, where, dialect)
        if pruned is not None:
            view, carry = pruned
            updated = self.sql(
                f"{pre}SELECT {', '.join(sel)} FROM {view} AS `{s.table}`",
                dialect=dialect,
            )
            self._enforce_checks(updated, meta, "UPDATE")
            self._run_trigger_stmts(before_stmts, trig_df)
            t.overwrite_pruned(updated, carry)
        else:
            updated = self.sql(
                f"{pre}SELECT {', '.join(sel)} FROM `{s.table}`",
                dialect=dialect,
            )
            self._enforce_checks(updated, meta, "UPDATE")
            if key_targets:
                self._enforce_unique_post(updated, key_targets, s.table)
            self._run_trigger_stmts(before_stmts, trig_df)
            t.overwrite(updated)
        self._recompute_generated(s.table, meta)
        self._fire_after_triggers(s.table, "update", trig_df)
        return OkResult(affected_rows=int(n))

    def _exec_delete_subquery(self, s: st.Delete, dialect: str) -> OkResult:
        pre = f"{s.cte} " if s.cte else ""
        where = s.where or "TRUE"
        if s.limit is not None:
            where = self._subquery_row_cap(
                s.table, pre, where, s.order_by, s.limit, dialect
            )
        # BEFORE DELETE triggers: SIGNAL guards (any to-be-deleted row
        # matching one blocks the whole statement before a file is
        # touched) plus side DML over the OLD image.
        before_stmts: list = []
        for tg in self._triggers_for(s.table, "delete", "before"):
            for op in self._split_trigger_ops(
                    tg["body"], allow_stmts=True) or []:
                if op[0] == "stmt":
                    before_stmts.append((tg["name"], op[1]))
                    continue
                _k, cond, sqlstate, msg = op
                gc = "TRUE" if cond is None else re.sub(
                    r"(?i)\bOLD\.(`[^`]+`|\w+)", r"`\1`", cond
                )
                hit = self.sql(
                    f"{pre}SELECT 1 FROM `{s.table}` "
                    f"WHERE coalesce(({where}), false) "
                    f"AND coalesce(({gc}), false) LIMIT 1",
                    dialect=dialect,
                ).collect()
                if hit:
                    raise SignalError(sqlstate, msg)
        n = self.sql(
            f"{pre}SELECT count(*) AS n FROM `{s.table}` "
            f"WHERE coalesce(({where}), false)",
            dialect=dialect,
        ).collect()[0][0]
        t = self.catalog.table(s.table)
        trig_df = None
        if before_stmts or self._triggers_for(s.table, "delete", "after"):
            trig_df = self._prefix_cols(
                self.sql(
                    f"{pre}SELECT * FROM `{s.table}` "
                    f"WHERE coalesce(({where}), false)",
                    dialect=dialect,
                ), "old_",
            ).localCheckpoint()
        self._run_trigger_stmts(before_stmts, trig_df)
        pruned = self._pruned_dml_plan(s.table, pre, where, dialect)
        if pruned is not None:
            view, carry = pruned
            kept = self.sql(
                f"{pre}SELECT * FROM {view} AS `{s.table}` "
                f"WHERE NOT coalesce(({where}), false)",
                dialect=dialect,
            )
            t.overwrite_pruned(kept, carry)
        else:
            kept = self.sql(
                f"{pre}SELECT * FROM `{s.table}` "
                f"WHERE NOT coalesce(({where}), false)",
                dialect=dialect,
            )
            t.overwrite(kept)
        self._fire_after_triggers(s.table, "delete", trig_df)
        return OkResult(affected_rows=int(n))

    def _exec_update_multi(self, s: st.Update, dialect: str) -> OkResult:
        refs = s.from_text or ""
        alias_map = st.parse_table_refs(refs)
        if not alias_map:
            raise ValueError(f"cannot parse UPDATE table refs: {refs!r}")
        quals = {k.split(".", 1)[0] for k in s.assignments if "." in k}
        if len(quals) > 1:
            raise ValueError(
                "UPDATE may only target one table per statement "
                f"(got SET qualifiers {sorted(quals)})"
            )
        qual = quals.pop() if quals else next(iter(alias_map))
        target = alias_map.get(qual, qual)
        meta = self.table_meta(target)
        if not meta.primary_key:
            raise ValueError(
                f"multi-table UPDATE needs a PRIMARY KEY on {target} "
                "to match joined rows back"
            )
        pk = meta.primary_key
        t = self.catalog.table(target)
        base = t.read()
        sets = {k.split(".", 1)[-1]: v for k, v in s.assignments.items()}
        sel = [f"`{qual}`.`{c}` AS `{c}`" for c in pk]
        for col, expr in sets.items():
            dt = base.schema[col].dataType.simpleString()
            sel.append(f"CAST(({expr}) AS {dt}) AS `__set_{col}`")
        pre = f"{s.cte} " if s.cte else ""
        where_text = s.where
        if s.limit is not None:
            cap = self._multi_row_cap(
                qual, target, refs, s.where, s.order_by, s.limit, pre,
                dialect,
            )
            where_text = f"({s.where}) AND {cap}" if s.where else cap
        where = f" WHERE {where_text}" if where_text else ""
        upd = (
            self.sql(
                f"{pre}SELECT {', '.join(sel)} FROM {refs}{where}",
                dialect=dialect,
            )
            # A target row joined to several rows updates once (MySQL
            # picks an arbitrary match); dropDuplicates models that.
            .dropDuplicates(pk)
            .withColumn("__matched", F.lit(True))
        )
        n = upd.count()
        # No broadcast hint: the matched set is usually small (AQE will
        # broadcast it), but a broad UPDATE can match most of the table
        # and must be allowed to shuffle.
        joined = base.join(upd, pk, "left")
        # Trigger support (reference fires triggers under multi-table
        # DML via GMS, main_test.go:1053): `newval` maps each touched
        # column to its post-image SQL over the joined row — statement
        # SETs land in the __set_* columns; BEFORE UPDATE trigger SETs
        # fold on top in creation order (NEW.y = post-image so far,
        # OLD.y = stored column). Guards run as one ANY scan of the
        # matched rows with a per-guard snapshot, like the
        # single-table path.
        newval: dict[str, str] = {c: f"`__set_{c}`" for c in sets}
        guards: list = []
        before_stmts: list = []
        for tg in self._triggers_for(target, "update", "before"):
            for op in self._split_trigger_ops(
                    tg["body"], allow_stmts=True) or []:
                if op[0] == "stmt":
                    # full-body support (reference fires these via GMS,
                    # main_test.go:1053): side DML runs set-based over
                    # the joined old/new image before the overwrite
                    before_stmts.append((tg["name"], op[1]))
                    continue
                if op[0] == "guard":
                    guards.append((*op[1:], dict(newval)))
                    continue
                for col, ex in self._split_set_new(
                        op[1], keep_refs=True).items():
                    def _new_ref(m, _a=dict(newval)):
                        y = st.unquote_ident(m.group(1))
                        return f"({_a[y]})" if y in _a else f"`{y}`"
                    ex = re.sub(r"(?i)\bNEW\.(`[^`]+`|\w+)", _new_ref, ex)
                    ex = re.sub(r"(?i)\bOLD\.(`[^`]+`|\w+)", r"`\1`", ex)
                    newval[col] = f"({ex})"
        matched = joined.where(F.col("__matched"))
        for cond, sqlstate, msg, snap in guards:
            gc = "TRUE" if cond is None else re.sub(
                r"(?i)\bNEW\.(`[^`]+`|\w+)",
                lambda m, _a=snap: (
                    f"({_a[st.unquote_ident(m.group(1))]})"
                    if st.unquote_ident(m.group(1)) in _a
                    else f"`{st.unquote_ident(m.group(1))}`"),
                cond,
            )
            gc = re.sub(r"(?i)\bOLD\.(`[^`]+`|\w+)", r"`\1`", gc)
            if matched.where(F.expr(f"coalesce(({gc}), false)")).take(1):
                raise SignalError(sqlstate, msg)
        new_cols = {}
        for col, txt in newval.items():
            new_cols[col] = (
                F.when(F.col("__matched"), F.expr(txt))
                .otherwise(F.col(col))
                .cast(base.schema[col].dataType)
            )
        for col, expr_text in meta.on_update.items():
            if col not in newval:
                new_cols[col] = (
                    F.when(F.col("__matched"), self._fragment(expr_text))
                    .otherwise(F.col(col))
                    .cast(base.schema[col].dataType)
                )
        trig_df = None
        if before_stmts or self._triggers_for(target, "update", "after"):
            def _post(c):
                if c in newval:
                    return F.expr(newval[c])
                if c in meta.on_update:
                    return self._fragment(meta.on_update[c])
                return F.col(c)

            pair = [
                F.col(c).alias(f"old_{c}") for c in base.columns
            ] + [
                _post(c).cast(base.schema[c].dataType).alias(f"new_{c}")
                for c in base.columns
            ]
            trig_df = matched.select(pair).localCheckpoint()
        final_df = joined.withColumns(new_cols).select(*base.columns)
        # same statement-atomic gates as the single-table path: CHECK /
        # NOT NULL on the post-image, and ER_DUP_ENTRY when a PK or
        # UNIQUE column is among the assigned columns
        self._enforce_checks(final_df, meta, "UPDATE")
        key_targets = self._unique_targets(meta, set(new_cols))
        if key_targets:
            self._enforce_unique_post(final_df, key_targets, target)
        self._run_trigger_stmts(before_stmts, trig_df)
        t.overwrite(final_df)
        self._recompute_generated(target, meta)
        self._fire_after_triggers(target, "update", trig_df)
        return OkResult(affected_rows=n)

    def _exec_delete_multi(self, s: st.Delete, dialect: str) -> OkResult:
        refs = s.from_text or ""
        alias_map = st.parse_table_refs(refs)
        pre = f"{s.cte} " if s.cte else ""
        where_text = s.where
        if s.limit is not None:
            targets = s.targets or [s.table]
            if len(targets) != 1:
                raise ValueError(
                    "DELETE ... LIMIT allows exactly one target table"
                )
            raw = targets[0]
            table = alias_map.get(raw, raw)
            qual = raw if raw in alias_map else table
            cap = self._multi_row_cap(
                qual, table, refs, s.where, s.order_by, s.limit, pre,
                dialect,
            )
            where_text = f"({s.where}) AND {cap}" if s.where else cap
        where = f" WHERE {where_text}" if where_text else ""
        # Resolve every target and plan its kept-set against the
        # PRE-delete snapshots before any overwrite (the join is
        # evaluated once in MySQL; versioned storage keeps the old
        # snapshot readable while later targets write). Triggers fire
        # per target (reference runs them via GMS, main_test.go:1053):
        # BEFORE DELETE guards block the whole statement before any
        # write; AFTER DELETE old-images are materialized pre-write.
        plans: list[tuple] = []
        for raw in s.targets or [s.table]:
            table = alias_map.get(raw, raw)
            qual = raw if raw in alias_map else table
            matched = self.sql(
                f"{pre}SELECT DISTINCT `{qual}`.* FROM {refs}{where}",
                dialect=dialect,
            )
            before_stmts: list = []
            for tg in self._triggers_for(table, "delete", "before"):
                for op in self._split_trigger_ops(
                        tg["body"], allow_stmts=True) or []:
                    if op[0] == "stmt":
                        before_stmts.append((tg["name"], op[1]))
                        continue
                    _k, cond, sqlstate, msg = op
                    gc = "TRUE" if cond is None else re.sub(
                        r"(?i)\bOLD\.(`[^`]+`|\w+)", r"`\1`", cond
                    )
                    if matched.where(
                        F.expr(f"coalesce(({gc}), false)")
                    ).take(1):
                        raise SignalError(sqlstate, msg)
            trig_df = None
            if before_stmts or self._triggers_for(
                    table, "delete", "after"):
                trig_df = self._prefix_cols(
                    matched, "old_"
                ).localCheckpoint()
            base = self.catalog.table(table).read()
            b, m = base.alias("__b"), matched.alias("__m")
            cond = None
            for c in base.columns:
                clause = b[c].eqNullSafe(m[c])
                cond = clause if cond is None else (cond & clause)
            kept = b.join(m, cond, "left_anti")
            n = base.count() - kept.count()
            plans.append((table, kept, n, trig_df, before_stmts))
        total = 0
        for table, kept, n, trig_df, before_stmts in plans:
            self._run_trigger_stmts(before_stmts, trig_df)
            self.catalog.table(table).overwrite(kept)
            total += n
        for table, _kept, _n, trig_df, _bs in plans:
            self._fire_after_triggers(table, "delete", trig_df)
        return OkResult(affected_rows=total)

    def _exec_merge(self, s: st.MergeStmt, dialect: str) -> OkResult:
        """MERGE INTO: one join pass decides update/delete/keep per
        target row; a NOT EXISTS pass selects insertable source rows.

        Same physical shape Delta Lake's MERGE uses (join + full
        rewrite), which is the scale-correct strategy for a snapshot
        store: the join shuffles on the ON keys, the rewrite is one
        pass. Standard semantics enforced: a target row matching >1
        source rows raises (Postgres 'cannot affect row a second
        time'); WHEN clauses apply first-match in declaration order.
        Reference parity: REPLACE/ON DUPLICATE (loaddata.go:131-143)
        and the CDC upsert path (delta/controller.go) are special
        cases of this statement.
        """
        t = self.catalog.table(s.target)
        base = t.read()
        meta = self.table_meta(s.target)
        schema = base.schema
        ta, sa = f"`{s.target_alias}`", f"`{s.source_alias}`"

        if s.source_text.lstrip().startswith("("):
            inner = s.source_text.strip()[1:-1]
            src = self.sql(inner, dialect=dialect)
        else:
            src = self.sql(
                f"SELECT * FROM `{st.unquote_ident(s.source_text)}`",
                dialect=dialect,
            )
        src.createOrReplaceTempView("__merge_src")
        # Pin target row identity across the two passes (rid is assigned
        # once; localCheckpoint makes it deterministic for re-use).
        tgt = base.withColumn("__rid", F.monotonically_increasing_id())
        tgt = tgt.localCheckpoint(eager=True)
        tgt.createOrReplaceTempView("__merge_tgt")

        matched = [w for w in s.whens if w.kind == "matched"]
        by_source = [w for w in s.whens if w.kind == "not_matched_by_source"]
        not_matched = [w for w in s.whens if w.kind == "not_matched"]

        def _tr(text: str) -> str:
            return translate_mysql(text) if dialect == "mysql" else text

        def _pred(w: st.MergeWhen) -> str:
            """First-match predicate for a matched/by_source clause (CASE
            ordering supplies the 'first' part)."""
            anchor = (
                f"{sa}.`__smatch`"
                if w.kind == "matched"
                else f"{sa}.`__smatch` IS NULL"
            )
            if w.cond:
                return f"({anchor}) AND coalesce(({_tr(w.cond)}), false)"
            return anchor

        n_upd = n_del = n_ins = 0
        result = base
        if matched or by_source:
            ordered = [w for w in s.whens if w.kind != "not_matched"]
            sel: list[str] = []
            for f in schema.fields:
                branches = []
                for w in ordered:
                    if w.action == "update":
                        if w.star:
                            val = f"{sa}.`{f.name}`"
                        else:
                            val = (
                                _tr(w.assignments[f.name])
                                if f.name in (w.assignments or {})
                                else f"{ta}.`{f.name}`"
                            )
                        branches.append(
                            f"WHEN {_pred(w)} THEN "
                            f"CAST(({val}) AS {f.dataType.simpleString()})"
                        )
                    else:  # delete / nothing keep target value
                        branches.append(
                            f"WHEN {_pred(w)} THEN {ta}.`{f.name}`"
                        )
                sel.append(
                    "CASE " + " ".join(branches) + f" ELSE {ta}.`{f.name}` END"
                    f" AS `{f.name}`"
                )
            act_branches = [
                f"WHEN {_pred(w)} THEN '{w.action}'" for w in ordered
            ]
            sel.append(
                "CASE " + " ".join(act_branches) + " ELSE 'keep' END AS `__act`"
            )
            joined_sql = (
                f"SELECT {', '.join(sel)}, {ta}.`__rid` AS `__rid` "
                f"FROM __merge_tgt AS {ta} LEFT JOIN "
                f"(SELECT *, true AS `__smatch` FROM __merge_src) AS {sa} "
                f"ON {_tr(s.on)}"
            )
            joined = self.spark.sql(joined_sql).localCheckpoint(eager=True)
            dup = (
                joined.groupBy("__rid")
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    "MERGE command cannot affect row a second time: a "
                    "target row matched more than one source row"
                )
            counts = {
                r["__act"]: r["n"]
                for r in joined.groupBy("__act")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            n_upd = int(counts.get("update", 0))
            n_del = int(counts.get("delete", 0))
            result = (
                joined.filter(F.col("__act") != "delete")
                .drop("__act", "__rid")
            )

        if not_matched:
            ins_parts: list[str] = []
            conds = [
                f"coalesce(({_tr(w.cond)}), false)" if w.cond else "true"
                for w in not_matched
            ]
            for f in schema.fields:
                branches = []
                for w, cnd in zip(not_matched, conds):
                    if w.action == "nothing":
                        continue
                    if w.star:
                        val = f"{sa}.`{f.name}`"
                    elif w.insert_cols is not None:
                        vmap = dict(zip(w.insert_cols, w.insert_vals))
                        val = (
                            _tr(vmap[f.name])
                            if f.name in vmap
                            else self._render_literal(meta.defaults.get(f.name))
                        )
                    else:
                        # INSERT VALUES(...) with no column list: positional
                        pos = [x.name for x in schema.fields].index(f.name)
                        val = (
                            _tr(w.insert_vals[pos])
                            if pos < len(w.insert_vals)
                            else "NULL"
                        )
                    branches.append(
                        f"WHEN {cnd} THEN "
                        f"CAST(({val}) AS {f.dataType.simpleString()})"
                    )
                ins_parts.append(
                    "CASE " + " ".join(branches) + " END" f" AS `{f.name}`"
                    if branches
                    else f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
                )
            insert_branch = [
                f"WHEN {cnd} THEN '{w.action}'"
                for w, cnd in zip(not_matched, conds)
            ]
            ins_sql = (
                f"SELECT {', '.join(ins_parts)}, "
                "CASE " + " ".join(insert_branch) + " ELSE 'skip' END AS `__act` "
                f"FROM __merge_src AS {sa} WHERE NOT EXISTS "
                f"(SELECT 1 FROM __merge_tgt AS {ta} WHERE {_tr(s.on)})"
            )
            inserts = (
                self.spark.sql(ins_sql)
                .filter(F.col("__act") == "insert")
                .drop("__act")
            )
            if meta.auto_increment and all(
                meta.auto_increment not in (w.insert_cols or [])
                and not w.star
                and w.insert_cols is not None
                for w in not_matched
                if w.action == "insert"
            ):
                ai = meta.auto_increment
                start_row = base.agg(F.max(F.col(ai)).alias("m")).collect()[0]
                start = (start_row["m"] or 0) + 1
                # partition-parallel dense numbering (globalrank), not
                # an unpartitioned window — see insert_auto_increment
                inserts = self._assign_dense_ids(
                    inserts, ai, start, schema[ai].dataType
                )
            inserts = inserts.localCheckpoint(eager=True)
            n_ins = inserts.count()
            result = result.unionByName(inserts.select(*[f.name for f in schema.fields]))

        t.overwrite(result.select(*[f.name for f in schema.fields]))
        self._recompute_generated(s.target, meta)
        for v in ("__merge_src", "__merge_tgt"):
            self.spark.catalog.dropTempView(v)
        return OkResult(affected_rows=n_upd + n_del + n_ins)

    # ------------------------------------------------- SQL statement router
    # The text-level analog of the reference's plan dispatch
    # (backend/executor.go:74-165): queries go to Catalyst, DDL/DML to
    # engine code, SHOW/SET/USE to the session.

    def execute(self, sql: str, dialect: str = "mysql"):
        """Execute one or more ';'-separated statements.

        Returns a DataFrame for queries/SHOW, an OkResult for DDL/DML;
        a list of those when the script has multiple statements.
        """
        stmts = st.split_statements(sql, hash_comments=(dialect == "mysql"))
        if not stmts:
            return OkResult(info="empty")
        results = []
        # The diagnostics area (SHOW WARNINGS buffer) resets at each
        # TOP-LEVEL statement that isn't itself a diagnostics read —
        # nested execute() calls (trigger bodies, procedure statements)
        # must not wipe notes their siblings just pushed.
        top_level = not getattr(self, "_in_execute", False)
        self._in_execute = True
        try:
            for s in stmts:
                if top_level and not re.match(
                    r"(?i)\s*SHOW\s+(?:COUNT\s*\(\s*\*\s*\)\s+)?"
                    r"(?:WARNINGS|ERRORS)\b", s
                ):
                    self._session_warnings = []
                r = self._execute_one(s, dialect)
                # ROW_COUNT() bookkeeping: DML leaves its affected
                # count, any other statement resets to MySQL's -1.
                self._last_affected = (
                    r.affected_rows if isinstance(r, OkResult) else -1
                )
                # LAST_INSERT_ID() keeps its value until the next
                # id-assigning statement (MySQL session semantics)
                if isinstance(r, OkResult) and r.last_insert_id:
                    self._last_insert_id = r.last_insert_id
                results.append(r)
        finally:
            if top_level:
                self._in_execute = False
        return results[-1] if len(results) == 1 else results

    def _push_warning(self, code: int, message: str,
                      level: str = "Note") -> None:
        """Append to the session diagnostics area (SHOW WARNINGS)."""
        buf = getattr(self, "_session_warnings", None)
        if buf is None:
            buf = self._session_warnings = []
        buf.append((level, code, message))

    # pg GUC defaults served to current_setting() probes (BI tools and
    # drivers call it during handshake — the reference shims it eagerly
    # with a precompiled regex, pgserver/in_place_handler.go:26,136-200).
    _PG_SETTING_DEFAULTS = {
        "server_version": "15.0",
        "server_version_num": "150000",
        "search_path": '"$user", public',
        "timezone": "UTC",
        "datestyle": "ISO, MDY",
        "client_encoding": "UTF8",
        "standard_conforming_strings": "on",
        "integer_datetimes": "on",
        "max_identifier_length": "63",
        "application_name": "",
        "is_superuser": "on",
        "transaction_isolation": "read committed",
        "bytea_output": "hex",
        "intervalstyle": "postgres",
        "extra_float_digits": "1",
    }

    _DEFAULT_FN_RE = re.compile(r"(?i)\bDEFAULT\s*\(\s*([\w`]+)\s*\)")

    def _fold_default_fn(self, sql: str) -> str:
        """MySQL DEFAULT(col) → the column's declared default from
        TableMeta, resolved against the statement's primary table
        (INSERT INTO t / UPDATE t / REPLACE INTO t / FROM t). Columns
        without a declared default raise MySQL 1364."""
        tm = re.search(
            r"(?i)\b(?:INSERT\s+(?:IGNORE\s+)?INTO|UPDATE(?:\s+IGNORE)?"
            r"|REPLACE\s+INTO|DELETE\s+FROM|FROM)\s+(`[^`]+`|[\w.]+)",
            st.mask_strings(sql),
        )
        if tm is None:
            return sql
        table = st.unquote_ident(tm.group(1)).split(".")[-1]
        try:
            meta = self.table_meta(table)
        except Exception:
            return sql

        def repl(m: re.Match) -> str:
            col = st.unquote_ident(m.group(1))
            if col in meta.on_update and meta.defaults.get(col) is None:
                return str(meta.on_update[col])
            d = meta.defaults.get(col)
            if d is None:
                raise ValueError(
                    f"Field '{col}' doesn't have a default value "
                    "(MySQL 1364)"
                )
            if isinstance(d, str):
                # proper SQL literal — repr() would emit a Python-style
                # escaped string for values containing a quote
                return "'" + d.replace("'", "''") + "'"
            return str(d)

        return self._DEFAULT_FN_RE.sub(repl, sql)

    def _fold_current_setting(self, query: str) -> str:
        """Constant-fold current_setting('name'[, missing_ok]) against
        session variables, falling back to pg GUC defaults; unknown
        parameters raise pg's error unless missing_ok is true."""
        def repl(m: re.Match) -> str:
            name = m.group(1).lower()
            missing_ok = (m.group(2) or "").strip().lower() == "true"
            val = self.variables.get(name)
            if val is None:
                val = self._PG_SETTING_DEFAULTS.get(name)
            if val is None:
                if missing_ok:
                    return "CAST(NULL AS STRING)"
                raise ValueError(
                    f'unrecognized configuration parameter "{name}"'
                )
            return "'" + str(val).replace("'", "''") + "'"

        return re.sub(
            r"(?i)\bcurrent_setting\s*\(\s*'([^']+)'\s*"
            r"(?:,\s*(true|false)\s*)?\)",
            repl, query,
        )

    def _fold_pg_sizes(self, query: str) -> str:
        """pg_database_size / pg_table_size / pg_total_relation_size:
        fold to the on-disk bytes of the warehouse / table snapshot
        directory (BI dashboards chart these at connect)."""
        def du(path: str) -> int:
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
            return total

        def repl(m: re.Match) -> str:
            kind, arg = m.group(1).lower(), m.group(2)
            name = st.unquote_ident(arg.strip().strip("'"))
            if kind == "database":
                cat = self._dbs.get(name)
                if cat is None:
                    raise ValueError(f'database "{name}" does not exist')
                return str(du(cat.root))
            t = self.catalog.table(name)
            if not t.exists():
                raise ValueError(f'relation "{name}" does not exist')
            return str(du(os.path.join(self.catalog.root, name)))

        return re.sub(
            r"(?i)\bpg_(database|table|total_relation)_size\s*\(\s*"
            r"('[^']*'|[\w.]+)\s*(?:::\s*regclass\s*)?\)",
            repl, query,
        )

    def _rewrite_session_funcs(self, query: str) -> str:
        """Constant-fold the session-state functions MySQL evaluates
        engine-side: DATABASE()/SCHEMA() (current db), ROW_COUNT()
        (last DML's affected count, -1 otherwise), LAST_INSERT_ID()
        (the session's last assigned auto id), FOUND_ROWS() (the
        un-LIMITed count of the last SQL_CALC_FOUND_ROWS query;
        DOCUMENTED DIVERGENCE: in a fresh session with no prior
        SELECT it returns -1 where MySQL returns the last-SELECT
        count — tracking every SELECT's row count would force an
        extra count job per query),
        USER()/CURRENT_USER()/SESSION_USER() (the session principal —
        'root@localhost' in the unrestricted default, the
        set_session_user principal otherwise)."""
        if not re.search(
            r"(?i)\b(?:DATABASE|SCHEMA|ROW_COUNT|FOUND_ROWS"
            r"|LAST_INSERT_ID|(?:CURRENT_|SESSION_)?USER)\s*\(", query
        ):
            return query
        query = st.sub_outside_strings(
            r"\bLAST_INSERT_ID\s*\(\s*\)",
            str(getattr(self, "_last_insert_id", 0)),
            query, flags=re.I,
        )
        # one-arg form: LAST_INSERT_ID(expr) SETS the session value to
        # expr and returns it (MySQL 12.16). Folded for constant
        # expressions; the per-row sequence-emulation pattern
        # (LAST_INSERT_ID(col + 1) inside an UPDATE) is rejected with
        # a clear error instead of falling through to Spark, which has
        # no such function.
        masked = st.mask_strings(query)
        pos = 0
        while True:
            m = re.search(r"\bLAST_INSERT_ID\s*\(", masked[pos:], re.I)
            if not m:
                break
            start, op = pos + m.start(), pos + m.end() - 1
            depth_p, j = 1, op + 1
            while j < len(masked) and depth_p:
                if masked[j] == "(":
                    depth_p += 1
                elif masked[j] == ")":
                    depth_p -= 1
                j += 1
            inner = query[op + 1:j - 1].strip()
            if not inner:
                pos = j
                continue
            try:
                val = self.sql(
                    f"SELECT CAST(({inner}) AS BIGINT) AS v"
                ).collect()[0][0]
            except Exception as e:  # noqa: BLE001 — report the form
                raise NotImplementedError(
                    "LAST_INSERT_ID(expr) supports constant "
                    "expressions only (evaluates, stores and returns "
                    f"the value); could not evaluate {inner!r}"
                ) from e
            self._last_insert_id = int(val or 0)
            query = query[:start] + str(int(val or 0)) + query[j:]
            masked = st.mask_strings(query)
            pos = start + len(str(int(val or 0)))
        who = getattr(self, "_session_user", None) or "'root'@'localhost'"
        query = st.sub_outside_strings(
            r"\b(?:CURRENT_USER|SESSION_USER|USER)\s*\(\s*\)",
            self._render_literal(who.replace("'", "")),
            query, flags=re.I,
        )
        # bare CURRENT_USER (no parens) is also valid MySQL
        query = st.sub_outside_strings(
            r"\bCURRENT_USER\b(?!\s*\()",
            self._render_literal(who.replace("'", "")),
            query, flags=re.I,
        )
        db = self._render_literal(self.current_db)
        query = st.sub_outside_strings(
            r"\b(?:DATABASE|SCHEMA)\s*\(\s*\)", db, query, flags=re.I
        )
        query = st.sub_outside_strings(
            r"\bROW_COUNT\s*\(\s*\)",
            str(getattr(self, "_last_affected", -1)),
            query, flags=re.I,
        )
        query = st.sub_outside_strings(
            r"\bFOUND_ROWS\s*\(\s*\)",
            str(getattr(self, "_found_rows", -1)),
            query, flags=re.I,
        )
        return query

    @staticmethod
    def _strip_top_limit(q: str) -> str:
        """Remove a depth-0 trailing LIMIT [n [OFFSET m] | m, n]."""
        mask = st.mask_strings(q)
        depth = 0
        for m in re.finditer(r"[()]|\bLIMIT\b", mask, re.I):
            t = m.group(0)
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0:
                tail = mask[m.end():]
                if re.fullmatch(
                    r"\s+\d+(\s*,\s*\d+|\s+OFFSET\s+\d+)?\s*", tail, re.I
                ):
                    return q[: m.start()].rstrip()
        return q

    @staticmethod
    def _render_literal(v) -> str:
        """Python value → SQL literal text (for user-var interpolation)."""
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, (int, float, decimal.Decimal)):
            return str(v)
        return "'" + str(v).replace("'", "''") + "'"

    def _substitute_user_vars(self, query: str) -> str:
        """Inline @var / @@var references outside quoted regions.

        MySQL evaluates user variables per-statement; with Catalyst as
        the engine the cheapest faithful model is constant-folding them
        into the text before parse (unset vars → NULL, as MySQL does).
        """
        out: list[str] = []
        i, n = 0, len(query)
        quote: str | None = None
        while i < n:
            c = query[i]
            if quote:
                out.append(c)
                if c == quote:
                    quote = None
                elif c == "\\" and quote in "'\"" and i + 1 < n:
                    out.append(query[i + 1])
                    i += 1
                i += 1
                continue
            if c in "'\"`":
                quote = c
                out.append(c)
                i += 1
                continue
            m = re.match(r"(@{1,2})([A-Za-z_][\w.]*)", query[i:])
            if m:
                name = m.group(2)
                if m.group(1) == "@@":
                    # @@session.x / @@global.x / @@local.x are scope
                    # spellings of the same variable
                    name = re.sub(
                        r"(?i)^(?:session|global|local)\.", "", name)
                out.append(
                    self._render_literal(self.variables.get(name)))
                i += m.end()
                continue
            out.append(c)
            i += 1
        return "".join(out)

    def _resolve_order_refs(
        self,
        order_text: str,
        items: list[tuple[str, str | None, bool]],
    ) -> str:
        """Resolve ORDER BY ordinals and select-list aliases to their
        underlying expressions, for reuse inside a window OVER clause.

        `ORDER BY 1` at the top level means "first select item" in
        MySQL, but inside `OVER (ORDER BY 1 ...)` it is the constant 1
        — copying it verbatim silently breaks running totals; an alias
        is simply unresolvable there. Ordering by the assignment item
        itself (by ordinal or alias) is circular and raises.
        """
        from myduckserver_spark.functions.mysql_lexer import tokenize

        toks = tokenize(order_text)
        parts: list[list] = [[]]
        depth = 0
        for t in toks:
            if t.kind == "op" and t.text == "(":
                depth += 1
            elif t.kind == "op" and t.text == ")":
                depth -= 1
            if depth == 0 and t.kind == "op" and t.text == ",":
                parts.append([])
            else:
                parts[-1].append(t)
        out_parts: list[str] = []
        for part in parts:
            sig = [t for t in part if t.kind not in ("ws", "comment")]
            direction = ""
            if sig and sig[-1].is_word("ASC", "DESC"):
                direction = " " + sig[-1].text.upper()
                sig = sig[:-1]
            target: tuple[str, str | None, bool] | None = None
            if len(sig) == 1 and sig[0].kind == "num":
                try:
                    pos = int(sig[0].text)
                except ValueError:
                    pos = 0
                if not (1 <= pos <= len(items)):
                    raise ValueError(
                        f"ORDER BY position {sig[0].text} is out of range"
                    )
                target = items[pos - 1]
            elif len(sig) == 1 and sig[0].kind in ("word", "bq"):
                name = sig[0].text.strip("`").replace("``", "`").lower()
                target = next(
                    (
                        it
                        for it in items
                        if it[1] is not None and it[1].lower() == name
                    ),
                    None,
                )
            if target is None:
                out_parts.append(
                    " ".join(t.text for t in sig).strip() + direction
                )
                continue
            expr_text, _alias, is_assign = target
            if is_assign:
                raise NotImplementedError(
                    "ORDER BY referencing a user-variable assignment "
                    "column cannot drive its own running-total window"
                )
            out_parts.append(f"({expr_text}){direction}")
        return ", ".join(p for p in out_parts if p)

    def _rewrite_user_var_assignments(
        self, query: str
    ) -> tuple[str, list[tuple[str, str]]]:
        """SELECT @x := expr  ->  aliased expression + post-exec update.

        MySQL evaluates user-variable assignment per row, left to
        right; after the statement the variable holds its value from
        the last row produced (reference corpus exercises this via GMS
        user-variable tests). Two faithful Spark translations:

        * non-self-referential `@x := e`: `e` runs as a plain select
          item; the engine sets @x from the final result row.
        * additive self-reference `@x := @x + e` (the running-total /
          row-counter idiom): rewritten to
          `SUM(e) OVER (ORDER BY <query order> ROWS UNBOUNDED
          PRECEDING) + <current @x>` — the scale-correct plan (a
          partition-parallel window instead of a serial row scan), and
          NULL-faithful (unset @x is NULL, NULL + e stays NULL, as in
          MySQL).

        Returns (rewritten_sql, [(var_name, result_column_name), ...]).
        Assignments outside the top-level select list raise — MySQL
        allows them but their side effects have no sane parallel
        translation.
        """
        from myduckserver_spark.functions.mysql_lexer import (
            render,
            tokenize,
        )

        toks = tokenize(query)
        sig = [
            (i, t) for i, t in enumerate(toks) if t.kind not in ("ws", "comment")
        ]

        # locate top-level clause boundaries + outer ORDER BY text
        depth = 0
        select_at = from_at = setop_at = select_end = None
        order_span: tuple[int, int] | None = None
        k = 0
        while k < len(sig):
            i, t = sig[k]
            if t.kind == "op" and t.text == "(":
                depth += 1
            elif t.kind == "op" and t.text == ")":
                depth -= 1
            elif depth == 0 and t.kind == "word":
                u = t.text.upper()
                if u == "SELECT" and select_at is None:
                    select_at = i
                elif u == "FROM" and from_at is None:
                    from_at = i
                elif u in ("UNION", "EXCEPT", "INTERSECT") and setop_at is None:
                    setop_at = i
                if (
                    select_at is not None
                    and i > select_at
                    and select_end is None
                    and u in ("FROM", "WHERE", "GROUP", "HAVING", "ORDER",
                              "LIMIT", "UNION", "EXCEPT", "INTERSECT", "FOR")
                ):
                    select_end = i
                if (
                    u == "ORDER"
                    and k + 1 < len(sig)
                    and sig[k + 1][1].is_word("BY")
                ):
                    start = sig[k + 2][0] if k + 2 < len(sig) else len(toks)
                    end = len(toks)
                    d2 = 0
                    for j in range(start, len(toks)):
                        tj = toks[j]
                        if tj.kind == "op" and tj.text == "(":
                            d2 += 1
                        elif tj.kind == "op" and tj.text == ")":
                            d2 -= 1
                        elif (
                            d2 == 0
                            and tj.kind == "word"
                            and tj.text.upper() in ("LIMIT", "FOR")
                        ):
                            end = j
                            break
                    order_span = (start, end)
            k += 1

        order_text = (
            render(toks[order_span[0] : order_span[1]]).strip()
            if order_span
            else ""
        )

        # Parse the top-level select list into (expr_text, alias,
        # is_assignment) items so ORDER BY ordinals ("ORDER BY 1") and
        # select-list aliases ("ORDER BY rn") can be resolved to real
        # expressions before they are copied into a window OVER clause
        # (a window ordered by the literal 1 silently computes a wrong
        # running total; an alias is unresolvable inside OVER).
        items: list[tuple[str, str | None, bool]] = []
        if select_at is not None:
            lo = select_at + 1
            hi = select_end if select_end is not None else len(toks)
            # skip a leading DISTINCT/ALL qualifier
            spans: list[tuple[int, int]] = []
            d2 = 0
            st_i = lo
            for j in range(lo, hi):
                tj = toks[j]
                if tj.kind == "op" and tj.text == "(":
                    d2 += 1
                elif tj.kind == "op" and tj.text == ")":
                    d2 -= 1
                elif d2 == 0 and tj.kind == "op" and tj.text == ",":
                    spans.append((st_i, j))
                    st_i = j + 1
            spans.append((st_i, hi))
            for a, b in spans:
                isig = [
                    toks[j]
                    for j in range(a, b)
                    if toks[j].kind not in ("ws", "comment")
                ]
                if isig and isig[0].is_word("DISTINCT", "ALL"):
                    isig = isig[1:]
                is_assign = any(
                    e.kind == "uservar"
                    and x + 1 < len(isig)
                    and isig[x + 1].kind == "op"
                    and isig[x + 1].text == ":="
                    for x, e in enumerate(isig)
                )
                alias = None
                expr_sig_end = len(isig)
                if (
                    len(isig) >= 3
                    and isig[-2].is_word("AS")
                    and isig[-1].kind in ("word", "bq")
                ):
                    alias = isig[-1].text.strip("`").replace("``", "`")
                    expr_sig_end = len(isig) - 2
                elif (
                    len(isig) >= 2
                    and isig[-1].kind in ("word", "bq")
                    and isig[-1].text.upper() not in _NOT_ALIAS_WORDS
                    and _ends_value(isig[-2])
                ):
                    alias = isig[-1].text.strip("`").replace("``", "`")
                    expr_sig_end = len(isig) - 1
                expr_text = " ".join(
                    e.text for e in isig[:expr_sig_end]
                ).strip()
                items.append((expr_text, alias, is_assign))
        out: list[str] = []
        assigns: list[tuple[str, str]] = []
        depth = 0
        i = 0
        n = len(toks)
        while i < n:
            t = toks[i]
            if t.kind == "op" and t.text == "(":
                depth += 1
            elif t.kind == "op" and t.text == ")":
                depth -= 1
            nxt = next(
                (
                    j
                    for j in range(i + 1, n)
                    if toks[j].kind not in ("ws", "comment")
                ),
                None,
            )
            if not (
                t.kind == "uservar"
                and nxt is not None
                and toks[nxt].kind == "op"
                and toks[nxt].text == ":="
            ):
                out.append(t.text)
                i += 1
                continue
            var = t.text[1:]
            in_select_list = (
                depth == 0
                and select_at is not None
                and i > select_at
                and (from_at is None or i < from_at)
            )
            if not in_select_list:
                raise NotImplementedError(
                    "user-variable assignment is only supported in the "
                    "top-level select list (SELECT @x := ...)"
                )
            if setop_at is not None:
                # UNION/EXCEPT/INTERSECT name the result columns from
                # the first branch and interleave branch rows, so
                # "last-row value" has no faithful translation; MySQL
                # itself deprecates assignment-in-SELECT for this.
                raise NotImplementedError(
                    "user-variable assignment is not supported in "
                    "queries with UNION/EXCEPT/INTERSECT"
                )
            # expression span: after ':=' to top-level ',' / clause kw
            # / implicit alias (a bare identifier directly after a
            # value-ending token, MySQL's `expr alias` form).
            j = nxt + 1
            d2 = 0
            expr_start = j
            prev_sig = None
            while j < n:
                tj = toks[j]
                if tj.kind == "op" and tj.text == "(":
                    d2 += 1
                elif tj.kind == "op" and tj.text == ")":
                    if d2 == 0:
                        break
                    d2 -= 1
                elif d2 == 0 and tj.kind == "op" and tj.text == ",":
                    break
                elif (
                    d2 == 0
                    and tj.kind == "word"
                    and tj.text.upper()
                    in ("FROM", "WHERE", "GROUP", "HAVING", "ORDER",
                        "LIMIT", "UNION", "AS")
                ):
                    break
                elif (
                    d2 == 0
                    and tj.kind in ("word", "bq")
                    and tj.text.upper() not in _NOT_ALIAS_WORDS
                    and prev_sig is not None
                    and _ends_value(prev_sig)
                ):
                    break  # implicit alias: SELECT @x := v total
                if tj.kind not in ("ws", "comment"):
                    prev_sig = tj
                j += 1
            expr_toks = toks[expr_start:j]
            raw = render(expr_toks).strip()
            # `@x := e AS name`: keep the user's alias as the result
            # column; otherwise synthesize MySQL's header text.
            user_alias = None
            if j < n and toks[j].is_word("AS"):
                anext = next(
                    (
                        m
                        for m in range(j + 1, n)
                        if toks[m].kind not in ("ws", "comment")
                    ),
                    None,
                )
                if anext is not None and toks[anext].kind in ("word", "bq"):
                    user_alias = toks[anext].text.strip("`").replace("``", "`")
            elif (
                j < n
                and toks[j].kind in ("word", "bq")
                and not toks[j].is_word(
                    "FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
                    "UNION",
                )
            ):
                # implicit alias (`SELECT @x := v total`): the alias
                # token itself flows through the main loop unchanged.
                user_alias = toks[j].text.strip("`").replace("``", "`")
            alias = user_alias or f"@{var} := {raw}"
            expr_sig = [
                e for e in expr_toks if e.kind not in ("ws", "comment")
            ]
            self_ref = any(
                e.kind == "uservar" and e.text[1:].lower() == var.lower()
                for e in expr_sig
            )
            if self_ref:
                rest = None
                if (
                    len(expr_sig) >= 3
                    and expr_sig[0].kind == "uservar"
                    and expr_sig[0].text[1:].lower() == var.lower()
                    and expr_sig[1].kind == "op"
                    and expr_sig[1].text == "+"
                ):
                    first = next(
                        idx
                        for idx, e in enumerate(expr_toks)
                        if e is expr_sig[1]
                    )
                    rest = render(expr_toks[first + 1 :]).strip()
                elif (
                    len(expr_sig) >= 3
                    and expr_sig[-1].kind == "uservar"
                    and expr_sig[-1].text[1:].lower() == var.lower()
                    and expr_sig[-2].kind == "op"
                    and expr_sig[-2].text == "+"
                ):
                    last = next(
                        idx
                        for idx, e in enumerate(expr_toks)
                        if e is expr_sig[-2]
                    )
                    rest = render(expr_toks[:last]).strip()
                if rest is None:
                    raise NotImplementedError(
                        "self-referential user-variable assignment is "
                        "only supported for additive running totals "
                        "(@x := @x + expr)"
                    )
                init = self._render_literal(self.variables.get(var))
                win_order = (
                    self._resolve_order_refs(order_text, items)
                    if order_text
                    else ""
                )
                over = (
                    f"ORDER BY {win_order} " if win_order else ""
                ) + "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
                repl = f"(SUM({rest}) OVER ({over}) + {init})"
            else:
                repl = f"({raw})"
            if user_alias is None:
                out.append(f"{repl} AS `{alias.replace('`', '``')}`")
            else:
                out.append(repl)  # the source's own AS <alias> follows
            assigns.append((var, alias))
            i = j
        return "".join(out), assigns

    def _exec_select_into_outfile(
        self, s: "st.SelectIntoOutfile", dialect: str
    ) -> "OkResult":
        """SELECT ... INTO OUTFILE: run the query, export ONE file with
        MySQL text defaults (tab separator, \\N nulls, no header, no
        quoting unless ENCLOSED BY). Spark writes a directory of parts;
        they are concatenated in part order, which preserves a global
        ORDER BY (sorted writes emit range-partitioned, numbered parts).
        The single-file contract is the MySQL front-door behavior — at
        scale COPY TO (parquet/csv directory) is the export path."""
        import shutil
        import tempfile

        if os.path.exists(s.path):
            raise ValueError(f"File '{s.path}' already exists")  # MySQL errs
        df = self.sql(s.query, dialect=dialect)
        tmp = tempfile.mkdtemp(prefix="outfile_")
        try:
            w = (
                df.write.option("sep", s.fields_sep)
                .option("nullValue", "\\N")
                .option("emptyValue", "")
                .option("header", False)
                .option("lineSep", s.lines_term)
            )
            if s.enclosed:
                w = w.option("quote", s.enclosed).option("quoteAll", True)
            else:
                w = w.option("quote", "")
            out_dir = os.path.join(tmp, "parts")
            w.csv(out_dir)
            n_rows = 0
            with open(s.path, "wb") as dst:
                for part in sorted(os.listdir(out_dir)):
                    if not part.startswith("part-"):
                        continue
                    with open(os.path.join(out_dir, part), "rb") as src:
                        data = src.read()
                        n_rows += data.count(s.lines_term.encode())
                        dst.write(data)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return OkResult(affected_rows=n_rows, info=f"exported to {s.path}")

    _WRITE_STMTS = None  # populated lazily below

    @staticmethod
    def _sysvar_truthy(v) -> bool:
        """MySQL boolean system variables accept ON/OFF/TRUE/FALSE and
        0/1 (as ints or strings); 'OFF' is truthy as a Python string, so
        a raw truth test would leave `SET read_only = OFF` permanently
        read-only."""
        if isinstance(v, str):
            return v.strip().upper() not in ("", "0", "OFF", "FALSE")
        return bool(v)

    # ----------------------------------------------------- authorization
    # The reference enforces privileges at the wire via its auth
    # plugin + GMS checks (plugin/auth.go); this library engine keeps
    # the unrestricted single-principal default, but a host that
    # switches the session principal (set_session_user — what a wire
    # layer would do at connect) gets real enforcement against the
    # same grant registry GRANT/REVOKE maintain. Granularity: per
    # target table for DML/DDL; for reads, ANY select-capable grant
    # scoped to the session database admits SELECT/SHOW in it
    # (SELECT references arbitrarily many tables — MySQL checks each;
    # resolving every relation out of raw SQL is the wire layer's
    # parser job, so the documented unit here is the database).

    def set_session_user(self, user: str | None) -> None:
        """Switch the session principal; None or root restores the
        unrestricted default. Unknown principals are refused (MySQL
        ER_ACCESS_DENIED at connect)."""
        if user is None or re.match(r"(?i)\s*['\"`]?root\b", user):
            self._session_user = None
            return
        spec = st._user_spec(user)
        if spec not in self._load_users():
            raise PermissionError(f"Access denied for user {spec}")
        self._session_user = spec

    def _check_privileges(self, s) -> None:
        user = getattr(self, "_session_user", None)
        if user is None:
            return
        if isinstance(s, st.UserStmt):
            # account management stays with the unrestricted principal
            raise PermissionError(
                f"Access denied; user {user} needs the (root) "
                "single-principal session for account management"
            )
        tgt = None
        for attr in ("table", "name", "target"):
            tgt = getattr(s, attr, None)
            if isinstance(tgt, str) and tgt:
                break
            tgt = None
        need: list[tuple[str, str | None]] = []
        if isinstance(s, st.Insert):
            need = [("INSERT", tgt)]
        elif isinstance(s, st.Update):
            need = [("UPDATE", tgt)]
        elif isinstance(s, st.Delete):
            need = [("DELETE", tgt)]
        elif isinstance(s, st.MergeStmt):
            need = [("INSERT", tgt), ("UPDATE", tgt), ("DELETE", tgt)]
        elif isinstance(s, st.LoadData):
            need = [("INSERT", tgt)]
        elif isinstance(s, (st.Truncate, st.DropTable, st.DropView)):
            need = [("DROP", tgt)]
        elif isinstance(s, (st.CreateTable, st.CreateTableAs,
                            st.CreateTableLike, st.CreateView,
                            st.CreateMatView)):
            need = [("CREATE", tgt)]
        elif isinstance(s, (st.AlterTable, st.AlterTableMulti,
                            st.RenameTable,
                            st.CreateIndex, st.DropIndex)):
            need = [("ALTER", tgt)]
        elif isinstance(s, (st.Query, st.Show)):
            need = [("SELECT", None)]
        for priv, table in need:
            if not self._has_privilege(user, priv, table):
                what = f"table '{table}'" if table else \
                    f"database '{self.current_db}'"
                raise PermissionError(
                    f"{priv} command denied to user {user} for {what}"
                )

    def _has_privilege(self, user: str, priv: str, table: str | None
                       ) -> bool:
        for g in self._load_users().get(user, {}).get("grants", []):
            privs = {p.strip().upper()
                     for p in g.get("privs", "").split(",")}
            if not ({"ALL", "ALL PRIVILEGES", priv} & privs):
                continue
            tgt = g.get("on", "*.*")
            if "." in tgt:
                tdb, _, ttbl = tgt.partition(".")
            else:
                tdb, ttbl = self.current_db, tgt
            tdb = st.unquote_ident(tdb)
            ttbl = st.unquote_ident(ttbl)
            if tdb != "*" and tdb.lower() != self.current_db.lower():
                continue
            if ttbl == "*" or table is None \
                    or ttbl.lower() == table.lower():
                return True
        return False

    def _check_read_only(self, s) -> None:
        """SET read_only = 1 blocks every table-mutating statement
        (MySQL --read-only semantics, error 1290; reference: GMS
        TestReadOnly). SELECT/SHOW/SET/USE/EXPLAIN stay allowed."""
        if not (
            self._sysvar_truthy(self.variables.get("read_only"))
            or self._sysvar_truthy(self.variables.get("super_read_only"))
        ):
            return
        # COPY ... FROM mutates its target; COPY ... TO is a read.
        if isinstance(s, st.CopyStmt):
            if s.direction == "from":
                raise ValueError(
                    "The MySQL server is running with the --read-only "
                    "option so it cannot execute this statement"
                )
            return
        cls = Engine._WRITE_STMTS
        if cls is None:
            cls = Engine._WRITE_STMTS = (
                st.Insert, st.Update, st.Delete, st.MergeStmt,
                st.CreateTable, st.CreateTableAs, st.DropTable,
                st.AlterTable, st.AlterTableMulti, st.RenameTable,
                st.Truncate, st.LoadData,
                st.CreateIndex, st.DropIndex, st.CreateVectorIndex,
                st.Vacuum, st.Optimize, st.CreateView, st.DropView,
                st.CreateMatView, st.RefreshMatView, st.DropMatView,
                st.CreateType, st.DropType,
            )
        if isinstance(s, cls):
            raise ValueError(
                "The MySQL server is running with the --read-only option "
                "so it cannot execute this statement"
            )

    _PG_SETCFG_RE = re.compile(
        r"(?i)\bset_config\s*\(\s*'([^']+)'\s*,\s*'([^']*)'\s*,\s*"
        r"(true|false)\s*\)"
    )

    _EXPLAIN_OPTS_RE = re.compile(
        r"(?is)^\s*EXPLAIN\s*\(([^)]*)\)\s*")

    def _pg_statement_prep(self, sql: str) -> str:
        """pg_dump / pg-client statement normalization before parsing:
        ``public.`` is THE default schema (this engine's namespace),
        ``pg_catalog.fn(...)`` call prefixes drop (qualified catalog
        VIEWS keep their path through infoschema), ``ALTER TABLE
        ONLY`` / ``CREATE INDEX ... USING btree`` noise words strip,
        and set_config() folds into the session-variable store.
        Double-quoted identifiers become backticks first so DDL/DML
        parsing sees one quoting convention."""
        em = self._EXPLAIN_OPTS_RE.match(sql)
        if em:
            # EXPLAIN (ANALYZE, FORMAT JSON, ...) — the parenthesized
            # option list is pg-only; keep ANALYZE, drop the rest
            kw = ("EXPLAIN ANALYZE "
                  if re.search(r"(?i)\bANALYZE\b", em.group(1))
                  else "EXPLAIN ")
            sql = kw + sql[em.end():]
        if '"' in sql:
            from myduckserver_spark.functions.pg_compat import (
                _dquotes_to_backticks,
            )

            sql = _dquotes_to_backticks(sql)
        sql = re.sub(
            r"(?i)\b(FROM|UPDATE)\s+ONLY\s+(?=[\w`\"])", r"\1 ", sql)
        masked = st.mask_strings(sql)
        spans = []
        for m in re.finditer(r"(?i)\b(public|pg_catalog)\s*\.\s*(?=[\w\"])",
                             masked):
            if m.group(1).lower() == "pg_catalog":
                fm = re.match(r"[\w\"]+\s*\(", masked[m.end():])
                if not fm:
                    continue  # a catalog view reference, not a call
            spans.append((m.start(), m.end()))
        if spans:
            out, pos = [], 0
            for s0, e0 in spans:
                out.append(sql[pos:s0])
                pos = e0
            out.append(sql[pos:])
            sql = "".join(out)
        sql = re.sub(r"(?i)\b(ALTER\s+TABLE|TRUNCATE(?:\s+TABLE)?)\s+"
                     r"ONLY\s+", r"\1 ", sql)
        if re.match(r"(?i)\s*CREATE\s+(?:UNIQUE\s+)?INDEX\b", sql):
            sql = re.sub(
                r"(?i)\s+USING\s+(?:btree|hash|gin|gist|spgist|brin)\b",
                "", sql)

        def setcfg(m: re.Match) -> str:
            name, val = m.group(1).lower(), m.group(2)
            self.variables[name] = val
            return "'" + val.replace("'", "''") + "'"

        sql = self._PG_SETCFG_RE.sub(setcfg, sql)
        if "$" in sql:
            from myduckserver_spark.functions.pg_compat import (
                dollar_quotes_to_std,
            )
            sql = dollar_quotes_to_std(sql)
        # CREATE TABLE ... AS ... WITH [NO] DATA (SQL-standard tail)
        if re.match(r"(?i)\s*CREATE\s+(?:TEMP(?:ORARY)?\s+)?TABLE\b",
                    st.mask_strings(sql)):
            sql = re.sub(r"(?i)\s+WITH\s+DATA\s*$", "", sql)
            sql = re.sub(r"(?i)\s+WITH\s+NO\s+DATA\s*$", " LIMIT 0",
                         sql)
        sql = self._pg_create_function_rewrite(sql)
        tm = re.match(
            r"(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?TRIGGER\s+"
            r"(`?\w+`?)\s+(BEFORE|AFTER|INSTEAD\s+OF)\s+"
            r"(INSERT|UPDATE|DELETE)(?:\s+OR\s+\w+)*\s+ON\s+"
            r"(`?[\w.]+`?)\s*(?:FOR\s+EACH\s+ROW\s+)?"
            r"(?:WHEN\s*\(([^)]*)\)\s*)?"
            r"EXECUTE\s+(?:FUNCTION|PROCEDURE)\s+(`?\w+`?)\s*\(\s*\)"
            r"\s*$",
            sql,
        )
        if tm:
            trg, timing, event, tbl, when, fname = tm.groups()
            if re.match(r"(?i)INSTEAD", timing):
                raise NotImplementedError(
                    "INSTEAD OF triggers are not supported"
                )
            fns = self._trig_fns()
            nm = st.unquote_ident(fname)
            if nm not in fns:
                raise ValueError(f"no such trigger function: {nm}")
            body = fns[nm]
            if when:
                raise NotImplementedError(
                    "CREATE TRIGGER ... WHEN (cond) is not supported "
                    "— fold the condition into the function body"
                )
            sql = (f"CREATE TRIGGER {trg} {timing} {event} ON {tbl} "
                   f"FOR EACH ROW BEGIN {body}; END")
        sql = re.sub(
            r"(?is)^(\s*DROP\s+TRIGGER\s+(?:IF\s+EXISTS\s+)?"
            r"`?\w+`?)\s+ON\s+`?[\w.]+`?\s*$",
            r"\1", sql,
        )
        sql = self._pg_dml_rewrites(sql)
        return sql

    def _pg_create_function_rewrite(self, sql: str) -> str:
        """pg ``CREATE [OR REPLACE] FUNCTION f(args) RETURNS t
        [LANGUAGE SQL] AS 'SELECT expr' [LANGUAGE SQL]`` → the
        engine's MySQL-grammar stored SQL function (``... RETURNS t
        RETURN (expr)``). plpgsql and multi-statement bodies reject
        with a pointer at the supported shape. Dollar quoting was
        already folded to standard literals by _pg_statement_prep."""
        m = re.match(
            r"(?is)\s*CREATE\s+(OR\s+REPLACE\s+)?FUNCTION\s+"
            r"([\w`\"]+)\s*\(([^)]*)\)\s*RETURNS\s+([\w()\[\], ]+?)\s+"
            r"(.*)$",
            sql,
        )
        if not m:
            return sql
        orr, name, args, rtype, tail = m.groups()
        tail = tail.strip().rstrip(";").strip()
        if rtype.strip().lower() == "trigger":
            bm = re.search(r"(?is)\bAS\s+('(?:[^']|'')*')", tail)
            if not bm:
                raise NotImplementedError(
                    "CREATE FUNCTION ... RETURNS trigger needs a "
                    "quoted (or dollar-quoted) body"
                )
            body = bm.group(1)[1:-1].replace("''", "'")
            fns = self._trig_fns()
            nm = st.unquote_ident(name)
            if nm in fns and not orr:
                raise ValueError(f"function exists: {nm}")
            fns[nm] = self._plpgsql_trigger_to_mysql(body)
            self._save_trig_fns(fns)
            return "SELECT 1 AS ok LIMIT 0"
        lang = re.search(r"(?i)\bLANGUAGE\s+(\w+)", tail)
        if lang and lang.group(1).lower() not in ("sql",):
            raise NotImplementedError(
                f"CREATE FUNCTION LANGUAGE {lang.group(1)} is not "
                "supported — LANGUAGE SQL with a single SELECT body is"
            )
        bm = re.search(r"(?is)\bAS\s+('(?:[^']|'')*')", tail)
        if not bm:
            # BEGIN ATOMIC ... END (pg 14 SQL-standard body)
            am = re.search(
                r"(?is)\bBEGIN\s+ATOMIC\s+(.*?)\s*END\s*$", tail)
            if not am:
                return sql  # let the generic parser report
            body = am.group(1).strip().rstrip(";")
        else:
            body = bm.group(1)[1:-1].replace("''", "'").strip()
            body = body.rstrip(";").strip()
        if ";" in st.mask_strings(body):
            raise NotImplementedError(
                "CREATE FUNCTION bodies are limited to a single "
                "RETURN/SELECT expression"
            )
        sm = re.match(r"(?is)^(?:SELECT|RETURN)\s+(.+)$", body)
        if not sm:
            raise NotImplementedError(
                "CREATE FUNCTION LANGUAGE SQL body must be a single "
                "SELECT expression"
            )
        expr = sm.group(1).strip()
        if re.search(r"(?i)\bFROM\b", st.mask_strings(expr)):
            expr = f"(SELECT {expr})"
        # pg arg syntax `x int` matches the engine's MySQL grammar;
        # strip IN/OUT/INOUT modes (functions are IN-only in pg)
        args = re.sub(r"(?i)\b(IN|OUT|INOUT|VARIADIC)\s+", "", args)
        return (f"CREATE {'OR REPLACE ' if orr else ''}FUNCTION "
                f"{name}({args}) RETURNS {rtype.strip()} "
                f"RETURN ({expr})")

    @staticmethod
    def _split_target_alias(seg: str) -> tuple[str, str]:
        """('t AS a' | 't a' | 't') -> (full segment, reference alias)."""
        toks = re.split(r"\s+", seg.strip())
        if len(toks) >= 2 and toks[-1].upper() != "AS":
            return seg.strip(), toks[-1]
        return seg.strip(), toks[0]

    def _pg_dml_rewrites(self, sql: str) -> str:
        """PostgreSQL DML join/tuple forms → the engine's multi-table
        MySQL shapes (reference parity: the pg door ships these verbatim
        to DuckDB, pgserver/connection_handler.go:411-449; DuckDB
        supports all four natively):

        - ``UPDATE t [AS a] SET ... FROM refs [WHERE c]`` →
          ``UPDATE t [AS a], refs SET a.col = ... [WHERE c]`` — pg's
          join-update is MySQL's multi-table UPDATE with the target
          listed first; SET columns gain the target qualifier so the
          engine resolves which table to mutate.
        - ``DELETE FROM t [AS a] USING refs [WHERE c]`` →
          ``DELETE a FROM t [AS a], refs [WHERE c]`` — pg implies the
          target inside the join; MySQL lists it explicitly.
        - ``UPDATE ... SET (a, b) = (e1, e2)`` → ``SET a = e1, b = e2``
          (row-subquery RHS rejects with a pointer at per-column
          scalar subqueries).
        - ``INSERT INTO t DEFAULT VALUES`` →
          ``INSERT INTO t VALUES (DEFAULT, ...)`` over the table's
          declared column count.
        """
        masked = st.mask_strings(sql)

        im = re.match(
            r"(?i)\s*INSERT\s+INTO\s+(`[^`]+`|\w+)\s+DEFAULT\s+VALUES\s*$",
            masked,
        )
        if im:
            tname = st.unquote_ident(sql[im.start(1):im.end(1)])
            cols = self.catalog.table(tname).read().columns
            tup = ", ".join(["DEFAULT"] * len(cols))
            return f"INSERT INTO `{tname}` VALUES ({tup})"

        um = re.match(r"(?i)\s*UPDATE\s+", masked)
        if um:
            set_ps = st._top_level_positions(masked, "SET")
            if set_ps:
                sp = set_ps[0]
                sql = self._expand_tuple_sets(sql, sp)
                masked = st.mask_strings(sql)
                set_ps = st._top_level_positions(masked, "SET")
                sp = set_ps[0]
                from_ps = [p for p in
                           st._top_level_positions(masked, "FROM")
                           if p > sp]
                if from_ps:
                    fp = from_ps[0]
                    where_ps = [p for p in
                                st._top_level_positions(masked, "WHERE")
                                if p > fp]
                    end = where_ps[0] if where_ps else len(sql)
                    target_seg, alias = self._split_target_alias(
                        sql[um.end():sp])
                    sets_seg = sql[sp + 3:fp].strip()
                    refs_seg = sql[fp + 4:end].strip()
                    tail = sql[end:].strip()
                    parts = st.split_top_level(sets_seg, ",")
                    qualified = []
                    for p in parts:
                        pm = st.mask_strings(p)
                        eq = pm.find("=")
                        lhs, rhs = p[:eq].strip(), p[eq + 1:].strip()
                        if "." not in lhs:
                            lhs = f"{alias}.{lhs}"
                        qualified.append(f"{lhs} = {rhs}")
                    sql = (f"UPDATE {target_seg}, {refs_seg} "
                           f"SET {', '.join(qualified)}"
                           + (f" {tail}" if tail else ""))
                    return sql

        dm = re.match(r"(?i)\s*DELETE\s+FROM\s+", masked)
        if dm:
            using_ps = st._top_level_positions(masked, "USING")
            if using_ps:
                up = using_ps[0]
                target_seg, alias = self._split_target_alias(
                    sql[dm.end():up])
                rest = sql[up + 5:].strip()
                sql = f"DELETE {alias} FROM {target_seg}, {rest}"
        return sql

    def _expand_tuple_sets(self, sql: str, set_pos: int) -> str:
        """``SET (a, b) = (e1, e2), c = e3`` → scalar assignments.
        Only rewrites tuple-LHS entries; leaves the rest untouched."""
        masked = st.mask_strings(sql)
        where_ps = [p for p in st._top_level_positions(masked, "WHERE")
                    if p > set_pos]
        from_ps = [p for p in st._top_level_positions(masked, "FROM")
                   if p > set_pos]
        end = min(where_ps + from_ps + [len(sql)])
        seg = sql[set_pos + 3:end]
        if not re.match(r"\s*\(", seg):
            return sql
        parts = st.split_top_level(seg, ",")
        # re-join runs: a tuple assignment spans several split parts
        # ("(a", "b) = (1", "2)") — rebalance by paren depth
        merged: list[str] = []
        buf = ""
        for p in parts:
            buf = f"{buf},{p}" if buf else p
            if buf.count("(") == buf.count(")"):
                merged.append(buf)
                buf = ""
        if buf:
            merged.append(buf)
        out_parts: list[str] = []
        for p in merged:
            m = re.match(r"\s*\(([^()]*)\)\s*=\s*(.+)\s*$", p, re.S)
            if not m:
                out_parts.append(p.strip())
                continue
            cols = [c.strip() for c in m.group(1).split(",")]
            rhs = m.group(2).strip()
            rm = st.mask_strings(rhs)
            if re.match(r"\(\s*SELECT\b", rm, re.I):
                # uncorrelated row subquery: evaluate ONCE and fold
                # the result into per-column literal assignments (pg
                # evaluates an uncorrelated subquery once too);
                # correlated forms (outer-column references) still
                # reject with the per-column workaround
                try:
                    rows = self.sql(rhs[1:-1],
                                    dialect="postgres").collect()
                except Exception:
                    raise NotImplementedError(
                        "UPDATE SET (cols) = (SELECT ...) with a "
                        "correlated subquery is not supported — "
                        "assign each column from its own scalar "
                        "subquery"
                    )
                if len(rows) > 1:
                    raise ValueError(
                        "more than one row returned by a subquery "
                        "used as an expression"
                    )
                vals_row = (list(rows[0]) if rows
                            else [None] * len(cols))
                if len(vals_row) != len(cols):
                    raise ValueError(
                        f"UPDATE SET tuple has {len(cols)} columns "
                        f"but the subquery returns {len(vals_row)}"
                    )
                out_parts.extend(
                    f"{c} = {self._render_literal(v)}"
                    for c, v in zip(cols, vals_row)
                )
                continue
            if not (rhs.startswith("(") and rhs.endswith(")")):
                raise ValueError(
                    f"UPDATE SET tuple assignment needs a parenthesized "
                    f"value list, got {rhs!r}"
                )
            vals = st.split_top_level(rhs[1:-1], ",")
            if len(vals) != len(cols):
                raise ValueError(
                    f"UPDATE SET tuple has {len(cols)} columns but "
                    f"{len(vals)} values"
                )
            out_parts.extend(
                f"{c} = {v.strip()}" for c, v in zip(cols, vals)
            )
        return (sql[:set_pos] + "SET " + ", ".join(out_parts)
                + " " + sql[end:])


    def _try_dml_ctes(self, sql: str, dialect: str):
        """pg data-modifying CTEs: ``WITH x AS (INSERT/UPDATE/DELETE …
        RETURNING …) <stmt>``. Each DML item runs ONCE, its RETURNING
        rows materialize as a temp view under the CTE name, then the
        remaining statement executes (itself possibly DML — the
        move-rows idiom ``WITH moved AS (DELETE … RETURNING *) INSERT
        …``). Returns None when no CTE item is DML (normal path).

        Documented divergence: items run sequentially, so a later item
        or the outer statement reading a modified TABLE sees the
        post-DML state (pg gives every part one pre-statement
        snapshot); references to the CTE NAMES — the overwhelmingly
        common use — behave identically."""
        m = re.match(r"(?i)\s*WITH\s+(?:RECURSIVE\s+)?", sql)
        if not m:
            return None
        i, n = m.end(), len(sql)
        items = []  # (name, colalias, body, item_start, item_end)
        while True:
            mm = re.match(
                r"\s*(`[^`]+`|\w+)\s*(\([^)]*\))?\s*AS\s*"
                r"(?:(?:NOT\s+)?MATERIALIZED\s+)?\(",
                sql[i:], re.I)
            if not mm:
                return None
            open_at = i + mm.end() - 1
            close = st._match_close_paren(sql, open_at)
            if close < 0:
                return None
            items.append((st.unquote_ident(mm.group(1)),
                          mm.group(2), sql[open_at + 1:close].strip(),
                          i, close + 1))
            mc = re.match(r"\s*,", sql[close + 1:])
            if not mc:
                outer_at = close + 1
                break
            i = close + 1 + mc.end()
        dml_rx = re.compile(r"(?i)^\s*(INSERT|UPDATE|DELETE|REPLACE|MERGE)\b")
        if not any(dml_rx.match(b) for _nm, _ca, b, _s, _e in items):
            return None
        made_views = []
        try:
            keep = []
            for nm, colalias, body, _s, _e in items:
                if not dml_rx.match(body):
                    keep.append((nm, colalias, body))
                    continue
                res = self._execute_one(body, dialect)
                if hasattr(res, "createOrReplaceTempView"):
                    df = res
                    if colalias:
                        cols = [c.strip().strip('`"')
                                for c in colalias.strip("() ").split(",")
                                if c.strip()]
                        if len(cols) == len(df.columns):
                            df = df.toDF(*cols)
                    df.localCheckpoint(eager=True) \
                        .createOrReplaceTempView(nm)
                    made_views.append(nm)
            rebuilt = ""
            if keep:
                rebuilt = "WITH " + ", ".join(
                    f"{nm} {ca or ''} AS ({b})" for nm, ca, b in keep
                ) + " "
            rebuilt += sql[outer_at:].strip()
            return self._execute_one(rebuilt, dialect)
        finally:
            for nm in made_views:
                try:
                    self.spark.catalog.dropTempView(nm)
                except Exception:
                    pass

    def _execute_one(self, sql: str, dialect: str):
        if dialect == "postgres":
            sql = self._pg_statement_prep(sql)
        sw = self._qualified_target_db(sql)
        if sw is not None:
            db, stripped = sw
            prev_db, prev_cat = self.current_db, self.catalog
            self.current_db, self.catalog = db, self._dbs[db]
            try:
                return self._execute_one(stripped, dialect)
            finally:
                self.current_db, self.catalog = prev_db, prev_cat
        if re.match(r"(?i)\s*(?:CREATE\s+(?:TEMP(?:ORARY)?\s+)?TABLE"
                    r"(?!\s+.*\bLIKE\b)|ALTER\s+TABLE)", sql):
            sql = self._substitute_custom_types(sql)
        if re.match(r"(?i)\s*WITH\b", sql) and re.search(
                r"(?i)AS\s*(?:(?:NOT\s+)?MATERIALIZED\s+)?\(\s*"
                r"(?:INSERT|UPDATE|DELETE|REPLACE|MERGE)\b",
                st.mask_strings(sql)):
            r = self._try_dml_ctes(sql, dialect)
            if r is not None:
                return r
        if self._SEQ_FN_RE.search(sql) and not re.match(
            r"(?i)\s*(?:CREATE|ALTER|DROP)\b", sql
        ):
            sql = self._fold_sequence_funcs(sql)
        if self._DEFAULT_FN_RE.search(st.mask_strings(sql)) and not \
                re.match(r"(?i)\s*(?:CREATE|ALTER|DROP)\b", sql):
            sql = self._fold_default_fn(sql)
        if not re.match(r"(?i)\s*(?:CREATE|DROP)\b", sql):
            sql = self._fold_stored_functions(sql, dialect)
        rm = re.search(r"\s+RETURNING\s+", st.mask_strings(sql), re.I)
        if rm and re.match(
            r"\s*(INSERT|REPLACE|UPDATE|DELETE)\b", sql, re.I
        ):
            return self._exec_dml_returning(
                sql[: rm.start()], sql[rm.end():].strip(), dialect
            )
        s = st.parse_statement(sql, hash_comments=(dialect == "mysql"))
        self._check_read_only(s)
        self._check_privileges(s)
        if isinstance(s, st.SelectIntoOutfile):
            return self._exec_select_into_outfile(s, dialect)
        if isinstance(s, st.SelectIntoVars):
            rows = self.sql(s.query, dialect=dialect).collect()
            if len(rows) > 1:
                raise ValueError("Result consisted of more than one row")
            if not rows:  # MySQL: warning, variables untouched
                return OkResult(info="no rows: variables unchanged")
            if len(rows[0]) != len(s.vars):
                raise ValueError(
                    "The used SELECT statements have a different number "
                    f"of columns ({len(rows[0])}) than the INTO list "
                    f"({len(s.vars)})"
                )
            for vname, val in zip(s.vars, rows[0]):
                self.variables[vname] = val
            return OkResult(affected_rows=1)
        if isinstance(s, st.Query):
            q = s.sql
            assigns: list[tuple[str, str]] = []
            if "@" in q and ":=" in q:
                q, assigns = self._rewrite_user_var_assignments(q)
            if "@" in q:
                q = self._substitute_user_vars(q)
            # FOR UPDATE / FOR SHARE: row locks are no-ops under
            # snapshot isolation — accept and strip the clause.
            fm = re.search(
                r"\s+FOR\s+(?:UPDATE|SHARE)(?:\s+OF\s+[\w`,\s]+?)?"
                r"(?:\s+(?:NOWAIT|SKIP\s+LOCKED))?\s*$",
                st.mask_strings(q),
                re.I,
            )
            if fm:
                q = q[: fm.start()]
            if dialect == "mysql":
                q = self._rewrite_match_bm25(q)
                q = self._rewrite_session_funcs(q)
            else:
                if "current_setting" in q.lower():
                    q = self._fold_current_setting(q)
                if re.search(r"(?i)\bpg_(?:database|table|"
                             r"total_relation)_size\s*\(", q):
                    q = self._fold_pg_sizes(q)
            # SQL_CALC_FOUND_ROWS (deprecated in MySQL 8 but still
            # issued by pagination code): remember the un-LIMITed row
            # count for the next FOUND_ROWS() call. The extra count
            # runs only when the modifier is explicitly requested.
            calc_found = dialect == "mysql" and re.search(
                r"\bSQL_CALC_FOUND_ROWS\b", st.mask_strings(q), re.I
            )
            df = self.sql(q, dialect=dialect)
            if calc_found:
                stripped = self._strip_top_limit(q)
                self._found_rows = (
                    self.sql(stripped, dialect=dialect).count()
                    if stripped != q
                    else df.count()
                )
            # sql_select_limit caps SELECTs that carry no LIMIT of
            # their own (GMS TestRowLimit semantics).
            cap = self.variables.get("sql_select_limit")
            if cap not in (None, "", "DEFAULT") and not self._has_top_limit(q):
                df = df.limit(int(cap))
            if assigns:
                # MySQL: after the statement, @x holds its last-row
                # value; a zero-row result leaves it untouched. Collect
                # ONCE and hand back a local-relation DataFrame over
                # those exact rows, so the variable is set from the same
                # execution the client receives (a re-run of a
                # non-deterministic query could yield a different last
                # row). Assignment queries are client-facing row streams
                # by definition, so the result set is collect-sized.
                rows = df.collect()
                if rows:
                    for var, col in assigns:
                        self.variables[var] = rows[-1][col]
                return local_frame(self.spark, rows, df.schema)
            return df
        if isinstance(s, st.DeclareCursor):
            df = self.sql(s.query, dialect=dialect)
            cursors = getattr(self, "_cursors", None)
            if cursors is None:
                cursors = self._cursors = {}
            if s.name in cursors:
                raise ValueError(f'cursor "{s.name}" already exists')
            cursors[s.name] = (df.toLocalIterator(), df.schema)
            return OkResult(info="DECLARE CURSOR")
        if isinstance(s, st.FetchCursor):
            cursors = getattr(self, "_cursors", {})
            if s.name not in cursors:
                raise ValueError(f'cursor "{s.name}" does not exist')
            it, schema = cursors[s.name]
            rows = []
            if s.count is None:
                rows = list(it)
            else:
                for _ in range(s.count):
                    try:
                        rows.append(next(it))
                    except StopIteration:
                        break
            if s.move_only:
                return OkResult(affected_rows=len(rows), info="MOVE")
            return local_frame(self.spark, rows, schema)
        if isinstance(s, st.CloseCursor):
            cursors = getattr(self, "_cursors", {})
            if s.name.upper() == "ALL":
                cursors.clear()
                return OkResult(info="CLOSE ALL")
            if cursors.pop(s.name, None) is None:
                raise ValueError(f'cursor "{s.name}" does not exist')
            return OkResult(info="CLOSE CURSOR")
        if isinstance(s, st.Prepare):
            text = s.query
            if text.startswith("@"):
                held = self.variables.get(text.lstrip("@"))
                if held is None:
                    raise ValueError(f"PREPARE FROM unset variable {text}")
                text = str(held)
            self._prepared[s.name] = text
            return OkResult(info="prepared")
        if isinstance(s, st.ExecutePrepared):
            if s.name not in self._prepared:
                raise ValueError(f"unknown prepared statement: {s.name}")
            text = self._prepared[s.name]
            vals = (list(s.args) if s.args is not None
                    else [self.variables.get(v) for v in s.using])
            # pg $n placeholders: bind by index (reuse allowed), then
            # run the bound text through the normal path
            dollar_ns = {int(x) for x in re.findall(
                r"\$(\d+)", st.mask_strings(text))}
            if dollar_ns:
                if max(dollar_ns) != len(vals):
                    raise ValueError(
                        f"prepared statement {s.name} needs "
                        f"{max(dollar_ns)} parameters, got {len(vals)}"
                    )
                masked = st.mask_strings(text)
                bound, pos = [], 0
                for m in re.finditer(r"\$(\d+)", masked):
                    bound.append(text[pos:m.start()])
                    bound.append(self._render_literal(
                        vals[int(m.group(1)) - 1]))
                    pos = m.end()
                bound.append(text[pos:])
                return self._execute_one("".join(bound), dialect)
            n_params = st.count_placeholders(text)
            if n_params != len(vals):
                raise ValueError(
                    f"prepared statement {s.name} needs {n_params} "
                    f"parameters, got {len(vals)}"
                )
            is_query = text.lstrip().upper().startswith(
                ("SELECT", "WITH", "TABLE", "EXPLAIN", "DESCRIBE QUERY")
            )
            if is_query:
                q = translate_mysql(text) if dialect == "mysql" else text
                return self.sql(q, args=vals if vals else None)
            # DML/DDL path: the engine's own parsers don't know '?', so
            # bind by literal substitution (values came from SET, not the
            # wire, so rendering is as trusted as the rest of the text).
            bound = st.bind_placeholders(
                text, [self._render_literal(v) for v in vals]
            )
            return self._execute_one(bound, dialect)
        if isinstance(s, st.Deallocate):
            if s.name.upper() == "ALL":
                self._prepared.clear()
                return OkResult(info="deallocated")
            if self._prepared.pop(s.name, None) is None:
                raise ValueError(f"unknown prepared statement: {s.name}")
            return OkResult(info="deallocated")
        if isinstance(s, st.CreateTable):
            return self._exec_create_table(s)
        if isinstance(s, st.CreateTableLike):
            if self.catalog.table(s.name).exists():
                if s.if_not_exists:
                    return OkResult(info="table exists")
                raise ValueError(f"table exists: {s.name}")
            src = self.catalog.table(s.source)
            if not src.exists():
                raise ValueError(f"no such table: {s.source}")
            import copy as _copy

            meta = _copy.deepcopy(self.table_meta(s.source))
            meta.temporary = s.temporary
            # MySQL: LIKE preserves the AUTO_INCREMENT attribute but
            # NOT the source's counter — the clone starts fresh
            meta.stats.pop("auto_increment_base", None)
            empty = local_frame(self.spark, [], src.read().schema)
            self.catalog.create_table(
                s.name, empty, partition_by=meta.partition_by or None
            )
            self._save_meta(s.name, meta)
            return OkResult()
        if isinstance(s, st.CreateTableAs):
            if s.if_not_exists and self.catalog.table(s.name).exists():
                return OkResult(info="table exists")
            self.ctas(
                s.name, s.query, dialect=dialect,
                partition_by=s.partition_by or None,
            )
            if s.partition_by or s.temporary:
                meta = self.table_meta(s.name)
                if s.partition_by:
                    meta.partition_by = list(s.partition_by)
                meta.temporary = s.temporary
                self._save_meta(s.name, meta)
            return OkResult(affected_rows=self.catalog.table(s.name).count())
        if isinstance(s, st.DropTable):
            dropped = 0
            for nm in [s.name, *getattr(s, "more", [])]:
                if not self.catalog.table(nm).exists():
                    if s.if_exists:
                        continue
                    raise ValueError(f"no such table: {nm}")
                self.drop_table(nm)
                self._meta_path_cleanup(nm)
                trigs = {
                    n: t for n, t in self._load_triggers().items()
                    if t["table"] != nm
                }  # MySQL drops a table's triggers with the table
                if len(trigs) != len(self._load_triggers()):
                    self._save_triggers(trigs)
                dropped += 1
            return OkResult() if dropped else OkResult(
                info="no such table")
        if isinstance(s, st.AlterTable):
            return self._exec_alter(s)
        if isinstance(s, st.AlterTableMulti):
            return self._exec_alter_multi(s)
        if isinstance(s, st.RenameTable):
            for old, new in [(s.old, s.new), *getattr(s, "more", [])]:
                self.rename_table(old, new)
            return OkResult()
        if isinstance(s, st.Truncate):
            n = self.catalog.table(s.name).count()
            self.truncate(s.name)
            meta = self.table_meta(s.name)
            if meta.stats.pop("auto_increment_base", None) is not None:
                # MySQL TRUNCATE resets the AUTO_INCREMENT counter
                # (DELETE does not — the persisted floor survives it)
                self._save_meta(s.name, meta)
            return OkResult(affected_rows=n)
        if isinstance(s, st.SubscriptionStmt):
            return self._exec_subscription(s)
        if isinstance(s, st.ReplicaStmt):
            return self._exec_replica(s)
        if isinstance(s, st.Optimize):
            retrained = self._retrain_stale_vector_indexes(s.name)
            cols = s.zorder_cols
            if not cols:
                meta = self.table_meta(s.name)
                cols = list(meta.primary_key) if meta.primary_key else None
            if not cols:
                return OkResult(
                    info="no sort columns; table unchanged" + (
                        f"; retrained vector indexes: "
                        f"{', '.join(retrained)}" if retrained else ""
                    )
                )
            self.catalog.optimize_table(
                s.name, cols, zorder=len(cols) > 1
            )
            info = f"optimized on ({', '.join(cols)})"
            if retrained:
                info += f"; retrained vector indexes: {', '.join(retrained)}"
            return OkResult(info=info)
        if isinstance(s, st.Insert):
            return self._exec_insert(
                self._retarget_view_dml(s, dialect), dialect)
        if isinstance(s, st.MergeStmt):
            return self._exec_merge(s, dialect)
        if isinstance(s, st.Update):
            if s.from_text:
                return self._exec_update_multi(s, dialect)
            s = self._retarget_view_dml(s, dialect)
            if (
                s.cte
                or s.ignore  # IGNORE narrows WHERE by post-image text
                or _has_subquery(s.where)
                or any(_has_subquery(e) for e in s.assignments.values())
                # the SQL-text executor is the one that builds the
                # paired old/new trigger images and folds BEFORE
                # UPDATE assignments
                or self._triggers_for(s.table, "update", "after")
                or self._triggers_for(s.table, "update", "before")
            ):
                # the SQL-text executor queries FROM `t`, so `t.c`
                # resolves natively — and stripping there would break
                # correlated `t.c` refs inside subqueries
                return self._exec_update_subquery(s, dialect)
            # FAST path only — single-table UPDATE with no subqueries:
            # `t.c` ≡ `c` (MySQL); normalize so the withColumns path
            # (bare-DataFrame F.expr, no relation alias in scope)
            # resolves qualified refs too
            s = dataclasses.replace(
                s,
                where=self._strip_self_qualifier(s.where, s.table),
                assignments={
                    # session funcs (LAST_INSERT_ID()/DATABASE()/…)
                    # constant-fold here too: the withColumns path
                    # never routes the fragment through sql()
                    c: self._strip_self_qualifier(
                        self._rewrite_session_funcs(e), s.table)
                    for c, e in s.assignments.items()
                },
            )
            cond = self._fragment(s.where) if s.where else F.lit(True)
            if s.limit is not None:
                cond = cond & self._row_cap_cond(
                    s.table, cond, s.order_by, s.limit
                )
            assignments = {c: self._fragment(e) for c, e in s.assignments.items()}
            meta = self.table_meta(s.table)
            # ON UPDATE exprs fire for touched rows unless explicitly set
            # (reference: TestOnUpdateExprScripts main_test.go:964).
            for col, expr_text in meta.on_update.items():
                if col not in assignments:
                    assignments[col] = self._fragment(expr_text)
            n = self.update(s.table, cond, assignments)
            self._recompute_generated(s.table, meta)
            return OkResult(affected_rows=n)
        if isinstance(s, st.Delete):
            if s.from_text:
                return self._exec_delete_multi(s, dialect)
            s = self._retarget_view_dml(s, dialect)
            if (s.cte or _has_subquery(s.where)
                    or self._triggers_for(s.table, "delete", "after")
                    # the SQL-text executor evaluates BEFORE DELETE
                    # SIGNAL guards ahead of any write
                    or self._triggers_for(s.table, "delete", "before")):
                return self._exec_delete_subquery(s, dialect)
            cond = self._fragment(s.where) if s.where else F.lit(True)
            if s.limit is not None:
                cond = cond & self._row_cap_cond(
                    s.table, cond, s.order_by, s.limit
                )
            return OkResult(affected_rows=self.delete(s.table, cond))
        if isinstance(s, st.Show):
            if s.kind == "noop_lock":
                return OkResult(info="locks are no-ops (snapshot isolation)")
            if s.kind == "noop_admin":
                return OkResult(
                    info="no-op (no handler caches / privilege caches / "
                         "killable threads in a single-process snapshot "
                         "engine)"
                )
            return self._exec_show(s)
        if isinstance(s, st.Maintenance):
            return self._exec_maintenance(s)
        if isinstance(s, st.TriggerStmt):
            return self._exec_trigger(s)
        if isinstance(s, st.SignalStmt):
            err = SignalError(s.sqlstate, s.message)
            if s.errno is not None:
                err.errno = s.errno
            raise err
        if isinstance(s, st.ProcedureStmt):
            return self._exec_procedure(s, dialect)
        if isinstance(s, st.UserStmt):
            return self._exec_user(s)
        if isinstance(s, st.EventStmt):
            return self._exec_event(s)
        if isinstance(s, st.DoStmt):
            # DO evaluates for side effects (none here beyond errors)
            # and discards the result
            self.sql(f"SELECT {s.expr}", dialect=dialect).collect()
            return OkResult()

        if isinstance(s, (st.SetVar, st.SetVarList)):
            items = s.items if isinstance(s, st.SetVarList) else [s]
            for it in items:
                if it.value is st.DEFAULT:  # SET var = DEFAULT resets
                    self.variables.pop(it.name, None)
                    continue
                val = it.value
                if it.is_expr:
                    # expression values evaluate NOW, with earlier
                    # assignments of this statement visible (MySQL
                    # applies the list left-to-right)
                    val = self.sql(
                        "SELECT "
                        + self._substitute_user_vars(str(val)),
                        dialect="mysql",
                    ).collect()[0][0]
                self.variables[it.name] = val
                if it.name.startswith("spark."):
                    self.spark.conf.set(it.name, str(val))
            return OkResult()
        if isinstance(s, st.UseDb):
            if s.name not in self._dbs:
                raise ValueError(f"unknown database: {s.name}")
            self.current_db = s.name
            self.catalog = self._dbs[s.name]
            return OkResult()
        if isinstance(s, st.CreateDb):
            if s.name in self._dbs:
                if s.if_not_exists:
                    return OkResult(info="database exists")
                raise ValueError(f"database exists: {s.name}")
            root = (self._warehouse if s.name == "main"
                    else os.path.join(self._warehouse, "__dbs__", s.name))
            self._dbs[s.name] = Catalog(self.spark, root)
            return OkResult()
        if isinstance(s, st.DropDb):
            if s.name not in self._dbs:
                if s.if_exists:
                    return OkResult(info="no such database")
                raise ValueError(f"unknown database: {s.name}")
            if s.name == "main":
                raise ValueError("cannot drop the default database")
            import shutil

            shutil.rmtree(self._dbs[s.name].root, ignore_errors=True)
            del self._dbs[s.name]
            if self.current_db == s.name:
                self.current_db = "main"
                self.catalog = self._dbs["main"]
            return OkResult()
        if isinstance(s, st.CreateSequence):
            seqs = dict(self._load_sequences())
            if s.name in seqs:
                if s.if_not_exists:
                    return OkResult(info=f"sequence {s.name} exists")
                raise ValueError(f'sequence "{s.name}" already exists')
            if s.increment == 0:
                raise ValueError("INCREMENT must not be zero")
            lo = s.minvalue if s.minvalue is not None else (
                1 if s.increment > 0 else None)
            hi = s.maxvalue if s.maxvalue is not None else (
                -1 if s.increment < 0 else None)
            start = s.start if s.start is not None else (
                lo if s.increment > 0 else hi)
            seqs[s.name] = {
                "increment": s.increment, "start": int(start or 1),
                "minvalue": lo, "maxvalue": hi, "cycle": s.cycle,
                "last_value": None, "is_called": False,
            }
            self._save_sequences(seqs)
            return OkResult(info=f"sequence {s.name} created")
        if isinstance(s, st.DropSequence):
            seqs = dict(self._load_sequences())
            for nm in s.names:
                if nm not in seqs:
                    if s.if_exists:
                        continue
                    raise ValueError(f'sequence "{nm}" does not exist')
                del seqs[nm]
            self._save_sequences(seqs)
            return OkResult(info="sequence(s) dropped")
        if isinstance(s, st.AlterSequence):
            seqs = dict(self._load_sequences())
            cur = dict(self._seq_state(s.name))
            if s.increment is not None:
                if s.increment == 0:
                    raise ValueError("INCREMENT must not be zero")
                cur["increment"] = s.increment
            if s.restart:
                cur["last_value"] = (
                    s.restart_with if s.restart_with is not None
                    else cur["start"]
                )
                cur["is_called"] = False
            seqs[s.name] = cur
            self._save_sequences(seqs)
            return OkResult(info=f"sequence {s.name} altered")
        if isinstance(s, st.CreateMacro):
            macros = self._load_macros()
            if s.name.lower() in macros and not s.or_replace:
                raise ValueError(f"macro exists: {s.name} (use OR REPLACE)")
            body = (
                translate_mysql(s.body) if dialect == "mysql" else s.body
            )
            macros = dict(macros)
            macros[s.name.lower()] = [s.params, body]
            self._save_macros(macros)
            return OkResult(info=f"macro {s.name} created")
        if isinstance(s, st.DropMacro):
            macros = dict(self._load_macros())
            if s.name.lower() not in macros:
                if s.if_exists:
                    return OkResult()
                raise ValueError(f"unknown macro: {s.name}")
            del macros[s.name.lower()]
            self._save_macros(macros)
            return OkResult(info=f"macro {s.name} dropped")
        if isinstance(s, st.CreateMatView):
            # pg semantics: a physical snapshot table + the stored
            # defining SQL (refresh re-runs it); WITH NO DATA creates
            # the empty shell with the query's schema
            if self.catalog.table(s.name).exists():
                if s.if_not_exists:
                    return OkResult(info="exists")
                raise ValueError(f"relation exists: {s.name}")
            df = self.sql(s.query, dialect=dialect)
            if not s.with_data:
                df = df.limit(0)
            self.catalog.create_table(s.name, df)
            mdir = os.path.join(self.catalog.root, "__matviews__")
            os.makedirs(mdir, exist_ok=True)
            stored = (translate_mysql(s.query) if dialect == "mysql"
                      else s.query)
            with open(os.path.join(mdir, f"{s.name}.sql"), "w") as f:
                f.write(json.dumps({"sql": stored,
                                    "dialect": dialect}))
            return OkResult()
        if isinstance(s, st.RefreshMatView):
            mpath = os.path.join(self.catalog.root, "__matviews__",
                                 f"{s.name}.sql")
            if not os.path.exists(mpath):
                raise ValueError(f"no such materialized view: {s.name}")
            with open(mpath) as f:
                spec = json.load(f)
            d = spec.get("dialect", "postgres")
            df = self.sql(spec["sql"],
                          dialect="spark" if d == "mysql" else d)
            self.catalog.table(s.name).overwrite(df)
            return OkResult()
        if isinstance(s, st.DropMatView):
            mpath = os.path.join(self.catalog.root, "__matviews__",
                                 f"{s.name}.sql")
            if not os.path.exists(mpath):
                if s.if_exists:
                    return OkResult()
                raise ValueError(f"no such materialized view: {s.name}")
            os.remove(mpath)
            if self.catalog.table(s.name).exists():
                self.catalog.drop_table(s.name)
            self._ddl_changed()
            return OkResult()
        if isinstance(s, st.CreateType):
            types = self._custom_types()
            if s.name.lower() in types:
                raise ValueError(f"type exists: {s.name}")
            types[s.name.lower()] = (
                {"kind": "enum", "values": s.values}
                if s.values is not None else
                {"kind": "domain", "base": s.base, "check": s.check}
            )
            self._save_custom_types(types)
            return OkResult()
        if isinstance(s, st.DropType):
            types = self._custom_types()
            if s.name.lower() not in types:
                if s.if_exists:
                    return OkResult()
                raise ValueError(f"no such type: {s.name}")
            del types[s.name.lower()]
            self._save_custom_types(types)
            return OkResult()
        if isinstance(s, st.CreateView):
            # Views persist as SQL text, replayed as temp views on
            # refresh (the reference stores them as DuckDB views,
            # catalog/provider.go CREATE VIEW bootstrap; TestViews :1914).
            vdir = os.path.join(self.catalog.root, "__views__")
            os.makedirs(vdir, exist_ok=True)
            vpath = os.path.join(vdir, f"{s.name}.sql")
            if os.path.exists(vpath) and not s.or_replace:
                raise ValueError(f"view exists: {s.name}")
            query = translate_mysql(s.query) if dialect == "mysql" else s.query
            with open(vpath, "w") as f:
                f.write(query)
            ckpath = vpath[:-4] + ".check"
            if s.check_option:
                open(ckpath, "w").close()
            elif os.path.exists(ckpath):
                os.remove(ckpath)  # OR REPLACE without the option
            self._refresh_views()
            return OkResult()
        if isinstance(s, st.DropView):
            for nm in [s.name, *getattr(s, "more", [])]:
                vpath = os.path.join(
                    self.catalog.root, "__views__", f"{nm}.sql")
                if not os.path.exists(vpath):
                    if s.if_exists:
                        continue
                    raise ValueError(f"no such view: {nm}")
                os.remove(vpath)
                if os.path.exists(vpath[:-4] + ".check"):
                    os.remove(vpath[:-4] + ".check")
                self.spark.catalog.dropTempView(nm)
            return OkResult()
        if isinstance(s, st.CreateIndex):
            if s.fulltext:
                return self._exec_create_fulltext_index(s)
            # Metadata-only: Catalyst has no index scans — min/max
            # row-group stats and partition pruning play that role.
            # Declared for SHOW INDEXES parity (reference creates real
            # ART indexes, catalog/table.go; ShowIndexes executor.go:74-83).
            meta = self.table_meta(s.table)
            if s.unique:
                self._validate_unique(s.table, s.name, s.columns)
            meta.indexes[s.name] = {"columns": s.columns, "unique": s.unique}
            self._save_meta(s.table, meta)
            return OkResult(info="index recorded (metadata only)")
        if isinstance(s, st.CreateVectorIndex):
            return self._exec_create_vector_index(s)
        if isinstance(s, st.AnalyzeStmt):
            return self._exec_analyze(s)
        if isinstance(s, st.DropIndex):
            tables = [s.table] if s.table else self.catalog.list_tables()
            for tname in tables:
                meta = self.table_meta(tname)
                if s.name in meta.indexes:
                    props = meta.indexes[s.name]
                    del meta.indexes[s.name]
                    self._save_meta(tname, meta)
                    if props.get("vector"):  # drop materialized structure
                        for part in ("centroids", "assign"):
                            vt = f"__vidx_{tname}_{s.name}_{part}"
                            if vt in self.catalog.list_tables():
                                self.catalog.drop_table(vt)
                    ft = props.get("index_table")
                    if ft and ft in self.catalog.list_tables():
                        self.catalog.drop_table(ft)
                    return OkResult()
            if s.if_exists:
                return OkResult()
            raise ValueError(f"no such index: {s.name}")
        if isinstance(s, st.LoadData):
            return self._exec_load_data(s)
        if isinstance(s, st.CopyStmt):
            return self._exec_copy(s, dialect)
        if isinstance(s, st.TxnStmt):
            if s.name == "__chain__":
                # COMMIT/ROLLBACK AND CHAIN: end the transaction, then
                # immediately begin the next one (MySQL 13.3.1)
                r = self._exec_txn(s.kind, None)
                self._exec_txn("begin")
                return r
            return self._exec_txn(s.kind, s.name)
        if isinstance(s, st.Vacuum):
            n = self.catalog.table(s.name).vacuum(keep_last=s.keep_last)
            return OkResult(
                affected_rows=n, info=f"VACUUM {s.name}: {n} versions removed"
            )
        if isinstance(s, st.BackupStmt):
            # a name matching a DATABASE backs up/restores the whole
            # thing — every table + the routine/trigger/event/user
            # metadata sidecars (the reference copies the whole DuckDB
            # file, pgserver/backup_handler.go); a table name keeps the
            # narrower per-table form
            if s.direction == "backup":
                if s.name in self._dbs:
                    dest = self._dbs[s.name].backup_database_uri(
                        s.uri, s.endpoint, s.access_key_id,
                        s.secret_access_key,
                    )
                    return OkResult(
                        info=f"BACKUP DATABASE {s.name} TO {dest}")
                dest = self.catalog.backup_table_uri(
                    s.name, s.uri, s.endpoint, s.access_key_id,
                    s.secret_access_key,
                )
                return OkResult(info=f"BACKUP {s.name} TO {dest}")
            if s.name in self._dbs:
                names = self._dbs[s.name].restore_database_uri(s.uri)
                # metadata sidecars changed on disk: drop the caches
                for attr in ("_proc_cache", "_macro_cache",
                             "_trigger_cache", "_event_cache",
                             "_user_cache"):
                    if hasattr(self, attr):
                        delattr(self, attr)
                # every snapshot may have been replaced wholesale (and
                # possibly at the SAME version numbers) — force full
                # temp-view re-registration
                self._registered_versions = {}
                self._refresh_views()
                return OkResult(
                    info=f"RESTORE DATABASE {s.name} FROM {s.uri} "
                         f"({len(names)} tables)")
            self.catalog.restore_table_uri(s.name, s.uri)
            # the restored snapshot can land at the same version number
            getattr(self, "_registered_versions", {}).pop(s.name, None)
            self._refresh_views()
            return OkResult(info=f"RESTORE {s.name} FROM {s.uri}")
        raise ValueError(f"unroutable statement: {type(s).__name__}")

    # ----------------------------------------------------------- transactions
    def _exec_txn(self, kind: str, name: str | None = None) -> OkResult:
        """BEGIN/COMMIT/ROLLBACK (+ SAVEPOINT / ROLLBACK TO / RELEASE)
        over the versioned-pointer catalog.

        The reference bridges MySQL transactions onto DuckDB's
        (backend/session.go:87-143). Here every table snapshot is an
        immutable version directory behind an atomic pointer
        (catalog.py), so a transaction is a saved set of pointers plus
        a DDL journal: ROLLBACK re-points every table at its BEGIN-time
        version, restores BEGIN-time metadata (ALTER rollback), reverses
        RENAMEs, resurrects DROPped tables from txn trash, and removes
        tables created since. COMMIT purges the trash. A SAVEPOINT is
        the same pointer/meta capture mid-transaction; ROLLBACK TO
        restores it (and invalidates later savepoints) without ending
        the transaction. DDL is NOT rolled back by ROLLBACK TO
        SAVEPOINT — matching MySQL, where DDL implicitly commits.
        """
        import shutil

        if kind == "begin":
            self._txn_snapshot = {
                name_: self.catalog.table(name_)._read_pointer()
                for name_ in self.catalog.list_tables()
            }
            self._txn_metas = {
                name_: self.table_meta(name_) for name_ in self._txn_snapshot
            }
            self._txn_trash: list[tuple[str, str]] = []
            self._txn_renames: list[tuple[str, str]] = []
            self._txn_savepoints: dict[str, dict] = {}
            return OkResult(info="transaction started")
        if kind == "savepoint":
            if getattr(self, "_txn_snapshot", None) is None:
                # MySQL accepts SAVEPOINT in autocommit mode (the
                # implicit txn commits immediately, so it's a no-op);
                # pg warns. Erroring breaks migration scripts.
                self._push_warning(
                    1305, "SAVEPOINT outside a transaction is a no-op"
                )
                return OkResult(info="no transaction: savepoint no-op")
            self._txn_savepoints[name] = {
                "pointers": {
                    n: self.catalog.table(n)._read_pointer()
                    for n in self.catalog.list_tables()
                },
                "metas": {
                    n: self.table_meta(n)
                    for n in self.catalog.list_tables()
                },
                "order": len(self._txn_savepoints),
            }
            return OkResult(info=f"savepoint {name}")
        if kind == "release":
            if name not in getattr(self, "_txn_savepoints", {}):
                raise ValueError(f"SAVEPOINT {name} does not exist")
            del self._txn_savepoints[name]
            return OkResult(info=f"released {name}")
        if kind == "rollback_to":
            sp = getattr(self, "_txn_savepoints", {}).get(name)
            if sp is None:
                raise ValueError(f"SAVEPOINT {name} does not exist")
            # DDL is NOT rolled back (MySQL: DDL implicitly commits):
            # tables created after the savepoint survive, tables dropped
            # after it stay dropped — only DATA pointers + metadata of
            # still-existing tables revert (ADVICE r2: the old code
            # dropped post-savepoint CREATEs and re-saved meta for
            # dropped tables, leaving orphan meta files).
            existing = set(self.catalog.list_tables())
            for n, pointer in sp["pointers"].items():
                if n not in existing:
                    continue
                t = self.catalog.table(n)
                if t.exists() and t._read_pointer() != pointer:
                    t._write_pointer(pointer)
                self._save_meta(n, sp["metas"][n])
            # later savepoints are invalidated (MySQL semantics)
            self._txn_savepoints = {
                k: v
                for k, v in self._txn_savepoints.items()
                if v["order"] <= sp["order"]
            }
            self._refresh_views()
            return OkResult(info=f"rolled back to {name}")
        if kind == "commit":
            for _name, path in getattr(self, "_txn_trash", []):
                shutil.rmtree(path, ignore_errors=True)
            self._txn_snapshot = None
            self._txn_trash, self._txn_renames = [], []
            return OkResult(info="committed")
        snap = getattr(self, "_txn_snapshot", None)
        if snap is None:
            return OkResult(info="rollback: no open transaction")
        self._txn_snapshot = None  # further DDL below is non-transactional
        # 1. reverse renames, newest first
        for old, new in reversed(getattr(self, "_txn_renames", [])):
            src = os.path.join(self.catalog.root, new)
            if os.path.isdir(src):
                os.rename(src, os.path.join(self.catalog.root, old))
        # 2. resurrect dropped tables (removing any same-name recreation)
        for name, path in getattr(self, "_txn_trash", []):
            cur = os.path.join(self.catalog.root, name)
            shutil.rmtree(cur, ignore_errors=True)
            shutil.move(path, cur)
        # 3. remove tables created inside the txn
        for name in self.catalog.list_tables():
            if name not in snap:
                self.catalog.drop_table(name)
                self._meta_path_cleanup(name)
        # 4. restore pointers + metadata
        for name, pointer in snap.items():
            t = self.catalog.table(name)
            if t.exists() and t._read_pointer() != pointer:
                t._write_pointer(pointer)
            meta = self._txn_metas.get(name)
            if meta is not None:
                self._save_meta(name, meta)
        self._txn_trash, self._txn_renames = [], []
        self._refresh_views()
        return OkResult(info="rolled back")

    # ------------------------------------------------------- table metadata
    def _meta_path(self, name: str) -> str:
        return os.path.join(self.catalog.root, name, "_META")

    def _meta_path_cleanup(self, name: str) -> None:
        p = self._meta_path(name)
        if os.path.exists(p):  # drop_table already rmtree'd the dir
            os.remove(p)

    def _table_columns(self, name: str) -> list[str] | None:
        """Column names of an engine table, or None if unknown —
        the schema callback for schema-aware dialect rewrites."""
        try:
            return [f.name for f in
                    self.catalog.table(name).read().schema.fields]
        except Exception:
            return None

    def table_meta(self, name: str) -> st.TableMeta:
        p = self._meta_path(name)
        if not os.path.exists(p):
            return st.TableMeta()
        with open(p) as f:
            d = json.load(f)
        return st.TableMeta(**d)

    def _custom_types(self) -> dict:
        p = os.path.join(self.catalog.root, "__types__.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _trig_fns(self) -> dict:
        p = os.path.join(self.catalog.root, "__trigfns__.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _save_trig_fns(self, fns: dict) -> None:
        p = os.path.join(self.catalog.root, "__trigfns__.json")
        os.makedirs(self.catalog.root, exist_ok=True)
        with open(p, "w") as f:
            json.dump(fns, f)

    @staticmethod
    def _plpgsql_trigger_to_mysql(body: str) -> str:
        """The plpgsql trigger-function subset → the engine's MySQL
        trigger-body grammar: ``NEW.col := expr`` assignments,
        ``RETURN NEW`` (a no-op), and ``IF cond THEN RAISE EXCEPTION
        'msg'; END IF`` guards (→ SIGNAL 45000). Anything wider
        rejects naming the supported shapes."""
        inner = re.fullmatch(r"(?is)\s*BEGIN\s+(.*?)\s*END\s*;?\s*",
                             body)
        if inner:
            body = inner.group(1)
        parts = [x.strip() for x in st.split_top_level(body, ";")
                 if x.strip()]
        merged, in_if = [], False
        for stx in parts:
            if in_if:
                merged[-1] += "; " + stx
                if re.search(r"(?i)\bEND\s+IF$", stx):
                    in_if = False
            else:
                merged.append(stx)
                if (re.match(r"(?i)IF\b", stx)
                        and not re.search(r"(?i)\bEND\s+IF$", stx)):
                    in_if = True
        out = []
        for stx in merged:
            am = re.match(r"(?is)^NEW\.(\w+)\s*:?=\s*(.+)$", stx)
            if am:
                out.append(
                    f"SET NEW.{am.group(1)} = {am.group(2).strip()}")
                continue
            if re.match(r"(?i)^RETURN\s+NEW$", stx):
                continue
            gm = re.match(
                r"(?is)^IF\s+(.+?)\s+THEN\s+RAISE\s+EXCEPTION\s+"
                r"'((?:[^']|'')*)'\s*;?\s*END\s+IF$", stx)
            if gm:
                out.append(
                    f"IF {gm.group(1)} THEN SIGNAL SQLSTATE '45000' "
                    f"SET MESSAGE_TEXT = '{gm.group(2)}'; END IF")
                continue
            raise NotImplementedError(
                "plpgsql trigger functions support NEW.col := expr "
                "assignments, RETURN NEW, and IF cond THEN RAISE "
                f"EXCEPTION 'msg' guards — cannot translate: {stx!r}"
            )
        return "; ".join(out)

    def _save_custom_types(self, types: dict) -> None:
        p = os.path.join(self.catalog.root, "__types__.json")
        os.makedirs(self.catalog.root, exist_ok=True)
        with open(p, "w") as f:
            json.dump(types, f)
        self._ddl_changed()

    def _substitute_custom_types(self, sql: str) -> str:
        """Registered CREATE TYPE/DOMAIN names in table DDL become
        their definitions: enum → the MySQL-style ENUM(...) machinery
        (order-aware, validated); domain → base type + the VALUE
        check bound to the declaring column."""
        types = self._custom_types()
        if not types:
            return sql
        masked = st.mask_strings(sql)
        for tname, spec in types.items():
            if spec["kind"] == "enum":
                lits = ", ".join(
                    "'" + v.replace("'", "''") + "'"
                    for v in spec["values"])
                rx = re.compile(
                    rf"(?<![\w`.]){re.escape(tname)}(?![\w`(])", re.I)

                def build(m, _col=None, _l=lits):
                    return f"ENUM({_l})"
            else:
                rx = re.compile(
                    rf"(?<![\w`.])((?:`[^`]+`|\w+)\s+)"
                    rf"{re.escape(tname)}(?![\w`(])", re.I)

                def build(m, _spec=spec):
                    col = m.group(1).strip()
                    out = m.group(1) + _spec["base"]
                    if _spec.get("check"):
                        cond = re.sub(r"(?i)\bVALUE\b", col,
                                      _spec["check"])
                        out += f" CHECK ({cond})"
                    return out
            out, pos = [], 0
            for m in rx.finditer(masked):
                out.append(sql[pos:m.start()])
                out.append(build(m))
                pos = m.end()
            if not out:
                continue
            out.append(sql[pos:])
            sql = "".join(out)
            masked = st.mask_strings(sql)
        return sql

    def _save_meta(self, name: str, meta: st.TableMeta) -> None:
        os.makedirs(os.path.dirname(self._meta_path(name)), exist_ok=True)
        with open(self._meta_path(name), "w") as f:
            json.dump(meta.__dict__, f)
        self._ddl_changed()

    # -------------------------------------------------------- exec helpers
    def _fragment(self, text: str) -> Column:
        """A WHERE / SET fragment → Column (MySQL fn names normalized)."""
        return F.expr(translate_mysql(text))

    @staticmethod
    def _reject_generated_over_auto(meta: "st.TableMeta") -> None:
        """MySQL 3109: generated column expressions cannot refer to
        the AUTO_INCREMENT column (its value is assigned at write)."""
        auto = meta.auto_increment
        if not auto:
            return
        for col, expr_text in meta.generated.items():
            if re.search(rf"(?i)(?<![\w.`]){re.escape(auto)}\b",
                         expr_text):
                raise ValueError(
                    f"Generated column '{col}' cannot refer to "
                    f"auto-increment column '{auto}' (MySQL 3109)"
                )

    def _exec_create_table(self, s: st.CreateTable) -> OkResult:
        if self.catalog.table(s.name).exists():
            if s.if_not_exists:
                return OkResult(info="table exists")
            raise ValueError(f"table exists: {s.name}")
        self._reject_generated_over_auto(s.meta)
        self.create_table(
            s.name, s.columns, partition_by=s.meta.partition_by or None
        )
        self._save_meta(s.name, s.meta)
        return OkResult()

    def _exec_alter_multi(self, s: "st.AlterTableMulti") -> OkResult:
        """Comma-separated ALTER TABLE action list, applied in declared
        order with statement-level rollback: if any action fails the
        table's snapshot pointer and metadata restore to the statement
        start (MySQL 8 atomic DDL; the reference gets the list form
        from GMS). Parsing already validated every action, so pure
        syntax errors reject before any work."""
        import copy

        t0 = self.catalog.table(s.name)
        t0.read()  # validates existence before any action runs
        pointer = t0._read_pointer()
        meta0 = copy.deepcopy(self.table_meta(s.name))
        cur = s.name
        try:
            for a in s.actions:
                if a.name != cur:
                    a = dataclasses.replace(a, name=cur)
                self._exec_alter(a)
                if a.action == "rename_table":
                    cur = a.new_name
        except Exception:
            if cur != s.name:
                self.rename_table(cur, s.name)
            t = self.catalog.table(s.name)
            if t._read_pointer() != pointer:
                t._write_pointer(pointer)
            self._save_meta(s.name, meta0)
            self._ddl_changed()
            self._refresh_views()
            raise
        return OkResult()

    def _apply_column_attrs(self, table: str, col: str,
                            cm: "st.TableMeta", replace: bool) -> None:
        """Fold a parsed column definition's attributes into table
        metadata. replace=True (MODIFY/CHANGE) clears unmentioned
        attributes first — MySQL replaces the whole definition."""
        meta = self.table_meta(table)
        if replace:
            if col in meta.not_null:
                meta.not_null.remove(col)
            meta.defaults.pop(col, None)
            meta.on_update.pop(col, None)
            meta.generated.pop(col, None)
            if meta.auto_increment == col:
                meta.auto_increment = None
        if col in cm.not_null and col not in meta.not_null:
            meta.not_null.append(col)
        if col in cm.defaults:
            meta.defaults[col] = cm.defaults[col]
        if col in cm.on_update:
            meta.on_update[col] = cm.on_update[col]
        if col in cm.generated:
            meta.generated[col] = cm.generated[col]
        if cm.auto_increment == col:
            meta.auto_increment = col
        if cm.primary_key == [col] and not meta.primary_key:
            meta.primary_key = [col]
        for cname, expr in cm.checks.items():
            meta.checks.setdefault(cname, expr)
        self._reject_generated_over_auto(meta)
        self._save_meta(table, meta)

    def _move_column(self, table: str, col: str,
                     position: str | None) -> None:
        """Reorder an existing column: ""=FIRST, name=AFTER name."""
        if position is None:
            return
        t = self.catalog.table(table)
        df = t.read()
        cols = [c for c in df.columns if c != col]
        if position == "":
            cols.insert(0, col)
        else:
            if position not in cols:
                raise ValueError(f"AFTER column not found: {position}")
            cols.insert(cols.index(position) + 1, col)
        t.overwrite(df.select(*cols))

    def _exec_alter(self, s: st.AlterTable) -> OkResult:
        if s.action == "add_column":
            if s.if_exists and s.column in \
                    self.catalog.table(s.name).read().columns:
                return OkResult(info="column exists, skipping")
            gen_expr = (s.col_meta.generated.get(s.column)
                        if s.col_meta is not None else None)
            if gen_expr is not None:
                # Validate the TRANSLATED expression against current
                # rows BEFORE any mutation so a bad expression fails
                # atomically (and MySQL fns like DATE_FORMAT backfill
                # through the same translator DML uses).
                self.catalog.table(s.name).read().select(
                    self._fragment(gen_expr))
            self.alter_add_column(
                s.name, s.column, s.mysql_type, default=s.default,
                position=s.position,
            )
            if s.col_meta is not None:
                self._apply_column_attrs(
                    s.name, s.column, s.col_meta, replace=False)
                if gen_expr is not None:
                    # backfill existing rows with the expression
                    self._recompute_generated(
                        s.name, self.table_meta(s.name))
            elif s.default is not None:
                meta = self.table_meta(s.name)
                meta.defaults[s.column] = s.default
                self._save_meta(s.name, meta)
        elif s.action == "drop_column":
            if s.if_exists and s.column not in \
                    self.catalog.table(s.name).read().columns:
                return OkResult(info="no such column, skipping")
            self.alter_drop_column(s.name, s.column)
            meta = self.table_meta(s.name)
            changed = False
            if s.column in meta.not_null:
                meta.not_null.remove(s.column)
                changed = True
            for d in (meta.defaults, meta.on_update, meta.generated):
                if s.column in d:
                    del d[s.column]
                    changed = True
            if meta.auto_increment == s.column:
                meta.auto_increment = None
                changed = True
            if changed:
                self._save_meta(s.name, meta)
        elif s.action == "rename_column":
            self.alter_rename_column(s.name, s.column, s.new_name)
        elif s.action in ("modify_column", "change_column"):
            new_col = s.new_name or s.column
            old_gen = self.table_meta(s.name).generated
            new_gen = (s.col_meta.generated.get(new_col)
                       if s.col_meta is not None else None)
            if (new_gen is not None) != (s.column in old_gen):
                # MySQL 3106: MODIFY/CHANGE cannot turn a plain
                # column into a STORED generated one (or back) —
                # silently accepting leaves stale materialized data.
                raise ValueError(
                    "'Changing the STORED status' is not supported "
                    f"for generated columns: column '{s.column}' "
                    "(MySQL 3106)")
            if new_gen is not None:
                # validate the translated expression pre-mutation
                self.catalog.table(s.name).read().select(
                    self._fragment(new_gen))
            if (s.col_meta is not None
                    and new_col in s.col_meta.not_null
                    and s.column
                    not in self.table_meta(s.name).not_null):
                # MODIFY/CHANGE to NOT NULL validates existing rows
                # BEFORE any mutation (MySQL 1138, statement-atomic)
                hit = self.catalog.table(s.name).read().where(
                    F.col(s.column).isNull()).take(1)
                if hit:
                    raise ValueError(
                        f"Invalid use of NULL value: column "
                        f"'{s.column}' contains NULLs and cannot "
                        "become NOT NULL"
                    )
            col = s.column
            if s.action == "change_column" and s.new_name != s.column:
                self.alter_rename_column(s.name, s.column, s.new_name)
                col = s.new_name
            elif s.action == "modify_column":
                col = s.new_name or s.column
            self.alter_modify_column(s.name, col, s.mysql_type)
            if s.col_meta is not None:
                self._apply_column_attrs(
                    s.name, col, s.col_meta, replace=True)
                if new_gen is not None:
                    # expression change on a generated column:
                    # re-materialize so stored values match the new def
                    self._recompute_generated(
                        s.name, self.table_meta(s.name))
            self._move_column(s.name, col, s.position)
        elif s.action == "rename_table":
            self.rename_table(s.name, s.new_name)
        elif s.action == "add_fk":
            meta = self.table_meta(s.name)
            fk = dict(s.fk)
            if fk["name"] == "fk_0":  # parser default for unnamed FKs
                fk["name"] = f"fk_{len(meta.foreign_keys)}"
            if any(x["name"] == fk["name"] for x in meta.foreign_keys):
                raise ValueError(f"foreign key exists: {fk['name']}")
            self.table_meta(s.name)  # validates table
            self.catalog.table(fk["ref_table"]).read()  # ref must exist
            meta.foreign_keys.append(fk)
            self._save_meta(s.name, meta)
        elif s.action == "drop_fk":
            meta = self.table_meta(s.name)
            kept = [x for x in meta.foreign_keys if x["name"] != s.column]
            if len(kept) == len(meta.foreign_keys):
                raise ValueError(f"unknown foreign key: {s.column}")
            meta.foreign_keys = kept
            self._save_meta(s.name, meta)
        elif s.action == "add_index":
            meta = self.table_meta(s.name)
            cols = set(self.catalog.table(s.name).read().columns)
            missing = [c for c in s.fk["columns"] if c not in cols]
            if missing:
                raise ValueError(f"unknown columns for index: {missing}")
            if s.fk["name"] in meta.indexes:
                raise ValueError(f"index exists: {s.fk['name']}")
            if s.fk["unique"]:
                self._validate_unique(s.name, s.fk["name"], s.fk["columns"])
            meta.indexes[s.fk["name"]] = {
                "columns": s.fk["columns"], "unique": s.fk["unique"],
            }
            self._save_meta(s.name, meta)
        elif s.action == "add_check":
            meta = self.table_meta(s.name)
            cname = s.fk["name"] or f"check_{len(meta.checks)}"
            if cname in meta.checks:
                raise ValueError(f"check exists: {cname}")
            # MySQL validates EXISTING rows when a CHECK is added
            probe = st.TableMeta(checks={cname: s.fk["expr"]})
            self._enforce_checks(
                self.catalog.table(s.name).read(), probe, "ALTER ADD CHECK"
            )
            meta.checks[cname] = s.fk["expr"]
            self._save_meta(s.name, meta)
        elif s.action in ("drop_check", "drop_constraint"):
            meta = self.table_meta(s.name)
            if s.column in meta.checks:
                del meta.checks[s.column]
            elif s.action == "drop_constraint" and any(
                x["name"] == s.column for x in meta.foreign_keys
            ):
                meta.foreign_keys = [
                    x for x in meta.foreign_keys if x["name"] != s.column
                ]
            elif s.action == "drop_constraint" and s.column in meta.indexes:
                del meta.indexes[s.column]
            else:
                raise ValueError(f"unknown constraint: {s.column}")
            self._save_meta(s.name, meta)
        elif s.action == "set_default":
            meta = self.table_meta(s.name)
            if s.column not in self.catalog.table(s.name).read().columns:
                raise ValueError(f"unknown column: {s.column}")
            meta.defaults[s.column] = s.default
            self._save_meta(s.name, meta)
        elif s.action == "drop_default":
            meta = self.table_meta(s.name)
            meta.defaults.pop(s.column, None)
            self._save_meta(s.name, meta)
        elif s.action == "set_comment":
            meta = self.table_meta(s.name)
            meta.stats["comment"] = s.default
            self._save_meta(s.name, meta)
        elif s.action == "set_charset":
            # strings are always UTF-8 in Spark; record the declaration
            meta = self.table_meta(s.name)
            meta.stats["charset"] = s.default
            self._save_meta(s.name, meta)
        elif s.action == "set_ai_base":
            # ALTER TABLE t AUTO_INCREMENT = n: floor for the next id
            meta = self.table_meta(s.name)
            meta.stats["auto_increment_base"] = int(s.default)
            self._save_meta(s.name, meta)
        elif s.action == "drop_index_alter":
            # ALTER TABLE t DROP INDEX name ≡ DROP INDEX name ON t
            meta = self.table_meta(s.name)
            if s.column not in meta.indexes:
                raise ValueError(f"no such index: {s.column}")
            props = meta.indexes.pop(s.column)
            self._save_meta(s.name, meta)
            ft = props.get("index_table")
            if ft and ft in self.catalog.list_tables():
                self.catalog.drop_table(ft)
        elif s.action == "add_pk":
            meta = self.table_meta(s.name)
            if meta.primary_key:
                raise ValueError(
                    "Multiple primary key defined (MySQL 1068)")
            cols = s.fk["columns"]
            base = self.catalog.table(s.name).read()
            missing = [c for c in cols if c not in base.columns]
            if missing:
                raise ValueError(f"unknown columns for PK: {missing}")
            # MySQL validates existing rows: no NULLs, no duplicates
            probe = st.TableMeta(primary_key=cols)
            if base.where(
                " OR ".join(f"`{c}` IS NULL" for c in cols)
            ).take(1):
                raise ValueError(
                    "Invalid use of NULL value: PK columns contain "
                    "NULLs (MySQL 1138)")
            dup = (base.groupBy(*cols).count()
                   .where(F.col("count") > 1).take(1))
            if dup:
                raise DuplicateKeyError(
                    "-".join(str(v) for v in dup[0][:-1]), "PRIMARY")
            meta.primary_key = list(cols)
            for c in cols:
                if c not in meta.not_null:
                    meta.not_null.append(c)
            self._save_meta(s.name, meta)
        elif s.action == "set_not_null":
            # pg ALTER COLUMN x SET NOT NULL (validates existing rows)
            hit = self.catalog.table(s.name).read().where(
                F.col(s.column).isNull()).take(1)
            if hit:
                raise ValueError(
                    f"column '{s.column}' contains NULLs and cannot "
                    "become NOT NULL")
            meta = self.table_meta(s.name)
            if s.column not in meta.not_null:
                meta.not_null.append(s.column)
                self._save_meta(s.name, meta)
        elif s.action == "drop_not_null":
            meta = self.table_meta(s.name)
            if s.column in meta.primary_key:
                raise ValueError(
                    "PRIMARY KEY columns cannot become nullable")
            if s.column in meta.not_null:
                meta.not_null.remove(s.column)
                self._save_meta(s.name, meta)
        elif s.action == "noop_option":
            pass  # physical storage options: meaningless for parquet
        else:  # pragma: no cover
            raise ValueError(f"unknown ALTER action: {s.action}")
        return OkResult()

    @staticmethod
    def _py_cast(v, dtype: T.DataType):
        """Cast a parsed literal to the Python value Spark expects for
        `dtype` (local_frame is strict about row types)."""
        import datetime as dt

        if v is None:
            return None
        if isinstance(dtype, (T.DoubleType, T.FloatType)):
            return float(v)
        if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            return int(v)
        if isinstance(dtype, T.DecimalType):
            return decimal.Decimal(str(v))
        if isinstance(dtype, T.BooleanType):
            return bool(v)
        if isinstance(dtype, T.StringType):
            return str(v)
        if isinstance(dtype, T.DateType):
            if isinstance(v, dt.date):
                return v
            s = str(v)
            # MySQL zero date: not representable (year 0) — permissive
            # mode coerces to NULL (SURVEY §7 risk register)
            if s.startswith("0000-00-00"):
                return None
            return dt.date.fromisoformat(s)
        if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            if isinstance(v, dt.datetime):
                return v
            s = str(v)
            if s.startswith("0000-00-00"):
                return None
            return dt.datetime.fromisoformat(s)
        if isinstance(dtype, T.DayTimeIntervalType):
            # MySQL TIME is a signed duration up to ±838:59:59[.ffffff]
            # (reference maps it to INTERVAL, type_mapping.go:150-153)
            if isinstance(v, dt.timedelta):
                return v
            m = re.match(
                r"^\s*(-)?(\d{1,3}):(\d{2}):(\d{2})(?:\.(\d{1,6}))?\s*$",
                str(v),
            )
            if not m:
                raise ValueError(f"invalid TIME literal: {v!r}")
            sign = -1 if m.group(1) else 1
            hours, mins, secs = int(m.group(2)), int(m.group(3)), int(m.group(4))
            micros = int((m.group(5) or "0").ljust(6, "0"))
            return sign * dt.timedelta(
                hours=hours, minutes=mins, seconds=secs, microseconds=micros
            )
        if isinstance(dtype, T.BinaryType):
            return v if isinstance(v, bytes) else str(v).encode()
        return v

    def _exec_insert(self, s: st.Insert, dialect: str) -> OkResult:
        t = self.catalog.table(s.table)
        base_schema = t.read().schema
        meta = self.table_meta(s.table)

        if s.conflict_cols is not None and sorted(s.conflict_cols) != sorted(
            meta.primary_key or []
        ):
            raise ValueError(
                f"ON CONFLICT target {s.conflict_cols} must match the "
                f"primary key {meta.primary_key} of {s.table}"
            )
        if s.conflict_constraint is not None:
            # Resolve ON CONSTRAINT <name> against table metadata rather
            # than silently assuming PK semantics: accept the implicit PK
            # name or a unique index covering exactly the PK columns.
            pk = meta.primary_key or []
            cname = s.conflict_constraint.lower()
            uniq_over_pk = {
                n.lower()
                for n, cols in (meta.indexes or {}).items()
                if isinstance(cols, (list, tuple)) and sorted(cols) == sorted(pk)
            }
            if not pk or cname not in (
                {"primary", f"{s.table.lower()}_pkey"} | uniq_over_pk
            ):
                raise ValueError(
                    f"ON CONFLICT ON CONSTRAINT {s.conflict_constraint}: no "
                    f"matching unique constraint on {s.table} (known: PRIMARY"
                    f"{', ' + ', '.join(sorted(uniq_over_pk)) if uniq_over_pk else ''})"
                )
        if s.on_dup and not meta.primary_key and s.from_on_conflict:
            # Postgres: DO UPDATE requires a unique/exclusion constraint;
            # falling through to a plain insert would silently duplicate.
            # (MySQL ON DUPLICATE KEY on a keyless table plain-inserts —
            # reference TestInsertDuplicateKeyKeyless main_test.go:851 —
            # so this raise is gated on the ON CONFLICT origin.)
            raise ValueError(
                f"ON CONFLICT DO UPDATE on {s.table}: there is no unique or "
                "exclusion constraint matching the ON CONFLICT specification"
            )

        ai_mixed_last = 0
        ai_next_base = 0  # persisted counter floor after assignment
        # row count of a literal VALUES batch (None for INSERT…SELECT)
        literal_rows: int | None = None
        if s.query is not None:
            df = self.sql(s.query, dialect=dialect)
            if s.columns:
                df = df.toDF(*s.columns)
            else:
                # MySQL INSERT ... SELECT maps by POSITION, not name
                # (previously select-list names that didn't match table
                # columns were silently NULL-filled — a real bug).
                base_cols = [f.name for f in base_schema.fields]
                if len(df.columns) == len(base_cols):
                    df = df.toDF(*base_cols)
                elif (
                    meta.auto_increment
                    and len(df.columns) == len(base_cols) - 1
                ):
                    df = df.toDF(
                        *[c for c in base_cols if c != meta.auto_increment]
                    )
                else:
                    raise ValueError(
                        f"column count mismatch: SELECT yields "
                        f"{len(df.columns)} columns for {len(base_cols)}-"
                        f"column table {s.table}"
                    )
        else:
            target = s.columns or [
                f.name for f in base_schema.fields
                if not (meta.auto_increment == f.name
                        and len(s.rows[0]) == len(base_schema.fields) - 1)
            ]
            if s.columns is None and s.rows and \
                    len(s.rows[0]) == len(base_schema.fields):
                target = [f.name for f in base_schema.fields]
            fields = {f.name: f.dataType for f in base_schema.fields}
            pyrows = []
            for row in s.rows:
                if len(row) != len(target):
                    raise ValueError(
                        f"column count mismatch: {len(row)} values for "
                        f"{len(target)} columns"
                    )
                vals = []
                for col, v in zip(target, row):
                    if v is st.DEFAULT:
                        v = meta.defaults.get(col)
                    vals.append(self._py_cast(v, fields[col]))
                pyrows.append(tuple(vals))
            if meta.auto_increment and meta.auto_increment in target:
                # MySQL: NULL (or 0, without NO_AUTO_VALUE_ON_ZERO) in
                # the AUTO_INCREMENT column means "assign the next id";
                # explicit values interleave and bump the counter —
                # VALUES rows resolve in order, driver-side (the rows
                # are already a driver-local list)
                ai_idx = target.index(meta.auto_increment)
                if any(r[ai_idx] in (None, 0) for r in pyrows):
                    ctr = self._ai_start(
                        s.table, t.read(), meta.auto_increment
                    )
                    resolved = []
                    for r in pyrows:
                        if r[ai_idx] in (None, 0):
                            r = list(r)
                            r[ai_idx] = ctr
                            if not ai_mixed_last:
                                ai_mixed_last = ctr  # first assigned id
                            ctr += 1
                            resolved.append(tuple(r))
                        else:
                            ctr = max(ctr, int(r[ai_idx]) + 1)
                            resolved.append(r)
                    pyrows = resolved
                    ai_next_base = ctr
            df = local_frame(
                self.spark,
                pyrows, T.StructType([
                    T.StructField(c, fields[c], True) for c in target
                ])
            )
            literal_rows = len(pyrows)

        auto = meta.auto_increment
        if s.query is not None and auto and auto in df.columns:
            # INSERT…SELECT with NULL/0 in the AUTO_INCREMENT column:
            # assign ids after the batch's explicit maximum (a SELECT
            # has no row order, so MySQL's interleaved-counter walk is
            # approximated by assigning above every explicit id)
            needs = df.where(F.col(auto).isNull() | (F.col(auto) == 0))
            needs_n = needs.count()
            if needs_n:
                explicit = df.where(
                    F.col(auto).isNotNull() & (F.col(auto) != 0)
                )
                mx = explicit.agg(F.max(auto)).collect()[0][0]
                start = max(
                    self._ai_start(s.table, t.read(), auto),
                    int(mx or 0) + 1,
                )
                id_type = base_schema[auto].dataType.simpleString()
                numbered = self._assign_dense_ids(
                    needs, auto, start, id_type
                )
                df = explicit.unionByName(numbered.select(*df.columns))
                ai_mixed_last = start
                ai_next_base = start + needs_n

        # Fill unmentioned columns from declared defaults, then enforce
        # NOT NULL + CHECK engine-side (reference keeps these out of the
        # delegated engine too: backend/executor.go:84-116).
        missing = [f.name for f in base_schema.fields if f.name not in df.columns]
        auto_missing = meta.auto_increment in missing
        for col in missing:
            if col == meta.auto_increment:
                continue
            df = df.withColumn(
                col,
                F.lit(meta.defaults.get(col)).cast(
                    base_schema[col].dataType
                ),
            )

        # Generated columns always come from their expression, whatever
        # the INSERT provided (reference: TestGeneratedColumns :871).
        for col, expr_text in meta.generated.items():
            df = df.withColumn(
                col, self._fragment(expr_text).cast(base_schema[col].dataType)
            )

        # BEFORE INSERT triggers (SET NEW.c = expr): one vectorized
        # withColumn per assignment, after defaults/generated, before
        # constraint checks — MySQL's evaluation point. Side DML
        # statements queue and run set-based over the NEW image after
        # the statement's gates pass (statement atomicity).
        before_ins_stmts: list = []
        for op in self._before_insert_ops(s.table):
            if op[0] == "set":
                for col, ex in op[1].items():
                    if col not in base_schema.fieldNames():
                        raise ValueError(
                            f"trigger SET NEW.{col}: no such column"
                        )
                    df = df.withColumn(
                        col, F.expr(ex).cast(base_schema[col].dataType)
                    )
            elif op[0] == "stmt":
                before_ins_stmts.append((op[1], op[2]))
            else:
                # SIGNAL guard: ONE vectorized ANY over the batch —
                # any matching row rejects the whole statement
                # (MySQL rolls the statement back on trigger error)
                _k, cond, sqlstate, msg = op
                pred = F.expr(cond) if cond else F.lit(True)
                if df.filter(
                        F.coalesce(pred.cast("boolean"), F.lit(False))
                ).limit(1).count() > 0:
                    raise SignalError(sqlstate, msg)

        checks = {c: self._fragment(e) for c, e in meta.checks.items()}
        for col in meta.not_null:
            if col != meta.auto_increment:
                checks.setdefault(f"{col}_not_null", F.col(col).isNotNull())
        # ENUM membership (strict mode: MySQL 1265 / pg "invalid input
        # value for enum") — declared values ride in the TABLE schema's
        # field metadata, not on the incoming batch
        for f_ in base_schema.fields:
            evals = (f_.metadata or {}).get("enum_values")
            if evals and f_.name in df.columns:
                checks.setdefault(
                    f"{f_.name}_enum_value",
                    F.col(f_.name).isNull()
                    | F.col(f_.name).isin(*evals),
                )
        # Driver-known rows of a small literal VALUES batch on a keyed
        # table: the key probes and the driver-resolved upsert tier run
        # over them in Python. They come from ONE collect of the batch
        # plan, so they hold exactly what the plan writes (defaults
        # cast by Spark, generated columns, BEFORE INSERT SETs) and
        # never a Python re-derivation of it.
        local_vals: dict[str, list] | None = None
        names = list(checks)
        viol = [(~checks[cn] | checks[cn].isNull()).cast("int")
                for cn in names]
        violated: list[str] = []
        if (literal_rows is not None
                and literal_rows <= self._LITERAL_BATCH_CAP
                and s.mode != "ignore"
                and (meta.primary_key or self._unique_key_list(meta))):
            # the same job yields every constraint's violation flag
            rows = df.select(
                *df.columns,
                *[v.alias(f"__v{i}") for i, v in enumerate(viol)],
            ).collect()
            local_vals = {c: [r[c] for r in rows] for c in df.columns}
            violated = [cn for i, cn in enumerate(names)
                        if any(r[f"__v{i}"] for r in rows)]
        elif checks:
            # ONE violation-flags job for ALL constraints (was one
            # filter+collect job per CHECK/NOT NULL/ENUM constraint);
            # the per-constraint bad-row fetch runs only on the error /
            # IGNORE path.
            flags = df.agg(*[
                F.max(v).alias(f"__v{i}") for i, v in enumerate(viol)
            ]).collect()[0]
            violated = [
                cn for i, cn in enumerate(names) if (flags[i] or 0) > 0
            ]
        for cname in violated:
            cond = checks[cname]
            if s.mode == "ignore":
                df = df.filter(cond & cond.isNotNull())
                literal_rows = None  # rows dropped plan-side
                continue
            bad = df.filter(~cond | cond.isNull()).limit(1).collect()
            raise ValueError(
                f"CHECK/NOT NULL constraint '{cname}' violated: {bad[0]}"
            )

        pk = list(meta.primary_key or [])

        def _dup_key(row, cols) -> str:
            return "-".join(
                "NULL" if row[c] is None else str(row[c]) for c in cols
            )

        # ONE probe job for the whole statement: the row count, every
        # enforced level's intra-batch max multiplicity AND its
        # stored-key clash flag collect as a union of one-row
        # aggregates (was: one count/collect job per level — 2 + 2 per
        # unique index). Bad-key fetches run only on the error path.
        probe_pk = bool(
            pk and s.mode == "insert" and not s.on_dup
            and not (auto_missing and meta.auto_increment in pk)
        )
        # auto_missing only blocks the PK probe when the PK contains
        # the (not-yet-assigned) AUTO_INCREMENT column — fresh ids
        # can't collide. A PK over OTHER columns is still enforced.
        uniq = (
            self._unique_key_list(meta, df.columns)
            if (s.mode == "insert" and not s.on_dup) else []
        )
        plevels = ([("PRIMARY", pk, False)] if probe_pk else []) + [
            (iname, list(icols), True) for iname, icols in uniq
        ]

        def _lvl_cand(icols, nex):
            cand = df.select(*icols)
            return cand.where(self._nonnull(icols)) if nex else cand

        def _lvl_basek(icols, nex):
            basek = t.read().select(*icols)
            return basek.where(self._nonnull(icols)) if nex else basek

        def _key_json(src, icols, nex):
            """Canonical per-level key string. Float/double key parts
            are +0.0-normalized so the string compares like SQL
            equality (-0.0 = 0.0, the semantics the raw-column join
            had); NULL fields are kept so (1, NULL) != (1,)."""
            parts = []
            for c in icols:
                col = F.col(c)
                if isinstance(src.schema[c].dataType,
                              (T.FloatType, T.DoubleType)):
                    col = col + F.lit(0.0)
                parts.append(col.alias(c))
            key = F.to_json(F.struct(*parts),
                            {"ignoreNullFields": "false"})
            if nex:
                anynull = F.lit(False)
                for c in icols:
                    anynull = anynull | F.col(c).isNull()
                key = F.when(~anynull, key)  # NULL key = exempt row
            return key

        def _exploded(src):
            entries = [
                F.struct(
                    F.lit(li).alias("lvl"),
                    _key_json(src, icols, nex).alias("key"),
                )
                for li, (_iname, icols, nex) in enumerate(plevels)
            ]
            return (
                src.select(F.explode(F.array(*entries)).alias("e"))
                .select("e.lvl", "e.key")
                .where(F.col("key").isNotNull())
            )

        n = None
        probed = False
        if plevels and local_vals is not None:
            # literal VALUES batch: the intra-batch multiplicity check
            # runs in Python (0 jobs) and the stored-clash check is ONE
            # filtered scan with pushable literal key predicates (was:
            # explode + semi-join + two-stage aggregate, ~5 AQE jobs on
            # every seed INSERT). Canonical key semantics mirror
            # _key_json: NULL groups with NULL on non-exempt levels,
            # null-exempt levels skip NULL key parts, NaN groups with
            # NaN, -0.0 with +0.0. Falls back to the distributed probe
            # for non-literal batches, oversize batches, or key types
            # outside the round-trip-exact set.
            nloc = literal_rows
            preds, dups = [], []
            for _iname2, icols2, nex2 in plevels:
                kvs = []
                for i in range(nloc):
                    kv = tuple(local_vals[c][i] for c in icols2)
                    if nex2 and any(v is None for v in kv):
                        continue
                    kvs.append(kv)
                seen, bad = set(), None
                for kv in kvs:
                    canon = self._canon_key(kv)
                    if canon in seen:
                        bad = kv
                        break
                    seen.add(canon)
                dups.append(bad)
                p = self._literal_key_pred(
                    base_schema, icols2, kvs,
                    null_matches_null=not nex2)
                if p is None:
                    preds = None
                    break
                preds.append(p)
            if preds is not None:
                probed = True
                if probe_pk:
                    n = nloc
                from functools import reduce as _reduce
                flags = [0] * len(plevels)
                # a level-0 intra dup raises before any clash check
                # could — skip the scan in that case
                if dups[0] is None:
                    anyp = _reduce(lambda a, b: a | b, preds)
                    frow = (
                        t.read()
                        .filter(F.coalesce(anyp, F.lit(False)))
                        .agg(*[
                            F.max(F.when(p2, 1)).alias(f"__cl{i}")
                            for i, p2 in enumerate(preds)
                        ]).collect()[0]
                    )
                    flags = [int(frow[i] or 0)
                             for i in range(len(plevels))]
                for li, (iname, icols, nex) in enumerate(plevels):
                    if dups[li] is not None:
                        raise DuplicateKeyError(
                            _dup_key(dict(zip(icols, dups[li])),
                                     icols),
                            f"{s.table}.{iname}",
                        )
                    if flags[li]:
                        bad = (
                            t.read().filter(preds[li])
                            .select(*icols).limit(1).collect()[0]
                        )
                        raise DuplicateKeyError(
                            _dup_key(bad, icols), f"{s.table}.{iname}"
                        )
        if plevels and not probed:
            # ONE probe query for the whole statement: every row fans
            # out to its (level, key) pairs, the stored table's keys are
            # scanned ONCE for all levels (was one semi-join per index)
            # and pre-filtered by a broadcast-sized semi-join against
            # the batch keys, then a two-stage aggregate yields, per
            # level: row count, intra-batch max multiplicity, and the
            # stored-clash flag. Bad-key fetches only on the error path.
            cand_e = _exploded(df)
            base_e = _exploded(t.read()).join(
                cand_e.select("lvl", "key").distinct(),
                ["lvl", "key"], "left_semi",
            )
            all_e = cand_e.select(
                "lvl", "key", F.lit(0).alias("src")
            ).unionByName(
                base_e.select("lvl", "key", F.lit(1).alias("src"))
            )
            per_key = all_e.groupBy("lvl", "key").agg(
                F.sum(F.when(F.col("src") == 0, 1).otherwise(0))
                .alias("c"),
                F.max("src").alias("hb"),
            )
            summary = {
                r["lvl"]: r
                for r in per_key.groupBy("lvl").agg(
                    F.sum("c").alias("n"),
                    F.max("c").alias("m"),
                    F.max(
                        F.when((F.col("c") > 0) & (F.col("hb") == 1), 1)
                        .otherwise(0)
                    ).alias("cl"),
                ).collect()
            }
            if probe_pk:
                # PK level is never null-exempt, so its per-key sum is
                # the full batch row count
                n = (summary.get(0) or {"n": 0})["n"] or 0
            for li, (iname, icols, nex) in enumerate(plevels):
                r = summary.get(li)
                if r is None:
                    continue
                if (r["m"] or 0) > 1:
                    bad = (
                        _lvl_cand(icols, nex).groupBy(*icols)
                        .agg(F.count(F.lit(1)).alias("__c"))
                        .where(F.col("__c") > 1).limit(1).collect()[0]
                    )
                    raise DuplicateKeyError(
                        _dup_key(bad, icols), f"{s.table}.{iname}"
                    )
                if (r["cl"] or 0) > 0:
                    bad = (
                        _lvl_basek(icols, nex)
                        .join(_lvl_cand(icols, nex), icols, "left_semi")
                        .limit(1).collect()[0]
                    )
                    raise DuplicateKeyError(
                        _dup_key(bad, icols), f"{s.table}.{iname}"
                    )
        if n is None:
            # literal VALUES batch: the row count is driver-known
            n = literal_rows if literal_rows is not None else df.count()
        if before_ins_stmts:
            avail = [f.name for f in base_schema.fields
                     if f.name in df.columns]
            self._run_trigger_stmts(
                before_ins_stmts,
                self._prefix_cols(
                    df.select(*avail), "new_").localCheckpoint(),
            )
        last_id = 0

        def _fire_insert_triggers(image_df: DataFrame | None = None) -> None:
            if not self._triggers_for(s.table, "insert", "after"):
                return
            src = image_df if image_df is not None else df
            avail = [f.name for f in base_schema.fields
                     if f.name in src.columns]
            self._fire_after_triggers(
                s.table, "insert", self._prefix_cols(src.select(*avail),
                                                     "new_")
            )

        if s.on_dup and (
                meta.primary_key or self._unique_key_list(meta, df.columns)):
            # MySQL trigger semantics under ON DUPLICATE: BEFORE INSERT
            # already ran for every batch row (above — MySQL fires it
            # before the conflict is detected); AFTER INSERT fires only
            # for rows that actually INSERTED, and the update arm fires
            # AFTER UPDATE with its own old/new pair.
            n, ins_img, upd_pairs = self._insert_on_duplicate(
                s.table, df.select(*[f.name for f in base_schema.fields]),
                meta, s.on_dup,
                want_insert_image=bool(
                    self._triggers_for(s.table, "insert", "after")),
                want_update_pairs=bool(
                    self._triggers_for(s.table, "update", "after")),
                upsert_where=s.on_dup_where,
                local_vals=local_vals,
            )
            if ins_img is not None:
                _fire_insert_triggers(ins_img)
            if upd_pairs is not None:
                self._fire_after_triggers(s.table, "update", upd_pairs)
            return OkResult(affected_rows=n)
        trig_image: DataFrame | None = None
        if auto_missing:
            start = self._ai_start(s.table, t.read(), meta.auto_increment)
            trig_image = self.insert_auto_increment(
                s.table, df, meta.auto_increment
            )
            last_id = start
            ai_next_base = start + n
        elif s.mode == "replace" and meta.primary_key:
            # MySQL REPLACE affected-rows: 1 per inserted row + 1 per
            # replaced (deleted) existing row
            cols = [f.name for f in base_schema.fields]
            levels = self._on_dup_levels(meta, cols)
            if self._driver_resolvable(local_vals, levels, base_schema):
                n, _, _ = self._upsert_driver(
                    t, t.read(), df.select(*cols), levels, "replace",
                    local_vals=local_vals,
                )
            else:
                before = t.count()
                incoming = n
                self.insert_replace(
                    s.table, df.select(*cols), meta.primary_key,
                    self._unique_key_list(meta),
                )
                n = 2 * incoming + before - t.count()
        elif s.mode == "ignore" and meta.primary_key:
            before = t.count()
            incoming = n
            self.insert_ignore(
                s.table, df.select(*[f.name for f in base_schema.fields]),
                meta.primary_key, self._unique_key_list(meta),
            )
            n = t.count() - before
            if incoming - n > 0:
                # MySQL reports each ignored conflict as a warning
                self._push_warning(
                    1062,
                    f"{incoming - n} row(s) skipped by INSERT IGNORE "
                    "(duplicate key)", level="Warning",
                )
        else:
            self.insert(s.table, df.select(*[f.name for f in base_schema.fields]))
        _fire_insert_triggers(trig_image)
        if ai_next_base and int(
                meta.stats.get("auto_increment_base", 1)) < ai_next_base:
            # persist the counter like MySQL 8 (survives DELETE-all and
            # engine restarts; TRUNCATE resets it)
            meta.stats["auto_increment_base"] = ai_next_base
            self._save_meta(s.table, meta)
        return OkResult(
            affected_rows=n, last_insert_id=last_id or ai_mixed_last
        )

    def _exec_load_data(self, s: st.LoadData) -> OkResult:
        """LOAD DATA INFILE → typed CSV scan + (plain|ignore|replace)
        insert, the same rewrite the reference performs
        (backend/executor.go:93-102 → loaddata.go:131-150; keyless
        tables degrade REPLACE/IGNORE to plain INSERT)."""
        from myduckserver_spark.sources.csv import load_csv

        base_schema = self.catalog.table(s.table).read().schema
        cols = s.columns or [f.name for f in base_schema.fields]
        schema = T.StructType([base_schema[c] for c in cols])
        df = load_csv(
            self.spark,
            s.path,
            schema,
            sep=s.sep,
            quote=s.quote or '"',
            escape=s.escape,
            skip=s.skip,
            line_sep=s.line_sep,
        )
        meta = self.table_meta(s.table)
        for col in base_schema.fieldNames():
            if col not in cols:
                df = df.withColumn(
                    col,
                    F.lit(meta.defaults.get(col)).cast(base_schema[col].dataType),
                )
        df = df.select(*base_schema.fieldNames())
        n = df.count()
        if s.mode == "replace" and meta.primary_key:
            before = self.catalog.table(s.table).count()
            self.insert_replace(
                s.table, df, meta.primary_key, self._unique_key_list(meta)
            )
            replaced = before + n - self.catalog.table(s.table).count()
            n = n + replaced  # MySQL: +1 per replaced existing row
        elif s.mode == "ignore" and meta.primary_key:
            before = self.catalog.table(s.table).count()
            self.insert_ignore(
                s.table, df, meta.primary_key, self._unique_key_list(meta)
            )
            inserted = self.catalog.table(s.table).count() - before
            if n - inserted > 0:
                self._push_warning(
                    1062,
                    f"{n - inserted} row(s) skipped by LOAD DATA "
                    "IGNORE (duplicate key)", level="Warning",
                )
            n = inserted
        else:
            # plain LOAD DATA takes the same ER_DUP_ENTRY gate as a
            # plain INSERT (MySQL default: duplicate key is an error)
            t = self.catalog.table(s.table)
            if meta.primary_key:
                self._probe_batch_conflicts(
                    t, s.table, df, "PRIMARY", list(meta.primary_key),
                    null_exempt=False,
                )
            for iname, icols in self._unique_key_list(meta, df.columns):
                self._probe_batch_conflicts(
                    t, s.table, df, iname, icols, null_exempt=True
                )
            self.insert(s.table, df)
        return OkResult(affected_rows=n)

    def _exec_copy(self, s: st.CopyStmt, dialect: str):
        """COPY TO/FROM with the pg option surface (FORMAT, HEADER,
        DELIMITER, QUOTE, ESCAPE, NULL; reference pgserver/copy.go)."""
        from myduckserver_spark.sources.csv import copy_to, load_csv

        opts = s.options
        if s.direction == "to":
            df = (
                self.sql(s.target, dialect=dialect)
                if s.is_query
                else self.catalog.table(s.target).read()
            )
            if s.path == "STDOUT":
                # pg COPY TO STDOUT: one text line per row — tab
                # separated with \\N nulls (text format) or comma CSV
                sep = ("," if s.fmt == "csv"
                       else str(opts.get("delimiter") or "\t"))
                nullstr = str(opts.get("null")
                              or ("" if s.fmt == "csv" else "\\N"))
                cols = [
                    F.coalesce(F.col(c).cast("string"), F.lit(nullstr))
                    for c in df.columns
                ]
                return df.select(
                    F.concat_ws(sep, *cols).alias("copy_line")
                )
            if s.fmt == "arrow":
                # COPY ... TO (FORMAT ARROW): Arrow IPC stream file
                # (reference pgserver/arrowwriter.go:66-135)
                from myduckserver_spark.sources.arrow import write_ipc

                write_ipc(df, s.path)
            else:
                copy_to(
                    df,
                    s.path,
                    fmt=s.fmt,
                    header=bool(opts.get("header", False)),
                    sep=opts.get("delimiter"),
                    quote=opts.get("quote"),
                    escape=opts.get("escape"),
                    nullstr=opts.get("null"),
                )
            return OkResult(affected_rows=df.count(), info=f"COPY TO {s.path}")
        if s.is_query:
            raise ValueError("COPY FROM requires a table target")
        if s.path == "STDIN":
            raise NotImplementedError(
                "COPY ... FROM STDIN carries data on the wire — use "
                "Engine.copy_from_stdin(table, chunks) from the host "
                "program (the embedded API has no client stream)"
            )
        base_schema = self.catalog.table(s.target).read().schema
        if s.fmt == "arrow":
            # COPY ... FROM (FORMAT ARROW) ← Arrow IPC stream file
            # (reference pgserver/arrowloader.go:25-105)
            from myduckserver_spark.sources.arrow import read_ipc

            df = read_ipc(self.spark, s.path)
        elif s.fmt == "parquet":
            df = self.spark.read.parquet(s.path)
        elif s.fmt == "json":
            df = self.spark.read.schema(base_schema).json(s.path)
        else:
            df = load_csv(
                self.spark,
                s.path,
                base_schema,
                sep=opts.get("delimiter", ","),
                quote=opts.get("quote", '"'),
                escape=opts.get("escape", "\\"),
                nullstr=opts.get("null", ""),
                header=bool(opts.get("header", False)),
            )
        df = df.select(*base_schema.fieldNames())
        n = df.count()
        self.insert(s.target, df)
        return OkResult(affected_rows=n, info=f"COPY FROM {s.path}")

    def copy_from_stdin(
        self,
        table: str,
        chunks,
        fmt: str = "text",
        columns: list[str] | None = None,
        **opts,
    ) -> OkResult:
        """COPY table [(cols)] FROM STDIN — chunked/streaming ingest.

        ``chunks`` is any iterable of str/bytes pieces of the client
        stream, split arbitrarily (mid-line, mid-CRLF). They are spooled
        to line-aligned temp parts and loaded with ONE typed CSV scan —
        the Spark form of the reference's FIFO pipeline
        (pgserver/dataloader.go:156-256, backend/loaddata.go:67-100).
        fmt: 'text' (tab + \\N, no quoting — pg default) or 'csv'.
        """
        import shutil
        import tempfile

        from myduckserver_spark.sources.csv import copy_from_chunks

        meta_schema = self.catalog.table(table).read().schema
        if columns:
            sub = [meta_schema[c] for c in columns]
            from pyspark.sql.types import StructType

            scan_schema = StructType(sub)
        else:
            scan_schema = meta_schema
        spool = tempfile.mkdtemp(prefix=f"copy_{table}_")
        try:
            is_csv = fmt.lower() == "csv"
            df = copy_from_chunks(
                self.spark,
                chunks,
                scan_schema,
                spool,
                text_mode=not is_csv,
                sep=opts.get("delimiter", "," if is_csv else "\t"),
                nullstr=opts.get("null", "" if is_csv else "\\N"),
                # pg CSV escapes quotes by doubling them: the escape char
                # IS the quote char (RFC 4180), not backslash
                quote=opts.get("quote", '"') if is_csv else "",
                escape=opts.get("escape", opts.get("quote", '"'))
                if is_csv
                else "\\",
                header=bool(opts.get("header", False)),
            )
            if columns:
                # missing columns take NULL (engine defaults apply on insert)
                from pyspark.sql import functions as F

                for f in meta_schema.fields:
                    if f.name not in columns:
                        df = df.withColumn(
                            f.name, F.lit(None).cast(f.dataType)
                        )
                df = df.select(*meta_schema.fieldNames())
            # Insert straight from the spool-backed scan: insert() writes
            # the new snapshot parquet (an action that drains the spool
            # executor-side), so the payload never materializes on the
            # driver — a multi-GB COPY streams through executors exactly
            # like the reference's pipelined loader
            # (pgserver/dataloader.go:156-256). The count is a second
            # distributed scan of the spool (cheap, line-aligned parts),
            # not a collect. Spool cleanup happens in `finally`, after
            # both actions.
            n = df.count()
            self.insert(table, df)
            return OkResult(affected_rows=n, info=f"COPY {table} FROM STDIN")
        finally:
            shutil.rmtree(spool, ignore_errors=True)

    @staticmethod
    def _on_dup_rewrite(assignments_src: str, base_cols) -> str:
        """ON DUPLICATE KEY UPDATE expression → prefixed-column SQL:
        VALUES(col) reads the INCOMING row (`__n_col`), bare base
        columns read the CURRENT row state (`__t_col`)."""
        out = re.sub(
            r"\bVALUES\s*\(\s*(?:`([^`]+)`|(\w+))\s*\)",
            lambda m: "`__n_" + (m.group(1) or m.group(2)) + "`",
            assignments_src,
            flags=re.I,
        )

        def qual(m: "re.Match[str]") -> str:
            w = m.group(1)
            return f"`__t_{w}`" if w in base_cols else w

        return re.sub(
            r"(?<![\w.`])([A-Za-z_]\w*)(?!\s*\()(?!`)", qual, out
        )

    def _on_dup_levels(self, meta: st.TableMeta, cols):
        """Conflict-resolution index levels in MySQL's first-match
        precedence: the PRIMARY KEY, then UNIQUE indexes in creation
        order (MySQL docs: with multiple matching unique indexes only
        the first matched row is updated). UNIQUE levels are
        null-exempt (NULL key parts never conflict)."""
        pk = list(meta.primary_key or [])
        levels = [("PRIMARY", pk, False)] if pk else []
        for iname, icols in self._unique_key_list(meta, cols):
            if not pk or list(icols) != pk:
                levels.append((iname, list(icols), True))
        return levels

    # key-column types whose driver-local Python values compare
    # round-trip-exactly with their Spark column values as literals.
    # FloatType (f32 truncation) and DecimalType (scale rounding) are
    # excluded: a literal built from the pre-ingestion Python value
    # could miss the stored (ingested) value.
    _LITERAL_KEY_TYPES = (
        T.LongType, T.IntegerType, T.ShortType, T.ByteType,
        T.StringType, T.BooleanType, T.DateType,
        T.TimestampType, T.TimestampNTZType, T.DoubleType,
    )

    @classmethod
    def _literal_key_pred(cls, schema, icols, keys, prefix="",
                          null_matches_null=False):
        """Membership predicate `(c1,..,ck) IN (literal keys)` over the
        columns `prefix+icols`, mirroring equi-join key semantics:
        NULL key parts never match (keys containing None are skipped —
        an equi-join would not match them either), NaN double keys
        match via isnan (join keys normalize NaN; plain `=` in a
        filter would not), -0.0 matches +0.0 (IEEE `=`). With
        `null_matches_null` a NULL key part matches a stored NULL
        instead (the canonical-JSON key semantics of the insert
        probe's non-exempt levels). Returns None when any key column's
        type is outside the round-trip-exact set (caller keeps its
        join-based path), F.lit(False) when no usable key remains."""
        for c in icols:
            if not isinstance(schema[c].dataType, cls._LITERAL_KEY_TYPES):
                return None
        ks = list({tuple(k) for k in keys})
        if not null_matches_null:
            ks = [k for k in ks if all(v is not None for v in k)]
        if not ks:
            return F.lit(False)

        def term(c, v):
            col = F.col(f"{prefix}{c}")
            if v is None:
                return col.isNull()
            if isinstance(v, float) and v != v:
                return F.isnan(col)
            return col == F.lit(v)

        if len(icols) == 1:
            c = icols[0]
            plain = [k[0] for k in ks if k[0] is not None
                     and not (isinstance(k[0], float) and k[0] != k[0])]
            pred = F.col(f"{prefix}{c}").isin(plain) if plain else F.lit(False)
            if any(k[0] is None for k in ks):
                pred = pred | F.col(f"{prefix}{c}").isNull()
            if any(isinstance(k[0], float) and k[0] != k[0] for k in ks):
                pred = pred | F.isnan(F.col(f"{prefix}{c}"))
            return pred
        from functools import reduce as _reduce
        return _reduce(
            lambda a, b: a | b,
            (
                _reduce(lambda a, b: a & b,
                        (term(c, v) for c, v in zip(icols, k)))
                for k in ks
            ),
        )

    @staticmethod
    def _canon_key(kv: tuple) -> tuple:
        """Python form of SQL key equality for driver-side key sets:
        NaN groups with NaN (a NaN is unequal to itself and hashes by
        identity), -0.0 with +0.0 (Python == and hash already agree),
        NULL with NULL (null-exempt levels skip such keys first)."""
        return tuple("\x00__nan__" if isinstance(v, float) and v != v
                     else v for v in kv)

    @classmethod
    def _intra_dup_local(cls, local_vals: dict[str, list],
                         levels) -> bool:
        """Intra-batch duplicate-key detection over driver-local VALUES
        rows — 0 Spark jobs. Key equality mirrors the distributed
        groupBy: NULL groups with NULL (but null-exempt levels skip
        rows with any NULL key part), NaN with NaN, -0.0 with +0.0."""
        nrows = len(next(iter(local_vals.values()), []))
        for _iname, icols, nex in levels:
            seen = set()
            for i in range(nrows):
                kv = tuple(local_vals[c][i] for c in icols)
                if nex and any(v is None for v in kv):
                    continue
                k = cls._canon_key(kv)
                if k in seen:
                    return True
                seen.add(k)
        return False

    def _insert_on_duplicate(
        self, name: str, df: DataFrame, meta: st.TableMeta,
        assignments: dict[str, str],
        want_insert_image: bool = False,
        want_update_pairs: bool = False,
        upsert_where: str | None = None,
        local_vals: dict[str, list] | None = None,
    ) -> tuple:
        """INSERT ... ON DUPLICATE KEY UPDATE (reference:
        TestInsertDuplicateKeyKeyless main_test.go:851; applied by the
        GMS layer). A row that conflicts with a stored row on the PK
        or ANY unique index updates that row (first matched index
        wins); new keys append. VALUES(col) refers to the incoming
        row. Affected-rows follows MySQL exactly: 1 per insert, 2 per
        value-changing update, 0 per no-op update.

        Two tiers:
        - driver-resolved (_upsert_driver): a small literal VALUES
          batch, and the order-dependent shapes of any batch
          (intra-batch duplicate keys, several batch rows hitting one
          stored row, unique-only tables). Rows are walked in statement
          order against the live state in Python, with assignment
          expressions evaluated BY SPARK in chain-depth rounds;
        - set-based (the 100 TB path, INSERT…SELECT and oversize
          batches): batch unique on every enforced key and every
          stored row matched at most once — level-wise anti-join
          cascade keeps matching distributed.
        """
        t = self.catalog.table(name)
        base = t.read()
        base_cols = base.columns
        levels = self._on_dup_levels(meta, df.columns)
        pk = list(meta.primary_key or [])

        # intra-batch duplicate keys on any enforced level? For a
        # literal VALUES batch the final key values are driver-known:
        # decide in Python, 0 Spark jobs. Otherwise ONE job for all
        # levels: union the per-level max-multiplicity aggregates
        # (each is a single short row) instead of one collect per level.
        intra = None
        if local_vals is not None and levels:
            try:
                intra = self._intra_dup_local(local_vals, levels)
            except TypeError:
                intra = None  # unhashable key part: use the probe
        if intra is None:
            probes = []
            for _iname, icols, nex in levels:
                grp = df
                if nex:
                    grp = grp.where(self._nonnull(icols))
                probes.append(
                    grp.groupBy(*icols).agg(F.count(F.lit(1)).alias("__c"))
                    .agg(F.max("__c").alias("__m"))
                )
            u = probes[0]
            for p in probes[1:]:
                u = u.unionByName(p)
            intra = any(
                (r["__m"] or 0) > 1
                for r in u.agg(F.max("__m").alias("__m")).collect()
            )

        key_cols = {c for _n, cols, _x in levels for c in cols}
        key_assigned = bool(set(assignments) & key_cols)
        if key_assigned:
            # assigning a key column mid-batch rewrites the conflict
            # target identity; MySQL allows it but documents the
            # result as statement-order-defined. Keep the legacy
            # PK-only matching for it, with a post-write uniqueness
            # gate, and refuse the sequential shapes.
            if intra or not pk:
                raise NotImplementedError(
                    "INSERT ... ON DUPLICATE KEY UPDATE assigning a "
                    "key column with intra-batch duplicate keys: "
                    "split the batch"
                )

        # ON UPDATE CURRENT_TIMESTAMP columns fire on the update arm
        # for rows that actually change, unless explicitly assigned
        # (MySQL semantics, reference TestOnUpdateExprScripts)
        on_update = {c: e for c, e in (meta.on_update or {}).items()
                     if c not in assignments and c in base_cols}

        if upsert_where is not None and (intra or not pk):
            raise NotImplementedError(
                "ON CONFLICT ... DO UPDATE ... WHERE with intra-batch "
                "duplicate keys (pg rejects a row affected twice): "
                "split the batch"
            )
        if not key_assigned and self._driver_resolvable(
                local_vals, levels, base.schema):
            # small literal batch: a pushed-down candidate scan, one
            # local evaluation job and a map-only write — no shuffle
            # of the stored table
            return self._upsert_driver(
                t, base, df, levels, "update", assignments, on_update,
                want_insert_image, want_update_pairs, upsert_where,
                local_vals=local_vals,
            )
        if not intra and pk:
            res = self._on_dup_setbased(
                t, base, df, levels, assignments, base_cols, on_update,
                want_insert_image, want_update_pairs, upsert_where,
            )
            if res is not None:
                if key_assigned:
                    self._enforce_unique_post(
                        t.read(),
                        self._unique_targets(meta, set(assignments)),
                        name,
                    )
                return res
        if upsert_where is not None:
            # sequential = a stored row hit twice; pg errors on that
            raise NotImplementedError(
                "ON CONFLICT ... DO UPDATE ... WHERE: a stored row is "
                "matched by more than one batch row (pg rejects this)"
            )
        return self._upsert_driver(
            t, base, df, levels, "update", assignments, on_update,
            want_insert_image, want_update_pairs, local_vals=local_vals,
        )

    def _driver_resolvable(self, local_vals, levels, schema) -> bool:
        """A literal VALUES batch the driver-resolved tier takes whole:
        its rows are driver-known (Spark-evaluated, at most
        _LITERAL_BATCH_CAP of them) and every key type compares
        round-trip-exactly as a literal, so the candidate fetch is one
        pushed-down membership scan."""
        return local_vals is not None and all(
            isinstance(schema[c].dataType, self._LITERAL_KEY_TYPES)
            for _n, icols, _x in levels for c in icols
        )

    def _on_dup_setbased(self, t, base, df, levels, assignments,
                         base_cols, on_update=None,
                         want_insert_image=False,
                         want_update_pairs=False,
                         upsert_where=None):
        """Distributed ON DUPLICATE KEY UPDATE: level-wise first-match
        cascade (rows that matched an earlier index leave the pool via
        anti-join before the next), one update projection, one write.
        Returns (affected, inserted_image, update_pairs) — or None
        when a stored row is matched by more than one batch row
        (order-dependent, handled sequentially)."""
        from functools import reduce as _reduce

        pk = levels[0][1]  # caller guarantees PRIMARY first
        nf = df.select([F.col(c).alias(f"__n_{c}") for c in base_cols])

        bf = base.select([F.col(c).alias(f"__t_{c}") for c in base_cols])
        rem = nf
        parts = []
        for _iname, icols, nex in levels:
            cond = _reduce(
                lambda a, b: a & b,
                (F.col(f"__t_{c}") == F.col(f"__n_{c}") for c in icols),
            )
            parts.append(rem.join(bf, cond, "inner"))
            basek = base.select(
                [F.col(c).alias(f"__n_{c}") for c in icols]
            ).distinct()
            if nex:
                basek = basek.where(
                    self._nonnull([f"__n_{c}" for c in icols]))
            rem = rem.join(basek, [f"__n_{c}" for c in icols], "left_anti")
        matched = parts[0]
        for p in parts[1:]:
            matched = matched.unionByName(p)

        # matched and rem are batch-sized (each batch row appears at
        # most once) but their DAGs join/anti-join the STORED table —
        # and they are consumed up to four times below (multi check,
        # change count, new count, final write). Materialize BOTH in
        # ONE tagged localCheckpoint (a second checkpoint re-ran the
        # shared level-cascade broadcast stages; measured: 47 Spark
        # jobs for a 2-row upsert pre-checkpoint, 10 of the remaining
        # 29 were the two separate materializations — the base table
        # would be re-scanned ~4x per level at 100 TB).
        ncols = [f"__n_{c}" for c in base_cols]
        tcols = [f"__t_{c}" for c in base_cols]
        ck = (
            matched.select(*ncols, *tcols, F.lit(True).alias("__mt"))
            .unionByName(rem.select(
                *ncols,
                *[F.lit(None).cast(base.schema[c].dataType)
                  .alias(f"__t_{c}") for c in base_cols],
                F.lit(False).alias("__mt"),
            ))
            .localCheckpoint()
        )
        matched = ck.where(F.col("__mt")).select(*ncols, *tcols)
        rem = ck.where(~F.col("__mt")).select(*ncols)

        gate = None
        if upsert_where is not None:
            gate = F.expr(
                self._on_dup_rewrite(upsert_where, base_cols)
            ).cast("boolean")
        newvals = {}
        chg = F.lit(False)
        for c in base_cols:
            if c in assignments:
                newv = F.expr(
                    self._on_dup_rewrite(assignments[c], base_cols)
                ).cast(base.schema[c].dataType)
                if gate is not None:
                    # pg conditional upsert: rows failing the WHERE
                    # keep their stored values
                    newv = F.when(gate, newv).otherwise(
                        F.col(f"__t_{c}"))
                newvals[c] = newv
                chg = chg | ~newv.eqNullSafe(F.col(f"__t_{c}"))
        upd_sel = []
        for c in base_cols:
            if c in newvals:
                upd_sel.append(newvals[c].alias(c))
            elif on_update and c in on_update:
                upd_sel.append(
                    F.when(chg, self._fragment(on_update[c]))
                    .otherwise(F.col(f"__t_{c}"))
                    .cast(base.schema[c].dataType).alias(c)
                )
            else:
                upd_sel.append(F.col(f"__t_{c}").alias(c))
        updated = matched.select(*upd_sel, chg.alias("__chg"))

        ins_img = None
        if want_insert_image:
            # stable without its own checkpoint: rem is checkpointed
            ins_img = rem.select(
                *[F.col(f"__n_{c}").alias(c) for c in base_cols]
            )
        upd_pairs = None
        if want_update_pairs:
            pair = [F.col(f"__t_{c}").alias(f"old_{c}")
                    for c in base_cols]
            for c, sel_c in zip(base_cols, upd_sel):
                pair.append(sel_c.alias(f"new_{c}"))
            upd_pairs = matched.select(*pair)

        # multi-hit check + both counts in ONE flat aggregate over the
        # checkpoint (was: a grouped multi probe job, then a separate
        # union-of-aggregates counts job — 5 AQE stage jobs). The
        # multi-hit condition "some stored row matched by >1 batch
        # row" is exactly count(matched) > countDistinct(stored pk
        # among matched), PK being non-null — no groupBy needed. If
        # the fused collect throws (an assignment expression erroring
        # on a matched pair), re-run the expression-free part alone so
        # a multi-hit batch still falls back to the driver tier
        # exactly as before instead of surfacing the set-based error.
        pk_t = F.when(
            F.col("__mt"), F.struct(*[F.col(f"__t_{c}") for c in pk])
        )
        multi_aggs = [
            F.count(F.when(F.col("__mt"), 1)).alias("__nm"),
            F.count_distinct(pk_t).alias("__npk"),
        ] if len(levels) > 1 else []
        cnt_q = ck.agg(
            F.count(F.when(~F.col("__mt"), 1)).alias("__nnew"),
            # nested WHEN: CaseWhen branches evaluate lazily, so the
            # assignment/chg expressions never run on rem rows (whose
            # __t_ inputs are NULL — an ANSI-mode error hazard)
            F.count(F.when(F.col("__mt"), F.when(chg, 1))).alias("__nchg"),
            *multi_aggs,
        )
        try:
            crow = cnt_q.collect()[0]
        except Exception:
            if multi_aggs:
                m = ck.agg(*multi_aggs).collect()[0]
                if int(m["__nm"]) > int(m["__npk"]):
                    return None  # two batch rows hit one stored row
            raise
        if multi_aggs and int(crow["__nm"]) > int(crow["__npk"]):
            return None  # two batch rows hit one stored row
        n_new, n_chg = int(crow["__nnew"]), int(crow["__nchg"])
        untouched = base.join(
            matched.select(
                *[F.col(f"__t_{c}").alias(c) for c in pk]
            ).distinct(),
            pk, "left_anti",
        )
        t.overwrite(
            untouched.unionByName(updated.drop("__chg")).unionByName(
                rem.select(
                    *[F.col(f"__n_{c}").alias(c) for c in base_cols]
                )
            )
        )
        return n_new + 2 * n_chg, ins_img, upd_pairs

    # literal-predicate candidate fetch / kept-filter is only used for
    # driver-known batches up to this many rows (the OR-of-AND plan
    # grows linearly with the batch; joins win past this size anyway)
    _LITERAL_BATCH_CAP = 256

    def _upsert_driver(self, t, base, df, levels, policy,
                       assignments=None, on_update=None,
                       want_insert_image=False,
                       want_update_pairs=False, upsert_where=None,
                       local_vals=None):
        """Driver-resolved conflict handling with MySQL row-at-a-time
        semantics: each batch row, in statement order, conflicts
        against the LIVE state — stored rows plus everything the
        statement already inserted or updated — on any level. Policy
        "update" (ON DUPLICATE KEY / ON CONFLICT DO UPDATE): the first
        matched entity takes the assignments, else the row inserts.
        Policy "replace" (REPLACE): the row removes every live entity
        it conflicts with on any key, then inserts itself.

        Matching is walked in Python over key values only; assignment
        expressions (and the ON CONFLICT … WHERE gate) are evaluated
        BY SPARK in chain-depth rounds (all k-th updates of every
        entity form one local job). The write is map-only: stored
        candidates swap out by the same predicate that fetched them,
        final entity states union in. Bounded like cursors: the batch
        is capped BEFORE collect via limit(cap+1); candidate stored
        rows are ≤ batch×levels by construction.

        Returns (affected, inserted_image, update_pairs)."""
        from functools import reduce as _reduce

        assignments = assignments or {}
        base_cols = base.columns
        key_cols = {c for _n, cols, _x in levels for c in cols}
        if set(assignments) & key_cols:
            raise NotImplementedError(
                "INSERT ... ON DUPLICATE KEY UPDATE assigning a key "
                "column with intra-batch duplicate keys: split the "
                "batch"
            )
        cap = self._CHAIN_WALK_CAP
        if local_vals is not None:
            # Spark-evaluated literal rows, in statement order
            batch = [
                {c: local_vals[c][i] for c in base_cols}
                for i in range(len(local_vals[base_cols[0]]))
            ]
        else:
            ordered = df.withColumn(
                "__ord", F.monotonically_increasing_id())
            batch = ordered.orderBy("__ord").limit(cap + 1).collect()
            if len(batch) > cap:
                raise NotImplementedError(
                    "INSERT ... ON DUPLICATE KEY UPDATE with intra-batch "
                    f"duplicate keys over >{cap} rows: split the batch "
                    "(sequential chains resolve driver-side)"
                )

        # stored rows any batch key can hit, on any level (complete:
        # keys never change — no key column is assigned). For a small
        # batch the per-level key sets become ONE literal membership
        # scan (no per-level semi-join, and the IN predicates can push
        # to the parquet scan); bigger batches keep the join path.
        anyhit = None
        if len(batch) <= self._LITERAL_BATCH_CAP:
            preds = []
            for _iname, icols, nex in levels:
                keys = [tuple(r[c] for c in icols) for r in batch]
                p = self._literal_key_pred(base.schema, icols, keys)
                if p is None:
                    preds = None
                    break
                preds.append(p)
            if preds is not None:
                anyhit = F.coalesce(
                    _reduce(lambda a, b: a | b, preds), F.lit(False))
        if anyhit is not None:
            cand_rows = base.filter(anyhit).limit(
                cap * len(levels) + 1).collect()
        else:
            cand = None
            for _iname, icols, nex in levels:
                keys_df = df.select(*icols).distinct()
                if nex:
                    keys_df = keys_df.where(self._nonnull(icols))
                part = base.join(keys_df, icols, "left_semi")
                cand = part if cand is None else cand.unionByName(part)
            cand_rows = cand.distinct().limit(
                cap * len(levels) + 1).collect()

        ents: list[dict] = []
        alive: list[bool] = []
        index: list[dict] = [dict() for _ in levels]

        def level_keys(vals: dict):
            # (level, canonical key) pairs; null-exempt levels skip
            # keys with a NULL part
            for i, (_iname, icols, nex) in enumerate(levels):
                kv = tuple(vals[c] for c in icols)
                if not (nex and any(v is None for v in kv)):
                    yield i, self._canon_key(kv)

        def register(vals: dict) -> int:
            ents.append(vals)
            alive.append(True)
            for i, k in level_keys(vals):
                index[i].setdefault(k, len(ents) - 1)
            return len(ents) - 1

        for r in cand_rows:
            register({c: r[c] for c in base_cols})

        inserts = removed = 0
        inserted_rows: list[tuple] = []  # initial values (MySQL: the
        # AFTER INSERT image is the row as inserted, before any later
        # duplicate in the same batch updates it)
        chains: dict[int, list] = {}
        for r in batch:
            vals = {c: r[c] for c in base_cols}
            hits = [index[i].get(k) for i, k in level_keys(vals)]
            hits = list(dict.fromkeys(e for e in hits if e is not None))
            if policy == "replace":
                for eid in hits:
                    alive[eid] = False
                    removed += 1
                    for i, k in level_keys(ents[eid]):
                        if index[i].get(k) == eid:
                            del index[i][k]
            elif hits:
                chains.setdefault(hits[0], []).append(r)
                continue
            register(vals)
            inserts += 1
            if want_insert_image:
                inserted_rows.append(tuple(vals[c] for c in base_cols))

        # evaluate updates in chain-depth rounds: Spark computes every
        # k-th update in one local job (arbitrary SQL expressions stay
        # engine-evaluated; the driver only carries values)
        depth = max((len(v) for v in chains.values()), default=0)
        if upsert_where is not None and depth > 1:
            # pg: ON CONFLICT DO UPDATE cannot affect a row twice
            raise NotImplementedError(
                "ON CONFLICT ... DO UPDATE ... WHERE: a stored row is "
                "matched by more than one batch row (pg rejects this)"
            )
        gate = None
        if upsert_where is not None:
            gate = F.expr(
                self._on_dup_rewrite(upsert_where, base_cols)
            ).cast("boolean")
        changed = 0
        pair_rows: list[tuple] = []
        schema = T.StructType(
            [T.StructField("__eid", T.LongType(), False)]
            + [T.StructField(f"__t_{f.name}", f.dataType, True)
               for f in base.schema.fields]
            + [T.StructField(f"__n_{f.name}", f.dataType, True)
               for f in base.schema.fields]
        )
        for k in range(depth):
            todo = [(eid, rows[k]) for eid, rows in chains.items()
                    if len(rows) > k]
            local = local_frame(
                self.spark,
                [tuple([eid]
                       + [ents[eid][c] for c in base_cols]
                       + [r[c] for c in base_cols])
                 for eid, r in todo],
                schema,
            )
            sel = [F.col("__eid")]
            chg = F.lit(False)
            for c in assignments:
                newv = F.expr(
                    self._on_dup_rewrite(assignments[c], base_cols)
                ).cast(base.schema[c].dataType)
                if gate is not None:
                    # pg conditional upsert: rows failing the WHERE
                    # keep their stored values
                    newv = F.when(gate, newv).otherwise(F.col(f"__t_{c}"))
                sel.append(newv.alias(c))
                chg = chg | ~newv.eqNullSafe(F.col(f"__t_{c}"))
            for c in on_update or ():
                sel.append(
                    self._fragment(on_update[c])
                    .cast(base.schema[c].dataType).alias(c)
                )
            res = local.select(*sel, chg.alias("__chg")).collect()
            for rr in res:
                eid = rr["__eid"]
                old_vals = tuple(ents[eid][c] for c in base_cols)
                for c in assignments:
                    ents[eid][c] = rr[c]
                if rr["__chg"]:
                    changed += 1
                    for c in on_update or ():
                        # fires only when the row actually changed
                        ents[eid][c] = rr[c]
                if want_update_pairs:
                    pair_rows.append(
                        old_vals
                        + tuple(ents[eid][c] for c in base_cols)
                    )

        # swap candidates out, live entity states in (the filter /
        # anti-joins mirror candidate selection exactly — keys are
        # static). Using the SAME predicate for fetch and removal
        # guarantees no stored row is dropped without having been
        # collected into ents first.
        if anyhit is not None:
            kept = base.filter(~anyhit)
        else:
            kept = base
            for _iname, icols, nex in levels:
                keys_df = df.select(*icols).distinct()
                if nex:
                    keys_df = keys_df.where(self._nonnull(icols))
                kept = kept.join(keys_df, icols, "left_anti")
        out_schema = T.StructType(
            [T.StructField(f.name, f.dataType, True)
             for f in base.schema.fields]
        )

        live = [tuple(e[c] for c in base_cols)
                for e, a in zip(ents, alive) if a]
        t.overwrite(kept.select(*base_cols).unionByName(
            local_frame(self.spark, live, out_schema)))
        ins_img = local_frame(self.spark, inserted_rows, out_schema) \
            if want_insert_image else None
        upd_pairs = None
        if want_update_pairs:
            upd_pairs = local_frame(self.spark, pair_rows, T.StructType(
                [T.StructField(f"old_{f.name}", f.dataType, True)
                 for f in base.schema.fields]
                + [T.StructField(f"new_{f.name}", f.dataType, True)
                   for f in base.schema.fields]
            ))
        # MySQL affected-rows: 1/insert, 1/removed row (REPLACE),
        # 2/changing update, 0/no-op update
        return inserts + removed + 2 * changed, ins_img, upd_pairs

    def _row_cap_cond(
        self, table: str, cond: Column, order_by: str | None, limit: int
    ) -> Column:
        """MySQL UPDATE/DELETE ... [ORDER BY ...] LIMIT n: membership
        condition selecting the first n matching rows by PK. The PK
        list collects to the driver — n is the user's explicit LIMIT,
        inherently small; the rewrite itself stays a single filtered
        scan. Requires a PRIMARY KEY of any arity (MySQL needs a
        deterministic order to make LIMIT well-defined too)."""
        from functools import reduce as _reduce

        meta = self.table_meta(table)
        pks = self._limit_dml_pks(meta, table)
        sel = self.catalog.table(table).read().filter(cond)
        if order_by:
            orders = []
            for item in st.split_top_level(order_by, ","):
                it = item.strip()
                desc = bool(re.search(r"\s+DESC$", it, re.I))
                core = re.sub(r"\s+(ASC|DESC)$", "", it, flags=re.I)
                c = self._fragment(core)
                orders.append(c.desc() if desc else c.asc())
            sel = sel.orderBy(*orders)
        else:
            sel = sel.orderBy(  # deterministic default
                *[F.col(c).asc() for c in pks])
        rows = sel.select(*pks).limit(limit).collect()
        if len(pks) == 1:
            return F.col(pks[0]).isin([r[0] for r in rows])
        if not rows:
            return F.lit(False)
        return _reduce(
            lambda a, b: a | b,
            (
                _reduce(
                    lambda a, b: a & b,
                    (F.col(c) == F.lit(v) for c, v in zip(pks, r)),
                )
                for r in rows
            ),
        )

    # FROM 'file.parquet' / FROM read_parquet('file') direct-file sugar.
    # Matched on the RAW text (the path IS a string literal, which the
    # string mask blanks); a mask check on the keyword position keeps
    # FROM-lookalikes inside other literals untouched.
    _FILE_RE = re.compile(
        r"\b(FROM|JOIN)\s+(?:"
        r"'([^']*\.(?:parquet|csv|tsv|json|jsonl|orc))'"
        r"|read_(?:parquet|csv_auto|csv|json)\s*\(\s*'([^']*)'\s*\)"
        r")",
        re.I,
    )

    def _rewrite_file_query(self, query: str) -> str:
        """DuckDB-style direct file queries through the SQL front door
        (``SELECT * FROM 'f.parquet'``, ``FROM read_parquet('f')`` —
        reference docs/tutorial/load-parquet-files.md): the file is
        registered as a temp view via sources.files.query_file."""
        low = query.lower()
        if "read_" not in low and not any(
            ext in low for ext in (".parquet", ".csv", ".json", ".orc",
                                   ".tsv", ".jsonl")
        ):
            return query
        from myduckserver_spark.sources.files import query_file
        from myduckserver_spark.statements import mask_strings

        mask = mask_strings(query)

        def repl(m: re.Match) -> str:
            if mask[m.start()] == "\x01":  # keyword inside a literal
                return m.group(0)
            path = m.group(2) or m.group(3)
            self._asof_seq = getattr(self, "_asof_seq", 0) + 1
            view = f"__file_{self._asof_seq}"
            query_file(self.spark, path).createOrReplaceTempView(view)
            return f"{m.group(1)} {view}"

        return self._FILE_RE.sub(repl, query)

    def _exec_analyze(self, s: "st.AnalyzeStmt") -> DataFrame:
        """ANALYZE TABLE: one aggregation pass per table computes row
        count + per-column approx NDV / null count / min / max, saved
        into table meta (reference: GMS TestStatistics; the stats the
        reference gets for free from DuckDB's own table stats). Spark's
        cost decisions stay with AQE at runtime — these stats serve
        observability (SHOW/ANALYZE output) and external planners."""
        out_rows = []
        for name in s.tables:
            df = self.catalog.table(name).read()
            aggs = [F.count(F.lit(1)).alias("__n")]
            for c in df.columns:
                aggs.append(F.approx_count_distinct(c).alias(f"__ndv_{c}"))
                aggs.append(
                    F.sum(F.col(c).isNull().cast("long")).alias(f"__nul_{c}")
                )
                aggs.append(F.min(c).cast("string").alias(f"__min_{c}"))
                aggs.append(F.max(c).cast("string").alias(f"__max_{c}"))
            r = df.agg(*aggs).collect()[0]
            meta = self.table_meta(name)
            meta.stats = {
                "rows": r["__n"],
                "analyzed_version": self.catalog.table(name).version,
                "columns": {
                    c: {
                        "ndv": r[f"__ndv_{c}"],
                        "nulls": r[f"__nul_{c}"],
                        "min": r[f"__min_{c}"],
                        "max": r[f"__max_{c}"],
                    }
                    for c in df.columns
                },
            }
            self._save_meta(name, meta)
            out_rows.append(
                (f"{self.current_db}.{name}", "analyze", "status", "OK")
            )
        return local_frame(
            self.spark, out_rows,
            "Table string, Op string, Msg_type string, Msg_text string",
        )

    # ------------------------------------------------------ change feed

    def table_changes(
        self, name: str, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Row-level diff between two committed versions (Delta-style
        change data feed over the versioned catalog; the batch analog
        of the CDC stream the reference tails from binlog). Emits table
        columns + `_change_type` in {'insert','delete',
        'update_preimage','update_postimage'}, keyed by the primary
        key. SQL form: SELECT * FROM TABLE_CHANGES('t', v1[, v2]).

        Scale: two snapshot scans + one full-outer join on the PK —
        single shuffle; no driver-side diffing.
        """
        from functools import reduce as _reduce

        t = self.catalog.table(name)
        v_to = t.version if v_to is None else v_to
        meta = self.table_meta(name)
        pks = list(meta.primary_key or [])
        if not pks:
            raise ValueError(
                f"TABLE_CHANGES needs a primary key on {name}"
            )
        old = t.read_version(v_from)
        new = t.read_version(v_to)
        cols = new.columns
        o = old.select([F.col(c).alias(f"__o_{c}") for c in cols])
        n = new.select([F.col(c).alias(f"__n_{c}") for c in cols])
        j = o.join(
            n,
            _reduce(
                lambda a, b: a & b,
                (o[f"__o_{c}"] == n[f"__n_{c}"] for c in pks),
            ),
            "full_outer",
        )
        # PK columns are NOT NULL by construction, so one key column's
        # nullness decides side-presence for any key arity
        pk = pks[0]
        same_row = F.concat_ws(
            "\x1f", *[F.coalesce(F.col(f"__o_{c}").cast("string"), F.lit("∅"))
                      for c in cols]
        ) == F.concat_ws(
            "\x1f", *[F.coalesce(F.col(f"__n_{c}").cast("string"), F.lit("∅"))
                      for c in cols]
        )
        inserted = j.filter(F.col(f"__o_{pk}").isNull()).select(
            *[F.col(f"__n_{c}").alias(c) for c in cols],
            F.lit("insert").alias("_change_type"),
        )
        deleted = j.filter(F.col(f"__n_{pk}").isNull()).select(
            *[F.col(f"__o_{c}").alias(c) for c in cols],
            F.lit("delete").alias("_change_type"),
        )
        both = j.filter(
            F.col(f"__o_{pk}").isNotNull()
            & F.col(f"__n_{pk}").isNotNull()
            & ~same_row
        )
        pre = both.select(
            *[F.col(f"__o_{c}").alias(c) for c in cols],
            F.lit("update_preimage").alias("_change_type"),
        )
        post = both.select(
            *[F.col(f"__n_{c}").alias(c) for c in cols],
            F.lit("update_postimage").alias("_change_type"),
        )
        return inserted.unionByName(deleted).unionByName(pre).unionByName(
            post
        )

    # NOTE: matched against the string-MASKED query (the table-name
    # literal's body is masked there), so the name group is [^']* and
    # sub_outside_strings re-matches the original span to extract it.
    _TC_PATTERN = (
        r"\bTABLE_CHANGES\s*\(\s*'([^']*)'\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)"
    )

    def _rewrite_table_changes(self, query: str) -> str:
        """FROM TABLE_CHANGES('t', v1[, v2]) → a registered diff view."""
        if "table_changes" not in query.lower():
            return query
        from myduckserver_spark.statements import sub_outside_strings

        def repl(m: re.Match) -> str:
            name, v1 = m.group(1), int(m.group(2))
            if not re.fullmatch(r"\w+", name):
                raise ValueError(f"bad TABLE_CHANGES table name: {name!r}")
            v2 = int(m.group(3)) if m.group(3) else None
            view = f"__tc_{name}_{v1}_{'cur' if v2 is None else v2}"
            self.table_changes(name, v1, v2).createOrReplaceTempView(view)
            return view

        return sub_outside_strings(self._TC_PATTERN, repl, query, re.I)

    # VECTOR_SEARCH('table', 'index', ARRAY[...], k[, nprobe])
    _VS_PATTERN = (
        r"\bVECTOR_SEARCH\s*\(\s*'([^']*)'\s*,\s*'([^']*)'\s*,\s*"
        r"ARRAY\s*\[([^\]]*)\]\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)"
    )

    def _rewrite_vector_search(self, query: str) -> str:
        """FROM VECTOR_SEARCH('t', 'idx', ARRAY[q...], k[, nprobe]) →
        a registered top-k view over the persisted IVF index."""
        if "vector_search" not in query.lower():
            return query
        from myduckserver_spark.statements import sub_outside_strings

        def repl(m: re.Match) -> str:
            table, index = m.group(1), m.group(2)
            vec = [float(x) for x in m.group(3).split(",") if x.strip()]
            k = int(m.group(4))
            nprobe = int(m.group(5)) if m.group(5) else 1
            self._asof_seq = getattr(self, "_asof_seq", 0) + 1
            view = f"__vs_{self._asof_seq}"
            self.vector_search(
                table, index, vec, k=k, nprobe=nprobe
            ).createOrReplaceTempView(view)
            return view

        return sub_outside_strings(self._VS_PATTERN, repl, query, re.I)

    # ------------------------------------------------------ vector index

    # ------------------------------------------------------- subscriptions
    # Declarative replication lifecycle (reference:
    # pgserver/subscription_handler.go:162-238 — create persists the
    # subscription, enable/disable flip its status, drop removes it,
    # and the replication loop applies changes for enabled ones). Here
    # the transport is the file CDC feed and the apply machinery is
    # CdcApplier (streaming/cdc_source.py) with its exactly-once
    # position commits, so enable→disable→enable resumes without
    # replays or gaps.

    def _subs_path(self) -> str:
        return os.path.join(self._warehouse, "__subscriptions.json")

    def _load_subs(self) -> dict:
        p = self._subs_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {}

    def _save_subs(self, subs: dict) -> None:
        os.makedirs(self._warehouse, exist_ok=True)
        with open(self._subs_path(), "w") as f:
            json.dump(subs, f)

    def _exec_subscription(self, s: "st.SubscriptionStmt") -> "OkResult":
        subs = self._load_subs()
        if s.action == "create":
            if s.name in subs:
                raise ValueError(f"subscription exists: {s.name}")
            conn = dict(s.connection or {})
            if "path" not in conn or "table" not in conn:
                raise ValueError(
                    "CONNECTION must carry path=<feed root> and "
                    "table=<target> for the file-feed transport"
                )
            meta = self.table_meta(conn["table"])  # validates target
            pk = conn.get("pk", "")
            pk_cols = [c for c in pk.split(",") if c] or list(
                meta.primary_key
            )
            if not pk_cols:
                raise ValueError(
                    "subscription target needs a primary key (or pk= "
                    "in the connection string)"
                )
            subs[s.name] = {
                "connection": conn,
                "publication": s.publication,
                "pk_cols": pk_cols,
                "enabled": True,  # created subscriptions replicate
            }
            self._save_subs(subs)
            return OkResult(info=f"subscription {s.name} created")
        if s.name not in subs:
            raise ValueError(f"unknown subscription: {s.name}")
        if s.action in ("enable", "disable"):
            subs[s.name]["enabled"] = s.action == "enable"
            self._save_subs(subs)
            # a disabled applier is dropped; re-enable rebuilds it and
            # resumes from the committed position (exactly-once)
            if s.action == "disable":
                self._drop_applier(s.name)
            return OkResult(info=f"subscription {s.name} {s.action}d")
        if s.action == "drop":
            self._drop_applier(s.name)
            del subs[s.name]
            self._save_subs(subs)
            return OkResult(info=f"subscription {s.name} dropped")
        raise ValueError(f"unknown subscription action: {s.action}")

    def _drop_applier(self, name: str) -> None:
        ap = getattr(self, "_sub_appliers", {}).pop(name, None)
        if ap is not None:
            ap.close()

    def subscription_tick(self) -> dict[str, int]:
        """Apply pending feed events for every ENABLED subscription
        (one replication-loop iteration; reference logrepl's
        UpdateSubscriptions poll). Returns rows applied per name."""
        from myduckserver_spark.streaming.cdc_source import (
            CdcApplier,
            FileCdcFeed,
        )

        if not hasattr(self, "_sub_appliers"):
            self._sub_appliers = {}
        out: dict[str, int] = {}
        for name, cfg in self._load_subs().items():
            if not cfg.get("enabled"):
                continue
            ap = self._sub_appliers.get(name)
            if ap is None:
                conn = cfg["connection"]
                table = self.catalog.table(conn["table"])
                ap = CdcApplier(
                    self.spark,
                    FileCdcFeed(conn["path"]),
                    table,
                    cfg["pk_cols"],
                    table.read().schema,
                    app_id=f"sub_{name}",
                )
                self._sub_appliers[name] = ap
            results = list(ap.poll())
            r = ap.query_barrier()  # flush whatever the poll buffered
            if r:
                results.append(r)
            out[name] = sum(x.rows for x in results if x and x.applied)
        return out

    def start_replication(self, interval: float = 0.2) -> None:
        """Background replication loop: poll enabled subscriptions every
        `interval` seconds until stop_replication() (the reference runs
        its applier as a goroutine event loop,
        binlog_replica_applier.go:108-483; here one daemon thread drives
        subscription_tick, whose appliers are exactly-once, so a tick
        racing a concurrent statement can duplicate nothing)."""
        import threading

        t = getattr(self, "_repl_thread", None)
        if t is not None and t.is_alive():
            return
        self._repl_stop = threading.Event()
        self.replication_errors: list[str] = []

        def loop() -> None:
            while not self._repl_stop.wait(interval):
                try:
                    self.subscription_tick()
                except Exception as e:  # keep looping; surface the error
                    self.replication_errors.append(repr(e))
                    del self.replication_errors[:-20]

        self._repl_thread = threading.Thread(
            target=loop, daemon=True, name="replication-loop"
        )
        self._repl_thread.start()

    def stop_replication(self) -> None:
        t = getattr(self, "_repl_thread", None)
        if t is None:
            return
        self._repl_stop.set()
        t.join(timeout=10)
        self._repl_thread = None

    def _exec_create_fulltext_index(self, s: "st.CreateIndex") -> "OkResult":
        """CREATE FULLTEXT INDEX: materialize a document-frequency
        index — (term, df) rows plus one stats row (term='', n_docs,
        sum_dl) — so MATCH...AGAINST can resolve to a real Okapi BM25
        scalar with index-derived constants (_rewrite_match_bm25).
        This is the Spark-shaped analog of go-mysql-server's fulltext
        index tables (reference: TestFulltextIndexes main_test.go:1879;
        fulltext relevancy computed from per-word index tables).

        Scale: one pass over the table (distinct-terms explode +
        count), the same build cost class as any inverted index; the
        index table is term-keyed so query-time df lookups read a few
        rows via predicate pushdown.
        """
        idx_table = f"__ftidx_{s.table}_{s.name}"
        built_v = self.catalog.table(s.table).version
        self.catalog.create_table(
            idx_table,
            self._build_fulltext_index_df(s.table, s.columns),
        )
        meta = self.table_meta(s.table)
        meta.indexes[s.name] = {
            "columns": s.columns, "unique": False, "fulltext": True,
            "index_table": idx_table, "table_version": built_v,
        }
        self._save_meta(s.table, meta)
        return OkResult(info=f"fulltext index {s.name} built")

    @staticmethod
    def _fulltext_doc_stats(df: DataFrame, cols: list[str]) -> DataFrame:
        """(__dl, __terms) per document — the shared tokenization of
        index build and incremental reconcile (they MUST agree or df
        deltas drift)."""
        text = (
            F.col(cols[0])
            if len(cols) == 1
            else F.concat_ws(" ", *[F.col(c) for c in cols])
        )
        toks = F.split(F.lower(F.trim(text)), " ")
        return df.withColumns({
            "__dl": F.size(toks).cast("long"),
            "__terms": F.array_distinct(toks),
        })

    def _build_fulltext_index_df(
        self, table: str, cols: list[str]
    ) -> DataFrame:
        base = self._fulltext_doc_stats(
            self.catalog.table(table).read(), cols
        ).select("__dl", "__terms")
        df_tab = (
            base.select(F.explode("__terms").alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("df"))
            .selectExpr(
                "term", "df", "CAST(0 AS BIGINT) AS n_docs",
                "CAST(0 AS BIGINT) AS sum_dl",
            )
        )
        stats = base.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__dl").cast("long").alias("sum_dl"),
        ).selectExpr(
            "'' AS term", "CAST(0 AS BIGINT) AS df",
            "COALESCE(n_docs, CAST(0 AS BIGINT)) AS n_docs",
            "COALESCE(sum_dl, CAST(0 AS BIGINT)) AS sum_dl",
        )
        return df_tab.unionByName(stats)

    def _reconcile_fulltext_index(
        self, table: str, iname: str, props: dict
    ) -> None:
        """Incremental fulltext-index maintenance through the change
        feed (MySQL maintains FT indexes on DML; the reference gets
        this from GMS fulltext tables). When the base table moved past
        the index's build version, apply per-term df deltas computed
        from ONLY the changed rows — insert/update_postimage add a
        document's distinct terms, delete/update_preimage subtract —
        plus one (n_docs, sum_dl) stats adjustment. Work is bounded by
        the DIFF plus one pass over the term dictionary (itself far
        smaller than the corpus), the same contract as the vector
        index's reconcile. Falls back to a full rebuild when the diff
        isn't computable (pre-versioning index, VACUUMed base
        snapshot, multi-column PK)."""
        t = self.catalog.table(table)
        built = props.get("table_version", -1)
        cur = t.version
        if built == cur:
            return
        idx_t = self.catalog.table(props["index_table"])
        cols = props.get("columns", [])
        try:
            if built < 0:
                raise ValueError("index predates version tracking")
            ch = self.table_changes(table, built, cur)
            signed = ch.withColumn(
                "__sign",
                F.when(
                    F.col("_change_type").isin(
                        "insert", "update_postimage"
                    ),
                    F.lit(1),
                ).otherwise(F.lit(-1)),
            )
            base = self._fulltext_doc_stats(signed, cols).select(
                "__dl", "__terms", "__sign"
            )
            deltas = (
                base.select(F.explode("__terms").alias("term"), "__sign")
                .groupBy("term")
                .agg(F.sum("__sign").cast("long").alias("__ddf"))
            )
            srow = base.agg(
                F.sum("__sign").alias("nd"),
                F.sum(F.col("__sign") * F.col("__dl")).alias("sd"),
            ).collect()[0]
            nd, sd = int(srow.nd or 0), int(srow.sd or 0)
            merged = (
                idx_t.read()
                .join(deltas, "term", "full_outer")
                .select(
                    "term",
                    (
                        F.coalesce(F.col("df"), F.lit(0))
                        + F.coalesce(F.col("__ddf"), F.lit(0))
                    ).cast("long").alias("df"),
                    F.when(
                        F.col("term") == "",
                        F.coalesce(F.col("n_docs"), F.lit(0)) + F.lit(nd),
                    ).otherwise(F.lit(0)).cast("long").alias("n_docs"),
                    F.when(
                        F.col("term") == "",
                        F.coalesce(F.col("sum_dl"), F.lit(0)) + F.lit(sd),
                    ).otherwise(F.lit(0)).cast("long").alias("sum_dl"),
                )
                .filter((F.col("term") == "") | (F.col("df") > 0))
            )
            idx_t.overwrite(merged)
        except Exception:
            idx_t.overwrite(self._build_fulltext_index_df(table, cols))
        meta = self.table_meta(table)
        if iname in meta.indexes:
            meta.indexes[iname]["table_version"] = cur
            self._save_meta(table, meta)

    def _rewrite_match_bm25(self, query: str) -> str:
        """Route MATCH(cols) AGAINST('terms') in NATURAL LANGUAGE MODE
        (the MySQL default) to a BM25 relevance scalar when a matching
        FULLTEXT INDEX exists: per-term document frequencies and corpus
        stats come from the index table (a few term-keyed rows), idf /
        avgdl are computed driver-side and inlined as literals, and the
        per-row tf/dl arithmetic stays in the scan — the same split a
        native fulltext engine makes. BOOLEAN MODE and un-indexed
        tables keep the documented token-overlap shim
        (functions/mysql_compat._match_against)."""
        if "MATCH" not in query.upper():
            return query
        from myduckserver_spark.operators.text import (
            bm25_idf, bm25_scalar_sql,
        )
        from myduckserver_spark.statements import mask_strings

        pat = re.compile(
            r"MATCH\s*\(([^)]*)\)\s+AGAINST\s*\(\s*('(?:[^']|'')*')\s*"
            r"(IN\s+NATURAL\s+LANGUAGE\s+MODE\s*)?\)",
            re.I,
        )
        masked = mask_strings(query)

        def repl(m: re.Match) -> str:
            frag = query[m.start():m.end()]
            if re.search(r"BOOLEAN\s+MODE", masked[m.start():m.end()], re.I):
                return frag  # boolean mode keeps the overlap shim
            # MySQL: bare MATCH in predicate position means
            # relevance > 0; Spark WHERE requires a real boolean.
            pm = re.search(r"([A-Za-z_]+)\s*$", masked[: m.start()])
            after = masked[m.end():].lstrip()
            bare_pred = (
                pm is not None
                and pm.group(1).upper()
                in ("WHERE", "AND", "OR", "NOT", "HAVING", "WHEN",
                    "THEN", "ON")
                and (not after or after[0] not in "<>=!+-*/%")
            )

            def _shape(scalar: str) -> str:
                return f"({scalar} > 0.0)" if bare_pred else scalar
            cols = [c.strip().strip('`') for c in m.group(1).split(",")]
            # find a fulltext index declared on exactly these columns
            # (cached column-set map — one metadata pass at DDL time,
            # not an O(tables) scan per MATCH query)
            want = frozenset(cols)
            hit = next(
                (
                    props
                    for colset, props in self._fulltext_index_map()
                    if colset == want
                ),
                None,
            )
            if hit is None:
                return frag  # no index: overlap shim handles it
            # DML since the index build: reconcile incrementally from
            # the change feed before serving index-derived constants
            self._reconcile_fulltext_index(hit["table"], hit["name"], hit)
            # group offsets index the MASKED text (string contents
            # blanked, length-preserving) — read the literal from the
            # original query at the same offsets.
            terms_lit = query[m.start(2) + 1:m.end(2) - 1].replace("''", "'")
            terms = [t for t in terms_lit.lower().split() if t]
            if not terms:
                return _shape("0.0")
            n_docs, sum_dl, dfs = self._bm25_stats(
                hit["index_table"], hit["table"], tuple(sorted(set(terms)))
            )
            if n_docs == 0:
                return _shape("0.0")
            avgdl = sum_dl / n_docs
            idf = {t: bm25_idf(n_docs, dfs.get(t, 0)) for t in terms}
            text_sql = (
                cols[0] if len(cols) == 1
                else "concat_ws(' ', " + ", ".join(cols) + ")"
            )
            return _shape(bm25_scalar_sql(text_sql, terms, idf, avgdl))

        out = []
        last = 0
        for m in pat.finditer(masked):
            out.append(query[last:m.start()])
            out.append(repl(m))
            last = m.end()
        out.append(query[last:])
        return "".join(out)

    def _exec_create_vector_index(
        self, s: "st.CreateVectorIndex"
    ) -> "OkResult":
        """Materialized IVF index build (operators/vindex.py): centroid
        + bucket-sorted assignment tables persisted in the catalog, the
        embedding-column analog of the reference's ART indexes
        (catalog/table.go). Records the built-from table version —
        search raises on staleness instead of silently serving a
        pre-DML view."""
        from myduckserver_spark.operators import vindex

        meta = self.table_meta(s.table)
        if s.name in meta.indexes and not s.or_replace:
            raise ValueError(f"index exists: {s.name} (use OR REPLACE)")
        if len(meta.primary_key) != 1:
            raise ValueError(
                "CREATE VECTOR INDEX needs a single-column primary key "
                f"on {s.table}"
            )
        pk = meta.primary_key[0]
        t = self.catalog.table(s.table)
        nlist = int(s.options.get("nlist", 8))
        iters = int(s.options.get("iters", 3))
        cent, assign = vindex.build_ivf(
            t.read(), pk, s.column, nlist=nlist, iters=iters
        )
        self.catalog.create_table(f"__vidx_{s.table}_{s.name}_centroids", cent)
        self.catalog.create_table(f"__vidx_{s.table}_{s.name}_assign", assign)
        meta.indexes[s.name] = {
            "columns": [s.column],
            "unique": False,
            "vector": True,
            "nlist": nlist,
            "table_version": t.version,
        }
        self._save_meta(s.table, meta)
        return OkResult(info=f"vector index {s.name} built (nlist={nlist})")

    def _reconcile_vector_index(
        self, table: str, index: str, props: dict
    ) -> None:
        """Incremental index maintenance through the change feed: when
        the table moved past the index's build version, reassign ONLY
        the inserted/updated rows (map-only, centroids broadcast) and
        drop deleted/updated pre-image assignments — work bounded by
        the DIFF, never the corpus. Centroids stay fixed, standard IVF
        practice (retraining is CREATE OR REPLACE). This is the
        Spark-side analog of the reference's auto-maintained ART
        indexes (catalog/table.go), made explicit and batch-shaped."""
        from myduckserver_spark.operators.similarity import ivf_assign

        t = self.catalog.table(table)
        built_v = props.get("table_version")
        pk = self.table_meta(table).primary_key[0]
        col = props["columns"][0]
        changes = self.table_changes(table, built_v, t.version)
        touched = changes.filter(
            F.col("_change_type").isin(
                "insert", "update_postimage", "delete", "update_preimage"
            )
        ).select(pk).distinct()
        fresh = changes.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select(pk, col)
        cent = (
            self.catalog.table(f"__vidx_{table}_{index}_centroids")
            .read()
            .select("cid", F.col("vec").alias(col))
        )
        new_assign = ivf_assign(fresh, cent, id_col=pk, vec_col=col)
        assign_t = self.catalog.table(f"__vidx_{table}_{index}_assign")
        old_assign = assign_t.read()
        # Drift metric: among reconciled rows that HAD an assignment
        # (updates), the fraction that moved to a different centroid.
        # Fixed centroids are standard IVF practice, but a stream of
        # updates that keeps reassigning rows means the data left the
        # centroids behind — recall decays silently. Accumulate across
        # reconciles; past the threshold, flag stale so the next
        # OPTIMIZE retrains (one count aggregate per reconcile, no
        # extra shuffle: both sides are already keyed by pk).
        pair = new_assign.select(pk, "cid").join(
            old_assign.select(pk, F.col("cid").alias("__prev_cid")), pk
        ).agg(
            F.count("*").alias("seen"),
            F.sum(
                (F.col("cid") != F.col("__prev_cid")).cast("long")
            ).alias("moved"),
        ).collect()[0]
        kept = old_assign.join(touched, pk, "left_anti")
        assign_t.overwrite(
            kept.unionByName(new_assign).orderBy("cid", pk)
        )
        meta = self.table_meta(table)
        props = meta.indexes[index]
        props["table_version"] = t.version
        props["drift_seen"] = props.get("drift_seen", 0) + int(pair.seen)
        props["drift_moved"] = (props.get("drift_moved", 0)
                                + int(pair.moved or 0))
        threshold = float(props.get("drift_threshold", 0.5))
        if props["drift_seen"] >= 8 and \
                props["drift_moved"] / props["drift_seen"] >= threshold:
            props["stale_centroids"] = True
        self._save_meta(table, meta)

    def _retrain_stale_vector_indexes(self, table: str) -> list[str]:
        """OPTIMIZE-time retrain of vector indexes whose drift metric
        flagged stale centroids (see _reconcile_vector_index): a full
        deterministic k-means rebuild from the current snapshot,
        clearing the flag and the drift counters. OPTIMIZE is the
        natural home — it is already the table's 'rewrite storage for
        read locality' maintenance point."""
        from myduckserver_spark.operators import vindex

        try:
            meta = self.table_meta(table)
        except Exception:
            return []
        retrained: list[str] = []
        for name, props in meta.indexes.items():
            if not (props.get("vector") and props.get("stale_centroids")):
                continue
            pk = meta.primary_key[0]
            t = self.catalog.table(table)
            cent, assign = vindex.build_ivf(
                t.read(), pk, props["columns"][0],
                nlist=int(props.get("nlist", 8)),
                iters=int(props.get("iters", 3)),
            )
            self.catalog.table(f"__vidx_{table}_{name}_centroids"
                               ).overwrite(cent)
            self.catalog.table(f"__vidx_{table}_{name}_assign"
                               ).overwrite(assign)
            props["table_version"] = t.version
            props["stale_centroids"] = False
            props["drift_seen"] = 0
            props["drift_moved"] = 0
            retrained.append(name)
        if retrained:
            self._save_meta(table, meta)
        return retrained

    def vector_search(
        self,
        table: str,
        index: str,
        query_vec: list,
        k: int = 5,
        nprobe: int = 1,
    ) -> DataFrame:
        """ANN search through a persisted vector index: probe the
        nprobe nearest centroid buckets, scan only their assignments
        (cid filter pushed to the parquet scan; the assign snapshot is
        cid-sorted so row-group stats skip other buckets on disk).
        A stale index is reconciled incrementally first (diff-bounded,
        see _reconcile_vector_index)."""
        from myduckserver_spark.operators import vindex

        meta = self.table_meta(table)
        props = meta.indexes.get(index)
        if not props or not props.get("vector"):
            raise ValueError(f"no vector index {index} on {table}")
        t = self.catalog.table(table)
        if t.version != props.get("table_version"):
            self._reconcile_vector_index(table, index, props)
            props = self.table_meta(table).indexes[index]
        cent_rows = self.catalog.table(
            f"__vidx_{table}_{index}_centroids"
        ).read().collect()
        cids = vindex.probe_cids(cent_rows, list(query_vec), nprobe)
        assign = self.catalog.table(f"__vidx_{table}_{index}_assign").read()
        pk = meta.primary_key[0]
        return vindex.search(
            t.read(), assign, pk, props["columns"][0], list(query_vec),
            cids, k=k,
        )

    @staticmethod
    def _has_top_limit(q: str) -> bool:
        """True if the query has a LIMIT clause at paren depth 0."""
        mask = st.mask_strings(q)
        depth = 0
        for m in re.finditer(r"[()]|\bLIMIT\b", mask, re.I):
            t = m.group(0)
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0:
                return True
        return False

    def _temp_names(self) -> set:
        """Names of session-scoped TEMPORARY tables (hidden from SHOW
        TABLES, like MySQL)."""
        out = set()
        for name in self.catalog.list_tables():
            try:
                if self.table_meta(name).temporary:
                    out.add(name)
            except Exception:
                continue
        return out

    def _exec_maintenance(self, s: "st.Maintenance"):
        """CHECK/REPAIR report MySQL's status-row shape (immutable
        snapshot storage cannot be corrupted-but-repairable, so OK is
        the truthful answer — same contract as GMS's no-op admin ops);
        CHECKSUM computes a REAL order-independent content checksum
        (sum of per-row hashes mod 2^64 — one map-side aggregate, no
        sort; sum, not xor, so a duplicated row PAIR doesn't cancel
        to the un-duplicated checksum — replica comparison is the
        whole point of the command)."""
        rows = []
        if s.kind == "discard":
            scope = s.targets[0]
            n_dropped = 0
            if scope in ("all", "temporary", "temp"):
                for name in list(self._temp_names()):
                    self.catalog.drop_table(name)
                    n_dropped += 1
            if scope in ("all", "plans"):
                self._prepared.clear()
            return OkResult(info=f"DISCARD {scope.upper()}: "
                                 f"{n_dropped} temp table(s) dropped")
        if s.kind == "checksum":
            for t in s.targets:
                if not self.catalog.table(t).exists():
                    rows.append((f"{self.current_db}.{t}", None))
                    continue
                df = self.catalog.table(t).read()
                # sum() over longs is a true partial aggregate
                # (map-side combine, one long per partition); Spark's
                # long arithmetic wraps only under try-less expr, so
                # sum as unsigned residues: split each hash into two
                # 32-bit halves, sum those (no overflow at < 2^31 rows
                # per partition beyond 2^63... practically: use
                # sum(h) with overflow wrapped via a modular trick)
                agg = df.select(
                    F.xxhash64(*df.columns).alias("__h")
                ).agg(
                    # wrap-around addition mod 2^64: sum the low and
                    # high 32-bit halves separately (each sum fits a
                    # long for < 2^32 rows) then recombine mod 2^64
                    F.expr(
                        "coalesce(sum(__h & 4294967295L), 0L)"
                    ).alias("lo"),
                    F.expr(
                        "coalesce(sum(shiftrightunsigned(__h, 32)), 0L)"
                    ).alias("hi"),
                ).collect()[0]
                total = (int(agg.lo) + (int(agg.hi) << 32)) % (1 << 64)
                # present as a signed 64-bit value (column type long)
                if total >= 1 << 63:
                    total -= 1 << 64
                rows.append((f"{self.current_db}.{t}", total))
            return local_frame(self.spark, rows, "Table string, Checksum long")
        op = s.kind  # check | repair
        for t in s.targets:
            if self.catalog.table(t).exists():
                rows.append((f"{self.current_db}.{t}", op, "status", "OK"))
            else:
                rows.append(
                    (f"{self.current_db}.{t}", op, "Error",
                     f"Table '{t}' doesn't exist")
                )
        return local_frame(
            self.spark, rows,
            "Table string, Op string, Msg_type string, Msg_text string",
        )

    def _exec_show(self, s: st.Show) -> DataFrame:
        if s.kind == "pg_setting":
            # pg `SHOW <setting>`: one row, one column named like the
            # setting; session value wins over the GUC default
            name = s.target
            val = self.variables.get(name)
            if val is None:
                val = self._PG_SETTING_DEFAULTS.get(name)
            if val is None:
                raise ValueError(
                    f'unrecognized configuration parameter "{name}"')
            return local_frame(
                self.spark, [(str(val),)], f"`{name}` string")
        if s.kind == "tables":
            if s.target:  # SHOW TABLES FROM/IN otherdb
                if s.target not in self._dbs:
                    raise ValueError(f"unknown database: {s.target}")
                from myduckserver_spark.infoschema import _view_names

                cat = self._dbs[s.target]
                names = sorted(
                    set(cat.list_tables()) | set(_view_names(cat))
                )
                if s.like:
                    rx = _like_to_re(s.like)
                    names = [n for n in names if rx.match(n)]
                return local_frame(
                    self.spark, [(n,) for n in names],
                    f"`Tables_in_{s.target}` string",
                )
            names = sorted(
                (set(self.catalog.list_tables()) - self._temp_names())
                | set(self._view_names())
            )
            if s.like:
                rx = _like_to_re(s.like)
                names = [n for n in names if rx.match(n)]
            return local_frame(
                self.spark, [(n,) for n in names],
                f"Tables_in_{self.current_db} string",
            )
        if s.kind == "full_tables":
            views = set(self._view_names())
            names = sorted(
                (set(self.catalog.list_tables()) - self._temp_names())
                | views
            )
            if s.like:
                rx = _like_to_re(s.like)
                names = [n for n in names if rx.match(n)]
            return local_frame(
                self.spark,
                [(n, "VIEW" if n in views else "BASE TABLE")
                 for n in names],
                f"Tables_in_{self.current_db} string, Table_type string",
            )
        if s.kind == "open_tables":
            # no table-handle cache here: every table is open-on-read
            # (MySQL semantics: In_use 0 = unlocked)
            return local_frame(
                self.spark,
                [(self.current_db, n, 0, 0)
                 for n in sorted(self.catalog.list_tables())],
                "Database string, Table string, In_use int, "
                "Name_locked int",
            )
        if s.kind == "grants":
            # bare SHOW GRANTS reflects the session principal
            if not s.target and getattr(self, "_session_user", None):
                s = dataclasses.replace(s, target=self._session_user)
            if s.target and s.target != "'root'@'%'":
                rec = self._load_users().get(s.target)
                if rec is None:
                    raise ValueError(f"user {s.target} does not exist")
                rows = [(f"GRANT USAGE ON *.* TO {s.target}",)] + [
                    (f"GRANT {g['privs']} ON {g['on']} TO {s.target}"
                     + (" WITH GRANT OPTION" if g["grant_option"]
                        else ""),)
                    for g in rec["grants"]
                ]
                label = s.target.replace("'", "")
                return local_frame(
                    self.spark, rows, f"`Grants for {label}` string"
                )
            # current session: the root grant MySQL clients expect
            return local_frame(
                self.spark,
                [("GRANT ALL PRIVILEGES ON *.* TO 'root'@'%' "
                  "WITH GRANT OPTION",)],
                "`Grants for root@%` string",
            )
        if s.kind == "create_view":
            from myduckserver_spark.infoschema import _view_sql

            if s.target not in self._view_names():
                raise ValueError(f"unknown view: {s.target}")
            body = _view_sql(self.catalog, s.target)
            ck = (" WITH CASCADED CHECK OPTION" if os.path.exists(
                os.path.join(self.catalog.root, "__views__",
                             f"{s.target}.check")) else "")
            return local_frame(
                self.spark,
                [(
                    s.target,
                    f"CREATE VIEW `{s.target}` AS {body}{ck}",
                    "utf8mb4",
                    "utf8mb4_0900_bin",
                )],
                "View string, `Create View` string, "
                "character_set_client string, collation_connection string",
            )
        if s.kind == "summarize":
            # DuckDB's SUMMARIZE t (docs surface): per-column profile
            # in ONE aggregation pass (same shape as ANALYZE TABLE).
            df = self.catalog.table(s.target).read()
            aggs = [F.count(F.lit(1)).alias("__n")]
            for c in df.columns:
                aggs.append(F.approx_count_distinct(c).alias(f"__ndv_{c}"))
                aggs.append(
                    F.sum(F.col(c).isNull().cast("long")).alias(f"__nul_{c}")
                )
                aggs.append(F.min(c).cast("string").alias(f"__min_{c}"))
                aggs.append(F.max(c).cast("string").alias(f"__max_{c}"))
            r = df.agg(*aggs).collect()[0]
            n = r["__n"] or 0
            rows = [
                (
                    c,
                    dict(df.dtypes)[c],
                    r[f"__min_{c}"],
                    r[f"__max_{c}"],
                    r[f"__ndv_{c}"],
                    round(100.0 * r[f"__nul_{c}"] / n, 2) if n else 0.0,
                    n,
                )
                for c in df.columns
            ]
            return local_frame(
                self.spark, rows,
                "column_name string, column_type string, min string, "
                "max string, approx_unique bigint, null_percentage "
                "double, count bigint",
            )
        if s.kind == "processlist":
            # Single-session engine: one connection row (reference
            # serves this via GMS's process registry).
            return local_frame(
                self.spark,
                [(1, "spark", "localhost", self.current_db, "Query", 0,
                  "executing", "SHOW PROCESSLIST")],
                "Id bigint, User string, Host string, db string, "
                "Command string, Time int, State string, Info string",
            )
        if s.kind == "engines":
            return local_frame(
                self.spark,
                [("parquet-spark", "DEFAULT",
                  "Versioned parquet snapshots executed by Spark SQL",
                  "YES", "NO", "NO")],
                "Engine string, Support string, Comment string, "
                "Transactions string, XA string, Savepoints string",
            )
        if s.kind == "status":
            n_tables = len(self.catalog.list_tables())
            rows = [
                ("Uptime", "0"),
                ("Threads_connected", "1"),
                ("Open_tables", str(n_tables)),
                ("Queries", "0"),
            ]
            if s.like:
                rx = _like_to_re(s.like)
                rows = [r for r in rows if rx.match(r[0])]
            return local_frame(
                self.spark, rows, "Variable_name string, Value string"
            )
        if s.kind == "charset":
            from myduckserver_spark.functions.charset import CHARSETS

            rows = [
                (name, f"{name} charset", f"{name}_general_ci", 4)
                for name in sorted(CHARSETS)
            ]
            if s.like:
                rx = _like_to_re(s.like)
                rows = [r for r in rows if rx.match(r[0])]
            return local_frame(
                self.spark,
                rows, "Charset string, Description string, `Default "
                      "collation` string, Maxlen int",
            )
        if s.kind == "collation":
            from myduckserver_spark.functions.charset import CHARSETS

            rows = []
            for i, name in enumerate(sorted(CHARSETS)):
                rows.append(
                    (f"{name}_general_ci", name, 100 + i, "Yes", "Yes", 1)
                )
                rows.append((f"{name}_bin", name, 200 + i, "", "Yes", 1))
            if s.like:
                rx = _like_to_re(s.like)
                rows = [r for r in rows if rx.match(r[0])]
            return local_frame(
                self.spark, rows,
                "Collation string, Charset string, Id int, "
                "`Default` string, Compiled string, Sortlen int",
            )
        if s.kind == "databases":
            names = sorted(self._dbs)
            if s.like:
                rx = _like_to_re(s.like)
                names = [n for n in names if rx.match(n)]
            return local_frame(
                self.spark, [(n,) for n in names], "Database string"
            )
        if s.kind == "table_status":
            # SHOW TABLE STATUS (reference: GMS TestShowTableStatus).
            # Rows/Data_length come from parquet footers — metadata
            # reads, no Spark job.
            import pyarrow.parquet as pq

            names = sorted(self.catalog.list_tables())
            if s.like:
                rx = _like_to_re(s.like)
                names = [n for n in names if rx.match(n)]
            rows = []
            for n in names:
                t = self.catalog.table(n)
                snap = os.path.join(t.dir, f"v{t.version}")
                n_rows, n_bytes = 0, 0
                for f_ in sorted(os.listdir(snap)):
                    p = os.path.join(snap, f_)
                    if f_.endswith(".parquet"):
                        n_rows += pq.ParquetFile(p).metadata.num_rows
                        n_bytes += os.path.getsize(p)
                avg = n_bytes // n_rows if n_rows else 0
                import datetime as _dt

                ctime = _dt.datetime.fromtimestamp(os.path.getmtime(snap))
                rows.append((
                    n, "parquet", 10, "Columnar", n_rows, avg, n_bytes,
                    None, ctime, "utf8mb4_0900_ai_ci", "",
                ))
            return local_frame(
                self.spark, rows,
                "Name string, Engine string, Version int, Row_format "
                "string, Rows bigint, Avg_row_length bigint, Data_length "
                "bigint, Auto_increment bigint, Create_time timestamp, "
                "Collation string, Comment string",
            )
        if s.kind == "columns":
            schema = self.catalog.table(s.target).read().schema
            meta = self.table_meta(s.target)
            rows = []
            for f_ in schema.fields:
                key = "PRI" if f_.name in meta.primary_key else ""
                extra = "auto_increment" if f_.name == meta.auto_increment else ""
                default = meta.defaults.get(f_.name)
                rows.append((
                    f_.name,
                    spark_to_mysql(f_.dataType, f_.metadata),
                    "NO" if f_.name in meta.not_null else "YES",
                    key,
                    None if default is None else str(default),
                    extra,
                ))
            if s.like:  # SHOW COLUMNS ... LIKE / DESCRIBE t col
                rx = _like_to_re(s.like)
                rows = [r for r in rows if rx.match(r[0])]
            return local_frame(
                self.spark,
                rows, "Field string, Type string, Null string, Key string, "
                      "Default string, Extra string",
            )
        if s.kind == "create_database":
            return local_frame(
                self.spark,
                [(s.target,
                  f"CREATE DATABASE `{s.target}` /*!40100 DEFAULT "
                  "CHARACTER SET utf8mb4 */")],
                "Database string, `Create Database` string",
            )
        if s.kind == "xa_recover":
            # no in-doubt branches: single resource manager
            return local_frame(
                self.spark,
                [], "formatID long, gtrid_length int, bqual_length int, "
                    "data string",
            )
        if s.kind == "profiles":
            # profiling is always off: empty set (MySQL's default)
            return local_frame(
                self.spark, [], "Query_ID int, Duration double, Query string"
            )
        if s.kind == "engine_status":
            return local_frame(
                self.spark,
                [("parquet-spark", s.target,
                  "versioned parquet snapshots; no engine-internal "
                  "buffers or mutexes to report")],
                "Type string, Name string, Status string",
            )
        if s.kind == "create_table":
            schema = self.catalog.table(s.target).read().schema
            meta = self.table_meta(s.target)
            defs = []
            for f_ in schema.fields:
                line = f"  `{f_.name}` {spark_to_mysql(f_.dataType, f_.metadata)}"
                if f_.name in meta.generated:
                    # generated columns round-trip their expression
                    line += (f" GENERATED ALWAYS AS "
                             f"({meta.generated[f_.name]}) STORED")
                if f_.name in meta.not_null:
                    line += " NOT NULL"
                if f_.name in meta.defaults and meta.defaults[f_.name] is not None:
                    d = meta.defaults[f_.name]
                    line += " DEFAULT " + (
                        "'" + d.replace("'", "''") + "'"
                        if isinstance(d, str) else str(d)
                    )
                if f_.name in meta.on_update:
                    # the canonical TIMESTAMP ... DEFAULT/ON UPDATE
                    # CURRENT_TIMESTAMP pair (an expression default
                    # parses to None in meta.defaults — render the
                    # live expression instead of dropping the clause)
                    if meta.defaults.get(f_.name) is None:
                        line += f" DEFAULT {meta.on_update[f_.name]}"
                    line += f" ON UPDATE {meta.on_update[f_.name]}"
                if f_.name == meta.auto_increment:
                    line += " AUTO_INCREMENT"
                defs.append(line)
            if meta.primary_key:
                defs.append(
                    "  PRIMARY KEY (" + ", ".join(
                        f"`{c}`" for c in meta.primary_key) + ")"
                )
            for iname, props in sorted(meta.indexes.items()):
                if props.get("fulltext"):
                    kw = "FULLTEXT KEY"
                elif props.get("unique"):
                    kw = "UNIQUE KEY"
                else:
                    kw = "KEY"
                defs.append(
                    f"  {kw} `{iname}` ("
                    + ", ".join(
                        f"`{c}`" for c in props.get("columns", [])
                    )
                    + ")"
                )
            for cname, expr in meta.checks.items():
                defs.append(f"  CONSTRAINT `{cname}` CHECK ({expr})")
            for fk in meta.foreign_keys:
                line = (
                    f"  CONSTRAINT `{fk['name']}` FOREIGN KEY ("
                    + ", ".join(f"`{c}`" for c in fk["columns"])
                    + f") REFERENCES `{fk['ref_table']}` ("
                    + ", ".join(f"`{c}`" for c in fk["ref_columns"])
                    + ")"
                )
                if fk.get("on_delete", "NO ACTION") != "NO ACTION":
                    line += f" ON DELETE {fk['on_delete']}"
                if fk.get("on_update", "NO ACTION") != "NO ACTION":
                    line += f" ON UPDATE {fk['on_update']}"
                defs.append(line)
            ddl = f"CREATE TABLE `{s.target}` (\n" + ",\n".join(defs) + "\n)"
            ai_base = meta.stats.get("auto_increment_base")
            if ai_base:
                # dump round-trips must not reuse already-issued ids
                ddl += f" AUTO_INCREMENT={int(ai_base)}"
            if meta.partition_by:
                # value-layout spelling: PARTITION BY KEY/HASH is a
                # dropped distribution hint since round 10, so KEY
                # rendering would not round-trip through a dump/restore
                ddl += " PARTITIONED BY (" + ", ".join(
                    f"`{c}`" for c in meta.partition_by) + ")"
            return local_frame(
                self.spark,
                [(s.target, ddl)], "Table string, `Create Table` string"
            )
        if s.kind == "indexes":
            meta = self.table_meta(s.target)
            rows = []
            for i, col in enumerate(meta.primary_key):
                rows.append((s.target, "PRIMARY", col, i + 1, 0))
            for iname, props in sorted(meta.indexes.items()):
                for i, col in enumerate(props["columns"]):
                    rows.append(
                        (s.target, iname, col, i + 1,
                         0 if props.get("unique") else 1)
                    )
            df = local_frame(
                self.spark,
                rows, "Table string, Key_name string, Column_name string, "
                      "Seq_in_index int, Non_unique int",
            )
            if s.where:  # SHOW KEYS FROM t WHERE Key_name = '...'
                df = df.where(F.expr(translate_mysql(s.where)))
            return df
        if s.kind == "variables":
            items = sorted(self.variables.items())
            if s.like:
                rx = _like_to_re(s.like)
                items = [(k, v) for k, v in items if rx.match(k)]
            return local_frame(
                self.spark, [(k, str(v)) for k, v in items],
                "Variable_name string, Value string",
            )
        if s.kind == "subscriptions":
            # SHOW SUBSCRIPTIONS: the declarative-replication registry
            # with each subscription's committed resume position.
            rows = []
            for name, cfg in sorted(self._load_subs().items()):
                conn = cfg["connection"]
                pos = 0
                try:
                    t = self.catalog.table(conn["table"])
                    pos = max(0, t.last_txn_version(f"sub_{name}"))
                except Exception:
                    pass
                rows.append(
                    (
                        name,
                        cfg.get("publication"),
                        conn.get("table"),
                        conn.get("path"),
                        bool(cfg.get("enabled")),
                        int(pos),
                    )
                )
            return local_frame(
                self.spark, rows,
                "Subscription string, Publication string, Target string, "
                "Feed string, Enabled boolean, Position long",
            )
        if s.kind == "replica_status":
            # SHOW BINLOG/REPLICA STATUS: one row per (table, source
            # app_id) with the committed resume position — the analog of
            # the reference's __sys__.binlog_position store
            # (catalog/internal_tables.go:180-186; GTID saved in the same
            # commit, binlog_replica_applier.go:786-812). The position
            # lives in each table's pointer, so this reads committed
            # state, never in-flight buffers.
            rows = []
            for name in self.catalog.list_tables():
                ptr = self.catalog.table(name)._read_pointer()
                for app_id, pos in sorted(ptr.get("txn", {}).items()):
                    seg, off = divmod(int(pos), 1_000_000)
                    rows.append(
                        (name, app_id, int(pos), f"segment-{seg:06d}", off)
                    )
            return local_frame(
                self.spark, rows,
                "Table string, Source_app string, Position long, "
                "File string, File_offset long",
            )
        # Client/ORM probe kinds. SHOW WARNINGS reads the real session
        # diagnostics area (_push_warning; reset at each top-level
        # non-diagnostic statement, MySQL semantics) — batch-kept
        # trigger bodies and other documented divergences surface here
        # instead of passing silently.
        if s.kind == "warnings":
            return local_frame(
                self.spark, list(getattr(self, "_session_warnings", [])),
                "Level string, Code int, Message string",
            )
        if s.kind == "warning_count":
            return local_frame(
                self.spark, [(len(getattr(self, "_session_warnings", [])),)],
                "`@@session.warning_count` int",
            )
        if s.kind == "triggers":
            rows = [
                (n, t["event"].upper(), t["table"], t["body"],
                 t["timing"].upper(), None, "", "root@localhost")
                for n, t in sorted(self._load_triggers().items())
            ]
            return local_frame(
                self.spark, rows,
                "Trigger string, Event string, Table string, "
                "Statement string, Timing string, Created timestamp, "
                "sql_mode string, Definer string",
            )
        if s.kind == "events":
            rows = []
            for n, ev in sorted(self._load_events().items()):
                em = re.match(r"(?i)EVERY\s+(\S+)\s+(\w+)", ev["schedule"])
                rows.append((
                    self.current_db, n, "root@localhost", "UTC",
                    "RECURRING" if em else "ONE TIME", None,
                    em.group(1) if em else None,
                    em.group(2).upper() if em else None,
                    None, None, ev["status"],
                ))
            return local_frame(
                self.spark, rows,
                "Db string, Name string, Definer string, `Time zone` "
                "string, Type string, `Execute at` timestamp, "
                "`Interval value` string, `Interval field` string, "
                "Starts timestamp, Ends timestamp, Status string",
            )
        if s.kind == "routine_status":
            rows = []
            if s.target != "FUNCTION":
                rows += [
                    (self.current_db, p["name"], "PROCEDURE",
                     "root@localhost", None, None, "DEFINER", "")
                    for p in self._load_procedures().values()
                ]
            if s.target != "PROCEDURE":
                rows += [
                    (self.current_db, n, "FUNCTION", "root@localhost",
                     None, None, "DEFINER", "")
                    for n in sorted(self._load_macros())
                ]
            rows.sort(key=lambda r: (r[2], r[1]))
            return local_frame(
                self.spark, rows,
                "Db string, Name string, Type string, Definer string, "
                "Modified timestamp, Created timestamp, "
                "Security_type string, Comment string",
            )
        if s.kind == "create_routine":
            if s.like == "PROCEDURE":
                p = self._load_procedures().get(s.target.lower())
                if p is None:
                    raise ValueError(f"procedure {s.target} "
                                     "does not exist")
                pars = ", ".join(
                    (f"{x[0].upper()} {x[1]} TEXT"
                     if isinstance(x, list) else f"IN {x} TEXT")
                    for x in p["params"]
                )
                ddl = (f"CREATE PROCEDURE `{p['name']}`({pars})\n"
                       f"BEGIN {p['body']}; END")
                return local_frame(
                    self.spark, [(p["name"], "", ddl)],
                    "Procedure string, sql_mode string, "
                    "`Create Procedure` string",
                )
            mac = self._load_macros().get(s.target.lower())
            if mac is None:
                raise ValueError(f"function {s.target} does not exist")
            pars, body = mac
            ddl = (f"CREATE FUNCTION `{s.target}`("
                   + ", ".join(f"{x} TEXT" for x in pars)
                   + f") RETURNS TEXT RETURN {body}")
            return local_frame(
                self.spark, [(s.target, "", ddl)],
                "Function string, sql_mode string, "
                "`Create Function` string",
            )
        if s.kind == "plugins":
            return local_frame(
                self.spark,
                [
                    ("parquet-spark", "ACTIVE", "STORAGE ENGINE",
                     None, "GPL"),
                    ("mysql_native_password", "ACTIVE", "AUTHENTICATION",
                     None, "GPL"),
                ],
                "Name string, Status string, Type string, "
                "Library string, License string",
            )
        if s.kind == "privileges":
            # single-root deployment (auth is a documented non-goal,
            # same as the SHOW GRANTS stub)
            return local_frame(
                self.spark,
                [("All", "Server Admin",
                  "All privileges (single-root deployment)")],
                "Privilege string, Context string, Comment string",
            )
        if s.kind == "binary_logs":
            rows = []
            seen = set()
            for name in self.catalog.list_tables():
                ptr = self.catalog.table(name)._read_pointer()
                for pos in ptr.get("txn", {}).values():
                    seg = int(pos) // 1_000_000
                    if seg not in seen:
                        seen.add(seg)
                        rows.append((f"segment-{seg:06d}", int(pos), "No"))
            return local_frame(
                self.spark,
                rows, "Log_name string, File_size long, Encrypted string"
            )
        if s.kind == "help":
            # the client-side HELP protocol (mysql help tables); a
            # pointer row keeps interactive clients functional
            topic = (s.like or "").strip()
            return local_frame(
                self.spark,
                [(topic, "Server-side help tables are not loaded; "
                  "see https://dev.mysql.com/doc/ for topic "
                  f"'{topic}'", "")],
                "name string, description string, example string",
            )
        if s.kind == "binlog_events":
            # applied-position markers rendered in SHOW BINLOG EVENTS
            # shape (the engine's CDC log is the binlog analog; the
            # raw event payloads live with the feed, not the catalog)
            rows = []
            for name in self.catalog.list_tables():
                ptr = self.catalog.table(name)._read_pointer()
                for app, pos in ptr.get("txn", {}).items():
                    rows.append(
                        (f"segment-{int(pos) // 1_000_000:06d}",
                         int(pos), "Table_map", 1, int(pos),
                         f"table={name} applier={app}")
                    )
            return local_frame(
                self.spark, rows,
                "Log_name string, Pos long, Event_type string, "
                "Server_id int, End_log_pos long, Info string",
            )
        raise ValueError(f"unknown SHOW kind: {s.kind}")

