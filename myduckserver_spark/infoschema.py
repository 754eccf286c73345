"""information_schema + ``__sys__`` catalog views over engine metadata.

The reference serves ``information_schema.*`` through GMS's in-memory
catalog implementation (main_test.go:127-128 queries
``information_schema.tables``; pgserver/in_place_handler_test.go:221
exercises ``information_schema.SCHEMATA``) and additionally defines
Postgres-flavored internal views in the ``__sys__`` schema
(catalog/internal_views.go:16 ``pg_stat_user_tables``,
internal_views.go:51 ``pg_index``) so pg tooling can introspect.

Spark temp views can't hold a dot, so the SQL front door rewrites
``information_schema.tables`` → ``information_schema__tables`` (and
``__sys__.x`` → ``__sys____x``) and registers the referenced views on
demand.  Each view is a small driver-side local frame built from
catalog metadata — these are metadata queries; no Spark job should be
needed to *build* them (TABLE_ROWS is NULL for that reason, matching
MySQL's "approximate, may be NULL" contract).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame

from myduckserver_spark.frames import local_frame

# information_schema.<name> / __sys__.<name> / pg_catalog.<name>.
_QUALIFIED = re.compile(
    r"\b(information_schema|__sys__|pg_catalog)\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)",
    re.IGNORECASE,
)

INFO_VIEWS = {
    "schemata", "tables", "columns", "views", "statistics",
    "key_column_usage", "table_constraints", "referential_constraints",
    "routines", "triggers", "partitions", "character_sets",
    "collations", "engines", "processlist", "user_privileges",
}
SYS_VIEWS = {"pg_stat_user_tables", "pg_index"}
# pg_catalog shims: the reference rewrites pg_catalog queries in place
# (pgserver/in_place_handler.go:19-26, 160-260); these four cover the
# introspection psql/BI tools actually issue.
PG_CATALOG_VIEWS = {
    "pg_namespace", "pg_class", "pg_attribute", "pg_tables",
    "pg_views", "pg_database", "pg_indexes", "pg_type",
    "pg_matviews", "pg_enum",
}


def rewrite(query: str) -> tuple[str, set[tuple[str, str]]]:
    """Replace qualified catalog-view names with flat temp-view names.

    Returns (rewritten_query, {(schema, view), ...} referenced).

    Matches are located over a string-masked copy of the query so a
    view name appearing INSIDE a quoted literal or identifier (e.g.
    ``WHERE relname = 'pg_class'``) is never rewritten; replacements
    are spliced back into the original text by offset.
    """
    from myduckserver_spark import statements as st

    needed: set[tuple[str, str]] = set()
    masked = st.mask_strings(query)
    spans: list[tuple[int, int, str]] = []

    for m in _QUALIFIED.finditer(masked):
        schema, view = m.group(1).lower(), m.group(2).lower()
        known = {
            "information_schema": INFO_VIEWS,
            "__sys__": SYS_VIEWS,
            "pg_catalog": PG_CATALOG_VIEWS,
        }[schema]
        if view not in known:
            continue  # leave unknown names to fail naturally
        needed.add((schema, view))
        spans.append((m.start(), m.end(), f"{schema}__{view}"))

    # UNQUALIFIED pg_catalog names (pg resolves them via search_path;
    # drivers write `FROM pg_type` bare) — known names only, and only
    # when not already consumed by the qualified pass above
    bare_rx = re.compile(
        r"(?<![\w.])("
        + "|".join(sorted(PG_CATALOG_VIEWS | SYS_VIEWS))
        + r")\b(?!\s*\()",
        re.IGNORECASE,
    )
    covered = [(s, e) for s, e, _ in spans]
    for m in bare_rx.finditer(masked):
        if any(s <= m.start() < e for s, e in covered):
            continue
        view = m.group(1).lower()
        schema = ("pg_catalog" if view in PG_CATALOG_VIEWS
                  else "__sys__")
        needed.add((schema, view))
        spans.append((m.start(), m.end(), f"{schema}__{view}"))

    if not spans:
        return query, needed
    spans.sort()
    out: list[str] = []
    pos = 0
    for s, e, rep in spans:
        out.append(query[pos:s])
        out.append(rep)
        pos = e
    out.append(query[pos:])
    return "".join(out), needed


# MySQL's fixed NUMERIC_PRECISION per integer/float type (the values a
# real server reports in information_schema.columns).
_INT_PRECISION = {
    "tinyint": 3, "smallint": 5, "mediumint": 7, "int": 10,
    "integer": 10, "bigint": 19, "float": 12, "double": 22, "year": 4,
}


def _type_facets(
    mysql_type: str,
) -> tuple[int | None, int | None, int | None]:
    """(CHARACTER_MAXIMUM_LENGTH, NUMERIC_PRECISION, NUMERIC_SCALE)
    for a rendered MySQL type — the introspection facets ORM schema
    readers consume."""
    base = mysql_type.split("(")[0].strip().lower()
    m = re.match(r"[a-z]+\s*\(\s*(\d+)(?:\s*,\s*(\d+))?\s*\)", mysql_type, re.I)
    if base in ("varchar", "char", "text", "tinytext", "mediumtext",
                "longtext", "enum", "set", "json"):
        n = int(m.group(1)) if m else {
            "text": 65535, "tinytext": 255, "mediumtext": 16777215,
            "longtext": 4294967295, "json": 4294967295,
        }.get(base, 65535)
        return n, None, None
    if base in ("decimal", "numeric", "dec"):
        p = int(m.group(1)) if m else 10
        sc = int(m.group(2)) if m and m.group(2) else 0
        return None, p, sc
    if base in _INT_PRECISION:
        scale = 0 if base not in ("float", "double") else None
        return None, _INT_PRECISION[base], scale
    return None, None, None


def _catalog_meta(cat, name: str) -> dict:
    p = os.path.join(cat.root, name, "_META")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _view_names(cat) -> list[str]:
    vdir = os.path.join(cat.root, "__views__")
    if not os.path.isdir(vdir):
        return []
    return sorted(f[:-4] for f in os.listdir(vdir) if f.endswith(".sql"))


def _view_sql(cat, name: str) -> str:
    with open(os.path.join(cat.root, "__views__", name + ".sql")) as f:
        return f.read()


def _walk(engine):
    """Yield (db, catalog) for every database on the engine."""
    return sorted(engine._dbs.items())


def build(engine, schema: str, view: str) -> DataFrame:
    """Build one catalog view as a DataFrame (driver-side rows only)."""
    from myduckserver_spark import statements as st
    from myduckserver_spark.types import spark_to_mysql

    spark = engine.spark
    if (schema, view) == ("information_schema", "schemata"):
        rows = [("def", db, "utf8mb4", "utf8mb4_0900_bin") for db, _ in _walk(engine)]
        return local_frame(
            spark, rows,
            "CATALOG_NAME string, SCHEMA_NAME string, "
            "DEFAULT_CHARACTER_SET_NAME string, DEFAULT_COLLATION_NAME string",
        )

    if (schema, view) == ("information_schema", "character_sets"):
        from myduckserver_spark.functions.charset import CHARSETS

        rows = [(n, f"{n}_general_ci", f"{n} charset", 4)
                for n in sorted(CHARSETS)]
        return local_frame(
            spark, rows,
            "CHARACTER_SET_NAME string, DEFAULT_COLLATE_NAME string, "
            "DESCRIPTION string, MAXLEN int",
        )

    if (schema, view) == ("information_schema", "collations"):
        from myduckserver_spark.functions.charset import CHARSETS

        rows = []
        for i, n in enumerate(sorted(CHARSETS)):
            rows.append((f"{n}_general_ci", n, 100 + i, "Yes", "Yes", 1))
            rows.append((f"{n}_bin", n, 200 + i, "", "Yes", 1))
        return local_frame(
            spark, rows,
            "COLLATION_NAME string, CHARACTER_SET_NAME string, ID int, "
            "IS_DEFAULT string, IS_COMPILED string, SORTLEN int",
        )

    if (schema, view) == ("information_schema", "engines"):
        return local_frame(
            spark,
            [("parquet-spark", "DEFAULT",
              "Versioned parquet snapshots executed by Spark SQL",
              "YES", "NO", "NO")],
            "ENGINE string, SUPPORT string, COMMENT string, "
            "TRANSACTIONS string, XA string, SAVEPOINTS string",
        )

    if (schema, view) == ("information_schema", "processlist"):
        who = getattr(engine, "_session_user", None) or "root@localhost"
        return local_frame(
            spark,
            [(1, str(who).replace("'", ""), "localhost",
              engine.current_db, "Query", 0, "executing", None)],
            "ID bigint, USER string, HOST string, DB string, "
            "COMMAND string, TIME int, STATE string, INFO string",
        )

    if (schema, view) == ("information_schema", "user_privileges"):
        rows = [("'root'@'%'", "def", "ALL PRIVILEGES", "YES")]
        for u in sorted(getattr(engine, "_load_users", dict)() or {}):
            rows.append((f"'{u}'@'%'", "def", "USAGE", "NO"))
        return local_frame(
            spark, rows,
            "GRANTEE string, TABLE_CATALOG string, PRIVILEGE_TYPE string, "
            "IS_GRANTABLE string",
        )

    if (schema, view) == ("information_schema", "tables"):
        rows = []
        for db, cat in _walk(engine):
            for t in cat.list_tables():
                rows.append(("def", db, t, "BASE TABLE", "spark-parquet", None))
            for v in _view_names(cat):
                rows.append(("def", db, v, "VIEW", None, None))
        return local_frame(
            spark, rows,
            "TABLE_CATALOG string, TABLE_SCHEMA string, TABLE_NAME string, "
            "TABLE_TYPE string, ENGINE string, TABLE_ROWS bigint",
        )

    if (schema, view) == ("information_schema", "columns"):
        rows = []
        for db, cat in _walk(engine):
            for t in cat.list_tables():
                meta = st.TableMeta(**_catalog_meta(cat, t))
                for i, f_ in enumerate(cat.table(t).read().schema.fields):
                    mysql_type = spark_to_mysql(f_.dataType, f_.metadata)
                    d = meta.defaults.get(f_.name)
                    char_len, num_prec, num_scale = _type_facets(mysql_type)
                    is_str = char_len is not None
                    rows.append((
                        "def", db, t, f_.name, i + 1,
                        None if d is None else str(d),
                        "NO" if f_.name in meta.not_null else "YES",
                        mysql_type.split("(")[0].lower(), mysql_type.lower(),
                        "PRI" if f_.name in meta.primary_key else "",
                        "auto_increment" if f_.name == meta.auto_increment else "",
                        char_len, num_prec, num_scale,
                        (f_.metadata or {}).get("charset", "utf8mb4")
                        if is_str else None,
                        "utf8mb4_0900_bin" if is_str else None,
                    ))
        return local_frame(
            spark, rows,
            "TABLE_CATALOG string, TABLE_SCHEMA string, TABLE_NAME string, "
            "COLUMN_NAME string, ORDINAL_POSITION int, COLUMN_DEFAULT string, "
            "IS_NULLABLE string, DATA_TYPE string, COLUMN_TYPE string, "
            "COLUMN_KEY string, EXTRA string, "
            "CHARACTER_MAXIMUM_LENGTH bigint, NUMERIC_PRECISION bigint, "
            "NUMERIC_SCALE bigint, CHARACTER_SET_NAME string, "
            "COLLATION_NAME string",
        )

    if (schema, view) == ("information_schema", "views"):
        rows = []
        for db, cat in _walk(engine):
            for v in _view_names(cat):
                ck = ("CASCADED" if os.path.exists(os.path.join(
                    cat.root, "__views__", f"{v}.check")) else "NONE")
                rows.append(("def", db, v, _view_sql(cat, v), ck, "YES"))
        return local_frame(
            spark, rows,
            "TABLE_CATALOG string, TABLE_SCHEMA string, TABLE_NAME string, "
            "VIEW_DEFINITION string, CHECK_OPTION string, IS_UPDATABLE string",
        )

    if (schema, view) == ("information_schema", "statistics"):
        rows = []
        for db, cat in _walk(engine):
            for t in cat.list_tables():
                meta = st.TableMeta(**_catalog_meta(cat, t))
                for i, col in enumerate(meta.primary_key):
                    rows.append(("def", db, t, 0, "PRIMARY", i + 1, col))
                for iname, props in sorted(meta.indexes.items()):
                    non_unique = 0 if props.get("unique") else 1
                    for i, col in enumerate(props.get("columns", [])):
                        rows.append(("def", db, t, non_unique, iname, i + 1, col))
        return local_frame(
            spark, rows,
            "TABLE_CATALOG string, TABLE_SCHEMA string, TABLE_NAME string, "
            "NON_UNIQUE int, INDEX_NAME string, SEQ_IN_INDEX int, "
            "COLUMN_NAME string",
        )

    if (schema, view) == ("information_schema", "partitions"):
        # MySQL: one row per partition; unpartitioned tables get one
        # row with PARTITION_NAME NULL. Hive-layout tables here carry
        # a KEY-style column spec, reported as a single 'p0' partition
        # (physical value directories are storage, not logical
        # partitions).
        rows = []
        for db, cat in _walk(engine):
            for t in cat.list_tables():
                meta = st.TableMeta(**_catalog_meta(cat, t))
                if meta.partition_by:
                    rows.append(
                        ("def", db, t, "p0", 1, "KEY",
                         ",".join(meta.partition_by))
                    )
                else:
                    rows.append(("def", db, t, None, None, None, None))
        return local_frame(
            spark, rows,
            "TABLE_CATALOG string, TABLE_SCHEMA string, "
            "TABLE_NAME string, PARTITION_NAME string, "
            "PARTITION_ORDINAL_POSITION int, PARTITION_METHOD string, "
            "PARTITION_EXPRESSION string",
        )

    if (schema, view) == ("information_schema", "key_column_usage"):
        rows = []
        for db, cat in _walk(engine):
            for t in cat.list_tables():
                meta = st.TableMeta(**_catalog_meta(cat, t))
                for i, col in enumerate(meta.primary_key):
                    rows.append(
                        ("def", "PRIMARY", db, t, col, i + 1,
                         None, None, None)
                    )
                for iname, props in sorted(meta.indexes.items()):
                    if props.get("unique"):
                        for i, col in enumerate(props.get("columns", [])):
                            rows.append(
                                ("def", iname, db, t, col, i + 1,
                                 None, None, None)
                            )
                for fk in meta.foreign_keys:
                    for i, (col, rcol) in enumerate(
                        zip(fk["columns"], fk["ref_columns"])
                    ):
                        rows.append(
                            ("def", fk["name"], db, t, col, i + 1,
                             db, fk["ref_table"], rcol)
                        )
        return local_frame(
            spark, rows,
            "CONSTRAINT_CATALOG string, CONSTRAINT_NAME string, "
            "TABLE_SCHEMA string, TABLE_NAME string, COLUMN_NAME string, "
            "ORDINAL_POSITION int, REFERENCED_TABLE_SCHEMA string, "
            "REFERENCED_TABLE_NAME string, REFERENCED_COLUMN_NAME string",
        )

    if (schema, view) == ("information_schema", "referential_constraints"):
        rows = []
        for db, cat in _walk(engine):
            for t in cat.list_tables():
                meta = st.TableMeta(**_catalog_meta(cat, t))
                for fk in meta.foreign_keys:
                    rows.append(
                        ("def", db, fk["name"], "def", db, "PRIMARY",
                         "NONE", fk["on_update"], fk["on_delete"],
                         t, fk["ref_table"])
                    )
        return local_frame(
            spark, rows,
            "CONSTRAINT_CATALOG string, CONSTRAINT_SCHEMA string, "
            "CONSTRAINT_NAME string, UNIQUE_CONSTRAINT_CATALOG string, "
            "UNIQUE_CONSTRAINT_SCHEMA string, UNIQUE_CONSTRAINT_NAME "
            "string, MATCH_OPTION string, UPDATE_RULE string, "
            "DELETE_RULE string, TABLE_NAME string, "
            "REFERENCED_TABLE_NAME string",
        )

    if (schema, view) == ("information_schema", "table_constraints"):
        rows = []
        for db, cat in _walk(engine):
            for t in cat.list_tables():
                meta = st.TableMeta(**_catalog_meta(cat, t))
                if meta.primary_key:
                    rows.append(("def", "PRIMARY", db, t, "PRIMARY KEY"))
                for cname in sorted(meta.checks):
                    rows.append(("def", cname, db, t, "CHECK"))
                for iname, props in sorted(meta.indexes.items()):
                    if props.get("unique"):
                        rows.append(("def", iname, db, t, "UNIQUE"))
                for fk in meta.foreign_keys:
                    rows.append(("def", fk["name"], db, t, "FOREIGN KEY"))
        return local_frame(
            spark, rows,
            "CONSTRAINT_CATALOG string, CONSTRAINT_NAME string, "
            "TABLE_SCHEMA string, TABLE_NAME string, CONSTRAINT_TYPE string",
        )

    if (schema, view) == ("information_schema", "routines"):
        rows = [
            (p["name"], engine.current_db, "PROCEDURE", None,
             p["body"], "SQL")
            for p in engine._load_procedures().values()
        ] + [
            (n, engine.current_db, "FUNCTION", "varchar",
             body, "SQL")
            for n, (_params, body) in sorted(
                engine._load_macros().items()
            )
        ]
        rows.sort(key=lambda r: (r[2], r[0]))
        return local_frame(
            spark, rows,
            "ROUTINE_NAME string, ROUTINE_SCHEMA string, "
            "ROUTINE_TYPE string, DATA_TYPE string, "
            "ROUTINE_DEFINITION string, ROUTINE_BODY string",
        )

    if (schema, view) == ("information_schema", "triggers"):
        rows = [
            (n, t["event"].upper(), engine.current_db, t["table"],
             t["body"], t["timing"].upper(), "ROW")
            for n, t in sorted(engine._load_triggers().items())
        ]
        return local_frame(
            spark, rows,
            "TRIGGER_NAME string, EVENT_MANIPULATION string, "
            "EVENT_OBJECT_SCHEMA string, EVENT_OBJECT_TABLE string, "
            "ACTION_STATEMENT string, ACTION_TIMING string, "
            "ACTION_ORIENTATION string",
        )

    if (schema, view) == ("__sys__", "pg_stat_user_tables"):
        # Column set mirrors catalog/internal_views.go:16-48 — counters the
        # engine doesn't track are 0/NULL there too.
        rows = []
        for db, cat in _walk(engine):
            for t in cat.list_tables():
                rows.append((f"{db}.{t}", db, t, 0, 0, 0, 0, 0, 0, 0))
        return local_frame(
            spark, rows,
            "relid string, schemaname string, relname string, seq_scan long, "
            "idx_scan long, n_tup_ins long, n_tup_upd long, n_tup_del long, "
            "n_live_tup long, n_dead_tup long",
        )

    if (schema, view) == ("__sys__", "pg_index"):
        # Shape of catalog/internal_views.go:51-80: one row per pk/unique
        # index with the indexed column positions as an array.
        rows = []
        oid = 0
        for db, cat in _walk(engine):
            for t in cat.list_tables():
                meta = st.TableMeta(**_catalog_meta(cat, t))
                cols = [f_.name for f_ in cat.table(t).read().schema.fields]
                pos = {c: i + 1 for i, c in enumerate(cols)}
                if meta.primary_key:
                    oid += 1
                    rows.append((
                        oid, t, len(meta.primary_key), True, True,
                        [pos[c] for c in meta.primary_key if c in pos],
                    ))
                for iname, props in sorted(meta.indexes.items()):
                    oid += 1
                    rows.append((
                        oid, t, len(props.get("columns", [])),
                        bool(props.get("unique")), False,
                        [pos[c] for c in props.get("columns", []) if c in pos],
                    ))
        return local_frame(
            spark, rows,
            "indexrelid long, indrelid string, indnatts int, "
            "indisunique boolean, indisprimary boolean, indkey array<int>",
        )

    if schema == "pg_catalog":
        return _build_pg_catalog(engine, view)

    raise ValueError(f"unknown catalog view: {schema}.{view}")


# Deterministic oid assignment: system namespaces get fixed small oids
# (pg convention: pg_catalog=11, information_schema=99); user schemas
# and relations count up from 16384 (pg's FirstNormalObjectId) in
# sorted order, so repeated queries see stable oids.
_NSP_PG_CATALOG = 11
_NSP_INFO_SCHEMA = 99
_FIRST_NORMAL_OID = 16384

# Spark/engine type name → pg type oid (pgtypes parity for the wire
# shims; reference maps DuckDB types to these same oids,
# pgtypes/pgtypes.go:60-90).
_PG_TYPE_OIDS = {
    "boolean": 16, "tinyint": 21, "smallint": 21, "int": 23,
    "bigint": 20, "float": 700, "double": 701, "string": 25,
    "binary": 17, "date": 1082, "timestamp": 1114, "timestamp_ntz": 1114,
}


def _pg_type_oid(spark_type_name: str) -> int:
    base = spark_type_name.split("(")[0].lower()
    if base.startswith("decimal"):
        return 1700  # numeric
    if base.startswith("array"):
        return 2277  # anyarray
    return _PG_TYPE_OIDS.get(base, 25)


def _pg_oids(engine):
    """Stable (namespace_oids, class_rows) for every db/table/view."""
    nsp = {}
    classes = []  # (oid, relname, nsp_oid, relkind, relnatts, fields)
    next_oid = _FIRST_NORMAL_OID
    for db, cat in _walk(engine):
        nsp[db] = next_oid
        next_oid += 1
    for db, cat in _walk(engine):
        for t in cat.list_tables():
            fields = cat.table(t).read().schema.fields
            classes.append((next_oid, t, nsp[db], "r", len(fields), fields))
            next_oid += 1
        for v in _view_names(cat):
            classes.append((next_oid, v, nsp[db], "v", 0, []))
            next_oid += 1
    return nsp, classes


# (oid, typname, array_oid) for the base types drivers resolve at
# handshake (psycopg2/JDBC query pg_type for array-element mapping;
# the reference serves the same rows from DoltgreSQL's pg_catalog)
_PG_TYPE_ROWS = [
    (16, "bool", 1000), (17, "bytea", 1001), (18, "char", 1002),
    (19, "name", 1003), (20, "int8", 1016), (21, "int2", 1005),
    (23, "int4", 1007), (25, "text", 1009), (26, "oid", 1028),
    (114, "json", 199), (700, "float4", 1021), (701, "float8", 1022),
    (1042, "bpchar", 1014), (1043, "varchar", 1015),
    (1082, "date", 1182), (1083, "time", 1183),
    (1114, "timestamp", 1115), (1184, "timestamptz", 1185),
    (1186, "interval", 1187), (1700, "numeric", 1231),
    (2950, "uuid", 2951), (3802, "jsonb", 3807),
]


_ENUM_OID_BASE = 160000


def _build_pg_catalog(engine, view: str) -> DataFrame:
    spark = engine.spark

    if view == "pg_type":
        rows = []
        for oid, name, arr in _PG_TYPE_ROWS:
            rows.append((oid, name, _NSP_PG_CATALOG, "b", 0, arr))
            rows.append((arr, "_" + name, _NSP_PG_CATALOG, "b", oid, 0))
        # user CREATE TYPE/DOMAIN entries (SQLAlchemy introspects
        # enums via pg_type.typtype = 'e' joined to pg_enum)
        for i, (tname, spec) in enumerate(
                sorted(engine._custom_types().items())):
            rows.append((
                _ENUM_OID_BASE + i, tname, _NSP_PG_CATALOG,
                "e" if spec["kind"] == "enum" else "d", 0, 0,
            ))
        return local_frame(
            spark, sorted(rows),
            "oid long, typname string, typnamespace long, "
            "typtype string, typelem long, typarray long",
        )

    if view == "pg_enum":
        rows = []
        for i, (tname, spec) in enumerate(
                sorted(engine._custom_types().items())):
            if spec["kind"] != "enum":
                continue
            for j, label in enumerate(spec["values"]):
                rows.append((
                    _ENUM_OID_BASE + 1000 + i * 100 + j,
                    _ENUM_OID_BASE + i, float(j + 1), label,
                ))
        return local_frame(
            spark, rows,
            "oid long, enumtypid long, enumsortorder double, "
            "enumlabel string",
        )

    nsp, classes = _pg_oids(engine)

    if view == "pg_namespace":
        rows = [(_NSP_PG_CATALOG, "pg_catalog"),
                (_NSP_INFO_SCHEMA, "information_schema")]
        rows += [(oid, db) for db, oid in sorted(nsp.items(), key=lambda kv: kv[1])]
        return local_frame(spark, rows, "oid long, nspname string")

    if view == "pg_class":
        rows = [(oid, name, ns, kind, natts) for oid, name, ns, kind, natts, _ in classes]
        return local_frame(
            spark, rows,
            "oid long, relname string, relnamespace long, relkind string, "
            "relnatts int",
        )

    if view == "pg_attribute":
        rows = []
        for oid, _name, _ns, _kind, _natts, fields in classes:
            for i, f_ in enumerate(fields):
                rows.append((
                    oid, f_.name, _pg_type_oid(f_.dataType.simpleString()),
                    i + 1, not f_.nullable,
                ))
        return local_frame(
            spark, rows,
            "attrelid long, attname string, atttypid long, attnum int, "
            "attnotnull boolean",
        )

    if view == "pg_tables":
        inv_nsp = {v: k for k, v in nsp.items()}
        rows = [
            (inv_nsp[ns], name, "spark")
            for _oid, name, ns, kind, _natts, _f in classes
            if kind == "r"
        ]
        return local_frame(
            spark,
            rows, "schemaname string, tablename string, tableowner string"
        )

    if view == "pg_views":
        import os

        rows = []
        vdir = os.path.join(engine.catalog.root, "__views__")
        if os.path.isdir(vdir):
            for f_ in sorted(os.listdir(vdir)):
                if f_.endswith(".sql"):
                    with open(os.path.join(vdir, f_)) as fh:
                        rows.append(
                            (engine.current_db, f_[:-4], fh.read().strip())
                        )
        return local_frame(
            spark,
            rows, "schemaname string, viewname string, definition string"
        )

    if view == "pg_matviews":
        import os

        rows = []
        mdir = os.path.join(engine.catalog.root, "__matviews__")
        if os.path.isdir(mdir):
            import json as _j

            for f_ in sorted(os.listdir(mdir)):
                if f_.endswith(".sql"):
                    with open(os.path.join(mdir, f_)) as fh:
                        spec = _j.load(fh)
                    rows.append((engine.current_db, f_[:-4],
                                 spec.get("sql", "")))
        return local_frame(
            spark, rows,
            "schemaname string, matviewname string, definition string",
        )

    if view == "pg_database":
        rows = [
            (_NSP_PG_CATALOG + 100 + i, db)
            for i, db in enumerate(sorted(engine._dbs))
        ]
        return local_frame(spark, rows, "oid long, datname string")

    if view == "pg_indexes":
        rows = []
        for t in sorted(engine.catalog.list_tables()):
            meta = engine.table_meta(t)
            for iname, props in sorted(meta.indexes.items()):
                cols = ", ".join(props.get("columns", []))
                kind = "ivf" if props.get("vector") else (
                    "unique" if props.get("unique") else "btree"
                )
                rows.append((
                    engine.current_db, t, iname,
                    f"CREATE INDEX {iname} ON {t} USING {kind} ({cols})",
                ))
        return local_frame(
            spark, rows,
            "schemaname string, tablename string, indexname string, "
            "indexdef string",
        )

    raise ValueError(f"unknown catalog view: pg_catalog.{view}")


def register_referenced(engine, query: str) -> str:
    """Rewrite catalog-view references and register them as temp views."""
    rewritten, needed = rewrite(query)
    for schema, view in needed:
        build(engine, schema, view).createOrReplaceTempView(f"{schema}__{view}")
    return rewritten
