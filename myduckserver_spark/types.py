"""MySQL ↔ Spark type mapping (SURVEY.md §1.2).

Re-expresses the reference's type bridge (reference:
catalog/type_mapping.go:120-199 DuckdbDataType, :201-332 mysqlDataType)
with Spark logical types. The original MySQL type is preserved in
StructField metadata — the Spark analog of the reference JSON-encoding
it into the DuckDB column COMMENT (catalog/type_mapping.go:31-42,
catalog/database.go:189-193) so lossy mappings round-trip.

Key decisions (mirroring the reference):
- unsigned promoted one width up (Spark has no unsigned); BIGINT
  UNSIGNED → DECIMAL(20,0) (type_mapping.go:78-84 semantics),
- DECIMAL precision capped at 38 (type_mapping.go:118,163-169),
- MEDIUMINT → INT, YEAR → SMALLINT, BIT(n) → LONG,
- TIME → DayTimeIntervalType (MySQL TIME is a signed duration ±838h,
  type_mapping.go:150-153),
- ENUM/SET/JSON → STRING with metadata (type_mapping.go:101-116,188-193).
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

_DEC_RE = re.compile(r"(?:DECIMAL|NUMERIC|DEC)\s*(?:\((\d+)\s*(?:,\s*(\d+))?\))?", re.I)
_PAREN_RE = re.compile(r"\((\d+)\)")
_ENUM_RE = re.compile(r"(ENUM|SET)\s*\((.*)\)", re.I | re.S)

MAX_DECIMAL_PRECISION = 38


def mysql_to_spark(type_str: str) -> tuple[T.DataType, dict]:
    """Parse a MySQL column type into (Spark type, metadata dict)."""
    s = type_str.strip()
    meta = {"mysql_type": s}
    # CHARACTER SET / COLLATE attributes: kept as metadata for output
    # re-encoding (reference: charset kept per-column and re-applied on
    # the way out, backend/iter.go:176-182, charset/charset.go:18-31)
    chm = re.search(r"\b(?:CHARACTER\s+SET|CHARSET)\s+(\w+)", s, re.I)
    if chm:
        meta["charset"] = chm.group(1).lower()
        s = (s[: chm.start()] + s[chm.end() :]).strip()
    com = re.search(r"\bCOLLATE\s+(\w+)", s, re.I)
    if com:
        meta["collation"] = com.group(1).lower()
        s = (s[: com.start()] + s[com.end() :]).strip()
    up = s.upper()
    unsigned = "UNSIGNED" in up
    base = up.split("(")[0].split()[0]

    # array columns: pg `elem[]`, DuckDB/Spark `ARRAY<elem>` /
    # `elem ARRAY`, and pgvector-style `VECTOR(n)` → array<float>
    # (the embedding-column convention the vector index expects)
    # a declared dimension is documentation in pg: FLOAT[4] ≡ FLOAT[]
    am = re.fullmatch(r"(.+?)\s*\[\s*\d*\s*\]", s)
    if am:
        inner, im = mysql_to_spark(am.group(1))
        return T.ArrayType(inner), meta
    am = re.fullmatch(r"ARRAY\s*<\s*(.+)\s*>", s, re.I)
    if am:
        inner, im = mysql_to_spark(am.group(1))
        return T.ArrayType(inner), meta
    if base == "VECTOR":
        return T.ArrayType(T.FloatType()), meta

    if base in ("TINYINT", "BOOL", "BOOLEAN"):
        if base != "TINYINT":
            return T.BooleanType(), meta
        # TINYINT(1) is MySQL's bool convention but stays numeric here,
        # like the reference keeps it TINYINT.
        return (T.ShortType() if unsigned else T.ByteType()), meta
    if base == "SMALLINT":
        return (T.IntegerType() if unsigned else T.ShortType()), meta
    if base == "MEDIUMINT":
        return T.IntegerType(), meta
    if base in ("INT", "INTEGER"):
        return (T.LongType() if unsigned else T.IntegerType()), meta
    if base == "BIGINT":
        return (T.DecimalType(20, 0) if unsigned else T.LongType()), meta
    if base == "BIT":
        return T.LongType(), meta
    if base == "FLOAT":
        return T.FloatType(), meta
    if base in ("DOUBLE", "REAL"):
        return T.DoubleType(), meta
    if base in ("DECIMAL", "NUMERIC", "DEC"):
        m = _DEC_RE.match(up)
        p = int(m.group(1) or 10)
        sc = int(m.group(2) or 0)
        if p > MAX_DECIMAL_PRECISION:  # reference caps at 38
            sc = max(0, sc - (p - MAX_DECIMAL_PRECISION))
            p = MAX_DECIMAL_PRECISION
        return T.DecimalType(p, sc), meta
    if base == "DATE":
        return T.DateType(), meta
    if base in ("DATETIME",):
        return T.TimestampNTZType(), meta
    if base == "TIMESTAMP":
        return T.TimestampType(), meta
    if base == "TIME":
        return T.DayTimeIntervalType(), meta
    if base == "YEAR":
        return T.ShortType(), meta
    if base in ("CHAR", "VARCHAR", "TINYTEXT", "TEXT", "MEDIUMTEXT", "LONGTEXT"):
        m = _PAREN_RE.search(s)
        if m:
            meta["length"] = int(m.group(1))
        return T.StringType(), meta
    if base in ("BINARY", "VARBINARY", "TINYBLOB", "BLOB", "MEDIUMBLOB", "LONGBLOB"):
        m = _PAREN_RE.search(s)
        if m:
            meta["length"] = int(m.group(1))
        return T.BinaryType(), meta
    if base in ("JSON", "JSONB"):  # pg_dump emits jsonb columns
        meta["json"] = True
        return T.StringType(), meta
    if base in ("ENUM", "SET"):
        m = _ENUM_RE.match(s)
        vals = [v.strip().strip("'\"") for v in m.group(2).split(",")] if m else []
        meta[base.lower() + "_values"] = vals
        return T.StringType(), meta
    if base == "GEOMETRY":
        # reference rejects it too (type_mapping.go:194-195)
        raise ValueError("GEOMETRY is not supported")
    raise ValueError(f"unsupported MySQL type: {type_str}")


def spark_to_mysql(dtype: T.DataType, meta: dict | None = None) -> str:
    """Reverse mapping for SHOW CREATE-style output; prefers the
    original type preserved in metadata (lossless round-trip)."""
    if meta and "mysql_type" in meta:
        return meta["mysql_type"]
    mapping = {
        T.ByteType: "TINYINT",
        T.ShortType: "SMALLINT",
        T.IntegerType: "INT",
        T.LongType: "BIGINT",
        T.FloatType: "FLOAT",
        T.DoubleType: "DOUBLE",
        T.BooleanType: "BOOL",
        T.DateType: "DATE",
        T.TimestampType: "TIMESTAMP",
        T.TimestampNTZType: "DATETIME",
        T.StringType: "TEXT",
        T.BinaryType: "BLOB",
        T.DayTimeIntervalType: "TIME",
    }
    if isinstance(dtype, T.DecimalType):
        return f"DECIMAL({dtype.precision},{dtype.scale})"
    for k, v in mapping.items():
        if isinstance(dtype, k):
            return v
    raise ValueError(f"no MySQL mapping for {dtype}")


def schema_from_mysql(columns: list[tuple[str, str]] | dict[str, str],
                      not_null: set[str] | None = None) -> T.StructType:
    """Build a StructType from [(col, mysql_type), ...] with metadata."""
    if isinstance(columns, dict):
        columns = list(columns.items())
    not_null = not_null or set()
    fields = []
    for name, ts in columns:
        try:
            dtype, meta = mysql_to_spark(ts)
        except ValueError as e:
            raise ValueError(f"column '{name}': {e}") from None
        fields.append(
            T.StructField(name, dtype, nullable=name not in not_null, metadata=meta)
        )
    return T.StructType(fields)
