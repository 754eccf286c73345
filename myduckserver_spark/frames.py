"""Driver-held rows as DataFrames.

``local_frame`` is the one way the package turns Python rows it already
holds (a literal VALUES batch, upsert assignments, a CDC flush delta,
SHOW/CHECK result rows) into a DataFrame.

``spark.createDataFrame(list)`` ships the rows as a pickled Python RDD:
every job over it starts Python workers, and Catalyst cannot size it,
so a join against it shuffles the other side. Here the rows go through
the same checks that call runs (``_make_type_verifier``, the field
converter and ``toInternal``) and are then packed into a ``pyarrow``
table. Spark turns a small Arrow table into a ``LocalRelation``:
collects and projections over it run in the driver with no job, and
its known size lets joins against it broadcast.

Values are stored exactly as ``createDataFrame(list)`` stores them:
``toInternal`` reads a naive ``datetime`` for TIMESTAMP as process-local
time, and the Arrow column receives that instant in UTC. Decimals round
half up to the field's scale, as the JVM does for pickled rows.

One schema shape keeps the pickled path, chosen from the schema alone:
with pyarrow older than 17, PySpark's Arrow ingest rebuilds a map whose
keys or values are nested or timestamps without its null mask, so a
NULL map would arrive as an empty one. The engine's DDL creates no map
column, but a CTAS or a query result can carry one.
"""

from __future__ import annotations

import decimal
from typing import Any, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    _create_converter,
    _make_type_verifier,
    _parse_datatype_string,
)


_MAP_NULLS_DROPPED = int(pa.__version__.split(".")[0]) < 17


def _map_nulls_dropped(dt: T.DataType) -> bool:
    """Whether `dt` holds a map that PySpark's Arrow ingest rebuilds
    (nested or timestamp keys or values), losing its null mask."""
    if isinstance(dt, T.ArrayType):
        return _map_nulls_dropped(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_map_nulls_dropped(f.dataType) for f in dt.fields)
    if isinstance(dt, T.MapType):
        return any(
            isinstance(t, (T.ArrayType, T.MapType, T.StructType,
                           T.TimestampType, T.TimestampNTZType))
            or _map_nulls_dropped(t)
            for t in (dt.keyType, dt.valueType))
    return False


def _same(v):
    return v


def _decimal_fix(dt: T.DataType):
    """Per-value rounding of the decimals inside `dt` to their field's
    scale, half up as the JVM rounds a pickled Decimal (Arrow refuses a
    lossy rescale); None when `dt` holds no decimal."""
    if isinstance(dt, T.DecimalType):
        q = decimal.Decimal(1).scaleb(-dt.scale)
        wide = decimal.Context(prec=80)

        def f(v):
            return v.quantize(q, decimal.ROUND_HALF_UP, wide)
    elif isinstance(dt, T.ArrayType):
        e = _decimal_fix(dt.elementType)
        f = e and (lambda v: [e(x) for x in v])
    elif isinstance(dt, T.MapType):
        k = _decimal_fix(dt.keyType) or _same
        x = _decimal_fix(dt.valueType) or _same
        f = (k, x) != (_same, _same) and (
            lambda v: {k(a): x(b) for a, b in v.items()})
    elif isinstance(dt, T.StructType):
        fs = [_decimal_fix(fl.dataType) for fl in dt.fields]
        f = any(fs) and (lambda v: tuple(
            g(x) if g else x for g, x in zip(fs, v)))
    else:
        return None
    return (lambda v: None if v is None else f(v)) if f else None


def local_frame(
    spark: SparkSession, rows: Iterable[Any], schema: T.StructType | str
) -> DataFrame:
    """DataFrame of `rows` (tuples, lists, Rows or dicts) under
    `schema` (a StructType or a DDL string), built from an Arrow table.

    Raises what ``spark.createDataFrame(rows, schema)`` raises for a
    value that does not fit its field."""
    struct = (_parse_datatype_string(schema) if isinstance(schema, str)
              else schema)
    if _MAP_NULLS_DROPPED and _map_nulls_dropped(struct):
        return spark.createDataFrame(list(rows), struct)
    arrow_schema = to_arrow_schema(
        struct, error_on_duplicated_field_names_in_struct=True)
    verify = _make_type_verifier(struct)
    convert = _create_converter(struct)
    internal = []
    for row in rows:
        verify(row)
        internal.append(struct.toInternal(convert(row)))
    columns = list(zip(*internal)) if internal else [()] * len(struct.fields)
    arrays = []
    for f, af, col in zip(struct.fields, arrow_schema, columns):
        fix = _decimal_fix(f.dataType)
        arrays.append(pa.array(
            list(col) if fix is None else [fix(v) for v in col], type=af.type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, struct)
