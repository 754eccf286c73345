"""``frames.local_frame`` against ``spark.createDataFrame(list)``.

The helper replaces the pickled-RDD path everywhere in the package, so
it must store exactly what that path stores: every column type the
engine's DDL creates (nested array, map and struct included), the edge
values of each, and the same exception class for a value that does not
fit. TIMESTAMP parity depends on the process time zone, so that case
also runs in a child process under a non-UTC ``TZ``.
"""

from __future__ import annotations

import ast
import datetime as dt
import math
import os
import pathlib
import subprocess
import sys
import textwrap
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from myduckserver_spark.frames import local_frame
from myduckserver_spark.types import schema_from_mysql

PKG = pathlib.Path(__file__).resolve().parent.parent / "myduckserver_spark"

# one column per type the MySQL/pg DDL maps to, plus nested shapes,
# DECIMAL(38,10), BINARY and a NULL-typed column
_DDL = schema_from_mysql([
    ("b", "BOOL"), ("i8", "TINYINT"), ("i16", "SMALLINT"),
    ("i32", "INT"), ("i64", "BIGINT"), ("u64", "BIGINT UNSIGNED"),
    ("f32", "FLOAT"), ("f64", "DOUBLE"), ("dec", "DECIMAL(10,2)"),
    ("wide", "DECIMAL(38,10)"), ("d", "DATE"), ("dtm", "DATETIME"),
    ("ts", "TIMESTAMP"), ("tm", "TIME"), ("s", "VARCHAR(20)"),
    ("bin", "BINARY(4)"), ("vec", "VECTOR(3)"), ("ints", "INT[]"),
])
SCHEMA = T.StructType(list(_DDL.fields) + [
    T.StructField("nested", T.ArrayType(T.ArrayType(T.LongType()))),
    T.StructField("tsa", T.ArrayType(T.TimestampType())),
    T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
    T.StructField("st", T.StructType([
        T.StructField("x", T.IntegerType()),
        T.StructField("when", T.TimestampNTZType()),
        T.StructField("tags", T.MapType(T.StringType(), T.DoubleType())),
    ])),
    T.StructField("nothing", T.NullType()),
])

_TS = dt.datetime(2020, 1, 1, 12, 0, 0, 123456)
_NULL_ROW = (None,) * len(SCHEMA.fields)
_ROWS = [
    (True, 127, 32767, 2147483647, 9223372036854775807,
     Decimal("18446744073709551615"), 1.5, 0.1, Decimal("12345678.99"),
     Decimal("9999999999999999999999999999.9999999999"),
     dt.date(1, 1, 1), dt.datetime(9999, 12, 31, 23, 59, 59, 999999),
     _TS, dt.timedelta(hours=838, minutes=59, seconds=59),
     "héllo ☃", b"\x00\xff", [1.0, None, 3.5], [1, None],
     [[1, 2], [], None], [_TS, None], {"k": 1.5, "e": None},
     (7, _TS, {"a": 1.0}), None),
    (False, -128, -32768, -2147483648, -9223372036854775808,
     Decimal(0), float("nan"), float("-inf"), Decimal("-0.01"),
     Decimal("-1.0000000001"), dt.date(1970, 1, 1),
     dt.datetime(1970, 1, 1), dt.datetime(1969, 12, 31, 23, 59, 59),
     -dt.timedelta(microseconds=1), "", bytearray(b"ab"), [], [],
     [], [], {}, (None, None, None), None),
    (None, 0, 0, 0, 0, None, -0.0, float("inf"), Decimal("1.235"),
     Decimal("0.00000000005"), None, None,
     dt.datetime(2020, 6, 1, 12, tzinfo=dt.timezone.utc), None,
     None, None, [float("nan"), -0.0], None, None, None,
     {"n": float("nan")}, Row(x=1, when=None, tags=None), None),
    # FLOAT overflow and sub-scale decimals round the same way
    (None, None, None, None, None, None, 1e40, -0.0, Decimal("0.005"),
     None, dt.datetime(2021, 3, 4, 5, 6), None, None, None, None, None,
     None, None, None, None, None, None, None),
    _NULL_ROW,
]


def _norm(v):
    """Comparable form: floats by repr (NaN equal to NaN, -0.0 distinct
    from 0.0), containers element-wise."""
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, Row):
        return ("row",) + tuple((k, _norm(x)) for k, x in v.asDict().items())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _collect(df):
    return [_norm(r) for r in df.collect()]


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_every_ddl_type_matches_create_dataframe(spark):
    ours = local_frame(spark, _ROWS, SCHEMA)
    theirs = spark.createDataFrame(_ROWS, SCHEMA)
    assert ours.schema == theirs.schema
    assert _collect(ours) == _collect(theirs)
    # the whole frame is a driver-side relation: no Spark job to read it
    assert _plan(ours).startswith("LocalRelation"), _plan(ours)


def test_rows_as_dicts_and_rows_nested_decimals(spark):
    schema = "k bigint, s string, d decimal(5,1), ds array<decimal(4,2)>"
    rows = [{"k": 1, "s": "a", "d": Decimal("1.25"),
             "ds": [Decimal("0.125"), None]},
            Row(k=2, s=None, d=None, ds=None),
            [3, "c", Decimal("-7"), [Decimal("-0.005")]]]
    assert _collect(local_frame(spark, rows, schema)) == \
        _collect(spark.createDataFrame(rows, schema))


def test_empty_batch(spark):
    ours = local_frame(spark, [], SCHEMA)
    assert ours.schema == spark.createDataFrame([], SCHEMA).schema
    assert ours.collect() == []
    assert local_frame(spark, iter(()), "a int").count() == 0


@pytest.mark.parametrize("schema,row", [
    ("v bigint", ("12",)),                          # text into BIGINT
    ("v int", (2 ** 40,)),                          # out of INT range
    ("v timestamp_ntz", ("1998-01-01 00:00:00",)),  # text into DATETIME
    ("v tinyint", (128,)),
    ("v double", ("1.5",)),
    ("a int, b int", ((1,),)),                      # wrong arity
])
def test_bad_values_raise_the_same_exception_class(spark, schema, row):
    with pytest.raises(Exception) as theirs:
        spark.createDataFrame([row], schema)
    with pytest.raises(Exception) as ours:
        local_frame(spark, [row], schema)
    assert type(ours.value) is type(theirs.value)


_TZ_CHILD = textwrap.dedent("""
    import datetime as dt, os, sys, tempfile, time
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    sys.path.insert(0, sys.argv[1])
    from myduckserver_spark.engine import Engine
    from myduckserver_spark.frames import local_frame
    from myduckserver_spark.session import build_session
    spark = build_session(master="local[1]", shuffle_partitions=1,
                          extra_conf={"spark.driver.memory": "1g"})
    schema = "ts timestamp, ntz timestamp_ntz, a array<timestamp>"
    naive = dt.datetime(2020, 1, 1, 12)
    aware = dt.datetime(2020, 1, 1, 12, tzinfo=dt.timezone.utc)
    rows = [(naive, naive, [naive]), (aware, aware, [aware]),
            (dt.datetime(2020, 7, 1, 0, 30), None, None)]
    shown = [f"CAST({c} AS STRING)" for c in ("ts", "ntz", "a")]
    ours = local_frame(spark, rows, schema).selectExpr(*shown).collect()
    theirs = spark.createDataFrame(rows, schema).selectExpr(*shown).collect()
    assert ours == theirs, (ours, theirs)
    # a collected row written back keeps its instant: an upsert that
    # leaves ts alone must not move it
    e = Engine(spark, tempfile.mkdtemp())
    e.execute("CREATE TABLE t (id BIGINT PRIMARY KEY, ts TIMESTAMP, v INT)")
    e.execute("INSERT INTO t SELECT 1, TIMESTAMP '2020-01-01 12:00:00', 0")
    e.execute("INSERT INTO t VALUES (1, NULL, 5) "
              "ON DUPLICATE KEY UPDATE v = VALUES(v)")
    got = e.sql("SELECT CAST(ts AS STRING) s, v FROM t").collect()
    assert [tuple(r) for r in got] == [("2020-01-01 12:00:00", 5)], got
    print("TZ-OK")
""")


def test_timestamp_parity_under_non_utc_process_zone(tmp_path):
    env = dict(os.environ, TZ="America/Los_Angeles")
    out = subprocess.run(
        [sys.executable, "-c", _TZ_CHILD, str(PKG.parent)],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=str(tmp_path))
    assert "TZ-OK" in out.stdout, out.stdout[-2000:] + out.stderr[-4000:]


def _create_dataframe_refs(path: pathlib.Path) -> list[int]:
    lines = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Attribute) and node.attr == "createDataFrame":
            lines.append(node.lineno)
        elif (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
              and node.func.id == "getattr"
              and any(isinstance(a, ast.Constant)
                      and a.value == "createDataFrame" for a in node.args)):
            lines.append(node.lineno)
    return lines


def test_no_create_dataframe_outside_the_helper():
    # one way to turn driver rows into a DataFrame: local_frame.
    # sources/arrow.py hands Arrow input straight to Spark.
    exempt = {PKG / "frames.py", PKG / "sources" / "arrow.py"}
    found = {
        str(p.relative_to(PKG)): refs
        for p in sorted(PKG.rglob("*.py")) if p not in exempt
        for refs in [_create_dataframe_refs(p)] if refs
    }
    assert found == {}, f"createDataFrame referenced at {found}"


def test_map_of_nested_values_keeps_nulls(spark):
    # pyarrow < 17: PySpark's Arrow ingest would turn the NULL map into
    # an empty one, so this schema takes the pickled path there
    from myduckserver_spark import frames

    schema = "id int, m map<string, array<timestamp>>"
    rows = [(1, None), (2, {"a": [dt.datetime(2020, 1, 1, 12)], "b": None})]
    ours = local_frame(spark, rows, schema)
    assert _collect(ours) == _collect(spark.createDataFrame(rows, schema))
    assert ours.collect()[0].m is None
    arrow = not frames._MAP_NULLS_DROPPED
    assert _plan(ours).startswith("LocalRelation") == arrow
    flat = local_frame(spark, [(1, None)], "id int, m map<string, int>")
    assert _plan(flat).startswith("LocalRelation")
    assert flat.collect()[0].m is None
