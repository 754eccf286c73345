"""Literal VALUES casts agree with Spark CAST, and CREATE TABLE with
declared columns and keys loads its query through the INSERT path."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import types as T

from myduckserver_spark.engine import DuplicateKeyError, Engine

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


def test_boolean_text_default_stores_what_cast_stores(eng):
    eng.execute("CREATE TABLE nb (id INT, flag BOOLEAN DEFAULT 'FALSE')")
    eng.execute("INSERT INTO nb VALUES (2, DEFAULT)")
    eng.execute("INSERT INTO nb (id) VALUES (1)")
    got = sorted(tuple(r) for r in
                 eng.sql("SELECT id, flag FROM nb").collect())
    assert got == [(1, False), (2, False)]


def test_boolean_text_default_on_a_key_column(eng):
    eng.execute("CREATE TABLE kb (id INT, flag BOOLEAN DEFAULT 'FALSE', "
                "PRIMARY KEY (id, flag))")
    eng.execute("INSERT INTO kb VALUES (1, DEFAULT)")
    with pytest.raises(DuplicateKeyError):
        eng.execute("INSERT INTO kb VALUES (1, false)")
    eng.execute("INSERT INTO kb VALUES (1, true)")
    assert sorted(tuple(r) for r in eng.sql("SELECT * FROM kb").collect()) \
        == [(1, False), (1, True)]


@pytest.mark.parametrize("text", ["FALSE", "false", " True ", "t", "F",
                                  "yes", "no", "Y", "n", "1", "0", "2",
                                  "maybe", ""])
def test_py_cast_boolean_matches_spark_cast(spark, eng, text):
    want = spark.sql(
        f"SELECT CAST('{text}' AS BOOLEAN) AS b").collect()[0].b
    assert eng._py_cast(text, T.BooleanType()) == want


_TZ_CHILD = textwrap.dedent("""
    import os, sys, tempfile, time
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    sys.path.insert(0, sys.argv[1])
    from myduckserver_spark.engine import Engine
    from myduckserver_spark.session import build_session
    spark = build_session(master="local[1]", shuffle_partitions=1,
                          extra_conf={"spark.driver.memory": "1g"})
    e = Engine(spark, tempfile.mkdtemp())
    e.execute("CREATE TABLE t (id INT, ts TIMESTAMP)")
    e.execute("INSERT INTO t VALUES (1, '2020-01-01 12:00:00')")
    e.execute("INSERT INTO t SELECT 2, TIMESTAMP '2020-01-01 12:00:00'")
    got = sorted(tuple(r) for r in
                 e.sql("SELECT id, CAST(ts AS STRING) FROM t").collect())
    assert got == [(1, "2020-01-01 12:00:00"),
                   (2, "2020-01-01 12:00:00")], got
    print("TZ-OK")
""")


def test_timestamp_text_literal_is_read_in_the_session_zone(tmp_path):
    env = dict(os.environ, TZ="America/Los_Angeles")
    out = subprocess.run(
        [sys.executable, "-c", _TZ_CHILD, ROOT],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=str(tmp_path))
    assert "TZ-OK" in out.stdout, out.stdout[-2000:] + out.stderr[-4000:]


@pytest.fixture()
def src(spark, tmp_path):
    path = str(tmp_path / "src.parquet")
    spark.range(1000).selectExpr("id", "id * 7 + 3 AS uk") \
        .coalesce(1).write.parquet(path)
    return path


def test_ctas_with_declared_columns_and_keys(eng, src):
    r = eng.execute(
        "CREATE TABLE b (id BIGINT, uk BIGINT, PRIMARY KEY (id), "
        f"UNIQUE KEY b_uk (uk)) AS SELECT * FROM read_parquet('{src}')")
    assert r.affected_rows == 1000
    assert eng.sql("SELECT COUNT(*) AS n FROM b").collect()[0].n == 1000
    meta = eng.table_meta("b")
    assert meta.primary_key == ["id"]
    assert eng._unique_key_list(meta) == [("b_uk", ["uk"])]
    with pytest.raises(DuplicateKeyError):
        eng.execute("INSERT INTO b VALUES (5, 1)")
    with pytest.raises(DuplicateKeyError):
        eng.execute("INSERT INTO b VALUES (5000, 38)")


def test_ctas_with_declared_keys_rejects_duplicate_rows(eng, src):
    with pytest.raises(DuplicateKeyError):
        eng.execute(
            "CREATE TABLE d (id BIGINT PRIMARY KEY, uk BIGINT) "
            f"SELECT id % 10 AS id, uk FROM read_parquet('{src}')")
    # the statement is atomic: no half-created table is left
    assert not eng.catalog.table("d").exists()
    r = eng.execute("CREATE TABLE d (id BIGINT PRIMARY KEY, x INT) "
                    "AS SELECT 1 AS id")
    assert r.affected_rows == 1
    assert [tuple(r) for r in eng.sql("SELECT * FROM d").collect()] \
        == [(1, None)]


def test_year_month_interval_column_is_rejected_by_name(eng):
    """A stored INTERVAL YEAR TO MONTH column could never be returned
    (PySpark has no YearMonthIntervalType.fromInternal), so CREATE,
    CTAS and ALTER ADD COLUMN refuse it, naming the column, and leave
    no table behind; a DAY TO SECOND interval still round-trips."""
    with pytest.raises(ValueError, match="column 'iv'"):
        eng.execute("CREATE TABLE ym AS SELECT 1 AS id, "
                    "INTERVAL '1-2' YEAR TO MONTH AS iv")
    assert not eng.catalog.table("ym").exists()
    with pytest.raises(ValueError, match="column 'iv'"):
        eng.execute("CREATE TABLE ym2 (id INT, iv INTERVAL YEAR TO MONTH)")
    eng.execute("CREATE TABLE t (id INT PRIMARY KEY)")
    with pytest.raises(ValueError, match="column 'iv'"):
        eng.execute("ALTER TABLE t ADD COLUMN iv INTERVAL YEAR TO MONTH")
    assert eng.catalog.table("t").read().columns == ["id"]
    eng.execute("CREATE TABLE dt AS SELECT 1 AS id, "
                "INTERVAL '1 2' DAY TO HOUR AS iv")
    assert len(eng.execute("SELECT * FROM dt").collect()) == 1
