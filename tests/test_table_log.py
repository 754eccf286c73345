"""The per-table commit log (catalog.py): put-if-absent entries, row-
level commits with deletion vectors, the read memo, the compaction
rule, and crash/conflict behaviour."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from myduckserver_spark.catalog import (
    FOLD_FILES,
    MAX_DV_ROWS,
    Catalog,
    CommitConflictError,
)
from myduckserver_spark.engine import Engine

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(t):
    return sorted(tuple(r) for r in t.read().collect())


def _kv(spark, n):
    return spark.range(n).selectExpr("id", "id * 10 AS v")


def test_second_writer_of_a_version_conflicts_without_lost_update(
        spark, tmp_path):
    root = str(tmp_path / "wh")
    t1 = Catalog(spark, root).create_table("kv", _kv(spark, 3))
    t2 = Catalog(spark, root).table("kv")
    # both writers prepare entry 1 against version 0
    e1 = t1.prepare_snapshot(
        spark.createDataFrame([(10, 100)], "id long, v long"),
        replace=False)
    e2 = t2.prepare_snapshot(
        spark.createDataFrame([(20, 200)], "id long, v long"),
        replace=False)
    assert e1["version"] == e2["version"] == 1
    t1.commit(e1)
    with pytest.raises(CommitConflictError):
        t2.commit(e2)
    assert t2.version == 1 and t2.entry(1)["commit"] == e1["commit"]
    # the loser retries against the new version; nothing is lost
    t2.append(spark.createDataFrame([(20, 200)], "id long, v long"))
    assert _rows(t1) == [(0, 0), (1, 10), (2, 20), (10, 100), (20, 200)]


_KILLED_WRITER = textwrap.dedent("""
    import os, signal, sys
    sys.path.insert(0, sys.argv[1])
    from myduckserver_spark.catalog import Catalog
    from myduckserver_spark.session import build_session
    spark = build_session(master="local[1]", shuffle_partitions=1,
                          extra_conf={"spark.driver.memory": "1g"})
    t = Catalog(spark, sys.argv[2]).table("kv")
    entry = t.prepare_snapshot(
        spark.createDataFrame([(99, 990)], "id long, v long"),
        replace=False)
    assert entry["add"], entry
    print("PREPARED", entry["version"], flush=True)
    os.kill(os.getpid(), signal.SIGKILL)  # before the entry is written
""")


def test_writer_killed_before_its_entry_leaves_version_and_orphans(
        spark, tmp_path):
    root = str(tmp_path / "wh")
    cat = Catalog(spark, root)
    t = cat.create_table("kv", _kv(spark, 3))
    out = subprocess.run(
        [sys.executable, "-c", _KILLED_WRITER, ROOT, root],
        capture_output=True, text=True, timeout=600)
    assert "PREPARED 1" in out.stdout, out.stdout + out.stderr[-3000:]
    assert out.returncode == -9
    t = Catalog(spark, root).table("kv")
    assert t.version == 0
    assert _rows(t) == [(0, 0), (1, 10), (2, 20)]
    live = {p.split(os.sep)[0] for p in t.live_files()}
    orphans = [d for d in os.listdir(t.dir)
               if d.startswith("d") and d not in live]
    assert len(orphans) == 1
    assert t.vacuum() == 1
    assert sorted(d for d in os.listdir(t.dir) if d.startswith("d")) \
        == sorted(live)
    assert _rows(t) == [(0, 0), (1, 10), (2, 20)]


def test_read_memo_is_keyed_on_name_and_version(spark, tmp_path):
    root = str(tmp_path / "wh")
    cat = Catalog(spark, root)
    t = cat.create_table("kv", _kv(spark, 3))
    df0 = t.read()
    assert t.read() is df0
    assert set(cat._read_cache) == {("kv", 0)}
    t.read(positioned=True)
    assert set(cat._read_cache) == {("kv", 0), ("kv", 0, "pos")}
    t.append(spark.createDataFrame([(3, 30)], "id long, v long"))
    df1 = t.read()
    assert df1 is not df0 and set(cat._read_cache) == {("kv", 1)}
    # another catalog drops and recreates the table up to the same
    # version: the memo must not serve the old plan
    other = Catalog(spark, root)
    other.drop_table("kv")
    other.create_table("kv", _kv(spark, 1)).append(
        spark.createDataFrame([(7, 70)], "id long, v long"))
    assert t.version == 1
    assert _rows(t) == [(0, 0), (7, 70)]


@pytest.fixture(scope="module")
def big(spark, tmp_path_factory):
    """A 250k-row keyed table, as the benchmark's write workload has."""
    e = Engine(spark, str(tmp_path_factory.mktemp("big") / "wh"))
    spark.range(250_000).selectExpr(
        "id", "id * 7 + 3 AS uk", "CAST(id % 1000 AS INT) AS grp",
        "id % 10000 AS qty", "CAST(id % 997 AS DOUBLE) AS val",
        "concat('n', CAST(id % 8 AS STRING)) AS note",
    ).createOrReplaceTempView("big_src")
    e.execute("CREATE TABLE kv AS SELECT * FROM big_src")
    e.execute("ALTER TABLE kv ADD PRIMARY KEY (id)")
    e.execute("ALTER TABLE kv ADD UNIQUE KEY kv_uk (uk)")
    return e


_ONE_ROW = [
    ("mysql", "INSERT INTO kv VALUES (300001, 2100010, 1, 1, 1.5, 'a')"),
    ("mysql", "UPDATE kv SET qty = 5, note = 'u' WHERE id = 17"),
    ("mysql", "DELETE FROM kv WHERE id = 18"),
    ("mysql", "INSERT INTO kv VALUES (19, 136, 2, 2, 2.5, 'b') "
              "ON DUPLICATE KEY UPDATE qty = VALUES(qty)"),
    ("postgres", "INSERT INTO kv VALUES (20, 143, 3, 3, 3.5, 'c') "
                 "ON CONFLICT (id) DO UPDATE SET qty = EXCLUDED.qty"),
    ("mysql", "REPLACE INTO kv VALUES (21, 150, 4, 4, 4.5, 'd')"),
]


@pytest.mark.parametrize("dialect,sql", _ONE_ROW,
                         ids=["insert", "update", "delete", "odku",
                              "on_conflict", "replace"])
def test_one_row_statement_adds_under_64kb(big, dialect, sql):
    t = big.catalog.table("kv")
    v0, n0 = t.version, t.count()
    big.execute(sql, dialect=dialect)
    entries = [t.entry(n) for n in range(v0 + 1, t.version + 1)]
    assert entries and all(e["op"] == "rows" for e in entries)
    added = sum(a["bytes"] for e in entries for a in e["add"])
    assert added < 64 << 10, added
    assert t.count() == n0 + (1 if "300001" in sql else
                              -1 if sql.startswith("DELETE") else 0)


def _scan_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_table_without_deletion_vectors_plans_a_plain_scan(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE p (id BIGINT PRIMARY KEY, v DOUBLE)")
    e.execute("INSERT INTO p SELECT id, id FROM range(100)")
    e.execute("INSERT INTO p VALUES (1000, 1.0)")
    plan = _scan_plan(e.sql("SELECT * FROM p WHERE id = 5"))
    assert "FileScan parquet" in plan and "row_index" not in plan
    assert not e.catalog.table("p").deletion_vectors()
    e.execute("DELETE FROM p WHERE id = 5")
    assert e.catalog.table("p").deletion_vectors()
    plan = _scan_plan(e.sql("SELECT * FROM p WHERE id = 6"))
    assert "row_index" in plan


def test_compaction_bounds_files_and_deletion_vectors(spark, tmp_path):
    """300 alternating 1-row INSERT / UPDATE / DELETE statements: the
    live file count and the deletion vectors stay bounded by the
    compaction rule, the rule never fires within 8 statements, and the
    table equals a replay of the same statements in Python."""
    e = Engine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE c (id BIGINT PRIMARY KEY, v BIGINT)")
    e.execute("INSERT INTO c SELECT id, id FROM range(50)")
    t = e.catalog.table("c")
    model = {i: i for i in range(50)}
    v_start = t.version
    max_files, max_dv = 0, 0
    for i in range(300):
        k = (i * 37) % 200
        if i % 3 == 0:
            k = 1000 + i
            e.execute(f"INSERT INTO c VALUES ({k}, {i})")
            model[k] = i
        elif i % 3 == 1:
            e.execute(f"UPDATE c SET v = {-i} WHERE id = {k}")
            if k in model:
                model[k] = -i
        else:
            e.execute(f"DELETE FROM c WHERE id = {k}")
            model.pop(k, None)
        if i == 7:
            assert all(t.entry(n)["op"] == "rows"
                       for n in range(v_start + 1, t.version + 1))
        files = t.live_files()
        dv = sum(len(d) for d in t.deletion_vectors().values())
        max_files, max_dv = max(max_files, len(files)), max(max_dv, dv)
    folds = sum(t.entry(n)["op"] == "fold"
                for n in range(v_start + 1, t.version + 1))
    assert folds >= 300 // (3 * FOLD_FILES)
    # at most FOLD_FILES delta files plus the fold output and the base
    assert max_files <= FOLD_FILES + 2 and max_dv <= MAX_DV_ROWS
    got = dict(tuple(r) for r in e.sql("SELECT id, v FROM c").collect())
    assert got == model
    assert t.count() == len(model)


def test_rollback_appends_a_restore_entry(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE r (id BIGINT PRIMARY KEY, v BIGINT)")
    e.execute("INSERT INTO r VALUES (1, 1), (2, 2)")
    t = e.catalog.table("r")
    v0 = t.version
    e.execute("BEGIN")
    e.execute("DELETE FROM r WHERE id = 1")
    e.execute("INSERT INTO r VALUES (3, 3)")
    e.execute("ROLLBACK")
    assert t.entry(t.version)["op"] == "restore"
    assert t.live_files() == t.live_files(v0)
    assert t.deletion_vectors() == {}
    assert sorted(tuple(r) for r in e.sql("SELECT * FROM r").collect()) \
        == [(1, 1), (2, 2)]


def test_count_needs_no_spark_job(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE n (id BIGINT PRIMARY KEY, v BIGINT)")
    e.execute("INSERT INTO n SELECT id, id FROM range(1000)")
    e.execute("DELETE FROM n WHERE id < 3")
    t = e.catalog.table("n")
    sc = spark.sparkContext
    sc.setJobGroup("log_count", "log_count")
    try:
        assert t.count() == 997
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("log_count") == []
    assert t.read().where(F.col("id") < 5).count() == 2
