"""Hive-partitioned engine tables: CREATE TABLE ... PARTITION BY lays
out snapshots as value directories, reads prune partitions
(PartitionFilters at the scan), DML rewrites preserve the layout, and
column order/types survive the partition round trip."""

import os

import pytest
from pyspark.sql import functions as F

from myduckserver_spark.engine import Engine


@pytest.fixture()
def peng(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "wh"))
    e.execute(
        "CREATE TABLE ev (id INT PRIMARY KEY, region VARCHAR(10), "
        "v DOUBLE) PARTITIONED BY (region)"
    )
    e.execute(
        "INSERT INTO ev VALUES (1, 'eu', 1.0), (2, 'us', 2.0), "
        "(3, 'eu', 3.0), (4, 'ap', 4.0)"
    )
    return e


def _region_dirs(t, version=None):
    """Hive partition directories holding the version's live files."""
    return {seg for p in t.live_files(version) for seg in p.split(os.sep)
            if seg.startswith("region=")}


def _inodes(t, version):
    return {f: os.stat(os.path.join(t.dir, f)).st_ino
            for f in t.live_files(version)}


def test_partition_directories_on_disk(peng):
    t = peng.catalog.table("ev")
    dirs = _region_dirs(t)
    assert dirs == {"region=eu", "region=us", "region=ap"}


def test_column_order_and_types_roundtrip(peng):
    df = peng.execute("SELECT * FROM ev ORDER BY id")
    assert df.columns == ["id", "region", "v"]  # declared order, not hive
    rows = [tuple(r) for r in df.collect()]
    assert rows == [
        (1, "eu", 1.0), (2, "us", 2.0), (3, "eu", 3.0), (4, "ap", 4.0)
    ]


def test_partition_pruning_in_plan(peng):
    df = peng.sql("SELECT id, v FROM ev WHERE region = 'eu'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "region" in plan
    # the eu-only scan must not read the us/ap directories
    assert sorted(r.id for r in df.collect()) == [1, 3]


def test_dml_preserves_partitioning(peng):
    peng.execute("UPDATE ev SET v = v + 10 WHERE region = 'us'")
    peng.execute("DELETE FROM ev WHERE region = 'ap'")
    t = peng.catalog.table("ev")
    dirs = _region_dirs(t)
    assert dirs == {"region=eu", "region=us"}
    rows = {r.id: r.v for r in peng.execute("SELECT * FROM ev").collect()}
    assert rows == {1: 1.0, 2: 12.0, 3: 3.0}


def test_delete_all_rows_keeps_schema(peng):
    peng.execute("DELETE FROM ev")
    df = peng.execute("SELECT * FROM ev")
    assert df.columns == ["id", "region", "v"] and df.count() == 0
    # and the table is still writable afterwards
    peng.execute("INSERT INTO ev VALUES (9, 'eu', 9.0)")
    assert peng.execute("SELECT * FROM ev").count() == 1


def test_integer_partition_column_type(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "wh2"))
    e.execute(
        "CREATE TABLE m (id INT PRIMARY KEY, yr INT, x DOUBLE) "
        "PARTITIONED BY (yr)"
    )
    e.execute("INSERT INTO m VALUES (1, 2023, 0.5), (2, 2024, 1.5)")
    df = e.execute("SELECT * FROM m ORDER BY id")
    assert dict(df.dtypes)["yr"] == "int"  # not the inference default
    assert [r.yr for r in df.collect()] == [2023, 2024]


def test_show_create_table_renders_partitioning(peng):
    ddl = peng.execute("SHOW CREATE TABLE ev").collect()[0][1]
    # the value-layout spelling round-trips (PARTITION BY KEY is a
    # dropped distribution hint since round 10)
    assert "PARTITIONED BY (`region`)" in ddl


def test_ctas_partitioned(peng):
    peng.execute(
        "CREATE TABLE ev2 PARTITIONED BY (region) AS "
        "SELECT * FROM ev WHERE v >= 1.0"
    )
    t = peng.catalog.table("ev2")
    assert _region_dirs(t)
    df = peng.sql("SELECT id FROM ev2 WHERE region = 'eu'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert sorted(r.id for r in df.collect()) == [1, 3]


def test_optimize_preserves_partitioning(peng):
    peng.execute("OPTIMIZE ev")
    t = peng.catalog.table("ev")
    assert _region_dirs(t)
    df = peng.sql("SELECT id FROM ev WHERE region = 'eu'")
    assert "PartitionFilters" in (
        df._jdf.queryExecution().executedPlan().toString()
    )
    assert sorted(r.id for r in df.collect()) == [1, 3]


def test_update_pruned_rewrite_links_untouched_files(peng):
    """A predicate-pruned UPDATE rewrites ONLY the rows that match;
    every other data file stays live in the new version as the same
    file (same inode), not rewritten — the Delta-style unchanged-
    AddFile reuse."""
    t = peng.catalog.table("ev")
    v0 = t.version
    before = _inodes(t, v0)
    assert len(before) >= 3  # one file per region dir
    peng.execute("UPDATE ev SET v = v + 10 WHERE region = 'eu'")
    t = peng.catalog.table("ev")
    v1 = t.version
    assert v1 == v0 + 1
    after = _inodes(t, v1)
    carried = [f for f in after
               if f in before and after[f] == before[f]]
    rewritten = [f for f in after if f not in before]
    # untouched partitions (us, ap) carried over; eu rewritten
    assert any(f"{os.sep}region=us{os.sep}" in f for f in carried)
    assert any(f"{os.sep}region=ap{os.sep}" in f for f in carried)
    assert all(f"{os.sep}region=eu{os.sep}" in f for f in rewritten)
    assert len(rewritten) < len(before)
    # values correct
    rows = {r.id: r.v for r in
            peng.execute("SELECT id, v FROM ev ORDER BY id").collect()}
    assert rows == {1: 11.0, 2: 2.0, 3: 13.0, 4: 4.0}


def test_delete_pruned_rewrite(peng):
    t = peng.catalog.table("ev")
    v0 = t.version
    before = _inodes(t, v0)
    r = peng.execute("DELETE FROM ev WHERE region = 'us'")
    assert r.affected_rows == 1
    t = peng.catalog.table("ev")
    after = _inodes(t, t.version)
    carried = [f for f in after if f in before and after[f] == before[f]]
    assert any(f"{os.sep}region=eu{os.sep}" in f for f in carried)
    assert any(f"{os.sep}region=ap{os.sep}" in f for f in carried)
    assert not any(f"{os.sep}region=us{os.sep}" in f for f in after)
    assert sorted(
        r.id for r in peng.execute("SELECT id FROM ev").collect()
    ) == [1, 3, 4]


def test_update_of_partition_column_falls_back_to_full_rewrite(peng):
    """SET on a hive-partition column moves rows across partition
    directories: the moved row leaves its old file and is written
    under its new partition directory."""
    peng.execute("UPDATE ev SET region = 'eu' WHERE id = 2")
    rows = {r.id: r.region for r in
            peng.execute("SELECT id, region FROM ev").collect()}
    assert rows[2] == "eu"
    t = peng.catalog.table("ev")
    assert "region=us" not in _region_dirs(t)


def test_vacuum_after_pruned_rewrite_keeps_linked_data(peng):
    """VACUUM removes files only old versions reference; files the new
    version still references must survive."""
    peng.execute("UPDATE ev SET v = v + 1 WHERE region = 'eu'")
    t = peng.catalog.table("ev")
    removed = t.vacuum(keep_last=1)
    assert removed >= 1
    rows = {r.id: r.v for r in
            peng.execute("SELECT id, v FROM ev ORDER BY id").collect()}
    assert rows == {1: 2.0, 2: 2.0, 3: 4.0, 4: 4.0}
