"""optimize() / optimize_table(): the data-skipping analog of the
reference's ART indexes (SURVEY.md §1.1 — Spark has no secondary
indexes; clustered files + parquet min/max stats are the equivalent).

Assertions read the actual parquet footers: clustering is only real if
the per-file statistics are disjoint enough to skip files.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from myduckserver_spark.catalog import Catalog


def _file_ranges(t, col: str):
    """[(min, max)] of `col` per live parquet file, from footer stats."""
    out = []
    for path in [os.path.join(t.dir, p) for p in t.live_files()]:
        md = pq.ParquetFile(path).metadata
        idx = md.schema.names.index(col)
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            assert st is not None and st.has_min_max
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        out.append((lo, hi))
    return out


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "wh"))


def test_linear_optimize_disjoint_file_ranges(spark, cat):
    df = spark.range(0, 20000).select(
        F.col("id").alias("k"),
        (F.col("id") * 37 % 20000).alias("v"),
    )
    # write unclustered on v (files overlap on v before optimize).
    # sized=False: the fixture needs a multi-file layout; the default
    # bytes-based write sizing would coalesce this tiny table to 1 file
    t = cat.table("opt_lin")
    t.overwrite(df.repartition(8), sized=False)
    before = _file_ranges(t, "v")
    assert len(before) > 1
    overlap_before = sum(
        1
        for i, (lo, hi) in enumerate(before)
        for lo2, hi2 in before[i + 1 :]
        if lo <= hi2 and lo2 <= hi
    )
    assert overlap_before > 0, "fixture not overlapping; test is vacuous"

    cat.optimize_table("opt_lin", ["v"], target_files=8)
    after = _file_ranges(t, "v")
    assert len(after) > 1
    # every pair of files disjoint on v → a point read touches 1 file
    for i, (lo, hi) in enumerate(after):
        for lo2, hi2 in after[i + 1 :]:
            assert hi < lo2 or hi2 < lo, (after[i], (lo2, hi2))

    # data preserved
    got = t.read().agg(F.count("*"), F.sum("v")).first()
    assert got[0] == 20000 and got[1] == df.agg(F.sum("v")).first()[0]


def test_zorder_localizes_both_columns(spark, cat):
    n = 40000
    df = spark.range(0, n).select(
        (F.col("id") % 200).alias("x"),
        (F.col("id") * 7919 % 200).alias("y"),
        F.col("id").alias("payload"),
    )
    t = cat.create_table("opt_z", df.repartition(8))
    cat.optimize_table("opt_z", ["x", "y"], zorder=True, target_files=16)

    rx = _file_ranges(t, "x")
    ry = _file_ranges(t, "y")
    assert len(rx) >= 8
    full_area = 200 * 200
    areas = [
        (hx - lx + 1) * (hy - ly + 1)
        for (lx, hx), (ly, hy) in zip(rx, ry)
    ]
    # every file's bounding box must be a localized patch, not a slab
    # covering one full dimension (what a linear sort on x would give)
    assert max(areas) <= full_area / 2
    assert sum(areas) / len(areas) <= full_area / 4

    assert t.read().count() == n


def test_optimize_is_a_new_snapshot(spark, cat):
    df = spark.range(0, 100).select(F.col("id").alias("a"))
    t = cat.create_table("opt_v", df)
    v0 = t.version
    cat.optimize_table("opt_v", ["a"], target_files=2)
    assert t.version == v0 + 1
    assert t.read().count() == 100


def test_vacuum_retention(spark, tmp_path):
    """VACUUM t [RETAIN n VERSIONS]: data files no retained version
    references are removed; the committed version's files (and those
    of its N-1 predecessors) survive."""
    import os

    from myduckserver_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh_vac"))
    e.execute("CREATE TABLE v (id INT PRIMARY KEY, x DOUBLE)")
    e.execute("INSERT INTO v (id, x) VALUES (0, 0.5), (1, 1.5), (2, 2.5), "
              "(3, 3.5)")
    # each UPDATE touches every row, so it replaces the one live file
    for _ in range(4):
        e.execute("UPDATE v SET x = x + 1")
    t = e.catalog.table("v")
    ddirs = lambda: sorted(d for d in os.listdir(t.dir) if d.startswith("d"))
    vdir = lambda v: {p.split(os.sep)[0] for p in t.live_files(v)}
    assert len(ddirs()) == 5  # the INSERT's and four UPDATEs' files
    r = e.execute("VACUUM v RETAIN 2 VERSIONS")
    assert r.affected_rows == 3
    assert ddirs() == sorted(vdir(t.version - 1) | vdir(t.version))
    assert len(ddirs()) == 2
    # table still reads fine; full vacuum keeps only the committed one
    assert e.sql("SELECT count(*) AS n FROM v").collect()[0].n == 4
    e.execute("VACUUM v")
    assert ddirs() == sorted(vdir(t.version))
    assert e.sql("SELECT count(*) AS n FROM v").collect()[0].n == 4


def test_time_travel_version_as_of(spark, tmp_path):
    """SELECT ... FROM t VERSION AS OF n reads the historical snapshot
    (Delta-style time travel over the versioned-pointer catalog)."""
    import pytest

    from myduckserver_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh_tt"))
    e.execute("CREATE TABLE h (id INT PRIMARY KEY, x DOUBLE)")
    e.execute("INSERT INTO h (id, x) VALUES (1, 1.0)")      # v1
    e.execute("UPDATE h SET x = 99.0 WHERE id = 1")          # v2
    e.execute("INSERT INTO h (id, x) VALUES (2, 2.0)")      # v3
    now = [(r.id, r.x) for r in e.sql("SELECT * FROM h ORDER BY id").collect()]
    assert now == [(1, 99.0), (2, 2.0)]
    v1 = [(r.id, r.x) for r in e.sql(
        "SELECT * FROM h VERSION AS OF 1 ORDER BY id").collect()]
    assert v1 == [(1, 1.0)]
    v2 = [(r.id, r.x) for r in e.sql(
        "SELECT id, x FROM h VERSION AS OF 2 ORDER BY id").collect()]
    assert v2 == [(1, 99.0)]
    # vacuumed versions are a clear error
    e.execute("VACUUM h")
    with pytest.raises(FileNotFoundError, match="VACUUM"):
        e.sql("SELECT * FROM h VERSION AS OF 1")


def test_snapshot_write_sizing(spark, cat):
    """Bytes-based write sizing (r10): a small snapshot coalesces to
    one file regardless of upstream partitioning; sized=False (the
    OPTIMIZE/Z-order layout path) preserves the explicit partitioning."""
    df = spark.range(0, 1000, 1, 8).selectExpr(
        "id AS k", "cast(id AS double) AS v"
    )
    t = cat.create_table("sz_small", df)
    files = t.live_files()
    assert len(files) == 1, files
    assert t.read().count() == 1000

    t2 = cat.table("sz_explicit")
    t2.overwrite(df.repartition(8), sized=False)
    files2 = t2.live_files()
    assert len(files2) == 8, files2
    assert t2.read().count() == 1000
