"""Driver-side literal-key machinery behind INSERT validation and
ON DUPLICATE KEY UPDATE (round-11 optimization): for a literal VALUES
batch the intra-batch duplicate probe runs in Python, the stored-clash
check and the driver-resolved upsert tier's candidate fetch /
kept-filter become one literal membership scan. These tests pin the SEMANTICS that must survive the
optimization — canonical key equality (NULL / NaN / -0.0), error
precedence, fallback paths — plus the job-visible contract that the
Python probe is actually taken for literal batches.
"""

import pytest

from myduckserver_spark.engine import DuplicateKeyError, Engine


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


def test_intra_pk_duplicate_raises(engine):
    engine.execute("CREATE TABLE a (k BIGINT PRIMARY KEY, v DOUBLE)")
    with pytest.raises(DuplicateKeyError, match=r"a\.PRIMARY"):
        engine.execute("INSERT INTO a VALUES (1,1),(1,2)")


def test_stored_clash_raises_and_level_named(engine):
    engine.execute(
        "CREATE TABLE b (k BIGINT PRIMARY KEY, u VARCHAR(5), "
        "UNIQUE KEY uu (u))"
    )
    engine.execute("INSERT INTO b VALUES (1,'x')")
    with pytest.raises(DuplicateKeyError, match=r"b\.PRIMARY"):
        engine.execute("INSERT INTO b VALUES (1,'y')")
    with pytest.raises(DuplicateKeyError, match=r"b\.uu"):
        engine.execute("INSERT INTO b VALUES (2,'x')")


def test_error_precedence_pk_before_unique_intra(engine):
    # a stored PK clash (level 0) must win over a level-1 intra dup
    engine.execute(
        "CREATE TABLE f (k BIGINT PRIMARY KEY, u VARCHAR(5), "
        "UNIQUE KEY uu (u))"
    )
    engine.execute("INSERT INTO f VALUES (1,'a')")
    with pytest.raises(DuplicateKeyError, match=r"f\.PRIMARY"):
        engine.execute("INSERT INTO f VALUES (1,'b'),(9,'c'),(10,'c')")


def test_null_semantics(engine):
    # unique levels are null-exempt: NULL key parts never conflict
    engine.execute(
        "CREATE TABLE d (k BIGINT PRIMARY KEY, a BIGINT, b BIGINT, "
        "UNIQUE KEY uab (a,b))"
    )
    engine.execute("INSERT INTO d VALUES (1, 1, NULL)")
    engine.execute("INSERT INTO d VALUES (2, 1, NULL)")  # no conflict
    assert engine.sql("SELECT count(*) n FROM d").collect()[0].n == 2
    with pytest.raises(DuplicateKeyError, match=r"d\.uab"):
        engine.execute("INSERT INTO d VALUES (3, 1, 5), (4, 1, 5)")
    # ...but the canonical-JSON PK key groups NULL with NULL
    engine.execute("CREATE TABLE c (k BIGINT PRIMARY KEY, v DOUBLE)")
    with pytest.raises(DuplicateKeyError, match=r"c\.PRIMARY"):
        engine.execute("INSERT INTO c VALUES (NULL,1),(NULL,2)")
    engine.execute("INSERT INTO c VALUES (NULL, 1)")
    with pytest.raises(DuplicateKeyError, match=r"c\.PRIMARY"):
        engine.execute("INSERT INTO c VALUES (NULL, 2)")


def test_negative_zero_matches_positive_zero(engine):
    # -0.0 and +0.0 are the same key, intra-batch and vs stored
    engine.execute(
        "CREATE TABLE z (id BIGINT PRIMARY KEY, d DOUBLE, v DOUBLE, "
        "UNIQUE KEY ud (d))"
    )
    engine.execute("INSERT INTO z VALUES (1, 0.0, 5)")
    engine.execute(
        "INSERT INTO z VALUES (2, -0.0, 10), (3, 0.0, 20) "
        "ON DUPLICATE KEY UPDATE v = v + VALUES(v)"
    )
    rows = [(r.id, r.v) for r in engine.sql(
        "SELECT id, v FROM z ORDER BY id").collect()]
    assert rows == [(1, 35.0)]  # 5 + 10, then + 20, no inserts


def test_default_filled_key_column_chains(engine):
    # both rows take the same constant DEFAULT on the unique key ->
    # intra dup -> sequential tier chains them
    engine.execute(
        "CREATE TABLE t3 (id BIGINT PRIMARY KEY, u VARCHAR(5) "
        "DEFAULT 'x', v DOUBLE, UNIQUE KEY uu (u))"
    )
    engine.execute(
        "INSERT INTO t3 (id, v) VALUES (1, 1), (2, 2) "
        "ON DUPLICATE KEY UPDATE v = v + VALUES(v)"
    )
    rows = [tuple(r) for r in engine.sql("SELECT * FROM t3").collect()]
    assert rows == [(1, "x", 3.0)]


def test_big_batch_falls_back_to_distributed_probe(engine):
    # > _LITERAL_BATCH_CAP rows: join-based probe, same semantics
    engine.execute("CREATE TABLE g (k BIGINT PRIMARY KEY, v DOUBLE)")
    n = Engine._LITERAL_BATCH_CAP + 44
    vals = ",".join(f"({i},{i})" for i in range(n))
    engine.execute(f"INSERT INTO g VALUES {vals}")
    assert engine.sql("SELECT count(*) n FROM g").collect()[0].n == n
    with pytest.raises(DuplicateKeyError, match=r"g\.PRIMARY"):
        engine.execute(f"INSERT INTO g VALUES ({n - 1}, 0)")


def test_float32_key_column_keeps_join_path(engine):
    # FloatType keys are outside the round-trip-exact literal set:
    # the fallback must still enforce uniqueness correctly
    engine.execute(
        "CREATE TABLE ff (id BIGINT PRIMARY KEY, f FLOAT, v DOUBLE, "
        "UNIQUE KEY uf (f))"
    )
    engine.execute("INSERT INTO ff VALUES (1, 1.5, 10)")
    with pytest.raises(DuplicateKeyError, match=r"ff\.uf"):
        engine.execute("INSERT INTO ff VALUES (2, 1.5, 20)")
    engine.execute(
        "INSERT INTO ff VALUES (3, 1.5, 30) "
        "ON DUPLICATE KEY UPDATE v = VALUES(v)"
    )
    rows = [(r.id, r.v) for r in engine.sql(
        "SELECT id, v FROM ff ORDER BY id").collect()]
    assert rows == [(1, 30.0)]


def test_literal_batch_probe_runs_zero_jobs(spark, tmp_path):
    # the contract the optimization claims: a fresh-table literal
    # INSERT's intra-dup decision spawns no per-level probe jobs, and
    # validating the driver-side batch runs none either - the whole
    # statement (clash scan + write) stays at <= 3 Spark jobs (was ~7
    # with the distributed probe, 4 with a pickled batch). Only the
    # statement's own job group counts, so jobs other work submits
    # on the shared context meanwhile cannot flake it.
    e = Engine(spark, str(tmp_path / "wh2"))
    e.execute(
        "CREATE TABLE j (k BIGINT PRIMARY KEY, u VARCHAR(5), "
        "v DOUBLE, UNIQUE KEY uu (u))"
    )
    sc = spark.sparkContext
    sc.setJobGroup("literal_probe", "literal INSERT probe")
    try:
        e.execute("INSERT INTO j VALUES (1,'a',1), (2,'b',2), (3,'c',3)")
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("literal_probe")
    assert len(jobs) <= 3, (
        f"literal INSERT ran {len(jobs)} jobs; expected the "
        "driver-side probe + single clash scan path"
    )


def test_insert_select_on_dup_unaffected(engine):
    # SELECT-fed batches have no driver-known rows: full Spark path
    engine.execute("CREATE TABLE s1 (k BIGINT PRIMARY KEY, v DOUBLE)")
    engine.execute("CREATE TABLE s2 (k BIGINT PRIMARY KEY, v DOUBLE)")
    engine.execute("INSERT INTO s1 VALUES (1, 10), (2, 20)")
    engine.execute("INSERT INTO s2 VALUES (1, 1)")
    engine.execute(
        "INSERT INTO s2 SELECT k, v FROM s1 "
        "ON DUPLICATE KEY UPDATE v = VALUES(v)"
    )
    rows = [tuple(r) for r in engine.sql(
        "SELECT * FROM s2 ORDER BY k").collect()]
    assert rows == [(1, 10.0), (2, 20.0)]


def test_count_memo_invalidates_on_rebind(spark, tmp_path):
    # the per-(version, pointer-identity) row-count memo must never
    # serve a stale count across drop+recreate at a repeated version
    # number, nor across writes
    e = Engine(spark, str(tmp_path / "whc"))
    e.execute("CREATE TABLE m (k BIGINT PRIMARY KEY, v DOUBLE)")
    e.execute("INSERT INTO m VALUES (1,1),(2,2)")
    t = e.catalog.table("m")
    assert t.count() == 2
    assert t.count() == 2  # memo hit, same answer
    e.execute("INSERT INTO m VALUES (3,3)")
    assert e.catalog.table("m").count() == 3  # new version, new count
    e.execute("DROP TABLE m")
    e.execute("CREATE TABLE m (k BIGINT PRIMARY KEY, v DOUBLE)")
    e.execute("INSERT INTO m VALUES (9,9)")
    assert e.catalog.table("m").count() == 1  # rebound name, fresh
    e.execute("TRUNCATE TABLE m")
    assert e.catalog.table("m").count() == 0


def test_replace_ignore_affected_rows_with_memo(spark, tmp_path):
    # REPLACE/IGNORE affected-rows bookkeeping rides the memoized
    # counts; MySQL parity must hold across a chained sequence
    e = Engine(spark, str(tmp_path / "whr"))
    e.execute("CREATE TABLE r (k BIGINT PRIMARY KEY, v DOUBLE)")
    e.execute("INSERT INTO r VALUES (1,1),(2,2),(3,3)")
    rep = e.execute("REPLACE INTO r VALUES (2,20),(4,40)")
    # 2 inserted + 1 replaced existing -> 3
    assert rep.affected_rows == 3
    ign = e.execute("INSERT IGNORE INTO r VALUES (3,99),(5,50)")
    assert ign.affected_rows == 1  # only (5,50) lands
    rows = [tuple(x) for x in e.sql(
        "SELECT * FROM r ORDER BY k").collect()]
    assert rows == [(1, 1.0), (2, 20.0), (3, 3.0), (4, 40.0),
                    (5, 50.0)]
