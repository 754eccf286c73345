"""The driver-resolved upsert tier: a small literal VALUES batch under
ON DUPLICATE KEY UPDATE, ON CONFLICT … DO UPDATE [WHERE] and REPLACE is
resolved in Python over a pushed-down candidate scan and written
map-only, while INSERT … SELECT keeps the join-based tier. These tests
pin that both tiers agree (end state, affected rows, trigger images),
that stored values come from Spark's evaluation of the batch, that a
1-row upsert stays shuffle-free, and that UNIQUE keys added later
validate the stored rows the tier's key index relies on.
"""

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as hs

from myduckserver_spark.engine import DuplicateKeyError, Engine


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


# ------------------------------------------------- default-fill values


@pytest.mark.parametrize("stmt, dialect", [
    ("INSERT INTO {t} (id, v) {src}", "mysql"),
    ("INSERT INTO {t} (id, v) {src} ON DUPLICATE KEY UPDATE v = VALUES(v)",
     "mysql"),
    ("INSERT INTO {t} (id, v) {src2} ON DUPLICATE KEY UPDATE v = VALUES(v)",
     "mysql"),
    ("INSERT INTO {t} (id, v) {src} ON CONFLICT (id) DO UPDATE "
     "SET v = excluded.v", "postgres"),
    ("REPLACE INTO {t} (id, v) {src}", "mysql"),
], ids=["insert", "odku", "odku_dup_key", "on_conflict", "replace"])
def test_default_fill_matches_insert_select(engine, stmt, dialect):
    # Spark casts the string default 'FALSE' to false; a Python
    # bool('FALSE') would be True. The literal form must store what
    # the INSERT … SELECT form stores, also when the default sits on
    # a UNIQUE key the conflict check reads.
    for t in ("lit", "sel"):
        engine.execute(
            f"CREATE TABLE {t} (id BIGINT PRIMARY KEY, "
            "flag BOOLEAN DEFAULT 'FALSE', v INT, g BOOLEAN DEFAULT 'FALSE', "
            f"UNIQUE KEY {t}_g (g))")
        engine.execute(f"INSERT INTO {t} (id, flag, v, g) "
                       "VALUES (1, TRUE, 0, TRUE)")
    engine.execute(stmt.format(t="lit", src="VALUES (2, 2)",
                               src2="VALUES (2, 2), (2, 3)"),
                   dialect=dialect)
    engine.execute(stmt.format(
        t="sel", src="SELECT 2, 2",
        src2="SELECT 2, 2 UNION ALL SELECT 2, 3"), dialect=dialect)
    got = {t: sorted(tuple(r) for r in engine.sql(
        f"SELECT id, flag, v, g FROM {t}").collect()) for t in ("lit", "sel")}
    assert got["lit"] == got["sel"]
    assert (2, False) in {(r[0], r[1]) for r in got["lit"]}
    # a second default-filled row conflicts on the stored g = FALSE
    # key in both forms (ODKU updates it, plain INSERT rejects it)
    if "DUPLICATE" in stmt:
        for t in ("lit", "sel"):
            engine.execute(f"INSERT INTO {t} (id, v) VALUES (3, 30) "
                           "ON DUPLICATE KEY UPDATE v = VALUES(v)")
        assert sorted(tuple(r) for r in engine.sql(
            "SELECT id, v FROM lit").collect()) == sorted(
            tuple(r) for r in engine.sql("SELECT id, v FROM sel").collect())
    elif stmt.startswith("INSERT") and dialect == "mysql":
        with pytest.raises(DuplicateKeyError, match=r"lit\.lit_g"):
            engine.execute("INSERT INTO lit (id, v) VALUES (3, 30)")


# ------------------------------------------------ ADD UNIQUE validation


def test_add_unique_key_validates_existing_rows(engine):
    engine.execute("CREATE TABLE d (id BIGINT PRIMARY KEY, u BIGINT)")
    engine.execute("INSERT INTO d VALUES (1, 5), (2, 5), (3, NULL), (4, NULL)")
    with pytest.raises(DuplicateKeyError, match=r"'5' for key 'd\.d_u'"):
        engine.execute("ALTER TABLE d ADD UNIQUE KEY d_u (u)")
    with pytest.raises(DuplicateKeyError, match=r"d\.d_ix"):
        engine.execute("CREATE UNIQUE INDEX d_ix ON d (u)")
    assert engine.table_meta("d").indexes == {}
    # NULL key parts never conflict: the key is added once (1,5) goes
    engine.execute("DELETE FROM d WHERE id = 1")
    engine.execute("ALTER TABLE d ADD UNIQUE KEY d_u (u)")
    ddl = engine.execute("SHOW CREATE TABLE d").collect()[0][1]
    assert "d_u" in ddl


# ------------------------------------------------------- job-count pins


def _jobs_and_shuffle(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    shuffle = 0
    for j in jobs:
        for sid in tracker.getJobInfo(j).stageIds:
            try:
                shuffle += jsc.statusStore().lastStageAttempt(
                    sid).shuffleWriteBytes()
            except Exception:
                pass  # skipped stage: nothing ran, nothing written
    return len(jobs), shuffle


@pytest.mark.parametrize("kind", ["odku", "on_conflict", "replace"])
def test_one_row_upsert_is_shuffle_free(spark, engine, kind):
    # a 1-row upsert touches O(1) rows: a candidate scan and a
    # map-only write. The batch and the assignments are driver-side
    # local relations, so reading them back runs no job, and the
    # stored table is never shuffled (the join tier ran ~20 jobs here)
    engine.execute(
        "CREATE TABLE kv (id BIGINT PRIMARY KEY, uk BIGINT, v BIGINT, "
        "UNIQUE KEY kv_uk (uk))")
    engine.execute("INSERT INTO kv VALUES " + ", ".join(
        f"({i}, {i * 7}, {i})" for i in range(200)))
    sql, dialect = {
        "odku": ("INSERT INTO kv VALUES (5, 35, 9) ON DUPLICATE KEY "
                 "UPDATE v = VALUES(v)", "mysql"),
        "on_conflict": ("INSERT INTO kv VALUES (5, 35, 9) ON CONFLICT (id) "
                        "DO UPDATE SET v = excluded.v", "postgres"),
        "replace": ("REPLACE INTO kv VALUES (5, 35, 9)", "mysql"),
    }[kind]
    res = {}
    jobs, shuffle = _jobs_and_shuffle(
        spark, f"pin_{kind}",
        lambda: res.setdefault("r", engine.execute(sql, dialect=dialect)))
    if dialect == "mysql":
        assert res["r"].affected_rows == 2  # MySQL: 2 per changed row
    assert engine.sql("SELECT v FROM kv WHERE id = 5").collect()[0].v == 9
    assert jobs <= 2, f"{kind}: {jobs} Spark jobs"
    assert shuffle < 1024, f"{kind}: {shuffle} shuffle bytes written"


# ------------------------------- literal tier vs join tier (differential)

_IDS = hs.integers(0, 4)
_U = hs.one_of(hs.none(), hs.integers(0, 2))
_D = hs.sampled_from([None, 0.0, -0.0, float("nan"), 1.5])
_ROW = hs.tuples(_IDS, _U, _D, hs.integers(0, 9))
_KINDS = {
    "odku": ("INSERT INTO {t} {src} ON DUPLICATE KEY UPDATE "
             "v = v + VALUES(v)", "mysql"),
    "on_conflict": ("INSERT INTO {t} {src} ON CONFLICT (id) DO UPDATE "
                    "SET v = {t}.v + excluded.v", "postgres"),
    "on_conflict_where": ("INSERT INTO {t} {src} ON CONFLICT (id) DO "
                          "UPDATE SET v = excluded.v WHERE {t}.v < 5",
                          "postgres"),
    "replace": ("REPLACE INTO {t} {src}", "mysql"),
}


def _sql(v):
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "'NaN'"
    return repr(v)


def _values(rows):
    return "VALUES " + ", ".join(
        "(" + ", ".join(_sql(v) for v in r) + ")" for r in rows)


def _norm(rows):
    # repr keeps NaN comparable and -0.0 distinct from 0.0
    return sorted(tuple(repr(v) for v in r) for r in rows)


def _seed_rows(rows):
    """Drop rows that would repeat a stored key (id; u and d with NULL
    exempt, NaN = NaN, -0.0 = 0.0) so the seed is a valid table."""
    seen: set = set()
    out = []
    for r in rows:
        keys = [("id", r[0])]
        if r[1] is not None:
            keys.append(("u", r[1]))
        if r[2] is not None:
            keys.append(("d", "nan" if math.isnan(r[2]) else r[2] + 0.0))
        if not seen & set(keys):
            seen |= set(keys)
            out.append(r)
    return out


@pytest.fixture(scope="module")
def diff_engine(spark, tmp_path_factory):
    e = Engine(spark, str(tmp_path_factory.mktemp("updiff") / "wh"))
    e.execute("CREATE TABLE stg (seq INT, id BIGINT, u BIGINT, d DOUBLE, "
              "v BIGINT)")
    e.execute("CREATE TABLE aud (src VARCHAR(3), op VARCHAR(3), id BIGINT, "
              "u BIGINT, d DOUBLE, v_old BIGINT, v BIGINT)")
    for t in ("lit", "sel"):
        e.execute(f"CREATE TABLE {t} (id BIGINT NOT NULL PRIMARY KEY, "
                  f"u BIGINT, d DOUBLE, v BIGINT, UNIQUE KEY {t}_d (d), "
                  f"UNIQUE KEY {t}_u (u))")
        e.execute(f"CREATE TRIGGER {t}_ai AFTER INSERT ON {t} FOR EACH ROW "
                  f"INSERT INTO aud VALUES ('{t}', 'ins', NEW.id, NEW.u, "
                  "NEW.d, NULL, NEW.v)")
        e.execute(f"CREATE TRIGGER {t}_au AFTER UPDATE ON {t} FOR EACH ROW "
                  f"INSERT INTO aud VALUES ('{t}', 'upd', OLD.id, OLD.u, "
                  "OLD.d, OLD.v, NEW.v)")
    return e


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=hs.lists(_ROW, max_size=4), batch=hs.lists(_ROW, min_size=1,
                                                       max_size=8),
       kind=hs.sampled_from(sorted(_KINDS)))
# a NaN unique key matching a stored NaN: NaN is a key value that
# conflicts, never exempt like NULL
@example(seed=[(1, None, float("nan"), 0)],
         batch=[(0, None, float("nan"), 0)], kind="odku")
def test_literal_tier_matches_join_tier(diff_engine, seed, batch, kind):
    e = diff_engine
    for t in ("lit", "sel", "stg", "aud"):
        e.execute(f"TRUNCATE TABLE {t}")
    seed = _seed_rows(seed)
    if seed:
        for t in ("lit", "sel"):
            e.execute(f"INSERT INTO {t} {_values(seed)}")
        e.execute("TRUNCATE TABLE aud")
    # the SELECT form feeds the same rows in the same (ordered) sequence
    staged = [(i,) + r for i, r in enumerate(batch)]
    e.execute(f"INSERT INTO stg {_values(staged)}")
    text, dialect = _KINDS[kind]
    out = {}
    for t, src in (("lit", _values(batch)),
                   ("sel", "SELECT id, u, d, v FROM stg ORDER BY seq")):
        try:
            res = e.execute(text.format(t=t, src=src), dialect=dialect)
            out[t] = ("ok", res.affected_rows)
        except (NotImplementedError, DuplicateKeyError) as ex:
            out[t] = ("error", type(ex).__name__)
    assert out["lit"] == out["sel"], (kind, seed, batch)
    if out["lit"][0] == "error":
        return
    state = {t: _norm(e.sql(f"SELECT id, u, d, v FROM {t}").collect())
             for t in ("lit", "sel")}
    assert state["lit"] == state["sel"], (kind, seed, batch)
    audit = {t: _norm(e.sql(
        f"SELECT op, id, u, d, v_old, v FROM aud WHERE src = '{t}'"
    ).collect()) for t in ("lit", "sel")}
    assert audit["lit"] == audit["sel"], (kind, seed, batch)
