"""SQL statement front door: engine.execute() routes MySQL-dialect
DDL/DML/SHOW/SET text the way the reference's DuckBuilder dispatches
plan nodes (reference: backend/executor.go:74-165; statement surface
from the conformance corpus, main_test.go TestCreateTable :1093,
TestInsertInto :840, TestReplaceInto :938, TestUpdate :948,
TestDeleteFrom :989, TestAlterTable :2116, TestTruncate :984)."""

import pytest

from myduckserver_spark.engine import Engine, OkResult
from myduckserver_spark.statements import parse_statement, split_statements


@pytest.fixture()
def engine(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "wh"))
    e.execute(
        """
        CREATE TABLE users (
            id INT AUTO_INCREMENT PRIMARY KEY,
            name VARCHAR(50) NOT NULL,
            age INT DEFAULT 18,
            balance DOUBLE DEFAULT 0.0,
            CHECK (age >= 0)
        )
        """
    )
    return e


def test_create_insert_select_roundtrip(engine):
    r = engine.execute(
        "INSERT INTO users (name, age) VALUES ('ann', 30), ('bob', DEFAULT)"
    )
    assert isinstance(r, OkResult)
    assert r.affected_rows == 2
    assert r.last_insert_id == 1  # auto-increment started at 1

    rows = {r.name: (r.id, r.age, r.balance)
            for r in engine.execute("SELECT * FROM users").collect()}
    assert rows["ann"] == (1, 30, 0.0)
    assert rows["bob"] == (2, 18, 0.0)  # DEFAULT keyword + column default


def test_insert_full_tuple_and_strings_with_quotes(engine):
    engine.execute(
        "INSERT INTO users VALUES (10, 'o''hara', 40, 1.5)"
    )
    row = engine.execute("SELECT * FROM users WHERE id = 10").collect()[0]
    assert row.name == "o'hara" and row.balance == 1.5


def test_update_delete_where(engine):
    engine.execute("INSERT INTO users (name, age) VALUES ('a', 1), ('b', 2), ('c', 3)")
    r = engine.execute("UPDATE users SET age = age * 10 WHERE age >= 2")
    assert r.affected_rows == 2
    ages = sorted(r.age for r in engine.execute("SELECT age FROM users").collect())
    assert ages == [1, 20, 30]

    r = engine.execute("DELETE FROM users WHERE age = 20")
    assert r.affected_rows == 1
    assert engine.execute("SELECT COUNT(*) AS n FROM users").collect()[0].n == 2


def test_replace_and_insert_ignore_by_pk(engine):
    engine.execute("INSERT INTO users VALUES (1, 'old', 5, 0.0)")
    engine.execute("REPLACE INTO users VALUES (1, 'new', 6, 0.0)")
    assert engine.execute(
        "SELECT name FROM users WHERE id = 1").collect()[0].name == "new"

    r = engine.execute("INSERT IGNORE INTO users VALUES (1, 'ignored', 7, 0.0)")
    assert r.affected_rows == 0
    assert engine.execute(
        "SELECT name FROM users WHERE id = 1").collect()[0].name == "new"


def test_check_and_not_null_enforced(engine):
    with pytest.raises(ValueError, match="age"):
        engine.execute("INSERT INTO users (name, age) VALUES ('bad', -1)")
    with pytest.raises(ValueError, match="not_null"):
        engine.execute("INSERT INTO users (name, age) VALUES (NULL, 3)")
    # INSERT IGNORE drops the violating rows instead of failing
    r = engine.execute(
        "INSERT IGNORE INTO users (name, age) VALUES ('ok', 1), ('bad', -2)"
    )
    assert r.affected_rows == 1


def test_alter_family_via_sql(engine):
    engine.execute("INSERT INTO users (name) VALUES ('x')")
    engine.execute("ALTER TABLE users ADD COLUMN city VARCHAR(20) DEFAULT 'nyc'")
    assert engine.execute(
        "SELECT city FROM users").collect()[0].city == "nyc"
    engine.execute("ALTER TABLE users RENAME COLUMN city TO town")
    engine.execute("ALTER TABLE users MODIFY COLUMN age BIGINT")
    assert dict(engine.catalog.table("users").read().dtypes)["age"] == "bigint"
    engine.execute("ALTER TABLE users CHANGE COLUMN town region VARCHAR(30)")
    assert "region" in engine.catalog.table("users").read().columns
    engine.execute("ALTER TABLE users DROP COLUMN region")
    assert "region" not in engine.catalog.table("users").read().columns


def test_ctas_insert_select_truncate(engine):
    engine.execute("INSERT INTO users (name, age) VALUES ('a', 1), ('b', 2)")
    r = engine.execute("CREATE TABLE adults AS SELECT * FROM users WHERE age >= 2")
    assert r.affected_rows == 1
    engine.execute("INSERT INTO adults SELECT * FROM users WHERE age = 1")
    assert engine.execute("SELECT COUNT(*) AS n FROM adults").collect()[0].n == 2
    r = engine.execute("TRUNCATE TABLE adults")
    assert r.affected_rows == 2
    assert engine.execute("SELECT COUNT(*) AS n FROM adults").collect()[0].n == 0


def test_rename_drop_table(engine):
    engine.execute("RENAME TABLE users TO people")
    assert engine.catalog.list_tables() == ["people"]
    engine.execute("DROP TABLE people")
    assert engine.catalog.list_tables() == []
    assert engine.execute("DROP TABLE IF EXISTS people").info == "no such table"
    with pytest.raises(ValueError, match="no such table"):
        engine.execute("DROP TABLE people")


def test_show_tables_columns_create(engine):
    engine.execute("CREATE TABLE IF NOT EXISTS users (x INT)")  # no-op
    names = [r[0] for r in engine.execute("SHOW TABLES").collect()]
    assert names == ["users"]
    assert engine.execute("SHOW TABLES LIKE 'us%'").count() == 1
    assert engine.execute("SHOW TABLES LIKE 'zz%'").count() == 0

    cols = {r.Field: r for r in engine.execute("SHOW COLUMNS FROM users").collect()}
    assert cols["id"].Key == "PRI" and cols["id"].Extra == "auto_increment"
    assert cols["name"].Null == "NO"
    assert cols["age"].Default == "18"

    ddl = engine.execute("SHOW CREATE TABLE users").collect()[0][1]
    assert "AUTO_INCREMENT" in ddl and "PRIMARY KEY (`id`)" in ddl
    assert "CHECK" in ddl


def test_set_show_variables_use_db(engine):
    engine.execute("SET @@max_connections = 100")
    vals = {r.Variable_name: r.Value
            for r in engine.execute("SHOW VARIABLES LIKE 'max%'").collect()}
    assert vals == {"max_connections": "100"}

    engine.execute("CREATE DATABASE analytics")
    engine.execute("USE analytics")
    engine.execute("CREATE TABLE t2 (a INT)")
    assert engine.catalog.list_tables() == ["t2"]
    engine.execute("USE main")
    assert engine.catalog.list_tables() == ["users"]
    engine.execute("DROP DATABASE analytics")
    with pytest.raises(ValueError, match="unknown database"):
        engine.execute("USE analytics")


def test_use_rebinds_same_name_same_version(engine):
    # `t` exists in both databases at the same version; after switching
    # away and back, the name must read the current database's table
    engine.execute("CREATE TABLE t (id INT, src VARCHAR(8))")
    engine.execute("INSERT INTO t VALUES (1, 'main')")
    engine.execute("CREATE DATABASE other")
    engine.execute("USE other")
    engine.execute("CREATE TABLE t (id INT, src VARCHAR(8))")
    engine.execute("INSERT INTO t VALUES (2, 'other')")
    assert [tuple(r) for r in engine.execute(
        "SELECT * FROM t").collect()] == [(2, "other")]
    engine.execute("USE main")
    assert [tuple(r) for r in engine.execute(
        "SELECT * FROM t").collect()] == [(1, "main")]


def test_transactions_rollback_and_commit(engine):
    engine.execute("INSERT INTO users (name) VALUES ('keep')")

    # rollback undoes DML and in-txn CREATE TABLE
    engine.execute("BEGIN")
    engine.execute("INSERT INTO users (name) VALUES ('gone')")
    engine.execute("UPDATE users SET age = 99 WHERE name = 'keep'")
    engine.execute("CREATE TABLE scratch (x INT)")
    engine.execute("ROLLBACK")
    rows = {r.name: r.age for r in engine.execute("SELECT * FROM users").collect()}
    assert rows == {"keep": 18}
    assert "scratch" not in engine.catalog.list_tables()

    # commit keeps everything
    engine.execute("BEGIN")
    engine.execute("INSERT INTO users (name) VALUES ('kept2')")
    engine.execute("COMMIT")
    assert engine.execute("SELECT COUNT(*) AS n FROM users").collect()[0].n == 2

    # rollback without begin is a no-op
    assert "no open" in engine.execute("ROLLBACK").info


def test_multi_statement_script(engine):
    out = engine.execute(
        """
        INSERT INTO users (name) VALUES ('s1');  -- comment survives split
        INSERT INTO users (name) VALUES ('s2; still one literal');
        SELECT COUNT(*) AS n FROM users
        """
    )
    assert isinstance(out, list) and len(out) == 3
    assert out[2].collect()[0].n == 2


def test_parser_edge_cases():
    assert split_statements("SELECT ';' AS x; SELECT 2") == [
        "SELECT ';' AS x", "SELECT 2"]
    s = parse_statement(
        "INSERT INTO `t` (`a`, b) VALUES (1, 'it''s'), (NULL, \"q\")"
    )
    assert s.columns == ["a", "b"]
    assert s.rows == [[1, "it's"], [None, "q"]]
    q = parse_statement("WITH c AS (SELECT 1) SELECT * FROM c")
    assert q.sql.startswith("WITH")


def test_generated_columns_and_on_update(spark, tmp_path):
    from myduckserver_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh2"))
    e.execute(
        """
        CREATE TABLE m (
            a INT,
            b INT,
            total INT GENERATED ALWAYS AS (a + b) STORED,
            touched INT DEFAULT 0 ON UPDATE 1
        )
        """
    )
    # generated col is computed even when the INSERT supplies a value
    e.execute("INSERT INTO m (a, b) VALUES (1, 2), (10, 20)")
    e.execute("INSERT INTO m VALUES (5, 5, 999, 0)")
    rows = {r.a: (r.total, r.touched)
            for r in e.execute("SELECT * FROM m").collect()}
    assert rows == {1: (3, 0), 10: (30, 0), 5: (10, 0)}

    # ON UPDATE fires only for touched rows; generated col follows
    e.execute("UPDATE m SET b = 100 WHERE a = 1")
    rows = {r.a: (r.b, r.total, r.touched)
            for r in e.execute("SELECT * FROM m").collect()}
    assert rows[1] == (100, 101, 1)
    assert rows[10] == (20, 30, 0)

    ddl = e.execute("SHOW CREATE TABLE m").collect()[0][1]
    assert "total" in ddl


def test_views_and_indexes(spark, tmp_path):
    from myduckserver_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh3"))
    e.execute("CREATE TABLE base (id INT PRIMARY KEY, v DOUBLE)")
    e.execute("INSERT INTO base VALUES (1, 1.0), (2, 4.0), (3, 9.0)")

    e.execute("CREATE VIEW big AS SELECT * FROM base WHERE v >= 4.0")
    assert e.execute("SELECT COUNT(*) AS n FROM big").collect()[0].n == 2
    # view-on-view and OR REPLACE
    e.execute("CREATE VIEW bigger AS SELECT * FROM big WHERE v > 4.0")
    assert e.execute("SELECT id FROM bigger").collect()[0].id == 3
    e.execute("CREATE OR REPLACE VIEW big AS SELECT * FROM base WHERE v >= 9.0")
    assert e.execute("SELECT COUNT(*) AS n FROM big").collect()[0].n == 1
    with pytest.raises(ValueError, match="view exists"):
        e.execute("CREATE VIEW big AS SELECT 1")
    # views appear in SHOW TABLES (MySQL behavior)
    names = [r[0] for r in e.execute("SHOW TABLES").collect()]
    assert set(names) == {"base", "big", "bigger"}

    e.execute("DROP VIEW bigger")
    e.execute("DROP VIEW IF EXISTS bigger")
    with pytest.raises(ValueError, match="no such view"):
        e.execute("DROP VIEW bigger")

    # index DDL is metadata-only but SHOW INDEXES reflects it
    e.execute("CREATE UNIQUE INDEX idx_v ON base (v)")
    idx = {(r.Key_name, r.Column_name): r.Non_unique
           for r in e.execute("SHOW INDEXES FROM base").collect()}
    assert idx[("PRIMARY", "id")] == 0
    assert idx[("idx_v", "v")] == 0
    e.execute("DROP INDEX idx_v ON base")
    assert all(r.Key_name != "idx_v"
               for r in e.execute("SHOW INDEXES FROM base").collect())


def test_insert_on_duplicate_key_update(spark, tmp_path):
    from myduckserver_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh4"))
    e.execute("CREATE TABLE counters (k VARCHAR(10) PRIMARY KEY, cnt INT)")
    r = e.execute(
        "INSERT INTO counters VALUES ('a', 1), ('b', 10) "
        "ON DUPLICATE KEY UPDATE cnt = cnt + VALUES(cnt)"
    )
    assert r.affected_rows == 2  # two plain inserts

    r = e.execute(
        "INSERT INTO counters VALUES ('a', 5), ('c', 100) "
        "ON DUPLICATE KEY UPDATE cnt = cnt + VALUES(cnt)"
    )
    assert r.affected_rows == 3  # 1 insert + 1 update (counts as 2)
    rows = {r.k: r.cnt for r in e.execute("SELECT * FROM counters").collect()}
    assert rows == {"a": 6, "b": 10, "c": 100}

    # assignment can also just take the new value
    e.execute(
        "INSERT INTO counters VALUES ('b', 77) "
        "ON DUPLICATE KEY UPDATE cnt = VALUES(cnt)"
    )
    rows = {r.k: r.cnt for r in e.execute("SELECT * FROM counters").collect()}
    assert rows["b"] == 77


@pytest.fixture()
def shop(spark, tmp_path):
    """Two related tables for subquery / multi-table DML
    (reference: TestUpdate join+subquery cases main_test.go:948,
    TestDeleteFrom main_test.go:989)."""
    from myduckserver_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh_shop"))
    e.execute(
        "CREATE TABLE cust (id INT PRIMARY KEY, name VARCHAR(20), tier VARCHAR(10))"
    )
    e.execute(
        "CREATE TABLE ord (oid INT PRIMARY KEY, cid INT, amount DOUBLE, "
        "status VARCHAR(10))"
    )
    e.execute(
        "INSERT INTO cust VALUES (1,'ann','basic'),(2,'bob','basic'),(3,'cat','basic')"
    )
    e.execute(
        "INSERT INTO ord VALUES (10,1,500.0,'open'),(11,1,80.0,'open'),"
        "(12,2,20.0,'open'),(13,9,5.0,'open')"
    )
    return e


def test_update_where_in_subquery(shop):
    r = shop.execute(
        "UPDATE cust SET tier = 'vip' "
        "WHERE id IN (SELECT cid FROM ord WHERE amount > 100)"
    )
    assert r.affected_rows == 1
    rows = {r.id: r.tier for r in shop.execute("SELECT * FROM cust").collect()}
    assert rows == {1: "vip", 2: "basic", 3: "basic"}


def test_update_set_correlated_scalar_subquery(shop):
    shop.execute("ALTER TABLE cust ADD COLUMN spent DOUBLE")
    r = shop.execute(
        "UPDATE cust SET spent = "
        "(SELECT COALESCE(SUM(amount), 0) FROM ord WHERE ord.cid = cust.id)"
    )
    assert r.affected_rows == 3
    rows = {r.id: r.spent for r in shop.execute("SELECT * FROM cust").collect()}
    assert rows == {1: 580.0, 2: 20.0, 3: 0.0}


def test_delete_where_not_exists_subquery(shop):
    r = shop.execute(
        "DELETE FROM cust WHERE NOT EXISTS "
        "(SELECT 1 FROM ord WHERE ord.cid = cust.id)"
    )
    assert r.affected_rows == 1  # cat has no orders
    assert sorted(r.id for r in shop.execute("SELECT * FROM cust").collect()) == [1, 2]


def test_update_multi_table_join(shop):
    r = shop.execute(
        "UPDATE ord o JOIN cust c ON o.cid = c.id "
        "SET o.status = 'known' WHERE c.name <> 'cat'"
    )
    assert r.affected_rows == 3  # order 13 has no customer
    rows = {r.oid: r.status for r in shop.execute("SELECT * FROM ord").collect()}
    assert rows == {10: "known", 11: "known", 12: "known", 13: "open"}


def test_delete_multi_table_join(shop):
    # delete orders whose customer no longer exists ("orphans")
    r = shop.execute(
        "DELETE o FROM ord o LEFT JOIN cust c ON o.cid = c.id WHERE c.id IS NULL"
    )
    assert r.affected_rows == 1
    assert sorted(r.oid for r in shop.execute("SELECT * FROM ord").collect()) == [
        10, 11, 12,
    ]


def test_delete_using_form(shop):
    r = shop.execute(
        "DELETE FROM ord USING ord JOIN cust ON ord.cid = cust.id "
        "WHERE cust.name = 'bob'"
    )
    assert r.affected_rows == 1
    assert sorted(r.oid for r in shop.execute("SELECT * FROM ord").collect()) == [
        10, 11, 13,
    ]


def test_where_split_ignores_subquery_where():
    s = parse_statement(
        "UPDATE t SET c = (SELECT max(x) FROM u WHERE u.k = 1) WHERE id = 2"
    )
    assert s.assignments == {"c": "(SELECT max(x) FROM u WHERE u.k = 1)"}
    assert s.where == "id = 2"
    s2 = parse_statement(
        "DELETE FROM t WHERE id IN (SELECT k FROM u WHERE v > 3)"
    )
    assert s2.where == "id IN (SELECT k FROM u WHERE v > 3)"
    assert s2.from_text is None


def test_cte_parse_splits_prologue():
    s = parse_statement(
        "WITH big AS (SELECT cid FROM ord WHERE amount > 100) "
        "UPDATE cust SET tier = 'vip' WHERE id IN (SELECT cid FROM big)"
    )
    assert s.cte == "WITH big AS (SELECT cid FROM ord WHERE amount > 100)"
    assert s.table == "cust"
    assert s.where == "id IN (SELECT cid FROM big)"
    # plain WITH...SELECT still routes as a query
    q = parse_statement("WITH x AS (SELECT 1 AS a) SELECT * FROM x")
    assert type(q).__name__ == "Query"


def test_cte_update(shop):
    r = shop.execute(
        "WITH big AS (SELECT cid FROM ord WHERE amount > 100) "
        "UPDATE cust SET tier = 'vip' WHERE id IN (SELECT cid FROM big)"
    )
    assert r.affected_rows == 1
    rows = {r.id: r.tier for r in shop.execute("SELECT * FROM cust").collect()}
    assert rows == {1: "vip", 2: "basic", 3: "basic"}


def test_cte_delete(shop):
    r = shop.execute(
        "WITH known AS (SELECT id FROM cust) "
        "DELETE FROM ord WHERE cid NOT IN (SELECT id FROM known)"
    )
    assert r.affected_rows == 1  # order 13's customer 9 is unknown
    assert sorted(r.oid for r in shop.execute("SELECT * FROM ord").collect()) == [
        10, 11, 12,
    ]


def test_cte_delete_multi_table(shop):
    r = shop.execute(
        "WITH vip AS (SELECT id FROM cust WHERE name = 'ann') "
        "DELETE o FROM ord o JOIN vip ON o.cid = vip.id"
    )
    assert r.affected_rows == 2
    assert sorted(r.oid for r in shop.execute("SELECT * FROM ord").collect()) == [
        12, 13,
    ]


def test_match_against_shim(spark, tmp_path):
    """MATCH(col) AGAINST('terms') → token-overlap relevance
    (fulltext fallback; reference TestFulltextIndexes is GMS-side)."""
    from myduckserver_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh_ft"))
    eng.execute("CREATE TABLE ft (id INT, body TEXT)")
    eng.execute(
        "INSERT INTO ft VALUES (1, 'big data training run'),"
        " (2, 'cats and dogs'), (3, 'model eval data')"
    )
    rows = eng.sql(
        "SELECT id FROM ft WHERE MATCH(body) AGAINST('data model training')"
        " > 1 ORDER BY id",
        dialect="mysql",
    ).collect()
    assert [r.id for r in rows] == [1, 3]


def test_group_concat_variants(spark, tmp_path):
    from myduckserver_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh_gc"))
    eng.execute("CREATE TABLE gc (g INT, v VARCHAR(10), o INT)")
    eng.execute(
        "INSERT INTO gc VALUES (1,'b',2), (1,'a',3), (1,'b',1), (2,'z',1)"
    )
    r = eng.sql(
        "SELECT g, GROUP_CONCAT(DISTINCT v) AS s FROM gc GROUP BY g ORDER BY g",
        dialect="mysql",
    ).collect()
    assert [(x.g, x.s) for x in r] == [(1, "a,b"), (2, "z")]

    r2 = eng.sql(
        "SELECT g, GROUP_CONCAT(v ORDER BY v SEPARATOR '|') AS s"
        " FROM gc GROUP BY g ORDER BY g",
        dialect="mysql",
    ).collect()
    assert [(x.g, x.s) for x in r2] == [(1, "a|b|b"), (2, "z")]

    r3 = eng.sql(
        "SELECT g, GROUP_CONCAT(v ORDER BY o) AS s FROM gc GROUP BY g"
        " ORDER BY g",
        dialect="mysql",
    ).collect()
    assert [(x.g, x.s) for x in r3] == [(1, "b,b,a"), (2, "z")]

    r4 = eng.sql(
        "SELECT g, GROUP_CONCAT(v ORDER BY o DESC) AS s FROM gc GROUP BY g"
        " ORDER BY g",
        dialect="mysql",
    ).collect()
    assert [(x.g, x.s) for x in r4] == [(1, "a,b,b"), (2, "z")]


def test_insert_on_conflict_pg(spark, tmp_path):
    """Postgres/DuckDB ON CONFLICT surface (reference: pg front door
    passthrough, pgserver/connection_handler.go): DO NOTHING maps to
    IGNORE semantics, DO UPDATE with excluded.col maps to the
    ON DUPLICATE upsert path."""
    from myduckserver_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "whoc"))
    e.execute("CREATE TABLE kv (k VARCHAR(10) PRIMARY KEY, v INT)")
    e.execute("INSERT INTO kv VALUES ('a', 1), ('b', 2)")

    # DO NOTHING: conflicting row is skipped, new row lands
    r = e.execute(
        "INSERT INTO kv VALUES ('a', 99), ('c', 3) ON CONFLICT DO NOTHING",
        dialect="postgres",
    )
    assert r.affected_rows == 1
    rows = {r.k: r.v for r in e.execute("SELECT * FROM kv").collect()}
    assert rows == {"a": 1, "b": 2, "c": 3}

    # DO UPDATE: excluded.v is the incoming row, bare v the current one
    e.execute(
        "INSERT INTO kv VALUES ('a', 10), ('d', 4) "
        "ON CONFLICT (k) DO UPDATE SET v = v + excluded.v",
        dialect="postgres",
    )
    rows = {r.k: r.v for r in e.execute("SELECT * FROM kv").collect()}
    assert rows == {"a": 11, "b": 2, "c": 3, "d": 4}

    # explicit conflict target must be the upsert key
    import pytest as _pytest

    with _pytest.raises(ValueError, match="must match the"):
        e.execute(
            "INSERT INTO kv VALUES ('x', 1) "
            "ON CONFLICT (v) DO UPDATE SET v = excluded.v",
            dialect="postgres",
        )


def test_txn_rollback_restores_dropped_table(engine):
    """DROP TABLE inside a transaction is undone by ROLLBACK
    (reference bridges full txns, backend/session.go:87-143)."""
    engine.execute("INSERT INTO users (name, age) VALUES ('amy', 30)")
    engine.execute("BEGIN")
    engine.execute("DROP TABLE users")
    assert "users" not in engine.catalog.list_tables()
    engine.execute("ROLLBACK")
    assert "users" in engine.catalog.list_tables()
    rows = engine.sql("SELECT name, age FROM users").collect()
    assert [(r.name, r.age) for r in rows] == [("amy", 30)]
    # PK metadata survived the round trip
    assert engine.table_meta("users").primary_key == ["id"]


def test_txn_rollback_drop_then_recreate(engine):
    engine.execute("INSERT INTO users (name) VALUES ('orig')")
    engine.execute("BEGIN")
    engine.execute("DROP TABLE users")
    engine.execute("CREATE TABLE users (id INT PRIMARY KEY)")
    engine.execute("INSERT INTO users (id) VALUES (7)")
    engine.execute("ROLLBACK")
    rows = engine.sql("SELECT name FROM users").collect()
    assert [r.name for r in rows] == ["orig"]


def test_txn_rollback_reverses_rename(engine):
    engine.execute("INSERT INTO users (name) VALUES ('bob')")
    engine.execute("BEGIN")
    engine.execute("RENAME TABLE users TO people")
    assert "people" in engine.catalog.list_tables()
    engine.execute("ROLLBACK")
    assert "users" in engine.catalog.list_tables()
    assert "people" not in engine.catalog.list_tables()
    assert engine.sql("SELECT count(*) AS n FROM users").collect()[0].n == 1


def test_txn_rollback_restores_altered_meta(engine):
    engine.execute("BEGIN")
    engine.execute("ALTER TABLE users ADD COLUMN nick VARCHAR(10)")
    engine.execute("ROLLBACK")
    cols = [f.name for f in engine.catalog.table("users").read().schema.fields]
    assert "nick" not in cols


def test_txn_commit_purges_trash(engine, tmp_path):
    import os

    engine.execute("BEGIN")
    engine.execute("DROP TABLE users")
    engine.execute("COMMIT")
    assert "users" not in engine.catalog.list_tables()
    trash = os.path.join(engine.catalog.root, ".txn_trash")
    assert not os.path.isdir(trash) or os.listdir(trash) == []


def test_on_conflict_do_update_where(engine):
    """Conditional upsert (round 10): DO UPDATE ... WHERE updates only
    the conflicting rows that pass the condition."""
    engine.execute(
        "INSERT INTO users (id, name, age) VALUES (1, 'x', 3)")
    engine.execute(
        "INSERT INTO users (id, name, age) VALUES (1, 'y', 99) "
        "ON CONFLICT (id) DO UPDATE SET name = excluded.name "
        "WHERE users.age < 5"
    )
    assert [r.name for r in engine.sql(
        "SELECT name FROM users WHERE id = 1").collect()] == ["y"]
    engine.execute(
        "INSERT INTO users (id, name, age) VALUES (1, 'z', 1) "
        "ON CONFLICT (id) DO UPDATE SET name = excluded.name "
        "WHERE users.age < 5"
    )
    # only name was assigned, so stored age stays 3 and the
    # condition keeps passing
    assert [r.name for r in engine.sql(
        "SELECT name FROM users WHERE id = 1").collect()] == ["z"]
    engine.execute(
        "INSERT INTO users (id, name, age) VALUES (1, 'w', 1) "
        "ON CONFLICT (id) DO UPDATE SET name = excluded.name "
        "WHERE users.age > 50"
    )
    assert [r.name for r in engine.sql(
        "SELECT name FROM users WHERE id = 1").collect()] == ["z"]


def test_on_conflict_on_constraint_resolution(engine):
    engine.execute("INSERT INTO users (id, name) VALUES (1, 'a')")
    # the implicit PK constraint name resolves
    engine.execute(
        "INSERT INTO users (id, name) VALUES (1, 'b') "
        "ON CONFLICT ON CONSTRAINT users_pkey DO UPDATE SET name = excluded.name"
    )
    rows = engine.sql("SELECT name FROM users WHERE id = 1").collect()
    assert [r.name for r in rows] == ["b"]
    # an unknown constraint name is rejected, not silently PK-upserted
    with pytest.raises(ValueError, match="no.*matching unique constraint"):
        engine.execute(
            "INSERT INTO users (id, name) VALUES (1, 'c') "
            "ON CONFLICT ON CONSTRAINT bogus_uq DO UPDATE SET name = excluded.name"
        )


def test_on_conflict_do_update_requires_pk(engine):
    engine.execute("CREATE TABLE nopk (a INT, b VARCHAR(10))")
    with pytest.raises(ValueError, match="no unique or exclusion"):
        engine.execute(
            "INSERT INTO nopk (a, b) VALUES (1, 'x') "
            "ON CONFLICT DO UPDATE SET b = excluded.b"
        )
    # MySQL keyless ON DUPLICATE still plain-inserts (GMS corpus semantics)
    engine.execute(
        "INSERT INTO nopk (a, b) VALUES (1, 'x') "
        "ON DUPLICATE KEY UPDATE b = VALUES(b)"
    )
    assert engine.sql("SELECT count(*) AS n FROM nopk").collect()[0].n == 1
    # ON CONFLICT DO NOTHING without a constraint: plain insert (pg allows)
    engine.execute(
        "INSERT INTO nopk (a, b) VALUES (2, 'y') ON CONFLICT DO NOTHING"
    )
    assert engine.sql("SELECT count(*) AS n FROM nopk").collect()[0].n == 2


def test_on_conflict_text_inside_string_literal_not_rewritten(engine):
    """'ON CONFLICT'/'excluded.x' inside inserted VALUES strings survive
    verbatim (the clause scan runs on a string-masked body)."""
    engine.execute("CREATE TABLE notes (id INT PRIMARY KEY, body VARCHAR(200))")
    payload = "use ON CONFLICT (k) DO UPDATE SET x = excluded.x when upserting"
    engine.execute(f"INSERT INTO notes (id, body) VALUES (1, '{payload}')")
    rows = engine.sql("SELECT body FROM notes").collect()
    assert rows[0].body == payload


def test_on_conflict_excluded_in_string_arg_preserved(engine):
    engine.execute("INSERT INTO users (id, name) VALUES (9, 'z')")
    engine.execute(
        "INSERT INTO users (id, name) VALUES (9, 'z2') "
        "ON CONFLICT (id) DO UPDATE SET name = concat('excluded.name=', "
        "excluded.name)"
    )
    rows = engine.sql("SELECT name FROM users WHERE id = 9").collect()
    assert [r.name for r in rows] == ["excluded.name=z2"]


def test_backup_restore_uri_front_door(engine, tmp_path):
    """BACKUP/RESTORE DATABASE ... TO/FROM '<uri>' with the reference's
    option syntax (pgserver/backup_handler.go:14-90), driven through the
    Hadoop FileSystem API — file:// exercises the same code path an
    s3a:// URI takes with fs.s3a credentials."""
    engine.execute("INSERT INTO users (name, age) VALUES ('zoe', 41)")
    dest = f"file://{tmp_path}/bk"
    r = engine.execute(
        f"BACKUP DATABASE users TO '{dest}' "
        "ENDPOINT = 's3.example.com' ACCESS_KEY_ID = 'k' "
        "SECRET_ACCESS_KEY = 's'"
    )
    assert "BACKUP users" in r.info
    engine.execute("UPDATE users SET age = 1 WHERE name = 'zoe'")
    engine.execute(f"RESTORE DATABASE users FROM '{dest}'")
    rows = engine.sql("SELECT age FROM users WHERE name = 'zoe'").collect()
    assert [r.age for r in rows] == [41]
    # credentials landed in the Hadoop conf for a real s3a endpoint
    hconf = engine.spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == "s3.example.com"
    assert hconf.get("fs.s3a.access.key") == "k"


def test_savepoints(engine):
    """SAVEPOINT / ROLLBACK TO SAVEPOINT / RELEASE (reference: GMS
    TestTransactionScripts savepoint cases): ROLLBACK TO restores the
    savepoint state without ending the transaction; later savepoints
    are invalidated; plain ROLLBACK still unwinds to BEGIN."""
    import pytest as _pytest

    engine.execute("INSERT INTO users (name, age) VALUES ('base', 1)")
    engine.execute("BEGIN")
    engine.execute("INSERT INTO users (name, age) VALUES ('in_txn', 2)")
    engine.execute("SAVEPOINT s1")
    engine.execute("INSERT INTO users (name, age) VALUES ('after_s1', 3)")
    engine.execute("SAVEPOINT s2")
    engine.execute("UPDATE users SET age = 99 WHERE name = 'base'")
    names = {r.name for r in engine.execute("SELECT name FROM users").collect()}
    assert {"base", "in_txn", "after_s1"} <= names
    engine.execute("ROLLBACK TO SAVEPOINT s1")
    rows = {r.name: r.age for r in engine.execute(
        "SELECT name, age FROM users").collect()}
    assert "after_s1" not in rows           # rolled back past s1
    assert rows["base"] == 1                # update undone
    assert rows["in_txn"] == 2              # pre-savepoint work kept
    with _pytest.raises(ValueError, match="does not exist"):
        engine.execute("ROLLBACK TO s2")    # s2 invalidated
    engine.execute("INSERT INTO users (name, age) VALUES ('retry', 4)")
    engine.execute("COMMIT")
    names = {r.name for r in engine.execute("SELECT name FROM users").collect()}
    assert "retry" in names and "in_txn" in names
    # plain ROLLBACK unwinds to BEGIN, discarding savepoint-era work too
    engine.execute("BEGIN")
    engine.execute("SAVEPOINT sp")
    engine.execute("INSERT INTO users (name, age) VALUES ('gone', 5)")
    engine.execute("ROLLBACK")
    names = {r.name for r in engine.execute("SELECT name FROM users").collect()}
    assert "gone" not in names
    # MySQL accepts SAVEPOINT in autocommit mode (no explicit txn):
    # no error, the implicit transaction commits immediately (round 9)
    r = engine.execute("SAVEPOINT nope")
    assert "no-op" in r.info


def test_update_limit_with_subquery(spark, tmp_path):
    """UPDATE ... ORDER BY ... LIMIT combined with a subquery WHERE —
    the cap resolves the first n matching PKs through full SQL planning
    (closes the round-3 NotImplementedError guard)."""
    from myduckserver_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE ul (id INT PRIMARY KEY, v INT, grp TEXT)")
    for i in range(1, 7):
        e.execute(
            f"INSERT INTO ul VALUES ({i}, {i * 10}, "
            f"'{'a' if i <= 3 else 'b'}')"
        )
    # subquery WHERE + ORDER BY DESC LIMIT 2: only the two largest
    # above-average rows update
    r = e.execute(
        "UPDATE ul SET v = v + 1 "
        "WHERE v > (SELECT AVG(v) FROM ul) ORDER BY v DESC LIMIT 2"
    )
    assert r.affected_rows == 2
    got = {row.id: row.v for row in e.sql("SELECT id, v FROM ul").collect()}
    assert got == {1: 10, 2: 20, 3: 30, 4: 40, 5: 51, 6: 61}


def test_limit_dml_composite_pk(spark, tmp_path):
    """UPDATE/DELETE ... ORDER BY ... LIMIT on composite-PK tables:
    the row cap collects full key tuples and renders a per-row
    conjunction membership predicate (all three cap paths — direct,
    subquery-WHERE, multi-table)."""
    from myduckserver_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE cl (a INT, b INT, v INT, "
              "PRIMARY KEY (a, b))")
    for a in (1, 2):
        for b in (1, 2, 3):
            e.execute(f"INSERT INTO cl VALUES ({a}, {b}, {a * 10 + b})")
    # direct path: two largest v rows update
    r = e.execute("UPDATE cl SET v = v + 100 ORDER BY v DESC LIMIT 2")
    assert r.affected_rows == 2
    got = {(x.a, x.b): x.v for x in e.sql("SELECT * FROM cl").collect()}
    assert got[(2, 3)] == 123 and got[(2, 2)] == 122
    assert got[(1, 1)] == 11
    # subquery-WHERE path
    r = e.execute(
        "DELETE FROM cl WHERE v > (SELECT MIN(v) FROM cl) "
        "ORDER BY v ASC LIMIT 2"
    )
    assert r.affected_rows == 2  # v=12, v=13 go
    assert sorted(got := [
        (x.a, x.b) for x in e.sql("SELECT a, b FROM cl").collect()
    ]) == [(1, 1), (2, 1), (2, 2), (2, 3)]
    # multi-table path: JOIN-driven update capped to 1 row
    e.execute("CREATE TABLE bump (a INT PRIMARY KEY, amt INT)")
    e.execute("INSERT INTO bump VALUES (2, 1000)")
    r = e.execute(
        "UPDATE cl JOIN bump ON cl.a = bump.a "
        "SET cl.v = cl.v + bump.amt ORDER BY cl.b DESC LIMIT 1"
    )
    assert r.affected_rows == 1
    vals = {(x.a, x.b): x.v for x in e.sql("SELECT * FROM cl").collect()}
    assert vals[(2, 3)] == 1123 and vals[(2, 2)] == 122


def test_delete_limit_with_cte(spark, tmp_path):
    from myduckserver_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE dl (id INT PRIMARY KEY, v INT)")
    for i in range(1, 6):
        e.execute(f"INSERT INTO dl VALUES ({i}, {i})")
    r = e.execute(
        "WITH hi AS (SELECT 2 AS cut) "
        "DELETE FROM dl WHERE v > (SELECT cut FROM hi) "
        "ORDER BY v ASC LIMIT 2"
    )
    assert r.affected_rows == 2  # v=3 and v=4 (smallest above the cut)
    assert sorted(
        row.id for row in e.sql("SELECT id FROM dl").collect()
    ) == [1, 2, 5]


def test_multi_table_update_limit(spark, tmp_path):
    """Multi-table UPDATE ... JOIN ... ORDER BY ... LIMIT (GMS accepts
    the combination, main_test.go:948): the cap counts DISTINCT target
    rows in first-match order (closes the round-4 NotImplementedError
    guard, statements.py multi-table form)."""
    from myduckserver_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE mt (id INT PRIMARY KEY, v INT)")
    e.execute("CREATE TABLE mr (id INT PRIMARY KEY, bump INT)")
    for i in range(1, 6):
        e.execute(f"INSERT INTO mt VALUES ({i}, {i * 10})")
        e.execute(f"INSERT INTO mr VALUES ({i}, {i})")
    r = e.execute(
        "UPDATE mt t JOIN mr r ON t.id = r.id SET t.v = t.v + r.bump "
        "WHERE r.bump >= 2 ORDER BY t.v DESC LIMIT 2"
    )
    assert r.affected_rows == 2  # v=50 and v=40 rows only
    got = {row.id: row.v for row in e.sql("SELECT id, v FROM mt").collect()}
    assert got == {1: 10, 2: 20, 3: 30, 4: 44, 5: 55}


def test_delete_using_limit(spark, tmp_path):
    """DELETE ... USING ... ORDER BY ... LIMIT: cap applies to the
    single target's distinct rows (GMS TestDeleteFrom,
    main_test.go:989)."""
    from myduckserver_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE dt (id INT PRIMARY KEY, v INT)")
    e.execute("CREATE TABLE dr (id INT PRIMARY KEY, flag INT)")
    for i in range(1, 7):
        e.execute(f"INSERT INTO dt VALUES ({i}, {i})")
        e.execute(f"INSERT INTO dr VALUES ({i}, {i % 2})")
    r = e.execute(
        "DELETE FROM dt USING dt JOIN dr ON dt.id = dr.id "
        "WHERE dr.flag = 1 ORDER BY dt.id DESC LIMIT 2"
    )
    assert r.affected_rows == 2  # odd ids, two highest: 5 and 3
    assert sorted(
        row.id for row in e.sql("SELECT id FROM dt").collect()
    ) == [1, 2, 4, 6]


def test_dml_returning(spark, tmp_path):
    """INSERT/UPDATE/DELETE ... RETURNING (pg/DuckDB surface): affected
    rows come back as the statement result, derived from the versioned
    row diff — auto-increment ids included."""
    from myduckserver_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh"))
    e.execute(
        "CREATE TABLE rt (id INT PRIMARY KEY AUTO_INCREMENT, v INT)"
    )
    rows = e.execute(
        "INSERT INTO rt (v) VALUES (10), (20) RETURNING id, v"
    ).collect()
    assert sorted((r.id, r.v) for r in rows) == [(1, 10), (2, 20)]
    # expressions + aliases project over the post-update images
    rows = e.execute(
        "UPDATE rt SET v = v + 5 WHERE v >= 20 RETURNING id, v * 2 AS d"
    ).collect()
    assert [(r.id, r.d) for r in rows] == [(2, 50)]
    # DELETE returns the removed rows
    rows = e.execute("DELETE FROM rt WHERE id = 1 RETURNING *").collect()
    assert [(r.id, r.v) for r in rows] == [(1, 10)]
    assert [
        tuple(r) for r in e.sql("SELECT id, v FROM rt").collect()
    ] == [(2, 25)]
    # no-match DML returns zero rows, not an error
    assert e.execute("DELETE FROM rt WHERE id = 99 RETURNING id").collect() == []


def test_update_enforces_check_and_not_null(spark, tmp_path):
    """MySQL rejects UPDATEs that violate CHECK / NOT NULL, same as
    INSERTs — including on the subquery-WHERE path."""
    import pytest

    from myduckserver_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh"))
    e.execute(
        "CREATE TABLE chk (id INT PRIMARY KEY, v INT NOT NULL, "
        "CONSTRAINT pos CHECK (v > 0))"
    )
    e.execute("INSERT INTO chk VALUES (1, 5), (2, 7)")
    with pytest.raises(ValueError, match="pos"):
        e.execute("UPDATE chk SET v = -1 WHERE id = 1")
    # NULL trips validation (engine rule: a NULL check result fails,
    # same as the insert path — stricter than the SQL-standard
    # UNKNOWN-passes, consistent across all DML)
    with pytest.raises(ValueError, match="pos|not_null"):
        e.execute("UPDATE chk SET v = NULL WHERE id = 2")
    with pytest.raises(ValueError, match="pos"):
        e.execute(
            "UPDATE chk SET v = -9 WHERE id IN (SELECT MAX(id) FROM chk)"
        )
    # table unchanged after every rejected statement
    assert sorted(
        tuple(r) for r in e.sql("SELECT id, v FROM chk").collect()
    ) == [(1, 5), (2, 7)]
    e.execute("UPDATE chk SET v = 9 WHERE id = 1")  # valid one applies
    assert e.sql("SELECT v FROM chk WHERE id = 1").collect()[0][0] == 9


def test_split_statements_keywords_in_literals():
    """Routine-keyword words INSIDE string literals must not glue
    adjacent statements together (mysqldump data rows legitimately
    contain words like PROCEDURE/BEGIN/END)."""
    parts = split_statements(
        "INSERT INTO notes VALUES ('read the PROCEDURE manual BEGIN "
        "section'); UPDATE notes SET x = 1"
    )
    assert len(parts) == 2
    assert parts[1] == "UPDATE notes SET x = 1"
    # 'END' at the tail of a literal must not terminate a real body early
    parts = split_statements(
        "CREATE TRIGGER t1 BEFORE INSERT ON x FOR EACH ROW BEGIN "
        "SET NEW.a = 'the END'; SET NEW.b = 2; END; SELECT 1"
    )
    assert len(parts) == 2
    assert parts[0].rstrip().upper().endswith("END")
    assert parts[1] == "SELECT 1"


def test_split_statements_case_expression_in_body():
    """A CASE *expression* inside a routine body self-balances against
    its own END: the body must merge as one statement instead of the
    expression's END cutting the merge short (advisor regression,
    statements.py _block_balance)."""
    parts = split_statements(
        "CREATE PROCEDURE p() BEGIN "
        "SELECT CASE WHEN 1=1 THEN 2 ELSE 3 END AS v; "
        "SET @x = 1; END; SELECT 1"
    )
    assert len(parts) == 2
    assert parts[0].rstrip().upper().endswith("END")
    assert parts[1] == "SELECT 1"
    # CASE *statement* (closed by END CASE) still merges
    parts = split_statements(
        "CREATE PROCEDURE q() BEGIN "
        "CASE WHEN @a = 1 THEN SELECT 1; ELSE SELECT 2; END CASE; "
        "SET @y = 0; END"
    )
    assert len(parts) == 1
    # a bare CASE expression outside a routine never glues statements
    assert len(
        split_statements("SELECT CASE WHEN 1=1 THEN 2 END AS v; SELECT 2")
    ) == 2


def test_backup_restore_whole_database(spark, tmp_path):
    """BACKUP DATABASE <db> backs up EVERY table plus the routine/
    trigger/event/user metadata sidecars (the reference copies the
    whole database file, pgserver/backup_handler.go) — a restore
    brings back the procedures, not just the rows."""
    from myduckserver_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE t1 (id INT PRIMARY KEY, v INT)")
    e.execute("INSERT INTO t1 VALUES (1, 10)")
    e.execute("CREATE TABLE t2 (id INT PRIMARY KEY, s VARCHAR(10))")
    e.execute("INSERT INTO t2 VALUES (7, 'x')")
    e.execute("CREATE PROCEDURE bump(IN k INT) "
              "UPDATE t1 SET v = v + 1 WHERE id = k")
    e.execute("CREATE VIEW pos AS SELECT id, v FROM t1 WHERE v > 0 "
              "WITH CHECK OPTION")
    dest = f"file://{tmp_path}/dbbk"
    r = e.execute(f"BACKUP DATABASE main TO '{dest}'")
    assert "BACKUP DATABASE main" in r.info
    # mutate everything, then restore
    e.execute("UPDATE t1 SET v = 999")
    e.execute("DROP TABLE t2")
    e.execute("DROP PROCEDURE bump")
    e.execute("DROP VIEW pos")
    r = e.execute(f"RESTORE DATABASE main FROM '{dest}'")
    assert "2 tables" in r.info
    assert e.execute("SELECT v FROM t1").collect()[0].v == 10
    assert e.execute("SELECT s FROM t2").collect()[0].s == "x"
    # the procedure came back with the metadata sidecars
    e.execute("CALL bump(1)")
    assert e.execute("SELECT v FROM t1").collect()[0].v == 11
    # the view definition AND its CHECK OPTION marker came back
    assert e.execute("SELECT id FROM pos").collect()[0].id == 1
    with pytest.raises(ValueError, match="CHECK OPTION failed"):
        e.execute("INSERT INTO pos VALUES (9, -9)")


def test_update_ignore_skips_violating_rows(spark, tmp_path):
    """UPDATE IGNORE: rows whose post-image violates a CHECK or NOT
    NULL constraint are skipped with a warning; the rest update
    (MySQL semantics; reference GMS TestUpdateIgnore). Plain UPDATE
    still fails whole-statement."""
    from myduckserver_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE q (id INT PRIMARY KEY, v INT, "
              "CHECK (v < 100))")
    e.execute("INSERT INTO q VALUES (1, 10), (2, 60), (3, 90)")
    # plain UPDATE: one violating row fails the whole statement
    with pytest.raises(ValueError, match="CHECK"):
        e.execute("UPDATE q SET v = v + 20")
    assert sorted(r.v for r in e.execute("SELECT v FROM q").collect()) \
        == [10, 60, 90]
    # UPDATE IGNORE: id=3 (90+20=110) skipped, others update
    r = e.execute("UPDATE IGNORE q SET v = v + 20")
    assert r.affected_rows == 2
    notes = e.execute("SHOW WARNINGS").collect()
    assert any("1 row(s) skipped by UPDATE IGNORE" in w.Message
               for w in notes)
    assert {x.id: x.v for x in e.execute("SELECT * FROM q").collect()} \
        == {1: 30, 2: 80, 3: 90}
    # NOT NULL violations are skipped the same way
    e.execute("CREATE TABLE nn (id INT PRIMARY KEY, s VARCHAR(8) "
              "NOT NULL)")
    e.execute("INSERT INTO nn VALUES (1, 'a'), (2, 'b')")
    r = e.execute(
        "UPDATE IGNORE nn SET s = CASE WHEN id = 1 THEN NULL "
        "ELSE 'z' END"
    )
    assert r.affected_rows == 1
    assert {x.id: x.s for x in e.execute("SELECT * FROM nn").collect()} \
        == {1: "a", 2: "z"}


def test_replace_affected_rows_counts_deletes(spark, tmp_path):
    """MySQL REPLACE affected-rows: 1 per inserted row plus 1 per
    replaced existing row (clients and dump tools read this)."""
    from myduckserver_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    e.execute("INSERT INTO t VALUES (1, 10), (2, 20)")
    r = e.execute("REPLACE INTO t VALUES (1, 99), (3, 30)")
    assert r.affected_rows == 3  # one replace (2) + one insert (1)
    r = e.execute("REPLACE INTO t VALUES (9, 1)")
    assert r.affected_rows == 1  # pure insert


def test_primary_key_duplicate_insert_rejected(engine):
    """Plain INSERT enforces PK uniqueness like MySQL's ER_DUP_ENTRY
    (the reference inherits this from DuckDB's ART index): against
    existing rows, within one batch, and atomically — a failing
    statement writes nothing."""
    from myduckserver_spark.engine import DuplicateKeyError

    engine.execute("CREATE TABLE pku (id INT PRIMARY KEY, b VARCHAR(10))")
    engine.execute("INSERT INTO pku VALUES (1,'a'), (2,'b')")
    with pytest.raises(DuplicateKeyError, match="Duplicate entry '1'"):
        engine.execute("INSERT INTO pku VALUES (1,'dup')")
    # atomicity: mixed batch (one fresh, one conflicting) is a no-op
    with pytest.raises(DuplicateKeyError):
        engine.execute("INSERT INTO pku VALUES (9,'new'), (2,'dup')")
    # intra-batch duplicate
    with pytest.raises(DuplicateKeyError, match="Duplicate entry '5'"):
        engine.execute("INSERT INTO pku VALUES (5,'x'), (5,'y')")
    assert sorted(
        (r.id, r.b) for r in engine.execute("SELECT * FROM pku").collect()
    ) == [(1, "a"), (2, "b")]
    # the error is handler-visible as SQLSTATE 23000 / errno 1062
    err = None
    try:
        engine.execute("INSERT INTO pku VALUES (1,'dup')")
    except DuplicateKeyError as e:
        err = e
    assert (err.sqlstate, err.errno) == ("23000", 1062)
    # INSERT ... SELECT takes the same gate
    engine.execute("CREATE TABLE src (id INT, b VARCHAR(10))")
    engine.execute("INSERT INTO src VALUES (2,'dup'), (3,'ok')")
    with pytest.raises(DuplicateKeyError):
        engine.execute("INSERT INTO pku SELECT * FROM src")


def test_primary_key_duplicate_update_rejected(engine):
    from myduckserver_spark.engine import DuplicateKeyError

    engine.execute("CREATE TABLE pkup (id INT PRIMARY KEY, b VARCHAR(10))")
    engine.execute("INSERT INTO pkup VALUES (1,'a'), (2,'b'), (3,'c')")
    with pytest.raises(DuplicateKeyError, match="Duplicate entry '2'"):
        engine.execute("UPDATE pkup SET id = 2 WHERE id = 1")
    # collapsing several rows onto one key is also caught
    with pytest.raises(DuplicateKeyError):
        engine.execute("UPDATE pkup SET id = 9 WHERE id > 1")
    # moving a key to a FREE slot is fine
    engine.execute("UPDATE pkup SET id = 10 WHERE id = 1")
    assert sorted(
        r.id for r in engine.execute("SELECT id FROM pkup").collect()
    ) == [2, 3, 10]


def test_replace_and_ignore_intra_batch_order(engine):
    """MySQL applies a multi-row batch in order: REPLACE keeps the
    LAST duplicate, INSERT IGNORE keeps the FIRST."""
    engine.execute("CREATE TABLE rio (id INT PRIMARY KEY, b VARCHAR(10))")
    engine.execute("REPLACE INTO rio VALUES (1,'x'), (1,'y'), (1,'z')")
    assert [(r.id, r.b) for r in
            engine.execute("SELECT * FROM rio").collect()] == [(1, "z")]
    engine.execute("INSERT IGNORE INTO rio VALUES (2,'p'), (2,'q'), (1,'nope')")
    assert sorted(
        (r.id, r.b) for r in engine.execute("SELECT * FROM rio").collect()
    ) == [(1, "z"), (2, "p")]
    # ON DUPLICATE KEY UPDATE applies intra-batch duplicates
    # sequentially like MySQL: (7,'a') inserts, (7,'b') updates it
    r = engine.execute(
        "INSERT INTO rio VALUES (7,'a'), (7,'b') "
        "ON DUPLICATE KEY UPDATE b = VALUES(b)"
    )
    assert r.affected_rows == 3  # 1 insert + 1 changing update
    assert [(x.id, x.b) for x in engine.execute(
        "SELECT * FROM rio WHERE id = 7").collect()] == [(7, "b")]


def test_unique_index_enforced_nulls_exempt(engine):
    """UNIQUE KEY gets the same ER_DUP_ENTRY gate as the PK on INSERT
    and UPDATE, but NULL key parts are distinct (MySQL semantics)."""
    from myduckserver_spark.engine import DuplicateKeyError

    engine.execute(
        "CREATE TABLE uq (id INT PRIMARY KEY, e VARCHAR(30), n INT, "
        "UNIQUE KEY uq_e (e))"
    )
    engine.execute(
        "INSERT INTO uq VALUES (1,'a@x',1), (2,'b@x',2), (3,NULL,3), "
        "(4,NULL,4)"  # two NULLs coexist
    )
    with pytest.raises(DuplicateKeyError, match="uq.uq_e"):
        engine.execute("INSERT INTO uq VALUES (5,'a@x',5)")
    with pytest.raises(DuplicateKeyError, match="Duplicate entry 'c@x'"):
        engine.execute("INSERT INTO uq VALUES (6,'c@x',6), (7,'c@x',7)")
    with pytest.raises(DuplicateKeyError):
        engine.execute("UPDATE uq SET e = 'b@x' WHERE id = 1")
    engine.execute("UPDATE uq SET e = NULL WHERE id = 1")
    assert sorted(
        r.id for r in engine.execute(
            "SELECT id FROM uq WHERE e IS NULL").collect()
    ) == [1, 3, 4]


def test_replace_and_ignore_unique_key_conflicts(engine):
    """REPLACE deletes every stored row the new row conflicts with on
    the PK or ANY unique index; INSERT IGNORE skips on any of them,
    resolving intra-batch skip CHAINS sequentially like MySQL (a row
    whose blocker was itself skipped still inserts)."""
    engine.execute(
        "CREATE TABLE ruk (id INT PRIMARY KEY, e VARCHAR(20), v INT, "
        "UNIQUE KEY uq_e (e))"
    )
    engine.execute("INSERT INTO ruk VALUES (1,'a',10), (2,'b',20)")

    # unique-only conflict: REPLACE (9,'a') deletes row 1
    out = engine.execute("REPLACE INTO ruk VALUES (9,'a',90)")
    assert out.affected_rows == 2  # 1 insert + 1 delete
    assert sorted(
        (r.id, r.e) for r in engine.execute("SELECT * FROM ruk").collect()
    ) == [(2, "b"), (9, "a")]

    # double conflict: (2 on pk) AND ('a' on unique) both deleted
    engine.execute("REPLACE INTO ruk VALUES (2,'a',22)")
    assert sorted(
        (r.id, r.e) for r in engine.execute("SELECT * FROM ruk").collect()
    ) == [(2, "a")]

    # intra-batch REPLACE chain: later 'm' deletes the earlier insert
    engine.execute("REPLACE INTO ruk VALUES (20,'m',1), (21,'m',2)")
    assert sorted(
        r.id for r in engine.execute(
            "SELECT id FROM ruk WHERE e = 'm'").collect()
    ) == [21]

    # IGNORE skips on unique conflict; sequential chain: (8,'m') is
    # blocked by stored e='m', so pk 8 stays free for (8,'r')
    engine.execute(
        "INSERT IGNORE INTO ruk VALUES (7,'q',70), (8,'m',80), (8,'r',88)"
    )
    assert sorted(
        (r.id, r.e) for r in engine.execute(
            "SELECT * FROM ruk WHERE id >= 7").collect()
    ) == [(7, "q"), (8, "r"), (21, "m")]

    # NULL unique keys never conflict (MySQL: NULLs are distinct)
    engine.execute("INSERT IGNORE INTO ruk VALUES (30,NULL,1), (31,NULL,2)")
    assert engine.execute(
        "SELECT COUNT(*) AS n FROM ruk WHERE e IS NULL"
    ).collect()[0].n == 2


def test_multi_table_update_enforces_checks_and_keys(engine):
    """Multi-table UPDATE takes the same statement-atomic gates as the
    single-table path: CHECK/NOT NULL on the post-image and
    ER_DUP_ENTRY when a key column is assigned."""
    from myduckserver_spark.engine import DuplicateKeyError

    engine.execute("CREATE TABLE mu1 (id INT PRIMARY KEY, v INT, CHECK (v >= 0))")
    engine.execute("CREATE TABLE mu2 (id INT PRIMARY KEY, k INT)")
    engine.execute("INSERT INTO mu1 VALUES (1,10), (2,20)")
    engine.execute("INSERT INTO mu2 VALUES (1,5), (2,6)")
    with pytest.raises(ValueError, match="CHECK"):
        engine.execute(
            "UPDATE mu1 JOIN mu2 ON mu1.id = mu2.id "
            "SET mu1.v = -mu2.k WHERE mu2.k = 5"
        )
    with pytest.raises(DuplicateKeyError):
        engine.execute(
            "UPDATE mu1 JOIN mu2 ON mu1.id = mu2.id SET mu1.id = 7"
        )
    # atomicity: neither statement wrote anything
    assert sorted(
        (r.id, r.v) for r in engine.execute("SELECT * FROM mu1").collect()
    ) == [(1, 10), (2, 20)]
    engine.execute(
        "UPDATE mu1 JOIN mu2 ON mu1.id = mu2.id SET mu1.v = mu2.k * 10"
    )
    assert sorted(
        (r.id, r.v) for r in engine.execute("SELECT * FROM mu1").collect()
    ) == [(1, 50), (2, 60)]


def test_auto_increment_null_and_zero_assign(engine):
    """MySQL treats NULL (and 0, without NO_AUTO_VALUE_ON_ZERO) in an
    AUTO_INCREMENT column as 'assign the next id'; explicit values
    interleave and bump the counter. LAST_INSERT_ID() is the FIRST
    id the statement assigned."""
    engine.execute(
        "CREATE TABLE aim (id INT PRIMARY KEY AUTO_INCREMENT, "
        "v VARCHAR(10))"
    )
    engine.execute("INSERT INTO aim (v) VALUES ('a'), ('b')")
    r = engine.execute(
        "INSERT INTO aim VALUES (NULL,'c'), (10,'d'), (NULL,'e'), (0,'f')"
    )
    assert r.last_insert_id == 3
    assert sorted(
        (x.id, x.v) for x in engine.execute("SELECT * FROM aim").collect()
    ) == [(1, "a"), (2, "b"), (3, "c"), (10, "d"), (11, "e"), (12, "f")]
    # counter continues past the explicit maximum
    engine.execute("INSERT INTO aim (v) VALUES ('g')")
    assert engine.execute(
        "SELECT MAX(id) AS m FROM aim").collect()[0].m == 13
    # INSERT…SELECT path: NULL ids assigned above every explicit id
    engine.execute("CREATE TABLE aisrc (id INT, v VARCHAR(10))")
    engine.execute(
        "INSERT INTO aisrc VALUES (NULL,'s1'), (50,'s2'), (NULL,'s3')"
    )
    engine.execute("INSERT INTO aim SELECT * FROM aisrc")
    ids = sorted(
        x.id for x in engine.execute("SELECT id FROM aim").collect()
    )
    assert ids[-3:] == [50, 51, 52]


def test_with_prologue_insert_routes_through_engine(engine):
    """WITH … INSERT (pg-style prologue) must route through the insert
    executor, not Spark's native INSERT INTO — the native path appends
    parquet files straight into the current snapshot dir, bypassing
    constraints/triggers AND breaking snapshot immutability."""
    from myduckserver_spark.engine import DuplicateKeyError

    engine.execute("CREATE TABLE wi (a INT PRIMARY KEY)")
    engine.execute("INSERT INTO wi VALUES (1)")
    r = engine.execute(
        "WITH c AS (SELECT 7 AS a) INSERT INTO wi SELECT * FROM c",
        dialect="postgres",
    )
    assert r.affected_rows == 1
    with pytest.raises(DuplicateKeyError):
        engine.execute(
            "WITH c AS (SELECT 7 AS a) INSERT INTO wi SELECT * FROM c"
        )
    assert sorted(
        x.a for x in engine.execute("SELECT * FROM wi").collect()
    ) == [1, 7]
    # the read front door refuses mutating SQL outright
    with pytest.raises(ValueError, match="Engine.execute"):
        engine.sql("INSERT INTO wi VALUES (9)")
    with pytest.raises(ValueError, match="Engine.execute"):
        engine.sql("WITH c AS (SELECT 9 AS a) INSERT INTO wi SELECT * FROM c")


def test_auto_increment_counter_persists_like_mysql8(spark, tmp_path):
    """MySQL 8 persists the AUTO_INCREMENT counter: DELETE-all and an
    engine restart keep it; TRUNCATE resets it."""
    from myduckserver_spark.engine import Engine

    wh = str(tmp_path / "wh_aip")
    e = Engine(spark, wh)
    e.execute("CREATE TABLE aip (id INT PRIMARY KEY AUTO_INCREMENT, v INT)")
    e.execute("INSERT INTO aip (v) VALUES (1),(2),(3)")
    e.execute("DELETE FROM aip")
    e.execute("INSERT INTO aip (v) VALUES (8)")
    assert [(r.id, r.v) for r in
            e.execute("SELECT * FROM aip").collect()] == [(4, 8)]
    e2 = Engine(spark, wh)  # reconnect analog
    e2.execute("DELETE FROM aip")
    e2.execute("INSERT INTO aip (v) VALUES (9)")
    assert [r.id for r in e2.execute("SELECT id FROM aip").collect()] == [5]
    e2.execute("TRUNCATE TABLE aip")
    e2.execute("INSERT INTO aip (v) VALUES (7)")
    assert [r.id for r in e2.execute("SELECT id FROM aip").collect()] == [1]


def test_last_insert_id_function(engine):
    """SELECT LAST_INSERT_ID() reads the session's last assigned auto
    id (first id of a multi-row insert; persists across non-assigning
    statements — MySQL session semantics)."""
    engine.execute(
        "CREATE TABLE lii (id INT PRIMARY KEY AUTO_INCREMENT, v INT)")
    engine.execute("INSERT INTO lii (v) VALUES (5), (6)")
    assert engine.execute(
        "SELECT LAST_INSERT_ID() AS l").collect()[0].l == 1
    engine.execute("INSERT INTO lii (v) VALUES (7)")
    engine.execute("DELETE FROM lii WHERE id = 1")
    assert engine.execute(
        "SELECT LAST_INSERT_ID() AS l").collect()[0].l == 3


def test_update_ignore_skips_key_conflicts(engine):
    """UPDATE IGNORE skips rows whose updated key collides with the
    live index — including keys of rows the statement has not yet
    moved (MySQL row-order chain: UPDATE IGNORE SET id=id+1 over
    {1,2,3} skips 1→2 and 2→3, applies 3→4)."""
    engine.execute("CREATE TABLE uik (id INT PRIMARY KEY, v INT)")
    engine.execute("INSERT INTO uik VALUES (1,10), (2,20), (3,30)")
    r = engine.execute("UPDATE IGNORE uik SET id = id + 1")
    assert r.affected_rows == 1
    w = engine.execute("SHOW WARNINGS").collect()
    assert [(x.Code, "skipped by UPDATE IGNORE" in x.Message)
            for x in w] == [(1062, True)]
    assert sorted(
        x.id for x in engine.execute("SELECT id FROM uik").collect()
    ) == [1, 2, 4]
    # conflict with an unaffected row: skipped, no change
    engine.execute("UPDATE IGNORE uik SET id = 2 WHERE id = 1")
    assert sorted(
        x.id for x in engine.execute("SELECT id FROM uik").collect()
    ) == [1, 2, 4]
    # UNIQUE-index conflicts take the same path
    engine.execute(
        "CREATE TABLE uik2 (id INT PRIMARY KEY, e VARCHAR(10), "
        "UNIQUE KEY uq (e))"
    )
    engine.execute("INSERT INTO uik2 VALUES (1,'a'), (2,'b')")
    engine.execute("UPDATE IGNORE uik2 SET e = 'b' WHERE id = 1")
    assert sorted(
        (x.id, x.e) for x in engine.execute("SELECT * FROM uik2").collect()
    ) == [(1, "a"), (2, "b")]
    # a free target still applies under IGNORE
    engine.execute("UPDATE IGNORE uik2 SET e = 'z' WHERE id = 1")
    assert sorted(
        x.e for x in engine.execute("SELECT e FROM uik2").collect()
    ) == ["b", "z"]


def test_update_ignore_key_conflicts_composite_pk(engine):
    """UPDATE IGNORE key-conflict chains work on composite-PK tables
    too: the driver walk keys rows by the full PK tuple (MySQL walks
    the clustered index in (a,b) order). Shifting b over {(1,1),(1,2),
    (1,3)} skips (1,1)→(1,2) and (1,2)→(1,3), applies (1,3)→(1,4)."""
    engine.execute(
        "CREATE TABLE cik (a INT, b INT, v INT, PRIMARY KEY (a, b))")
    engine.execute(
        "INSERT INTO cik VALUES (1,1,10), (1,2,20), (1,3,30), (2,1,40)")
    r = engine.execute("UPDATE IGNORE cik SET b = b + 1 WHERE a = 1")
    assert r.affected_rows == 1
    w = engine.execute("SHOW WARNINGS").collect()
    assert [(x.Code, "skipped by UPDATE IGNORE" in x.Message)
            for x in w] == [(1062, True)]
    assert sorted(
        (x.a, x.b) for x in engine.execute(
            "SELECT a, b FROM cik").collect()
    ) == [(1, 1), (1, 2), (1, 4), (2, 1)]
    # cross-group move: (2,1)→(1,1) collides with an unaffected row
    engine.execute("UPDATE IGNORE cik SET a = 1 WHERE a = 2")
    assert sorted(
        (x.a, x.b) for x in engine.execute(
            "SELECT a, b FROM cik").collect()
    ) == [(1, 1), (1, 2), (1, 4), (2, 1)]
    # a free composite target still applies under IGNORE
    engine.execute("UPDATE IGNORE cik SET a = 3 WHERE a = 2")
    assert sorted(
        (x.a, x.b) for x in engine.execute(
            "SELECT a, b FROM cik").collect()
    ) == [(1, 1), (1, 2), (1, 4), (3, 1)]


def test_commit_rollback_and_chain(engine):
    """COMMIT/ROLLBACK AND CHAIN end the transaction and immediately
    begin the next (MySQL 13.3.1); WORK / [NO] RELEASE tokens accepted."""
    engine.execute("CREATE TABLE chn (id INT PRIMARY KEY)")
    engine.execute("BEGIN")
    engine.execute("INSERT INTO chn VALUES (1)")
    engine.execute("COMMIT AND CHAIN")
    engine.execute("INSERT INTO chn VALUES (2)")
    engine.execute("ROLLBACK AND CHAIN")
    engine.execute("INSERT INTO chn VALUES (3)")
    engine.execute("ROLLBACK WORK")
    assert sorted(
        r.id for r in engine.execute("SELECT * FROM chn").collect()
    ) == [1]
    engine.execute("COMMIT AND NO CHAIN")  # accepted, plain commit


def test_replace_deletes_rows_hit_by_nonsurviving_batch_rows(engine):
    """A stored row deleted by a batch row that is ITSELF replaced by
    a later batch row stays deleted — MySQL REPLACE processes
    row-at-a-time, so mid-batch deletions of base rows are permanent
    (GMS TestReplaceInto corpus): base (5,'z'); REPLACE (5,'a'),(6,'a')
    with UNIQUE(e) leaves ONLY (6,'a')."""
    engine.execute(
        "CREATE TABLE rnb (id INT PRIMARY KEY, e VARCHAR(10), "
        "UNIQUE KEY uq_e (e))"
    )
    engine.execute("INSERT INTO rnb VALUES (5, 'z')")
    out = engine.execute("REPLACE INTO rnb VALUES (5,'a'), (6,'a')")
    assert sorted(
        (r.id, r.e) for r in engine.execute("SELECT * FROM rnb").collect()
    ) == [(6, "a")]
    # MySQL affected-rows: 2 inserts + 2 deletes ((5,'z') by row 1,
    # (5,'a') by row 2) = 4
    assert out.affected_rows == 4


def test_pk_enforced_when_auto_increment_outside_pk(engine):
    """An absent AUTO_INCREMENT column only exempts the PK probe when
    the auto column IS part of the PK; a PK over other columns is
    still enforced (MySQL: ER_DUP_ENTRY)."""
    from myduckserver_spark.engine import DuplicateKeyError

    engine.execute(
        "CREATE TABLE aip (id INT AUTO_INCREMENT, e VARCHAR(10), "
        "PRIMARY KEY (e), UNIQUE KEY uq_id (id))"
    )
    engine.execute("INSERT INTO aip (e) VALUES ('a'), ('b')")
    with pytest.raises(DuplicateKeyError, match="aip.PRIMARY"):
        engine.execute("INSERT INTO aip (e) VALUES ('a')")
    with pytest.raises(DuplicateKeyError):
        engine.execute("INSERT INTO aip (e) VALUES ('c'), ('c')")
    # nothing was written by the rejected statements
    assert engine.execute(
        "SELECT COUNT(*) AS n FROM aip").collect()[0].n == 2


def test_chain_walk_cap_enforced_before_materialization(
        engine, monkeypatch):
    """The driver-side chain-walk cap bounds the TRANSFER (via
    limit(cap+1)), not just the post-hoc list length: with a tiny
    monkeypatched cap, an over-cap statement raises and writes
    nothing, while under-cap behavior is unchanged."""
    from myduckserver_spark.engine import Engine

    engine.execute("CREATE TABLE cwc (id INT PRIMARY KEY, v INT)")
    engine.execute("INSERT INTO cwc VALUES (1, 10), (2, 20)")
    monkeypatch.setattr(Engine, "_CHAIN_WALK_CAP", 3)
    # intra-batch dup in a 5-row batch -> chain walk over 5 > 3 rows
    with pytest.raises(NotImplementedError, match=">3"):
        engine.execute(
            "INSERT IGNORE INTO cwc VALUES "
            "(3,1), (3,2), (4,1), (5,1), (6,1)"
        )
    assert engine.execute(
        "SELECT COUNT(*) AS n FROM cwc").collect()[0].n == 2
    # under the cap: sequential-chain semantics intact
    engine.execute("INSERT IGNORE INTO cwc VALUES (3,1), (3,2), (4,1)")
    assert sorted(
        (r.id, r.v) for r in engine.execute("SELECT * FROM cwc").collect()
    ) == [(1, 10), (2, 20), (3, 1), (4, 1)]
    # UPDATE IGNORE assigning the key column takes the same bounded walk
    with pytest.raises(NotImplementedError, match=">3"):
        engine.execute("UPDATE IGNORE cwc SET id = id + 1 WHERE id >= 1")
    monkeypatch.setattr(Engine, "_CHAIN_WALK_CAP", 100_000)
    engine.execute("UPDATE IGNORE cwc SET id = id + 1 WHERE id >= 1")
    # MySQL pk-ascending live-index walk: 1->2, 2->3, 3->4 each hit a
    # still-live later row and are skipped; only 4->5 applies
    assert sorted(
        r.id for r in engine.execute("SELECT id FROM cwc").collect()
    ) == [1, 2, 3, 5]


def test_on_duplicate_key_intra_batch_chains(engine):
    """MySQL applies INSERT…ON DUPLICATE KEY UPDATE row-at-a-time: a
    later duplicate updates the row an earlier batch row just wrote,
    and each step sees the accumulated state (GMS corpus:
    TestInsertDuplicateKeyKeyless)."""
    engine.execute("CREATE TABLE odc (k VARCHAR(10) PRIMARY KEY, cnt INT)")
    # chain on a fresh key: insert 1, then +10, then +100
    r = engine.execute(
        "INSERT INTO odc VALUES ('a',1), ('a',10), ('a',100) "
        "ON DUPLICATE KEY UPDATE cnt = cnt + VALUES(cnt)"
    )
    assert r.affected_rows == 5  # 1 insert + 2 changing updates
    assert engine.execute(
        "SELECT cnt FROM odc WHERE k='a'").collect()[0].cnt == 111
    # chain on an existing key, mixed with a fresh one
    r = engine.execute(
        "INSERT INTO odc VALUES ('a',1), ('b',5), ('a',2) "
        "ON DUPLICATE KEY UPDATE cnt = cnt + VALUES(cnt)"
    )
    assert r.affected_rows == 5  # 1 insert ('b') + 2 updates on 'a'
    rows = {x.k: x.cnt for x in engine.execute("SELECT * FROM odc").collect()}
    assert rows == {"a": 114, "b": 5}
    # last-wins overwrite semantics fold the same way
    engine.execute(
        "INSERT INTO odc VALUES ('b',7), ('b',9) "
        "ON DUPLICATE KEY UPDATE cnt = VALUES(cnt)"
    )
    assert engine.execute(
        "SELECT cnt FROM odc WHERE k='b'").collect()[0].cnt == 9


def test_on_duplicate_key_matches_unique_indexes(engine):
    """MySQL resolves ON DUPLICATE KEY against ANY unique index with
    first-match precedence (PK first), not only the PK."""
    engine.execute(
        "CREATE TABLE odu (id INT PRIMARY KEY, e VARCHAR(20), v INT, "
        "UNIQUE KEY uq_e (e))"
    )
    engine.execute("INSERT INTO odu VALUES (1,'a',10), (2,'b',20)")
    # unique-only conflict: (9,'a') updates stored row 1
    r = engine.execute(
        "INSERT INTO odu VALUES (9,'a',90) "
        "ON DUPLICATE KEY UPDATE v = VALUES(v)"
    )
    assert r.affected_rows == 2
    assert sorted(
        (x.id, x.e, x.v) for x in engine.execute("SELECT * FROM odu").collect()
    ) == [(1, "a", 90), (2, "b", 20)]
    # pk match takes precedence over a unique match on another row
    engine.execute(
        "INSERT INTO odu VALUES (2,'a',77) "
        "ON DUPLICATE KEY UPDATE v = VALUES(v)"
    )
    assert sorted(
        (x.id, x.v) for x in engine.execute("SELECT * FROM odu").collect()
    ) == [(1, 90), (2, 77)]
    # no-op update: MySQL affected-rows is 0
    r = engine.execute(
        "INSERT INTO odu VALUES (2,'zz',77) "
        "ON DUPLICATE KEY UPDATE v = VALUES(v)"
    )
    assert r.affected_rows == 0
    # NULL unique key never conflicts: plain inserts
    r = engine.execute(
        "INSERT INTO odu VALUES (30,NULL,1), (31,NULL,2) "
        "ON DUPLICATE KEY UPDATE v = VALUES(v)"
    )
    assert r.affected_rows == 2


def test_on_duplicate_key_two_rows_hit_one_stored_row(engine):
    """Two batch rows without duplicate keys can still hit the SAME
    stored row via different indexes; MySQL applies them in order."""
    engine.execute(
        "CREATE TABLE od2 (id INT PRIMARY KEY, e VARCHAR(20), v INT, "
        "UNIQUE KEY uq_e (e))"
    )
    engine.execute("INSERT INTO od2 VALUES (1,'a',0)")
    # (1,'x') pk-matches row 1; (9,'a') unique-matches row 1 too
    r = engine.execute(
        "INSERT INTO od2 VALUES (1,'x',5), (9,'a',7) "
        "ON DUPLICATE KEY UPDATE v = v + VALUES(v)"
    )
    assert r.affected_rows == 4  # two changing updates of one row
    assert [(x.id, x.e, x.v) for x in
            engine.execute("SELECT * FROM od2").collect()] == [(1, "a", 12)]


def test_on_duplicate_key_unique_only_table(engine):
    """A table with a UNIQUE index but no PRIMARY KEY still resolves
    ON DUPLICATE KEY (MySQL matches any unique index)."""
    engine.execute(
        "CREATE TABLE odnp (e VARCHAR(20), v INT, UNIQUE KEY uq_e (e))"
    )
    engine.execute("INSERT INTO odnp VALUES ('a', 1)")
    r = engine.execute(
        "INSERT INTO odnp VALUES ('a', 41), ('b', 2) "
        "ON DUPLICATE KEY UPDATE v = v + VALUES(v)"
    )
    assert r.affected_rows == 3  # 1 insert + 1 changing update
    assert sorted(
        (x.e, x.v) for x in engine.execute("SELECT * FROM odnp").collect()
    ) == [("a", 42), ("b", 2)]


def test_last_insert_id_one_arg_sets_and_returns(engine):
    """LAST_INSERT_ID(expr) evaluates expr, STORES it as the session
    value and returns it (MySQL 12.16); the per-row sequence pattern
    is rejected with a clear error instead of leaking to Spark."""
    assert engine.execute(
        "SELECT LAST_INSERT_ID(40 + 2) AS v").collect()[0].v == 42
    assert engine.execute(
        "SELECT LAST_INSERT_ID() AS v").collect()[0].v == 42
    with pytest.raises(NotImplementedError, match="constant"):
        engine.execute(
            "UPDATE users SET id = LAST_INSERT_ID(id + 1) WHERE id = 1"
        )


def test_on_duplicate_row_alias_form(engine):
    """MySQL 8.0.19+ row alias: INSERT … VALUES … AS new [(cols)]
    ON DUPLICATE KEY UPDATE c = new.c — the modern spelling ORMs emit
    since VALUES() was deprecated in 8.0.20."""
    engine.execute("CREATE TABLE roa (k VARCHAR(10) PRIMARY KEY, v INT)")
    engine.execute("INSERT INTO roa VALUES ('a', 1)")
    r = engine.execute(
        "INSERT INTO roa VALUES ('a', 5), ('b', 7) AS new "
        "ON DUPLICATE KEY UPDATE v = v + new.v"
    )
    assert r.affected_rows == 3  # 1 insert + 1 changing update
    rows = {x.k: x.v for x in engine.execute("SELECT * FROM roa").collect()}
    assert rows == {"a": 6, "b": 7}
    # column-alias list, referenced bare AND qualified
    engine.execute(
        "INSERT INTO roa (k, v) VALUES ('a', 100) AS n (nk, nv) "
        "ON DUPLICATE KEY UPDATE v = nv + n.nv"
    )
    assert engine.execute(
        "SELECT v FROM roa WHERE k = 'a'").collect()[0].v == 200
    # intra-batch duplicates work through the alias form too
    engine.execute(
        "INSERT INTO roa VALUES ('c', 1), ('c', 2) AS new "
        "ON DUPLICATE KEY UPDATE v = v + new.v"
    )
    assert engine.execute(
        "SELECT v FROM roa WHERE k = 'c'").collect()[0].v == 3


def test_on_duplicate_fires_on_update_timestamp(engine):
    """ON UPDATE CURRENT_TIMESTAMP columns refresh on the duplicate
    arm when the row actually changes, and stay put on no-op updates
    (MySQL semantics)."""
    engine.execute(
        "CREATE TABLE odts (k VARCHAR(10) PRIMARY KEY, v INT, "
        "ts TIMESTAMP DEFAULT '2000-01-01 00:00:00' "
        "ON UPDATE CURRENT_TIMESTAMP)"
    )
    engine.execute(
        "INSERT INTO odts VALUES ('a', 1, '2000-01-01 00:00:00')")
    engine.execute(
        "INSERT INTO odts (k, v) VALUES ('a', 2) "
        "ON DUPLICATE KEY UPDATE v = VALUES(v)"
    )
    row = engine.execute("SELECT * FROM odts").collect()[0]
    assert row.v == 2
    assert str(row.ts) != "2000-01-01 00:00:00"  # refreshed
    changed_ts = row.ts
    # no-op duplicate: value identical -> timestamp untouched
    engine.execute(
        "INSERT INTO odts (k, v) VALUES ('a', 2) "
        "ON DUPLICATE KEY UPDATE v = VALUES(v)"
    )
    row = engine.execute("SELECT * FROM odts").collect()[0]
    assert row.ts == changed_ts
