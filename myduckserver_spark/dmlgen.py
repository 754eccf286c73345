"""Differential DML-sequence fuzzing: random INSERT / INSERT IGNORE /
REPLACE / INSERT…ON DUPLICATE KEY UPDATE / UPDATE / DELETE programs run
through the Engine (MySQL dialect) AND through DuckDB, comparing
per-statement error outcomes and the final table state. This is the
write-path analog of the read-path tree fuzzer (qgen.py): the reference
gets this class of coverage from the GMS enginetest DML corpora
(main_test.go TestInsertInto/TestUpdate/TestDeleteFrom/TestReplaceInto)
plus DuckDB's own constraint enforcement; here DuckDB plays the oracle
directly.

Determinism contract (what keeps the two engines comparable):
- INTEGER + VARCHAR columns only; arithmetic stays in {+, *, -, %} on
  small ints (no floats, no overflow, no division).
- ids are unique WITHIN each generated batch: MySQL processes batches
  row-at-a-time while DuckDB's OR REPLACE/OR IGNORE treat the batch as
  a set, so intra-batch duplicate semantics differ BY DESIGN between
  the engines (the engine's MySQL-faithful order semantics are pinned
  by unit tests, not by this oracle).
- no cross-column assignments in one SET list: MySQL applies
  assignments left-to-right with new values visible, DuckDB/ANSI
  evaluate against the old row.
- CONCAT(x, y) is emitted as x || y on the DuckDB side (DuckDB's
  CONCAT *skips* NULLs; MySQL's propagates them, and so does ||).
- string literals avoid backslashes (MySQL's default escape).
- both engines are case-sensitive here: the engine keeps Spark's
  binary comparison semantics (documented divergence from MySQL's ci
  default collation), which is exactly DuckDB's behavior too.

A failing statement must be a no-op in BOTH engines (MySQL statement
atomicity / DuckDB per-statement transaction), so (errored?, final
state) per statement is the full observable.
"""

from __future__ import annotations

import random

IDS = list(range(15))
A_VALS = [-5, -1, 0, 1, 2, 3, 7, 13, None]
B_VALS = ["", "ab", "abc", "xy", "zz", "a b", "o'k", None]

MYSQL_SCHEMA = "(id INT PRIMARY KEY, a INT, b VARCHAR(20))"
DUCK_SCHEMA = "(id INTEGER PRIMARY KEY, a INTEGER, b VARCHAR)"
# unique-variant: b carries a UNIQUE index. REPLACE and ON DUPLICATE
# are excluded here (DuckDB refuses OR REPLACE on multi-constraint
# tables and resolves ON CONFLICT per one target, so it cannot oracle
# MySQL's any-unique-key semantics — those paths are pinned by unit
# tests instead); UPDATE only assigns `a` (DuckDB's row-at-a-time
# index maintenance false-errors on some legal unique-column updates).
MYSQL_SCHEMA_U = ("(id INT PRIMARY KEY, a INT, b VARCHAR(20), "
                  "UNIQUE KEY uq_b (b))")
DUCK_SCHEMA_U = "(id INTEGER PRIMARY KEY, a INTEGER, b VARCHAR UNIQUE)"
# composite-PK variant: exercises tuple-keyed probes, chains and the
# ORDER BY ... LIMIT row caps. DuckDB oracles LIMIT DML (which it
# lacks) via `(a, b) IN (SELECT a, b ... ORDER BY ... LIMIT n)` —
# exactly MySQL's documented "first n rows satisfying the WHERE"
# semantics, made comparable by a total ORDER BY (keys appended).
MYSQL_SCHEMA_CK = ("(a INT, b INT, v INT, s VARCHAR(20), "
                   "PRIMARY KEY (a, b))")
DUCK_SCHEMA_CK = ("(a INTEGER, b INTEGER, v INTEGER, s VARCHAR, "
                  "PRIMARY KEY (a, b))")
CK_KEYS = [(a, b) for a in range(4) for b in range(4)]


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def _rows_sql(rng: random.Random, cols: list[str],
              unique_b: bool = False) -> str:
    n = rng.randint(1, 4)
    ids = rng.sample(IDS, n)  # unique within the batch (see contract)
    # unique-variant batches keep b distinct within the batch too:
    # DuckDB's OR IGNORE/OR REPLACE *error* on intra-batch unique
    # duplicates that MySQL skips/replaces row-at-a-time, so the
    # oracle can't model them (the engine's MySQL-faithful chain
    # semantics are pinned by unit tests instead)
    if unique_b:
        bpool = rng.sample([v for v in B_VALS if v is not None], n)
        bvals = [None if rng.random() < 0.2 else bpool[i]
                 for i in range(n)]  # NULLs never conflict
    else:
        bvals = [rng.choice(B_VALS) for _ in range(n)]
    out = []
    for j, i in enumerate(ids):
        vals = []
        for c in cols:
            if c == "id":
                vals.append(str(i))
            elif c == "a":
                vals.append(_lit(rng.choice(A_VALS)))
            else:
                vals.append(_lit(bvals[j]))
        out.append("(" + ", ".join(vals) + ")")
    return ", ".join(out)


def _a_expr(rng: random.Random) -> tuple[str, str]:
    k = rng.randint(-3, 5)
    return rng.choice([
        (f"a + {k}", f"a + {k}"),
        (f"{k}", f"{k}"),
        ("NULL", "NULL"),
        ("a * 2", "a * 2"),
        ("-a", "-a"),
        ("a % 7", "a % 7"),
    ])


def _b_expr(rng: random.Random) -> tuple[str, str]:
    lit = _lit(rng.choice([v for v in B_VALS if v is not None]))
    return rng.choice([
        ("UPPER(b)", "UPPER(b)"),
        ("LOWER(b)", "LOWER(b)"),
        (f"CONCAT(b, {lit})", f"b || {lit}"),
        ("NULL", "NULL"),
        (lit, lit),
        ("SUBSTRING(b, 1, 2)", "SUBSTRING(b, 1, 2)"),
    ])


def _pred(rng: random.Random, depth: int = 0) -> str:
    # identical text works in both dialects (see contract)
    leaf = rng.choice([
        lambda: f"id % {rng.randint(2, 4)} = {rng.randint(0, 2)}",
        lambda: f"a > {rng.randint(-3, 8)}",
        lambda: f"a <= {rng.randint(-3, 8)}",
        lambda: "a IS NULL",
        lambda: "a IS NOT NULL",
        lambda: f"b LIKE '{rng.choice(['a', 'ab', 'x', 'z'])}%'",
        lambda: "b = ''",
        lambda: f"id BETWEEN {rng.randint(0, 7)} AND {rng.randint(7, 14)}",
        lambda: f"id IN ({', '.join(str(i) for i in rng.sample(IDS, 3))})",
    ])
    if depth < 1 and rng.random() < 0.4:
        op = rng.choice(["AND", "OR"])
        return f"({_pred(rng, depth + 1)}) {op} ({_pred(rng, depth + 1)})"
    if rng.random() < 0.15:
        return f"NOT ({leaf()})"
    return leaf()


def _ck_rows(rng: random.Random, cols: list[str]) -> str:
    n = rng.randint(1, 4)
    keys = rng.sample(CK_KEYS, n)  # (a,b) unique within the batch
    out = []
    for a, b in keys:
        vals = []
        for c in cols:
            if c == "a":
                vals.append(str(a))
            elif c == "b":
                vals.append(str(b))
            elif c == "v":
                vals.append(_lit(rng.choice(A_VALS)))
            else:
                vals.append(_lit(rng.choice(B_VALS)))
        out.append("(" + ", ".join(vals) + ")")
    return ", ".join(out)


def _ck_pred(rng: random.Random, depth: int = 0) -> str:
    leaf = rng.choice([
        lambda: f"a = {rng.randint(0, 3)}",
        lambda: f"b >= {rng.randint(0, 3)}",
        lambda: f"v > {rng.randint(-3, 8)}",
        lambda: "v IS NULL",
        lambda: "v IS NOT NULL",
        lambda: f"a + b <= {rng.randint(0, 6)}",
        lambda: f"s LIKE '{rng.choice(['a', 'x', 'z'])}%'",
    ])
    if depth < 1 and rng.random() < 0.35:
        op = rng.choice(["AND", "OR"])
        return f"({_ck_pred(rng, depth + 1)}) {op} " \
               f"({_ck_pred(rng, depth + 1)})"
    return leaf()


def _ck_order(rng: random.Random) -> str:
    # total order: the key columns break every tie; NULL-sensitive
    # sort keys are COALESCE-wrapped (MySQL/Spark sort NULLs first
    # ASC, DuckDB last — a constant fill sidesteps the divergence)
    core = rng.choice([
        "COALESCE(v, -999) DESC", "COALESCE(v, -999) ASC",
        "b DESC", "a ASC", "a + b DESC",
    ])
    return f"{core}, a, b"


def gen_statement_ck(rng: random.Random, table: str) -> tuple[str, str]:
    """One (mysql_sql, duckdb_sql) pair over the composite-PK table."""
    kind = rng.choices(
        ["insert", "ignore", "replace", "on_dup", "update", "delete",
         "update_limit", "delete_limit"],
        weights=[3, 2, 2, 2, 3, 2, 3, 3],
    )[0]
    if kind == "insert":
        rows = _ck_rows(rng, ["a", "b", "v", "s"])
        return (f"INSERT INTO {table} VALUES {rows}",) * 2
    if kind == "ignore":
        rows = _ck_rows(rng, ["a", "b", "v", "s"])
        return (f"INSERT IGNORE INTO {table} VALUES {rows}",
                f"INSERT OR IGNORE INTO {table} VALUES {rows}")
    if kind == "replace":
        rows = _ck_rows(rng, ["a", "b", "v", "s"])
        return (f"REPLACE INTO {table} VALUES {rows}",
                f"INSERT OR REPLACE INTO {table} VALUES {rows}")
    if kind == "on_dup":
        rows = _ck_rows(rng, ["a", "b", "v", "s"])
        my, du = rng.choice([
            ("v = VALUES(v)", "v = excluded.v"),
            ("v = VALUES(v) + 1", "v = excluded.v + 1"),
            ("v = v + VALUES(v)", "v = v + excluded.v"),
            ("s = VALUES(s)", "s = excluded.s"),
        ])
        return (
            f"INSERT INTO {table} VALUES {rows} "
            f"ON DUPLICATE KEY UPDATE {my}",
            f"INSERT INTO {table} VALUES {rows} "
            f"ON CONFLICT (a, b) DO UPDATE SET {du}",
        )
    if kind in ("update", "update_limit"):
        m, d = _a_expr(rng)
        sets_my, sets_du = [f"v = {m.replace('a', 'v')}"], \
                           [f"v = {d.replace('a', 'v')}"]
        if rng.random() < 0.4:
            lit = _lit(rng.choice([x for x in B_VALS if x is not None]))
            sets_my.append(f"s = CONCAT(s, {lit})")
            sets_du.append(f"s = s || {lit}")
        pred = _ck_pred(rng)
        if kind == "update":
            return (
                f"UPDATE {table} SET {', '.join(sets_my)} WHERE {pred}",
                f"UPDATE {table} SET {', '.join(sets_du)} WHERE {pred}",
            )
        n = rng.randint(1, 3)
        order = _ck_order(rng)
        # (a, b) packs injectively into a*10+b (keys are 0..3):
        # DuckDB has no tuple-IN-subquery form
        return (
            f"UPDATE {table} SET {', '.join(sets_my)} WHERE {pred} "
            f"ORDER BY {order} LIMIT {n}",
            f"UPDATE {table} SET {', '.join(sets_du)} "
            f"WHERE a * 10 + b IN "
            f"(SELECT a * 10 + b FROM {table} WHERE {pred} "
            f"ORDER BY {order} LIMIT {n})",
        )
    pred = _ck_pred(rng)
    if kind == "delete":
        return (f"DELETE FROM {table} WHERE {pred}",) * 2
    n = rng.randint(1, 3)
    order = _ck_order(rng)
    return (
        f"DELETE FROM {table} WHERE {pred} "
        f"ORDER BY {order} LIMIT {n}",
        f"DELETE FROM {table} WHERE a * 10 + b IN "
        f"(SELECT a * 10 + b FROM {table} WHERE {pred} "
        f"ORDER BY {order} LIMIT {n})",
    )


def gen_sequence_ck(rng: random.Random, table: str,
                    n_stmts: int = 8) -> list[tuple[str, str]]:
    seed = _ck_rows(rng, ["a", "b", "v", "s"])
    seq = [(f"INSERT INTO {table} VALUES {seed}",) * 2]
    for _ in range(n_stmts - 1):
        seq.append(gen_statement_ck(rng, table))
    return seq


def gen_multi_statement(rng: random.Random, t1: str,
                        t2: str) -> tuple[str, str]:
    """Multi-table UPDATE/DELETE pair: MySQL's JOIN forms vs DuckDB's
    UPDATE … FROM / DELETE … USING. t2 is PK-keyed so the join is 1:1
    (MySQL updates a multi-matched row once with an arbitrary match —
    not oracle-able)."""
    pred = rng.choice([
        lambda: f"{t2}.k > {rng.randint(-3, 8)}",
        lambda: f"{t1}.a IS NOT NULL",
        lambda: f"{t1}.id % {rng.randint(2, 3)} = 0",
        lambda: None,
    ])()
    if rng.random() < 0.6:
        expr_my, expr_du = rng.choice([
            (f"{t2}.k + 1", f"{t2}.k + 1"),
            (f"{t1}.a + {t2}.k", f"{t1}.a + {t2}.k"),
            (f"{rng.randint(-2, 9)}", None),
            ("NULL", None),
        ])
        expr_du = expr_du or expr_my
        wm = f" WHERE {pred}" if pred else ""
        wd = f" AND {pred}" if pred else ""
        return (
            f"UPDATE {t1} JOIN {t2} ON {t1}.id = {t2}.id "
            f"SET {t1}.a = {expr_my}{wm}",
            f"UPDATE {t1} SET a = {expr_du} FROM {t2} "
            f"WHERE {t1}.id = {t2}.id{wd}",
        )
    wm = f" WHERE {pred}" if pred else ""
    wd = f" AND {pred}" if pred else ""
    return (
        f"DELETE {t1} FROM {t1} JOIN {t2} ON {t1}.id = {t2}.id{wm}",
        f"DELETE FROM {t1} USING {t2} WHERE {t1}.id = {t2}.id{wd}",
    )


def gen_statement(rng: random.Random, table: str,
                  with_unique: bool = False) -> tuple[str, str]:
    """One (mysql_sql, duckdb_sql) pair."""
    kind = rng.choices(
        ["insert", "insert_cols", "ignore", "replace", "on_dup",
         "update", "delete"],
        weights=([3, 1, 4, 0, 0, 3, 2] if with_unique
                 else [3, 1, 2, 2, 2, 4, 2]),
    )[0]
    if kind == "insert":
        rows = _rows_sql(rng, ["id", "a", "b"], with_unique)
        return (f"INSERT INTO {table} VALUES {rows}",
                f"INSERT INTO {table} VALUES {rows}")
    if kind == "insert_cols":
        rows = _rows_sql(rng, ["id", "b"], with_unique)
        return (f"INSERT INTO {table} (id, b) VALUES {rows}",
                f"INSERT INTO {table} (id, b) VALUES {rows}")
    if kind == "ignore":
        rows = _rows_sql(rng, ["id", "a", "b"], with_unique)
        return (f"INSERT IGNORE INTO {table} VALUES {rows}",
                f"INSERT OR IGNORE INTO {table} VALUES {rows}")
    if kind == "replace":
        rows = _rows_sql(rng, ["id", "a", "b"], with_unique)
        return (f"REPLACE INTO {table} VALUES {rows}",
                f"INSERT OR REPLACE INTO {table} VALUES {rows}")
    if kind == "on_dup":
        rows = _rows_sql(rng, ["id", "a", "b"], with_unique)
        my, du = rng.choice([
            ("a = VALUES(a)", "a = excluded.a"),
            ("a = VALUES(a) + 1", "a = excluded.a + 1"),
            ("a = a + VALUES(a)", "a = a + excluded.a"),
            ("b = VALUES(b)", "b = excluded.b"),
        ])
        return (
            f"INSERT INTO {table} VALUES {rows} "
            f"ON DUPLICATE KEY UPDATE {my}",
            f"INSERT INTO {table} VALUES {rows} "
            f"ON CONFLICT (id) DO UPDATE SET {du}",
        )
    if kind == "update":
        sets_my, sets_du = [], []
        if with_unique or rng.random() < 0.7:
            m, d = _a_expr(rng)
            sets_my.append(f"a = {m}")
            sets_du.append(f"a = {d}")
        if not with_unique and (not sets_my or rng.random() < 0.5):
            m, d = _b_expr(rng)
            sets_my.append(f"b = {m}")
            sets_du.append(f"b = {d}")
        where = "" if rng.random() < 0.1 else f" WHERE {_pred(rng)}"
        return (f"UPDATE {table} SET {', '.join(sets_my)}{where}",
                f"UPDATE {table} SET {', '.join(sets_du)}{where}")
    where = "" if rng.random() < 0.1 else f" WHERE {_pred(rng)}"
    return (f"DELETE FROM {table}{where}", f"DELETE FROM {table}{where}")


def gen_sequence(rng: random.Random, table: str, n_stmts: int = 8,
                 with_unique: bool = False) -> list[tuple[str, str]]:
    # IGNORE-seed under the unique variant: random seed batches often
    # repeat a b value, which plain INSERT correctly rejects in both
    # engines — start from the skip semantics instead of an empty run
    if with_unique:
        seed_rows = _rows_sql(rng, ["id", "a", "b"], with_unique)
        seq = [(f"INSERT IGNORE INTO {table} VALUES {seed_rows}",
                f"INSERT OR IGNORE INTO {table} VALUES {seed_rows}")]
    else:
        seed_rows = _rows_sql(rng, ["id", "a", "b"], with_unique)
        seq = [(f"INSERT INTO {table} VALUES {seed_rows}",
                f"INSERT INTO {table} VALUES {seed_rows}")]
    for _ in range(n_stmts - 1):
        seq.append(gen_statement(rng, table, with_unique))
    return seq


def gen_sequence_multi(rng: random.Random, table: str,
                       n_stmts: int = 8) -> list[tuple[str, str]]:
    """Sequence over (table, table_r): single-table statements on the
    target interleaved with multi-table JOIN UPDATE/DELETEs against
    the PK-keyed reference table."""
    t2 = f"{table}_r"
    seed = _rows_sql(rng, ["id", "a", "b"])
    seq = [(f"INSERT INTO {table} VALUES {seed}",
            f"INSERT INTO {table} VALUES {seed}")]
    for _ in range(n_stmts - 1):
        if rng.random() < 0.4:
            seq.append(gen_multi_statement(rng, table, t2))
        else:
            seq.append(gen_statement(rng, table, with_unique=False))
    return seq


# reference-table seed for the multi-table axis: PK-keyed, covers a
# strict subset of IDS (unmatched target rows must survive joins), k
# spans negatives/zero/NULL
_REF_ROWS = ("(0,5), (1,-2), (2,NULL), (3,7), (5,0), (7,3), (8,-1), "
             "(10,13), (12,2), (14,-5)")


def apply_pair(eng, duck, table: str, pairs: list[tuple[str, str]],
               with_unique: bool = False,
               multi: bool = False, ck: bool = False) -> tuple[bool, str]:
    """Run one generated sequence through both engines on a FRESH
    table; compare per-statement error flags and the final state.
    Returns (ok, detail)."""
    import duckdb as _dd

    if ck:
        my_schema, du_schema = MYSQL_SCHEMA_CK, DUCK_SCHEMA_CK
        state_cols = "a, b, v, s"
    else:
        my_schema = MYSQL_SCHEMA_U if with_unique else MYSQL_SCHEMA
        du_schema = DUCK_SCHEMA_U if with_unique else DUCK_SCHEMA
        state_cols = "id, a, b"
    eng.execute(f"DROP TABLE IF EXISTS {table}")
    duck.execute(f"DROP TABLE IF EXISTS {table}")
    eng.execute(f"CREATE TABLE {table} {my_schema}")
    duck.execute(f"CREATE TABLE {table} {du_schema}")
    if multi:
        t2 = f"{table}_r"
        for conn, exe in ((eng, eng.execute), (duck, duck.execute)):
            exe(f"DROP TABLE IF EXISTS {t2}")
            exe(f"CREATE TABLE {t2} (id INTEGER PRIMARY KEY, k INTEGER)")
            exe(f"INSERT INTO {t2} VALUES {_REF_ROWS}")
    try:
        for i, (my, du) in enumerate(pairs):
            err_m = err_d = None
            try:
                eng.execute(my)
            except NotImplementedError:
                raise
            except Exception as e:  # noqa: BLE001 — oracle comparison
                err_m = e
            try:
                duck.execute(du)
            except _dd.Error as e:
                # DuckDB quirk: OR IGNORE errors with "can not update
                # the same row twice" when two batch rows conflict with
                # the SAME stored row (MySQL just skips both). Re-apply
                # row-by-row — exactly MySQL's sequential semantics.
                if ("same row twice" in str(e)
                        and du.upper().startswith("INSERT OR IGNORE")
                        and "), (" in du):
                    head, vals = du.split(" VALUES ", 1)
                    for tup in vals.split("), ("):
                        tup = "(" + tup.strip().strip("()") + ")"
                        duck.execute(f"{head} VALUES {tup}")
                else:
                    err_d = e
            if (err_m is None) != (err_d is None):
                return False, (
                    f"stmt {i} error divergence: engine="
                    f"{type(err_m).__name__ if err_m else 'ok'}"
                    f"({str(err_m)[:80] if err_m else ''}) duckdb="
                    f"{type(err_d).__name__ if err_d else 'ok'}"
                    f"({str(err_d)[:80] if err_d else ''}) :: {my}"
                )
        mine = sorted(
            tuple(r)
            for r in eng.execute(
                f"SELECT {state_cols} FROM {table}").collect()
        )
        theirs = sorted(
            tuple(r) for r in duck.execute(
                f"SELECT {state_cols} FROM {table}").fetchall()
        )
        if mine != theirs:
            return False, f"final state: engine={mine} duckdb={theirs}"
        return True, ""
    finally:
        eng.execute(f"DROP TABLE IF EXISTS {table}")
        duck.execute(f"DROP TABLE IF EXISTS {table}")
        if multi:
            eng.execute(f"DROP TABLE IF EXISTS {table}_r")
            duck.execute(f"DROP TABLE IF EXISTS {table}_r")


def shrink(eng, duck, table: str, pairs: list[tuple[str, str]],
           with_unique: bool = False,
           multi: bool = False, ck: bool = False) -> list[tuple[str, str]]:
    """Greedy delta-debugging: drop statements while the divergence
    persists (statement 0 re-seeds, so any subset is still runnable)."""
    cur = list(pairs)
    changed = True
    while changed:
        changed = False
        for i in range(len(cur) - 1, -1, -1):
            cand = cur[:i] + cur[i + 1:]
            if not cand:
                continue
            ok, _ = apply_pair(
                eng, duck, table, cand, with_unique, multi, ck)
            if not ok:
                cur = cand
                changed = True
    return cur


# ---------------------------------------------------------------------------
# ON DUPLICATE KEY batch-vs-rowwise axis. DuckDB cannot oracle MySQL's
# intra-batch duplicate-key chains (ON CONFLICT is one target, set
# semantics) — but MySQL DEFINES the batch as the sequential
# composition of its rows, so the engine's own single-row statements
# (no intra-batch chains) replayed row-by-row ARE the oracle for the
# batch's chain walk. Divergence means the walk is wrong. (Literal
# batches of both shapes run the driver-resolved tier; its agreement
# with the join-based tier is tests/test_upsert_driver.py's axis.)

def gen_on_dup_batch(rng: random.Random, table: str,
                     with_unique: bool = False
                     ) -> tuple[str, str, list[str]]:
    """(seed_sql, batch_sql, row_sqls): a seeded table, one ON
    DUPLICATE batch with intra-batch duplicate keys likely, and the
    same rows as single-row statements."""
    seed_ids = rng.sample(IDS, rng.randint(1, 4))
    bpool = [v for v in B_VALS if v is not None]
    seed_bs = rng.sample(bpool, len(seed_ids))
    seed_rows = ", ".join(
        f"({i}, {_lit(rng.choice(A_VALS))}, "
        f"{_lit(None if (not with_unique and rng.random() < 0.2) else seed_bs[j])})"
        for j, i in enumerate(seed_ids)
    )
    seed = f"INSERT INTO {table} VALUES {seed_rows}"

    n = rng.randint(2, 6)
    ids = [rng.choice(IDS[:8]) for _ in range(n)]  # duplicates likely
    if with_unique:
        # duplicate b values likely too: chains via the UNIQUE index
        bvals = [rng.choice(bpool[:4] + [None]) for _ in range(n)]
        assign = rng.choice([
            "a = VALUES(a)",
            "a = a + VALUES(a)",
            "a = COALESCE(a, 0) + COALESCE(VALUES(a), 0)",
            "a = VALUES(a) + 1",
        ])
    else:
        bvals = [rng.choice(B_VALS) for _ in range(n)]
        assign = rng.choice([
            "a = VALUES(a)",
            "a = a + VALUES(a)",
            "a = COALESCE(a, 0) + COALESCE(VALUES(a), 0)",
            "b = VALUES(b)",
            "b = CONCAT(VALUES(b), b)",
            "a = VALUES(a), b = VALUES(b)",
        ])
    rows = [
        f"({ids[i]}, {_lit(rng.choice(A_VALS))}, {_lit(bvals[i])})"
        for i in range(n)
    ]
    batch = (f"INSERT INTO {table} VALUES {', '.join(rows)} "
             f"ON DUPLICATE KEY UPDATE {assign}")
    singles = [
        f"INSERT INTO {table} VALUES {r} ON DUPLICATE KEY UPDATE {assign}"
        for r in rows
    ]
    return seed, batch, singles


def apply_batch_vs_rowwise(eng, table: str, seed: str, batch: str,
                           singles: list[str],
                           with_unique: bool = False) -> tuple[bool, str]:
    """Run the batch on one fresh table and the single-row replay on
    another; final state AND total affected-rows must agree (MySQL:
    the batch's affected-rows is the sum of its rows' 1/2/0)."""
    schema = MYSQL_SCHEMA_U if with_unique else MYSQL_SCHEMA

    def run(stmts):
        eng.execute(f"DROP TABLE IF EXISTS {table}")
        eng.execute(f"CREATE TABLE {table} {schema}")
        eng.execute(seed)
        aff, err = 0, None
        for s in stmts:
            try:
                aff += eng.execute(s).affected_rows
            except NotImplementedError:
                raise
            except Exception as e:  # noqa: BLE001 — differential probe
                err = type(e).__name__
        state = sorted(
            (r[0], r[1], r[2])
            for r in eng.execute(f"SELECT id, a, b FROM {table}").collect()
        )
        eng.execute(f"DROP TABLE IF EXISTS {table}")
        return aff, err, state

    aff_b, err_b, state_b = run([batch])
    aff_s, err_s, state_s = run(singles)
    if err_b or err_s:
        return False, f"unexpected error: batch={err_b} rowwise={err_s}"
    if state_b != state_s:
        return False, (f"state divergence:\n  batch  ={state_b}\n"
                       f"  rowwise={state_s}\n  batch sql: {batch}")
    if aff_b != aff_s:
        return False, (f"affected-rows divergence: batch={aff_b} "
                       f"rowwise={aff_s} :: {batch}")
    return True, ""


# ---------------------------------------------------------------------------
# Trigger-bearing DML axis (round 8). DuckDB has no triggers, so the
# oracle EMULATES them: every generated statement ships with a
# companion audit statement that reproduces what the trigger must have
# written — VALUES for inserts (all rows land or the statement
# errors atomically in both engines), a pre-image SELECT with the
# assignment expression inlined for updates, and a pre-image SELECT
# for deletes. Divergence in either the base table or the audit trail
# means the trigger machinery (firing, row images, per-row
# multiplicity, atomicity with PK enforcement) is wrong.

TRIG_SCHEMA_MY = "(id INT PRIMARY KEY, a INT)"
TRIG_SCHEMA_DU = "(id INTEGER PRIMARY KEY, a INTEGER)"
AUD_SCHEMA_MY = "(op VARCHAR(4), rid INT, ra INT)"
AUD_SCHEMA_DU = "(op VARCHAR, rid INTEGER, ra INTEGER)"


def trigger_ddl(table: str) -> list[str]:
    aud = f"{table}_aud"
    return [
        f"CREATE TRIGGER tg_{table}_i AFTER INSERT ON {table} "
        f"FOR EACH ROW INSERT INTO {aud} VALUES ('i', NEW.id, NEW.a)",
        f"CREATE TRIGGER tg_{table}_u AFTER UPDATE ON {table} "
        f"FOR EACH ROW INSERT INTO {aud} VALUES ('u', NEW.id, NEW.a)",
        f"CREATE TRIGGER tg_{table}_d AFTER DELETE ON {table} "
        f"FOR EACH ROW INSERT INTO {aud} VALUES ('d', OLD.id, OLD.a)",
    ]


def _trig_pred(rng: random.Random) -> str:
    return rng.choice([
        lambda: f"id % {rng.randint(2, 4)} = {rng.randint(0, 2)}",
        lambda: f"a > {rng.randint(-3, 8)}",
        lambda: f"a <= {rng.randint(-3, 8)}",
        lambda: "a IS NULL",
        lambda: "a IS NOT NULL",
        lambda: f"id BETWEEN {rng.randint(0, 7)} AND {rng.randint(7, 14)}",
    ])()


def gen_sequence_triggered(rng: random.Random, table: str,
                           n_stmts: int = 8) -> list[tuple]:
    """Items are (my_sql, duck_stmts, comp_after): duck_stmts run in
    order; when comp_after is True the LAST duck statement is the
    audit companion and is skipped if the main statement errored
    (statement atomicity: a failed INSERT fires no trigger)."""
    aud = f"{table}_aud"
    out = []
    for i in range(n_stmts):
        kind = rng.choices(["insert", "update", "delete"],
                           weights=[4, 3, 2])[0] if i else "insert"
        if kind == "insert":
            n = rng.randint(1, 4)
            ids = rng.sample(IDS, n)
            rows = [(j, rng.choice(A_VALS)) for j in ids]
            vals = ", ".join(f"({j}, {_lit(a)})" for j, a in rows)
            comp = (f"INSERT INTO {aud} VALUES "
                    + ", ".join(f"('i', {j}, {_lit(a)})" for j, a in rows))
            out.append((
                f"INSERT INTO {table} VALUES {vals}",
                [f"INSERT INTO {table} VALUES {vals}", comp],
                True,
            ))
        elif kind == "update":
            expr, _ = _a_expr(rng)
            p = _trig_pred(rng)
            comp = (f"INSERT INTO {aud} SELECT 'u', id, {expr} "
                    f"FROM {table} WHERE {p}")
            out.append((
                f"UPDATE {table} SET a = {expr} WHERE {p}",
                [comp, f"UPDATE {table} SET a = {expr} WHERE {p}"],
                False,
            ))
        else:
            p = _trig_pred(rng)
            comp = (f"INSERT INTO {aud} SELECT 'd', id, a "
                    f"FROM {table} WHERE {p}")
            out.append((
                f"DELETE FROM {table} WHERE {p}",
                [comp, f"DELETE FROM {table} WHERE {p}"],
                False,
            ))
    return out


def apply_triggered_pair(eng, duck, table: str,
                         seq: list[tuple]) -> tuple[bool, str]:
    """Engine runs real triggers; DuckDB runs the emulation. Compare
    per-statement error flags, the base table AND the audit trail."""
    import duckdb as _dd

    aud = f"{table}_aud"
    for exe, tmy, tdu, amy, adu in (
        (eng.execute, TRIG_SCHEMA_MY, None, AUD_SCHEMA_MY, None),
        (duck.execute, None, TRIG_SCHEMA_DU, None, AUD_SCHEMA_DU),
    ):
        exe(f"DROP TABLE IF EXISTS {table}")
        exe(f"DROP TABLE IF EXISTS {aud}")
        exe(f"CREATE TABLE {table} {tmy or tdu}")
        exe(f"CREATE TABLE {aud} {amy or adu}")
    for ddl in trigger_ddl(table):
        eng.execute(ddl)
    try:
        for i, (my, du_stmts, comp_after) in enumerate(seq):
            err_m = err_d = None
            try:
                eng.execute(my)
            except NotImplementedError:
                raise
            except Exception as e:  # noqa: BLE001 — oracle comparison
                err_m = e
            main_idx = 0 if comp_after else len(du_stmts) - 1
            for j, du in enumerate(du_stmts):
                if j != main_idx and err_d is not None:
                    continue  # companion skipped after a failed main
                try:
                    duck.execute(du)
                except _dd.Error as e:
                    if j == main_idx:
                        err_d = e
                    else:
                        raise  # companions must never error
            if (err_m is None) != (err_d is None):
                return False, (
                    f"stmt {i} error divergence: engine="
                    f"{type(err_m).__name__ if err_m else 'ok'} duckdb="
                    f"{type(err_d).__name__ if err_d else 'ok'} :: {my}"
                )
        def _key(t):
            return tuple((v is None, 0 if v is None else v) for v in t)

        mine_t = sorted(
            ((r[0], r[1]) for r in
             eng.execute(f"SELECT id, a FROM {table}").collect()),
            key=_key,
        )
        theirs_t = sorted(
            (tuple(r) for r in duck.execute(
                f"SELECT id, a FROM {table}").fetchall()), key=_key)
        if mine_t != theirs_t:
            return False, f"base state: engine={mine_t} duckdb={theirs_t}"
        mine_a = sorted(
            ((r[0], r[1], r[2]) for r in
             eng.execute(f"SELECT op, rid, ra FROM {aud}").collect()),
            key=_key,
        )
        theirs_a = sorted(
            (tuple(r) for r in duck.execute(
                f"SELECT op, rid, ra FROM {aud}").fetchall()), key=_key)
        if mine_a != theirs_a:
            return False, (f"audit trail: engine={mine_a} "
                           f"duckdb={theirs_a}")
        return True, ""
    finally:
        for tg in (f"tg_{table}_i", f"tg_{table}_u", f"tg_{table}_d"):
            eng.execute(f"DROP TRIGGER IF EXISTS {tg}")
        eng.execute(f"DROP TABLE IF EXISTS {table}")
        eng.execute(f"DROP TABLE IF EXISTS {aud}")
        duck.execute(f"DROP TABLE IF EXISTS {table}")
        duck.execute(f"DROP TABLE IF EXISTS {aud}")
