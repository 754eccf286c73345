"""Correctness checks of the benchmark, computed apart from the engine.

Expected answers come from DuckDB over the generated parquet files. The
functions here return ``None`` when an answer is right and a one-line
reason when it is wrong; ``selftest.py`` shows that each one rejects a
deliberately wrong answer.
"""

from __future__ import annotations

import datetime as dt
import math

import pyarrow as pa

# -------------------------------------------------------------- olap_read


def _norm(v):
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def rows_of(table: pa.Table) -> list[tuple]:
    """An Arrow result as a list of row tuples, timestamps made naive UTC."""
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return [tuple(_norm(v) for v in r) for r in zip(*cols)]


def compare_rows(expected: list[tuple], actual: list[tuple]) -> str | None:
    """Ordered row-by-row comparison; doubles to 1e-9 relative."""
    if len(expected) != len(actual):
        return f"{len(actual)} rows, expected {len(expected)}"
    for i, (e, a) in enumerate(zip(expected, actual)):
        if len(e) != len(a):
            return f"row {i}: {len(a)} columns, expected {len(e)}"
        if not all(_same(x, y) for x, y in zip(e, a)):
            return f"row {i}: {a!r}, expected {e!r}"
    return None


def duckdb_tables(paths: dict[str, str]):
    """An in-memory DuckDB with one view per generated parquet file."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, path in paths.items():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


# ------------------------------------------------- keyed tables (writes)

KEY_COLS = ("id", "uk", "grp", "qty", "val", "note")

# Bytes of one keyed row in plain encoding (8 per BIGINT and DOUBLE, 4 per
# INT, 4 + length per two-letter string): the "user bytes" of a changed
# row in ``catalog.write_amp``.
KEYED_ROW_BYTES = 8 + 8 + 4 + 8 + 8 + (4 + 2)

# One row of exact integers per table: count, key and value sums, and
# key-weighted sums so that a moved or swapped value changes the result.
# ``val`` has two decimals and ``note`` is 'n' or 'u' plus one digit.
FINGERPRINT_SQL = (
    "SELECT COUNT(*) AS n, SUM(id) AS s_id, SUM(uk) AS s_uk, "
    "SUM(grp) AS s_grp, SUM(qty) AS s_qty, SUM(id * qty) AS s_idqty, "
    "SUM(CAST(ROUND(val * 100) AS BIGINT)) AS s_val, "
    "SUM(id * CAST(ROUND(val * 100) AS BIGINT) % 1000003) AS s_idval, "
    "SUM(id * CAST(SUBSTR(note, 2) AS BIGINT)) AS s_note, "
    "SUM(CASE WHEN SUBSTR(note, 1, 1) = 'u' THEN id ELSE 0 END) AS s_touched "
    "FROM {table}"
)


def fingerprint_duckdb(con, table: str) -> tuple:
    return tuple(int(v or 0) for v in
                 con.execute(FINGERPRINT_SQL.format(table=table)).fetchone())


def compare_fingerprint(expected: tuple, actual: tuple) -> str | None:
    if tuple(expected) != tuple(actual):
        return f"fingerprint {tuple(actual)}, expected {tuple(expected)}"
    return None


def sql_row(row: tuple) -> str:
    """A keyed row as a SQL VALUES tuple (same text in every dialect)."""
    i, uk, grp, qty, val, note = row
    return f"({i}, {uk}, {grp}, {qty}, {val:.2f}, '{note}')"


# oltp_write statement kinds: expected affected rows (MySQL semantics:
# 1 per inserted/updated/deleted row, 2 per upsert or REPLACE that hit a
# row) and whether the statement leaves the row present.
AFFECTED = {"insert": 1, "update": 1, "delete": 1,
            "odku": 2, "on_conflict": 2, "replace": 2}


def check_affected(kind: str, got) -> str | None:
    want = AFFECTED[kind]
    if got != want:
        return f"{kind}: affected rows {got!r}, expected {want}"
    return None


def check_readback(kind: str, want: tuple | None, got: list[tuple]
                   ) -> str | None:
    """The point SELECT after a write: the written row, or no row after
    a DELETE. An UPDATE sets (qty, val, note) only, so ``want`` holds
    None for the columns it leaves alone."""
    if want is None:
        return None if not got else f"{kind}: deleted row still read {got}"
    if len(got) != 1:
        return f"{kind}: point read returned {len(got)} rows"
    for w, g in zip(want, got[0]):
        if w is not None and not _same(w, g):
            return f"{kind}: read back {got[0]}, expected {want}"
    return None


def replay_duckdb(con, table: str, stmts: list[dict]) -> None:
    """Apply oltp_write's statements to a DuckDB copy of the input.

    The copy has no key constraints, so each statement is replayed as
    the plain DML it must amount to: an upsert or REPLACE that hits a
    row becomes delete-by-key plus insert (UPDATE and REPLACE set every
    column, so either reading gives the same row)."""
    for s in stmts:
        k = s["key"]
        if s["kind"] == "insert":
            con.execute(f"INSERT INTO {table} VALUES {sql_row(s['row'])}")
        elif s["kind"] == "update":
            _, _, _, qty, val, note = s["row"]
            con.execute(f"UPDATE {table} SET qty = {qty}, val = {val:.2f}, "
                        f"note = '{note}' WHERE id = {k}")
        elif s["kind"] == "delete":
            con.execute(f"DELETE FROM {table} WHERE id = {k}")
        else:
            con.execute(f"DELETE FROM {table} WHERE id = {k}")
            con.execute(f"INSERT INTO {table} VALUES {sql_row(s['row'])}")


# ------------------------------------------------------------- cdc_apply

ACTION_DELETE, ACTION_UPDATE, ACTION_INSERT = 0, 1, 2


def lww_duckdb(con, table: str, base_path: str, events: list[tuple]
               ) -> None:
    """Create ``table`` = last-writer-wins application of ``events``
    (tuples ``(seq, action, id, uk, grp, qty, val, note)``) to the base
    parquet file: per key the event with the highest seq decides; a
    delete removes the row."""
    ev = pa.table({
        "seq": pa.array([e[0] for e in events], pa.int64()),
        "action": pa.array([e[1] for e in events], pa.int8()),
        **{c: pa.array([e[2 + i] for e in events],
                       (pa.int64(), pa.int64(), pa.int32(), pa.int64(),
                        pa.float64(), pa.string())[i])
           for i, c in enumerate(KEY_COLS)},
    })
    con.register("__ev", ev)
    con.execute(f"""
        CREATE OR REPLACE TABLE {table} AS
        WITH last AS (
            SELECT * FROM __ev
            QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC) = 1
        )
        SELECT b.* FROM read_parquet('{base_path}') b
        WHERE b.id NOT IN (SELECT id FROM last)
        UNION ALL
        SELECT {', '.join(KEY_COLS)} FROM last WHERE action <> {ACTION_DELETE}
    """)
    con.unregister("__ev")


def check_cdc_counts(appended: int, flushed_rows: int, position: int,
                     last_position: int, n_rows: int, expected_rows: int
                     ) -> str | None:
    """Every appended event went through a flush, the committed replica
    position is the last appended one, and the row count is the input
    count plus net inserts minus net deletes."""
    if flushed_rows != appended:
        return f"flushes applied {flushed_rows} events of {appended}"
    if position != last_position:
        return f"replica position {position}, last appended {last_position}"
    if n_rows != expected_rows:
        return f"{n_rows} rows, expected {expected_rows}"
    return None
