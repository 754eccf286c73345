#!/usr/bin/env python3
"""Self-tests of the benchmark's correctness checks, at a tiny scale.

    python3 perfbench/selftest.py

Each workload's check must accept a right answer and reject a wrong
one: one changed or missing row of an ``olap_read`` result; a wrong
affected-rows count, read-back row or end-state row in ``oltp_write``;
one dropped event in ``cdc_apply``. The right answers are computed a
second way, in plain Python, so the DuckDB references are checked too.
Needs DuckDB, numpy and pyarrow only (no Spark). Exits 0 when all pass.
"""

from __future__ import annotations

import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, "_work")
sys.path.insert(0, HERE)

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import inputs  # noqa: E402
import reference  # noqa: E402
from queries import QUERIES  # noqa: E402

SEED = 5


def _expect(cond: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


def _table_fingerprint(rows: dict[int, tuple]) -> list[int]:
    con = duckdb.connect()
    cols = list(zip(*rows.values())) if rows else [[]] * 6
    types = (pa.int64(), pa.int64(), pa.int32(), pa.int64(), pa.float64(),
             pa.string())
    con.register("t", pa.table({c: pa.array(v, t) for c, v, t in
                                zip(checks.KEY_COLS, cols, types)}))
    return list(checks.fingerprint_duckdb(con, "t"))


def _base_rows(path: str) -> dict[int, tuple]:
    t = pq.read_table(path)
    return {r[0]: r for r in zip(*(t.column(c).to_pylist()
                                   for c in checks.KEY_COLS))}


def test_olap(work: str, failures: list[str]) -> None:
    paths = inputs.gen_tpch(SEED, os.path.join(work, "tpch"), scale=0.01)
    script = {"tables": reference._tables(paths)}
    con = checks.duckdb_tables(paths)
    for i, (name, sql) in enumerate(QUERIES.items()):
        table = con.execute(sql).arrow()
        got = checks.rows_of(table)
        variants = {"the right result passes": (table, True)}
        if got:
            cols = [table.column(c).to_pylist()
                    for c in range(table.num_columns)]
            v = cols[-1][-1]
            cols[-1][-1] = (not v if isinstance(v, bool) else f"{v}x"
                            if isinstance(v, str) else v + type(v - v)(1))
            variants["one changed value is rejected"] = (pa.table(
                cols, schema=table.schema), False)
            variants["one missing row is rejected"] = (table.slice(1), False)
        for what, (t, ok) in variants.items():
            path = os.path.join(work, f"r{i}.arrow")
            with pa.OSFile(path, "wb") as f, \
                    pa.ipc.new_file(f, t.schema) as w:
                w.write_table(t)
            bad = reference.check_olap(
                script, {"results": [[name, "mysql", path]]})
            _expect(not bad if ok else bool(bad),
                    f"olap_read {name}: {what}", failures)


def test_oltp(work: str, failures: list[str]) -> None:
    script = reference.gen_oltp(SEED, 6, work, rows=2_000)
    ops = script["warmup"] + [o for r in script["rounds"] for o in r]
    # the same statements applied to a dict, row by row
    rows = _base_rows(script["tables"]["kv"]["path"])
    for op in ops:
        if op["kind"] == "delete":
            rows.pop(op["key"])
        elif op["kind"] == "update":
            _, _, _, qty, val, note = op["row"]
            rows[op["key"]] = rows[op["key"]][:3] + (qty, val, note)
        else:
            rows[op["key"]] = tuple(op["row"])

    def check(rows_seen):
        return reference.check_oltp(script, {
            "applied": ops, "fingerprints": {"kv": _table_fingerprint(
                rows_seen)}})

    _expect(not check(rows), "oltp_write: the right end state passes",
            failures)
    k = next(iter(rows))
    wrong = dict(rows)
    wrong[k] = wrong[k][:3] + (wrong[k][3] + 1,) + wrong[k][4:]
    _expect(bool(check(wrong)),
            "oltp_write: one changed end-state row is rejected", failures)
    wrong = dict(rows)
    wrong.pop(k)
    _expect(bool(check(wrong)),
            "oltp_write: one missing end-state row is rejected", failures)
    for kind, n in checks.AFFECTED.items():
        _expect(checks.check_affected(kind, n) is None
                and checks.check_affected(kind, 3 - n) is not None,
                f"oltp_write {kind}: affected rows {n} passes, "
                f"{3 - n} is rejected", failures)
    row = tuple(ops[-1]["row"])
    _expect(checks.check_readback("replace", row, [row]) is None
            and checks.check_readback("replace", row, [row[:3] + (
                row[3] + 1,) + row[4:]]) is not None
            and checks.check_readback("delete", None, [row]) is not None,
            "oltp_write: a wrong read-back row is rejected", failures)


def test_cdc(work: str, failures: list[str]) -> None:
    script = reference.gen_cdc(SEED, 3, work, work, sizes=(3_000, 300),
                               batch=700, warm_batch=50)
    events = reference.load_events(work, script)
    seqs = [e[0] for evs in events.values() for e in evs]
    _expect(sorted(seqs) == list(range(1, script["events"] + 1)),
            "cdc_apply: every generated event is loaded once", failures)
    shapes = set()
    for evs in events.values():
        by_key: dict[int, list[int]] = {}
        for e in sorted(evs):
            by_key.setdefault(e[2], []).append(e[1])
        for acts in by_key.values():
            shapes |= set(zip(acts, acts[1:]))
    for pair, what in (((2, 1), "insert -> update"),
                       ((2, 0), "insert -> delete"),
                       ((0, 2), "delete -> re-insert")):
        _expect(pair in shapes, f"cdc_apply: the feed holds {what} on one "
                "key", failures)

    def lww(name, evs):
        rows = _base_rows(script["tables"][name]["path"])
        for seq, action, *row in sorted(evs):
            if action == checks.ACTION_DELETE:
                rows.pop(row[0], None)
            else:
                rows[row[0]] = tuple(row)
        return rows

    def check(dropped=None, **over):
        fps = {n: _table_fingerprint(lww(n, [e for e in evs
                                             if e is not dropped]))
               for n, evs in events.items()}
        observed = {"fingerprints": fps, "flushed": script["events"],
                    "position": 99, "last_position": 99, **over}
        return reference.check_cdc(script, observed, work)

    _expect(not check(), "cdc_apply: the right end state and counts pass",
            failures)
    for name, evs in events.items():
        last = {}
        for e in evs:
            last[e[2]] = e
        for dropped in list(last.values())[:5]:
            _expect(bool(check(dropped)), f"cdc_apply {name}: dropping "
                    f"event seq {dropped[0]} is rejected", failures)
    _expect(bool(check(flushed=script["events"] - 1)),
            "cdc_apply: one event missing from the flushes is rejected",
            failures)
    _expect(bool(check(position=98)),
            "cdc_apply: a lagging replica position is rejected", failures)


def main() -> int:
    failures: list[str] = []
    os.makedirs(WORK, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=WORK, prefix="selftest-") as work:
        test_olap(work, failures)
        test_oltp(work, failures)
        test_cdc(work, failures)
    print(f"{len(failures)} failed" if failures else "all checks passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
