#!/usr/bin/env python3
"""The benchmark's work outside the measured process.

    python3 perfbench/reference.py gen <workload> <seed> <rounds> <work>
    python3 perfbench/reference.py check <workload> <work>

``gen`` writes one run's inputs under ``<work>/input`` and the script
the client replays, ``<work>/script.json``: the tables to load, the
warm-up operations and the operations of each timed round (for
``cdc_apply``, the event batches under ``<work>/events``). ``check``
reads the script and what the client observed, ``<work>/observed.json``,
computes the expected answers in DuckDB and prints one JSON list of
problems as its last line, empty when every answer is right.

``run.py`` starts ``gen`` before the Spark session and ``check`` after
the timed rounds, each as a child process, so that neither the input
generation nor the reference answers count in the measured process's
memory, and the reference answers do not count in its set-up time.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
from queries import QUERIES  # noqa: E402

# Input sizes (rows); OLAP_SCALE scales the TPC-H-shaped tables.
OLAP_SCALE = 0.5
OLTP_ROWS = 250_000
CDC_BIG_ROWS = 1_000_000
CDC_SMALL_ROWS = 10_000
CDC_BATCH = 5_000  # events per batch: more than one 4096-row flush
CDC_WARM_BATCH = 200  # the warm-up batch: one flush of both tables
CDC_TABLES = ("cdc_big", "cdc_small")
# Share of events for the large table. Provisional: no public trace
# gives the split between a large and a small replicated table.
CDC_BIG_SHARE = 0.7

def _tables(paths: dict[str, str]) -> dict:
    return {n: {"path": p, "rows": pq.read_metadata(p).num_rows}
            for n, p in paths.items()}


# ------------------------------------------------------------------ gen


def gen_olap(seed: int, rounds: int, inp: str) -> dict:
    """Query order: a seeded permutation per round. Query i goes through
    the MySQL door when i + round is even, else through Postgres."""
    paths = inputs.gen_tpch(seed, inp, OLAP_SCALE)
    rng = np.random.default_rng([seed, 10])
    names = list(QUERIES)

    def one(r, order):
        return [[names[i], "mysql" if (i + r) % 2 == 0 else "postgres"]
                for i in order]

    return {"tables": _tables(paths),
            "warmup": one(0, range(len(names))),
            "rounds": [one(r, rng.permutation(len(names)))
                       for r in range(rounds)]}


def _new_values(rng, key: int) -> list:
    return [key, int(inputs.uk_of(key)), int(rng.integers(0, 1000)),
            int(rng.integers(0, 10_000)),
            round(float(rng.uniform(0, 1000)), 2),
            f"u{int(rng.integers(0, 10))}"]


def gen_oltp(seed: int, rounds: int, inp: str, rows: int = OLTP_ROWS
             ) -> dict:
    """One statement of each kind per round, in a seeded order. An op is
    ``{kind, sql, dialect, key, row, want}``: ``row`` is what the
    statement writes and ``want`` the row a point read must return
    (None for the columns an UPDATE leaves alone; null after DELETE)."""
    path = os.path.join(inp, "kv.parquet")
    inputs.gen_keyed(seed, 2, rows, path)
    rng = np.random.default_rng([seed, 20])
    keys = inputs.Keys(rng, rows)
    kinds = list(checks.AFFECTED)
    sets = ("grp", "qty", "val", "note")

    def op(kind):
        if kind == "insert":
            row = _new_values(rng, keys.insert())
            return {"kind": kind, "dialect": "mysql", "key": row[0],
                    "row": row, "want": row,
                    "sql": f"INSERT INTO kv VALUES {checks.sql_row(row)}"}
        p_born = (inputs.P_DELETE_BORN if kind == "delete"
                  else inputs.P_UPDATE_BORN)
        key = keys.existing(p_born)
        row = _new_values(rng, key)
        values = checks.sql_row(row)
        o = {"kind": kind, "dialect": "mysql", "key": key, "row": row,
             "want": row}
        if kind == "update":
            _, _, _, qty, val, note = row
            o["want"] = [key, None, None, qty, val, note]
            o["sql"] = (f"UPDATE kv SET qty = {qty}, val = {val:.2f}, "
                        f"note = '{note}' WHERE id = {key}")
        elif kind == "delete":
            keys.delete(key)
            o["want"] = None
            o["sql"] = f"DELETE FROM kv WHERE id = {key}"
        elif kind == "odku":
            o["sql"] = (f"INSERT INTO kv VALUES {values} ON DUPLICATE KEY "
                        "UPDATE " + ", ".join(f"{c} = VALUES({c})"
                                              for c in sets))
        elif kind == "on_conflict":
            o["dialect"] = "postgres"
            o["sql"] = (f"INSERT INTO kv VALUES {values} ON CONFLICT (id) "
                        "DO UPDATE SET " + ", ".join(f"{c} = EXCLUDED.{c}"
                                                     for c in sets))
        else:
            o["sql"] = f"REPLACE INTO kv VALUES {values}"
        return o

    return {"tables": _tables({"kv": path}),
            "warmup": [op("insert"), op("odku")],
            "rounds": [[op(kinds[i]) for i in rng.permutation(len(kinds))]
                       for _ in range(rounds)]}


def gen_cdc(seed: int, rounds: int, inp: str, work: str,
            sizes=(CDC_BIG_ROWS, CDC_SMALL_ROWS), batch: int = CDC_BATCH,
            warm_batch: int = CDC_WARM_BATCH) -> dict:
    """Event batches in files ``events/b<j>.json``, one event a list
    ``[table, seq, action, id, uk, grp, qty, val, note]``; a delete
    carries the row's before-image. Actions follow the TPC-C row-event
    mix (``inputs.CDC_MIX``); keys come from ``inputs.Keys``."""
    paths, base, keys, current = {}, {}, {}, {}
    rng = np.random.default_rng([seed, 30])
    for i, (name, n) in enumerate(zip(CDC_TABLES, sizes)):
        paths[name] = os.path.join(inp, f"{name}.parquet")
        t = inputs.gen_keyed(seed, 3 + i, n, paths[name])
        base[name] = {c: t.column(c).to_numpy(zero_copy_only=False)
                      for c in t.column_names}
        keys[name] = inputs.Keys(rng, n)
    mix = inputs.CDC_MIX
    total = sum(mix.values())
    p_insert = mix["insert"] / total
    p_delete = mix["delete"] / total
    os.makedirs(os.path.join(work, "events"), exist_ok=True)
    seq = 0
    net = {name: 0 for name in CDC_TABLES}

    def before_image(name, key):
        row = current.get((name, key))
        if row is not None:
            return row
        b = base[name]
        return [key, int(b["uk"][key]), int(b["grp"][key]),
                int(b["qty"][key]), float(b["val"][key]), str(b["note"][key])]

    def write_batch(j, n_events):
        nonlocal seq
        events = []
        for _ in range(n_events):
            name = CDC_TABLES[0] if rng.random() < CDC_BIG_SHARE \
                else CDC_TABLES[1]
            k = keys[name]
            u = rng.random()
            if u < p_insert:
                action, key = checks.ACTION_INSERT, k.insert()
                net[name] += 1
            elif u < p_insert + p_delete:
                action, key = (checks.ACTION_DELETE,
                               k.existing(inputs.P_DELETE_BORN))
                k.delete(key)
                net[name] -= 1
            else:
                action, key = (checks.ACTION_UPDATE,
                               k.existing(inputs.P_UPDATE_BORN))
            if action == checks.ACTION_DELETE:
                row = before_image(name, key)
                current.pop((name, key), None)
            else:
                row = current[(name, key)] = _new_values(rng, key)
            seq += 1
            events.append([name, seq, action] + row)
        rel = os.path.join("events", f"b{j}.json")
        with open(os.path.join(work, rel), "w") as f:
            json.dump(events, f)
        return rel

    warm = write_batch(0, warm_batch)
    batches = [write_batch(1 + r, batch) for r in range(rounds)]
    return {"tables": _tables(paths), "warmup": [warm],
            "rounds": [[b] for b in batches], "events": seq,
            "expected_rows": {name: int(base[name]["id"].size) + net[name]
                              for name in CDC_TABLES}}


def gen(workload: str, seed: int, rounds: int, work: str) -> dict:
    inp = os.path.join(work, "input")
    os.makedirs(inp, exist_ok=True)
    if workload == "olap_read":
        script = gen_olap(seed, rounds, inp)
    elif workload == "oltp_write":
        script = gen_oltp(seed, rounds, inp)
    else:
        script = gen_cdc(seed, rounds, inp, work)
    script["input_bytes"] = sum(os.path.getsize(t["path"])
                                for t in script["tables"].values())
    with open(os.path.join(work, "script.json"), "w") as f:
        json.dump(script, f)
    return script


# ---------------------------------------------------------------- check


def check_olap(script: dict, observed: dict) -> list[str]:
    """Every saved result equals DuckDB running the same text over the
    generated parquet files."""
    con = checks.duckdb_tables({n: t["path"]
                                for n, t in script["tables"].items()})
    expected: dict[str, list[tuple]] = {}
    bad = []
    for name, dialect, path in observed["results"]:
        if name not in expected:
            expected[name] = [tuple(checks._norm(v) for v in r)
                              for r in con.execute(QUERIES[name]).fetchall()]
        with pa.OSFile(path, "rb") as f:
            got = checks.rows_of(pa.ipc.open_file(f).read_all())
        msg = checks.compare_rows(expected[name], got)
        if msg:
            bad.append(f"{name}/{dialect}: {msg}")
    con.close()
    return bad


def check_oltp(script: dict, observed: dict) -> list[str]:
    """The end state equals DuckDB replaying the statements that passed
    their own checks on the same input file."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("CREATE TABLE kv AS SELECT * FROM "
                f"read_parquet('{script['tables']['kv']['path']}')")
    checks.replay_duckdb(con, "kv", observed["applied"])
    want = checks.fingerprint_duckdb(con, "kv")
    con.close()
    bad = checks.compare_fingerprint(want, observed["fingerprints"]["kv"])
    return [f"kv end state: {bad}"] if bad else []


def load_events(work: str, script: dict) -> dict[str, list[tuple]]:
    """Every event of the run, per table, as ``lww_duckdb`` takes them."""
    out: dict[str, list[tuple]] = {name: [] for name in script["tables"]}
    for batch in [script["warmup"]] + script["rounds"]:
        for rel in batch:
            with open(os.path.join(work, rel)) as f:
                for name, *ev in json.load(f):
                    out[name].append(tuple(ev))
    return out


def check_cdc(script: dict, observed: dict, work: str) -> list[str]:
    """Both tables equal a last-writer-wins application of every event to
    the input; counts and the replica position add up."""
    import duckdb

    bad = []
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    events = load_events(work, script)
    for name, t in script["tables"].items():
        checks.lww_duckdb(con, name, t["path"], events[name])
        msg = checks.compare_fingerprint(checks.fingerprint_duckdb(con, name),
                                         observed["fingerprints"][name])
        if msg:
            bad.append(f"{name} end state: {msg}")
    con.close()
    msg = checks.check_cdc_counts(
        script["events"], observed["flushed"], observed["position"],
        observed["last_position"],
        sum(fp[0] for fp in observed["fingerprints"].values()),
        sum(script["expected_rows"].values()))
    return bad + ([msg] if msg else [])


def check(workload: str, work: str) -> list[str]:
    with open(os.path.join(work, "script.json")) as f:
        script = json.load(f)
    with open(os.path.join(work, "observed.json")) as f:
        observed = json.load(f)
    if workload == "olap_read":
        return check_olap(script, observed)
    if workload == "oltp_write":
        return check_oltp(script, observed)
    return check_cdc(script, observed, work)


def main(argv: list[str]) -> int:
    if len(argv) == 5 and argv[0] == "gen":
        gen(argv[1], int(argv[2]), int(argv[3]), argv[4])
        return 0
    if len(argv) == 3 and argv[0] == "check":
        print(json.dumps(check(argv[1], argv[2])))
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
