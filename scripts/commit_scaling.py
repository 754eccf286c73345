#!/usr/bin/env python
"""Per-statement commit cost against table size.

Builds a keyed table ``kv`` (PRIMARY KEY id, UNIQUE KEY uk) of each
size with ``spark.range`` (nothing is downloaded), then runs one
1-row INSERT, UPDATE, DELETE, ON DUPLICATE KEY UPDATE and REPLACE
against it and prints, per statement: wall time, the Spark jobs of the
statement's own job group, and the bytes of data files it added to
the table directory. A statement that touches O(1) rows should show
the same three numbers at every size.

Usage: python scripts/commit_scaling.py [--sizes 10,250000,2000000]
                                         [--repeat 3] [--cpus 4]
Prints one line per (size, statement) with the median of ``--repeat``
runs, then a JSON record of every measurement.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from myduckserver_spark.engine import Engine  # noqa: E402
from myduckserver_spark.session import build_session  # noqa: E402


def _data_files(d: str) -> dict[str, int]:
    out = {}
    for r, _, fs in os.walk(d):
        for f in fs:
            if f.endswith(".parquet") and not f.startswith("."):
                p = os.path.join(r, f)
                out[p] = os.path.getsize(p)
    return out


def _statements(n: int, i: int) -> list[tuple[str, str]]:
    """One of each kind; keys never collide across repeats."""
    old = i * 7919 % n  # an existing key for the rest

    def row(k: int) -> str:  # literal values only, as a client sends
        return f"({k}, {k * 7 + 3}, {i}, {i}, {i}.5, 'r{i}')"

    return [
        ("insert", f"INSERT INTO kv VALUES {row(n + i)}"),
        ("update", f"UPDATE kv SET qty = {i}, note = 'u{i}' "
                   f"WHERE id = {old}"),
        ("odku", f"INSERT INTO kv VALUES {row((old + 1) % n)} "
                 "ON DUPLICATE KEY UPDATE qty = VALUES(qty)"),
        ("replace", f"REPLACE INTO kv VALUES {row((old + 2) % n)}"),
        ("delete", f"DELETE FROM kv WHERE id = {(old + 3) % n}"),
    ]


def measure(spark, e: Engine, n: int, repeat: int) -> list[dict]:
    e.execute("DROP TABLE IF EXISTS kv")
    spark.range(n).selectExpr(
        "id", "id * 7 + 3 AS uk", "CAST(id % 1000 AS INT) AS grp",
        "id % 10000 AS qty", "CAST(id % 997 AS DOUBLE) / 7 AS val",
        "concat('n', CAST(id % 8 AS STRING)) AS note",
    ).createOrReplaceTempView("kv_src")
    e.execute("CREATE TABLE kv AS SELECT * FROM kv_src")
    e.execute("ALTER TABLE kv ADD PRIMARY KEY (id)")
    e.execute("ALTER TABLE kv ADD UNIQUE KEY kv_uk (uk)")
    tdir = e.catalog.table("kv").dir
    sc = spark.sparkContext
    out = []
    for i in range(repeat + 1):  # the first round warms the plans
        for kind, sql in _statements(n, i + 1):
            before = _data_files(tdir)
            group = f"commit_scaling_{n}_{i}_{kind}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            e.execute(sql)
            wall = time.perf_counter() - t0
            sc.setJobGroup("", "")
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            added = sum(s for p, s in _data_files(tdir).items()
                        if before.get(p) != s)
            if i:
                out.append({"rows": n, "kind": kind, "wall_s": wall,
                            "jobs": jobs, "bytes_added": added})
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sizes", default="10,250000,2000000")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args(argv)
    spark = build_session(master=f"local[{args.cpus}]",
                          shuffle_partitions=args.cpus)
    wh = tempfile.mkdtemp(prefix="commit_scaling_")
    try:
        e = Engine(spark, wh)
        recs = []
        for n in [int(s) for s in args.sizes.split(",")]:
            got = measure(spark, e, n, args.repeat)
            recs += got
            for kind in dict.fromkeys(r["kind"] for r in got):
                rs = [r for r in got if r["kind"] == kind]
                print(f"{n:>9} rows  {kind:<8} "
                      f"{statistics.median(r['wall_s'] for r in rs):6.3f} s"
                      f"  jobs {statistics.median(r['jobs'] for r in rs):4.1f}"
                      f"  added {statistics.median(r['bytes_added'] for r in rs):>10.0f} B",
                      flush=True)
        print(json.dumps(recs))
    finally:
        spark.stop()
        shutil.rmtree(wh, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
