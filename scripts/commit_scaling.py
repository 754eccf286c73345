#!/usr/bin/env python
"""Per-statement commit cost against table size.

Builds a keyed table ``kv`` (PRIMARY KEY id, UNIQUE KEY uk) of each
size with ``spark.range`` (nothing is downloaded), then runs one
1-row INSERT, UPDATE, DELETE, ON DUPLICATE KEY UPDATE and REPLACE
against it and prints, per statement: wall time, the Spark jobs of the
statement's own job group, and the bytes of data files it added to
the table directory. A statement that touches O(1) rows should show
the same three numbers at every size.

It then replays ``CDC_EVENTS`` (1,000) replicated row events per
flush into a table ``cdc_kv`` (PRIMARY KEY id) of each size through
a ``CdcApplier`` and prints the same three numbers for the flush
(kind ``cdc_flush``). The events follow the TPC-C row-event mix and
key choice of perfbench/README.md (``perfbench.inputs``): inserts of
fresh or deleted keys, updates and deletes of zipfian or newly
inserted keys. A flush whose work is O(batch) shows the same numbers
at every size. Its Spark jobs are every job started during the flush,
pool threads included (a job group does not reach pool threads).

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

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from myduckserver_spark.engine import Engine  # noqa: E402
from myduckserver_spark.operators.cdc import (  # noqa: E402
    ACTION_DELETE,
    ACTION_INSERT,
    ACTION_UPDATE,
)
from myduckserver_spark.session import build_session  # noqa: E402
from myduckserver_spark.streaming.cdc_source import (  # noqa: E402
    CdcApplier,
    FileCdcFeed,
)
from perfbench import inputs  # noqa: E402

CDC_EVENTS = 1000  # row events per measured CDC flush


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


def _load(spark, e: Engine, name: str, n: int) -> None:
    """Table ``name`` of ``n`` rows with keys 0..n-1."""
    e.execute(f"DROP TABLE IF EXISTS {name}")
    spark.range(n).selectExpr(
        "id", "id * 7 + 3 AS uk", "CAST(id % 1000 AS INT) AS grp",
        "id % 10000 AS qty", "CAST(id % 997 AS DOUBLE) / 7 AS val",
        "concat('n', CAST(id % 8 AS STRING)) AS note",
    ).createOrReplaceTempView("kv_src")
    e.execute(f"CREATE TABLE {name} AS SELECT * FROM kv_src")


def _cdc_batch(rng, keys: "inputs.Keys", b: int) -> list:
    """``CDC_EVENTS`` (action, row) pairs in the TPC-C row-event mix."""
    total = sum(inputs.CDC_MIX.values())
    p_insert = inputs.CDC_MIX["insert"] / total
    p_delete = inputs.CDC_MIX["delete"] / total
    out = []
    for _ in range(CDC_EVENTS):
        u = rng.random()
        if u < p_insert:
            action, k = ACTION_INSERT, keys.insert()
        elif u < p_insert + p_delete:
            action, k = (ACTION_DELETE,
                         keys.existing(inputs.P_DELETE_BORN))
            keys.delete(k)
        else:
            action, k = (ACTION_UPDATE,
                         keys.existing(inputs.P_UPDATE_BORN))
        out.append((action, {"id": k, "uk": k * 7 + 3, "grp": k % 1000,
                             "qty": b, "val": b + 0.5, "note": f"c{b}"}))
    return out


def measure_cdc(spark, e: Engine, n: int, repeat: int) -> list[dict]:
    """One flush of ``CDC_EVENTS`` row events per round into ``cdc_kv``."""
    _load(spark, e, "cdc_kv", n)
    e.execute("ALTER TABLE cdc_kv ADD PRIMARY KEY (id)")
    t = e.catalog.table("cdc_kv")
    feed_dir = tempfile.mkdtemp(prefix="commit_scaling_feed_")
    feed = FileCdcFeed(feed_dir)
    applier = CdcApplier(spark, feed, t, ["id"], t.read().schema,
                         app_id="commit_scaling", max_rows=CDC_EVENTS + 1)
    rng = np.random.default_rng(11)
    keys = inputs.Keys(rng, n)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    out = []
    try:
        for i in range(repeat + 1):  # the first round warms the plans
            feed.rotate()
            for action, row in _cdc_batch(rng, keys, i):
                feed.append(action, row)
            applier.poll()  # buffers the batch: below the row trigger
            before = _data_files(t.dir)
            jobs0 = dag.nextJobId()
            t0 = time.perf_counter()
            res = applier.query_barrier()
            wall = time.perf_counter() - t0
            jobs = dag.nextJobId() - jobs0
            assert res is not None and res.rows == CDC_EVENTS, res
            added = sum(s for p, s in _data_files(t.dir).items()
                        if before.get(p) != s)
            if i:
                out.append({"rows": n, "kind": "cdc_flush", "wall_s": wall,
                            "jobs": jobs, "bytes_added": added})
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)
    return out


def measure(spark, e: Engine, n: int, repeat: int) -> list[dict]:
    _load(spark, e, "kv", n)
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
            got = (measure(spark, e, n, args.repeat)
                   + measure_cdc(spark, e, n, args.repeat))
            recs += got
            for kind in dict.fromkeys(r["kind"] for r in got):
                rs = [r for r in got if r["kind"] == kind]
                print(f"{n:>9} rows  {kind:<9} "
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
