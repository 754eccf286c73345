#!/usr/bin/env python3
"""Front-door benchmark of the engine: one workload per run.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 10 --trace 0

A child process (``reference.py gen``) first writes the run's inputs and
the operations to send, from ``--seed``. The run then starts its own
Spark session at local[N] (N = $SPARK_GRAFT_CPUS, else the CPUs this
process may use) over a fresh warehouse under ``perfbench/_work/``,
loads the inputs through ``Engine.execute`` and drives the engine from
one client thread in a closed loop. After the timed rounds a second
child (``reference.py check``) compares what the engine returned with
answers computed in DuckDB. ``--seconds`` sets how many whole rounds of
operations run (see ``ROUND_S``), so counts and sizes repeat for equal
arguments. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer ones with ``--trace 1``). The line before it
reports the operation count and the latency tail. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import pyarrow as pa

import checks
from queries import QUERIES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
TRACES = os.path.join(HERE, "_traces")

DRIVER_MEMORY = "3g"
# GC of the driver JVM, put ahead of session.py's own Java options: a
# young generation of fixed size, and heap growth that follows
# allocation, not pause timing, so that peak RSS repeats between runs.
GC_OPTIONS = ("-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy "
              "-Xms1g -Xmn640m")

# Nominal length of one round on the reference box (4 cores); a run
# does max(1, round(seconds / ROUND_S)) rounds.
ROUND_S = {"olap_read": 5.0, "oltp_write": 12.0, "cdc_apply": 10.0}


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def reference(*args) -> str:
    """Run ``reference.py`` in a child process; its standard output."""
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "reference.py"),
         *map(str, args)], stdout=subprocess.PIPE, text=True,
        check=True).stdout


# ----------------------------------------------------------------- context


class Ctx:
    """What one run shares between the client loop and its workload."""

    def __init__(self, work: str, script: dict):
        self.work = work
        self.script = script
        self.warehouse = os.path.join(work, "warehouse")
        self.spark = None
        self.engine = None
        self.tracer = None

    def start(self, cpus: int) -> None:
        tmp = os.environ["TMPDIR"]
        local = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_LOCAL_DIRS"] = local
        from myduckserver_spark.engine import Engine
        from myduckserver_spark.session import build_session

        self.spark = build_session(
            app_name="perfbench", master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "sparkwh"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.defaultJavaOptions":
                    f"{GC_OPTIONS} -Djava.io.tmpdir={tmp}",
            },
        )
        self.engine = Engine(self.spark, self.warehouse)

    def execute(self, sql: str, dialect: str = "mysql"):
        return self.engine.execute(sql, dialect=dialect)

    def rows(self, sql: str) -> list[tuple]:
        return [tuple(r) for r in self.execute(sql).collect()]

    def fingerprint(self, table: str) -> list[int]:
        return [int(v or 0) for v in
                self.rows(checks.FINGERPRINT_SQL.format(table=table))[0]]

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def jvm_gc(self) -> dict[str, float]:
        """Seconds each JVM collector has spent so far."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return {b.getName(): b.getCollectionTime() / 1e3
                for b in mf.getGarbageCollectorMXBeans()}

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — last resort below
                proc.kill()
                proc.wait()
        self.spark = None


class Op:
    """One client operation: ``prepare`` (untimed), ``run`` (timed),
    ``check`` (untimed; returns a problem or None). ``count`` is how many
    benchmark operations it stands for; ``latencies`` may hold one
    latency per operation when they differ from the call's duration."""

    kind = "op"
    count = 1
    rows_changed = 0
    latencies: list[float] | None = None

    def prepare(self) -> None:
        pass

    def run(self, ctx: Ctx):
        raise NotImplementedError

    def check(self, ctx: Ctx, result) -> str | None:
        return None

    def trace_extra(self, result) -> dict:
        return {}


def load_tables(ctx: Ctx, keys: dict[str, list[str]]) -> list[str]:
    """CREATE TABLE ... AS SELECT * FROM read_parquet(...) per input
    table, then ``ALTER TABLE`` for each of its key clauses: a CTAS that
    declares keys creates an empty table today."""
    bad = []
    for name, t in ctx.script["tables"].items():
        r = ctx.execute(f"CREATE TABLE {name} AS SELECT * FROM "
                        f"read_parquet('{t['path']}')")
        for clause in keys.get(name, ()):
            ctx.execute(f"ALTER TABLE {name} ADD {clause}")
        if r.affected_rows != t["rows"]:
            bad.append(f"load {name}: {r.affected_rows} rows, "
                       f"expected {t['rows']}")
    return bad


# ----------------------------------------------------------- olap_read


class QueryOp(Op):
    def __init__(self, wl: "OlapRead", name: str, dialect: str):
        self.wl, self.name, self.dialect = wl, name, dialect
        self.kind = f"{name}/{dialect}"
        self.sql = QUERIES[name]
        self.fetched = 0

    def run(self, ctx):
        df = ctx.execute(self.sql, self.dialect)
        if ctx.tracer is not None:
            t0 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            ctx.tracer.add("spark.plan", time.perf_counter() - t0)
        table = df.toArrow()
        self.fetched = table.num_rows
        return table

    def check(self, ctx, result):
        """Saves the result; ``reference.py check`` compares it."""
        path = os.path.join(self.wl.results_dir,
                            f"{len(self.wl.results)}.arrow")
        with pa.OSFile(path, "wb") as f, \
                pa.ipc.new_file(f, result.schema) as w:
            w.write_table(result)
        self.wl.results.append([self.name, self.dialect, path])
        return None


class OlapRead:
    """Analytic queries over the TPC-H-shaped tables, MySQL and
    Postgres doors alternating per query and per round."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.results: list[list[str]] = []
        self.results_dir = os.path.join(ctx.work, "results")
        os.makedirs(self.results_dir, exist_ok=True)

    def load(self) -> list[str]:
        return load_tables(self.ctx, {})

    def warmup_ops(self) -> list[Op]:
        return [QueryOp(self, n, d) for n, d in self.ctx.script["warmup"]]

    def round_ops(self, r: int) -> list[Op]:
        return [QueryOp(self, n, d) for n, d in self.ctx.script["rounds"][r]]

    def observed(self) -> dict:
        return {"results": self.results}


# ----------------------------------------------------------- oltp_write


class WriteOp(Op):
    rows_changed = 1

    def __init__(self, wl: "OltpWrite", spec: dict):
        self.wl, self.spec = wl, spec
        self.kind = spec["kind"]

    def run(self, ctx):
        return ctx.execute(self.spec["sql"], self.spec["dialect"])

    def check(self, ctx, result):
        s = self.spec
        bad = checks.check_affected(s["kind"], result.affected_rows)
        got = ctx.rows("SELECT id, uk, grp, qty, val, note FROM kv "
                       f"WHERE id = {s['key']}")
        bad = bad or checks.check_readback(s["kind"], s["want"], got)
        if not bad:
            self.wl.applied.append(s)  # replayed by reference.py check
        return bad


class OltpWrite:
    """Single-row INSERT / UPDATE / DELETE / upserts / REPLACE on a keyed
    table with PRIMARY KEY and UNIQUE KEY. The warm-up runs one INSERT
    and one upsert, which compile most of the statement path."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.applied: list[dict] = []

    def load(self) -> list[str]:
        return load_tables(self.ctx, {"kv": ["PRIMARY KEY (id)",
                                             "UNIQUE KEY kv_uk (uk)"]})

    def warmup_ops(self) -> list[Op]:
        return [WriteOp(self, s) for s in self.ctx.script["warmup"]]

    def round_ops(self, r: int) -> list[Op]:
        return [WriteOp(self, s) for s in self.ctx.script["rounds"][r]]

    def observed(self) -> dict:
        return {"applied": self.applied,
                "fingerprints": {"kv": self.ctx.fingerprint("kv")}}


# ------------------------------------------------------------ cdc_apply


class BatchOp(Op):
    """Append one batch of row events to the feed (untimed), then pump
    ``Engine.replica_poll`` until every event is visible (timed)."""

    kind = "batch"

    def __init__(self, wl: "CdcApply", rel: str):
        self.wl, self.rel = wl, rel

    def prepare(self):
        with open(os.path.join(self.wl.ctx.work, self.rel)) as f:
            events = json.load(f)
        feed = self.wl.feed
        feed.rotate()
        self.positions = [
            feed.append(ev[2], dict(zip(checks.KEY_COLS, ev[3:])),
                        txn_group="g0", txn_seq=ev[1], table=ev[0])
            for ev in events]
        self.count = self.rows_changed = len(events)
        self.wl.last_position = self.positions[-1]

    def run(self, ctx):
        t0 = time.perf_counter()
        pending = list(self.positions)
        lat: list[float] = []
        flushes: list = []
        for _ in range(10):
            res = ctx.engine.replica_poll()
            t = time.perf_counter() - t0
            flushes += res
            top = max((f.position for f in res), default=-1)
            done = [p for p in pending if p <= top]
            lat += [t] * len(done)
            pending = pending[len(done):]
            if not pending:
                break
        self.latencies = lat + [t] * len(pending)
        return flushes, pending

    def check(self, ctx, result):
        flushes, pending = result
        self.wl.flushed += sum(f.rows for f in flushes)
        if pending:
            return f"batch: {len(pending)} events never became visible"
        return None

    def trace_extra(self, result):
        flushes, _ = result
        return {"flushes": len(flushes),
                "flushed_events": sum(f.rows for f in flushes)}


class CdcApply:
    """Replication apply: row-event batches for a large and a small keyed
    table, appended to a FileCdcFeed and drained through
    ``Engine.replica_poll``."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.flushed = 0
        self.last_position = 0

    def load(self) -> list[str]:
        from myduckserver_spark.streaming.cdc_source import FileCdcFeed

        bad = load_tables(self.ctx, {n: ["PRIMARY KEY (id)"]
                                     for n in self.ctx.script["tables"]})
        feed_dir = os.path.join(self.ctx.work, "feed")
        self.feed = FileCdcFeed(feed_dir)
        self.ctx.execute("CHANGE REPLICATION SOURCE TO SOURCE_HOST="
                         f"'file://{feed_dir}', SOURCE_USER='perfbench'")
        self.ctx.execute("START REPLICA")
        return bad

    def warmup_ops(self) -> list[Op]:
        return [BatchOp(self, rel) for rel in self.ctx.script["warmup"]]

    def round_ops(self, r: int) -> list[Op]:
        return [BatchOp(self, rel) for rel in self.ctx.script["rounds"][r]]

    def observed(self) -> dict:
        tables = self.ctx.script["tables"]
        position = max(self.ctx.engine.catalog.table(n)
                       .last_txn_version("replica") for n in tables)
        return {"fingerprints": {n: self.ctx.fingerprint(n) for n in tables},
                "flushed": self.flushed, "position": position,
                "last_position": self.last_position}


WORKLOADS = {"olap_read": OlapRead, "oltp_write": OltpWrite,
             "cdc_apply": CdcApply}


# ------------------------------------------------------------- client loop


def tail_percentile(lat: list[float]) -> dict | None:
    """The highest of a few percentiles with >= 10 samples beyond it
    (none below 40 samples)."""
    n = len(lat)
    if n < 40:
        return None
    s = sorted(lat)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        beyond = int(n * (100.0 - p) / 100.0)
        if beyond >= 10:
            return {"p": p, "ms": s[min(n - 1, int(n * p / 100.0))] * 1e3,
                    "beyond": beyond}
    return None


def run_ops(ctx: Ctx, wl, ops: list[Op], timed: bool, stats: dict,
            problems: list[str]) -> None:
    for op in ops:
        op.prepare()
        if timed and ctx.tracer is not None:
            ctx.tracer.begin(op.kind)
        t0 = time.perf_counter()
        try:
            result = op.run(ctx)
        except Exception:  # noqa: BLE001 — counted as failed, run goes on
            traceback.print_exc(file=sys.stderr)
            if timed and ctx.tracer is not None:
                ctx.tracer.end()
            if timed:
                stats["attempted"] += op.count
                stats["failed"] += op.count
            continue
        dt = time.perf_counter() - t0
        if timed:
            if ctx.tracer is not None:
                ctx.tracer.end(op.rows_changed, checks.KEYED_ROW_BYTES,
                               getattr(op, "fetched", 0),
                               **op.trace_extra(result))
            stats["attempted"] += op.count
            stats["timed_s"] += dt
            stats["lat"] += op.latencies or [dt]
            stats["by_kind"].setdefault(op.kind, []).append(dt)
        bad = op.check(ctx, result)
        if bad:
            problems.append(bad)


def run(args, work: str) -> int:
    sys.path.insert(0, ROOT)
    phases = {}
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    rounds = max(1, round(args.seconds / ROUND_S[args.workload]))
    tmp = os.path.join(work, "tmp")  # every temporary file stays inside
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    t = time.perf_counter()
    reference("gen", args.workload, args.seed, rounds, work)
    with open(os.path.join(work, "script.json")) as f:
        ctx = Ctx(work, json.load(f))
    phases["inputs"] = time.perf_counter() - t
    try:
        t = time.perf_counter()
        ctx.start(cpus)
        phases["session"] = time.perf_counter() - t
        t = time.perf_counter()
        wl = WORKLOADS[args.workload](ctx)
        problems = wl.load()
        phases["load"] = time.perf_counter() - t
        t = time.perf_counter()
        stats = {"attempted": 0, "failed": 0, "timed_s": 0.0, "lat": [],
                 "by_kind": {}}
        run_ops(ctx, wl, wl.warmup_ops(), False, stats, problems)
        phases["warmup"] = time.perf_counter() - t
        tracer = None
        if args.trace:
            from layertrace import Tracer

            tracer = ctx.tracer = Tracer(ctx.spark, ctx.warehouse)
            tracer.install()
        gc0 = ctx.jvm_gc()
        setup_s = process_age_s()
        for r in range(rounds):
            run_ops(ctx, wl, wl.round_ops(r), True, stats, problems)
        ctx.tracer = None  # what is read below is not an operation
        rss_kb = {"python": vm_hwm_kb("self"), "jvm": vm_hwm_kb(ctx.jvm_pid())}
        gc_s = {k: v - gc0[k] for k, v in ctx.jvm_gc().items()}
        space = dir_bytes(ctx.warehouse)
        with open(os.path.join(work, "observed.json"), "w") as f:
            json.dump(wl.observed(), f)
    finally:
        ctx.stop()
    problems += json.loads(
        reference("check", args.workload, work).splitlines()[-1])
    lat = stats["lat"]
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(lat) / stats["timed_s"] if stats["timed_s"]
                      else 0.0, "op/s"),
        "op_p50_ms": (statistics.median(lat) * 1e3 if lat else 0.0, "ms"),
        "space_amp": (space / ctx.script["input_bytes"], "ratio"),
        "peak_rss_mb": (sum(rss_kb.values()) / 1024.0, "MB"),
    }
    e2e = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    info = {"workload": args.workload, "seed": args.seed, "rounds": rounds,
            "cpus": cpus, "jvm_gc_s": gc_s, "ops": len(lat),
            "timed_s": stats["timed_s"], "tail": tail_percentile(lat),
            "setup_phases_s": phases,
            "peak_rss_mb": {k: v / 1024.0 for k, v in rss_kb.items()},
            "call_s": {k: [round(v, 4) for v in vs]
                       for k, vs in sorted(stats["by_kind"].items())},
            "end_to_end": {k: v["value"] for k, v in e2e.items()}}
    metrics = e2e
    if tracer is not None:
        from layertrace import per_layer_metrics

        metrics = per_layer_metrics(tracer.records, phases)
        os.makedirs(TRACES, exist_ok=True)
        with open(os.path.join(
                TRACES, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"info": info, "per_layer": metrics,
                       "operations": tracer.records}, f, indent=1)
    print(json.dumps(info))
    print(json.dumps({"correct": not problems,
                      "attempted": stats["attempted"],
                      "failed": stats["failed"], "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "myduckserver_spark")):
        print("perfbench: run from a checkout of the repository (no "
              "myduckserver_spark package next to perfbench/)",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
