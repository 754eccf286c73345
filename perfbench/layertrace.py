"""Layer tracing for the benchmark's traced runs (``--trace 1``).

The tracer wraps the public entry points of each layer from outside the
program: it replaces module and class attributes with timing wrappers
and never edits the program's files. Spans nest per thread, so a
layer's self time is its span minus the spans opened inside it, and a
layer called again inside itself (``overwrite`` calling
``prepare_snapshot``) is timed once, at its outermost call.

Spark jobs are attributed to an operation by the range of job ids
submitted while it ran; a job group would not follow the jobs that
``Catalog.merge_batch_multi`` submits from its thread pool. Stage
metrics are read from the status store after the listener bus drains.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict

# span name -> list of (owner, attribute) the span wraps
LAYER_SPANS = {
    "statements.parse": [("statements", "parse_statement"),
                         ("statements", "split_statements")],
    "functions.translate": [("mysql_compat", "translate_mysql"),
                            ("engine", "translate_mysql"),
                            ("pg_compat", "translate_postgres")],
    "engine.execute": [("Engine", "execute")],
    "catalog.read": [("ParquetTable", "read")],
    "catalog.read_miss": [("ParquetTable", "_read_snapshot")],
    "catalog.count": [("ParquetTable", "count")],
    "catalog.commit": [("ParquetTable", "prepare_snapshot"),
                       ("ParquetTable", "overwrite"),
                       ("ParquetTable", "overwrite_pruned"),
                       ("Catalog", "commit_multi")],
    "cdc.profile": [("cdc", "batch_action_profiles")],
    "cdc.apply_build": [("catalog", "apply_cdc"), ("cdc", "condense")],
    "streaming.poll": [("MultiTableCdcApplier", "poll")],
}

# spans whose time counts as a child of engine.execute (self time)
_CHILD_OF_EXECUTE = {"statements.parse", "functions.translate",
                     "catalog.read", "catalog.count", "catalog.commit",
                     "cdc.profile", "cdc.apply_build", "streaming.poll"}


def _owners():
    from myduckserver_spark import catalog, engine, statements
    from myduckserver_spark.functions import mysql_compat, pg_compat
    from myduckserver_spark.operators import cdc
    from myduckserver_spark.streaming import multi_applier

    return {
        "statements": statements, "mysql_compat": mysql_compat,
        "pg_compat": pg_compat, "engine": engine, "catalog": catalog,
        "cdc": cdc, "Engine": engine.Engine,
        "ParquetTable": catalog.ParquetTable, "Catalog": catalog.Catalog,
        "MultiTableCdcApplier": multi_applier.MultiTableCdcApplier,
    }


class Tracer:
    """Per-operation span totals, Py4J round trips and Spark job stats."""

    def __init__(self, spark, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        self._local = threading.local()
        self._lock = threading.Lock()
        self._cur: dict | None = None  # open operation record
        self.records: list[dict] = []
        self._counting_py4j = False

    # ------------------------------------------------------------ install
    def install(self) -> None:
        """Wrap every layer entry point; lasts for the process."""
        owners = _owners()
        for span, targets in LAYER_SPANS.items():
            for owner, attr in targets:
                obj = owners[owner]
                orig = getattr(obj, attr)
                setattr(obj, attr, self._wrap(span, orig))
        from myduckserver_spark.streaming.cdc_source import FileCdcFeed

        orig_after = FileCdcFeed.events_after
        FileCdcFeed.events_after = self._wrap_gen("streaming.feed_read",
                                                  orig_after)
        client = self.spark.sparkContext._gateway._gateway_client
        orig_send = client.send_command

        def send_command(*a, **kw):
            if not self._counting_py4j:
                return orig_send(*a, **kw)
            t0 = time.perf_counter()
            try:
                return orig_send(*a, **kw)
            finally:
                self.add("py4j", time.perf_counter() - t0)

        client.send_command = send_command

    # -------------------------------------------------------------- spans
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def add(self, name: str, seconds: float, calls: int = 1) -> None:
        with self._lock:
            if self._cur is None:
                return
            self._cur["ms"][name] += seconds * 1000.0
            self._cur["calls"][name] += calls

    def _wrap(self, span: str, fn):
        tracer = self

        def wrapped(*a, **kw):
            stack = tracer._stack()
            if any(f[0] == span for f in stack):
                return fn(*a, **kw)  # timed at its outermost call
            frame = [span, 0.0]
            stack.append(frame)
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                dt = time.perf_counter() - t0
                stack.pop()
                tracer.add(span, dt)
                if span == "engine.execute":
                    tracer.add("engine.self", max(0.0, dt - frame[1]))
                if stack and (stack[-1][0] == "engine.execute"
                              and span in _CHILD_OF_EXECUTE):
                    stack[-1][1] += dt

        wrapped.__wrapped__ = fn
        return wrapped

    def _wrap_gen(self, span: str, fn):
        tracer = self

        def wrapped(*a, **kw):
            it = fn(*a, **kw)
            while True:
                t0 = time.perf_counter()
                try:
                    item = next(it)
                except StopIteration:
                    tracer.add(span, time.perf_counter() - t0, 0)
                    return
                tracer.add(span, time.perf_counter() - t0, 0)
                yield item

        wrapped.__wrapped__ = fn
        return wrapped

    # --------------------------------------------------------- operations
    def _jsc(self):
        return self.spark.sparkContext._jsc.sc()

    def _files(self) -> dict[str, int]:
        out = {}
        for root, _dirs, files in os.walk(self.warehouse):
            for f in files:
                p = os.path.join(root, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
        return out

    def begin(self, kind: str) -> None:
        """Open an operation record; call right before the timed op."""
        self._files_before = self._files()
        self._job0 = self._jsc().dagScheduler().nextJobId()
        self._cur = {"kind": kind, "ms": defaultdict(float),
                     "calls": defaultdict(int)}
        self._counting_py4j = True

    def end(self, rows_changed: int = 0, row_bytes: int = 0,
            fetched: int = 0, **extra) -> dict:
        """Close the record opened by ``begin``; call right after the
        timed op. Job and file statistics are read here, outside it."""
        self._counting_py4j = False
        rec = self._cur
        self._cur = None
        jsc = self._jsc()
        job1 = jsc.dagScheduler().nextJobId()
        jsc.listenerBus().waitUntilEmpty()
        rec.update(self._job_stats(range(self._job0, job1)))
        after = self._files()
        new = {p: s for p, s in after.items()
               if self._files_before.get(p) != s}
        rec["files_written"] = len(new)
        rec["bytes_written"] = sum(new.values())
        rec["rows_changed"] = rows_changed
        rec["changed_bytes"] = rows_changed * row_bytes
        rec["fetch_rows"] = fetched
        rec.update(extra)
        rec["ms"] = dict(rec["ms"])
        rec["calls"] = dict(rec["calls"])
        self.records.append(rec)
        return rec

    def _job_stats(self, job_ids) -> dict:
        store = self._jsc().statusStore()
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        out = {"jobs": 0, "stages": 0, "tasks": 0, "job_ms": 0.0,
               "input_bytes": 0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "output_bytes": 0}
        for jid in job_ids:
            try:
                job = store.job(jid)
            except Exception:  # noqa: BLE001 — evicted from the store
                continue
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_ms"] += done.get().getTime() - sub.get().getTime()
            for sid in list(conv.asJava(job.stageIds())):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — never-run stage
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["output_bytes"] += sd.outputBytes()
        return out


def per_layer_metrics(records: list[dict], setup: dict[str, float]) -> dict:
    """The ``per_layer`` metrics: means per operation over the timed
    operations, plus the set-up phases and whole-run ratios."""
    n = max(1, len(records))
    mb = 1 << 20

    def ms(name):
        return sum(r["ms"].get(name, 0.0) for r in records) / n

    def calls(name):
        return sum(r["calls"].get(name, 0) for r in records) / n

    def tot(key):
        return sum(r.get(key, 0) for r in records)

    reads = sum(r["calls"].get("catalog.read", 0) for r in records)
    misses = sum(r["calls"].get("catalog.read_miss", 0) for r in records)
    changed = tot("changed_bytes")
    flushes = tot("flushes")
    m = {
        "setup.session_s": (setup["session"], "s"),
        "setup.load_s": (setup["load"], "s"),
        "setup.warmup_s": (setup["warmup"], "s"),
        "statements.parse_ms": (ms("statements.parse"), "ms"),
        "statements.calls": (calls("statements.parse"), "count"),
        "functions.translate_ms": (ms("functions.translate"), "ms"),
        "engine.execute_ms": (ms("engine.execute"), "ms"),
        "engine.self_ms": (ms("engine.self"), "ms"),
        "py4j.calls": (calls("py4j"), "count"),
        "py4j.ms": (ms("py4j"), "ms"),
        "spark.plan_ms": (ms("spark.plan"), "ms"),
        "spark.jobs": (tot("jobs") / n, "count"),
        "spark.stages": (tot("stages") / n, "count"),
        "spark.tasks": (tot("tasks") / n, "count"),
        "spark.job_ms": (tot("job_ms") / n, "ms"),
        "spark.input_mb": (tot("input_bytes") / n / mb, "MB"),
        "spark.shuffle_read_mb": (tot("shuffle_read_bytes") / n / mb, "MB"),
        "spark.shuffle_write_mb": (tot("shuffle_write_bytes") / n / mb,
                                   "MB"),
        "spark.output_mb": (tot("output_bytes") / n / mb, "MB"),
        "fetch.rows": (tot("fetch_rows") / n, "count"),
        "catalog.read_calls": (reads / n, "count"),
        "catalog.read_memo_hit_ratio": (
            (reads - misses) / reads if reads else 0.0, "ratio"),
        "catalog.count_calls": (calls("catalog.count"), "count"),
        "catalog.commit_ms": (ms("catalog.commit"), "ms"),
        "catalog.commits": (calls("catalog.commit"), "count"),
        "catalog.bytes_written_mb": (tot("bytes_written") / n / mb, "MB"),
        "catalog.files_written": (tot("files_written") / n, "count"),
        "catalog.write_amp": (
            tot("bytes_written") / changed if changed else 0.0, "ratio"),
        "cdc.profile_ms": (ms("cdc.profile"), "ms"),
        "cdc.apply_build_ms": (ms("cdc.apply_build"), "ms"),
        "streaming.feed_read_ms": (ms("streaming.feed_read"), "ms"),
        "streaming.poll_ms": (ms("streaming.poll"), "ms"),
        "streaming.flushes": (flushes / n, "count"),
        "streaming.events_per_flush": (
            tot("flushed_events") / flushes if flushes else 0.0, "count"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
