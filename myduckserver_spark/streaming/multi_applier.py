"""Atomic multi-table CDC apply: one source transaction touching N
tables commits as ONE catalog pointer-swap transaction.

The reference applies a whole replication flush — every table's delta
AND the replication position — inside a single DuckDB transaction
(delta/controller.go:75-190; binlog_replica_applier.go:786-812 commits
the binlog position in the same tx as the data). The Spark-side
realization is redo-journaled pointer swapping: each table's next
snapshot is PREPARED (data files written, pointer untouched), then one
journal record — the commit point, an atomic rename — carries all N
new pointer metas plus the (app_id, position, feed-state) markers;
``Catalog._recover_multi_txns`` rolls a torn apply forward on the next
open. At every observable version the tables move both-or-neither.

``MultiTableCdcApplier`` is the binlog-applier loop over such feeds:
events carry a ``table`` name (binlog row events always do), buffering
is global (the reference's delta controller also flushes ALL tables on
any trigger), and a flush groups the buffer by table and commits via
``Catalog.merge_batch_multi``.

Scale: each table's condense+merge is the same one-shuffle-per-table
plan as the single-table applier; the atomic step adds only O(N)
driver-side pointer writes, no extra Spark jobs.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from myduckserver_spark.catalog import Catalog
from myduckserver_spark.streaming.cdc_source import (
    FLUSH_DDL,
    FLUSH_MEMORY_LIMIT,
    FLUSH_ON_CLOSE,
    FLUSH_QUERY,
    FLUSH_ROW_LIMIT,
    FLUSH_TIME_TICK,
    CdcEvent,
    FlushResult,
    events_frame,
)


class MultiTableTxnView:
    """Table-shaped view of a table GROUP's txn markers, for feed
    adapters (``LogFeedCdcSource``) that resume from a single table.

    The committed group position is the max marker across members —
    a flush stamps every table it touched, atomically, so the max is
    exactly the last committed position; ``last_txn_state`` returns the
    state committed WITH that max (all tables stamped in one commit
    carry identical state)."""

    def __init__(self, catalog: Catalog, tables: list[str], app_id: str):
        self.catalog = catalog
        self.tables = list(tables)
        self.app_id = app_id

    def last_txn_version(self, app_id: str) -> int:
        return max(
            (self.catalog.table(n).last_txn_version(app_id)
             for n in self.tables),
            default=-1,
        )

    def last_txn_state(self, app_id: str) -> dict | None:
        best_v, best_state = -1, None
        for n in self.tables:
            t = self.catalog.table(n)
            v = t.last_txn_version(app_id)
            if v > best_v:
                best_v, best_state = v, t.last_txn_state(app_id)
        return best_state


@dataclass
class MultiTableCdcApplier:
    """Replication applier over a feed whose events name their table.

    Same trigger set as the single-table ``CdcApplier`` (row count /
    buffered bytes / time tick / query barrier / close), but a flush
    spans every buffered table and commits atomically."""

    spark: SparkSession
    feed: object  # FileCdcFeed | LogFeedCdcSource (events_after contract)
    catalog: Catalog
    # table name -> (pk_cols, payload_schema)
    tables: dict[str, tuple[list[str], T.StructType]]
    app_id: str = "binlog"
    max_rows: int = 4096
    max_bytes: int = 128 << 20
    tick_seconds: float = 0.2
    default_table: str | None = None  # for events without a table name
    # True = silently skip events for unregistered tables (MySQL
    # replication-filter semantics); False = hard error (safety net)
    skip_unregistered: bool = False
    # tables whose markers define the GROUP's resume position — the
    # full replication group, not a filter-narrowed allowlist (a
    # filter change must not rewind the position; MySQL's exec
    # position advances past filtered events too)
    position_tables: list | None = None

    _buffer: list[CdcEvent] = field(default_factory=list)
    _skipped_past: int = 0  # max position of a filter-skipped event
    _buffer_bytes: int = 0
    _last_flush: float = field(default_factory=time.monotonic)
    flush_log: list[FlushResult] = field(default_factory=list)

    @property
    def position(self) -> int:
        """Committed group resume position (see MultiTableTxnView)."""
        v = MultiTableTxnView(
            self.catalog,
            list(self.position_tables
                 if self.position_tables is not None else self.tables),
            self.app_id,
        ).last_txn_version(self.app_id)
        return 0 if v < 0 else v

    def _table_of(self, ev: CdcEvent) -> str:
        name = ev.table or self.default_table
        if name is None or name not in self.tables:
            raise ValueError(
                f"event at position {ev.position} names unknown table "
                f"{ev.table!r} (registered: {sorted(self.tables)})"
            )
        return name

    # ----------------------------------------------------------------- poll
    def poll(self) -> list[FlushResult]:
        results: list[FlushResult] = []
        after = max(
            self.position,
            self._buffer[-1].position if self._buffer else 0,
            self._skipped_past,
        )
        for ev in self.feed.events_after(after):
            if self.skip_unregistered and \
                    (ev.table or self.default_table) not in self.tables:
                # replication-filter semantics: the event is consumed
                # (position advances past it) but never applied
                self._skipped_past = max(self._skipped_past, ev.position)
                continue
            if ev.action == CdcEvent.ACTION_TRUNCATE:
                r = self._flush(FLUSH_DDL)
                if r:
                    results.append(r)
                self._truncate(ev)
                continue
            self._buffer.append(ev)
            self._buffer_bytes += len(json.dumps(ev.row))
            if len(self._buffer) >= self.max_rows:
                results.append(self._flush(FLUSH_ROW_LIMIT))
            elif self._buffer_bytes >= self.max_bytes:
                results.append(self._flush(FLUSH_MEMORY_LIMIT))
        return [r for r in results if r]

    def tick(self) -> FlushResult | None:
        if self._buffer and \
                time.monotonic() - self._last_flush >= self.tick_seconds:
            return self._flush(FLUSH_TIME_TICK)
        return None

    def run_for(self, seconds: float) -> None:
        deadline = time.monotonic() + seconds
        while time.monotonic() < deadline:
            self.poll()
            self.tick()
            time.sleep(min(0.02, self.tick_seconds / 4))

    def query_barrier(self) -> FlushResult | None:
        """Read-your-writes flush before serving a read."""
        self.poll()
        if self._buffer:
            return self._flush(FLUSH_QUERY)
        return None

    def close(self) -> FlushResult | None:
        self.poll()
        if self._buffer:
            return self._flush(FLUSH_ON_CLOSE)
        return None

    # ---------------------------------------------------------------- flush
    def _flush(self, reason: str) -> FlushResult | None:
        if not self._buffer:
            return None
        # the committed position acknowledges filter-skipped events
        # consumed before this flush too (MySQL's exec position
        # advances past filtered events) — a later filter change must
        # not re-read them
        position = max(self._buffer[-1].position, self._skipped_past)
        by_table: dict[str, list[CdcEvent]] = {}
        for ev in self._buffer:
            by_table.setdefault(self._table_of(ev), []).append(ev)
        state_at = getattr(self.feed, "state_at", None)
        applied = self.catalog.merge_batch_multi(
            [
                (name, events_frame(self.spark, self.tables[name][1], evs),
                 self.tables[name][0])
                for name, evs in by_table.items()
            ],
            txn_app_id=self.app_id,
            txn_version=position,
            txn_state=state_at(position) if state_at else None,
        )
        result = FlushResult(
            reason=reason,
            rows=len(self._buffer),
            bytes=self._buffer_bytes,
            position=position,
            applied=applied,
        )
        self._buffer = []
        self._buffer_bytes = 0
        self._last_flush = time.monotonic()
        self.flush_log.append(result)
        return result

    def _truncate(self, ev: CdcEvent) -> None:
        name = self._table_of(ev)
        t = self.catalog.table(name)
        state_at = getattr(self.feed, "state_at", None)
        t.overwrite(
            t.read().limit(0), txn_app_id=self.app_id,
            txn_version=ev.position,
            txn_state=state_at(ev.position) if state_at else None,
        )
        self.flush_log.append(FlushResult(FLUSH_DDL, 0, 0, ev.position, True))


__all__ = ["MultiTableCdcApplier", "MultiTableTxnView"]
