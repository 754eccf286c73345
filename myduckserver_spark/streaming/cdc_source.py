"""Live CDC source loop: feed → delta buffer → triggered flush → merge.

This is the Spark twin of the reference's replication applier
(reference: binlogreplication/binlog_replica_applier.go:108-483 event
loop; delta/delta.go:35-67 per-table Arrow buffer; flush triggers
binlog_replica_applier.go:837-849 — commit every 200 ms or 128 MB —
with the reason taxonomy of delta/flush_reason.go:5-24):

- ``FileCdcFeed``: an append-only, segmented event log (the binlog-file
  analog). Positions are monotone ``segment*1e6 + row`` longs, so
  "resume from position" is a single comparison — the GTID/file-pos
  resume of binlog_replica_applier.go:267-338.
- ``CdcApplier``: buffers events per flush window and flushes on the
  same triggers as the reference: row-count limit, byte (memory) limit,
  time tick, query barrier (read-your-writes), init, and close.
- Exactly-once: each flush calls ``ParquetTable.merge_batch`` with
  ``txn_version = position of the last buffered event``; the position
  is persisted in the SAME pointer commit as the data
  (catalog.py overwrite) — the Spark form of saving the GTID inside the
  replication transaction (binlog_replica_applier.go:786-812). A
  restarted applier reads the committed position back and skips applied
  events; a re-delivered batch is a no-op.

The Structured Streaming wrapper (cdc_stream.py) remains the scale path
for file/Kafka-shaped feeds; this applier closes the semantic loop for
a *live* totally-ordered feed with positional resume, which readStream's
file source cannot express (it has no notion of "position inside a
file").
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os
import re
import time
import zoneinfo
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from myduckserver_spark.catalog import ParquetTable
from myduckserver_spark.frames import local_frame
from myduckserver_spark.operators.cdc import (
    ACTION_DELETE,
    ACTION_INSERT,
    ACTION_UPDATE,
)

# Flush reasons — names match reference delta/flush_reason.go:5-24.
FLUSH_UNKNOWN = "Unknown"
FLUSH_DDL = "DDLStmt"
FLUSH_DML = "DMLStmt"
FLUSH_ROW_LIMIT = "RowCountLimit"
FLUSH_MEMORY_LIMIT = "MemoryLimit"
FLUSH_TIME_TICK = "TimeTick"
FLUSH_QUERY = "Query"
FLUSH_INIT = "Init"
FLUSH_ON_CLOSE = "OnClose"

_SEGMENT_STRIDE = 1_000_000  # positions per segment file


@dataclass
class CdcEvent:
    position: int
    action: int  # ACTION_DELETE / ACTION_UPDATE / ACTION_INSERT, or -1 truncate
    row: dict
    txn_group: str = "g0"
    txn_seq: int = 0
    txn_stmt: int = 0
    # destination table for multi-table feeds (binlog events name their
    # table; None = single-table feed, the applier's bound table)
    table: str | None = None

    ACTION_TRUNCATE = -1


class FileCdcFeed:
    """Append-only segmented JSONL event log (binlog-file analog).

    Writers append events to the current segment and may rotate;
    readers scan segments in order and skip to a resume position.
    Registered as a ``streaming.feed.CdcFeed`` (the network-client
    seam) at the bottom of that module — the import here would cycle.
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # (segment, lines, bytes) of the newest segment as this writer
        # last left it: the next position is known without re-reading
        # the segment. A size change (another writer) or a newer
        # segment on disk forces a recount.
        self._tail: tuple[int, int, int] | None = None

    def _segments(self) -> list[int]:
        out = []
        for f in os.listdir(self.root):
            if f.startswith("segment-") and f.endswith(".jsonl"):
                out.append(int(f[len("segment-") : -len(".jsonl")]))
        return sorted(out)

    def _seg_path(self, seg: int) -> str:
        return os.path.join(self.root, f"segment-{seg:06d}.jsonl")

    # ------------------------------------------------------------- write side
    def append(
        self,
        action: int,
        row: dict,
        txn_group: str = "g0",
        txn_seq: int = 0,
        txn_stmt: int = 0,
        table: str | None = None,
    ) -> int:
        """Append one event to the newest segment; returns its position."""
        tail = self._tail
        if tail is None or os.path.exists(self._seg_path(tail[0] + 1)):
            segs = self._segments()
            seg = segs[-1] if segs else 1
        else:
            seg = tail[0]
        path = self._seg_path(seg)
        size = os.path.getsize(path) if os.path.exists(path) else 0
        if tail is not None and tail[0] == seg and tail[2] == size:
            line_no = tail[1]
        else:
            line_no = 0
            if size:
                with open(path) as f:
                    line_no = sum(1 for _ in f)
        pos = seg * _SEGMENT_STRIDE + line_no + 1
        rec = {
            "action": action,
            "row": row,
            "txn_group": txn_group,
            "txn_seq": txn_seq,
            "txn_stmt": txn_stmt,
        }
        if table is not None:
            rec["table"] = table
        with open(path, "a") as f:
            f.write(json.dumps(rec) + "\n")
            self._tail = (seg, line_no + 1, f.tell())
        return pos

    def rotate(self) -> int:
        """Start a new segment (binlog FLUSH LOGS analog)."""
        segs = self._segments()
        seg = (segs[-1] if segs else 0) + 1
        open(self._seg_path(seg), "a").close()
        return seg

    # -------------------------------------------------------------- read side
    def events_after(self, position: int):
        """Yield events with position > `position`, in order."""
        for seg in self._segments():
            base = seg * _SEGMENT_STRIDE
            if base + _SEGMENT_STRIDE <= position:
                continue  # whole segment already applied
            with open(self._seg_path(seg)) as f:
                for i, line in enumerate(f):
                    pos = base + i + 1
                    if pos <= position or not line.strip():
                        continue
                    d = json.loads(line)
                    yield CdcEvent(
                        position=pos,
                        action=d["action"],
                        row=_decode_row_payloads(d["row"]),
                        txn_group=d.get("txn_group", "g0"),
                        txn_seq=d.get("txn_seq", 0),
                        txn_stmt=d.get("txn_stmt", 0),
                        table=d.get("table"),
                    )


def wrap_binary_json(encoded: bytes) -> dict:
    """Wrap MySQL binary-JSON wire bytes for transport in a feed row.

    A binlog row event carries JSON columns in MySQL's internal binary
    format (streaming/mysql_json.py); the feed's JSONL lines are text,
    so producers wrap the raw bytes as ``{"$mysqlJson": <hex>}`` and
    ``events_after`` decodes them back to a JSON string for the column.
    """
    return {"$mysqlJson": encoded.hex()}


def _decode_row_payloads(row: dict) -> dict:
    """Decode any ``{"$mysqlJson": hex}`` column payloads to JSON text
    (the string form a JSON column holds in the engine), leaving every
    other value untouched."""
    if not any(
        isinstance(v, dict) and "$mysqlJson" in v for v in row.values()
    ):
        return row
    from myduckserver_spark.streaming.mysql_json import decode_binary_json

    out = {}
    for k, v in row.items():
        if isinstance(v, dict) and "$mysqlJson" in v:
            out[k] = json.dumps(
                decode_binary_json(bytes.fromhex(v["$mysqlJson"])),
                separators=(",", ":"),
                default=str,  # opaque DECIMAL payloads decode to Decimal
            )
        else:
            out[k] = v
    return out


_AUGMENTED_FIELDS = [
    T.StructField("action", T.ByteType()),
    T.StructField("txn_tag", T.StringType()),
    T.StructField("txn_server", T.BinaryType()),
    T.StructField("txn_group", T.StringType()),
    T.StructField("txn_seq", T.LongType()),
    T.StructField("txn_stmt", T.LongType()),
]

# CAST(string AS TIMESTAMP/DATE) text shapes: yyyy[-m[m][-d[d]]], then
# for timestamps an optional [ T]h[h]:m[m][:s[s][.fraction]] and zone.
_TS_TEXT = re.compile(
    r"\s*(\d{4})(?:-(\d{1,2})(?:-(\d{1,2})"
    r"(?:[ T](\d{1,2}):(\d{1,2})(?::(\d{1,2})(?:\.(\d*))?)?"
    r"\s*(Z|[+-]\d{1,2}(?::?\d{2})?)?)?)?)?\s*"
)
_DATE_TEXT = re.compile(
    r"\s*(\d{4})(?:-(\d{1,2})(?:-(\d{1,2}))?)?(?:[ T].*)?\s*")


def _zone(name: str) -> dt.tzinfo:
    m = re.fullmatch(r"(?:UTC|GMT)?([+-])(\d{1,2})(?::?(\d{2}))?", name)
    if m:
        off = dt.timedelta(hours=int(m.group(2)),
                           minutes=int(m.group(3) or 0))
        return dt.timezone(-off if m.group(1) == "-" else off)
    return zoneinfo.ZoneInfo(name)


def _text_timestamp(text: str, zone: dt.tzinfo | None) -> dt.datetime | None:
    """`text` as CAST(text AS TIMESTAMP_NTZ) (zone None: any zone in the
    text is ignored) or CAST(text AS TIMESTAMP) read in `zone`; None
    where the cast yields NULL."""
    m = _TS_TEXT.fullmatch(text)
    if not m:
        return None
    y, mo, d, h, mi, sec, frac, tz = m.groups()
    try:
        v = dt.datetime(int(y), int(mo or 1), int(d or 1), int(h or 0),
                        int(mi or 0), int(sec or 0),
                        int((frac or "")[:6].ljust(6, "0")))
    except ValueError:
        return None
    if zone is None:
        return v
    return v.replace(tzinfo=_zone(tz.replace("Z", "UTC")) if tz else zone)


def _json_caster(dtype: T.DataType, session_zone: dt.tzinfo | None):
    """Converter from a feed's JSON text (or number, for decimals) to
    the Python value of a temporal or decimal `dtype`, as CAST(value AS
    dtype) gives it; None for other types. Values already of the
    field's Python type pass through."""
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        zone = session_zone if isinstance(dtype, T.TimestampType) else None
        return lambda v: _text_timestamp(v, zone) if isinstance(v, str) else v
    if isinstance(dtype, T.DateType):
        def date(v):
            if not isinstance(v, str):
                return v
            m = _DATE_TEXT.fullmatch(v)
            try:
                return dt.date(int(m.group(1)), int(m.group(2) or 1),
                               int(m.group(3) or 1)) if m else None
            except ValueError:
                return None
        return date
    if isinstance(dtype, T.DecimalType):
        limit = decimal.Decimal(10) ** (dtype.precision - dtype.scale)
        q = decimal.Decimal(1).scaleb(-dtype.scale)

        def dec(v):
            if v is None or isinstance(v, bool):
                return v
            if not isinstance(v, decimal.Decimal):
                try:
                    v = decimal.Decimal(str(v).strip())
                except decimal.InvalidOperation:
                    return None
            if not v.is_finite():
                return None
            v = v.quantize(q, rounding=decimal.ROUND_HALF_UP,
                           context=decimal.Context(prec=80))
            return v if abs(v) < limit else None
        return dec
    return None


def events_frame(spark: SparkSession, payload_schema: T.StructType,
                 events: list[CdcEvent]):
    """The flush delta of `events`: each event's payload under
    `payload_schema` plus the CDC columns ``merge_batch`` reads. JSON
    text for temporal and decimal fields is cast to the field's type
    the way Spark's CAST from string does (unparseable text → NULL)."""
    schema = T.StructType(list(payload_schema.fields) + _AUGMENTED_FIELDS)
    zone = None
    if any(isinstance(f.dataType, T.TimestampType) for f in payload_schema):
        zone = _zone(spark.conf.get("spark.sql.session.timeZone"))
    fields = [(f.name, _json_caster(f.dataType, zone))
              for f in payload_schema.fields]
    data = [
        tuple(ev.row.get(n) if c is None else c(ev.row.get(n))
              for n, c in fields)
        + (ev.action, "", bytearray(), ev.txn_group, ev.txn_seq,
           ev.txn_stmt)
        for ev in events
    ]
    return local_frame(spark, data, schema)


@dataclass
class FlushResult:
    reason: str
    rows: int
    bytes: int
    position: int
    applied: bool


@dataclass
class CdcApplier:
    """Replication applier: poll feed → buffer → triggered merge_batch."""

    spark: SparkSession
    feed: FileCdcFeed
    table: ParquetTable
    pk_cols: list[str]
    payload_schema: T.StructType
    app_id: str = "binlog"
    # Reference defaults: 200 ms / 128 MB (binlog_replica_applier.go:837-849);
    # row limit is the delta buffer's RowCountLimit trigger.
    max_rows: int = 4096
    max_bytes: int = 128 << 20
    tick_seconds: float = 0.2

    _buffer: list[CdcEvent] = field(default_factory=list)
    _buffer_bytes: int = 0
    _last_flush: float = field(default_factory=time.monotonic)
    flush_log: list[FlushResult] = field(default_factory=list)

    # ------------------------------------------------------------- position
    @property
    def position(self) -> int:
        """Committed resume position (−1 sentinel → 0 = nothing applied)."""
        v = self.table.last_txn_version(self.app_id)
        return 0 if v < 0 else v

    # ----------------------------------------------------------------- poll
    def poll(self) -> list[FlushResult]:
        """Pull new events from the feed; flush on row/byte triggers."""
        results: list[FlushResult] = []
        after = max(
            self.position, self._buffer[-1].position if self._buffer else 0
        )
        for ev in self.feed.events_after(after):
            if ev.action == CdcEvent.ACTION_TRUNCATE:
                # Barrier semantics (reference logrepl/replication.go:861+):
                # flush pending rows, then truncate at this position.
                r = self._flush(FLUSH_DDL)
                if r:
                    results.append(r)
                self._truncate(ev.position)
                continue
            self._buffer.append(ev)
            self._buffer_bytes += len(json.dumps(ev.row))
            if len(self._buffer) >= self.max_rows:
                results.append(self._flush(FLUSH_ROW_LIMIT))
            elif self._buffer_bytes >= self.max_bytes:
                results.append(self._flush(FLUSH_MEMORY_LIMIT))
        return [r for r in results if r]

    def tick(self) -> FlushResult | None:
        """Time-based trigger: flush if the tick interval elapsed."""
        if self._buffer and time.monotonic() - self._last_flush >= self.tick_seconds:
            return self._flush(FLUSH_TIME_TICK)
        return None

    def run_for(self, seconds: float) -> None:
        """Poll/tick loop for a bounded wall-clock window (tests/demos)."""
        deadline = time.monotonic() + seconds
        while time.monotonic() < deadline:
            self.poll()
            self.tick()
            time.sleep(min(0.02, self.tick_seconds / 4))

    # -------------------------------------------------------------- barriers
    def query_barrier(self) -> FlushResult | None:
        """Read-your-writes: flush before serving a read
        (reference backend/executor.go:54-61 flush-before-query)."""
        self.poll()
        if self._buffer:
            return self._flush(FLUSH_QUERY)
        return None

    def close(self) -> FlushResult | None:
        self.poll()
        if self._buffer:
            return self._flush(FLUSH_ON_CLOSE)
        return None

    # ----------------------------------------------------------------- flush
    def _flush(self, reason: str) -> FlushResult | None:
        if not self._buffer:
            return None
        position = self._buffer[-1].position
        df = events_frame(self.spark, self.payload_schema, self._buffer)
        # Feeds with richer resume state than one scalar (a partitioned
        # log's per-partition offsets) expose state_at(position); it
        # commits in the SAME pointer write as the data + position.
        state_at = getattr(self.feed, "state_at", None)
        applied = self.table.merge_batch(
            df, self.pk_cols, txn_app_id=self.app_id, txn_version=position,
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

    def _truncate(self, position: int) -> None:
        empty = self.table.read().limit(0)
        state_at = getattr(self.feed, "state_at", None)
        self.table.overwrite(
            empty, txn_app_id=self.app_id, txn_version=position,
            txn_state=state_at(position) if state_at else None,
        )
        self.flush_log.append(
            FlushResult(FLUSH_DDL, 0, 0, position, True)
        )


__all__ = [
    "CdcApplier",
    "CdcEvent",
    "FileCdcFeed",
    "FlushResult",
    "FLUSH_DDL",
    "FLUSH_DML",
    "FLUSH_INIT",
    "FLUSH_MEMORY_LIMIT",
    "FLUSH_ON_CLOSE",
    "FLUSH_QUERY",
    "FLUSH_ROW_LIMIT",
    "FLUSH_TIME_TICK",
    "FLUSH_UNKNOWN",
]
