"""Kafka-shaped CDC feed: a partitioned append-only log + an adapter
presenting the ``FileCdcFeed`` contract to ``CdcApplier``.

The reference consumes replication from network clients — the vitess
binlog stream (binlogreplication/binlog_replica_applier.go:170-265)
and pglogrepl (pgserver/logrepl/replication.go:153-178) — which in a
modern deployment is fronted by a Kafka/Debezium-style partitioned
log: N ordered partitions, per-partition offsets, records keyed by
primary key so one key's changes always land in one partition (the
only ordering CDC apply needs — last-writer-wins is per key). This
module closes the gap to that interface as far as a no-network
sandbox allows:

- ``PartitionedLogFeed``: the log itself. Append routes by a stable
  key hash; consumers read from a per-partition offset vector, merged
  fairly by (offset, partition). Per-key order is total; cross-key
  cross-partition order is NOT guaranteed — exactly like Kafka.
- ``LogFeedCdcSource``: the adapter. ``CdcApplier`` speaks scalar
  positions (the GTID/file-pos analog), so the adapter assigns each
  emitted record a dense virtual position and exposes
  ``state_at(position)`` — the per-partition offset vector as of that
  emission — which the applier commits in the SAME log entry as the
  data (catalog.overwrite ``txn_state``). A restarted
  adapter resumes from the committed vector; re-delivered records
  dedupe on the scalar position exactly as with ``FileCdcFeed``.

Scale note: this file-backed log is the sandbox stand-in; the adapter
layer is what a real Kafka consumer would plug into (poll → records
with (partition, offset) → same virtual-position assignment). The
Structured Streaming path (cdc_stream.py) remains the cluster-scale
ingestion story; this adapter serves the live applier loop.
"""

from __future__ import annotations

import hashlib
import heapq
import json
import os

from myduckserver_spark.streaming.cdc_source import (
    CdcEvent,
    _decode_row_payloads,
)


class PartitionedLogFeed:
    """Append-only partitioned log (directory of per-partition JSONL
    files). Offsets are 0-based and contiguous per partition."""

    def __init__(self, root: str, num_partitions: int = 4):
        self.root = root
        os.makedirs(root, exist_ok=True)
        meta_path = os.path.join(root, "_LOGMETA")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                self.num_partitions = json.load(f)["num_partitions"]
        else:
            self.num_partitions = num_partitions
            with open(meta_path, "w") as f:
                json.dump({"num_partitions": num_partitions}, f)
        # per-partition next-offset cache: initialized lazily from the
        # files, then maintained in memory — append is O(1), not a
        # re-count of every segment line (O(n^2) feed writes otherwise)
        self._next_offset: dict[int, int] = {}

    def _part_path(self, p: int) -> str:
        return os.path.join(self.root, f"p{p:04d}.jsonl")

    def _rolled_paths(self, p: int) -> list[str]:
        pfx = f"p{p:04d}."
        out = [
            os.path.join(self.root, f)
            for f in os.listdir(self.root)
            if f.startswith(pfx) and f.endswith(".closed.jsonl")
        ]
        return sorted(out)

    def roll(self) -> int:
        """Close the open partition files (rename to *.closed.jsonl).
        Structured Streaming's file source treats files as immutable,
        so only ROLLED segments are visible to readStream — Kafka's
        closed-segment visibility rule. Offsets are cumulative across
        rolled + open files, so the live adapter (LogFeedCdcSource)
        is unaffected by a roll. Returns the number of files rolled."""
        n = 0
        for p in range(self.num_partitions):
            path = self._part_path(p)
            if os.path.exists(path) and os.path.getsize(path) > 0:
                seq = len(self._rolled_paths(p))
                os.rename(
                    path,
                    os.path.join(
                        self.root, f"p{p:04d}.{seq:06d}.closed.jsonl"
                    ),
                )
                n += 1
        return n

    def _partition_lines(self, p: int) -> list[str]:
        """All records of a partition in order: rolled segments first
        (oldest to newest), then the open file."""
        lines: list[str] = []
        for path in self._rolled_paths(p) + [self._part_path(p)]:
            if os.path.exists(path):
                with open(path) as f:
                    lines.extend(ln for ln in f if ln.strip())
        return lines

    def partition_for(self, key) -> int:
        """Stable key routing (md5, not Python's salted hash) — one
        key's events always land in one partition, giving the per-key
        total order CDC apply requires."""
        h = hashlib.md5(json.dumps(key, sort_keys=True, default=str)
                        .encode()).digest()
        return int.from_bytes(h[:4], "big") % self.num_partitions

    # ------------------------------------------------------------ write side
    def append(
        self,
        action: int,
        row: dict,
        key=None,
        txn_group: str = "g0",
        txn_seq: int = 0,
        txn_stmt: int = 0,
        table: str | None = None,
    ) -> tuple[int, int]:
        """Append one record; returns its (partition, offset)."""
        p = 0 if key is None else self.partition_for(key)
        path = self._part_path(p)
        if p not in self._next_offset:
            self._next_offset[p] = len(self._partition_lines(p))
        offset = self._next_offset[p]
        self._next_offset[p] = offset + 1
        rec = {
            "action": action, "row": row, "txn_group": txn_group,
            "txn_seq": txn_seq, "txn_stmt": txn_stmt,
        }
        if table is not None:
            rec["table"] = table
        with open(path, "a") as f:
            f.write(json.dumps(rec) + "\n")
        return p, offset

    # ------------------------------------------------------------- read side
    def read_from(self, offsets: dict[int, int]):
        """Yield (partition, offset, record) for every record at or
        past the given per-partition offsets, merged by (offset,
        partition) for fairness; per-partition order is preserved."""
        heap: list[tuple[int, int, list]] = []
        for p in range(self.num_partitions):
            lines = self._partition_lines(p)
            if not lines:
                continue
            start = offsets.get(p, 0)
            pending = [
                (i, json.loads(ln))
                for i, ln in enumerate(lines)
                if i >= start
            ]
            if pending:
                heapq.heappush(heap, (pending[0][0], p, pending))
        while heap:
            _, p, pending = heapq.heappop(heap)
            off, rec = pending.pop(0)
            yield p, off, rec
            if pending:
                heapq.heappush(heap, (pending[0][0], p, pending))


class LogFeedCdcSource:
    """FileCdcFeed-contract view of a PartitionedLogFeed.

    ``events_after(position)`` yields CdcEvents carrying dense virtual
    positions; ``state_at(position)`` returns the per-partition offset
    vector as of that emission, which CdcApplier commits atomically
    with the data (txn_state). Cold resume reads the committed vector
    back from the table's log."""

    def __init__(self, log: PartitionedLogFeed, table, app_id: str):
        self.log = log
        self.table = table
        self.app_id = app_id
        self._emitted: int | None = None  # vpos of last emitted event
        self._offsets: dict[int, int] = {}
        self._states: dict[int, dict] = {}  # vpos -> offsets snapshot

    def _cold_resume(self, position: int) -> None:
        committed_pos = self.table.last_txn_version(self.app_id)
        committed_pos = 0 if committed_pos < 0 else committed_pos
        if position != committed_pos:
            raise ValueError(
                f"cannot resume log feed at uncommitted position "
                f"{position} (committed: {committed_pos})"
            )
        state = self.table.last_txn_state(self.app_id) or {}
        self._offsets = {
            int(k): int(v) for k, v in state.get("offsets", {}).items()
        }
        self._emitted = position
        self._states = {position: {"offsets": dict(self._offsets)}}

    def state_at(self, position: int) -> dict:
        st = self._states.get(position)
        if st is None:
            raise KeyError(f"no feed state recorded for position {position}")
        # prune snapshots at/before the now-committed position
        self._states = {
            k: v for k, v in self._states.items() if k >= position
        }
        return {
            "offsets": {str(k): v for k, v in st["offsets"].items()}
        }

    def events_after(self, position: int):
        if self._emitted is None or position != self._emitted:
            self._cold_resume(position)
        for p, off, rec in self.log.read_from(self._offsets):
            vpos = self._emitted + 1
            self._emitted = vpos
            self._offsets[p] = off + 1
            self._states[vpos] = {"offsets": dict(self._offsets)}
            yield CdcEvent(
                position=vpos,
                action=rec["action"],
                row=_decode_row_payloads(rec["row"]),
                txn_group=rec.get("txn_group", "g0"),
                txn_seq=rec.get("txn_seq", 0),
                txn_stmt=rec.get("txn_stmt", 0),
                table=rec.get("table"),
            )


def start_log_cdc_stream(
    spark,
    log: PartitionedLogFeed,
    payload_schema,
    table,
    pk_cols: list[str],
    checkpoint_dir: str,
    trigger_seconds: float = 0.2,
    app_id: str = "logcdc",
):
    """Structured Streaming consumption of the partitioned log — the
    cluster-scale twin of the live ``LogFeedCdcSource`` applier. Only
    ROLLED segments are visible (``PartitionedLogFeed.roll``): the
    file source treats files as immutable, exactly Kafka's
    closed-segment rule. Cross-partition arrival order inside a
    micro-batch doesn't matter — condense orders by
    (txn_group, txn_seq, txn_stmt, action), so the per-key per-
    partition order the log guarantees is sufficient. Exactly-once:
    foreachBatch commits through ``merge_batch`` with the epoch id as
    the txn version; checkpointed epochs re-deliver as no-ops."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("action", T.IntegerType()),
        T.StructField("row", payload_schema),
        T.StructField("txn_group", T.StringType()),
        T.StructField("txn_seq", T.LongType()),
        T.StructField("txn_stmt", T.LongType()),
    ])
    stream = spark.readStream.schema(schema).json(
        os.path.join(log.root, "*.closed.jsonl")
    )

    def apply_batch(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = batch_df.select(
            "row.*",
            F.col("action").cast("byte").alias("action"),
            "txn_group", "txn_seq", "txn_stmt",
        )
        table.merge_batch(
            delta, pk_cols, txn_app_id=app_id, txn_version=int(epoch_id)
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{int(trigger_seconds * 1000)} milliseconds")
        .start()
    )


def start_multi_table_log_cdc_stream(
    spark,
    log: PartitionedLogFeed,
    catalog,
    tables: dict,
    checkpoint_dir: str,
    trigger_seconds: float = 0.2,
    app_id: str = "logcdc",
):
    """Structured-Streaming twin of ``MultiTableCdcApplier``: one
    micro-batch may carry rows for N tables (records name their table);
    every table's delta commits through ``Catalog.merge_batch_multi``
    as ONE journaled multi-table transaction keyed by the epoch id —
    both-or-neither across crash, checkpointed epochs re-deliver as
    no-ops. ``tables`` maps table name → (pk_cols, payload_schema);
    schemas may differ per table (the JSON source parses ``row`` into
    a merged struct of every payload field).

    Scale note: grouping by table is a driver-side filter per table
    over the SAME micro-batch DataFrame — no extra shuffle; each
    table's condense+merge keeps its one-shuffle-per-table plan.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    merged_fields: dict[str, T.StructField] = {}
    for _pk, payload in tables.values():
        for f in payload.fields:
            prev = merged_fields.get(f.name)
            if prev is not None and prev.dataType != f.dataType:
                raise ValueError(
                    f"payload field {f.name!r} has conflicting types "
                    f"across tables: {prev.dataType} vs {f.dataType}"
                )
            merged_fields[f.name] = f
    schema = T.StructType([
        T.StructField("table", T.StringType()),
        T.StructField("action", T.IntegerType()),
        T.StructField("row", T.StructType(list(merged_fields.values()))),
        T.StructField("txn_group", T.StringType()),
        T.StructField("txn_seq", T.LongType()),
        T.StructField("txn_stmt", T.LongType()),
    ])
    stream = spark.readStream.schema(schema).json(
        os.path.join(log.root, "*.closed.jsonl")
    )

    def apply_batch(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        present = [
            r.table for r in
            batch_df.select("table").distinct().collect()
        ]
        unknown = [t for t in present if t not in tables]
        if unknown:
            raise ValueError(
                f"log records name unknown tables {unknown} "
                f"(registered: {sorted(tables)})"
            )
        batches = []
        for name in sorted(present):
            pk_cols, payload = tables[name]
            delta = batch_df.filter(F.col("table") == name).select(
                *[F.col(f"row.{f.name}") for f in payload.fields],
                F.col("action").cast("byte").alias("action"),
                "txn_group", "txn_seq", "txn_stmt",
            )
            batches.append((name, delta, pk_cols))
        catalog.merge_batch_multi(
            batches, txn_app_id=app_id, txn_version=int(epoch_id),
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{int(trigger_seconds * 1000)} milliseconds")
        .start()
    )


__all__ = [
    "LogFeedCdcSource",
    "PartitionedLogFeed",
    "start_log_cdc_stream",
    "start_multi_table_log_cdc_stream",
]
