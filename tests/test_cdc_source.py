"""Live CDC source loop: positional resume, flush triggers, and the
exactly-once-across-restart contract (reference:
binlog_replica_applier.go:267-338 resume, :786-812 position-in-commit,
:837-849 time/byte triggers; delta/flush_reason.go reason taxonomy)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import types as T

from myduckserver_spark.catalog import Catalog
from myduckserver_spark.operators.cdc import ACTION_DELETE, ACTION_INSERT, ACTION_UPDATE
from myduckserver_spark.streaming.cdc_source import (
    FLUSH_DDL,
    FLUSH_ON_CLOSE,
    FLUSH_QUERY,
    FLUSH_ROW_LIMIT,
    FLUSH_TIME_TICK,
    CdcApplier,
    CdcEvent,
    FileCdcFeed,
)

PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ]
)


@pytest.fixture()
def setup(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
    table = cat.create_table("kv", base)
    feed = FileCdcFeed(str(tmp_path / "feed"))
    applier = CdcApplier(
        spark, feed, table, ["id"], PAYLOAD, app_id="t", tick_seconds=0.05
    )
    return feed, table, applier


def _state(table):
    return sorted((r.id, r.v) for r in table.read().collect())


def test_poll_and_time_tick_flush(setup):
    feed, table, applier = setup
    feed.append(ACTION_INSERT, {"id": 3, "v": 3.0})
    feed.append(ACTION_UPDATE, {"id": 1, "v": 1.5})
    applier.poll()
    # below row/byte limits: nothing flushed yet
    assert applier.position == 0
    time.sleep(0.06)
    r = applier.tick()
    assert r is not None and r.reason == FLUSH_TIME_TICK and r.rows == 2
    assert _state(table) == [(1, 1.5), (2, 2.0), (3, 3.0)]
    assert applier.position == r.position > 0


def test_row_count_trigger(setup):
    feed, table, applier = setup
    applier.max_rows = 3
    for i in range(7):
        feed.append(ACTION_INSERT, {"id": 100 + i, "v": float(i)})
    results = applier.poll()
    assert [r.reason for r in results] == [FLUSH_ROW_LIMIT, FLUSH_ROW_LIMIT]
    assert all(r.rows == 3 for r in results)
    # one event remains buffered; query barrier drains it
    r = applier.query_barrier()
    assert r is not None and r.reason == FLUSH_QUERY and r.rows == 1
    assert len(_state(table)) == 9


def test_memory_trigger(setup):
    feed, table, applier = setup
    applier.max_bytes = 30  # tiny: every ~2 events trip the byte limit
    feed.append(ACTION_INSERT, {"id": 7, "v": 7.0})
    feed.append(ACTION_INSERT, {"id": 8, "v": 8.0})
    results = applier.poll()
    assert results and results[0].reason == "MemoryLimit"


def test_resume_from_position_across_restart(setup, spark):
    """Forced-restart exactly-once: apply some, 'crash', resume, verify
    no loss and no double-apply."""
    feed, table, applier = setup
    feed.append(ACTION_INSERT, {"id": 10, "v": 10.0})
    feed.append(ACTION_UPDATE, {"id": 10, "v": 11.0})
    applier.query_barrier()  # flush -> position committed with the data
    p1 = applier.position
    assert p1 > 0
    # more events arrive after the 'crash'
    feed.append(ACTION_UPDATE, {"id": 10, "v": 12.0})
    feed.append(ACTION_DELETE, {"id": 2, "v": 0.0})

    # restart: a brand-new applier resumes from the committed position
    applier2 = CdcApplier(
        spark, feed, table, ["id"], PAYLOAD, app_id="t", tick_seconds=0.05
    )
    assert applier2.position == p1
    r = applier2.query_barrier()
    assert r is not None and r.rows == 2  # only the two new events
    assert _state(table) == [(1, 1.0), (10, 12.0)]

    # replay attempt: a third applier sees nothing new
    applier3 = CdcApplier(
        spark, feed, table, ["id"], PAYLOAD, app_id="t", tick_seconds=0.05
    )
    assert applier3.query_barrier() is None
    assert _state(table) == [(1, 1.0), (10, 12.0)]


def test_redelivered_batch_is_noop(setup, spark):
    """merge_batch's txn marker makes a duplicate flush a no-op even if
    the same events are force-fed twice (foreachBatch-retry analog)."""
    feed, table, applier = setup
    feed.append(ACTION_INSERT, {"id": 50, "v": 5.0})
    r1 = applier.query_barrier()
    assert r1.applied
    # simulate redelivery: hand-construct the same buffered batch
    applier._buffer = [
        CdcEvent(position=r1.position, action=ACTION_INSERT, row={"id": 50, "v": 5.0})
    ]
    applier._buffer_bytes = 1
    r2 = applier._flush("Unknown")
    assert not r2.applied  # skipped: version already committed
    assert _state(table).count((50, 5.0)) == 1


def test_truncate_event_barrier(setup):
    feed, table, applier = setup
    feed.append(ACTION_INSERT, {"id": 60, "v": 6.0})
    feed.append(CdcEvent.ACTION_TRUNCATE, {})
    feed.append(ACTION_INSERT, {"id": 61, "v": 6.1})
    applier.poll()
    r = applier.close()
    assert r is not None and r.reason == FLUSH_ON_CLOSE
    # pre-truncate rows flushed (DDL barrier), then wiped, then 61 applied
    reasons = [f.reason for f in applier.flush_log]
    assert FLUSH_DDL in reasons
    assert _state(table) == [(61, 6.1)]


def test_segment_rotation_positions(setup):
    feed, table, applier = setup
    p1 = feed.append(ACTION_INSERT, {"id": 70, "v": 7.0})
    feed.rotate()
    p2 = feed.append(ACTION_INSERT, {"id": 71, "v": 7.1})
    assert p2 > p1 and p2 - p1 > 1  # new segment stride
    applier.query_barrier()
    assert applier.position == p2
    assert (70, 7.0) in _state(table) and (71, 7.1) in _state(table)


def test_append_positions_contiguous_across_reopen_and_roll(tmp_path):
    """append tracks the segment's next line instead of re-counting
    it per call; positions stay contiguous when a second feed object
    reopens the segment, when the first writer appends after it, and
    across a segment roll."""
    root = str(tmp_path / "feed_pos")
    a = FileCdcFeed(root)
    got = [a.append(ACTION_INSERT, {"id": i, "v": 0.0}) for i in range(3)]
    b = FileCdcFeed(root)  # reopened: counts the segment once
    got += [b.append(ACTION_INSERT, {"id": i, "v": 0.0}) for i in (3, 4)]
    got.append(a.append(ACTION_INSERT, {"id": 5, "v": 0.0}))  # stale tail
    seg = got[0] // 1_000_000
    assert got == [seg * 1_000_000 + n for n in range(1, 7)]
    b.rotate()
    p1 = a.append(ACTION_INSERT, {"id": 6, "v": 0.0})  # other's roll
    p2 = b.append(ACTION_INSERT, {"id": 7, "v": 0.0})
    assert (p1, p2) == ((seg + 1) * 1_000_000 + 1, (seg + 1) * 1_000_000 + 2)
    read = [(e.position, e.row["id"]) for e in a.events_after(0)]
    assert read == list(zip(got + [p1, p2], range(8)))


def test_show_replica_status(spark, tmp_path):
    """SHOW BINLOG/REPLICA STATUS surfaces committed resume positions
    (reference: __sys__.binlog_position, catalog/internal_tables.go:
    180-186)."""
    from myduckserver_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh2"))
    eng.create_table("kv2", [("id", "BIGINT"), ("v", "DOUBLE")])
    feed = FileCdcFeed(str(tmp_path / "feed2"))
    applier = CdcApplier(
        spark, feed, eng.catalog.table("kv2"), ["id"], PAYLOAD,
        app_id="binlog", tick_seconds=0.05,
    )
    feed.append(ACTION_INSERT, {"id": 1, "v": 1.0})
    applier.query_barrier()
    rows = eng.execute("SHOW REPLICA STATUS").collect()
    stat = [(r.Table, r.Source_app, r.Position, r.File) for r in rows]
    assert stat == [("kv2", "binlog", applier.position, "segment-000001")]
    # empty-status form also works
    eng2 = Engine(spark, str(tmp_path / "wh3"))
    assert eng2.execute("SHOW BINLOG STATUS").collect() == []



def test_exactly_once_through_partitioned_log(spark, tmp_path):
    """The Kafka-shaped adapter (streaming/log_feed.py): per-key
    partition routing, per-partition offset resume committed atomically
    with the data (txn_state), exactly-once across a forced restart —
    the same contract the FileCdcFeed path guarantees."""
    from myduckserver_spark.streaming.log_feed import (
        LogFeedCdcSource,
        PartitionedLogFeed,
    )

    cat = Catalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
    table = cat.create_table("kvlog", base)
    log = PartitionedLogFeed(str(tmp_path / "log"), num_partitions=4)
    feed = LogFeedCdcSource(log, table, app_id="klog")
    applier = CdcApplier(
        spark, feed, table, ["id"], PAYLOAD, app_id="klog",
        tick_seconds=0.05,
    )
    # events spread across partitions by key hash; per-key order holds
    # (txn_seq = source transaction sequence, as a binlog GTID carries)
    for seq, i in enumerate(range(10, 16)):
        log.append(ACTION_INSERT, {"id": i, "v": float(i)}, key=i,
                   txn_seq=seq)
    log.append(ACTION_UPDATE, {"id": 10, "v": 100.0}, key=10, txn_seq=6)
    applier.query_barrier()
    p1 = applier.position
    assert p1 == 7  # dense virtual positions
    st = table.last_txn_state("klog")
    assert st is not None and sum(
        int(v) for v in st["offsets"].values()
    ) == 7  # per-partition offsets sum to consumed count
    assert (10, 100.0) in _state(table)

    # 'crash'; more events arrive, including same-key updates
    log.append(ACTION_UPDATE, {"id": 11, "v": 111.0}, key=11, txn_seq=7)
    log.append(ACTION_DELETE, {"id": 2, "v": 0.0}, key=2, txn_seq=8)

    feed2 = LogFeedCdcSource(log, table, app_id="klog")
    applier2 = CdcApplier(
        spark, feed2, table, ["id"], PAYLOAD, app_id="klog",
        tick_seconds=0.05,
    )
    assert applier2.position == p1
    r = applier2.query_barrier()
    assert r is not None and r.rows == 2  # only the two new events
    got = _state(table)
    assert (11, 111.0) in got and all(i != 2 for i, _ in got)

    # replay attempt: third applier sees nothing new
    feed3 = LogFeedCdcSource(log, table, app_id="klog")
    applier3 = CdcApplier(
        spark, feed3, table, ["id"], PAYLOAD, app_id="klog",
        tick_seconds=0.05,
    )
    assert applier3.query_barrier() is None
    assert _state(table) == got


def test_log_feed_per_key_ordering(tmp_path):
    """Same key -> same partition -> offset order preserved, whatever
    the cross-partition interleave."""
    from myduckserver_spark.streaming.log_feed import PartitionedLogFeed

    log = PartitionedLogFeed(str(tmp_path / "log2"), num_partitions=3)
    for seq in range(5):
        log.append(ACTION_UPDATE, {"id": 7, "v": float(seq)}, key=7)
        log.append(ACTION_UPDATE, {"id": 8, "v": float(seq)}, key=8)
    seen = {7: [], 8: []}
    for p, off, rec in log.read_from({}):
        seen[rec["row"]["id"]].append(rec["row"]["v"])
    assert seen[7] == [0.0, 1.0, 2.0, 3.0, 4.0]
    assert seen[8] == [0.0, 1.0, 2.0, 3.0, 4.0]


def test_log_feed_structured_streaming_consumption(spark, tmp_path):
    """readStream over ROLLED log segments (closed-segment visibility)
    -> foreachBatch merge_batch: the cluster-scale twin of the live
    adapter. Rolling is transparent to cumulative offsets."""
    from myduckserver_spark.streaming.log_feed import (
        PartitionedLogFeed,
        start_log_cdc_stream,
    )

    cat = Catalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame([(1, 1.0)], "id long, v double")
    table = cat.create_table("kvstream", base)
    log = PartitionedLogFeed(str(tmp_path / "slog"), num_partitions=3)
    for seq, (i, v) in enumerate([(2, 2.0), (3, 3.0), (1, 11.0)]):
        log.append(
            ACTION_UPDATE if i == 1 else ACTION_INSERT,
            {"id": i, "v": v}, key=i, txn_seq=seq,
        )
    assert log.roll() >= 1
    # open-file records remain invisible to the stream until rolled
    log.append(ACTION_INSERT, {"id": 9, "v": 9.0}, key=9, txn_seq=3)

    q = start_log_cdc_stream(
        spark, log, PAYLOAD, table, ["id"],
        str(tmp_path / "ckpt"), trigger_seconds=0.1,
    )
    try:
        q.processAllAvailable()
        got = sorted((r.id, r.v) for r in table.read().collect())
        assert got == [(1, 11.0), (2, 2.0), (3, 3.0)]
        # roll the pending record; the stream picks it up
        log.roll()
        q.processAllAvailable()
        got = sorted((r.id, r.v) for r in table.read().collect())
        assert got == [(1, 11.0), (2, 2.0), (3, 3.0), (9, 9.0)]
    finally:
        q.stop()
    # cumulative offsets survive the rolls: a fresh live adapter sees
    # nothing new only past its committed vector; reading from zero
    # replays every record exactly once
    seen = [rec["row"]["id"] for _, _, rec in log.read_from({})]
    assert sorted(seen) == [1, 2, 3, 9]


def test_log_feed_offset_cache_across_reopen_and_roll(tmp_path):
    """append() keeps a per-partition next-offset counter (O(1) per
    record, not a re-count of every segment line). Counter initializes
    correctly from disk on reopen and stays cumulative across roll()."""
    from myduckserver_spark.streaming.log_feed import PartitionedLogFeed

    root = str(tmp_path / "log3")
    log = PartitionedLogFeed(root, num_partitions=2)
    offs = [log.append(ACTION_INSERT, {"id": 1, "v": float(i)}, key=1)
            for i in range(3)]
    part = offs[0][0]
    assert [o for _, o in offs] == [0, 1, 2]
    log.roll()
    # cumulative across the rolled segment
    assert log.append(ACTION_INSERT, {"id": 1, "v": 3.0}, key=1) \
        == (part, 3)
    # a NEW instance over the same directory resumes from disk state
    log2 = PartitionedLogFeed(root)
    assert log2.append(ACTION_INSERT, {"id": 1, "v": 4.0}, key=1) \
        == (part, 4)
    vs = [rec["row"]["v"] for _, _, rec in log2.read_from({})
          if rec["row"]["id"] == 1]
    assert vs == [0.0, 1.0, 2.0, 3.0, 4.0]
