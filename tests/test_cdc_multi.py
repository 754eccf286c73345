"""Atomic multi-table CDC transactions: one source txn touching N
tables commits as ONE journaled set of log entries — both-or-neither
across crash at every observable version (reference applies a whole
flush in one DuckDB transaction, delta/controller.go:75-190, with the
replication position in the same commit,
binlog_replica_applier.go:786-812)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from myduckserver_spark.catalog import Catalog, ParquetTable
from myduckserver_spark.operators.cdc import ACTION_INSERT, ACTION_UPDATE
from myduckserver_spark.streaming.cdc_source import FileCdcFeed
from myduckserver_spark.streaming.multi_applier import (
    MultiTableCdcApplier,
    MultiTableTxnView,
)

PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def _mk(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    a = cat.create_table(
        "acct", spark.createDataFrame([(1, 10.0), (2, 20.0)],
                                      "id long, v double"))
    b = cat.create_table(
        "audit_log", spark.createDataFrame([(1, 0.0)], "id long, v double"))
    return cat, a, b


def _delta(spark, rows):
    return spark.createDataFrame(
        [(i, v, ACTION_UPDATE, "g0", seq, 0)
         for seq, (i, v) in enumerate(rows)],
        "id long, v double, action tinyint, txn_group string, "
        "txn_seq long, txn_stmt long",
    )


def _state(t):
    return sorted((r.id, r.v) for r in t.read().collect())


def test_multi_commit_applies_both(spark, tmp_path):
    cat, a, b = _mk(spark, tmp_path)
    ok = cat.merge_batch_multi(
        [("acct", _delta(spark, [(1, 11.0)]), ["id"]),
         ("audit_log", _delta(spark, [(1, 1.0)]), ["id"])],
        txn_app_id="repl", txn_version=5,
    )
    assert ok
    assert _state(a) == [(1, 11.0), (2, 20.0)]
    assert _state(b) == [(1, 1.0)]
    # markers landed on BOTH tables in the same commit
    assert a.last_txn_version("repl") == 5
    assert b.last_txn_version("repl") == 5
    # re-delivery of the same version is a no-op (exactly-once)
    assert not cat.merge_batch_multi(
        [("acct", _delta(spark, [(1, 99.0)]), ["id"]),
         ("audit_log", _delta(spark, [(1, 99.0)]), ["id"])],
        txn_app_id="repl", txn_version=5,
    )
    assert _state(a) == [(1, 11.0), (2, 20.0)]


def test_crash_before_commit_point_changes_nothing(spark, tmp_path,
                                                   monkeypatch):
    """Kill during snapshot preparation (before the journal record):
    NEITHER log advances; restart sees only the old versions."""
    cat, a, b = _mk(spark, tmp_path)
    va, vb = a.version, b.version

    def boom(self, prepared):
        raise RuntimeError("kill -9 before journal write")

    monkeypatch.setattr(Catalog, "commit_multi", boom)
    with pytest.raises(RuntimeError):
        cat.merge_batch_multi(
            [("acct", _delta(spark, [(1, 11.0)]), ["id"]),
             ("audit_log", _delta(spark, [(1, 1.0)]), ["id"])],
            txn_app_id="repl", txn_version=5,
        )
    monkeypatch.undo()
    cat2 = Catalog(spark, cat.root)  # restart → recovery
    assert cat2.table("acct").version == va
    assert cat2.table("audit_log").version == vb
    assert _state(cat2.table("acct")) == [(1, 10.0), (2, 20.0)]
    assert _state(cat2.table("audit_log")) == [(1, 0.0)]
    assert cat2.table("acct").last_txn_version("repl") == -1


def test_crash_between_pointer_writes_rolls_forward(spark, tmp_path,
                                                    monkeypatch):
    """Kill AFTER the journal record but between the two log-entry
    writes: the journal is the commit point, so restart recovery
    completes the transaction — BOTH tables show the new version."""
    cat, a, b = _mk(spark, tmp_path)
    calls = {"n": 0}
    orig = ParquetTable.commit

    def torn(self, entry):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("kill -9 mid-apply")
        return orig(self, entry)

    monkeypatch.setattr(ParquetTable, "commit", torn)
    with pytest.raises(RuntimeError):
        cat.merge_batch_multi(
            [("acct", _delta(spark, [(1, 11.0)]), ["id"]),
             ("audit_log", _delta(spark, [(1, 1.0)]), ["id"])],
            txn_app_id="repl", txn_version=5,
        )
    monkeypatch.undo()
    # torn state on disk: exactly one log advanced
    flipped = [t for t in (cat.table("acct"), cat.table("audit_log"))
               if t.last_txn_version("repl") == 5]
    assert len(flipped) == 1
    cat2 = Catalog(spark, cat.root)  # restart → redo recovery
    a2, b2 = cat2.table("acct"), cat2.table("audit_log")
    assert a2.last_txn_version("repl") == 5
    assert b2.last_txn_version("repl") == 5
    assert _state(a2) == [(1, 11.0), (2, 20.0)]
    assert _state(b2) == [(1, 1.0)]
    # journal drained: a second recovery is a no-op
    cat3 = Catalog(spark, cat.root)
    assert cat3.table("acct").version == a2.version


def test_multi_applier_one_txn_two_tables(spark, tmp_path):
    """The applier loop: one source transaction carrying rows for two
    tables flushes as one atomic commit; identical markers; redelivery
    dedupes."""
    cat, a, b = _mk(spark, tmp_path)
    feed = FileCdcFeed(str(tmp_path / "feed"))
    feed.append(ACTION_UPDATE, {"id": 1, "v": 11.0}, table="acct",
                txn_group="tx1", txn_seq=0)
    feed.append(ACTION_INSERT, {"id": 2, "v": 2.0}, table="audit_log",
                txn_group="tx1", txn_seq=1)
    app = MultiTableCdcApplier(
        spark, feed, cat,
        {"acct": (["id"], PAYLOAD), "audit_log": (["id"], PAYLOAD)},
        app_id="repl", tick_seconds=0.01,
    )
    r = app.query_barrier()
    assert r is not None and r.applied and r.rows == 2
    assert _state(a) == [(1, 11.0), (2, 20.0)]
    assert _state(b) == [(1, 0.0), (2, 2.0)]
    assert a.last_txn_version("repl") == b.last_txn_version("repl") \
        == r.position
    # a fresh applier over the same feed re-delivers nothing
    app2 = MultiTableCdcApplier(
        spark, feed, cat,
        {"acct": (["id"], PAYLOAD), "audit_log": (["id"], PAYLOAD)},
        app_id="repl", tick_seconds=0.01,
    )
    assert app2.query_barrier() is None
    assert app2.position == r.position


def test_multi_applier_unknown_table_rejected(spark, tmp_path):
    cat, a, b = _mk(spark, tmp_path)
    feed = FileCdcFeed(str(tmp_path / "feed"))
    feed.append(ACTION_INSERT, {"id": 9, "v": 9.0}, table="nope")
    app = MultiTableCdcApplier(
        spark, feed, cat, {"acct": (["id"], PAYLOAD)}, app_id="repl",
    )
    with pytest.raises(ValueError, match="unknown table"):
        app.query_barrier()


def test_multi_applier_log_feed_vector_resume(spark, tmp_path):
    """Partitioned-log (Kafka-shaped) feed through the multi-table
    applier: the per-partition offset vector commits in the SAME
    atomic transaction as both tables' data; a restarted applier
    resumes from the group's committed vector."""
    from myduckserver_spark.streaming.log_feed import (
        LogFeedCdcSource,
        PartitionedLogFeed,
    )

    cat, a, b = _mk(spark, tmp_path)
    log = PartitionedLogFeed(str(tmp_path / "plog"), num_partitions=3)
    log.append(ACTION_UPDATE, {"id": 1, "v": 11.0}, key=("acct", 1),
               table="acct", txn_seq=0)
    log.append(ACTION_INSERT, {"id": 2, "v": 2.0}, key=("audit_log", 2),
               table="audit_log", txn_seq=1)
    names = ["acct", "audit_log"]
    view = MultiTableTxnView(cat, names, "repl")
    src = LogFeedCdcSource(log, view, "repl")
    app = MultiTableCdcApplier(
        spark, src, cat,
        {"acct": (["id"], PAYLOAD), "audit_log": (["id"], PAYLOAD)},
        app_id="repl",
    )
    r = app.query_barrier()
    assert r is not None and r.applied
    assert _state(a) == [(1, 11.0), (2, 20.0)]
    assert _state(b) == [(1, 0.0), (2, 2.0)]
    # the committed state is the offset vector, identical on both
    assert a.last_txn_state("repl") == b.last_txn_state("repl")
    assert sum(a.last_txn_state("repl")["offsets"].values()) == 2

    # restart: new source + applier resume from the committed vector
    log.append(ACTION_UPDATE, {"id": 2, "v": 22.0}, key=("audit_log", 2),
               table="audit_log", txn_seq=2)
    src2 = LogFeedCdcSource(log, MultiTableTxnView(cat, names, "repl"),
                            "repl")
    app2 = MultiTableCdcApplier(
        spark, src2, cat,
        {"acct": (["id"], PAYLOAD), "audit_log": (["id"], PAYLOAD)},
        app_id="repl",
    )
    r2 = app2.query_barrier()
    assert r2 is not None and r2.rows == 1
    assert _state(b) == [(1, 0.0), (2, 22.0)]
    assert _state(a) == [(1, 11.0), (2, 20.0)]


def test_multi_table_streaming_cdc(spark, tmp_path):
    """Structured-Streaming twin: one rolled micro-batch carrying rows
    for TWO tables commits atomically via merge_batch_multi keyed by
    the epoch id; both tables share the txn marker."""
    from myduckserver_spark.streaming.log_feed import (
        PartitionedLogFeed,
        start_multi_table_log_cdc_stream,
    )

    cat, a, b = _mk(spark, tmp_path)
    log = PartitionedLogFeed(str(tmp_path / "slog"), num_partitions=3)
    log.append(ACTION_UPDATE, {"id": 1, "v": 11.0}, key=("acct", 1),
               table="acct", txn_seq=0)
    log.append(ACTION_INSERT, {"id": 2, "v": 2.0}, key=("audit_log", 2),
               table="audit_log", txn_seq=1)
    assert log.roll() >= 1
    q = start_multi_table_log_cdc_stream(
        spark, log, cat,
        {"acct": (["id"], PAYLOAD), "audit_log": (["id"], PAYLOAD)},
        str(tmp_path / "ckpt"), trigger_seconds=0.1, app_id="srepl",
    )
    try:
        q.processAllAvailable()
        assert _state(a) == [(1, 11.0), (2, 20.0)]
        assert _state(b) == [(1, 0.0), (2, 2.0)]
        assert a.last_txn_version("srepl") == b.last_txn_version("srepl")
        # a second txn touching only one table still advances cleanly
        log.append(ACTION_UPDATE, {"id": 2, "v": 22.0},
                   key=("audit_log", 2), table="audit_log", txn_seq=2)
        log.roll()
        q.processAllAvailable()
        assert _state(b) == [(1, 0.0), (2, 22.0)]
        assert _state(a) == [(1, 11.0), (2, 20.0)]
    finally:
        q.stop()


def test_vacuum_reclaims_prepared_orphans(spark, tmp_path, monkeypatch):
    """A crash BEFORE the journal record leaves prepared data dirs no
    log entry references; VACUUM reclaims them (and reads never see
    them)."""
    import os

    cat, a, b = _mk(spark, tmp_path)

    def boom(self, prepared):
        raise RuntimeError("kill -9 before journal write")

    monkeypatch.setattr(Catalog, "commit_multi", boom)
    with pytest.raises(RuntimeError):
        cat.merge_batch_multi(
            [("acct", _delta(spark, [(1, 11.0)]), ["id"]),
             ("audit_log", _delta(spark, [(1, 1.0)]), ["id"])],
            txn_app_id="repl", txn_version=5,
        )
    monkeypatch.undo()
    t = cat.table("acct")
    live = {p.split(os.sep)[0] for p in t.live_files()}
    orphan = [os.path.join(t.dir, d) for d in os.listdir(t.dir)
              if d.startswith("d") and d not in live]
    assert orphan and all(map(os.path.isdir, orphan))  # never committed
    assert t.vacuum(keep_last=5) >= 1
    assert not any(map(os.path.exists, orphan))
    assert _state(t) == [(1, 10.0), (2, 20.0)]  # committed state intact
