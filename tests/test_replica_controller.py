"""Replica controller statements (reference
binlogreplication/binlog_replica_controller.go): CHANGE REPLICATION
SOURCE TO persists config, START REPLICA attaches the multi-table CDC
applier over a LOCAL feed (file:// — no network stack in a library
engine), the HOST pumps via Engine.replica_poll() (host-owns-timing,
like run_event), STOP flushes and halts, RESET ALL forgets the config.
Positions ride the per-table exactly-once markers, so a restarted
engine resumes where the last atomic commit left off."""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import pytest
from pyspark.sql import types as T  # noqa: F401 (schema literals below)

from myduckserver_spark.engine import Engine
from myduckserver_spark.operators.cdc import ACTION_INSERT, ACTION_UPDATE
from myduckserver_spark.streaming.cdc_source import FileCdcFeed
from myduckserver_spark.streaming.log_feed import PartitionedLogFeed


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE acct (id BIGINT PRIMARY KEY, v DOUBLE)")
    e.execute("INSERT INTO acct VALUES (1, 10.0), (2, 20.0)")
    e.execute("CREATE TABLE alog (id BIGINT PRIMARY KEY, v DOUBLE)")
    e.execute("INSERT INTO alog VALUES (1, 0.0)")
    return e


def _state(e, t):
    return sorted((r.id, r.v) for r in
                  e.execute(f"SELECT * FROM {t}").collect())


def test_start_requires_configuration(eng):
    with pytest.raises(ValueError, match="not configured as a replica"):
        eng.execute("START REPLICA")
    eng.execute("CHANGE REPLICATION SOURCE TO SOURCE_HOST = 'file:///x'")
    with pytest.raises(ValueError, match="Empty username"):
        eng.execute("START REPLICA")


def test_network_source_rejected_honestly(eng, tmp_path):
    eng.execute("CHANGE REPLICATION SOURCE TO SOURCE_HOST = 'db.example',"
                " SOURCE_PORT = 3306, SOURCE_USER = 'repl'")
    with pytest.raises(NotImplementedError, match="CdcFeed client"):
        eng.execute("START REPLICA")


def test_replication_lifecycle_file_feed(eng, tmp_path):
    feed = FileCdcFeed(str(tmp_path / "feed"))
    feed.append(ACTION_UPDATE, {"id": 1, "v": 11.0}, table="acct",
                txn_seq=0)
    feed.append(ACTION_INSERT, {"id": 2, "v": 2.0}, table="alog",
                txn_seq=1)
    # legacy CHANGE MASTER TO spelling maps MASTER_* -> SOURCE_*
    eng.execute(f"CHANGE MASTER TO MASTER_HOST = "
                f"'file://{tmp_path / 'feed'}', MASTER_USER = 'repl'")
    eng.execute("START REPLICA")  # initial catch-up applies both
    assert _state(eng, "acct") == [(1, 11.0), (2, 20.0)]
    assert _state(eng, "alog") == [(1, 0.0), (2, 2.0)]
    # both tables share the atomic commit's marker
    a = eng.catalog.table("acct").last_txn_version("replica")
    b = eng.catalog.table("alog").last_txn_version("replica")
    assert a == b > 0
    # host pump picks up new events
    feed.append(ACTION_UPDATE, {"id": 2, "v": 22.0}, table="alog",
                txn_seq=2)
    results = eng.replica_poll()
    assert any(r.applied for r in results)
    assert _state(eng, "alog") == [(1, 0.0), (2, 22.0)]
    # config changes require a stopped replica
    with pytest.raises(ValueError, match="STOP REPLICA first"):
        eng.execute("CHANGE REPLICATION SOURCE TO SOURCE_PORT = 3307")
    eng.execute("STOP REPLICA")
    with pytest.raises(ValueError, match="not running"):
        eng.replica_poll()
    # RESET ALL forgets the config (MySQL semantics)
    eng.execute("RESET REPLICA ALL")
    with pytest.raises(ValueError, match="not configured"):
        eng.execute("START REPLICA")


def test_restart_resumes_from_markers(eng, spark, tmp_path):
    """Engine restart with running config: replica_poll rebuilds the
    applier lazily and the exactly-once markers prevent re-apply."""
    feed = FileCdcFeed(str(tmp_path / "feed"))
    feed.append(ACTION_UPDATE, {"id": 1, "v": 11.0}, table="acct")
    eng.execute(f"CHANGE REPLICATION SOURCE TO SOURCE_HOST = "
                f"'file://{tmp_path / 'feed'}', SOURCE_USER = 'repl'")
    eng.execute("START REPLICA")
    assert _state(eng, "acct") == [(1, 11.0), (2, 20.0)]
    pos = eng.catalog.table("acct").last_txn_version("replica")
    # new engine over the same warehouse: running=true persisted
    e2 = Engine(spark, eng._warehouse)
    feed.append(ACTION_UPDATE, {"id": 1, "v": 12.0}, table="acct")
    e2.replica_poll()
    assert _state(e2, "acct") == [(1, 12.0), (2, 20.0)]
    assert e2.catalog.table("acct").last_txn_version("replica") > pos


def test_partitioned_log_source(eng, tmp_path):
    """SOURCE_HOST pointing at a PartitionedLogFeed directory binds the
    Kafka-shaped adapter: the offset VECTOR commits with the data."""
    log = PartitionedLogFeed(str(tmp_path / "plog"), num_partitions=3)
    log.append(ACTION_UPDATE, {"id": 1, "v": 11.0}, key=1, table="acct")
    log.append(ACTION_INSERT, {"id": 2, "v": 2.0}, key=2, table="alog")
    eng.execute(f"CHANGE REPLICATION SOURCE TO SOURCE_HOST = "
                f"'file://{tmp_path / 'plog'}', SOURCE_USER = 'repl'")
    eng.execute("START REPLICA")
    assert _state(eng, "acct") == [(1, 11.0), (2, 20.0)]
    assert _state(eng, "alog") == [(1, 0.0), (2, 2.0)]
    state = eng.catalog.table("acct").last_txn_state("replica")
    assert sum(state["offsets"].values()) == 2


def test_change_replication_filter(eng, tmp_path):
    """REPLICATE_IGNORE_TABLE drops a table's events (consumed, never
    applied — MySQL filter semantics); filters are NOT persisted,
    matching the reference (binlog_replica_controller.go:351)."""
    feed = FileCdcFeed(str(tmp_path / "feed"))
    feed.append(ACTION_UPDATE, {"id": 1, "v": 11.0}, table="acct",
                txn_seq=0)
    feed.append(ACTION_INSERT, {"id": 9, "v": 9.0}, table="alog",
                txn_seq=1)
    eng.execute("CHANGE REPLICATION FILTER "
                "REPLICATE_IGNORE_TABLE = (alog)")
    eng.execute(f"CHANGE REPLICATION SOURCE TO SOURCE_HOST = "
                f"'file://{tmp_path / 'feed'}', SOURCE_USER = 'repl'")
    eng.execute("START REPLICA")
    assert _state(eng, "acct") == [(1, 11.0), (2, 20.0)]
    # alog untouched: its event was consumed but filtered
    assert _state(eng, "alog") == [(1, 0.0)]
    # DO_TABLE narrows to an allowlist
    eng.execute("STOP REPLICA")
    eng.execute("CHANGE REPLICATION FILTER REPLICATE_DO_TABLE = (alog), "
                "REPLICATE_IGNORE_TABLE = ()")
    eng.execute("START REPLICA")
    feed.append(ACTION_UPDATE, {"id": 1, "v": 99.0}, table="acct",
                txn_seq=2)
    feed.append(ACTION_INSERT, {"id": 9, "v": 9.0}, table="alog",
                txn_seq=3)
    eng.replica_poll()
    assert _state(eng, "acct") == [(1, 11.0), (2, 20.0)]  # filtered out
    assert _state(eng, "alog") == [(1, 0.0), (9, 9.0)]


def _start_file_replica(e, path):
    e.execute(f"CHANGE REPLICATION SOURCE TO SOURCE_HOST = "
              f"'file://{path}', SOURCE_USER = 'repl'")
    e.execute("START REPLICA")


def test_temporal_and_decimal_text_events_apply(spark, tmp_path):
    """Binlog JSON carries DATETIME, DATE, TIMESTAMP and DECIMAL values
    as text or numbers. They apply as CAST(text AS type) gives them,
    and the other table in the same feed applies too (a rejected value
    used to wedge every later poll)."""
    e = Engine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE o (id BIGINT PRIMARY KEY, ts DATETIME, d DATE, "
              "amt DECIMAL(10,2), at TIMESTAMP)")
    e.execute("CREATE TABLE k (id BIGINT PRIMARY KEY, v DOUBLE)")
    feed = FileCdcFeed(str(tmp_path / "feed"))
    texts = [
        (1, "1998-01-01 00:00:00", "1998-01-02", "12.345",
         "2020-06-01 12:30:00.5"),
        (2, "2001-02-03T04:05:06.123456", "2001-02-03 10:00:00", 7.5,
         "2020-06-01T12:30:00+02:00"),
        (3, "0000-00-00 00:00:00", "not a date", "123456789.99", None),
    ]
    for i, (oid, ts, d, amt, at) in enumerate(texts):
        feed.append(ACTION_INSERT, {"id": oid, "ts": ts, "d": d,
                                    "amt": amt, "at": at},
                    table="o", txn_seq=2 * i)
        feed.append(ACTION_INSERT, {"id": oid, "v": 1.0},
                    table="k", txn_seq=2 * i + 1)
    _start_file_replica(e, tmp_path / "feed")
    e.replica_poll()
    got = [tuple(r) for r in e.sql(
        "SELECT id, ts, d, amt, at FROM o ORDER BY id").collect()]

    def cast(v, to):
        lit = "NULL" if v is None else f"'{v}'"
        return spark.sql(f"SELECT CAST({lit} AS {to}) v").collect()[0].v

    want = [(oid, cast(ts, "TIMESTAMP_NTZ"), cast(d, "DATE"),
             cast(amt, "DECIMAL(10,2)"), cast(at, "TIMESTAMP"))
            for oid, ts, d, amt, at in texts]
    assert got == want
    assert got[0][1:4] == (dt.datetime(1998, 1, 1), dt.date(1998, 1, 2),
                           Decimal("12.35"))
    assert sorted(r.id for r in e.sql("SELECT id FROM k").collect()) \
        == [1, 2, 3]


def _shuffle_read(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    total = 0
    for j in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(j).stageIds:
            try:
                total += jsc.statusStore().lastStageAttempt(
                    sid).shuffleReadBytes()
            except Exception:
                pass  # skipped stage: nothing ran, nothing read
    return total


def test_replica_flush_does_not_shuffle_the_table(spark, tmp_path):
    # the flush delta is a driver-side relation of known size, so the
    # merge broadcasts it instead of shuffling the stored table
    e = Engine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE big (id BIGINT PRIMARY KEY, v DOUBLE)")
    e.execute("INSERT INTO big SELECT id, CAST(id AS DOUBLE) "
              "FROM range(50000)")
    feed = FileCdcFeed(str(tmp_path / "feed"))
    _start_file_replica(e, tmp_path / "feed")
    for i in range(20):
        feed.append(ACTION_UPDATE, {"id": i * 997, "v": -1.0},
                    table="big", txn_seq=i)
    feed.append(ACTION_INSERT, {"id": 10 ** 6, "v": 1.0}, table="big",
                txn_seq=20)
    t = e.catalog.table("big")
    table_bytes = sum(os.path.getsize(os.path.join(t.snapshot_dir(), f))
                      for f in t.data_files())
    read = _shuffle_read(spark, "replica_flush", e.replica_poll)
    assert e.sql("SELECT COUNT(*) c FROM big").collect()[0].c == 50001
    assert e.sql("SELECT COUNT(*) c FROM big WHERE v = -1").collect()[0].c \
        == 20
    assert read * 20 < table_bytes, (read, table_bytes)


class _LoopbackBinlogServer:
    """Minimal loopback stand-in for a binlog/logical-replication
    server: holds an ordered event list; protocol is one line
    'AFTER <pos>' -> JSONL events with position > pos, then EOF."""

    def __init__(self, port: int = 0):
        import socket
        import threading

        self.events: list[dict] = []
        self._next = 1
        self._lock = threading.Lock()
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind(("127.0.0.1", port))
        self._srv.listen(4)
        self.port = self._srv.getsockname()[1]
        self._stop = False
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    def append(self, action, row, table, txn_seq=0):
        with self._lock:
            self.events.append({
                "position": self._next, "action": action, "row": row,
                "table": table, "txn_group": "g0", "txn_seq": txn_seq,
                "txn_stmt": 0,
            })
            self._next += 1

    def _serve(self):
        import json as _json

        while not self._stop:
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            with conn:
                req = b""
                while not req.endswith(b"\n"):
                    chunk = conn.recv(1024)
                    if not chunk:
                        break
                    req += chunk
                try:
                    after = int(req.decode().strip().split()[1])
                except Exception:
                    continue
                with self._lock:
                    batch = [e for e in self.events
                             if e["position"] > after]
                conn.sendall("".join(
                    _json.dumps(e) + "\n" for e in batch
                ).encode())

    def close(self):
        self._stop = True
        self._srv.close()


class _SocketCdcFeed:
    """CdcFeed over a loopback socket — the drop-in shape a real
    vitess/pglogrepl client would take (streaming/feed.py seam)."""

    def __init__(self, uri: str, engine=None):
        host, port = uri.split("://", 1)[1].rsplit(":", 1)
        self.addr = (host, int(port))

    def events_after(self, position: int):
        import json as _json
        import socket

        from myduckserver_spark.streaming.cdc_source import CdcEvent

        with socket.create_connection(self.addr, timeout=10) as conn:
            conn.sendall(f"AFTER {position}\n".encode())
            buf = b""
            while True:
                chunk = conn.recv(65536)
                if not chunk:
                    break
                buf += chunk
        for line in buf.decode().splitlines():
            if not line.strip():
                continue
            d = _json.loads(line)
            yield CdcEvent(
                position=d["position"], action=d["action"],
                row=d["row"], txn_group=d.get("txn_group", "g0"),
                txn_seq=d.get("txn_seq", 0),
                txn_stmt=d.get("txn_stmt", 0), table=d.get("table"),
            )


def test_socket_feed_drops_into_start_replica(eng):
    """A network CdcFeed client plugs in via register_feed_scheme and
    START REPLICA runs over it unchanged — the applier, atomic commit,
    and position bookkeeping consume only the CdcFeed contract
    (reference boundary: binlog_replica_applier.go:170-265)."""
    from myduckserver_spark.streaming.feed import CdcFeed

    assert isinstance(_SocketCdcFeed("tcp://127.0.0.1:1"), CdcFeed) \
        is False  # not registered as virtual subclass — duck-typed OK
    srv = _LoopbackBinlogServer()
    Engine.register_feed_scheme("tcp", _SocketCdcFeed)
    try:
        srv.append(ACTION_UPDATE, {"id": 1, "v": 111.0}, table="acct",
                   txn_seq=0)
        srv.append(ACTION_INSERT, {"id": 7, "v": 7.0}, table="alog",
                   txn_seq=1)
        eng.execute(
            f"CHANGE REPLICATION SOURCE TO SOURCE_HOST = "
            f"'tcp://127.0.0.1:{srv.port}', SOURCE_USER = 'repl'"
        )
        eng.execute("START REPLICA")  # initial catch-up over the wire
        assert _state(eng, "acct") == [(1, 111.0), (2, 20.0)]
        assert _state(eng, "alog") == [(1, 0.0), (7, 7.0)]
        # initial flush touched both tables: one atomic marker
        a = eng.catalog.table("acct").last_txn_version("replica")
        b = eng.catalog.table("alog").last_txn_version("replica")
        assert a == b > 0
        # live pump: new server-side events arrive on the next poll
        srv.append(ACTION_UPDATE, {"id": 7, "v": 77.0}, table="alog",
                   txn_seq=2)
        results = eng.replica_poll()
        assert any(r.applied for r in results)
        assert _state(eng, "alog") == [(1, 0.0), (7, 77.0)]
        # the poll's flush touched only alog — its marker advances past
        # the group position acct still holds (exactly-once per table)
        assert eng.catalog.table("alog").last_txn_version("replica") > a
        eng.execute("STOP REPLICA")
    finally:
        Engine._FEED_SCHEMES.pop("tcp", None)
        srv.close()


def test_builtin_socket_feed_restart_resumes_exactly_once(eng):
    """Round 8 (verdict #6): the productized tcp:// SocketCdcFeed
    (streaming/socket_feed.py — reconnect/backoff + position resume,
    registered as the built-in 'tcp' scheme) drives START REPLICA
    against a loopback server that is KILLED and RESTARTED: the dead
    window raises a clean ConnectionError with replica state intact,
    and the restarted server's replay applies each event exactly
    once (position bookkeeping committed with the data)."""
    srv = _LoopbackBinlogServer()
    port = srv.port
    try:
        srv.append(ACTION_UPDATE, {"id": 1, "v": 111.0}, table="acct",
                   txn_seq=0)
        srv.append(ACTION_INSERT, {"id": 7, "v": 7.0}, table="alog",
                   txn_seq=1)
        eng.execute(
            f"CHANGE REPLICATION SOURCE TO SOURCE_HOST = "
            f"'tcp://127.0.0.1:{port}', SOURCE_USER = 'repl'"
        )
        eng.execute("START REPLICA")  # built-in scheme, no registration
        assert _state(eng, "acct") == [(1, 111.0), (2, 20.0)]
        assert _state(eng, "alog") == [(1, 0.0), (7, 7.0)]
        history = list(srv.events)

        # kill the server: the poll fails loudly after bounded retries
        # (fast backoff for the test), replica state untouched
        srv.close()
        from myduckserver_spark.streaming.socket_feed import SocketCdcFeed
        feed = eng._replica_applier.feed
        assert isinstance(feed, SocketCdcFeed)
        feed.max_retries = 2
        feed.backoff_base = 0.01
        with pytest.raises(ConnectionError, match="unreachable"):
            eng.replica_poll()
        assert _state(eng, "acct") == [(1, 111.0), (2, 20.0)]

        # restart on the SAME port with full history + one new event:
        # resume applies ONLY position 3 (exactly-once; the UPDATE to
        # 111.0 is NOT re-applied over a fresher local value)
        srv = _LoopbackBinlogServer(port=port)
        srv.events = history
        srv._next = len(history) + 1
        srv.append(ACTION_UPDATE, {"id": 7, "v": 77.0}, table="alog",
                   txn_seq=0)
        results = eng.replica_poll()
        assert any(r.applied for r in results)
        assert _state(eng, "alog") == [(1, 0.0), (7, 77.0)]
        assert _state(eng, "acct") == [(1, 111.0), (2, 20.0)]
        eng.execute("STOP REPLICA")
    finally:
        srv.close()
