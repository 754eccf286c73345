"""Row-level CDC flushes: a flush held on the driver condenses there and
commits "delete these positions, add these rows" (catalog.merge_cdc)
instead of rewriting the table. The row-level path must give exactly
what ``apply_cdc`` gives and what replaying the events one by one
gives; its fallbacks (more than MAX_DV_ROWS matched rows, a
distributed delta) and its compaction are pinned here too."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st_
from pyspark.sql import types as T

from myduckserver_spark.catalog import (
    FOLD_FILES,
    MAX_DV_ROWS,
    Catalog,
    ParquetTable,
)
from myduckserver_spark.operators.cdc import (
    ACTION_DELETE,
    ACTION_INSERT,
    ACTION_UPDATE,
    HeldDelta,
)
from myduckserver_spark.streaming.cdc_source import (
    CdcApplier,
    CdcEvent,
    FileCdcFeed,
    events_delta,
)
from myduckserver_spark.streaming.multi_applier import MultiTableCdcApplier

PAYLOAD = T.StructType([T.StructField("id", T.LongType()),
                        T.StructField("v", T.LongType())])
BASE = [(k, 100 + k) for k in range(5)]


def _events(evs, pos0=0):
    """CdcEvents from (id, action, v, txn_seq) tuples."""
    return [CdcEvent(pos0 + i + 1, a, {"id": k, "v": v}, txn_seq=s)
            for i, (k, a, v, s) in enumerate(evs)]


def _state(t):
    return sorted(tuple(r) for r in t.read().collect())


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _model(rows, batch):
    """The flush semantics in plain Python: an insert-only batch
    appends every row (union); otherwise the last event per key wins,
    ordered by (txn_seq, action) with a tie going to the later event,
    and replaces every stored row of that key (or deletes them)."""
    rows = list(rows)
    if all(a == ACTION_INSERT for _k, a, _v, _s in batch):
        return rows + [(k, v) for k, _a, v, _s in batch]
    net = {}
    for i, (k, a, v, s) in enumerate(batch):
        if k not in net or (s, a, i) >= net[k][0]:
            net[k] = ((s, a, i), a, v)
    rows = [r for r in rows if r[0] not in net]
    return rows + [(k, v) for k, (_o, a, v) in net.items()
                   if a != ACTION_DELETE]


def _ties(batch) -> bool:
    seen = set()
    for k, a, _v, s in batch:
        if (k, s, a) in seen:
            return True
        seen.add((k, s, a))
    return False


def _delta_df(spark, batch):
    return spark.createDataFrame(
        [(k, v, a, "g0", s, 0) for k, a, v, s in batch],
        "id long, v long, action tinyint, txn_group string, "
        "txn_seq long, txn_stmt long")


_event = st_.tuples(st_.integers(0, 7),
                    st_.sampled_from([ACTION_DELETE, ACTION_UPDATE,
                                      ACTION_INSERT]),
                    st_.integers(0, 999), st_.integers(0, 3))
_insert = st_.tuples(st_.integers(0, 7), st_.just(ACTION_INSERT),
                     st_.integers(0, 999), st_.integers(0, 3))
_batch = st_.one_of(st_.lists(_event, min_size=1, max_size=10),
                    st_.lists(_insert, min_size=1, max_size=4))


@given(st_.lists(_batch, min_size=1, max_size=4))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rowlevel_flush_equals_apply_cdc_and_model(spark, batches):
    """Random batches over a keyed table, several flushes in a row so
    later ones delete from delta files that already carry a deletion
    vector; insert-only batches repeat stored keys (union semantics)
    and order keys tie. Every flush's result equals the Python model;
    it equals the ``apply_cdc`` full rewrite whenever no key has two
    events with equal order keys (``condense`` leaves such a tie to its
    aggregate's arrival order, the row-level flush takes the later
    event)."""
    root = tempfile.mkdtemp(prefix="cdc_rl_")
    try:
        cat = Catalog(spark, root)
        base = spark.createDataFrame(BASE, "id long, v long")
        rl = cat.create_table("rl", base)
        full = cat.create_table("full", base)
        want = list(BASE)
        pos = 0
        for batch in batches:
            evs = _events(batch, pos)
            pos += len(evs)
            assert rl.merge_batch(events_delta(spark, PAYLOAD, evs, ["id"]),
                                  ["id"], txn_app_id="a", txn_version=pos)
            want = _model(want, batch)
            got = _state(rl)
            assert got == sorted(want)
            assert rl.entry(rl.version)["op"] in ("rows", "fold")
            if _ties(batch):
                full.overwrite(rl.read())
            else:
                full.merge_batch(_delta_df(spark, batch), ["id"])
                assert _state(full) == got
            assert rl.last_txn_version("a") == pos
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _binlog(events):
    """Make a random event list a legal binlog for a table holding
    BASE: an insert only for an absent key, update/delete only for a
    present one."""
    live = {k for k, _v in BASE}
    out = []
    for k, a, v, _s in events:
        if k in live:
            a = ACTION_UPDATE if a == ACTION_INSERT else a
            if a == ACTION_DELETE:
                live.discard(k)
        else:
            a = ACTION_INSERT
            live.add(k)
        out.append((k, a, v))
    return out


@given(st_.lists(_event, min_size=1, max_size=24),
       st_.lists(st_.integers(1, 8), min_size=1, max_size=6))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rowlevel_flushes_equal_sequential_replay(spark, events, cuts):
    """A legal binlog (insert→update, insert→delete, delete→re-insert
    on one key), cut into flushes at random, gives what replaying its
    events one at a time on a dict gives."""
    events = [(k, a, v, i) for i, (k, a, v) in enumerate(_binlog(events))]
    replay = dict(BASE)
    for k, a, v, _s in events:
        if a == ACTION_DELETE:
            replay.pop(k)
        else:
            replay[k] = v
    root = tempfile.mkdtemp(prefix="cdc_seq_")
    try:
        cat = Catalog(spark, root)
        t = cat.create_table("t", spark.createDataFrame(BASE,
                                                        "id long, v long"))
        i = 0
        for n in cuts + [len(events)]:
            chunk = events[i:i + n]
            if chunk:
                t.merge_batch(events_delta(
                    spark, PAYLOAD, _events(chunk, i), ["id"]), ["id"])
            i += n
            if i >= len(events):
                break
        assert _state(t) == sorted(replay.items())
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------------------------------------ single cases


def _table(spark, tmp_path, rows=BASE):
    cat = Catalog(spark, str(tmp_path / "wh"))
    return cat, cat.create_table(
        "t", spark.createDataFrame(rows, "id long, v long"))


def test_equal_order_keys_take_the_later_event(spark, tmp_path):
    _cat, t = _table(spark, tmp_path)
    t.merge_batch(events_delta(spark, PAYLOAD, _events(
        [(1, ACTION_UPDATE, 7, 0), (1, ACTION_UPDATE, 8, 0),
         (2, ACTION_DELETE, 0, 0), (2, ACTION_UPDATE, 9, 0)]), ["id"]),
        ["id"])
    # (1, 8): the later of two equal order keys; key 2: update (1)
    # outranks delete (0) at the same position, whatever the order
    assert _state(t) == [(0, 100), (1, 8), (2, 9), (3, 103), (4, 104)]


def test_insert_only_batch_is_a_plain_append(spark, tmp_path):
    """Union semantics, as apply_cdc's insert-only fast path: a stored
    key inserted again and a key inserted twice keep every row, and no
    positions job runs (one job: the write)."""
    _cat, t = _table(spark, tmp_path)
    d = events_delta(spark, PAYLOAD, _events(
        [(1, ACTION_INSERT, 7, 0), (9, ACTION_INSERT, 8, 1),
         (9, ACTION_INSERT, 9, 2)]), ["id"])
    assert d.keys == [] and d.actions == {ACTION_INSERT}
    j0 = _jobs(spark)
    t.merge_batch(d, ["id"])
    assert _jobs(spark) - j0 == 1
    assert _state(t) == sorted(BASE + [(1, 7), (9, 8), (9, 9)])
    assert t.deletion_vectors() == {}


def test_delete_only_batch_writes_no_file(spark, tmp_path):
    _cat, t = _table(spark, tmp_path)
    files = t.live_files()
    t.merge_batch(events_delta(spark, PAYLOAD, _events(
        [(1, ACTION_DELETE, 0, 0), (3, ACTION_DELETE, 0, 1),
         (42, ACTION_DELETE, 0, 2)]), ["id"]), ["id"])
    e = t.entry(t.version)
    assert e["op"] == "rows" and e["add"] == []
    assert set(t.live_files()) <= set(files)
    assert _state(t) == [(0, 100), (2, 102), (4, 104)]


def test_flush_deletes_from_a_delta_file_with_a_deletion_vector(
        spark, tmp_path):
    _cat, t = _table(spark, tmp_path)
    t.merge_batch(events_delta(spark, PAYLOAD, _events(
        [(1, ACTION_UPDATE, 11, 0), (2, ACTION_UPDATE, 12, 0),
         (7, ACTION_INSERT, 17, 0)]), ["id"]), ["id"])
    t.merge_batch(events_delta(spark, PAYLOAD, _events(
        [(2, ACTION_UPDATE, 22, 1)], 3), ["id"]), ["id"])
    delta = [p for p in t.live_files()
             if t.entry(t.version - 1)["add"][0]["path"] == p]
    assert delta and delta[0] in t.deletion_vectors()
    t.merge_batch(events_delta(spark, PAYLOAD, _events(
        [(1, ACTION_DELETE, 0, 2), (7, ACTION_UPDATE, 27, 2)], 4),
        ["id"]), ["id"])
    assert _state(t) == [(0, 100), (2, 22), (3, 103), (4, 104), (7, 27)]


def test_more_than_max_dv_rows_falls_back_to_a_full_rewrite(
        spark, tmp_path):
    n = MAX_DV_ROWS + 10
    _cat, t = _table(spark, tmp_path, [(k, k) for k in range(n)])
    t.merge_batch(events_delta(spark, PAYLOAD, _events(
        [(k, ACTION_UPDATE, -k, 0) for k in range(n)]), ["id"]), ["id"],
        txn_app_id="a", txn_version=n)
    e = t.entry(t.version)
    assert e["op"] == "write" and e["dv"] == {}
    assert t.deletion_vectors() == {}
    assert t.last_txn_version("a") == n
    assert _state(t) == [(k, -k) for k in range(n)]
    # the row-level attempt's data file was removed, not left behind:
    # the only data directory of this version is the rewrite's
    live = {p.split(os.sep)[0] for p in t.live_files()}
    assert {d for d in os.listdir(t.dir)
            if d.startswith(f"d{t.version}-")} == live


def test_distributed_delta_falls_back_to_apply_cdc(spark, tmp_path):
    _cat, t = _table(spark, tmp_path)
    t.merge_batch(_delta_df(spark, [(1, ACTION_UPDATE, 7, 0),
                                    (8, ACTION_INSERT, 8, 1)]), ["id"])
    assert t.entry(t.version)["op"] == "write"
    assert _state(t) == sorted([(0, 100), (1, 7), (2, 102), (3, 103),
                                (4, 104), (8, 8)])


def test_fold_fires_after_enough_flushes(spark, tmp_path):
    """Each flush adds one delta file; the flush that leaves more than
    FOLD_FILES of them live is followed by a fold entry."""
    rows = [(k, k) for k in range(FOLD_FILES + 1)]
    _cat, t = _table(spark, tmp_path, rows)
    want = dict(rows)
    for i in range(FOLD_FILES + 1):
        want[i] = 1000 + i
        t.merge_batch(events_delta(spark, PAYLOAD, _events(
            [(i, ACTION_UPDATE, 1000 + i, i)], i), ["id"]), ["id"],
            txn_app_id="a", txn_version=i + 1)
    ops = [t.entry(n)["op"] for n in range(t.version + 1)]
    assert ops.count("fold") == 1 and ops[-1] == "fold"
    assert t.deletion_vectors() == {}
    assert t.last_txn_version("a") == FOLD_FILES + 1
    assert _state(t) == sorted(want.items())


def test_multi_table_flush_jobs(spark, tmp_path):
    """Two tables keyed alike: one broadcast and one collect find both
    tables' touched positions, plus one write per table."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    for n in ("a", "b"):
        cat.create_table(n, spark.createDataFrame(BASE, "id long, v long"))
    batches = [
        ("a", events_delta(spark, PAYLOAD, _events(
            [(1, ACTION_UPDATE, 7, 0), (3, ACTION_DELETE, 0, 1)]), ["id"]),
         ["id"]),
        ("b", events_delta(spark, PAYLOAD, _events(
            [(3, ACTION_UPDATE, 9, 2), (6, ACTION_INSERT, 6, 3)], 2),
            ["id"]), ["id"]),
    ]
    j0 = _jobs(spark)
    assert cat.merge_batch_multi(batches, txn_app_id="r", txn_version=4)
    assert _jobs(spark) - j0 <= 4
    # key 3 is deleted in a only, though b's batch touches it too
    assert _state(cat.table("a")) == [(0, 100), (1, 7), (2, 102), (4, 104)]
    assert _state(cat.table("b")) == [(0, 100), (1, 101), (2, 102), (3, 9),
                                      (4, 104), (6, 6)]


def test_torn_rowlevel_apply_rolls_forward(spark, tmp_path, monkeypatch):
    """A crash after the journal record, between the two tables' entry
    writes, with row-level entries: recovery completes both."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    for n in ("a", "b"):
        cat.create_table(n, spark.createDataFrame(BASE, "id long, v long"))
    batches = [
        ("a", events_delta(spark, PAYLOAD, _events(
            [(1, ACTION_UPDATE, 7, 0)]), ["id"]), ["id"]),
        ("b", events_delta(spark, PAYLOAD, _events(
            [(2, ACTION_DELETE, 0, 1)], 1), ["id"]), ["id"]),
    ]
    calls = {"n": 0}
    orig = ParquetTable.commit

    def torn(self, entry):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("kill -9 mid-apply")
        return orig(self, entry)

    monkeypatch.setattr(ParquetTable, "commit", torn)
    with pytest.raises(RuntimeError):
        cat.merge_batch_multi(batches, txn_app_id="r", txn_version=2)
    monkeypatch.undo()
    flipped = [n for n in ("a", "b")
               if cat.table(n).last_txn_version("r") == 2]
    assert len(flipped) == 1
    cat2 = Catalog(spark, cat.root)
    a2, b2 = cat2.table("a"), cat2.table("b")
    assert a2.last_txn_version("r") == b2.last_txn_version("r") == 2
    assert a2.entry(a2.version)["op"] == b2.entry(b2.version)["op"] == "rows"
    assert _state(a2) == [(0, 100), (1, 7), (2, 102), (3, 103), (4, 104)]
    assert _state(b2) == [(0, 100), (1, 101), (3, 103), (4, 104)]
    assert Catalog(spark, cat.root).table("a").version == a2.version


@pytest.mark.parametrize("multi", [False, True])
def test_replicated_truncate_runs_no_job(spark, tmp_path, multi):
    """A TRUNCATE event commits "remove every live file" with the txn
    mark: no Spark job, an empty table that keeps its schema, and the
    position advanced past the event."""
    cat, t = _table(spark, tmp_path)
    feed = FileCdcFeed(str(tmp_path / "feed"))
    feed.append(ACTION_UPDATE, {"id": 1, "v": 7}, table="t")
    if multi:
        app = MultiTableCdcApplier(spark, feed, cat,
                                   {"t": (["id"], PAYLOAD)}, app_id="r")
    else:
        app = CdcApplier(spark, feed, t, ["id"], PAYLOAD, app_id="r")
    app.query_barrier()
    assert (1, 7) in _state(t)
    pos = feed.append(CdcEvent.ACTION_TRUNCATE, {}, table="t")
    schema = t.read().schema
    j0 = _jobs(spark)
    app.poll()
    assert _jobs(spark) == j0
    assert t.count() == 0 and t.live_files() == []
    assert t.read().schema == schema
    assert app.position == pos == t.last_txn_version("r")
    assert _state(t) == []


def test_events_delta_condenses_on_the_driver(spark):
    d = events_delta(spark, PAYLOAD, _events(
        [(1, ACTION_INSERT, 1, 0), (1, ACTION_UPDATE, 2, 1),
         (2, ACTION_INSERT, 3, 2), (2, ACTION_DELETE, 0, 3),
         (3, ACTION_DELETE, 0, 4), (3, ACTION_INSERT, 5, 5)]), ["id"])
    assert isinstance(d, HeldDelta)
    assert d.actions == {ACTION_DELETE, ACTION_UPDATE, ACTION_INSERT}
    assert sorted(d.keys) == [(1,), (2,), (3,)]
    assert sorted((r.id, r.v, r.action) for r in d.frame.collect()) == [
        (1, 2, ACTION_UPDATE), (2, 0, ACTION_DELETE), (3, 5, ACTION_INSERT)]
