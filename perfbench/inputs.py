"""Seeded input generation for the benchmark workloads.

Every table is built with numpy from one ``numpy.random.Generator`` and
written as parquet with pyarrow, so the same seed always gives the same
files. Timestamps are written with microsecond precision: the engine's
session reads nanosecond parquet timestamps as longs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the TPC-H-shaped tables (the sf0.1 shape of the test data).
TPCH_ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 1_000,
    "customer": 15_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "documents": 5_000,
}

_EPOCH_US = lambda y, m, d: int(  # noqa: E731
    dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
_DAY_US = 86_400 * 1_000_000

_WORDS = (
    "a the row key value data table column scan filter join group sort "
    "hash merge spark stream window batch line part order customer query "
    "agg vector fast slow big small"
).split()


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _day_range(rng, n, lo, hi) -> np.ndarray:
    """Midnight timestamps (µs) uniform over [lo, hi] day stamps."""
    days = rng.integers(0, (hi - lo) // _DAY_US + 1, n)
    return lo + days * _DAY_US


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def gen_tpch(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, str]:
    """Write the seven TPC-H-shaped tables the analytic queries read,
    ``scale`` times the ``TPCH_ROWS`` counts (region and nation fixed).

    Schemas and value domains follow the sf0.1 test data: uniform keys,
    six (returnflag, linestatus) pairs, dates from 1995 to 2001, 11
    discount steps, five market segments and five order priorities.
    ``documents`` holds word-bag texts with a few case/whitespace
    variant duplicates, so exact dedup has work to do."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = {k: v if k in ("region", "nation") else max(10, int(v * scale))
         for k, v in TPCH_ROWS.items()}
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    nc = n["customer"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"], dtype=object)
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, nc)],
    })
    no = n["orders"]
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"], dtype=object)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[
            rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _ts(_day_range(rng, no, _EPOCH_US(1995, 1, 1),
                                      _EPOCH_US(2001, 8, 1))),
        "o_orderpriority": prios[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    pairs = np.array([("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"),
                      ("R", "F"), ("R", "O")], dtype=object)
    pick = rng.integers(0, 6, nl)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pairs[pick, 0],
        "l_linestatus": pairs[pick, 1],
        "l_shipdate": _ts(_day_range(rng, nl, _EPOCH_US(1995, 1, 2),
                                     _EPOCH_US(2001, 11, 4))),
    })
    nd = n["documents"]
    words = np.array(_WORDS, dtype=object)
    texts = []
    for i in range(nd):
        k = int(rng.integers(8, 90))
        texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    # ~1% near-copies that differ only in case and surrounding blanks
    for i in rng.choice(nd, max(1, nd // 100), replace=False):
        src = texts[int(rng.integers(0, nd))]
        texts[int(i)] = "  " + src.upper() + " "
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(["de", "en", "fr", "zh"], dtype=object)[
            rng.integers(0, 4, nd)],
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write(t, paths[name])
    return paths


def gen_keyed(seed: int, stream: int, rows: int, path: str) -> pa.Table:
    """Write one keyed table: ``id`` (PRIMARY KEY, 0..rows-1), ``uk``
    (UNIQUE, a fixed odd multiple of ``id``), ``grp``, ``qty``, ``val``
    and a two-letter ``note`` ('n' and a digit). No temporal column
    (see README). Returns the table written."""
    rng = np.random.default_rng([seed, stream])
    ids = np.arange(rows, dtype=np.int64)
    t = pa.table({
        "id": ids,
        "uk": uk_of(ids),
        "grp": pa.array(rng.integers(0, 1000, rows), pa.int32()),
        "qty": rng.integers(0, 10_000, rows).astype(np.int64),
        "val": np.round(rng.uniform(0.0, 1000.0, rows), 2),
        "note": np.array(["n0", "n1", "n2", "n3", "n4", "n5", "n6", "n7"],
                         dtype=object)[rng.integers(0, 8, rows)],
    })
    _write(t, path)
    return t


def uk_of(ids):
    """The UNIQUE column's value for a key: injective on int64 keys."""
    return ids * 7 + 3


# Key skew: YCSB's default request distribution, a zipfian with constant
# 0.99 (core workloads A-C; Gray et al., SIGMOD 1994), scattered over the
# key space as YCSB's "scrambled zipfian" does.
ZIPF_THETA = 0.99

# Row events per 100 TPC-C transactions (TPC-C 5.11: the mix of clause
# 5.2.3, 45 New-Order with 10 lines on average, 43 Payment, 4 Delivery
# over 10 districts, clauses 2.4-2.7; Order-Status and Stock-Level only
# read). Inserts: New-Order writes orders, new_order and 10 order_line
# rows, Payment one history row. Updates: New-Order district and 10
# stock rows; Payment warehouse, district and customer; Delivery per
# district one orders row, 10 order_line rows and one customer.
# Deletes: Delivery's new_order rows.
CDC_MIX = {"insert": 45 * 12 + 43,
           "update": 45 * 11 + 43 * 3 + 4 * 10 * 12,
           "delete": 4 * 10}

# Share of updates that target a key inserted earlier in the run, and of
# deletes that do: in the TPC-C mix, Delivery updates the orders and
# order lines that New-Order inserted (440 of 1,104 row updates per 100
# transactions) and deletes only new_order rows New-Order inserted (see
# README). Share of inserts that reuse a deleted key: provisional, so
# that delete -> re-insert occurs on one key.
P_UPDATE_BORN = 0.40
P_DELETE_BORN = 1.0
P_REINSERT = 0.10


class Keys:
    """Chooses keys for the write workloads over a table whose keys start
    as 0..n-1, and tracks which keys are live.

    ``existing`` draws a key to update or delete: with share ``p_born`` a
    key inserted earlier in the run (uniform), else a zipfian rank r
    (YCSB's generator, constant ``ZIPF_THETA``) mapped to the original
    key ``(r * stride) mod n`` with a stride coprime to n, so hot keys
    are scattered over the table; deleted keys are drawn again.
    ``insert`` returns a key to insert: with share ``P_REINSERT`` a
    deleted key, else a fresh key past every key the table ever held.
    """

    def __init__(self, rng: np.random.Generator, n: int,
                 theta: float = ZIPF_THETA):
        self.rng = rng
        self.n = n
        self.stride = 1_000_003 if n % 1_000_003 else 999_983
        # YCSB ZipfianGenerator constants over n items
        self.theta = theta
        self.zetan = float(np.sum(np.arange(1, n + 1, dtype=np.float64)
                                  ** -theta))
        zeta2 = 1.0 + 0.5 ** theta
        self.alpha = 1.0 / (1.0 - theta)
        self.eta = ((1.0 - (2.0 / n) ** (1.0 - theta))
                    / (1.0 - zeta2 / self.zetan))
        self.half_pow = 0.5 ** theta
        self.born: list[int] = []  # live keys inserted in the run
        self.dead: list[int] = []  # deleted keys not inserted again
        self._dead: set[int] = set()
        self.next_new = n

    def _rank(self) -> int:
        uz = float(self.rng.random()) * self.zetan
        if uz < 1.0:
            return 0
        if uz < 1.0 + self.half_pow:
            return 1
        u = uz / self.zetan
        r = int(self.n * (self.eta * u - self.eta + 1.0) ** self.alpha)
        return min(r, self.n - 1)

    def existing(self, p_born: float) -> int:
        if self.born and self.rng.random() < p_born:
            return self.born[int(self.rng.integers(len(self.born)))]
        while True:
            k = self._rank() * self.stride % self.n
            if k not in self._dead:
                return k

    def insert(self) -> int:
        if self.dead and self.rng.random() < P_REINSERT:
            k = self.dead.pop(int(self.rng.integers(len(self.dead))))
            self._dead.discard(k)
        else:
            k = self.next_new
            self.next_new += 1
        self.born.append(k)
        return k

    def delete(self, k: int) -> None:
        if k in self.born:
            self.born.remove(k)
        self.dead.append(k)
        self._dead.add(k)
