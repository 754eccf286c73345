"""Log-structured Parquet table storage + catalog.

The reference stores tables in one DuckDB file with ACID commits;
without a Delta jar, the same contract (atomic commits, read-your-
writes, idempotent replication apply) comes from an append-only log
of immutable commit entries per table — Delta's protocol, kept small:

    <root>/<table>/_log/{N}.json        — commit entry N (immutable)
    <root>/<table>/d{N}-{tag}/*.parquet — data files written for entry N
    <root>/<table>/_META                — engine-owned table metadata

Entry N is created put-if-absent (a hard link of a fully written temp
file: ``link`` fails with EEXIST exactly like ``O_CREAT|O_EXCL``, and
a reader can never see a half-written entry), so of two writers that
both prepared entry N the second gets ``CommitConflictError`` instead
of silently replacing the first one's commit. An entry holds:

- ``add``: data files ``{path, rows, bytes[, delta]}`` (paths relative
  to the table directory; ``rows`` comes from the parquet footer, so
  counting a table runs no Spark job; ``delta`` marks the files of a
  row-level commit);
- ``remove``: paths of data files that stop being live;
- ``dv``: the deletion vector of every data file whose vector changed
  — the sorted row positions (parquet ``_metadata.row_index``) that
  are no longer live. A vector replaces the file's previous one; a
  vector that covers the whole file removes the file instead;
- ``op``: ``write`` (every live file removed, new rows added),
  ``rows`` (a row-level commit), ``fold`` (compaction) or ``restore``
  (a rollback);
- ``schema``, ``partition_by``, ``txn`` and ``txn_state``: the table
  schema, its hive partitioning and the exactly-once CDC marks
  (app_id -> applied position, plus source-specific resume state) —
  the Spark twin of the reference committing the GTID inside the same
  transaction (binlogreplication/binlog_replica_applier.go:786-812,
  catalog/internal_tables.go:180-186).

Version N is entries 0..N replayed. A read scans the live files; only
files that carry a deletion vector get a ``row_index`` mask, so a
table without one reads as one plain parquet scan. Statements that
touch a few rows commit row by row ("add these rows, delete these
positions": ``overwrite_pruned``), and so does a replication flush
whose events the applier holds on the driver (``merge_cdc``: the
touched keys' positions are deleted, the net rows added as one file).
Full rewrites ("remove all live files + add": ``overwrite``) stay for
every other writer, and for a CDC flush whose delta is distributed (a
foreachBatch micro-batch), whose columns do not carry the table's
types, or that matches more than ``MAX_DV_ROWS`` stored rows of a
table. A replicated TRUNCATE removes every live file with no data
job (``truncate``). Rolling back appends an entry
that restores an older version's file set; time travel replays the
log to N; VACUUM deletes data files no retained version references.

Compaction rule: a row-level commit that leaves more than
``FOLD_FILES`` live delta files (files written by row-level commits),
or more than ``MAX_DV_ROWS`` deleted positions across the table's
deletion vectors, is followed by a fold: one more entry that rewrites
the live rows of every delta file and every file with a deletion
vector into fresh files; the other files stay as they are. Read
amplification therefore stays bounded with no setting to tune, at the
price of one rewrite of the touched files per ``FOLD_FILES`` delta
files — the reference's delta-buffer flush into its base storage
(delta/controller.go:75-190) and Krypton's (VLDB 2023) write-optimized
delta over a compacted base.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import urllib.parse
import uuid
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from myduckserver_spark.frames import collect_capped, local_frame
from myduckserver_spark.operators.cdc import (
    ACTION_DELETE,
    ACTION_INSERT,
    HeldDelta,
    apply_cdc,
    key_canon,
)

# Snapshot writes target this many bytes per output file (guide-class
# 128 MB-1 GB parquet sizing). The file count comes from Catalyst
# statistics of the optimized plan alone: no physical plan is built and
# nothing runs before the write itself, which plans and executes the
# query exactly once. The sizing only ever COALESCES (never shuffles;
# `coalesce` cannot raise the partition count): a small DML result
# stops minting one near-empty file per upstream partition, while a
# write whose estimate exceeds the target keeps its full parallelism,
# so a 100 TB snapshot still writes wide. Catalyst's sizeInBytes is an
# IN-MEMORY estimate that overstates zstd parquet on disk ~4x
# (decompressed values + row overhead), so the in-memory target is
# 4x the on-disk goal: 512 MB of estimate ≈ a 128 MB-class file.
_TARGET_WRITE_FILE_BYTES = 512 << 20
# an unknown size estimates as Long.MaxValue; Py4J passes the
# partition count as a Java int
_MAX_WRITE_PARTITIONS = (1 << 31) - 1

# The compaction rule (module docstring). 16 files keep a point read's
# file listing and task packing at a handful of small files; 4096
# deleted positions keep each scan's row_index mask a small hash set.
FOLD_FILES = 16
MAX_DV_ROWS = 4096

# columns a positioned read appends: the data file (a URI, as Spark's
# _metadata.file_path reports it) and the row's position in that file
FILE_COL = "__file"
POS_COL = "__pos"


def _sized_for_write(df: DataFrame) -> DataFrame:
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats()
                  .sizeInBytes())
    except Exception:  # noqa: BLE001 — sizing is best-effort, never fatal
        return df
    want = -(-est // _TARGET_WRITE_FILE_BYTES)
    return df.coalesce(max(1, min(want, _MAX_WRITE_PARTITIONS)))


def _unfetchable(dt: T.DataType) -> bool:
    """Whether `dt` holds a type whose values PySpark cannot return
    (``YearMonthIntervalType.fromInternal`` is not implemented), so a
    stored column of it would fail every later SELECT *."""
    if isinstance(dt, (T.YearMonthIntervalType, T.CalendarIntervalType)):
        return True
    if isinstance(dt, T.ArrayType):
        return _unfetchable(dt.elementType)
    if isinstance(dt, T.MapType):
        return _unfetchable(dt.keyType) or _unfetchable(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_unfetchable(f_.dataType) for f_ in dt.fields)
    return False


class CommitConflictError(RuntimeError):
    """Another writer committed the table version this commit was
    prepared for; nothing of this commit became visible."""


_EMPTY = {"version": -1, "files": {}, "dv": {}, "schema": None,
          "partition_by": None, "txn": {}, "txn_state": {}}
_META_KEYS = ("schema", "partition_by", "txn", "txn_state")


def _replay(state: dict, entry: dict) -> dict:
    """The table state after ``entry`` (a new dict; ``state`` is
    shared by memo holders and never mutated)."""
    files = dict(state["files"])
    dv = dict(state["dv"])
    for p in entry.get("remove", ()):
        files.pop(p, None)
        dv.pop(p, None)
    for a in entry.get("add", ()):
        files[a["path"]] = {k: v for k, v in a.items() if k != "path"}
    for p, pos in entry.get("dv", {}).items():
        dv[p] = pos
    out = {k: entry.get(k) for k in _META_KEYS}
    out["txn"] = out["txn"] or {}
    out["txn_state"] = out["txn_state"] or {}
    out.update(version=state["version"] + 1, files=files, dv=dv)
    return out


class ParquetTable:
    def __init__(self, spark: SparkSession, root: str, name: str,
                 read_cache: dict | None = None,
                 states: dict | None = None):
        self.spark = spark
        self.name = name
        self.dir = os.path.join(root, name)
        # Catalog-owned memos shared by every handle on the table:
        # ``states`` holds the replayed log state per table name, and
        # ``read_cache`` maps (name, N) [+ "pos"] to the DataFrame that
        # reads version N. A DataFrame is an immutable logical plan
        # (every action still re-executes), and entry N never changes
        # once written, so (name, N) identifies the plan; the state
        # memo drops a table's plans whenever its log is replaced
        # (drop, rename, restore).
        self._read_cache = read_cache
        self._states = states if states is not None else {}
        os.makedirs(self.dir, exist_ok=True)

    # ------------------------------------------------------------- the log
    @property
    def _log_dir(self) -> str:
        return os.path.join(self.dir, "_log")

    def _entry_path(self, n: int) -> str:
        return os.path.join(self._log_dir, f"{n}.json")

    def entry(self, n: int) -> dict:
        """Commit entry ``n`` as written."""
        with open(self._entry_path(n)) as f:
            return json.load(f)

    def _state(self) -> dict:
        """The latest committed state: the memoized replay, checked
        against the identity of its last entry file and advanced by any
        entries committed since (two stats per call when nothing
        changed). Entries are immutable, so there is no window in which
        a version number pairs with the wrong content."""
        st = self._states.get(self.name)
        if st is not None and st["version"] >= 0:
            try:
                f_ = os.stat(self._entry_path(st["version"]))
                if (f_.st_ino, f_.st_mtime_ns) != st["id"]:
                    st = None  # the table was dropped or replaced
            except FileNotFoundError:
                st = None
        if st is None:
            self._evict_plans()
            st = _EMPTY
        while True:
            path = self._entry_path(st["version"] + 1)
            try:
                f_ = os.stat(path)
            except FileNotFoundError:
                break
            with open(path) as fh:
                st = _replay(st, json.load(fh))
            st["id"] = (f_.st_ino, f_.st_mtime_ns)
        self._states[self.name] = st
        return st

    def _evict_plans(self) -> None:
        if self._read_cache is not None:
            for k in [k for k in self._read_cache if k[0] == self.name]:
                self._read_cache.pop(k, None)

    def state_at(self, version: int) -> dict:
        """Entries 0..version replayed (time travel)."""
        if not 0 <= version <= self.version:
            raise FileNotFoundError(
                f"version {version} of {self.dir} does not exist "
                "(never committed)")
        st = _EMPTY
        for n in range(version + 1):
            st = _replay(st, self.entry(n))
        return st

    def commit(self, entry: dict) -> int:
        """Create entry N put-if-absent and return N;
        CommitConflictError if another writer already committed N."""
        n = entry["version"]
        os.makedirs(self._log_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self._log_dir, prefix=".entry.")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(entry, f)
            try:
                os.link(tmp, self._entry_path(n))
            except FileExistsError:
                raise CommitConflictError(
                    f"{self.name}: version {n} was committed by another "
                    "writer") from None
        finally:
            os.remove(tmp)
        return n

    @property
    def version(self) -> int:
        return self._state()["version"]

    def exists(self) -> bool:
        return self.version >= 0

    def live_files(self, version: int | None = None) -> list[str]:
        """Data files of a version, relative to the table directory
        (hive partition directories included)."""
        st = self._state() if version is None else self.state_at(version)
        return sorted(st["files"])

    def data_bytes(self) -> int:
        """On-disk size of the live data files."""
        return sum(f_["bytes"] for f_ in self._state()["files"].values())

    def deletion_vectors(self) -> dict[str, list[int]]:
        return dict(self._state()["dv"])

    def txn_marks(self) -> dict:
        return dict(self._state()["txn"])

    # ----------------------------------------------------------------- I/O
    def read(self, positioned: bool = False) -> DataFrame:
        """The live rows. ``positioned`` appends FILE_COL and POS_COL,
        the identity a row-level commit deletes by."""
        st = self._state()
        n = st["version"]
        if n < 0:
            raise FileNotFoundError(
                f"table has no committed snapshot: {self.dir}")
        memo = self._read_cache if self._read_cache is not None else {}
        key = (self.name, n) + (("pos",) if positioned else ())
        df = memo.get(key)
        if df is None:
            if positioned or not st["dv"]:
                df = self._read_snapshot(st, positioned)
            else:
                # deletion vectors mask by row_index, so the scans read
                # _metadata either way: share the positioned plan
                df = self.read(positioned=True).drop(FILE_COL, POS_COL)
            # keep only the live version's plans per table (older
            # ones are unreachable); pop() because the multi-table
            # flush reads from a small thread pool
            for k in [k for k in memo if k[0] == self.name and k[1] != n]:
                memo.pop(k, None)
            memo[key] = df
        return df

    def _read_snapshot(self, st: dict, positioned: bool = False
                       ) -> DataFrame:
        # The entry carries the schema, so the read needs no footer-
        # inference job, restores declared column order and partition
        # column types in one shot, and survives the all-rows-deleted
        # case with no data file. Fields are forced nullable: parquet
        # data fields always read back nullable, and a non-nullable
        # user schema over a file that does contain nulls would be
        # undefined behavior.
        schema = T.StructType([
            T.StructField(f_.name, f_.dataType, True, f_.metadata)
            for f_ in T.StructType.fromJson(json.loads(st["schema"])).fields
        ])
        cols = [F.col(f_.name) for f_ in schema.fields]
        if positioned:
            cols += [F.col("_metadata.file_path").alias(FILE_COL),
                     F.col("_metadata.row_index").alias(POS_COL)]
            schema = schema.add(FILE_COL, T.StringType()).add(
                POS_COL, T.LongType())
        reader = self.spark.read.schema(schema)

        def scan(paths: list[str]) -> DataFrame:
            r = reader
            if st["partition_by"]:
                # hive discovery needs one root per scan: the data
                # directory of the commit that wrote the files
                r = r.option("basePath", os.path.join(
                    self.dir, paths[0].split(os.sep, 1)[0]))
            return r.parquet(*[os.path.join(self.dir, p) for p in paths])

        groups: dict[str, list[str]] = {}
        for p in sorted(st["files"]):
            if p not in st["dv"]:
                root = p.split(os.sep, 1)[0] if st["partition_by"] else ""
                groups.setdefault(root, []).append(p)
        scans = [scan(ps).select(*cols) for ps in groups.values()]
        for p, dv in sorted(st["dv"].items()):
            # one parsed predicate: Column.isin costs a Py4J round trip
            # per position
            scans.append(scan([p]).where(F.expr(
                f"_metadata.row_index NOT IN ({','.join(map(str, dv))})"))
                .select(*cols))
        if scans:
            return reduce(DataFrame.union, scans)
        return local_frame(self.spark, [], schema)

    def count(self) -> int:
        """Live row count from the log alone: file row counts (parquet
        footers, recorded at commit) minus deleted positions — no Spark
        job, whatever the table size."""
        st = self._state()
        if st["version"] < 0:
            raise FileNotFoundError(
                f"table has no committed snapshot: {self.dir}")
        return (sum(f["rows"] for f in st["files"].values())
                - sum(len(v) for v in st["dv"].values()))

    def read_version(self, version: int) -> DataFrame:
        """Time-travel read (Delta-style VERSION AS OF). Raises if the
        version was never committed or VACUUM removed its files."""
        st = self.state_at(version)
        if any(not os.path.exists(os.path.join(self.dir, p))
               for p in st["files"]):
            raise FileNotFoundError(
                f"version {version} of {self.dir} was removed by VACUUM")
        return self._read_snapshot(st)

    # -------------------------------------------------------------- writes
    def _file_of(self, uri: str) -> str:
        """A positioned read's FILE_COL value (or a relative path) ->
        the path relative to the table directory."""
        p = urllib.parse.unquote(urllib.parse.urlparse(uri).path)
        return os.path.relpath(p, self.dir) if os.path.isabs(p) else p

    def prepare_snapshot(self, df: DataFrame | None,
                         txn_app_id: str | None = None,
                         txn_version: int | None = None,
                         txn_state: dict | None = None,
                         sized: bool = True, replace: bool = True,
                         deletes: dict | None = None,
                         partition_by: list[str] | None = None) -> dict:
        """Write ``df``'s rows as new data files and return the log
        entry that would commit them, without committing it.

        ``replace`` removes every live file (a full rewrite); otherwise
        the entry adds to the live files and ``deletes`` (FILE_COL
        value -> row positions) extends their deletion vectors. This is
        the prepare half of a two-phase commit: ``overwrite`` commits
        the entry at once, while ``Catalog.commit_multi`` journals N
        prepared entries and commits them as one transaction (the
        reference applies a whole replication flush in ONE DuckDB
        transaction — delta/controller.go:75-190). Data files of an
        entry a crash left uncommitted are garbage for vacuum."""
        st = self._state()
        n = st["version"] + 1
        parts = st["partition_by"]
        if partition_by:
            if n > 0:
                raise ValueError("cannot repartition a table with data")
            parts = list(partition_by)
        entry = {"version": n, "commit": uuid.uuid4().hex,
                 "op": "write" if replace else "rows",
                 "schema": st["schema"], "partition_by": parts,
                 "txn": dict(st["txn"]), "txn_state": dict(st["txn_state"]),
                 "add": [], "remove": sorted(st["files"]) if replace else [],
                 "dv": {}}
        if df is not None:
            for f_ in df.schema.fields if entry["schema"] is None or replace \
                    else ():
                if _unfetchable(f_.dataType):
                    raise ValueError(
                        f"column '{f_.name}' has type "
                        f"{f_.dataType.simpleString()}, which cannot be "
                        "returned to a client; store it as a number "
                        "(e.g. months) instead")
            if parts:
                missing = [c for c in parts if c not in df.columns]
                if missing:
                    raise ValueError(f"partition columns missing: {missing}")
            if replace or st["schema"] is None:
                # the entry carries the schema so reads skip the
                # footer-inference job (see _read_snapshot)
                entry["schema"] = df.schema.json()
            entry["add"] = self._write_files(df, n, parts, sized)
        dead = set(entry["remove"])
        for uri, pos in (deletes or {}).items():
            p = self._file_of(uri)
            if p not in st["files"]:
                raise CommitConflictError(
                    f"{self.name}: {p} is not a live data file")
            dv = sorted(set(st["dv"].get(p, ())).union(pos))
            if len(dv) >= st["files"][p]["rows"]:
                dead.add(p)  # every row deleted: drop the file
            else:
                entry["dv"][p] = dv
        entry["remove"] = sorted(dead)
        if txn_app_id is not None:
            entry["txn"][txn_app_id] = txn_version
            if txn_state is not None:
                entry["txn_state"][txn_app_id] = txn_state
        return entry

    def _write_files(self, df: DataFrame, n: int, parts, sized: bool
                     ) -> list[dict]:
        out_dir = os.path.join(self.dir, f"d{n}-{uuid.uuid4().hex[:8]}")
        w = (_sized_for_write(df) if sized else df).write.mode("overwrite")
        if parts:
            w = w.partitionBy(*parts)
        w.parquet(out_dir)
        added = []
        for r, _, fs in os.walk(out_dir):
            for f in fs:
                if f.startswith((".", "_")) or not f.endswith(".parquet"):
                    continue
                p = os.path.join(r, f)
                rows = pq.read_metadata(p).num_rows
                if rows == 0:
                    # an empty frame still writes one schema-only file;
                    # the entry carries the schema, so it is not kept
                    os.remove(p)
                    continue
                added.append({"path": os.path.relpath(p, self.dir),
                              "rows": rows, "bytes": os.path.getsize(p)})
        if not added:
            shutil.rmtree(out_dir, ignore_errors=True)
        return sorted(added, key=lambda a: a["path"])

    def overwrite(self, df: DataFrame, txn_app_id: str | None = None,
                  txn_version: int | None = None,
                  txn_state: dict | None = None,
                  sized: bool = True,
                  partition_by: list[str] | None = None) -> int:
        """Commit ``df`` as the whole table: remove every live file and
        add its rows. ``txn_state`` rides in the SAME entry as the data
        and the txn version — source-specific resume state (e.g. a
        partitioned log's per-partition offset vector) gets the same
        exactly-once guarantee as the scalar position."""
        return self.commit(self.prepare_snapshot(
            df, txn_app_id, txn_version, txn_state, sized=sized,
            partition_by=partition_by))

    def overwrite_pruned(self, add: DataFrame | None = None,
                         deletes: dict | None = None) -> int:
        """Row-level commit: rewrite only the rows a statement touched —
        ``add``'s rows become a new data file and ``deletes`` (FILE_COL
        value -> row positions, as a positioned ``read`` reports them)
        join the deletion vectors. Applies the compaction rule."""
        entry = self.prepare_snapshot(add, replace=False, deletes=deletes)
        for a in entry["add"]:
            a["delta"] = True  # counted by the compaction rule
        self.commit(entry)
        return self.compact()

    def compact(self) -> int:
        """Apply the compaction rule (module docstring) to the live
        state: fold when more than FOLD_FILES delta files or more than
        MAX_DV_ROWS deleted positions are live. Returns the version."""
        st = self._state()
        delta = {p for p, f_ in st["files"].items() if f_.get("delta")}
        if (len(delta) > FOLD_FILES
                or sum(len(d) for d in st["dv"].values()) > MAX_DV_ROWS):
            return self._fold(st, delta | set(st["dv"]))
        return st["version"]

    def _fold(self, st: dict, paths: set[str]) -> int:
        """Rewrite the live rows of ``paths`` into fresh files that
        carry no deletion vector; every other file stays as it is."""
        sub = dict(st, files={p: st["files"][p] for p in paths},
                   dv={p: d for p, d in st["dv"].items() if p in paths})
        entry = self.prepare_snapshot(self._read_snapshot(sub),
                                      replace=False)
        entry.update(op="fold", remove=sorted(paths))
        return self.commit(entry)

    def append(self, df: DataFrame) -> int:
        """INSERT: commit ``df``'s rows as one more data file. The rows
        take the table's column types; when ``base.unionByName(df)``
        would widen a column instead, the table is rewritten with the
        widened schema, as a union write always did. Appending to a
        table with no version creates it."""
        if not self.exists():
            return self.overwrite(df)
        base = self.read()
        union = base.unionByName(df)
        if ([(f_.name, f_.dataType) for f_ in union.schema.fields]
                != [(f_.name, f_.dataType) for f_ in base.schema.fields]):
            return self.overwrite(union)
        return self.overwrite_pruned(df.select(*[
            F.col(f_.name).cast(f_.dataType) for f_ in base.schema.fields]))

    def truncate(self, txn_app_id: str | None = None,
                 txn_version: int | None = None,
                 txn_state: dict | None = None) -> int:
        """Commit an entry that removes every live file, keeping the
        schema and partitioning; no Spark job runs. The txn mark rides
        in the same entry (a replicated TRUNCATE)."""
        return self.commit(self.prepare_snapshot(
            None, txn_app_id, txn_version, txn_state))

    def restore(self, version: int) -> int:
        """Roll back by appending an entry that restores ``version``'s
        files, deletion vectors, schema and txn marks."""
        st, old = self._state(), self.state_at(version)
        entry = {k: old[k] for k in _META_KEYS}
        entry.update(
            version=st["version"] + 1, commit=uuid.uuid4().hex,
            op="restore", remove=sorted(st["files"]),
            add=[{"path": p, **f_} for p, f_ in sorted(old["files"].items())],
            dv=dict(old["dv"]))
        return self.commit(entry)

    def last_txn_version(self, txn_app_id: str) -> int:
        return self._state()["txn"].get(txn_app_id, -1)

    def last_txn_state(self, txn_app_id: str) -> dict | None:
        """Source-specific resume state committed alongside the last
        txn version (see overwrite)."""
        return self._state()["txn_state"].get(txn_app_id)

    def vacuum(self, keep_last: int = 1) -> int:
        """Delete data files that none of the newest ``keep_last``
        versions references: superseded files, and files a crash left
        behind before their entry was committed. Old versions exist for
        time travel and in-flight readers — VACUUM is the retention
        knob, the analog of Delta's VACUUM. Returns the number of data
        files removed."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        cur = self.version
        if cur < 0:
            return 0
        keep: set[str] = set()
        st = _EMPTY
        for n in range(cur + 1):
            st = _replay(st, self.entry(n))
            if n > cur - keep_last:
                keep.update(st["files"])
        removed = 0
        for d in os.listdir(self.dir):
            full = os.path.join(self.dir, d)
            if not (d.startswith("d") and os.path.isdir(full)):
                continue
            live = False
            for r, _, fs in os.walk(full):
                for f in fs:
                    if f.startswith((".", "_")) or not f.endswith(".parquet"):
                        continue
                    if os.path.relpath(os.path.join(r, f), self.dir) in keep:
                        live = True
                        continue
                    os.remove(os.path.join(r, f))
                    removed += 1
            if not live:
                shutil.rmtree(full, ignore_errors=True)
        return removed

    def checkpoint_entry(self) -> dict:
        """The current state as a self-contained entry 0: a backup's
        whole log, which adds every live file."""
        st = self._state()
        entry = {k: st[k] for k in _META_KEYS}
        entry.update(
            version=0, commit=uuid.uuid4().hex, op="write", remove=[],
            add=[{"path": p, **f_} for p, f_ in sorted(st["files"].items())],
            dv=dict(st["dv"]))
        return entry

    # ----------------------------------------------------------- optimize
    def optimize(
        self,
        sort_cols: list[str],
        target_files: int | None = None,
        zorder: bool = False,
        zorder_buckets: int = 16,
    ) -> int:
        """Rewrite the snapshot clustered on ``sort_cols`` for
        data-skipping reads.

        The reference's ART indexes don't map to Spark (SURVEY.md §1.1:
        "Z-ordering/data-skipping stats are the analog") — this is that
        analog. Linear mode range-partitions + sorts, so each output
        file owns a disjoint key range and parquet min/max stats let a
        point/range read skip every other file. Z-order mode interleaves
        the bits of per-column quantile buckets, localizing EVERY sort
        column (a linear sort only localizes the leading one).

        Scale: one range shuffle; quantile boundaries come from
        approxQuantile (driver gets only the cutpoints, never rows).
        """
        from pyspark.sql import functions as F

        df = self.read()
        n = target_files or int(
            self.spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        if not zorder or len(sort_cols) < 2:
            out = df.repartitionByRange(n, *sort_cols).sortWithinPartitions(
                *sort_cols
            )
            # OPTIMIZE controls file layout explicitly (disjoint key
            # ranges per file) — bypass the bytes-based write sizing
            return self.overwrite(out, sized=False)

        bits = max(1, (zorder_buckets - 1).bit_length())
        probs = [i / zorder_buckets for i in range(1, zorder_buckets)]
        bucket_cols = []
        for ci, c in enumerate(sort_cols):
            cuts = df.approxQuantile(c, probs, 0.01)
            b = F.lit(0)
            for cut in cuts:
                b = b + F.when(F.col(c) > cut, 1).otherwise(0)
            bucket_cols.append(b.cast("long"))
        z = F.lit(0).cast("long")
        for bit in range(bits):
            for ci, b in enumerate(bucket_cols):
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                        bit * len(bucket_cols) + ci,
                    )
                )
        out = (
            df.withColumn("__zorder", z)
            .repartitionByRange(n, "__zorder")
            .sortWithinPartitions("__zorder")
            .drop("__zorder")
        )
        # Z-order controls file layout explicitly — bypass write sizing
        return self.overwrite(out, sized=False)

    # ----------------------------------------------------------------- CDC
    def merge_batch(
        self,
        delta: DataFrame | HeldDelta,
        pk_cols: list[str],
        txn_app_id: str | None = None,
        txn_version: int | None = None,
        txn_state: dict | None = None,
    ) -> bool:
        """Condense + apply one CDC batch (see ``merge_cdc``);
        idempotent under txn markers.

        Returns False (no-op) if this (app_id, version) was already
        applied — the exactly-once contract for foreachBatch retries.
        """
        if (
            txn_app_id is not None
            and txn_version is not None
            and self.last_txn_version(txn_app_id) >= txn_version
        ):
            return False
        merge_cdc([(self, delta, pk_cols)], txn_app_id, txn_version,
                  txn_state, lambda prepared: self.commit(prepared[self.name]))
        return True


def _rows_fit(delta: HeldDelta, schema: T.StructType) -> bool:
    """Whether the batch's columns carry the table's column types, so
    its net rows can be added as they are."""
    have = {f_.name: f_.dataType for f_ in delta.frame.schema.fields}
    return all(have.get(f_.name) == f_.dataType for f_ in schema.fields)


def merge_cdc(batches: list, txn_app_id: str | None,
              txn_version: int | None, txn_state: dict | None,
              commit) -> None:
    """Apply one CDC flush to N tables and hand their prepared entries
    to ``commit`` (``Catalog.commit_multi``, or one table's ``commit``).
    ``batches`` holds (ParquetTable, delta, pk_cols).

    A ``HeldDelta`` (condensed on the driver) commits row by row, the
    reference's keyed DELETE of the touched keys plus INSERT of the net
    rows (delta/controller.go:150-190, 377-496):
    - one job collects the stored positions of every touched key of
      every table keyed alike (``_touched_positions``);
    - meanwhile each table's net non-delete rows are written as one
      delta file, on a small thread pool;
    - each entry deletes those positions and adds that file, and after
      the commit each table applies the compaction rule.
    An insert-only batch skips the positions job (a plain append, as
    union semantics want); a delete-only batch writes no file.

    A table falls back to ``apply_cdc`` and a full rewrite when its
    delta is distributed (a foreachBatch micro-batch), when its columns
    do not carry the table's types, or when more than MAX_DV_ROWS of its
    stored rows match (the positions are capped before they reach the
    driver)."""
    from myduckserver_spark.operators.cdc import batch_action_profiles

    txn = (txn_app_id, txn_version, txn_state)
    rows_level, rewrite = [], []
    for t, d, pk in batches:
        if isinstance(d, HeldDelta) and _rows_fit(d, t.read().schema):
            rows_level.append((t, d, pk))
        else:
            rewrite.append((t, d, pk))
    # one profile job for every distributed delta
    dist = [(t.name, d) for t, d, _pk in rewrite
            if not isinstance(d, HeldDelta)]
    profiles = dict(zip([n for n, _d in dist],
                        batch_action_profiles([d for _n, d in dist])))

    def full(t, d, pk):
        if isinstance(d, HeldDelta):
            snap = apply_cdc(t.read(), d.frame, pk,
                             pre_condensed=d.actions != {ACTION_INSERT},
                             actions=set(d.actions))
        else:
            snap = apply_cdc(t.read(), d, pk, actions=profiles[t.name])
        return t.prepare_snapshot(snap, *txn)

    def write_rows(t, d):
        cols = [f_.name for f_ in t.read().schema.fields]
        add = d.frame.where(F.col("action") != ACTION_DELETE).select(*cols)
        return t._write_files(add, t.version + 1,
                              t._state()["partition_by"], True)

    prepared: dict[str, dict] = {}
    with ThreadPoolExecutor(max_workers=4) as pool:
        # the writes are independent (disjoint data dirs, entries
        # deferred to ``commit``): overlap them with each other and with
        # the positions job
        writes = {t.name: pool.submit(write_rows, t, d)
                  for t, d, _pk in rows_level
                  if d.actions != {ACTION_DELETE}}
        fulls = {t.name: pool.submit(full, t, d, pk)
                 for t, d, pk in rewrite}
        deletes, over = _touched_positions(rows_level)
        added = {n: f.result() for n, f in writes.items()}
        prepared.update((n, f.result()) for n, f in fulls.items())
    for t, d, pk in rows_level:
        files = added.get(t.name, [])
        if t.name in over:
            if files:  # never committed: not left for vacuum
                shutil.rmtree(os.path.join(
                    t.dir, files[0]["path"].split(os.sep, 1)[0]),
                    ignore_errors=True)
            prepared[t.name] = full(t, d, pk)
            continue
        entry = t.prepare_snapshot(None, *txn, replace=False,
                                   deletes=deletes.get(t.name))
        entry["add"] = [dict(a, delta=True) for a in files]
        prepared[t.name] = entry
    commit(prepared)
    for t, _d, _pk in rows_level:
        if t.name not in over:
            t.compact()


def _touched_positions(rows_level: list) -> tuple[dict, set]:
    """(table name -> {FILE_COL value: positions}, names over the
    MAX_DV_ROWS bound) for every stored row whose key a held delta
    touches.

    Tables keyed alike (same key columns and types) share one job: the
    union of their positioned reads, each tagged with its table,
    semi-joins ONE broadcast set of all their touched keys. A table
    can then match a key that only another table's batch touches, so
    the driver keeps a row only when its table touched its key. (Key
    sets tagged by table would not share a broadcast: the optimizer
    pushes the join into each branch of the union and narrows the
    broadcast side to that branch's tag.)"""
    groups: dict[tuple, list] = {}
    for t, d, pk in rows_level:
        if d.actions != {ACTION_INSERT} and d.keys:
            schema = t.read().schema
            sig = tuple(T.StructField(c, schema[c].dataType) for c in pk)
            groups.setdefault(sig, []).append((t, d))
    deletes: dict[str, dict] = {}
    over: set[str] = set()
    for sig, members in groups.items():
        canon = key_canon(list(sig))
        pk = [f_.name for f_ in sig]
        wanted = [{canon(k) for k in d.keys} for _t, d in members]
        keys = {}  # one stored value per canonical key
        for _t, d in members:
            keys.update((canon(k), k) for k in d.keys)
        scans = [t.read(positioned=True).select(
                     F.lit(tag).alias("__t"), *pk, FILE_COL, POS_COL)
                 for tag, (t, _d) in enumerate(members)]
        kf = local_frame(members[0][0].spark, list(keys.values()),
                         T.StructType(list(sig)))
        # over-matches are bounded by the shared key set, so the cap
        # stays O(batch)
        cap = len(members) * (MAX_DV_ROWS + 1 + len(keys))
        rows = collect_capped(
            reduce(DataFrame.union, scans)
            .join(F.broadcast(kf), pk, "left_semi")
            .select("__t", *pk, FILE_COL, POS_COL), cap)
        if len(rows) >= cap:
            over.update(t.name for t, _d in members)
            continue
        found: list[dict] = [{} for _ in members]
        for r in rows:
            tag = r[0]
            if canon(r[1:-2]) in wanted[tag]:
                found[tag].setdefault(r[-2], []).append(r[-1])
        for (t, _d), dv in zip(members, found):
            deletes[t.name] = dv
            if sum(map(len, dv.values())) > MAX_DV_ROWS:
                over.add(t.name)
    return deletes, over


class Catalog:
    """Flat namespace of log-structured parquet tables under one root."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._read_cache: dict = {}
        self._states: dict = {}
        os.makedirs(root, exist_ok=True)
        self._recover_multi_txns()

    def table(self, name: str) -> ParquetTable:
        return ParquetTable(self.spark, self.root, name,
                            read_cache=self._read_cache,
                            states=self._states)

    # ------------------------------------------- atomic multi-table commit
    @property
    def _txnlog_dir(self) -> str:
        return os.path.join(self.root, "_TXNLOG")

    def commit_multi(self, prepared: dict[str, dict]) -> None:
        """Commit N tables' prepared entries as ONE transaction.

        The journal record (written with an atomic rename) is the
        commit point — redo logging: a crash BEFORE the record exists
        leaves every log untouched (the prepared data files are
        garbage for vacuum); a crash AFTER it is completed by
        ``_recover_multi_txns`` on the next Catalog open. At every
        observable version the N tables move together — the reference
        applies a whole flush (data for all tables + the replication
        position) in one transaction (delta/controller.go:75-190,
        binlog_replica_applier.go:786-812).
        """
        for name, entry in prepared.items():
            if self.table(name).version >= entry["version"]:
                raise CommitConflictError(
                    f"{name}: version {entry['version']} was committed "
                    "by another writer")
        os.makedirs(self._txnlog_dir, exist_ok=True)
        seq = len(os.listdir(self._txnlog_dir))
        path = os.path.join(self._txnlog_dir, f"txn-{seq:09d}.json")
        fd, tmp = tempfile.mkstemp(dir=self._txnlog_dir, prefix="txn.")
        with os.fdopen(fd, "w") as f:
            json.dump({"tables": prepared}, f)
        os.replace(tmp, path)  # <- commit point
        self._apply_multi_txn(path, {"tables": prepared})

    def _apply_multi_txn(self, path: str, rec: dict) -> None:
        for name, entry in rec["tables"].items():
            t = self.table(name)
            try:
                t.commit(entry)
            except CommitConflictError:
                # idempotent redo: the entry this record journaled is
                # already there
                if t.entry(entry["version"])["commit"] != \
                        entry["commit"]:
                    raise
        os.remove(path)

    def _recover_multi_txns(self) -> None:
        """Roll forward any journaled-but-unapplied multi-table commits
        (crash between the journal write and the last entry write)."""
        d = self._txnlog_dir
        if not os.path.isdir(d):
            return
        for fn in sorted(os.listdir(d)):
            if not (fn.startswith("txn-") and fn.endswith(".json")):
                continue
            path = os.path.join(d, fn)
            try:
                with open(path) as f:
                    rec = json.load(f)
            except (json.JSONDecodeError, OSError):
                # an interrupted tempfile write never reached the
                # rename, so a malformed record cannot exist at a
                # txn- name; be defensive anyway and leave it
                continue
            self._apply_multi_txn(path, rec)

    def merge_batch_multi(
        self,
        batches: list[tuple[str, DataFrame | HeldDelta, list[str]]],
        txn_app_id: str | None = None,
        txn_version: int | None = None,
        txn_state: dict | None = None,
    ) -> bool:
        """Condense + apply one CDC flush spanning N tables (see
        ``merge_cdc``), committed as ONE atomic transaction of N log
        entries (both-or-neither across crash). Idempotent under
        (app_id, version) markers, which land on every participating
        table; returns False on re-delivery.
        """
        if (
            txn_app_id is not None
            and txn_version is not None
            and batches
            and all(
                self.table(n).last_txn_version(txn_app_id) >= txn_version
                for n, _, _ in batches
            )
        ):
            return False
        merge_cdc([(self.table(n), d, pk) for n, d, pk in batches],
                  txn_app_id, txn_version, txn_state, self.commit_multi)
        return True

    def create_table(
        self, name: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> ParquetTable:
        t = self.table(name)
        existed = t.exists()
        try:
            t.overwrite(df, partition_by=partition_by)
        except BaseException:
            # a half-created table directory must not survive — it
            # poisons every later all-table scan
            if not existed:
                self.drop_table(name)
            raise
        return t

    def list_tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.exists(os.path.join(self.root, d, "_log", "0.json"))
        )

    def evict_read_cache(self, name: str) -> None:
        """Forget a table's replayed state and read plans (its
        directory was dropped, renamed or replaced)."""
        self._states.pop(name, None)
        for k in [k for k in self._read_cache if k[0] == name]:
            self._read_cache.pop(k, None)

    def drop_table(self, name: str) -> None:
        self.evict_read_cache(name)
        shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)

    def optimize_table(self, name: str, sort_cols: list[str], **kw) -> int:
        """OPTIMIZE ... ZORDER BY analog — see ParquetTable.optimize."""
        return self.table(name).optimize(sort_cols, **kw)

    # -------------------------------------------------------- backup/restore
    def backup_table(self, name: str, dest_root: str) -> str:
        """BACKUP DATABASE parity (reference pgserver/backup_handler.go:
        14-90 copies the storage file to object storage): deep-copy the
        live data files plus a one-entry log that adds them. On S3 this
        is a parallel object copy of immutable files."""
        t = self.table(name)
        if not t.exists():
            raise FileNotFoundError(f"no snapshot to back up: {name}")
        entry = t.checkpoint_entry()
        dest = os.path.join(dest_root, name)
        shutil.rmtree(os.path.join(dest, "_log"), ignore_errors=True)
        for a in entry["add"]:
            os.makedirs(os.path.dirname(os.path.join(dest, a["path"])),
                        exist_ok=True)
            shutil.copy2(os.path.join(t.dir, a["path"]),
                         os.path.join(dest, a["path"]))
        ParquetTable(self.spark, dest_root, name).commit(entry)
        return dest

    def backup_table_uri(
        self,
        name: str,
        dest_uri: str,
        endpoint: str | None = None,
        access_key_id: str | None = None,
        secret_access_key: str | None = None,
    ) -> str:
        """BACKUP ... TO '<uri>' with object-store credentials.

        The reference copies the storage file to S3 with an endpoint +
        key pair (pgserver/backup_handler.go:14-90,
        storage/object_storage.go:33-128). Spark's equivalent transport
        is the Hadoop FileSystem API: s3a:// (or any installed scheme)
        with per-session fs.s3a.* credentials; file:// exercises the
        identical code path locally. Copies the live data files plus a
        one-entry log; parquet files are immutable so the copy is
        consistent without locking.
        """
        spark = self.spark
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        if endpoint:
            hconf.set("fs.s3a.endpoint", endpoint)
        if access_key_id:
            hconf.set("fs.s3a.access.key", access_key_id)
        if secret_access_key:
            hconf.set("fs.s3a.secret.key", secret_access_key)
        jvm = spark.sparkContext._jvm
        juri = jvm.java.net.URI(dest_uri.rstrip("/") + f"/{name}/")
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(juri, hconf)
        Path = jvm.org.apache.hadoop.fs.Path
        t = self.table(name)
        if not t.exists():
            raise FileNotFoundError(f"no snapshot to back up: {name}")
        entry = t.checkpoint_entry()
        dest_base = dest_uri.rstrip("/") + f"/{name}"
        fs.delete(Path(f"{dest_base}/_log"), True)
        for a in entry["add"]:
            fs.copyFromLocalFile(
                False, True,
                Path("file://" + os.path.join(t.dir, a["path"])),
                Path(f"{dest_base}/{a['path']}"),
            )
        with tempfile.TemporaryDirectory() as tmp:
            log0 = os.path.join(tmp, "0.json")
            with open(log0, "w") as f:
                json.dump(entry, f)
            fs.copyFromLocalFile(False, True, Path("file://" + log0),
                                 Path(f"{dest_base}/_log/0.json"))
        meta_path = os.path.join(t.dir, "_META")
        if os.path.exists(meta_path):
            fs.copyFromLocalFile(
                False, True,
                Path("file://" + meta_path),
                Path(f"{dest_base}/_META"),
            )
        return dest_base

    def backup_database_uri(
        self,
        dest_uri: str,
        endpoint: str | None = None,
        access_key_id: str | None = None,
        secret_access_key: str | None = None,
    ) -> str:
        """BACKUP DATABASE … TO '<uri>': the reference copies the WHOLE
        database file to object storage (pgserver/backup_handler.go
        'BACKUP DATABASE my_database TO s3://…'). Here that is every
        table's live files + one-entry log (backup_table_uri) plus the
        warehouse metadata sidecars (__procedures/__triggers/__events/
        __users/__macros/__replication .json) under __meta/ — a restore
        brings the routines back, not just the rows."""
        dest = dest_uri.rstrip("/")
        for t in self.list_tables():
            self.backup_table_uri(t, dest, endpoint, access_key_id,
                                  secret_access_key)
        jvm = self.spark.sparkContext._jvm
        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI(dest + "/"), hconf)
        Path = jvm.org.apache.hadoop.fs.Path
        for f in sorted(os.listdir(self.root)):
            if f.startswith("__") and f.endswith(".json"):
                fs.mkdirs(Path(f"{dest}/__meta"))
                fs.copyFromLocalFile(
                    False, True,
                    Path("file://" + os.path.join(self.root, f)),
                    Path(f"{dest}/__meta/{f}"),
                )
        # view definitions (+ CHECK OPTION markers) live as a
        # directory of files, not a .json sidecar
        vdir = os.path.join(self.root, "__views__")
        if os.path.isdir(vdir):
            fs.mkdirs(Path(f"{dest}/__meta/__views__"))
            for f in sorted(os.listdir(vdir)):
                fs.copyFromLocalFile(
                    False, True,
                    Path("file://" + os.path.join(vdir, f)),
                    Path(f"{dest}/__meta/__views__/{f}"),
                )
        return dest

    def restore_database_uri(self, src_uri: str) -> list[str]:
        """RESTORE DATABASE … FROM '<uri>' written by
        backup_database_uri: adopt every table found there plus the
        metadata sidecars. Returns the restored table names."""
        src = src_uri.rstrip("/")
        jvm = self.spark.sparkContext._jvm
        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI(src + "/"), hconf)
        Path = jvm.org.apache.hadoop.fs.Path
        names: list[str] = []
        for status in fs.listStatus(Path(src)):
            nm = status.getPath().getName()
            if not status.isDirectory() or nm == "__meta":
                continue
            self.restore_table_uri(nm, src)
            names.append(nm)
        meta_dir = Path(f"{src}/__meta")
        if fs.exists(meta_dir):
            for status in fs.listStatus(meta_dir):
                nm = status.getPath().getName()
                if status.isDirectory() and nm == "__views__":
                    os.makedirs(os.path.join(self.root, "__views__"),
                                exist_ok=True)
                    for vst in fs.listStatus(status.getPath()):
                        fs.copyToLocalFile(
                            False, vst.getPath(),
                            Path("file://" + os.path.join(
                                self.root, "__views__",
                                vst.getPath().getName())), True,
                        )
                    continue
                fs.copyToLocalFile(
                    False, status.getPath(),
                    Path("file://" + os.path.join(self.root, nm)), True,
                )
        return sorted(names)

    def restore_table_uri(self, name: str, src_uri: str) -> ParquetTable:
        """RESTORE from an object-store URI written by backup_table_uri."""
        spark = self.spark
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        jvm = spark.sparkContext._jvm
        src_base = src_uri.rstrip("/") + f"/{name}"
        juri = jvm.java.net.URI(src_base)
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(juri, hconf)
        Path = jvm.org.apache.hadoop.fs.Path
        dest = os.path.join(self.root, name)
        self.drop_table(name)
        os.makedirs(dest, exist_ok=True)
        # Path.toString() normalizes schemes (file:// -> file:/), so
        # compute relative paths from URI *paths*, not string prefixes.
        base_path = jvm.java.net.URI(src_base).getPath().rstrip("/")
        stack = [Path(src_base)]
        while stack:
            cur = stack.pop()
            for status in fs.listStatus(cur):
                p = status.getPath()
                rel = p.toUri().getPath()[len(base_path) :].lstrip("/")
                local = os.path.join(dest, rel)
                if status.isDirectory():
                    os.makedirs(local, exist_ok=True)
                    stack.append(p)
                else:
                    fs.copyToLocalFile(False, p, Path("file://" + local), True)
        return self.table(name)

    def restore_table(self, name: str, backup_root: str) -> ParquetTable:
        """RESTORE DATABASE parity: adopt a backed-up snapshot."""
        src = os.path.join(backup_root, name)
        self.drop_table(name)
        shutil.copytree(src, os.path.join(self.root, name))
        return self.table(name)
