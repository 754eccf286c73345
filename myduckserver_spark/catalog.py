"""Versioned Parquet table storage + catalog.

The reference stores tables in one DuckDB file with ACID commits;
without a Delta jar, the same contract (atomic snapshot replace,
read-your-writes, idempotent replication apply) is provided by a
versioned directory layout:

    <root>/<table>/v{N}/*.parquet     — immutable snapshot N
    <root>/<table>/_VERSION           — JSON: current version + txn marker

A writer materializes snapshot N+1 fully, then atomically renames the
_VERSION pointer. Readers resolve _VERSION once per read. The txn
marker (app_id, version) gives exactly-once CDC apply — the Spark twin
of the reference committing the GTID inside the same transaction
(reference binlogreplication/binlog_replica_applier.go:786-812,
catalog/internal_tables.go:180-186).

At cluster scale the same layout works on object storage (rename of
one small pointer file; data files are immutable) — the classic
snapshot-pointer design Delta/Iceberg formalize.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from myduckserver_spark.frames import local_frame
from myduckserver_spark.operators.cdc import apply_cdc

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


def _sized_for_write(df: DataFrame) -> DataFrame:
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats()
                  .sizeInBytes())
    except Exception:  # noqa: BLE001 — sizing is best-effort, never fatal
        return df
    want = -(-est // _TARGET_WRITE_FILE_BYTES)
    return df.coalesce(max(1, min(want, _MAX_WRITE_PARTITIONS)))


class ParquetTable:
    def __init__(self, spark: SparkSession, root: str, name: str,
                 read_cache: dict | None = None,
                 count_cache: dict | None = None):
        self.spark = spark
        self.name = name
        self.dir = os.path.join(root, name)
        self._count_cache = count_cache
        # Catalog-owned (name, version) -> DataFrame memo: plan-OBJECT
        # reuse only (DataFrames are immutable logical plans; every
        # action still re-executes). A statement touches its table's
        # scan plan several times (schema fetch, key probes, the write
        # union) and each fresh read() paid file listing + relation
        # analysis + ~dozens of Py4J calls. Keyed by version, so any
        # committed write (or restored pointer) invalidates naturally.
        self._read_cache = read_cache
        os.makedirs(self.dir, exist_ok=True)

    # ------------------------------------------------------------- pointers
    @property
    def _pointer_path(self) -> str:
        return os.path.join(self.dir, "_VERSION")

    def _read_pointer(self) -> dict:
        if not os.path.exists(self._pointer_path):
            return {"version": -1, "txn": {}}
        with open(self._pointer_path) as f:
            return json.load(f)

    def _write_pointer(self, meta: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.dir, prefix="_VERSION.")
        with os.fdopen(fd, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._pointer_path)  # atomic on POSIX

    @property
    def version(self) -> int:
        return self._read_pointer()["version"]

    def exists(self) -> bool:
        return self.version >= 0

    # ----------------------------------------------------------------- I/O
    def read(self) -> DataFrame:
        meta = self._read_pointer()
        if meta["version"] < 0:
            raise FileNotFoundError(f"table has no committed snapshot: {self.dir}")
        ck = None
        if self._read_cache is not None:
            try:
                # the pointer file's identity, not just the version
                # number: every commit os.replace()s the pointer (new
                # inode), and restore/rename/txn-resurrect move whole
                # directories — so a re-bound name can never hit a
                # stale plan even at a repeated version number
                pst = os.stat(self._pointer_path)
                ck = (self.name, meta["version"], pst.st_ino,
                      pst.st_mtime_ns)
            except OSError:
                ck = None
        if ck is not None:
            got = self._read_cache.get(ck)
            if got is not None:
                return got
        df = self._read_snapshot(meta)
        if ck is not None:
            # keep only the live pointer per table (old plans are
            # unreachable once the pointer moves); pop() because the
            # multi-table flush reads from a small thread pool and two
            # threads may race the same eviction
            for k in [k for k in self._read_cache
                      if k[0] == self.name and k != ck]:
                self._read_cache.pop(k, None)
            self._read_cache[ck] = df
        return df

    def _read_snapshot(self, meta: dict) -> DataFrame:
        path = os.path.join(self.dir, f"v{meta['version']}")
        schema_json = meta.get("schema_json")
        if not schema_json:
            # pre-schema pointer (older snapshot): fall back to footer
            # inference, which costs a schema-read job per read
            return self.spark.read.parquet(path)
        # The pointer carries the snapshot's schema, so the read needs
        # no footer-inference job (one fewer Spark job on EVERY table
        # read on every statement path), restores declared column order
        # and partition-column types in one shot, and survives the
        # all-rows-deleted case where the dir holds no data files.
        # Fields are forced nullable: parquet data fields always read
        # back nullable, and a non-nullable user schema over a file
        # that does contain nulls would be undefined behavior.
        from pyspark.sql import types as T

        schema = T.StructType.fromJson(json.loads(schema_json))
        schema = T.StructType(
            [
                T.StructField(f_.name, f_.dataType, True, f_.metadata)
                for f_ in schema.fields
            ]
        )
        try:
            df = self.spark.read.schema(schema).parquet(path)
            return df.select(*[f_.name for f_ in schema.fields])
        except Exception as e:
            # ONLY the empty-snapshot case (every row deleted -> the
            # version dir holds no partition files) may read as zero
            # rows. Corruption, permissions, or transient IO must
            # surface — silently returning empty would feed wrong
            # results into queries and snapshot overwrites (ADVICE r2).
            msg = str(e)
            if (
                "unable to infer schema" in msg.lower()
                or "path does not exist" in msg.lower()
                or "unable_to_infer_schema" in msg.upper()
            ):
                return local_frame(self.spark, [], schema)
            raise

    def count(self) -> int:
        """Row count of the live snapshot, memoized per (version,
        pointer identity): a snapshot is immutable, so the count job
        runs once per committed version no matter how many statements
        re-count it. REPLACE/IGNORE affected-rows bookkeeping counts
        the table before AND after every statement — in a chain of
        DML the before-count of statement N+1 is the after-count of
        statement N, a guaranteed memo hit. Same key discipline as
        the read-plan memo (pointer inode+mtime), so commits,
        restores, renames and drop+recreate can never hit stale."""
        ck = None
        if self._count_cache is not None:
            try:
                meta = self._read_pointer()
                pst = os.stat(self._pointer_path)
                ck = (self.name, meta["version"], pst.st_ino,
                      pst.st_mtime_ns)
            except OSError:
                ck = None
        if ck is not None:
            got = self._count_cache.get(ck)
            if got is not None:
                return got
        n = self.read().count()
        if ck is not None:
            for k in [k for k in self._count_cache
                      if k[0] == self.name and k != ck]:
                self._count_cache.pop(k, None)
            self._count_cache[ck] = n
        return n

    def read_version(self, version: int) -> DataFrame:
        """Time-travel read of a historical snapshot (Delta-style
        VERSION AS OF over the versioned-pointer layout). Raises if the
        version was never committed or has been VACUUMed away."""
        path = os.path.join(self.dir, f"v{version}")
        if version < 0 or not os.path.isdir(path):
            raise FileNotFoundError(
                f"version {version} of {self.dir} does not exist "
                "(never committed, or removed by VACUUM)"
            )
        return self.spark.read.parquet(path)

    def set_partitioning(self, cols: list[str]) -> None:
        """Declare hive partitioning; every subsequent snapshot write
        partitions by these columns (partition pruning on read is the
        Spark-side analog of the reference's per-partition DuckDB
        storage). Must be set before data exists."""
        meta = self._read_pointer()
        if meta["version"] >= 0:
            raise ValueError("cannot repartition a table with data")
        meta["partition_by"] = list(cols)
        self._write_pointer(meta)

    def prepare_snapshot(self, df: DataFrame,
                         txn_app_id: str | None = None,
                         txn_version: int | None = None,
                         txn_state: dict | None = None,
                         sized: bool = True) -> dict:
        """Write the NEXT snapshot's data files without flipping the
        pointer; return the pointer meta that would commit it.

        This is the prepare half of a two-phase commit: a single-table
        ``overwrite`` commits the returned meta immediately, while
        ``Catalog.commit_multi`` journals N prepared metas and flips
        all N pointers as one atomic transaction (the reference applies
        a whole replication flush in ONE DuckDB transaction —
        delta/controller.go:75-190). An unreferenced v{N} dir left by a
        crash before the commit point is garbage, reclaimed by vacuum."""
        meta = self._read_pointer()
        new_v = meta["version"] + 1
        parts = meta.get("partition_by")
        w = (_sized_for_write(df) if sized else df).write.mode("overwrite")
        # the pointer carries the snapshot schema so reads skip the
        # footer-inference job (see read())
        meta["schema_json"] = df.schema.json()
        if parts:
            missing = [c for c in parts if c not in df.columns]
            if missing:
                raise ValueError(f"partition columns missing: {missing}")
            w = w.partitionBy(*parts)
        w.parquet(os.path.join(self.dir, f"v{new_v}"))
        if txn_app_id is not None:
            meta.setdefault("txn", {})[txn_app_id] = txn_version
            if txn_state is not None:
                meta.setdefault("txn_state", {})[txn_app_id] = txn_state
        meta["version"] = new_v
        return meta

    def overwrite(self, df: DataFrame, txn_app_id: str | None = None,
                  txn_version: int | None = None,
                  txn_state: dict | None = None,
                  sized: bool = True) -> int:
        """Materialize a new snapshot and atomically flip the pointer.

        ``txn_state`` rides in the SAME pointer commit as the data and
        the txn version — source-specific resume state (e.g. a
        partitioned log's per-partition offset vector) gets the same
        exactly-once guarantee as the scalar position."""
        meta = self.prepare_snapshot(df, txn_app_id, txn_version,
                                     txn_state, sized=sized)
        self._write_pointer(meta)
        return meta["version"]

    def last_txn_version(self, txn_app_id: str) -> int:
        return self._read_pointer().get("txn", {}).get(txn_app_id, -1)

    def last_txn_state(self, txn_app_id: str) -> dict | None:
        """Source-specific resume state committed alongside the last
        txn version (see overwrite)."""
        return self._read_pointer().get("txn_state", {}).get(txn_app_id)

    def data_files(self, version: int | None = None) -> list[str]:
        """Relative paths of a snapshot's parquet data files (hive
        partition subdirs included)."""
        v = self.version if version is None else version
        base = os.path.join(self.dir, f"v{v}")
        out: list[str] = []
        for r, _, fs in os.walk(base):
            for f in fs:
                if f.endswith(".parquet"):
                    out.append(os.path.relpath(os.path.join(r, f), base))
        return out

    def snapshot_dir(self, version: int | None = None) -> str:
        v = self.version if version is None else version
        return os.path.join(self.dir, f"v{v}")

    def overwrite_pruned(
        self,
        new_rows: DataFrame,
        carry_files: list[str],
        txn_app_id: str | None = None,
        txn_version: int | None = None,
    ) -> int:
        """Pruned snapshot commit: materialize only ``new_rows`` (the
        recomputed content of the files a DML statement actually
        touched) and carry every path in ``carry_files`` (relative to
        the current snapshot) into the new version by hard link, with
        a copy fallback. Data files are immutable, so link-sharing
        across versions is safe — the same unchanged-AddFile reuse a
        Delta commit performs, expressed on the versioned-pointer
        layout. At 100 TB this turns a 10-row UPDATE from a full-table
        rewrite into one file write plus O(files) link syscalls."""
        import shutil

        meta = self._read_pointer()
        cur_v = meta["version"]
        new_v = cur_v + 1
        parts = meta.get("partition_by")
        w = _sized_for_write(new_rows).write.mode("overwrite")
        meta["schema_json"] = new_rows.schema.json()
        if parts:
            missing = [c for c in parts if c not in new_rows.columns]
            if missing:
                raise ValueError(f"partition columns missing: {missing}")
            w = w.partitionBy(*parts)
        new_dir = os.path.join(self.dir, f"v{new_v}")
        w.parquet(new_dir)
        src_base = os.path.join(self.dir, f"v{cur_v}")
        for rel in carry_files:
            src = os.path.join(src_base, rel)
            dst = os.path.join(new_dir, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)
        if txn_app_id is not None:
            meta.setdefault("txn", {})[txn_app_id] = txn_version
        meta["version"] = new_v
        self._write_pointer(meta)
        return new_v

    def vacuum(self, keep_last: int = 1) -> int:
        """Delete snapshot directories older than the newest `keep_last`
        (the committed one always survives). Old versions exist for time
        travel and in-flight readers — VACUUM is the retention knob, the
        analog of Delta's VACUUM over our versioned-pointer layout.
        Returns the number of version dirs removed.
        """
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        cur = self.version
        if cur < 0:
            return 0
        removed = 0
        cutoff = cur - keep_last + 1
        for d in os.listdir(self.dir):
            if not d.startswith("v"):
                continue
            try:
                v = int(d[1:])
            except ValueError:
                continue
            # v > cur is PREPARED-but-never-committed garbage (a crash
            # before a multi-table commit's journal record): the
            # pointer never referenced it, safe to reclaim. There is no
            # in-flight prepare to race with in a single-writer engine.
            if v < cutoff or v > cur:
                shutil.rmtree(os.path.join(self.dir, d), ignore_errors=True)
                removed += 1
        return removed

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
        delta: DataFrame,
        pk_cols: list[str],
        txn_app_id: str | None = None,
        txn_version: int | None = None,
        txn_state: dict | None = None,
    ) -> bool:
        """Condense + apply one CDC batch; idempotent under txn markers.

        Returns False (no-op) if this (app_id, version) was already
        applied — the exactly-once contract for foreachBatch retries.
        """
        if (
            txn_app_id is not None
            and txn_version is not None
            and self.last_txn_version(txn_app_id) >= txn_version
        ):
            return False
        new_snapshot = apply_cdc(self.read(), delta, pk_cols)
        self.overwrite(new_snapshot, txn_app_id, txn_version, txn_state)
        return True


class Catalog:
    """Flat namespace of versioned parquet tables under one root."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._read_cache: dict = {}
        self._count_cache: dict = {}
        os.makedirs(root, exist_ok=True)
        self._recover_multi_txns()

    def table(self, name: str) -> ParquetTable:
        return ParquetTable(self.spark, self.root, name,
                            read_cache=self._read_cache,
                            count_cache=self._count_cache)

    # ------------------------------------------- atomic multi-table commit
    @property
    def _txnlog_dir(self) -> str:
        return os.path.join(self.root, "_TXNLOG")

    def commit_multi(self, prepared: dict[str, dict]) -> None:
        """Flip N table pointers as ONE transaction.

        The journal record (written with an atomic rename) is the
        commit point — redo logging: a crash BEFORE the record exists
        leaves every pointer untouched (prepared v{N} dirs are garbage);
        a crash AFTER it is completed by ``_recover_multi_txns`` on the
        next Catalog open. At every observable version the N tables
        move together — the reference applies a whole flush (data for
        all tables + the replication position) in one transaction
        (delta/controller.go:75-190, binlog_replica_applier.go:786-812).
        """
        os.makedirs(self._txnlog_dir, exist_ok=True)
        seq = len(os.listdir(self._txnlog_dir))
        path = os.path.join(self._txnlog_dir, f"txn-{seq:09d}.json")
        fd, tmp = tempfile.mkstemp(dir=self._txnlog_dir, prefix="txn.")
        with os.fdopen(fd, "w") as f:
            json.dump({"tables": prepared}, f)
        os.replace(tmp, path)  # <- commit point
        self._apply_multi_txn(path, {"tables": prepared})

    def _apply_multi_txn(self, path: str, rec: dict) -> None:
        for name, meta in rec["tables"].items():
            t = self.table(name)
            # idempotent redo: skip pointers already at/after the target
            if t.version < meta["version"]:
                t._write_pointer(meta)
        os.remove(path)

    def _recover_multi_txns(self) -> None:
        """Roll forward any journaled-but-unapplied multi-table commits
        (crash between the journal write and the last pointer flip)."""
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
        batches: list[tuple[str, DataFrame, list[str]]],
        txn_app_id: str | None = None,
        txn_version: int | None = None,
        txn_state: dict | None = None,
    ) -> bool:
        """Condense + apply one CDC flush spanning N tables, committed
        as ONE atomic pointer-swap transaction (both-or-neither across
        crash). Idempotent under (app_id, version) markers, which land
        on every participating table; returns False on re-delivery.
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
        from concurrent.futures import ThreadPoolExecutor

        from myduckserver_spark.operators.cdc import batch_action_profiles

        # one validation job for ALL tables (tagged union of the
        # deltas' action columns), not one profile aggregate per table
        profiles = batch_action_profiles([d for _, d, _ in batches])

        def prep(args):
            (name, delta, pk_cols), prof = args
            t = self.table(name)
            snap = apply_cdc(t.read(), delta, pk_cols, actions=prof)
            return name, t.prepare_snapshot(
                snap, txn_app_id, txn_version, txn_state
            )

        # the N prepare writes are independent (disjoint version dirs,
        # pointer flip deferred to commit_multi) — overlap them so one
        # table's write tail back-fills the other's (guide §2.6);
        # sequential when there is only one.
        if len(batches) == 1:
            prepared = dict([prep((batches[0], profiles[0]))])
        else:
            with ThreadPoolExecutor(
                max_workers=min(4, len(batches))
            ) as pool:
                prepared = dict(
                    pool.map(prep, zip(batches, profiles))
                )
        self.commit_multi(prepared)
        return True

    def create_table(
        self, name: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> ParquetTable:
        t = self.table(name)
        existed = t.exists()
        try:
            if partition_by:
                t.set_partitioning(partition_by)
            t.overwrite(df)
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
            if os.path.isdir(os.path.join(self.root, d))
            and os.path.exists(os.path.join(self.root, d, "_VERSION"))
        )

    def evict_read_cache(self, name: str) -> None:
        """Drop memoized read plans for a table. Needed whenever the
        name can be re-bound at a previously-seen version number
        (drop+recreate restarts versions at 0; restore/rename adopt
        foreign version dirs)."""
        for k in [k for k in self._read_cache if k[0] == name]:
            self._read_cache.pop(k, None)
        for k in [k for k in self._count_cache if k[0] == name]:
            self._count_cache.pop(k, None)

    def drop_table(self, name: str) -> None:
        import shutil

        self.evict_read_cache(name)
        shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)

    def optimize_table(self, name: str, sort_cols: list[str], **kw) -> int:
        """OPTIMIZE ... ZORDER BY analog — see ParquetTable.optimize."""
        return self.table(name).optimize(sort_cols, **kw)

    # -------------------------------------------------------- backup/restore
    def backup_table(self, name: str, dest_root: str) -> str:
        """BACKUP DATABASE parity (reference pgserver/backup_handler.go:
        14-90 copies the storage file to object storage): deep-copy the
        current snapshot + pointer. On S3 this is a parallel object
        copy of immutable files."""
        import shutil

        t = self.table(name)
        meta = t._read_pointer()
        if meta["version"] < 0:
            raise FileNotFoundError(f"no snapshot to back up: {name}")
        dest = os.path.join(dest_root, name)
        os.makedirs(dest, exist_ok=True)
        src_v = os.path.join(t.dir, f"v{meta['version']}")
        shutil.copytree(src_v, os.path.join(dest, f"v{meta['version']}"),
                        dirs_exist_ok=True)
        shutil.copy2(t._pointer_path, os.path.join(dest, "_VERSION"))
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
        identical code path locally. Copies the current snapshot
        directory + pointer; parquet files are immutable so the copy is
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
        meta = t._read_pointer()
        if meta["version"] < 0:
            raise FileNotFoundError(f"no snapshot to back up: {name}")
        vdir = f"v{meta['version']}"
        src_v = os.path.join(t.dir, vdir)
        dest_base = dest_uri.rstrip("/") + f"/{name}"
        fs.mkdirs(Path(f"{dest_base}/{vdir}"))
        for f in sorted(os.listdir(src_v)):
            fs.copyFromLocalFile(
                False,
                True,
                Path("file://" + os.path.join(src_v, f)),
                Path(f"{dest_base}/{vdir}/{f}"),
            )
        fs.copyFromLocalFile(
            False, True,
            Path("file://" + t._pointer_path),
            Path(f"{dest_base}/_VERSION"),
        )
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
        table's current snapshot + pointer (backup_table_uri) plus the
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
        import shutil

        dest = os.path.join(self.root, name)
        shutil.rmtree(dest, ignore_errors=True)
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
        import shutil

        src = os.path.join(backup_root, name)
        dest = os.path.join(self.root, name)
        shutil.rmtree(dest, ignore_errors=True)
        shutil.copytree(src, dest)
        return self.table(name)
