"""Table catalog seam: Iceberg on a real cluster, snapshot-logged parquet here.

The north rule targets Iceberg tables; no Iceberg runtime jar ships in this
sandbox (offline), so the engine talks to this thin seam instead of
hard-coding a format.  ``ParquetCatalog`` gives the Iceberg semantics the
engine relies on — atomic append/overwrite commits and incremental reads
between snapshots — via a JSON snapshot log over parquet directories.
On a cluster, swap in ``IcebergCatalog`` (same interface, ``writeTo``/
``table`` + ``spark.read.option("start-snapshot-id", ...)``).

This replaces the reference's sink-DDL surface (createIndex/deleteIndex/
upsertIndex/listAllIndices, load.service.ts:180-243) and its resume-token
offset store (load.service.ts:55-69,430-440): a snapshot id IS the offset.
"""

from __future__ import annotations

import json
import os
import uuid

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from . import fsio


def _driver_side(df) -> bool:
    """True for a pyarrow Table or pandas frame (written on the driver),
    False for a Spark DataFrame."""
    return isinstance(df, (pa.Table, pd.DataFrame))


class ParquetCatalog:
    """Path-based tables: ``root/<table>/snap-<k>-<uuid>/`` parquet dirs +
    ``root/<table>/_log.json`` listing committed snapshots in order."""

    def __init__(self, root: str, filesystem=None):
        """``filesystem``: optional ``pyarrow.fs.FileSystem`` the snapshot
        log and driver-side arrow reads go through (sources.fsio seam).
        ``root`` must name the same location for both that filesystem and
        Spark's Hadoop readers (true for local paths, HDFS with matching
        config, and mounted object stores); Spark-side reads/writes use
        the path as-is."""
        self.root = root
        self.filesystem = filesystem
        fsio.makedirs(root, filesystem)

    # -- log helpers -------------------------------------------------------
    def _log_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_log.json")

    def _read_log(self, table: str) -> list[dict]:
        p = self._log_path(table)
        if not fsio.exists(p, self.filesystem):
            return []
        return json.loads(fsio.read_text(p, self.filesystem))

    def _commit(self, table: str, log: list[dict]) -> None:
        # atomic commit: hidden-tmp + rename (local/HDFS) or complete-or-
        # invisible direct write (object stores)
        fsio.write_text_atomic(json.dumps(log, indent=1),
                               self._log_path(table), self.filesystem)

    # -- DDL (S9 parity) ---------------------------------------------------
    def table_exists(self, table: str) -> bool:
        return bool(self._read_log(table))

    def list_tables(self) -> list[str]:
        return sorted(
            d for d in fsio.list_subdirs(self.root, self.filesystem)
            if fsio.exists(self._log_path(d), self.filesystem)
        )

    def drop_table(self, table: str) -> None:
        fsio.remove_dir(os.path.join(self.root, table), self.filesystem)

    # -- write -------------------------------------------------------------
    def _write_snapshot(self, df, table: str) -> str:
        log = self._read_log(table)
        snap_id = (log[-1]["id"] + 1) if log else 1
        rel = f"snap-{snap_id:06d}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self.root, table, rel)
        if not _driver_side(df):
            df.write.mode("overwrite").parquet(path)
            return rel
        # a driver-sized pyarrow Table or pandas frame: one file written
        # by pyarrow, no Spark job
        fsio.makedirs(path, self.filesystem)
        t = df if isinstance(df, pa.Table) else pa.Table.from_pandas(
            df, preserve_index=False)
        fsio.write_parquet_atomic(
            t, os.path.join(path, "part-00000.parquet"), self.filesystem)
        return rel

    def append(self, df, table: str) -> int:
        """Atomic append (Iceberg ``append()`` analog). Returns snapshot id.
        ``df`` is a Spark DataFrame, or a driver-sized pyarrow Table or
        pandas frame, which is written on the driver (no Spark job)."""
        rel = self._write_snapshot(df, table)
        log = self._read_log(table)
        snap_id = (log[-1]["id"] + 1) if log else 1
        log.append({"id": snap_id, "dir": rel, "op": "append"})
        self._commit(table, log)
        return snap_id

    def overwrite(self, df, table: str) -> int:
        """Atomic replace (Iceberg ``overwritePartitions``/``replace``
        analog): new log points only at the new snapshot; old snapshot dirs
        stay on disk for time travel until vacuumed.  ``df`` as in
        :meth:`append`."""
        rel = self._write_snapshot(df, table)
        log = self._read_log(table)
        snap_id = (log[-1]["id"] + 1) if log else 1
        log.append({"id": snap_id, "dir": rel, "op": "overwrite"})
        self._commit(table, log)
        return snap_id

    def write_small_arrow(self, pdf, table: str, op: str = "overwrite") -> int:
        """Driver-side snapshot commit of a small table (global_stats,
        sync_log, a sync batch's rows) via pyarrow, skipping Spark
        entirely: a small DataFrame write costs a full job of scheduler
        latency, which is pure serial overhead in every build/sync.
        Corpus-sized tables must be written from a Spark DataFrame."""
        return (self.append if op == "append" else self.overwrite)(pdf, table)

    def register_external(self, path: str, table: str, op: str = "overwrite") -> int:
        """Adopt an existing parquet directory as a snapshot without
        rewriting it (the segment-build stage writes its output once,
        executor-side; re-copying a 100 TB index to 'commit' it would be
        absurd — Iceberg's add_files has the same role)."""
        log = self._read_log(table)
        snap_id = (log[-1]["id"] + 1) if log else 1
        fsio.makedirs(os.path.join(self.root, table), self.filesystem)
        # remote paths are opaque strings — abspath would prepend the
        # driver's cwd; the "ext" flag marks them fully-qualified
        full = path if self.filesystem is not None else os.path.abspath(path)
        log.append({"id": snap_id, "dir": full, "op": op, "ext": True})
        self._commit(table, log)
        return snap_id

    # -- read ---------------------------------------------------------------
    def _live_dirs(self, table: str, since: int | None = None,
                   as_of: int | None = None) -> list[str]:
        log = self._read_log(table)
        if as_of is not None:
            log = [e for e in log if e["id"] <= as_of]
        live: list[dict] = []
        for e in log:
            if e["op"] == "overwrite":
                live = [e]
            else:
                live.append(e)
        if since is not None:
            live = [e for e in live if e["id"] > since]
        return [e["dir"] if e.get("ext") or os.path.isabs(e["dir"])
                else os.path.join(self.root, table, e["dir"]) for e in live]

    def read(self, spark: SparkSession, table: str, as_of: int | None = None) -> DataFrame:
        dirs = self._live_dirs(table, as_of=as_of)
        if not dirs:
            raise FileNotFoundError(f"table {table!r} has no snapshots in {self.root}")
        return spark.read.parquet(*dirs)

    def read_incremental(self, spark: SparkSession, table: str, since: int) -> DataFrame | None:
        """Rows appended after snapshot ``since`` (Iceberg incremental scan
        analog — the change-stream/resume-token replacement, SURVEY §2.1 S5)."""
        dirs = self._live_dirs(table, since=since)
        if not dirs:
            return None
        return spark.read.parquet(*dirs)

    def current_snapshot(self, table: str) -> int:
        log = self._read_log(table)
        return log[-1]["id"] if log else 0

    def rollback(self, table: str, snap_id: int) -> None:
        """Truncate the table's history to snapshots with id ≤ ``snap_id``
        (Iceberg ``rollback_to_snapshot`` analog; ``snap_id=0`` reverts the
        table to nonexistence).  Later snapshot dirs stay on disk,
        unreachable from the log, until vacuumed — the commit itself is a
        single atomic log write."""
        log = self._read_log(table)
        new = [e for e in log if e["id"] <= snap_id]
        if len(new) == len(log):
            return  # nothing later than snap_id (incl. never-created table)
        fsio.makedirs(os.path.join(self.root, table), self.filesystem)
        self._commit(table, new)

    def snapshot_dir(self, table: str, snap_id: int) -> str:
        """Absolute directory of one committed snapshot (for per-file
        post-processing of rows just appended, e.g. delta-segment encode)."""
        for e in self._read_log(table):
            if e["id"] == snap_id:
                return (e["dir"] if os.path.isabs(e["dir"])
                        else os.path.join(self.root, table, e["dir"]))
        raise KeyError(f"table {table!r} has no snapshot {snap_id}")

    def data_files(self, table: str) -> list[str]:
        """Live data-file paths in (snapshot commit, name) order — the
        per-file kernels' work list (IcebergCatalog serves the same
        surface from its ``.files`` metadata table)."""
        out: list[str] = []
        for d in self._live_dirs(table):
            out.extend(
                os.path.join(d, f)
                for f in sorted(fsio.listdir(d, self.filesystem))
                if f.endswith(".parquet") and not f.startswith("."))
        return out


class IcebergCatalog:
    """Iceberg-backed implementation of the catalog seam (same surface as
    :class:`ParquetCatalog`), for clusters with the
    ``iceberg-spark-runtime`` jar and a catalog configured, e.g.::

        spark.sql.catalog.lake = org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.lake.type = hive   # or hadoop/rest

    The engine only relies on: atomic append/replace commits, time-travel
    reads, incremental scans between snapshots (the change-stream resume
    token), and a listing of live data files for the per-file encode
    kernels.  All four map 1:1 onto Iceberg's public API; no sandbox jar
    exists to run it here, so the surface is pinned by mock-based tests
    (tests/test_iceberg_catalog.py) rather than an integration run.
    """

    def __init__(self, spark: SparkSession, namespace: str, filesystem=None):
        """``filesystem``: optional pyarrow FileSystem matching the
        warehouse location (S3/HDFS) — consumers that point-read the data
        files this catalog lists (`data_files`) open them through it."""
        self.spark = spark
        self.namespace = namespace
        self.filesystem = filesystem

    def _tbl(self, table: str) -> str:
        return f"{self.namespace}.{table}"

    # -- DDL ---------------------------------------------------------------
    def table_exists(self, table: str) -> bool:
        return bool(self.spark.catalog.tableExists(self._tbl(table)))

    def list_tables(self) -> list[str]:
        return sorted(t.name for t in self.spark.catalog.listTables(self.namespace))

    def drop_table(self, table: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self._tbl(table)}")

    # -- write -------------------------------------------------------------
    def append(self, df, table: str) -> int:
        if _driver_side(df):
            df = self.spark.createDataFrame(df)
        if self.table_exists(table):
            df.writeTo(self._tbl(table)).append()
        else:
            df.writeTo(self._tbl(table)).using("iceberg").create()
        return self.current_snapshot(table)

    def overwrite(self, df, table: str) -> int:
        if _driver_side(df):
            df = self.spark.createDataFrame(df)
        df.writeTo(self._tbl(table)).using("iceberg").createOrReplace()
        return self.current_snapshot(table)

    def write_small_arrow(self, pdf, table: str, op: str = "overwrite") -> int:
        return (self.append if op == "append" else self.overwrite)(pdf, table)

    def register_external(self, path: str, table: str,
                          op: str = "overwrite") -> int:
        """Adopt executor-written parquet files without rewriting them —
        Iceberg's ``add_files`` procedure (the 100 TB index must not be
        copied to be committed)."""
        if op == "overwrite" and self.table_exists(table):
            self.spark.sql(f"DELETE FROM {self._tbl(table)} WHERE true")
        self.spark.sql(
            f"CALL {self.namespace.split('.')[0]}.system.add_files("
            f"table => '{self._tbl(table)}', "
            f"source_table => '`parquet`.`{path}`')")
        return self.current_snapshot(table)

    # -- read --------------------------------------------------------------
    def read(self, spark: SparkSession, table: str,
             as_of: int | None = None) -> DataFrame:
        r = spark.read
        if as_of is not None:
            r = r.option("snapshot-id", str(as_of))
        return r.table(self._tbl(table))

    def read_incremental(self, spark: SparkSession, table: str,
                         since: int) -> DataFrame | None:
        """Rows appended after snapshot ``since`` — Iceberg's incremental
        scan IS the change-stream resume token (north rule S5)."""
        return (spark.read.format("iceberg")
                .option("start-snapshot-id", str(since))
                .load(self._tbl(table)))

    def current_snapshot(self, table: str) -> int:
        # 0 for a nonexistent table, like ParquetCatalog — the sync
        # journal snapshots every table it MIGHT touch, including ones a
        # fresh index does not have yet, and querying .snapshots on a
        # missing table raises
        if not self.table_exists(table):
            return 0
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self._tbl(table)}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1").collect()
        return int(rows[0][0]) if rows else 0

    def rollback(self, table: str, snap_id: int) -> None:
        """Iceberg ``rollback_to_snapshot`` procedure; ``snap_id=0`` means
        the table did not exist before the failed transaction → drop."""
        if snap_id == 0:
            self.drop_table(table)
            return
        self.spark.sql(
            f"CALL {self.namespace.split('.')[0]}.system."
            f"rollback_to_snapshot(table => '{self._tbl(table)}', "
            f"snapshot_id => {int(snap_id)})")

    def data_files(self, table: str) -> list[str]:
        """Live data-file paths (the per-file encode kernels' work list —
        the ``_live_dirs`` analog; Iceberg's files metadata table)."""
        return [r[0] for r in self.spark.sql(
            f"SELECT file_path FROM {self._tbl(table)}.files").collect()]


def read_table_arrow(cat: ParquetCatalog, table: str,
                     columns: list[str] | None = None,
                     filter=None):
    """Driver-side pyarrow read of a catalog table — no Spark job.

    For small sidecar tables (global_stats, tombstones, per-query posting
    fetches) where per-job scheduling latency would dominate; corpus-sized
    tables stay on the Spark read path.  Returns a pandas DataFrame.
    """
    # through the seam only (data_files + filesystem — both served by
    # IcebergCatalog too), and through the catalog's filesystem: a remote
    # index root's driver-side reads must not hit the driver's local disk
    files = cat.data_files(table)
    if not files:
        return pd.DataFrame(columns=columns or [])
    dataset = fsio.dataset(files, getattr(cat, "filesystem", None))
    schema_cols = columns or dataset.schema.names
    t = dataset.to_table(columns=columns, filter=filter)
    if not t.num_rows:
        # preserve the table's column schema even when every snapshot is
        # empty (e.g. tombstones cleared by compaction)
        return pd.DataFrame(columns=schema_cols)
    return t.to_pandas()
