"""Snapshot catalog — the engine's checkpointed state store.

Design target is **Iceberg** (SURVEY §1.4, §2.10 E5): every crawl round
commits `frontier` / `seen` / `articles` (and the other round tables)
atomically, and resume/time-travel reads any previous snapshot
(`VERSION AS OF`). A round's metrics are not a table: the engine stores
its plan-time counts in the frontier snapshot's properties and
``plans.engine.round_metrics`` rebuilds the record from them plus the
parquet-footer row counts of the round's deltas.

This sandbox ships no Iceberg runtime jar and has no network, so this
module provides the same semantics over plain parquet:

- one immutable data directory per table snapshot
  (``<warehouse>/<table>/snap-<n>/``) — write-once, like Iceberg data
  + manifest files;
- an atomic pointer flip (``os.replace`` of ``current.json``) as the
  commit — like the Iceberg catalog's metadata-pointer swap;
- a snapshot log (``snapshots.json``) carrying per-snapshot lineage
  properties (round, counts) — like Iceberg's snapshot summary;
- ``commit_round`` groups multiple table snapshots under one round tag
  so a crash between table writes is recoverable (rounds are replayed
  from the last complete tag — write-ahead intent + idempotent replay);
  a data dir orphaned by a crash before its log entry landed is
  removed by the next write to that table.

On a real cluster every call maps 1:1 onto Iceberg:
``write_snapshot`` → ``df.writeTo(tbl).overwritePartitions()`` /
``append()``; ``read(snapshot_id=k)`` → ``VERSION AS OF``;
``commit_round`` → a single multi-table transaction (or per-table
snapshots + the round tag in snapshot properties, as here).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)
        # A shard-tracked snapshot is read as hundreds-to-thousands of
        # leaf-dir root paths; above 32 paths Spark launches a
        # DISTRIBUTED file-listing job (one task per path — measured as
        # ~1000-task stages costing seconds per catalog.read). On a
        # local/posix warehouse, driver-side listing of the same dirs is
        # milliseconds, so push the threshold above any realistic shard
        # count. On an object-store deployment this would instead come
        # from the Iceberg manifest layer (no listing at all).
        spark.conf.set(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            "8192")

    # -- paths -------------------------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._tdir(table), "current.json")

    def _log(self, table: str) -> str:
        return os.path.join(self._tdir(table), "snapshots.json")

    # -- snapshot log ------------------------------------------------------
    def snapshots(self, table: str) -> list[dict[str, Any]]:
        try:
            with open(self._log(table)) as f:
                return json.load(f)
        except FileNotFoundError:
            return []

    def current_snapshot(self, table: str) -> dict[str, Any] | None:
        try:
            with open(self._pointer(table)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    # -- write path ----------------------------------------------------------
    def write_snapshot(self, table: str, df: DataFrame,
                       properties: dict[str, Any] | None = None,
                       partition_by: list[str] | None = None,
                       mode: str = "overwrite",
                       base_snapshot_id: int | None = None,
                       shard_col: str | None = None) -> int:
        """Materialize df as the table's next snapshot and commit it
        atomically. ``mode='append'`` writes only the new rows but the
        new snapshot references all prior data dirs too — exactly an
        Iceberg append snapshot (new manifests + carried-over ones).
        ``base_snapshot_id`` pins WHICH snapshot an append extends
        (default: the latest). Callers replaying a round after a crash
        must pin the last committed round's id so orphaned data dirs
        from the torn round are not carried forward. Returns the
        snapshot id.

        ``shard_col``: physically partition the data dir by this column
        (one leaf dir per value, tracked individually in ``paths``) —
        the Iceberg partitioned-table analog. Shard-tracked snapshots
        support :meth:`overwrite_shards` (partition-scoped rewrites, the
        ``overwritePartitions()`` analog) and path-level shard pruning
        via :meth:`read_shards`. The shard column stays a regular data
        column in the files (the partition dir key is a shadow ``_pb``),
        so reads are byte-identical to unsharded snapshots."""
        data_dir, leafs = self._write_data(table, df, shard_col)
        new_paths = leafs if shard_col is not None else [data_dir]
        snaps = self.snapshots(table)
        paths = list(new_paths)
        if mode == "append" and snaps:
            if base_snapshot_id is None:
                paths = snaps[-1]["paths"] + paths
            elif base_snapshot_id >= 0:
                paths = self._paths_of(table, base_snapshot_id) + paths
            # base_snapshot_id == -1: fresh lineage, carry nothing (the
            # caller knows no committed base exists — e.g. replaying the
            # first round after a crash left an orphaned snapshot)
        return self._commit_snapshot(table, data_dir, paths, properties,
                                     shard_col)

    def overwrite_shards(self, table: str, df: DataFrame,
                         touched: list, shard_col: str,
                         properties: dict[str, Any] | None = None,
                         base_snapshot_id: int | None = None) -> int:
        """Partition-scoped overwrite — Iceberg ``overwritePartitions()``.

        ``df`` must contain ONLY rows whose ``shard_col`` value is in
        ``touched``. The new snapshot replaces every base data dir whose
        shard value is touched with the freshly written leaf dirs and
        carries every other base dir forward BY REFERENCE (a metadata
        operation — untouched shards cost zero I/O). This is what makes
        a frontier commit O(round delta) instead of O(pending): a round
        names the host buckets it touched and rewrites only those.

        Also the per-shard-compaction primitive: pass the merged rows of
        a shard group as ``df`` and the group as ``touched`` to rewrite
        that group's accumulated append dirs into one dir each while the
        rest of the table is untouched (amortized ``rewrite_data_files``,
        no full-table stall)."""
        touched_keys = {str(v) for v in touched}
        if base_snapshot_id is None:
            base = (self.current_snapshot(table) or {}).get("paths", [])
        elif base_snapshot_id >= 0:
            base = self._paths_of(table, base_snapshot_id)
        else:
            base = []   # -1: fresh lineage (no committed base exists)
        for p in base:
            if self._shard_value(p) is None and self._dir_rowcount(p) > 0:
                raise ValueError(
                    f"{table}: base snapshot holds non-empty unsharded "
                    f"data dir {p}; a shard-scoped overwrite cannot "
                    "carry it (its rows may belong to touched shards) — "
                    "rewrite the table with shard_col first")
        carried = [p for p in base if self._shard_value(p) is not None
                   and self._shard_value(p) not in touched_keys]
        data_dir, leafs = self._write_data(table, df, shard_col)
        return self._commit_snapshot(table, data_dir, carried + leafs,
                                     properties, shard_col)

    def _write_data(self, table: str, df: DataFrame,
                    shard_col: str | None) -> tuple[str, list[str]]:
        """Write df into the table's next ``snap-<n>`` dir (atomic via
        tmp-dir + rename). Returns (data_dir, leaf shard dirs)."""
        from pyspark.sql import functions as F
        tdir = self._tdir(table)
        os.makedirs(tdir, exist_ok=True)
        snaps = self.snapshots(table)
        snap_id = (snaps[-1]["id"] + 1) if snaps else 0
        data_dir = os.path.join(tdir, f"snap-{snap_id}")
        tmp_dir = data_dir + ".tmp"
        # leftovers of a crash: a stale tmp dir, or a snap-<n> dir renamed
        # into place whose snapshot never reached the log (ids come from
        # the log, so nothing references it). Either would block the
        # write; neither holds committed data.
        for stale in (tmp_dir, data_dir):
            if os.path.exists(stale):
                shutil.rmtree(stale)
        writer = df
        if shard_col is not None:
            # cluster each shard's rows into one task before partitionBy
            # (Iceberg's fanout-writer analog): without this every task
            # writes a file into every shard dir it sees — touched
            # buckets × tasks small files per round, and scan-side file
            # explosion as the crawl ages. The partition count is pinned
            # explicitly: repartition(col) alone lets AQE blow the
            # reduce side up to ~one task per distinct shard value
            # (measured: 1024-task write stages for a 64-task write).
            n_out = int(self.spark.conf.get("spark.sql.shuffle.partitions",
                                            "200"))
            writer = (df.withColumn("_pb", F.col(shard_col).cast("string"))
                      .repartition(n_out, F.col("_pb")))
            writer.write.mode("overwrite").partitionBy("_pb").parquet(tmp_dir)
        else:
            writer.write.mode("overwrite").parquet(tmp_dir)
        os.replace(tmp_dir, data_dir)  # data visible only after rename
        leafs = []
        if shard_col is not None:
            leafs = sorted(
                os.path.join(data_dir, d) for d in os.listdir(data_dir)
                if d.startswith("_pb="))
            if not leafs:
                # empty sharded write: keep one schema-bearing (empty)
                # path so delta reads of this snapshot stay well-formed
                leafs = [self._write_empty_fallback(data_dir, df)]
        return data_dir, leafs

    def _commit_snapshot(self, table: str, data_dir: str, paths: list[str],
                         properties: dict[str, Any] | None,
                         shard_col: str | None) -> int:
        snap_id = int(os.path.basename(data_dir).split("-", 1)[1])
        entry = {
            "id": snap_id,
            "paths": paths,
            "committed_at": time.time(),
            "properties": properties or {},
        }
        if shard_col is not None:
            entry["shard_col"] = shard_col
        snaps = self.snapshots(table)
        snaps.append(entry)
        self._atomic_json(self._log(table), snaps)
        self._atomic_json(self._pointer(table), entry)  # the commit
        return snap_id

    @staticmethod
    def _shard_value(path: str) -> str | None:
        """Shard value encoded in a leaf dir name (``.../_pb=<v>``), or
        None for an unsharded data dir."""
        base = os.path.basename(path)
        return base.split("=", 1)[1] if base.startswith("_pb=") else None

    @staticmethod
    def _write_empty_fallback(data_dir: str, df: DataFrame) -> str:
        fb = os.path.join(data_dir, "empty")
        df.limit(0).write.mode("overwrite").parquet(fb)
        return fb

    @staticmethod
    def _atomic_json(path: str, obj: Any) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1)
        os.replace(tmp, path)

    def _paths_of(self, table: str, snapshot_id: int) -> list[str]:
        for s in self.snapshots(table):
            if s["id"] == snapshot_id:
                return s["paths"]
        raise FileNotFoundError(f"{table}: no snapshot {snapshot_id}")

    # -- read path -----------------------------------------------------------
    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame:
        """Read current snapshot, or time-travel (`VERSION AS OF`)."""
        if snapshot_id is None:
            cur = self.current_snapshot(table)
            if cur is None:
                raise FileNotFoundError(f"table {table} has no snapshot")
            return self.spark.read.parquet(*cur["paths"])
        return self.spark.read.parquet(*self._paths_of(table, snapshot_id))

    def snapshot_properties(self, table: str, snapshot_id: int) -> dict:
        for s in self.snapshots(table):
            if s["id"] == snapshot_id:
                return s.get("properties", {})
        raise FileNotFoundError(f"{table}: no snapshot {snapshot_id}")

    def set_snapshot_properties(self, table: str, snapshot_id: int,
                                properties: dict) -> None:
        """Replace a snapshot's properties (Iceberg: snapshot summary /
        table-property update — metadata only, no data rewrite)."""
        snaps = self.snapshots(table)
        for s in snaps:
            if s["id"] == snapshot_id:
                s["properties"] = properties
                break
        else:
            raise FileNotFoundError(f"{table}: no snapshot {snapshot_id}")
        self._atomic_json(self._log(table), snaps)
        cur = self.current_snapshot(table)
        if cur and cur["id"] == snapshot_id:
            cur["properties"] = properties
            self._atomic_json(self._pointer(table), cur)

    def _delta_paths(self, table: str, snapshot_id: int) -> list[str]:
        """The data paths WRITTEN by this snapshot (excluding carried
        base dirs) — for an append or shard-overwrite snapshot, exactly
        the delta it added. Derived from the tracked path list so shard
        leaf dirs are read individually (no partition-dir inference)."""
        prefix = os.path.join(self._tdir(table), f"snap-{snapshot_id}")
        paths = [p for p in self._paths_of(table, snapshot_id)
                 if p == prefix or p.startswith(prefix + os.sep)]
        return paths or [prefix]

    def read_snapshot_delta(self, table: str, snapshot_id: int) -> DataFrame:
        """Read ONLY the rows written by this snapshot — for an append
        snapshot, exactly the delta rows it added."""
        return self.spark.read.parquet(*self._delta_paths(table, snapshot_id))

    def shard_paths(self, table: str, shards: list,
                    snapshot_id: int | None = None) -> list[str]:
        """The snapshot's data dirs holding the given shard values —
        path-level partition pruning (the Iceberg manifest-filter
        analog). Unsharded dirs in a mixed lineage are always included:
        they may hold any shard's rows."""
        keys = {str(v) for v in shards}
        if snapshot_id is None:
            cur = self.current_snapshot(table)
            if cur is None:
                raise FileNotFoundError(f"table {table} has no snapshot")
            paths = cur["paths"]
        else:
            paths = self._paths_of(table, snapshot_id)
        return [p for p in paths
                if self._shard_value(p) is None or self._shard_value(p) in keys]

    def read_shards(self, table: str, shards: list,
                    snapshot_id: int | None = None) -> DataFrame:
        """Read only the given shard values' data dirs. O(selected
        shards) I/O regardless of table size — the basis for per-shard
        compaction and degraded-bucket rebuilds."""
        paths = self.shard_paths(table, shards, snapshot_id)
        if not paths:   # no dir holds these shards: empty, same schema
            return self.read(table, snapshot_id).limit(0)
        return self.spark.read.parquet(*paths)

    def _dir_rowcount(self, d: str) -> int:
        """Row count of one immutable data dir from parquet footers,
        driver-side, memoized (no Spark job)."""
        if not hasattr(self, "_rowcount_memo"):
            self._rowcount_memo: dict[str, int] = {}
        if d not in self._rowcount_memo:
            import pyarrow.parquet as pq
            self._rowcount_memo[d] = sum(
                pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                for f in os.listdir(d) if f.endswith(".parquet"))
        return self._rowcount_memo[d]

    def snapshot_delta_rowcount(self, table: str, snapshot_id: int,
                                shards: list | None = None) -> int:
        """Row count of ONLY the rows written by this snapshot, from
        parquet footers read driver-side (no Spark job at all — the
        metrics layer calls this every round). For an append snapshot
        this is the delta's size. ``shards`` restricts the count to the
        given shard values' leaf dirs (e.g. per-state archive counts)."""
        paths = self._delta_paths(table, snapshot_id)
        if shards is not None:
            keys = {str(v) for v in shards}
            paths = [p for p in paths if self._shard_value(p) in keys]
        return sum(self._dir_rowcount(p) for p in paths if os.path.isdir(p))

    def snapshot_delta_columns_local(self, table: str, snapshot_id: int,
                                     columns: list[str]) -> list[dict]:
        """Driver-side (pyarrow) read of selected NARROW columns from
        the rows a snapshot wrote — no Spark job. Only for
        metadata-sized reads (e.g. per-bucket bloom health columns);
        payload columns would pull data through the driver."""
        import pyarrow.parquet as pq
        out: list[dict] = []
        for d in self._delta_paths(table, snapshot_id):
            if not os.path.isdir(d):
                continue
            for f in sorted(os.listdir(d)):
                if f.endswith(".parquet"):
                    t = pq.read_table(os.path.join(d, f), columns=columns)
                    out.extend(t.to_pylist())
        return out

    def snapshot_rowcount(self, table: str, snapshot_id: int) -> int:
        """TOTAL row count of a snapshot (carried dirs included) from
        memoized parquet footers — dirs are immutable, so each is
        counted once per catalog lifetime however many snapshots carry
        it. Lets round metrics report e.g. pending-queue depth without
        a Spark job."""
        return sum(self._dir_rowcount(p)
                   for p in self._paths_of(table, snapshot_id))

    def exists(self, table: str) -> bool:
        return self.current_snapshot(table) is not None

    def compact(self, table: str,
                properties: dict[str, Any] | None = None,
                shards: list | None = None) -> int:
        """Iceberg ``rewrite_data_files`` analog for append tables:
        rewrite accumulated delta dirs into one dir (per shard) and
        commit a new snapshot. Run every k rounds / on a maintenance
        schedule — an append-only table otherwise accumulates one
        directory per round, and the many-small-files tax grows with
        crawl age. Data is unchanged; old snapshots remain
        time-travelable. A sharded table keeps its shard layout.

        ``shards``: compact ONLY the given shard values' dirs, carrying
        the rest by reference — the amortized form: rotating through
        shard groups costs O(table/groups) per call instead of an
        O(table) full-table stall every k rounds."""
        props = {"compacted": True, **(properties or {})}
        cur = self.current_snapshot(table) or {}
        shard_col = cur.get("shard_col")
        if shards is not None:
            if shard_col is None:
                raise ValueError(f"{table}: shard-scoped compaction "
                                 "needs a shard-tracked table")
            props["compacted_shards"] = [str(v) for v in shards]
            return self.overwrite_shards(
                table, self.read_shards(table, shards), shards, shard_col,
                props)
        return self.write_snapshot(table, self.read(table), props,
                                   shard_col=shard_col)

    # -- round transaction ----------------------------------------------------
    def commit_round(self, round_no: int,
                     table_snapshots: dict[str, int]) -> None:
        """Record that round `round_no` committed the given per-table
        snapshot ids. A round is durable only once this pointer lands;
        resume replays from the latest complete round."""
        rounds_path = os.path.join(self.warehouse, "rounds.json")
        rounds = self.rounds()
        rounds.append({"round": round_no, "snapshots": table_snapshots,
                       "committed_at": time.time()})
        self._atomic_json(rounds_path, rounds)

    def rounds(self) -> list[dict[str, Any]]:
        try:
            with open(os.path.join(self.warehouse, "rounds.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return []

    def last_complete_round(self) -> dict[str, Any] | None:
        rounds = self.rounds()
        return rounds[-1] if rounds else None
