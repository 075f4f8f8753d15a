"""Snapshot catalog — the engine's checkpointed state store.

Design target is **Iceberg** (SURVEY §1.4, §2.10 E5): every crawl round
commits `frontier` / `seen` / `articles` (and the other round tables)
atomically, and resume/time-travel reads any previous snapshot
(`VERSION AS OF`). A round's metrics are not a table: the engine stores
its plan-time counts in the frontier snapshot's properties and
``plans.engine.round_metrics`` rebuilds the record from them plus the
parquet-footer row counts of the round's deltas.

This sandbox ships no Iceberg runtime jar and has no network, so this
module provides the same semantics over plain parquet. Every file is
written once and never edited:

- ``<warehouse>/<table>/snap-<n>/`` — snapshot ``n``'s data dir (one
  leaf dir per shard value for shard-tracked tables), written to
  ``snap-<n>.tmp`` and renamed into place;
- ``<warehouse>/<table>/snap-<n>.json`` — snapshot ``n``'s metadata
  (``id``, ``paths``, ``schema``, ``properties``, ``shard_col``,
  ``committed_at``), written to a ``.tmp`` file after the data dir's
  rename. The ``os.replace`` of this file is the table commit: a data
  dir without it holds no committed data, and the next write to the
  table (which picks the same ``n``) removes it;
- ``schema`` is the written frame's schema. Every read hands it to
  Spark's parquet reader with the snapshot's paths, so a read infers
  nothing and launches no Spark job, and any number of paths — none
  included — reads with the table's columns. An empty sharded delta
  therefore adds no path to its snapshot. There is no fallback for
  metadata files without ``schema``: a warehouse written before the
  field existed must be rebuilt (tests and perfbench build fresh
  ones);
- the highest committed ``n`` is the table's current snapshot and the
  next write takes ``n + 1``, found by listing the table dir (once per
  catalog; committed ids are dense, so later commits are found by
  probing ``snap-<n+1>.json``) — no pointer file, no log rewritten per
  write. A lookup by id reads one small file, memoized per catalog
  (the files are immutable);
- ``<warehouse>/_rounds/<r>.json`` — ``commit_round`` records the
  per-table snapshot ids of round ``r`` the same way; the highest ``r``
  is the last complete round. A crash anywhere before that file lands
  leaves committed-but-unreferenced table snapshots, and resume
  replays round ``r`` against the previous round's pinned ids.

This is Iceberg's file-system table layout
(https://iceberg.apache.org/spec/#file-system-tables): each version is
a new ``v<N>.metadata.json`` committed by an atomic rename and the
highest committed ``N`` is current. On a real cluster every call maps
1:1 onto Iceberg: ``write_snapshot`` →
``df.writeTo(tbl).overwritePartitions()`` / ``append()``;
``read(snapshot_id=k)`` → ``VERSION AS OF``; ``commit_round`` → a single
multi-table transaction (or per-table snapshots + the round tag in
snapshot properties, as here).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_SNAP_META = re.compile(r"snap-(\d+)\.json")
_ROUND_META = re.compile(r"(-?\d+)\.json")


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)
        self._entries: dict[tuple[str, int], dict[str, Any]] = {}
        self._current: dict[str, int] = {}
        self._rowcount_memo: dict[str, int] = {}
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

    def _rdir(self) -> str:
        return os.path.join(self.warehouse, "_rounds")

    @staticmethod
    def _max_committed(dirpath: str, pattern: re.Pattern) -> int | None:
        """Highest id among the committed metadata files of a dir
        (``.tmp`` leftovers of a crashed write never match)."""
        try:
            names = os.listdir(dirpath)
        except FileNotFoundError:
            return None
        return max((int(m.group(1)) for m in map(pattern.fullmatch, names)
                    if m), default=None)

    # -- snapshot metadata ---------------------------------------------------
    def _entry(self, table: str, snapshot_id: int) -> dict[str, Any]:
        key = (table, snapshot_id)
        if key not in self._entries:
            path = os.path.join(self._tdir(table), f"snap-{snapshot_id}.json")
            try:
                with open(path) as f:
                    self._entries[key] = json.load(f)
            except FileNotFoundError:
                raise FileNotFoundError(
                    f"{table}: no snapshot {snapshot_id}") from None
        return self._entries[key]

    def _current_id(self, table: str) -> int | None:
        """Highest committed snapshot id. Committed ids are dense (a
        write takes the highest + 1), so after one listing per catalog
        a newer commit, by any writer, is found by probing forward."""
        cur = self._current.get(table)
        if cur is None:
            cur = self._max_committed(self._tdir(table), _SNAP_META)
            if cur is None:
                return None
        while os.path.exists(
                os.path.join(self._tdir(table), f"snap-{cur + 1}.json")):
            cur += 1
        self._current[table] = cur
        return cur

    def current_snapshot(self, table: str) -> dict[str, Any] | None:
        cur = self._current_id(table)
        return None if cur is None else self._entry(table, cur)

    # -- write path ----------------------------------------------------------
    def write_snapshot(self, table: str, df: DataFrame,
                       properties: dict[str, Any] | None = None,
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
        base = (self._base_paths(table, base_snapshot_id)
                if mode == "append" else [])
        snap_id, leafs = self._write_data(table, df, shard_col)
        return self._commit_snapshot(table, snap_id, base + leafs,
                                     df.schema, properties, shard_col)

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
        base = self._base_paths(table, base_snapshot_id)
        for p in base:
            if self._shard_value(p) is None and self._dir_rowcount(p) > 0:
                raise ValueError(
                    f"{table}: base snapshot holds non-empty unsharded "
                    f"data dir {p}; a shard-scoped overwrite cannot "
                    "carry it (its rows may belong to touched shards) — "
                    "rewrite the table with shard_col first")
        carried = [p for p in base if self._shard_value(p) is not None
                   and self._shard_value(p) not in touched_keys]
        snap_id, leafs = self._write_data(table, df, shard_col)
        return self._commit_snapshot(table, snap_id, carried + leafs,
                                     df.schema, properties, shard_col)

    def _base_paths(self, table: str, base_snapshot_id: int | None
                    ) -> list[str]:
        """Paths a new snapshot carries: the current snapshot's
        (``None``), the pinned one's, or none (``-1``: fresh lineage —
        the caller knows no committed base exists, e.g. replaying the
        first round after a crash)."""
        if base_snapshot_id is None:
            return (self.current_snapshot(table) or {}).get("paths", [])
        if base_snapshot_id < 0:
            return []
        return self._paths_of(table, base_snapshot_id)

    def _write_data(self, table: str, df: DataFrame,
                    shard_col: str | None) -> tuple[int, list[str]]:
        """Write df into the table's next ``snap-<n>`` dir (atomic via
        tmp-dir + rename). Returns (n, the snapshot's new paths: the
        data dir, or its leaf shard dirs — none for an empty sharded
        write)."""
        from pyspark.sql import functions as F
        tdir = self._tdir(table)
        os.makedirs(tdir, exist_ok=True)
        cur = self._current_id(table)
        snap_id = 0 if cur is None else cur + 1
        data_dir = os.path.join(tdir, f"snap-{snap_id}")
        tmp_dir = data_dir + ".tmp"
        # leftovers of a crash: a stale tmp dir, or a snap-<n> dir renamed
        # into place whose metadata file never landed (so nothing
        # references it). Either would block the write; neither holds
        # committed data.
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
        if shard_col is None:
            return snap_id, [data_dir]
        return snap_id, sorted(
            os.path.join(data_dir, d) for d in os.listdir(data_dir)
            if d.startswith("_pb="))

    def _commit_snapshot(self, table: str, snap_id: int, paths: list[str],
                         schema: StructType,
                         properties: dict[str, Any] | None,
                         shard_col: str | None) -> int:
        """THE table commit: snapshot ``snap_id``'s metadata file lands
        by atomic rename, after its data dir's. ``schema`` is the
        caller's frame's, not the shard writer's (no ``_pb``)."""
        entry = {
            "id": snap_id,
            "paths": paths,
            "schema": schema.jsonValue(),
            "committed_at": time.time(),
            "properties": properties or {},
        }
        if shard_col is not None:
            entry["shard_col"] = shard_col
        self._atomic_json(
            os.path.join(self._tdir(table), f"snap-{snap_id}.json"), entry)
        return snap_id

    @staticmethod
    def _shard_value(path: str) -> str | None:
        """Shard value encoded in a leaf dir name (``.../_pb=<v>``), or
        None for an unsharded data dir."""
        base = os.path.basename(path)
        return base.split("=", 1)[1] if base.startswith("_pb=") else None

    @staticmethod
    def _atomic_json(path: str, obj: Any) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(json.dumps(obj))
        os.replace(tmp, path)

    def _snapshot(self, table: str, snapshot_id: int | None
                  ) -> dict[str, Any]:
        """A snapshot's metadata; ``None`` = the current snapshot."""
        snap = (self.current_snapshot(table) if snapshot_id is None
                else self._entry(table, snapshot_id))
        if snap is None:
            raise FileNotFoundError(f"table {table} has no snapshot")
        return snap

    def _paths_of(self, table: str, snapshot_id: int | None) -> list[str]:
        return self._snapshot(table, snapshot_id)["paths"]

    # -- read path -----------------------------------------------------------
    def _scan(self, table: str, snapshot_id: int | None,
              paths: list[str]) -> DataFrame:
        """Every read: ``paths`` (any number, none included) under the
        snapshot's stored schema — Spark infers nothing, so building
        the frame launches no job."""
        schema = StructType.fromJson(self._snapshot(table, snapshot_id)
                                     ["schema"])
        return self.spark.read.schema(schema).parquet(*paths)

    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame:
        """Read current snapshot, or time-travel (`VERSION AS OF`)."""
        return self._scan(table, snapshot_id,
                          self._paths_of(table, snapshot_id))

    def snapshot_properties(self, table: str, snapshot_id: int) -> dict:
        return self._entry(table, snapshot_id)["properties"]

    def _delta_paths(self, table: str, snapshot_id: int) -> list[str]:
        """The data paths WRITTEN by this snapshot (excluding carried
        base dirs) — for an append or shard-overwrite snapshot, exactly
        the delta it added (none for an empty sharded write). Derived
        from the tracked path list so shard leaf dirs are read
        individually (no partition-dir inference)."""
        prefix = os.path.join(self._tdir(table), f"snap-{snapshot_id}")
        return [p for p in self._paths_of(table, snapshot_id)
                if p == prefix or p.startswith(prefix + os.sep)]

    def read_snapshot_delta(self, table: str, snapshot_id: int) -> DataFrame:
        """Read ONLY the rows written by this snapshot — for an append
        snapshot, exactly the delta rows it added."""
        return self._scan(table, snapshot_id,
                          self._delta_paths(table, snapshot_id))

    def shard_paths(self, table: str, shards: list,
                    snapshot_id: int | None = None) -> list[str]:
        """The snapshot's data dirs holding the given shard values —
        path-level partition pruning (the Iceberg manifest-filter
        analog). Unsharded dirs in a mixed lineage are always included:
        they may hold any shard's rows."""
        keys = {str(v) for v in shards}
        return [p for p in self._paths_of(table, snapshot_id)
                if self._shard_value(p) is None or self._shard_value(p) in keys]

    def read_shards(self, table: str, shards: list,
                    snapshot_id: int | None = None) -> DataFrame:
        """Read only the given shard values' data dirs. O(selected
        shards) I/O regardless of table size — the basis for per-shard
        compaction and degraded-bucket rebuilds. Shard values no dir
        holds read as an empty frame with the table's columns."""
        return self._scan(table, snapshot_id,
                          self.shard_paths(table, shards, snapshot_id))

    def _dir_rowcount(self, d: str) -> int:
        """Row count of one immutable data dir from parquet footers,
        driver-side, memoized (no Spark job)."""
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
        return sum(self._dir_rowcount(p) for p in paths)

    def snapshot_delta_columns_local(self, table: str, snapshot_id: int,
                                     columns: list[str]) -> list[dict]:
        """Driver-side (pyarrow) read of selected NARROW columns from
        the rows a snapshot wrote — no Spark job. Only for
        metadata-sized reads (e.g. per-bucket bloom health columns);
        payload columns would pull data through the driver."""
        import pyarrow.parquet as pq
        out: list[dict] = []
        for d in self._delta_paths(table, snapshot_id):
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
        snapshot ids. A round is durable only once this file lands;
        resume replays from the latest complete round."""
        os.makedirs(self._rdir(), exist_ok=True)
        self._atomic_json(
            os.path.join(self._rdir(), f"{round_no}.json"),
            {"round": round_no, "snapshots": table_snapshots,
             "committed_at": time.time()})

    def round_entry(self, round_no: int) -> dict[str, Any] | None:
        """Round ``round_no``'s commit record, or None if it never
        committed."""
        try:
            with open(os.path.join(self._rdir(), f"{round_no}.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def rounds(self) -> list[dict[str, Any]]:
        try:
            names = os.listdir(self._rdir())
        except FileNotFoundError:
            return []
        return [self.round_entry(r) for r in sorted(
            int(m.group(1)) for m in map(_ROUND_META.fullmatch, names) if m)]

    def last_complete_round(self) -> dict[str, Any] | None:
        last = self._max_committed(self._rdir(), _ROUND_META)
        return None if last is None else self.round_entry(last)
