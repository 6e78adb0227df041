"""Snapshot tables: an Iceberg-semantics stand-in over parquet + manifests.

The north rule requires "per-round Iceberg commits with lineage + metrics,
resumable from checkpoint". This sandbox ships no Iceberg runtime jars, so the
engine implements the minimal subset of Iceberg's table semantics it relies
on, over plain parquet:

  * **Atomic commit**: a snapshot is a JSON manifest listing data files; the
    commit is an atomic ``os.rename`` of the manifest pointer — the same
    tmp+rename idiom the reference uses for checkpoints
    (``src/checkpoint_manager.py:53-59``) and the same atomicity contract as
    Iceberg's catalog pointer swap. Readers never see a half-written snapshot.
  * **Snapshots / time travel / rollback**: every commit keeps its manifest;
    ``read(snapshot_id=...)`` reads any historical snapshot; ``rollback``
    re-points. This is the exact-resume mechanism (SURVEY.md T6).
  * **Append** and **dynamic partition overwrite**: ``overwrite_partitions``
    replaces only the partitions present in the incoming DataFrame — the
    Iceberg ``overwritePartitions()`` analog. The frontier is bucketed by
    ``url_hash % n_buckets`` so a round that touches 3% of buckets rewrites
    3% of the table, not all of it (the property that makes per-round state
    updates viable at 10^10 rows).

On a real cluster with an Iceberg catalog, ``SnapshotTable`` is replaced by
``df.writeTo(name).append() / .overwritePartitions()`` one-for-one; engine
code only calls these four methods (read/append/overwrite/overwrite_partitions),
so the swap is confined to this module.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """A DataFrame of ``schema`` with no rows, planned as a JVM local
    relation: reading it runs no task. ``spark.createDataFrame([], schema)``
    is a PythonRDD with defaultParallelism empty partitions instead, so
    every job that reads it starts that many Python-worker tasks."""
    jss = spark._jsparkSession
    return DataFrame(
        jss.createDataFrame(spark._jvm.java.util.ArrayList(), jss.parseDataType(schema.json())),
        spark,
    )


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str
    files: list[dict[str, Any]]  # [{"path": ..., "partition": {...} | None}]
    schema_json: str
    summary: dict[str, Any]
    committed_at_ms: int


class SnapshotTable:
    """One snapshot-versioned parquet table rooted at ``root/name``."""

    def __init__(self, root: str, name: str) -> None:
        self.dir = os.path.join(root, name)
        self.name = name
        os.makedirs(os.path.join(self.dir, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(self.dir, "data"), exist_ok=True)

    # -- manifest plumbing --------------------------------------------------

    @property
    def _pointer(self) -> str:
        return os.path.join(self.dir, "CURRENT")

    def current_snapshot_id(self) -> int | None:
        try:
            with open(self._pointer, encoding="utf-8") as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def _manifest_path(self, sid: int) -> str:
        return os.path.join(self.dir, "manifests", f"v{sid}.json")

    def snapshot(self, sid: int | None = None) -> Snapshot | None:
        sid = sid if sid is not None else self.current_snapshot_id()
        if sid is None:
            return None
        with open(self._manifest_path(sid), encoding="utf-8") as f:
            d = json.load(f)
        return Snapshot(**d)

    def snapshots(self) -> list[Snapshot]:
        """All snapshots, oldest first (lineage / history view)."""
        out = []
        for fn in sorted(
            os.listdir(os.path.join(self.dir, "manifests")),
            key=lambda s: int(s[1:-5]),
        ):
            with open(os.path.join(self.dir, "manifests", fn), encoding="utf-8") as f:
                out.append(Snapshot(**json.load(f)))
        return out

    def _commit(self, snap: Snapshot) -> None:
        """Write manifest, then atomically swing the pointer (tmp+rename)."""
        with open(self._manifest_path(snap.snapshot_id), "w", encoding="utf-8") as f:
            json.dump(snap.__dict__, f)
        tmp = self._pointer + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(str(snap.snapshot_id))
        os.rename(tmp, self._pointer)  # atomic on POSIX

    def rollback(self, sid: int) -> None:
        if not os.path.exists(self._manifest_path(sid)):
            raise ValueError(f"no snapshot {sid} for table {self.name}")
        tmp = self._pointer + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(str(sid))
        os.rename(tmp, self._pointer)

    # -- data writes --------------------------------------------------------

    def _write_data(
        self, df: DataFrame, partition_by: str | None
    ) -> list[dict[str, Any]]:
        """Materialize df under a fresh data dir; return file entries."""
        out_dir = os.path.join(self.dir, "data", uuid.uuid4().hex)
        if partition_by:
            # co-locate each partition value in one task -> one file per
            # partition dir (instead of n_shuffle_partitions small files);
            # at scale raise files-per-bucket by salting this repartition
            from pyspark.sql import functions as F

            df = df.repartition(F.col(partition_by))
            writer = df.write.mode("overwrite").partitionBy(partition_by)
        else:
            writer = df.write.mode("overwrite")
        writer.parquet(out_dir)
        entries: list[dict[str, Any]] = []
        for dirpath, _dirnames, filenames in os.walk(out_dir):
            for fn in filenames:
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, fn)
                partition = None
                rel = os.path.relpath(dirpath, out_dir)
                if rel != "." and "=" in rel:
                    partition = {}
                    for seg in rel.split(os.sep):
                        k, _, v = seg.partition("=")
                        partition[k] = v
                entries.append({"path": full, "partition": partition})
        return entries

    def _next_sid(self) -> int:
        # max existing manifest + 1 (NOT current+1: after a rollback the
        # pointer is behind newer manifests, which must never be overwritten)
        existing = [
            int(fn[1:-5])
            for fn in os.listdir(os.path.join(self.dir, "manifests"))
            if fn.startswith("v") and fn.endswith(".json")
        ]
        return (max(existing) + 1) if existing else 0

    def _write_partitioned(self, df: DataFrame, partition_by: str) -> list[dict[str, Any]]:
        """Write df partitioned by ``partition_by`` via a shadow column (the
        real column must survive inside the data files — snapshot reads list
        files directly), normalizing manifest partition keys to the real name."""
        from pyspark.sql import functions as F

        shadow = f"__pt_{partition_by}"
        files = self._write_data(
            df.withColumn(shadow, F.col(partition_by).cast("string")), shadow
        )
        for f in files:
            if f["partition"] and shadow in f["partition"]:
                f["partition"] = {partition_by: f["partition"][shadow]}
        return files

    def append(
        self,
        df: DataFrame,
        summary: dict[str, Any] | None = None,
        partition_by: str | None = None,
    ) -> int:
        """Append; with ``partition_by``, new files land in partition dirs and
        carry partition values in the manifest, so :meth:`read_partitions` can
        prune appends file-level (the seen-table backstop path)."""
        prev = self.snapshot()
        new = (
            self._write_partitioned(df, partition_by)
            if partition_by
            else self._write_data(df, None)
        )
        files = (prev.files if prev else []) + new
        sid = self._next_sid()
        self._commit(
            Snapshot(sid, prev.snapshot_id if prev else None, "append", files,
                     df.schema.json(), summary or {}, int(time.time() * 1000))
        )
        return sid

    def append_local(
        self,
        rows: list[tuple],
        schema: T.StructType,
        summary: dict[str, Any] | None = None,
        overwrite: bool = False,
    ) -> int:
        """Append a handful of driver-side rows WITHOUT a Spark job.

        Metrics/lineage rows are created on the driver every round; writing
        them through a Spark job costs a full scheduler round-trip for a few
        KB. This path writes one parquet file via pyarrow with types matching
        what Spark would produce, then commits normally.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        _PA = {
            "integer": pa.int32(), "long": pa.int64(), "double": pa.float64(),
            "string": pa.string(), "boolean": pa.bool_(),
            "timestamp": pa.timestamp("us"),
        }
        arrays, names = [], []
        for i, f in enumerate(schema.fields):
            names.append(f.name)
            arrays.append(pa.array([r[i] for r in rows], type=_PA[f.dataType.typeName()]))
        out_dir = os.path.join(self.dir, "data", uuid.uuid4().hex)
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, "part-00000.parquet")
        pq.write_table(pa.table(arrays, names=names), path)
        prev = self.snapshot()
        kept = [] if overwrite else (prev.files if prev else [])
        files = kept + [{"path": path, "partition": None}]
        sid = self._next_sid()
        self._commit(
            Snapshot(sid, prev.snapshot_id if prev else None,
                     "overwrite" if overwrite else "append", files,
                     schema.json(), summary or {}, int(time.time() * 1000))
        )
        return sid

    def init_empty(
        self, schema: "T.StructType | str", summary: dict[str, Any] | None = None
    ) -> int:
        """Commit an EMPTY overwrite snapshot carrying only a schema — no
        Spark job, no data file (reads of a file-less snapshot already return
        an empty typed DataFrame). Replaces the write-an-empty-DataFrame
        table-bootstrap pattern, which cost one full Spark write job per
        table at crawl init."""
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        prev = self.snapshot()
        sid = self._next_sid()
        self._commit(
            Snapshot(sid, prev.snapshot_id if prev else None, "overwrite", [],
                     schema.json(), summary or {}, int(time.time() * 1000))
        )
        return sid

    def overwrite(self, df: DataFrame, summary: dict[str, Any] | None = None) -> int:
        prev = self.snapshot()
        files = self._write_data(df, None)
        sid = self._next_sid()
        self._commit(
            Snapshot(sid, prev.snapshot_id if prev else None, "overwrite", files,
                     df.schema.json(), summary or {}, int(time.time() * 1000))
        )
        return sid

    def overwrite_partitions(
        self,
        df: DataFrame,
        partition_by: str,
        summary: dict[str, Any] | None = None,
        replace_all: bool = False,
    ) -> int:
        """Dynamic partition overwrite: replace only partitions present in df.

        Iceberg ``overwritePartitions()`` analog — the frontier's per-round
        state update path. Partitions not present in ``df`` keep their files,
        unless ``replace_all`` (a full overwrite that still writes bucketed
        files, used to (re)initialize partitioned tables).
        """
        prev = self.snapshot()
        new_files = self._write_partitioned(df, partition_by)
        touched = {
            f["partition"][partition_by] for f in new_files if f["partition"]
        }
        if replace_all:
            kept = []
        else:
            stale = [
                f
                for f in (prev.files if prev else [])
                if not f["partition"] or partition_by not in f["partition"]
            ]
            if stale:
                raise ValueError(
                    f"table {self.name} holds files not partitioned by "
                    f"{partition_by!r}; partition overwrite would silently "
                    "keep stale rows — rewrite with replace_all=True first"
                )
            kept = [
                f
                for f in prev.files
                if f["partition"].get(partition_by) not in touched
            ] if prev else []
        sid = self._next_sid()
        self._commit(
            Snapshot(sid, prev.snapshot_id if prev else None, "overwrite_partitions",
                     kept + new_files, df.schema.json(),
                     {**(summary or {}), "touched_partitions": sorted(touched)},
                     int(time.time() * 1000))
        )
        return sid

    # -- stats (A9) ----------------------------------------------------------

    def stats(self) -> dict[str, Any]:
        """Table statistics off the manifest alone — no Spark job, no data
        read (the reference's cache-stats surface,
        ``src/unified_cache_manager.py:433-459``): snapshot count, live data
        files, bytes, partitions, lineage depth."""
        snaps = self.snapshots()
        cur = self.snapshot()
        files = cur.files if cur else []
        n_bytes = 0
        for f in files:
            try:
                n_bytes += os.path.getsize(f["path"])
            except OSError:
                pass
        partitions = {
            tuple(sorted(f["partition"].items()))
            for f in files
            if f["partition"]
        }
        return {
            "table": self.name,
            "n_snapshots": len(snaps),
            "current_snapshot_id": cur.snapshot_id if cur else None,
            "operation": cur.operation if cur else None,
            "n_files": len(files),
            "n_bytes": n_bytes,
            "n_partitions": len(partitions),
            "committed_at_ms": cur.committed_at_ms if cur else None,
        }

    # -- maintenance ---------------------------------------------------------

    def expire_snapshots(self, keep_last: int = 5) -> int:
        """Iceberg ``expireSnapshots`` analog: drop all but the newest
        ``keep_last`` manifests (the current one always survives) and delete
        data files no surviving manifest references. Returns files deleted.

        Run between rounds at scale — the frontier/seen tables otherwise
        accumulate one manifest per round forever.
        """
        snaps = self.snapshots()
        current = self.current_snapshot_id()
        keep = {s.snapshot_id for s in snaps[-keep_last:]} | ({current} if current is not None else set())
        referenced: set[str] = set()
        for s in snaps:
            if s.snapshot_id in keep:
                referenced.update(f["path"] for f in s.files)
        deleted = 0
        for s in snaps:
            if s.snapshot_id in keep:
                continue
            for f in s.files:
                if f["path"] not in referenced and os.path.exists(f["path"]):
                    os.remove(f["path"])
                    referenced.add(f["path"])  # don't double-count shared paths
                    deleted += 1
            os.remove(self._manifest_path(s.snapshot_id))
        return deleted

    def compact_small_files(
        self,
        spark: SparkSession,
        partition_by: str,
        max_files_per_partition: int = 4,
    ) -> list:
        """Iceberg ``rewrite_data_files`` (bin-pack) analog: rewrite ONLY the
        partitions whose live file count exceeds the threshold, coalescing
        each to one file per partition. Append-heavy bucketed tables (the
        seen table gains one file per bucket per crawl round) otherwise
        accumulate small files forever, and every partition-pruned backstop
        read pays the per-file open cost. Cost is O(rows in hot partitions),
        never a full-table rewrite. Returns the partition values rewritten.
        """
        snap = self.snapshot()
        if snap is None:
            return []
        counts: dict[str, int] = {}
        for f in snap.files:
            if f["partition"] and partition_by in f["partition"]:
                v = f["partition"][partition_by]
                counts[v] = counts.get(v, 0) + 1
        hot = sorted(v for v, n in counts.items() if n > max_files_per_partition)
        if not hot:
            return []
        # read_partitions conservatively includes files without partition
        # info; bucketed engine tables never hold any (overwrite_partitions
        # raises on them), so this is exactly the hot partitions' rows
        df = self.read_partitions(spark, partition_by, hot)
        self.overwrite_partitions(
            df, partition_by, {"op": "compact_files", "partitions": hot}
        )
        return hot

    # -- reads --------------------------------------------------------------

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        snap = self.snapshot(snapshot_id)
        if snap is None or not snap.files:
            if snap is not None:
                schema = T.StructType.fromJson(json.loads(snap.schema_json))
                return empty_frame(spark, schema)
            raise ValueError(f"table {self.name} has no snapshot yet")
        paths = [f["path"] for f in snap.files]
        # Explicit schema from the manifest: skips the per-read parquet
        # footer schema-inference (a driver-side file read per query — adds
        # up at one frontier/seen/transitions read per crawl round).
        schema = T.StructType.fromJson(json.loads(snap.schema_json))
        return spark.read.schema(schema).parquet(*paths)

    def read_partitions(
        self,
        spark: SparkSession,
        partition_by: str,
        values: list,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Partition-pruned read: only files whose manifest partition value is
        in ``values`` (the Iceberg partition-pruning analog — the seen-table
        backstop reads suspect buckets, not the whole table). Files written
        WITHOUT partition info are conservatively always included, so pruning
        can never drop rows a partitioned reader is entitled to see."""
        snap = self.snapshot(snapshot_id)
        if snap is None:
            raise ValueError(f"table {self.name} has no snapshot yet")
        schema = T.StructType.fromJson(json.loads(snap.schema_json))
        wanted = {str(v) for v in values}
        paths = [
            f["path"]
            for f in snap.files
            if f["partition"] is None
            or partition_by not in f["partition"]
            or f["partition"][partition_by] in wanted
        ]
        if not paths:
            return empty_frame(spark, schema)
        return spark.read.schema(schema).parquet(*paths)

    def split_base_delta(
        self, spark: SparkSession
    ) -> tuple[DataFrame, DataFrame | None]:
        """``(base_df, delta_df)``: rows as of the most recent
        overwrite-type snapshot on the current lineage vs rows appended
        since. Lets a latest-wins reader window ONLY the (small) delta and
        anti-join the base instead of shuffling the whole table — the
        Iceberg changelog-read shape. ``delta_df`` is None when nothing was
        appended since the last overwrite. If the lineage walk hits an
        expired manifest, everything degrades to ``(empty, full)`` — the
        caller's window over the full set is always correct, just not
        pruned."""
        cur = self.snapshot()
        if cur is None:
            raise ValueError(f"table {self.name} has no snapshot yet")
        schema = T.StructType.fromJson(json.loads(cur.schema_json))
        snap = cur
        try:
            while snap is not None and snap.operation not in (
                "overwrite", "overwrite_partitions",
            ):
                snap = (
                    self.snapshot(snap.parent_id)
                    if snap.parent_id is not None
                    else None
                )
        except FileNotFoundError:
            snap = None  # expired history: no provable base
        base_paths = {f["path"] for f in snap.files} if snap is not None else set()
        cur_paths = [f["path"] for f in cur.files]
        base_kept = [p for p in cur_paths if p in base_paths]
        delta_paths = [p for p in cur_paths if p not in base_paths]
        base_df = (
            spark.read.schema(schema).parquet(*base_kept)
            if base_kept
            else empty_frame(spark, schema)
        )
        delta_df = (
            spark.read.schema(schema).parquet(*delta_paths) if delta_paths else None
        )
        return base_df, delta_df

    def exists(self) -> bool:
        return self.current_snapshot_id() is not None
