"""Snapshot tables: atomic commits, time travel, partition overwrite, rollback."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gh_crawler_spark.tables import SnapshotTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k INT, bucket INT, v STRING")


def test_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    s0 = t.append(_df(spark, [(1, 0, "a")]))
    s1 = t.append(_df(spark, [(2, 1, "b")]))
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1, 2]
    assert sorted(r["k"] for r in t.read(spark, s0).collect()) == [1]
    assert t.current_snapshot_id() == s1
    hist = t.snapshots()
    assert [s.snapshot_id for s in hist] == [s0, s1]
    assert hist[1].parent_id == s0


def test_overwrite(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    t.append(_df(spark, [(1, 0, "a")]))
    t.overwrite(_df(spark, [(9, 0, "z")]))
    assert [r["k"] for r in t.read(spark).collect()] == [9]


def test_partition_overwrite_touches_only_changed_buckets(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    t.overwrite_partitions(
        _df(spark, [(1, 0, "a"), (2, 1, "b"), (3, 2, "c")]), "bucket", replace_all=True
    )
    # rewrite bucket 1 only
    t.overwrite_partitions(_df(spark, [(20, 1, "B")]), "bucket")
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a", 20: "B", 3: "c"}


def test_partition_overwrite_rejects_unpartitioned_base(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    t.append(_df(spark, [(1, 0, "a")]))
    with pytest.raises(ValueError, match="stale"):
        t.overwrite_partitions(_df(spark, [(2, 0, "b")]), "bucket")


def test_partitioned_append_and_pruned_read(spark, tmp_path):
    """The seen-table backstop contract: read_partitions over a
    bucket-partitioned append stream reads a strict subset of the files."""
    t = SnapshotTable(str(tmp_path), "t")
    t.append(_df(spark, [(1, 0, "a"), (2, 1, "b")]), partition_by="bucket")
    t.append(_df(spark, [(3, 0, "c"), (4, 2, "d")]), partition_by="bucket")
    full = t.read(spark)
    assert sorted(r["k"] for r in full.collect()) == [1, 2, 3, 4]
    pruned = t.read_partitions(spark, "bucket", [0])
    assert sorted(r["k"] for r in pruned.collect()) == [1, 3]
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # bucket column survives inside the data files (partition value = data)
    assert {r["bucket"] for r in pruned.collect()} == {0}
    # no matching bucket -> empty with schema, zero files
    empty = t.read_partitions(spark, "bucket", [9])
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["k", "bucket", "v"]


def test_read_partitions_keeps_unpartitioned_files(spark, tmp_path):
    """Files appended WITHOUT partition info are conservatively included —
    pruning must never drop rows it can't prove are out of scope."""
    t = SnapshotTable(str(tmp_path), "t")
    t.append(_df(spark, [(1, 5, "x")]))  # unpartitioned append
    t.append(_df(spark, [(2, 0, "y")]), partition_by="bucket")
    pruned = t.read_partitions(spark, "bucket", [0])
    assert sorted(r["k"] for r in pruned.collect()) == [1, 2]


def test_rollback(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    s0 = t.append(_df(spark, [(1, 0, "a")]))
    t.append(_df(spark, [(2, 1, "b")]))
    t.rollback(s0)
    assert [r["k"] for r in t.read(spark).collect()] == [1]
    # committing after rollback continues the lineage
    s2 = t.append(_df(spark, [(3, 2, "c")]))
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1, 3]
    assert s2 > s0


def test_expire_snapshots(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    for i in range(6):
        t.append(_df(spark, [(i, 0, "v")]))
    assert len(t.snapshots()) == 6
    deleted = t.expire_snapshots(keep_last=2)
    remaining = t.snapshots()
    assert len(remaining) == 2
    # current snapshot still reads the full accumulated data
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(range(6))
    # nothing the survivors reference was deleted; earlier superseded
    # manifests are gone
    assert deleted == 0  # append-only: all files still referenced by newest


def test_expire_snapshots_deletes_orphaned_files(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    t.overwrite(_df(spark, [(1, 0, "a")]))
    t.overwrite(_df(spark, [(2, 0, "b")]))  # makes snapshot-0 files orphan
    t.overwrite(_df(spark, [(3, 0, "c")]))
    deleted = t.expire_snapshots(keep_last=1)
    assert deleted > 0
    assert [r["k"] for r in t.read(spark).collect()] == [3]


def test_stats_surface(spark, tmp_path):
    """A9: manifest-only table stats (no Spark job)."""
    t = SnapshotTable(str(tmp_path), "t")
    t.append(_df(spark, [(1, 0, "a"), (2, 1, "b")]), partition_by="bucket")
    t.append(_df(spark, [(3, 0, "c")]), partition_by="bucket")
    s = t.stats()
    assert s["table"] == "t" and s["n_snapshots"] == 2
    assert s["n_files"] >= 3 and s["n_bytes"] > 0
    assert s["n_partitions"] == 2  # bucket=0 and bucket=1
    assert s["operation"] == "append"


def test_empty_read_keeps_schema(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    t.overwrite(spark.createDataFrame([], "k INT, v STRING"))
    df = t.read(spark)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "v"]


def test_empty_reads_start_no_python_tasks(spark, tmp_path):
    """An empty snapshot reads as a typed frame with no Python partitions:
    every round reads such tables (transitions after init or compact, seen
    before the first fetch), and a PythonRDD there costs a Python-worker
    task per partition in each job that reads it."""
    ddl = "url_hash BIGINT, bucket INT, crawl_ts TIMESTAMP"
    t = SnapshotTable(str(tmp_path), "seen")
    t.init_empty(ddl)
    frames = [
        t.read(spark),
        t.read_partitions(spark, "bucket", [0, 1]),
        t.split_base_delta(spark)[0],
    ]
    for df in frames:
        assert df.schema == T.StructType.fromDDL(ddl)
        assert df.count() == 0
        assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()


def test_compact_small_files_binpacks_hot_partitions(spark, tmp_path):
    """rewrite_data_files analog: only partitions over the file threshold
    are rewritten (to one file each); cold partitions keep their files and
    no row is lost or duplicated."""
    t = SnapshotTable(str(tmp_path), "seenish")
    # bucket 0: 6 small appends; bucket 1: 2 appends (stays under threshold)
    for i in range(6):
        rows = [(100 + i, 0)] + ([(200 + i, 1)] if i < 2 else [])
        t.append(
            spark.createDataFrame(rows, "url_hash BIGINT, bucket INT"),
            partition_by="bucket",
        )
    before = t.snapshot().files
    n_files = lambda files, b: sum(
        1 for f in files if f["partition"] and f["partition"]["bucket"] == str(b)
    )
    assert n_files(before, 0) == 6 and n_files(before, 1) == 2
    rewritten = t.compact_small_files(spark, "bucket", max_files_per_partition=4)
    assert rewritten == ["0"]
    after = t.snapshot().files
    assert n_files(after, 0) == 1          # bin-packed
    assert n_files(after, 1) == 2          # untouched (cold)
    got = {(r["url_hash"], r["bucket"]) for r in t.read(spark).collect()}
    want = {(100 + i, 0) for i in range(6)} | {(200 + i, 1) for i in range(2)}
    assert got == want
    # idempotent: nothing left over the threshold
    assert t.compact_small_files(spark, "bucket", max_files_per_partition=4) == []


def test_split_base_delta(spark, tmp_path):
    """Changelog-read shape: base = files as of the last overwrite-type
    snapshot, delta = appends since; appends-only readers can window just
    the delta."""
    t = SnapshotTable(str(tmp_path), "hostish")
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "id BIGINT, v STRING"))
    base, delta = t.split_base_delta(spark)
    assert delta is None and base.count() == 2
    t.append(spark.createDataFrame([(3, "c")], "id BIGINT, v STRING"))
    t.append(spark.createDataFrame([(1, "a2")], "id BIGINT, v STRING"))
    base, delta = t.split_base_delta(spark)
    assert base.count() == 2 and delta.count() == 2
    assert {r["v"] for r in delta.collect()} == {"c", "a2"}
    # a new overwrite resets the base
    t.overwrite(spark.createDataFrame([(9, "z")], "id BIGINT, v STRING"))
    base, delta = t.split_base_delta(spark)
    assert delta is None and {r["v"] for r in base.collect()} == {"z"}
