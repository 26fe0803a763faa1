"""Remote-filesystem metadata path: SnapshotTable over a ``file://`` URI.

A URI root routes every metadata operation (manifest read/write, ``_current``
pointer flip, commit-time inventory listing) through the JVM's Hadoop
FileSystem — the same code path an ``hdfs://`` or ``s3a://`` table takes
(HdfsStorage.java:40-104 is the reference's native habitat). ``file://`` is
the one Hadoop scheme available in this sandbox, so these tests exercise the
real HadoopFS branch end-to-end, not a mock.
"""

from pyspark.sql import functions as F

from binlog_processer_spark.storage import fs as fsmod
from binlog_processer_spark.storage.table import SnapshotTable


def test_uri_path_algebra():
    assert fsmod.is_uri("hdfs://nn:8020/warehouse")
    assert fsmod.is_uri("file:///tmp/x")
    assert not fsmod.is_uri("/tmp/x")
    assert (
        fsmod.join("hdfs://nn/warehouse/", "snap-0", "manifest.json")
        == "hdfs://nn/warehouse/snap-0/manifest.json"
    )
    assert (
        fsmod.rel_to("hdfs://nn/w/snap-0/data/a.parquet", "hdfs://nn/w")
        == "snap-0/data/a.parquet"
    )


def test_snapshot_table_over_file_uri(spark, tmp_path):
    root = f"file://{tmp_path}/uri_tbl"
    t = SnapshotTable(root)
    df1 = spark.range(5).withColumn("v", F.lit("a"))
    s0 = t.write(df1)
    assert t.read(spark).count() == 5
    # manifest inventory recorded and resolvable (absolute URIs)
    files = t.data_files()
    assert files and all(f.startswith("file://") for f in files)

    df2 = spark.range(3).withColumn("v", F.lit("b"))
    s1 = t.write(df2, mode="append")
    assert t.read(spark).count() == 8
    assert t.read(spark, snapshot=s0).count() == 5  # time travel

    t.rollback(s0)
    assert t.read(spark).count() == 5
    t.rollback(s1)

    # metadata-only exclusion via manifest diff
    drop = [files[0]]
    t.exclude_files(drop)
    assert len(t.data_files()) == len(t._files_rel(t._manifest(s1))) - 1


def test_file_scoped_rewrite_over_file_uri(spark, tmp_path):
    root = f"file://{tmp_path}/uri_rw"
    t = SnapshotTable(root)
    df = spark.range(10).withColumn("k", (F.col("id") % 2).cast("int"))
    t.write(df.repartition(2, "k"))
    victim = t.data_files()[0]
    victim_rows = t.read_files(spark, [victim])
    had_zero = victim_rows.filter(F.col("id") == 0).count()
    survivors = victim_rows.filter(F.col("id") != 0)
    t.rewrite_files([victim], survivors)
    assert t.read(spark).count() == 10 - had_zero
    assert victim not in t.data_files()


def test_maintenance_over_file_uri(spark, tmp_path):
    """Compaction + incremental scan + expiry through the HadoopFS branch:
    list_sizes (commit-time size record), list_dirs, delete_file and
    delete_dir all cross the py4j bridge for a URI-rooted table."""
    from binlog_processer_spark.operators.compact import compact

    root = f"file://{tmp_path}/uri_maint"
    t = SnapshotTable(root)
    for i in range(3):
        df = spark.range(i * 10, i * 10 + 10).select(
            "id", (F.col("id") % 2).cast("string").alias("k")
        ).coalesce(1)
        t.write(df, partition_by=["k"],
                mode="overwrite" if i == 0 else "append")
    # sizes recorded through HadoopFS.list_sizes at each commit
    sizes = t.file_sizes()
    assert len(sizes) == 6 and all(v > 0 for v in sizes.values())

    delta = t.read_incremental(spark, since=1)
    assert sorted(r.id for r in delta.collect()) == list(range(20, 30))

    res = compact(spark, t)
    assert res.files_removed == 6
    assert sorted(r.id for r in t.read(spark).collect()) == list(range(30))

    exp = t.expire_snapshots(keep_last=1)
    assert exp["files_deleted"] == 6 and exp["bytes_freed"] > 0
    assert len(exp["snapshots_removed"]) == 3
    assert sorted(r.id for r in t.read(spark).collect()) == list(range(30))


def test_commit_lock_acquire_stale_break_release(tmp_path):
    import json
    import os
    import time

    import pytest

    from binlog_processer_spark.storage import fs as fsmod

    f = fsmod.LocalFS()
    lock = str(tmp_path / "_commit.lock")

    # plain acquire/release, including release on exception
    with fsmod.commit_lock(f, lock):
        assert os.path.exists(lock)
    assert not os.path.exists(lock)
    with pytest.raises(RuntimeError, match="boom"):
        with fsmod.commit_lock(f, lock):
            raise RuntimeError("boom")
    assert not os.path.exists(lock)

    # a live foreign lock blocks
    with open(lock, "w") as fh:
        json.dump({"ts": time.time(), "pid": 0}, fh)
    with pytest.raises(fsmod.LockHeld):
        with fsmod.commit_lock(f, lock):
            pass
    os.remove(lock)

    # a stale lock is broken via rename (no .broken residue) and acquired
    with open(lock, "w") as fh:
        json.dump({"ts": time.time() - 3600, "pid": 0}, fh)
    with fsmod.commit_lock(f, lock, ttl_s=60):
        held = json.load(open(lock))
        assert held["pid"] == os.getpid()  # ours now
    assert not os.path.exists(lock)
    assert not [p for p in os.listdir(tmp_path) if ".broken-" in p]


def test_commit_lock_refuses_ttl_break_on_copy_delete_rename(tmp_path):
    """On a store whose rename is copy+delete (S3A-style), two writers
    racing a stale-lock break can both 'win' — so commit_lock must refuse
    the automatic TTL break and raise LockHeld instead."""
    import json
    import os
    import shutil
    import time

    import pytest

    from binlog_processer_spark.storage import fs as fsmod

    class CopyDeleteFS(fsmod.LocalFS):
        """LocalFS with an object-store rename: copy then delete. Both of
        two racing breakers' renames 'succeed' (copy overwrites, delete
        is idempotent) — the double-commit hazard."""
        rename_is_atomic = False

        def rename(self, src, dst):
            try:
                shutil.copyfile(src, dst)
                os.remove(src)
                return True
            except FileNotFoundError:
                return False

    f = CopyDeleteFS()
    lock = str(tmp_path / "_commit.lock")

    # sanity: the emulated rename really is non-atomic — a second breaker
    # whose copy raced the first's delete would also report success, which
    # is exactly why the TTL break below must be refused
    with open(lock, "w") as fh:
        json.dump({"ts": time.time() - 3600, "pid": 0}, fh)

    with pytest.raises(fsmod.LockHeld, match="copy"):
        with fsmod.commit_lock(f, lock, ttl_s=60):
            pass
    assert os.path.exists(lock)  # the stale lock was NOT broken

    # uncontended acquire still works on such stores (create_exclusive
    # needs no rename), and a live lock still blocks
    os.remove(lock)
    with fsmod.commit_lock(f, lock):
        assert os.path.exists(lock)
    assert not os.path.exists(lock)


def test_write_small_over_file_uri_takes_spark_write(spark, tmp_path):
    """write_small commits driver-held Arrow rows on a URI root through the
    Spark write (pyarrow has no Hadoop filesystem) and reads back equal."""
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string("k string, n bigint, d date")
    df = spark.createDataFrame(
        [("a", 1, None), ("b", None, None)], schema
    ).withColumn("d", F.to_date(F.lit("2024-01-05")))
    t = SnapshotTable(f"file://{tmp_path}/uri_small")
    t.write_small(spark, df.toArrow(), df.schema)
    assert sorted(map(tuple, t.read(spark).collect())) == sorted(
        map(tuple, df.collect())
    )
