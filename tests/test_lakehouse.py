"""VersionedTable: snapshot writes, committed-only reads, time travel,
orphan (uncommitted) snapshot skipping, and vacuum retention."""

import pytest
from pyspark.sql import functions as F

from renkodf_spark.sources.lakehouse import VersionedTable


def test_versioned_write_read_time_travel(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    assert t.versions() == []
    assert t.latest_version() is None

    v0 = t.write(spark.range(3).withColumn("tag", F.lit("first")))
    v1 = t.write(spark.range(5).withColumn("tag", F.lit("second")))
    assert (v0, v1) == (0, 1)
    assert t.versions() == [0, 1]

    assert t.read().count() == 5  # latest
    assert t.read(version=0).count() == 3  # time travel
    assert {r["tag"] for r in t.read(version=0).collect()} == {"first"}


def test_versioned_read_missing(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "none"))
    with pytest.raises(FileNotFoundError):
        t.read()
    t.write(spark.range(1))
    with pytest.raises(FileNotFoundError):
        t.read(version=7)


def test_uncommitted_snapshot_is_invisible(spark, tmp_path):
    root = tmp_path / "tbl"
    t = VersionedTable(spark, str(root))
    t.write(spark.range(4))
    # simulate a crashed v=1 write: directory exists, no _SUCCESS
    orphan = root / "v=1"
    orphan.mkdir(parents=True)
    (orphan / "part-00000.parquet").write_bytes(b"torn")
    assert t.versions() == [0]
    assert t.read().count() == 4
    # the next write skips past the orphan instead of colliding
    assert t.write(spark.range(2)) == 2
    assert t.read().count() == 2


def test_partitioned_snapshot_prunes(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    df = spark.range(100).withColumn("bucket", (F.col("id") % 4).cast("int"))
    t.write(df, partition_by=["bucket"])
    got = t.read().filter(F.col("bucket") == 2)
    assert got.count() == 25
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan  # partition filter reached the scan


def test_vacuum_retention(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    for i in range(4):
        t.write(spark.range(i + 1))
    assert t.vacuum(keep_last=2) == [0, 1]
    assert t.versions() == [2, 3]
    assert t.read(version=3).count() == 4
    with pytest.raises(FileNotFoundError):
        t.read(version=0)


def test_vacuum_removes_old_orphans_keeps_fresh(spark, tmp_path):
    """ADVICE r2: crashed-write orphans older than the oldest kept
    committed version must be vacuumed (else they accumulate forever and
    inflate version allocation); orphans newer than it — potentially a
    write in flight — must survive."""
    root = tmp_path / "tbl"
    t = VersionedTable(spark, str(root))
    for i in range(4):
        t.write(spark.range(i + 1))  # committed v=0..3
    # old orphan between committed versions (crashed write, no _SUCCESS)
    old_orphan = root / "v=1"
    spark_files = list(old_orphan.iterdir())
    assert spark_files  # v=1 is committed; turn it into an orphan
    (old_orphan / "_SUCCESS").unlink()
    # fresh orphan past the newest committed version (write in flight)
    fresh = root / "v=9"
    fresh.mkdir()
    (fresh / "part-00000.parquet").write_bytes(b"torn")

    assert t.versions() == [0, 2, 3]
    assert t.vacuum(keep_last=2) == [0, 1]
    assert t.versions() == [2, 3]
    assert not old_orphan.exists()
    assert fresh.exists()
    # version allocation no longer sees the vacuumed orphan but still
    # skips past the fresh one
    assert t.write(spark.range(1)) == 10


def test_vacuum_reclaims_orphans_with_no_committed_versions(spark, tmp_path):
    """ADVICE r3: when every write crashed (zero committed versions) —
    the exact scenario where orphans otherwise accumulate forever —
    vacuum removes all orphans except the highest-numbered one (the
    only candidate in-flight write)."""
    root = tmp_path / "tbl"
    root.mkdir()
    for v in (0, 1, 2, 5):
        d = root / f"v={v}"
        d.mkdir()
        (d / "part-00000.parquet").write_bytes(b"torn")
    t = VersionedTable(spark, str(root))
    assert t.versions() == []
    assert t.vacuum(keep_last=2) == [0, 1, 2]
    assert not (root / "v=0").exists() and (root / "v=5").exists()
    # and with fewer committed versions than keep_last, orphans older
    # than the oldest committed version still die
    t.write(spark.range(3))  # committed v=6
    stale = root / "v=5"
    assert stale.exists()
    assert t.vacuum(keep_last=3) == [5]
    assert t.versions() == [6]
