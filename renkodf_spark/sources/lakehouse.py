"""Lakehouse-style table management without a table-format engine.

`VersionedTable` is a dependency-free snapshot layer over plain
parquet: every write lands in a new ``v=N`` directory and readers
resolve the latest *committed* version (Spark's ``_SUCCESS`` marker),
so concurrent readers never observe a half-written snapshot and old
versions remain queryable (time travel). This is the subset of
Delta/Iceberg semantics a single-writer pipeline needs — checkpoint
outputs, reproducible training-data snapshots — implemented with the
Hadoop FileSystem API (:func:`hadoop_fs`), so it works unchanged on
HDFS/S3A paths on a real cluster. Explicit non-goals (use a real table
format for these): multi-writer commit arbitration, row-level deletes,
schema evolution tracking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """``(fs, Path)``: the Hadoop FileSystem holding ``path`` and the JVM
    ``Path`` class. The one place a FileSystem handle is built, so every
    list, rename and delete works on any scheme (local, HDFS, S3A)."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return Path(path).getFileSystem(spark._jsc.hadoopConfiguration()), Path


class VersionedTable:
    """Snapshot-versioned parquet table rooted at ``path``.

    Layout: ``{path}/v={N}/part-*.parquet`` (+ Spark's ``_SUCCESS``).
    A version is *committed* iff its ``_SUCCESS`` marker exists; readers
    resolve ``latest_version()`` over committed versions only.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    # ------------------------------------------------------------ catalog

    def _version_dirs(self, committed_only: bool) -> list[int]:
        fs, Path = hadoop_fs(self.spark, self.path)
        root = Path(self.path)
        if not fs.exists(root):
            return []
        out = []
        for status in fs.listStatus(root):
            name = status.getPath().getName()
            if status.isDirectory() and name.startswith("v="):
                try:
                    n = int(name[2:])
                except ValueError:
                    continue
                marker = Path(status.getPath(), "_SUCCESS")
                if not committed_only or fs.exists(marker):
                    out.append(n)
        return sorted(out)

    def versions(self) -> list[int]:
        """Committed version numbers, ascending."""
        return self._version_dirs(committed_only=True)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _version_path(self, version: int) -> str:
        return f"{self.path}/v={version}"

    # ------------------------------------------------------------ write

    def write(
        self,
        df: DataFrame,
        *,
        partition_by: list[str] | None = None,
        max_records_per_file: int | None = None,
    ) -> int:
        """Write ``df`` as the next snapshot; returns the new version.

        The snapshot only becomes visible once Spark's output commit
        finishes (``_SUCCESS``), so a crashed write leaves an orphan
        directory that readers skip — never a torn table. Single-writer
        protocol: two concurrent writers could race for the same N
        (a real table format's commit log is the fix at that point).

        Version allocation looks at ALL ``v=N`` dirs (committed or not)
        so a crashed write's orphan never collides with the next one."""
        existing = self._version_dirs(committed_only=False)
        version = 0 if not existing else existing[-1] + 1
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.parquet(self._version_path(version))
        return version

    # ------------------------------------------------------------ read

    def read(self, version: int | None = None) -> DataFrame:
        """Latest committed snapshot, or time-travel to ``version``."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no committed versions under {self.path}")
        elif version not in self.versions():
            raise FileNotFoundError(
                f"version {version} is not committed under {self.path} "
                f"(have: {self.versions()})"
            )
        return self.spark.read.parquet(self._version_path(version))

    # ------------------------------------------------------------ retention

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop all but the last ``keep_last`` committed snapshots, plus
        uncommitted orphan dirs (crashed writes: ``v=N`` without
        ``_SUCCESS``) — so orphans can't accumulate forever or inflate
        version allocation. Orphan policy (ADVICE r3: the previous rule
        skipped cleanup entirely until keep_last committed versions
        existed — exactly the every-write-crashes scenario it was meant
        to fix):

        - with any committed versions: orphans older than the OLDEST
          KEPT committed version are removed (newer ones are kept — one
          could be a write in flight);
        - with NO committed versions: all orphans except the
          highest-numbered one are removed (the newest is the only
          candidate in-flight write; everything below it is a dead
          crashed write).

        Returns the versions removed."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = self.versions()
        doomed = set(vs[:-keep_last])
        committed = set(vs)
        orphans = [v for v in self._version_dirs(committed_only=False) if v not in committed]
        if vs:
            oldest_kept = vs[-keep_last] if len(vs) >= keep_last else vs[0]
            doomed.update(v for v in orphans if v < oldest_kept)
        elif orphans:
            doomed.update(orphans[:-1])
        fs, Path = hadoop_fs(self.spark, self.path)
        for v in sorted(doomed):
            fs.delete(Path(self._version_path(v)), True)
        return sorted(doomed)

