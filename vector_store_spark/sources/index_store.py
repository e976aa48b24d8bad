"""Persisted index storage (SURVEY.md §2.1 S8, §2.10 R4/W4).

A *global* index is one parquet dataset; a *local* index is the same dataset
``partitionBy(partition_key_columns)`` — each distinct partition key gets its
own directory, which is exactly the reference's one-sub-index-per-partition
layout (lib.rs:677-680). The planner's consumed Eq restrictions (R4,
table/mod.rs:1280-1316) then become Catalyst **partition pruning**: the scan
reads only the matching directories (`PartitionFilters` in the plan, zero
rows from other partitions), and partition lifecycle (W4) falls out of the
layout — a partition with no live rows simply has no directory after the
next snapshot write (dynamic partition overwrite drops it).

At 100 TB the same layout statement holds with a higher-cardinality key:
writes bucket by partition key, queries with the key prune to one directory,
global queries scan everything — identical to the reference's global-vs-local
routing outcome matrix.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def fresh_dir(path: str) -> None:
    """Full-(re)build semantics: dynamic partition overwrite only rewrites
    partitions present in the new output, so a prior build's directories the
    new layout doesn't produce (fewer clusters, different buckets) would
    survive and serve stale rows — full builds start from an empty dir."""
    import os
    import shutil

    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)


class HadoopDir:
    """One index directory through the Hadoop FileSystem API (local paths,
    HDFS and S3A alike): listings, small JSON files, deletes and renames.
    Every failure raises — a delete or rename that returns false included —
    so no commit step can fail silently."""

    def __init__(self, spark, path: str):
        self.root = path.rstrip("/")
        self._Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
        self._io = spark.sparkContext._jvm.org.apache.commons.io.IOUtils
        self.fs = self._Path(self.root).getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration())

    def uri(self, *parts: str) -> str:
        return "/".join((self.root,) + parts)

    def _p(self, parts):
        return self._Path(self.uri(*parts))

    def exists(self, *parts: str) -> bool:
        return self.fs.exists(self._p(parts))

    def ls(self, *parts: str) -> list:
        if not self.exists(*parts):
            return []
        return [st.getPath().getName() for st in self.fs.listStatus(self._p(parts))]

    def read_json(self, *parts: str):
        import json

        stream = self.fs.open(self._p(parts))
        try:
            return json.loads(self._io.toString(stream, "UTF-8"))
        finally:
            stream.close()

    def write_json(self, obj, *parts: str) -> None:
        import json

        out = self.fs.create(self._p(parts), True)
        try:
            out.write(bytearray(json.dumps(obj).encode()))
        finally:
            out.close()

    def delete(self, *parts: str) -> None:
        if self.exists(*parts) and not self.fs.delete(self._p(parts), True):
            raise IOError(f"delete failed: {self.uri(*parts)}")

    def _fs_rename(self, src, dst) -> bool:
        return self.fs.rename(src, dst)

    def rename(self, src: tuple, dst: tuple) -> None:
        """Rename ``root/src...`` to ``root/dst...``; raises on false."""
        if not self._fs_rename(self._p(src), self._p(dst)):
            raise IOError(f"rename failed: {self.uri(*src)} -> {self.uri(*dst)}")


def parallel_legs(*legs) -> None:
    """Run independent store-maintenance legs as CONCURRENT Spark jobs
    (thread-per-leg; Spark schedules jobs from multiple threads onto idle
    cores). Callers guarantee the legs touch disjoint directories and read
    only materialized caches / pre-overwrite files. The first failure
    propagates after all legs settle."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(legs)) as ex:
        for f in [ex.submit(leg) for leg in legs]:
            f.result()


def write_local_index(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    overwrite_dynamic: bool = True,
    cluster: bool = True,
) -> None:
    """Materialize a local index: parquet partitioned by the partition-key
    columns. ``overwrite_dynamic`` rewrites only partitions present in ``df``
    (incremental maintenance; W4 partition lifecycle).

    ``cluster`` repartitions by the partition key before the write: without
    it, every input task writes a file into every partition directory it
    touches — N_tasks x N_partitions small files at scale. Clustered, each
    directory gets one file and writes parallelize across distinct keys.
    Disable for skewed keys where a single giant partition would serialize
    the write (pre-repartition with a salt instead)."""
    if cluster:
        df = df.repartition(*[F.col(c) for c in partition_cols])
    writer = df.write.partitionBy(*partition_cols)
    if overwrite_dynamic:
        writer = writer.option("partitionOverwriteMode", "dynamic").mode("overwrite")
    writer.parquet(path)


def write_global_index(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def read_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def prune_report(df: DataFrame) -> dict:
    """Plan introspection used by tests/benchmarks: which filters reached the
    scan as partition filters vs pushed data filters."""
    import io
    import contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    part, pushed = [], []
    for line in plan.splitlines():
        s = line.strip()
        if s.startswith("PartitionFilters:"):
            part.append(s)
        if s.startswith("PushedFilters:"):
            pushed.append(s)
    return {"partition_filters": part, "pushed_filters": pushed, "plan": plan}
