"""Partitioned-table store with partition-level overwrite.

The production design is Iceberg (`df.writeTo(t).overwritePartitions()`,
snapshot ids as input fingerprints — SURVEY.md §1.3). The sandbox has no
Iceberg runtime jar, so this wrapper exposes the same narrow API over
hive-partitioned Parquet directories; swapping the backend touches only
this module.

Write protocol (crash-safe, mirrors the reference's partial-write detection
ifgram_inversion.py:48-55): each partition directory is written to a temp
dir then atomically renamed into place; a partition is visible iff its
rename completed, so re-runs see exactly the completed partition set.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TableStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self.path(table)) and bool(self.partitions(table))

    def partitions(self, table: str, col: str = "part_id") -> list[int]:
        """Visible (completed) partition ids."""
        p = self.path(table)
        if not os.path.isdir(p):
            return []
        out = []
        for d in os.listdir(p):
            if d.startswith(f"{col}="):
                out.append(int(d.split("=", 1)[1]))
        return sorted(out)

    def write_partitions(
        self, df: DataFrame, table: str, col: str = "part_id"
    ) -> dict[int, int]:
        """Write df (must contain ``col``) as one directory per partition,
        atomically per partition. Returns {partition id: rows written},
        summed from the Parquet footers of the staged files, so counting
        what was written costs no Spark job."""
        tmp = os.path.join(self.root, f"_tmp_{table.replace('/', '_')}_{uuid.uuid4().hex[:8]}")
        try:
            df.write.mode("overwrite").partitionBy(col).parquet(tmp)
            dest = self.path(table)
            os.makedirs(dest, exist_ok=True)
            written = {}
            for d in sorted(os.listdir(tmp)):
                if not d.startswith(f"{col}="):
                    continue
                staged = os.path.join(tmp, d)
                rows = sum(
                    pq.ParquetFile(os.path.join(staged, f)).metadata.num_rows
                    for f in os.listdir(staged)
                    if f.endswith(".parquet") and not f.startswith(("_", "."))
                )
                target = os.path.join(dest, d)
                if os.path.isdir(target):
                    shutil.rmtree(target)  # partition overwrite
                os.rename(staged, target)
                written[int(d.split("=", 1)[1])] = rows
        finally:
            # a failed write leaves no staging directory behind
            shutil.rmtree(tmp, ignore_errors=True)
        return dict(sorted(written.items()))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.option("basePath", self.path(table)).parquet(
            self.path(table)
        )

    def drop(self, table: str) -> None:
        shutil.rmtree(self.path(table), ignore_errors=True)


def input_fingerprint(path: str) -> str:
    """Snapshot fingerprint of a parquet directory: md5 over the sorted
    (relative-path, size) listing of data files — the parquet-fallback
    analog of an Iceberg snapshot id (SURVEY.md §1.3). Any added, removed,
    or rewritten data file changes it; the checkpointed pipeline combines
    it with the config fingerprint so grown/changed inputs invalidate
    completed partitions exactly like the reference's mtime + config-attr
    comparison (utils/utils1.py:691-746)."""
    import hashlib

    h = hashlib.md5()
    for dirpath, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, path)
            h.update(f"{rel}:{os.path.getsize(full)};".encode())
    return h.hexdigest()[:16]


def with_part_id(df: DataFrame, key: str = "url", buckets: int = 32) -> DataFrame:
    """Stable key-hash bucketing column — the engine's explicit partitioning
    (salted-hash analog of the reference's split2boxes, stack.py:1073-1109).
    Deterministic across runs and parallelism levels."""
    return df.withColumn("part_id", F.pmod(F.xxhash64(F.col(key)), F.lit(buckets)))
