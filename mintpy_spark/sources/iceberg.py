"""Iceberg-backed TableStore twin — the production storage layer.

The north rule names Iceberg as the table format for the 10^12-document
corpus. The sandbox has no Iceberg runtime jar, so the engine ships a
file-backed stand-in (tables.py: immutable data files committed by one
atomic manifest rename, reads planned from the manifest, time travel over
the retained versions, expiry). This module is the REAL adapter behind the
same narrow contract, so the swap is configuration, not code:

    store = open_table_store(spark, root)   # Iceberg iff the jar is on
                                            # the classpath, else parquet

Cluster config (spark-submit / spark-defaults), no code change:

    --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
    --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
    --conf spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog
    --conf spark.sql.catalog.local.type=hadoop
    --conf spark.sql.catalog.local.warehouse=<warehouse-path>

Contract parity (asserted by tests/test_iceberg_seam.py, which runs the
full read/write/time-travel path whenever a jar IS present and skips
otherwise):

    write_partitions  <- df.writeTo(t).overwrite(col IN parts)   (one
                         snapshot commit, as tables.py's manifest)
    partitions        <- SELECT partition.{col} FROM t.partitions
    read              <- spark.table(t)
    rows              <- SELECT sum(record_count) FROM t.files
    versions(table)   <- SELECT snapshot_id FROM t.snapshots
    read_version      <- spark.read.option('snapshot-id', v)   (time travel)
    expire(table)     <- CALL system.expire_snapshots   (keeps KEEP_VERSIONS)

The snapshot calls differ from tables.py's by design: an Iceberg snapshot
is per table, so ``versions``, ``latest`` and ``expire`` take the table,
while the file-backed store versions all its tables together
(``versions()``, ``latest()``, ``expire()``). Only the narrow
contract above the snapshot calls (``write_partitions``, ``partitions``,
``read``, ``rows``, ``exists``, ``drop``) is backend-neutral; that is what
``run_pipeline`` and ``run_export`` use.

Crash safety is the table format's: every write below is one snapshot
commit, atomic and serializable, so a reader sees the snapshot before a
killed write or the one after it.

Reference analog: MintPy keeps its stack in writable HDF5 with dataset-
level overwrite (writefile.py:late layout_hdf5 / ifgram_inversion.py:48-55
partial-write detection); Iceberg snapshots give the same resume-safe
visibility rule — a partition is visible iff its commit completed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mintpy_spark.sources.tables import KEEP_VERSIONS, TableStore


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on this session's classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def catalog_configured(spark: SparkSession, catalog: str = "local") -> bool:
    """True iff ``catalog`` is wired to an Iceberg SparkCatalog."""
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}")
    except Exception:
        return False
    return impl is not None and "iceberg" in impl.lower()


class IcebergTableStore:
    """Same narrow surface as tables.TableStore over a configured Iceberg
    catalog. All operations are table-format commits — atomic,
    serializable, resume-safe by construction."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: str = "local",
        namespace: str = "mintpy",
    ):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime jar not on the classpath; use "
                "open_table_store() for automatic parquet fallback"
            )
        if not catalog_configured(spark, catalog):
            raise RuntimeError(
                f"spark.sql.catalog.{catalog} is not an Iceberg catalog; "
                "see module docstring for the spark-submit conf lines"
            )
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    # -- naming -----------------------------------------------------------
    def qualified(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table.replace('/', '_')}"

    # -- TableStore contract ---------------------------------------------
    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self.qualified(table))

    def partitions(self, table: str, col: str = "part_id") -> list[int]:
        if not self.exists(table):
            return []
        rows = self.spark.sql(
            f"SELECT DISTINCT partition.{col} AS p FROM {self.qualified(table)}.partitions"
        ).collect()
        return sorted(int(r["p"]) for r in rows if r["p"] is not None)

    def write_partitions(
        self, df: DataFrame, table: str, parts, col: str = "part_id"
    ) -> dict[int, int]:
        """Overwrite the partitions ``parts`` with ``df``'s rows in ONE
        snapshot commit; other partitions untouched — tables.py's manifest
        commit semantics. It is an overwrite by filter, ``col IN parts``:
        the commit deletes every row of those partitions and adds
        ``df``'s, so a listed partition ``df`` holds no row of is dropped
        (a dynamic overwrite would leave it). Returns {partition id: rows
        written}, read from the record counts of the data files that
        commit added (tables.py reads the same counts from its staged
        files' footers), so ``df`` is not recomputed."""
        q = self.qualified(table)
        if not self.exists(table):
            df.writeTo(q).partitionedBy(F.col(col)).create()
        else:
            df.writeTo(q).overwrite(F.col(col).isin([int(p) for p in parts]))
        rows = self.spark.sql(
            f"SELECT data_file.partition.{col} AS p, "
            "sum(data_file.record_count) AS n "
            f"FROM {q}.entries WHERE status = 1 "
            f"AND snapshot_id = {self.latest(table)} GROUP BY 1"
        ).collect()
        return {int(r["p"]): int(r["n"]) for r in sorted(rows, key=lambda r: r["p"])}

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.table(self.qualified(table))

    def drop(self, table: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self.qualified(table)}")

    def rows(self, table: str) -> int:
        """Committed rows, from the data files' record counts."""
        if not self.exists(table):
            return 0
        n = self.spark.sql(
            f"SELECT sum(record_count) AS n FROM {self.qualified(table)}.files"
        ).first()["n"]
        return int(n or 0)

    # -- snapshots (time travel / retention) ----------------------------
    def versions(self, table: str) -> list[int]:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.qualified(table)}.snapshots "
            "ORDER BY committed_at"
        ).collect()
        return [int(r["snapshot_id"]) for r in rows]

    def latest(self, table: str) -> int | None:
        v = self.versions(table)
        return v[-1] if v else None

    def read_version(self, spark: SparkSession, table: str, version: int) -> DataFrame:
        return (
            spark.read.format("iceberg")
            .option("snapshot-id", version)
            .load(self.qualified(table))
        )

    def expire(self, table: str) -> None:
        versions = self.versions(table)
        if len(versions) <= KEEP_VERSIONS:
            return
        self.spark.sql(
            f"CALL {self.catalog}.system.expire_snapshots"
            f"(table => '{self.namespace}.{table}', "
            f"retain_last => {KEEP_VERSIONS})"
        )


def open_table_store(
    spark: SparkSession,
    root: str,
    catalog: str = "local",
    namespace: str = "mintpy",
):
    """Factory: IcebergTableStore when the runtime jar + catalog config are
    present, else the file-backed TableStore rooted at ``root``. Callers
    depend only on the shared contract, so this is the ONLY site that
    knows which backend is live.

    The Iceberg store ignores ``root``: its tables live in ``namespace`` of
    the catalog, shared by every root. Two pipelines with different roots
    (and so different ``<root>/_checkpoint`` lineage) must pass different
    namespaces, or they overwrite each other's tables while each resumes
    from its own checkpoint."""
    if iceberg_available(spark) and catalog_configured(spark, catalog):
        return IcebergTableStore(spark, catalog=catalog, namespace=namespace)
    return TableStore(root)
