"""Iceberg adapter seam (sources/iceberg.py).

Two tiers:
- Always-run: the factory falls back to the file-backed TableStore in
  this jar-less sandbox, and the two backends expose the same contract
  surface (method-for-method), so swapping is config-only.
- Skipped-unless-available: the full Iceberg read/write/partition-
  overwrite/time-travel path, exercised whenever a runtime jar IS on the
  classpath (e.g. the production cluster's CI).
"""

from __future__ import annotations

import inspect

import pytest

from mintpy_spark.sources.iceberg import (
    IcebergTableStore,
    catalog_configured,
    iceberg_available,
    open_table_store,
)
from mintpy_spark.sources.tables import TableStore


def test_factory_falls_back_to_parquet_store(spark, tmp_path):
    store = open_table_store(spark, str(tmp_path / "warehouse"))
    assert isinstance(store, TableStore), (
        "no Iceberg jar in the sandbox -> factory must return the "
        "file-backed store"
    )


def test_contract_parity_between_backends():
    """Every TableStore method the pipelines call must exist on the
    Iceberg twin with compatible (table, col) parameters, so callers
    never branch on backend type."""
    for name in ("exists", "partitions", "write_partitions", "read", "drop"):
        file_fn = getattr(TableStore, name)
        ice_fn = getattr(IcebergTableStore, name)
        file_params = [p for p in inspect.signature(file_fn).parameters if p != "self"]
        ice_params = [p for p in inspect.signature(ice_fn).parameters if p != "self"]
        assert file_params == ice_params, (
            f"{name}: file-backed {file_params} vs iceberg {ice_params}"
        )


def test_detection_is_honest(spark):
    assert iceberg_available(spark) is False
    assert catalog_configured(spark) is False
    with pytest.raises(RuntimeError, match="jar"):
        IcebergTableStore(spark)


@pytest.fixture
def iceberg_spark():
    """A session with an Iceberg hadoop catalog — only constructible when
    the runtime jar is on the classpath."""
    import tempfile

    from pyspark.sql import SparkSession

    probe = SparkSession.getActiveSession()
    if probe is None or not iceberg_available(probe):
        pytest.skip("Iceberg runtime jar not on the classpath")
    wh = tempfile.mkdtemp(prefix="iceberg_wh_")
    spark = (
        SparkSession.builder.config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
        .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.local.type", "hadoop")
        .config("spark.sql.catalog.local.warehouse", wh)
        .getOrCreate()
    )
    yield spark


def test_iceberg_roundtrip(iceberg_spark):
    """Full contract over a real Iceberg table: create, dynamic partition
    overwrite, partition listing, snapshot time travel."""
    import pyspark.sql.functions as F

    spark = iceberg_spark
    store = IcebergTableStore(spark)
    store.drop("seam_check")

    df1 = spark.range(6).select(
        (F.col("id") % 3).alias("part_id"), F.col("id").alias("v")
    )
    written = store.write_partitions(df1, "seam_check", [0, 1, 2])
    assert written == {0: 2, 1: 2, 2: 2}
    assert store.partitions("seam_check") == [0, 1, 2]
    v1 = store.latest("seam_check")

    # overwrite ONLY part 1; parts 0/2 must survive
    df2 = spark.createDataFrame([(1, 100)], "part_id int, v long")
    store.write_partitions(df2, "seam_check", [1])
    cur = {r["v"] for r in store.read(spark, "seam_check").collect()}
    assert 100 in cur and 0 in cur and 2 in cur and 1 not in cur

    # time travel back to the first snapshot
    old = {r["v"] for r in store.read_version(spark, "seam_check", v1).collect()}
    assert old == {0, 1, 2, 3, 4, 5}
    store.drop("seam_check")
