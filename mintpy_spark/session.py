"""SparkSession factory with scale-oriented defaults.

The reference hand-rolls its physical execution strategy: row-block
partitioning sized by memory budget (stack.py:1073-1109), Dask futures with
retries (objects/cluster.py:225-347), and BLAS thread pinning
(cluster.py:87-129). On Spark all of that is the scheduler's job; what we
configure here is the part the engine owns:

* AQE on (runtime coalescing + skew-join splitting replaces MintPy's
  hand-sized boxes),
* Arrow transport for the pandas-UDF hot paths,
* shuffle partition count sized for the local harness but overridable via
  env for real clusters,
* executor env pinning OMP/MKL/OPENBLAS threads to 1, mirroring the
  reference's measured 2x win (ifgram_inversion.py:946-958).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("MINTPY_SPARK_SHUFFLE_PARTITIONS", "32"))


RUNTIME_SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # crawl payloads contain invalid byte sequences; decode() must
    # replace (U+FFFD), not raise (Spark 4 default errors under ANSI)
    "spark.sql.legacy.codingErrorAction": "true",
}


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable SQL confs to an existing
    session — the path for ``spark-submit`` jobs, where the session is
    built by the submitted master/conf rather than by get_spark()."""
    for k, v in RUNTIME_SQL_CONF.items():
        spark.conf.set(k, v)
    return spark


def get_spark(
    app_name: str = "mintpy_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    in the sandbox; on a real cluster pass ``None`` from ``spark-submit``
    (the submitted master wins because an active session is reused).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=RUNTIME_SQL_CONF)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("MINTPY_SPARK_DRIVER_MEM", "8g"))
        # BLAS pinning inside pandas UDF workers (reference: cluster.py:87-129)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
