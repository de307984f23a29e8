"""Production entrypoint: the full ingest -> 3-tier rollup pipeline.

Deployment (north_rule):

    # package the engine for the executors
    cd /root/repo && zip -r /tmp/mintpy_spark.zip mintpy_spark

    spark-submit --master <cluster> \\
        --py-files /tmp/mintpy_spark.zip \\
        jobs/rollup_job.py \\
        --input /path/to/pages_parquet_or_iceberg \\
        --output /path/to/tier_store \\
        --run-id run42 [--buckets 256] [--resume]

The job is the checkpointed pipeline (plans/pipeline.py): every stage
commits its partitions with one manifest rename and records per-partition
lineage + row counts in the checkpoint table, so re-submitting with the
same --run-id/--output after a mid-tier failure resumes exactly where it
stopped (the run_or_skip analog, reference utils/utils1.py:691).

Sandbox note: with no cluster manager available this runs under
``--master local[N]``; everything else (partitioning, checkpointing,
resume) is identical.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="mintpy_spark 3-tier rollup pipeline")
    p.add_argument("--input", required=True, help="pages table path (parquet dir)")
    p.add_argument("--output", required=True, help="tier store root")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--config-fp", default="v1",
                   help="config fingerprint; change to invalidate checkpoints")
    p.add_argument("--buckets", type=int, default=32,
                   help="hash(url) partition buckets (cluster: ~2-4x executors)")
    p.add_argument("--value-col", default="text_length")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from mintpy_spark.plans.pipeline import run_pipeline
    from mintpy_spark.session import apply_engine_conf
    from mintpy_spark.sources.iceberg import open_table_store

    spark = apply_engine_conf(
        SparkSession.builder.appName("mintpy_spark_rollup").getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from mintpy_spark.sources.tables import input_fingerprint

    t0 = time.time()
    pages = spark.read.parquet(args.input)
    # config x input-snapshot fingerprint: a grown/rewritten input dir
    # invalidates completed partitions (run_or_skip semantics)
    fp = f"{args.config_fp}:{input_fingerprint(args.input)}"
    out = run_pipeline(
        spark,
        pages,
        root=args.output,
        run_id=args.run_id,
        config_fp=fp,
        buckets=args.buckets,
        value_col=args.value_col,
    )
    # committed row counts, from the store's metadata: no Spark job
    store = open_table_store(spark, args.output)
    stats = {name: store.rows(name) for name in out}
    print(json.dumps({
        "run_id": args.run_id,
        "wall_sec": round(time.time() - t0, 2),
        "rows": stats,
    }))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
