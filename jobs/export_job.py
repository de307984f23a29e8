"""Production entrypoint: documents -> curated, packed training shards.

Deployment (north_rule):

    cd /root/repo && zip -r /tmp/mintpy_spark.zip mintpy_spark

    spark-submit --master <cluster> \\
        --py-files /tmp/mintpy_spark.zip \\
        jobs/export_job.py \\
        --input /path/to/documents_parquet \\
        --output /path/to/export_store \\
        [--benchmark /path/to/benchmark_parquet] \\
        [--capacity 2048] [--shards 1024] [--run-id run0] [--resume]

Stages (plans/export_pipeline.py): exact dedup + Gopher quality +
benchmark decontamination -> MinHash near-dup keeper resolution ->
next-fit sequence packing -> deterministic shard assignment. Every
stage commits its partitions with one manifest rename and records
per-partition lineage rows, so re-submitting with the same
--run-id/--output resumes mid-stage.
"""

from __future__ import annotations

import argparse
import json
import time


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="mintpy_spark training export")
    p.add_argument("--input", required=True, help="documents parquet dir")
    p.add_argument("--output", required=True, help="export store root")
    p.add_argument("--benchmark", default=None,
                   help="benchmark parquet dir (decontamination corpus)")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--config-fp", default="v1")
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--capacity", type=int, default=2048,
                   help="tokens per packed example")
    p.add_argument("--shards", type=int, default=64)
    p.add_argument("--min-words", type=int, default=50)
    p.add_argument("--quality", default="gopher",
                   help="'gopher' (all five rules), 'none', or a "
                        "comma-list of flag names, e.g. flag_wc,flag_mwl")
    args = p.parse_args(argv)
    if args.quality == "gopher":
        qflags = None
    elif args.quality == "none":
        qflags = ()
    else:
        qflags = tuple(args.quality.split(","))

    from pyspark.sql import SparkSession

    from mintpy_spark.plans.export_pipeline import run_export
    from mintpy_spark.session import apply_engine_conf
    from mintpy_spark.sources.iceberg import open_table_store

    spark = apply_engine_conf(
        SparkSession.builder.appName("mintpy_spark_export").getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.time()
    docs = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    out = run_export(
        spark,
        docs,
        args.output,
        benchmark=bench,
        run_id=args.run_id,
        config_fp=args.config_fp,
        buckets=args.buckets,
        capacity=args.capacity,
        min_words=args.min_words,
        n_shards=args.shards,
        quality_flags=qflags,
    )
    # committed row counts, from the store's metadata: no Spark job
    store = open_table_store(spark, args.output)
    counts = {k: store.rows(k) for k in out}
    print(json.dumps({
        "run_id": args.run_id,
        "rows": counts,
        "wall_s": round(time.time() - t0, 1),
    }))


if __name__ == "__main__":
    main()
