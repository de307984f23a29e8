"""Production entrypoint: incremental continuous-aggregate maintenance.

The companion to jobs/rollup_job.py: instead of the full checkpointed
rebuild, each invocation folds ONLY the observation files that arrived
since the last run into the stored tier tables (streaming AvailableNow
checkpoint tracks which files were consumed; the fold is the partial
merge + dirty-bucket cascade of operators/rollup.py). Schedule it as the
per-interval refresh job — cost per run scales with the new data.

Deployment (north_rule):

    cd /root/repo && zip -r /tmp/mintpy_spark.zip mintpy_spark

    spark-submit --master <cluster> \\
        --py-files /tmp/mintpy_spark.zip \\
        jobs/maintain_job.py \\
        --input /path/to/obs_parquet \\
        --store /path/to/tier_store \\
        --checkpoint /path/to/stream_ckpt

Re-running after a crash is safe: the stream checkpoint replays the
unconsumed files; the fold is idempotent (one manifest-committed store
version per batch — a replayed committed batch is skipped, a crashed one
is recomputed from the last committed version). --store and --checkpoint
are a PAIR: batch ids from the checkpoint drive the store's version numbers,
so never point a fresh checkpoint at an existing store.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="incremental tier maintenance")
    p.add_argument("--input", required=True, help="obs table dir (parquet)")
    p.add_argument("--store", required=True, help="stored tier root")
    p.add_argument("--checkpoint", required=True, help="stream checkpoint dir")
    p.add_argument("--value-col", default="text_length")
    p.add_argument(
        "--schema", default="url string, warc_ts timestamp, text_length long"
    )
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from mintpy_spark.session import apply_engine_conf
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer, maintain_tiers

    spark = apply_engine_conf(
        SparkSession.builder.appName("mintpy_spark_maintain").getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.time()
    maintain_tiers(
        spark,
        input_path=args.input,
        store_root=args.store,
        checkpoint=args.checkpoint,
        schema=args.schema,
        value_col=args.value_col,
    )
    m = TierMaintainer(args.store, value_col=args.value_col)
    # a run before any data landed commits nothing — that is a successful
    # no-op, not an error
    if m.committed_version(spark) is None:
        rows = {}
    else:
        # committed row counts, from the store's manifest: no Spark job
        rows = {t: m.store.rows(m.table(t)) for t in m.tiers}
    print(json.dumps({"wall_sec": round(time.time() - t0, 2), "tier_rows": rows}))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
