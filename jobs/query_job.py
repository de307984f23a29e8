"""Production read path: tiered range queries over a maintained store.

Deployment (north_rule):

    cd /root/repo && zip -r /tmp/mintpy_spark.zip mintpy_spark

    spark-submit --master <cluster> \\
        --py-files /tmp/mintpy_spark.zip \\
        jobs/query_job.py \\
        --store /path/to/tier_store \\
        --from "2024-01-03 05:30:00" --to "2024-02-27 17:45:00" \\
        [--tail /path/to/unfolded_obs_parquet] \\
        [--version N] [--output /path/to/result_parquet]

Answers ``SELECT key, cnt/sum/min/max WHERE ts in [from, to)`` from a
TierMaintainer store: the greedy tier cover (rollup.plan_range_cover)
reads 30d/1d/1h partials for the aligned interior; ``--tail`` supplies
the not-yet-folded micro-batch so results are exact up to the second
(read_realtime semantics); ``--version`` time-travels to a retained
snapshot instead of the latest commit. Raw fringes below the finest
stored tier are answered from the tail when provided (a store plus its
unfolded tail covers everything ingested), so the job never needs the
raw history online — the whole point of the continuous-aggregate store.

Prints one JSON line with the cover plan and result stats; optionally
writes the per-key result to parquet.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="mintpy_spark tiered range query")
    p.add_argument("--store", required=True, help="TierMaintainer store root")
    p.add_argument("--from", dest="t0", required=True,
                   help="range start, 'YYYY-MM-DD HH:MM:SS' inclusive")
    p.add_argument("--to", dest="t1", required=True,
                   help="range end, exclusive")
    p.add_argument("--tail", default=None,
                   help="parquet dir of observations not yet folded into "
                        "the store (the current micro-batch)")
    p.add_argument("--version", type=int, default=None,
                   help="time-travel to a retained snapshot version")
    p.add_argument("--output", default=None, help="write result parquet here")
    p.add_argument("--key", default="url")
    p.add_argument("--ts", default="warc_ts")
    p.add_argument("--value-col", default="text_length")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from mintpy_spark.operators.rollup import (
        merge_tier_delta,
        plan_range_cover,
        route_range_agg,
    )
    from mintpy_spark.session import apply_engine_conf
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer

    spark = apply_engine_conf(
        SparkSession.builder.appName("mintpy_spark_query").getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    t_start = time.time()
    m = TierMaintainer(args.store, value_col=args.value_col,
                       key=args.key, ts=args.ts)
    # one version for every tier: a fold committing meanwhile cannot mix two
    version = args.version if args.version is not None else m.committed_version(spark)
    tiers = {t: m.read_tier(spark, t, version=version) for t in m.tiers}
    if args.tail:
        # the tail merged into each pinned tier by the fold's own step
        # (read_realtime, generalized to a range query). A tail row counts
        # once: in the cover piece that holds it (a raw fringe reads it
        # from the tail), since its bucket at every other tier lies
        # outside that tier's spans
        tail = spark.read.parquet(args.tail)
        tiers = {
            t: merge_tier_delta(df, tail, args.value_col, t, key=args.key, ts=args.ts)
            for t, df in tiers.items()
        }
    else:
        # no tail: raw fringes have nothing to read; an empty frame keeps
        # the cover total correct for everything the store has folded
        tail = spark.createDataFrame(
            [], f"{args.key} string, {args.ts} timestamp, {args.value_col} double"
        )
    cover = plan_range_cover(args.t0, args.t1, tuple(m.tiers))
    result = route_range_agg(
        tail, tiers, args.t0, args.t1, args.value_col,
        key=args.key, ts=args.ts,
    )
    # execute the routed pipeline ONCE: either read the just-written
    # parquet back or persist — `result.count()` + `result.agg(...)` on
    # the raw plan would re-run the whole tier-union DAG per action
    if args.output:
        result.write.mode("overwrite").parquet(args.output)
        result = spark.read.parquet(args.output)
    else:
        result = result.persist()
    n_keys = result.count()
    stats = result.agg(
        F.sum("cnt").alias("total_obs"), F.sum("vsum").alias("total_sum")
    ).first()
    print(json.dumps({
        "t0": args.t0, "t1": args.t1,
        "version": version,
        "cover": [list(c) for c in cover],
        "n_keys": n_keys,
        "total_obs": int(stats["total_obs"] or 0),
        "total_sum": float(stats["total_sum"] or 0.0),
        "wall_sec": round(time.time() - t_start, 3),
    }))


if __name__ == "__main__":
    main(sys.argv[1:])
