"""Production entrypoint: ledger-gated raw compaction (retention).

The third leg of the store lifecycle, after jobs/maintain_job.py (fold
deltas into tiers) and jobs/query_job.py (tiered range reads): delete raw
observations older than a tier-aligned cutoff once the committed finest
tier PROVABLY accounts for them (per-(key, bucket) gate
``tier.cnt == ledger.dropped + raw.cnt`` — see
operators/retention.compact_raw).  Run it after each maintenance fold
with the retention horizon you want, e.g. daily with
``--cutoff $(date -d '90 days ago' +'%Y-%m-%d 00:00:00')``.

The drop is file-granular, like ``drop_chunks``: only raw files whose
rows all lie below the cutoff are deleted, and nothing is rewritten, so
the next maintain_job sees no compacted file as new input.  A file that
straddles the cutoff stays as it is.  The ledger rows, each naming its
raw file, are appended before the files are deleted, so a killed run
leaves at worst files the ledger already counts; the next run deletes
them before its gate, which finishes the killed run.

Deployment (north_rule):

    cd /root/repo && zip -r /tmp/mintpy_spark.zip mintpy_spark

    spark-submit --master <cluster> \\
        --py-files /tmp/mintpy_spark.zip \\
        jobs/compact_job.py \\
        --raw /path/to/obs_parquet \\
        --store /path/to/tier_store \\
        --cutoff '2023-01-04 00:00:00'

Exit codes: 0 = compacted (or nothing below cutoff), 3 = gate refused
(outstanding unfolded delta — run maintain_job first), 2 = bad arguments
(misaligned cutoff).  A refusal never modifies the raw table.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="ledger-gated raw compaction")
    p.add_argument("--raw", required=True, help="raw obs table dir (parquet)")
    p.add_argument("--store", required=True, help="stored tier root")
    p.add_argument("--cutoff", required=True, help="'YYYY-MM-DD HH:MM:SS', tier-aligned")
    p.add_argument("--tier", default="1h", help="finest committed tier to gate on")
    p.add_argument("--value-col", default="text_length")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from mintpy_spark.operators.retention import compact_raw
    from mintpy_spark.session import apply_engine_conf
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer

    spark = apply_engine_conf(
        SparkSession.builder.appName("mintpy_spark_compact").getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    m = TierMaintainer(args.store, value_col=args.value_col)
    t0 = time.time()
    try:
        res = compact_raw(
            spark, args.raw, args.cutoff, m, tier=args.tier,
            value_col=args.value_col,
        )
    except ValueError as e:
        print(json.dumps({"error": str(e)}))
        spark.stop()
        return 2
    except RuntimeError as e:
        print(json.dumps({"refused": str(e)}))
        spark.stop()
        return 3
    res["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(res))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
