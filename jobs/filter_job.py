"""Production entrypoint: incremental streaming Kalman smoothing.

The sequential-state sibling of jobs/maintain_job.py: each invocation
folds ONLY the observation files that arrived since the last run through
the streaming Kalman local-level filter (``operators.kalman.LocalLevel``
on the generic sequential fold, streaming/seqfold.py) and appends the
filtered levels, (key, rn, ts, level), to the output table.

The per-key state (last_ts_us, rn, m, p) lives in a versioned table
under ``<checkpoint>/kalman_state``, outside Spark's own ``state/``
subdirectory, and each micro-batch is one foreachBatch fold on the
sorted-group seam, committed as one manifest-committed version of the
engine's table store (sources/tables.py). It replaced an applyInPandasWithState twin whose per-key
frames and GroupState round trip cost about 4.2 ms of Python worker CPU
per touched key and batch (a 2 000-row delta over 2 000 keys: ~10 CPU s).

Re-running after a crash is safe: the stream checkpoint replays
unconsumed files, a committed batch is never folded twice, rows at or
behind a key's watermark are skipped and counted (the ``kalman_late``
lineage row), and the emitted levels are bit-identical to the batch
filter over the full replayed history (tests/test_seqfold.py,
tests/test_kalman_stream.py).

Deployment (north_rule):

    cd /root/repo && zip -r /tmp/mintpy_spark.zip mintpy_spark

    spark-submit --master <cluster> \\
        --py-files /tmp/mintpy_spark.zip \\
        jobs/filter_job.py \\
        --input /path/to/obs_parquet \\
        --output /path/to/levels_parquet \\
        --checkpoint /path/to/stream_ckpt \\
        [--q 0.04 --r 1.0]

Reference analog: update-mode incremental processing (smallbaselineApp
run_or_skip) — fold new epochs into carried state, never re-read
history.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def run_filter(
    spark,
    input_path: str,
    output_path: str,
    checkpoint: str,
    schema: str,
    value_col: str,
    key: str,
    ts: str,
    q: float,
    r: float,
) -> None:
    from mintpy_spark.operators.kalman import LocalLevel
    from mintpy_spark.streaming.seqfold import run_seq_fold

    run_seq_fold(
        spark, LocalLevel(q, r), input_path, output_path, checkpoint, schema,
        value_col, key=key, ts=ts,
    )


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="incremental Kalman smoothing")
    p.add_argument("--input", required=True, help="obs table dir (parquet)")
    p.add_argument("--output", required=True, help="filtered levels dir")
    p.add_argument("--checkpoint", required=True, help="stream checkpoint dir")
    p.add_argument("--value-col", default="text_length")
    p.add_argument("--key", default="url")
    p.add_argument("--ts", default="warc_ts")
    p.add_argument(
        "--schema", default="url string, warc_ts timestamp, text_length long"
    )
    p.add_argument("--q", type=float, default=0.04, help="process variance")
    p.add_argument("--r", type=float, default=1.0, help="observation variance")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from mintpy_spark.session import apply_engine_conf

    # reuse a live session (tests, notebooks) and leave it running; own
    # and stop the session only when this process created it
    owned = SparkSession.getActiveSession() is None
    spark = apply_engine_conf(
        SparkSession.builder.appName("mintpy_spark_filter").getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.time()
    run_filter(
        spark,
        input_path=args.input,
        output_path=args.output,
        checkpoint=args.checkpoint,
        schema=args.schema,
        value_col=args.value_col,
        key=args.key,
        ts=args.ts,
        q=args.q,
        r=args.r,
    )
    import os

    if os.path.isdir(args.output):
        n = spark.read.parquet(args.output).count()
    else:
        n = 0  # no data arrived yet — a successful no-op; any real read
        # error (permissions, corruption) propagates and fails the job
    print(json.dumps({"wall_sec": round(time.time() - t0, 2), "levels": n}))
    if owned:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
