"""Streaming rolling z-score monitor (``ZScoreMonitor`` on the sequential
fold): streaming == batch over the replayed history, state carries across
restarts, a duplicate delivery is a no-op, NULLs hold frame positions."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest

from mintpy_spark.operators.anomaly import ZScoreMonitor, rolling_zscore_anomalies
from mintpy_spark.streaming.seqfold import run_seq_fold

SCHEMA = "user_id long, ts timestamp, value double"


@pytest.fixture()
def paths(tmp_path):
    return (
        str(tmp_path / "ev_in"),
        str(tmp_path / "anom_out"),
        str(tmp_path / "ckpt"),
    )


def _run(spark, inp, outp, ckpt):
    run_seq_fold(spark, ZScoreMonitor(), inp, outp, ckpt, SCHEMA, "value")


def _rows(df_rows):
    return {(r.user_id, r.ts, r.value, r.n, r.dev, r.z) for r in df_rows}


def _series(seed: int, n: int, start_hour: int = 0):
    rng = np.random.default_rng(seed)
    t0 = dt.datetime(2024, 1, 1)
    vals = rng.normal(200.0, 4.0, size=n).round(2)
    return [
        (1, t0 + dt.timedelta(hours=start_hour + i), float(v))
        for i, v in enumerate(vals)
    ]


def test_streaming_anomalies_equal_batch_over_history(spark, paths):
    inp, outp, ckpt = paths
    rows1 = _series(21, 30)
    rows1[25] = (1, rows1[25][1], 400.0)  # planted spike in batch 1
    spark.createDataFrame(rows1, SCHEMA).write.mode("append").parquet(inp)
    _run(spark, inp, outp, ckpt)
    got1 = spark.read.parquet(outp).collect()
    assert any(r.ts == rows1[25][1] for r in got1)

    # batch 2 continues the series — the monitor must score its first rows
    # against state from batch 1 (a fresh batch op over ONLY batch 2 would
    # miss flags in the first min_obs rows)
    rows2 = _series(22, 30, start_hour=30)
    rows2[3] = (1, rows2[3][1], 0.5)  # early-in-batch dip, needs carried state
    spark.createDataFrame(rows2, SCHEMA).write.mode("append").parquet(inp)
    _run(spark, inp, outp, ckpt)
    got2 = spark.read.parquet(outp).collect()
    assert any(r.ts == rows2[3][1] for r in got2)

    batch = rolling_zscore_anomalies(spark.read.parquet(inp), "value").collect()
    s, b = _rows(got2), _rows(batch)
    assert len(s) == len(got2)  # no row emitted twice
    assert s == b and len(b) >= 2


def test_streaming_anomaly_duplicate_delivery_is_noop(spark, paths):
    """At-least-once tolerance: the same rows delivered AGAIN as new source
    files are at-or-behind the per-key state and emit nothing."""
    inp, outp, ckpt = paths
    rows = _series(31, 40)
    rows[30] = (1, rows[30][1], 500.0)
    spark.createDataFrame(rows, SCHEMA).write.mode("append").parquet(inp)
    _run(spark, inp, outp, ckpt)
    n1 = spark.read.parquet(outp).count()
    # duplicate delivery: identical rows land as NEW files; the source
    # reads them, the per-key last_ts skip drops every one
    spark.createDataFrame(rows, SCHEMA).write.mode("append").parquet(inp)
    _run(spark, inp, outp, ckpt)
    n2 = spark.read.parquet(outp).count()
    assert n1 >= 1 and n2 == n1


def test_streaming_anomaly_null_values_hold_frame_positions(spark, paths):
    """NULL values occupy ROWS-frame slots but are skipped by the
    aggregates — identical to the batch window semantics."""
    inp, outp, ckpt = paths
    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0 + dt.timedelta(hours=i), 50.0 + (i % 3)) for i in range(20)]
    rows[10] = (1, rows[10][1], None)
    rows[18] = (1, rows[18][1], 300.0)
    spark.createDataFrame(rows, SCHEMA).write.mode("append").parquet(inp)
    _run(spark, inp, outp, ckpt)
    got = _rows(spark.read.parquet(outp).collect())
    batch = _rows(
        rolling_zscore_anomalies(spark.read.parquet(inp), "value").collect()
    )
    assert got == batch and len(batch) >= 1
