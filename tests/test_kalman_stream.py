"""Kalman-only checks of the streaming fold (the generic protocol —
restart parity, replay, late rows, kill-and-replay — is parametrized over
all five recursions in tests/test_seqfold.py): a carried key's cost is
proportional to its new rows, upgrade guards refuse foreign output and
checkpoints, filter_job folds incrementally, and NaN values keep batch
semantics."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest


SCHEMA = "user_id long, ts timestamp, value double"


@pytest.fixture()
def paths(tmp_path):
    return (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )


def _run(spark, inp, outp, ckpt):
    from mintpy_spark.operators.kalman import LocalLevel
    from mintpy_spark.streaming.seqfold import run_seq_fold

    return run_seq_fold(spark, LocalLevel(0.04, 1.0), inp, outp, ckpt, SCHEMA)


def _series(uid, seed, n, start=0):
    rng = np.random.default_rng(seed)
    t0 = dt.datetime(2024, 1, 1)
    return [
        (uid, t0 + dt.timedelta(hours=start + i), float(v))
        for i, v in enumerate(rng.normal(50, 5, n).round(2))
    ]


def test_file_sink_output_is_refused(spark, paths):
    """An output directory with a file-sink log (written by Spark's
    streaming file sink) would hide every level the fold moves into it;
    a checkpoint holding a stateful operator's ``state/`` would resume
    its offsets while every key restarted at rn 1. Both are refused."""
    import os

    inp, outp, ckpt = paths
    os.makedirs(os.path.join(outp, "_spark_metadata"))
    with pytest.raises(ValueError, match="file sink"):
        _run(spark, inp, outp, ckpt)
    os.makedirs(os.path.join(ckpt, "state", "0"))
    with pytest.raises(ValueError, match="stateful operator"):
        _run(spark, inp, outp + "_new", ckpt)


def test_carried_fold_cost_is_delta_proportional():
    """A carried key continues from its own (rn, m, p): the values equal
    one fold over the whole series, and no position cache as deep as the
    key's history is built."""
    from mintpy_spark.operators.kalman import LocalLevel

    ys = np.random.default_rng(3).normal(50, 5, 30).tolist()
    whole, m_all, p_all = LocalLevel(0.04, 1.0).levels(ys)
    head, m, p = LocalLevel(0.04, 1.0).levels(ys[:20])
    model = LocalLevel(0.04, 1.0)
    tail, m2, p2 = model.levels(ys[20:], 20, m, p)
    assert head + tail == whole and (m2, p2) == (m_all, p_all)
    deep, _m, _p = model.levels([1.0, 2.0], 10**7, m2, p2)
    assert len(deep) == 2 and len(model._p) == 1  # no per-position walk


def test_filter_job_incremental(spark, tmp_path, capsys):
    """jobs/filter_job.py: two invocations consume only new files; the
    accumulated output equals the batch filter over everything."""
    import json

    from jobs.filter_job import main as filter_main

    from mintpy_spark.operators.kalman import kalman_level

    inp = str(tmp_path / "obs")
    outp = str(tmp_path / "levels")
    ckpt = str(tmp_path / "ck")
    args = [
        "--input", inp, "--output", outp, "--checkpoint", ckpt,
        "--value-col", "value", "--key", "user_id", "--ts", "ts",
        "--schema", SCHEMA,
    ]
    rows1 = _series(1, 31, 10)
    spark.createDataFrame(rows1, SCHEMA).write.mode("append").parquet(inp)
    filter_main(args)
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["levels"] == 10

    rows2 = _series(1, 32, 6, start=10) + _series(2, 33, 4)
    spark.createDataFrame(rows2, SCHEMA).write.mode("append").parquet(inp)
    filter_main(args)
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["levels"] == 20

    got = {
        (r["user_id"], r["rn"]): r["level"]
        for r in spark.read.parquet(outp).collect()
    }
    hist = spark.createDataFrame(rows1 + rows2, SCHEMA)
    want = {
        (r["user_id"], r["rn"]): r["level"]
        for r in kalman_level(hist, "value", key="user_id", ts="ts").collect()
    }
    assert got == want


def test_nan_values_match_batch_semantics(spark, tmp_path):
    """A NaN VALUE is non-null: the batch filter's where-clause keeps it
    and the recursion poisons subsequent levels to NaN. The stream must
    reproduce that (NULL, by contrast, is skipped by both)."""
    import math

    from mintpy_spark.operators.kalman import kalman_level

    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(hours=1), float("nan")),
        (1, t0 + dt.timedelta(hours=2), 2.0),
        (2, t0, None),
        (2, t0 + dt.timedelta(hours=1), 5.0),
    ]
    spark.createDataFrame(rows, SCHEMA).write.mode("append").parquet(inp)
    _run(spark, inp, outp, ckpt)
    got = {
        (r["user_id"], r["rn"]): r["level"]
        for r in spark.read.parquet(outp).collect()
    }
    want = {
        (r["user_id"], r["rn"]): r["level"]
        for r in kalman_level(
            spark.createDataFrame(rows, SCHEMA), "value",
            key="user_id", ts="ts",
        ).collect()
    }
    assert set(got) == set(want)

    def same(a, b):
        if a is None or b is None:
            return a is b
        return a == b or (math.isnan(a) and math.isnan(b))

    for k in want:
        assert same(got[k], want[k]), (k, got[k], want[k])
    # key 1: NaN at rn=2 poisons rn>=2 (NaN surfaces as NULL through the
    # Arrow boundary in BOTH paths — identically); key 2: NULL skipped
    assert got[(1, 1)] == 1.0
    assert got[(1, 2)] is None and got[(1, 3)] is None
    assert want[(1, 2)] is None and want[(1, 3)] is None
    assert got[(2, 1)] == 5.0 and (2, 2) not in got
