"""Streaming Kalman fold: streaming == batch over replayed history,
state survives restarts, replays are no-ops, late rows are skipped and
counted, and a fold killed at any step between its writes and its
garbage collection replays to exactly-once levels."""

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
    from mintpy_spark.streaming.kalman_stream import run_kalman_fold

    return run_kalman_fold(spark, inp, outp, ckpt, SCHEMA)


def _series(uid, seed, n, start=0):
    rng = np.random.default_rng(seed)
    t0 = dt.datetime(2024, 1, 1)
    return [
        (uid, t0 + dt.timedelta(hours=start + i), float(v))
        for i, v in enumerate(rng.normal(50, 5, n).round(2))
    ]


def test_streaming_equals_batch_across_restarts(spark, paths):
    from mintpy_spark.operators.kalman import kalman_level

    inp, outp, ckpt = paths
    rows1 = _series(1, 5, 20) + _series(2, 6, 15)
    rows1[3] = (1, rows1[3][1], None)  # NULL obs carries no update
    spark.createDataFrame(rows1, SCHEMA).write.mode("append").parquet(inp)
    _run(spark, inp, outp, ckpt)
    # continuation batch after a RESTART: state must resume, not re-init
    rows2 = _series(1, 7, 10, start=20) + _series(3, 8, 5)
    spark.createDataFrame(rows2, SCHEMA).write.mode("append").parquet(inp)
    _run(spark, inp, outp, ckpt)

    got = {
        (r["user_id"], r["rn"]): r["level"]
        for r in spark.read.parquet(outp).collect()
    }
    hist = spark.createDataFrame(rows1 + rows2, SCHEMA)
    want = {
        (r["user_id"], r["rn"]): r["level"]
        for r in kalman_level(hist, "value", key="user_id", ts="ts").collect()
    }
    assert got == want  # bit-identical levels, every key, every rn


def test_replay_is_noop(spark, paths):
    inp, outp, ckpt = paths
    rows = _series(1, 9, 12)
    spark.createDataFrame(rows, SCHEMA).write.mode("append").parquet(inp)
    _run(spark, inp, outp, ckpt)
    n1 = spark.read.parquet(outp).count()
    # redeliver the SAME rows (new files, old timestamps) plus a row with
    # no timestamp: all skipped
    redelivered = rows + [(1, None, 3.0)]
    spark.createDataFrame(redelivered, SCHEMA).write.mode("append").parquet(inp)
    fold = _run(spark, inp, outp, ckpt)
    assert spark.read.parquet(outp).count() == n1
    assert _late_by_batch(fold) == [0, len(redelivered)]  # skipped, and counted


def test_file_sink_output_is_refused(spark, paths):
    """An output directory with a file-sink log (written by Spark's
    streaming file sink) would hide every level the fold moves into it;
    a checkpoint holding a stateful operator's ``state/`` would resume
    its offsets while every key restarted at rn 1. Both are refused."""
    import os

    from mintpy_spark.streaming.kalman_stream import run_kalman_fold

    inp, outp, ckpt = paths
    os.makedirs(os.path.join(outp, "_spark_metadata"))
    with pytest.raises(ValueError, match="file sink"):
        run_kalman_fold(spark, inp, outp, ckpt, SCHEMA)
    os.makedirs(os.path.join(ckpt, "state", "0"))
    with pytest.raises(ValueError, match="stateful operator"):
        run_kalman_fold(spark, inp, outp + "_new", ckpt, SCHEMA)


def test_carried_fold_cost_is_delta_proportional():
    """A carried key continues from its own (rn, m, p): the values equal
    one fold over the whole series, and no position cache as deep as the
    key's history is built."""
    from mintpy_spark.operators.kalman import LocalLevel

    ys = np.random.default_rng(3).normal(50, 5, 30).tolist()
    whole, m_all, p_all = LocalLevel(0.04, 1.0).fold(ys)
    head, m, p = LocalLevel(0.04, 1.0).fold(ys[:20])
    model = LocalLevel(0.04, 1.0)
    tail, m2, p2 = model.fold(ys[20:], 20, m, p)
    assert head + tail == whole and (m2, p2) == (m_all, p_all)
    deep, _m, _p = model.fold([1.0, 2.0], 10**7, m2, p2)
    assert len(deep) == 2 and len(model._p) == 1  # no per-position walk


def _late_by_batch(fold) -> list[int]:
    # one row per batch: a replayed batch appends its counts again
    late = fold.metrics.stage_metrics("kalman_late")
    return [late[b] for b in sorted(late)]


def _levels(spark, outp) -> dict:
    rows = spark.read.parquet(outp).collect()
    got = {(r["user_id"], r["rn"]): r["level"] for r in rows}
    assert len(got) == len(rows)  # no (key, rn) twice
    return got


def _batch_levels(spark, rows) -> dict:
    from mintpy_spark.operators.kalman import kalman_level

    hist = spark.createDataFrame(rows, SCHEMA)
    return {
        (r["user_id"], r["rn"]): r["level"]
        for r in kalman_level(hist, "value", key="user_id", ts="ts").collect()
    }


def test_hash_interleaved_arrivals_skip_and_count_late_rows(spark, paths):
    """Rows land in four batches chosen by a hash of (key, position), so
    most keys see timestamps arrive out of order. A row at or behind its
    key's committed watermark is skipped: the levels equal the batch
    filter over the accepted rows, and each batch's ``kalman_late``
    lineage row equals the number of late rows it carried."""
    import zlib

    inp, outp, ckpt = paths
    hist = _series(1, 41, 24) + _series(2, 42, 18) + _series(3, 43, 9)
    batches = [[] for _ in range(4)]
    for row in hist:
        h = zlib.crc32(f"{row[0]}-{row[1].isoformat()}".encode())
        batches[h % 4].append(row)
    watermark: dict[int, dt.datetime] = {}
    accepted, late = [], []
    for rows in batches:
        spark.createDataFrame(rows, SCHEMA).write.mode("append").parquet(inp)
        fold = _run(spark, inp, outp, ckpt)
        # the policy, replayed in Python: committed watermark per key
        ok = [r for r in rows if r[0] not in watermark or r[1] > watermark[r[0]]]
        for r in ok:
            watermark[r[0]] = max(r[1], watermark.get(r[0], r[1]))
        accepted += ok
        late.append(len(rows) - len(ok))
    assert sum(late) > 0 and len(accepted) > len(hist) // 4  # both cases hit
    assert _late_by_batch(fold) == late
    assert _levels(spark, outp) == _batch_levels(spark, accepted)


@pytest.mark.parametrize("kill", ["_commit", "_publish", "_gc"])
def test_killed_fold_replays_exactly_once(spark, paths, monkeypatch, kill):
    """Kill the second batch's fold after its levels and state are written
    but before the commit marker (``_commit``), after the marker but
    before the levels move (``_publish``), and after both but before
    garbage collection (``_gc``). The replay leaves every (key, rn) of the
    batch filter in the output exactly once, the state at the committed
    version, and one late count per batch."""
    from mintpy_spark.streaming.kalman_stream import STATE, KalmanFold

    inp, outp, ckpt = paths
    rows1 = _series(1, 51, 8) + _series(2, 52, 5)
    rows2 = _series(1, 53, 6, start=8) + _series(3, 54, 4)
    redelivered = rows1[2]  # behind key 1's watermark: late in batch 1
    spark.createDataFrame(rows1, SCHEMA).write.mode("append").parquet(inp)
    _run(spark, inp, outp, ckpt)

    real = getattr(KalmanFold, kill)

    def crash(self, spark_, *version):
        if kill == "_publish" and version[0] != 1:
            return real(self, spark_, *version)  # the roll-forward of v0
        raise RuntimeError(f"killed in {kill}")

    monkeypatch.setattr(KalmanFold, kill, crash)
    spark.createDataFrame(rows2 + [redelivered], SCHEMA).write.mode(
        "append"
    ).parquet(inp)
    with pytest.raises(Exception, match=f"killed in {kill}"):
        _run(spark, inp, outp, ckpt)
    monkeypatch.setattr(KalmanFold, kill, real)
    if kill != "_gc":  # readers never see an unmoved batch's levels
        assert len(_levels(spark, outp)) == len(rows1)

    fold = _run(spark, inp, outp, ckpt)
    assert _levels(spark, outp) == _batch_levels(spark, rows1 + rows2)
    assert fold.committed_version(spark) == 1
    assert _late_by_batch(fold) == [0, 1]
    state = {
        r["user_id"]: (r["rn"], r["m"])
        for r in fold.read_tier(spark, STATE).collect()
    }
    want = _batch_levels(spark, rows1 + rows2)
    last = {}
    for (uid, rn), level in want.items():
        if rn > last.get(uid, (0, None))[0]:
            last[uid] = (rn, level)
    assert state == last


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
