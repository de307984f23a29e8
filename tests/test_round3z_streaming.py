"""Round-3 batch z: streaming maintenance of the IDEMPOTENT sketch
family (presence bitmap + HLL registers) — stream == batch rebuild,
replay convergence by algebra alone, bounded store."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

D = dt.datetime
SCH = "user_id long, ts timestamp"


@pytest.fixture
def paths(tmp_path):
    return (
        str(tmp_path / "in"),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
    )


def _drop(spark, inp, users, days):
    rows = [
        (u, D(2023, 3, d, h))
        for u in users
        for d in days
        for h in (1, 9, 17)
    ]
    spark.createDataFrame(rows, SCH).write.mode("append").parquet(inp)


def _batch_truth(spark, inp):
    from mintpy_spark.operators.bitmap import presence_tier
    from mintpy_spark.operators.sketch import hll_tier

    ev = spark.read.parquet(inp)
    pres = {tuple(r) for r in presence_tier(ev, ts_col="ts").collect()}
    hll = {tuple(r) for r in hll_tier(ev, "user_id", "1d", ts="ts").collect()}
    return pres, hll


def test_presence_hll_stream_equals_batch(spark, paths):
    from mintpy_spark.streaming.presence_stream import PresenceHllMaintainer

    inp, store, ckpt = paths
    m = PresenceHllMaintainer(store)
    _drop(spark, inp, range(4), range(1, 4))
    m.run(spark, inp, ckpt, SCH)
    _drop(spark, inp, range(2, 6), range(3, 6))   # new users + new days
    _drop(spark, inp, [0], [1])                   # pure replayed duplicate rows
    m.run(spark, inp, ckpt, SCH)

    pres_want, hll_want = _batch_truth(spark, inp)
    assert {tuple(r) for r in m.read_presence(spark).collect()} == pres_want
    assert {tuple(r) for r in m.read_hll(spark).collect()} == hll_want


def test_replay_converges_even_without_guard(spark, paths):
    """The idempotent family's distinguishing property: folding the SAME
    delta again as the next version (batch 1 over committed version 0,
    which the committed-version check does not skip) leaves the store
    unchanged (bit_or / MAX are idempotent).  The additive HDR/CMS
    maintainers would double-count here."""
    from mintpy_spark.streaming.presence_stream import PresenceHllMaintainer

    inp, store, _ = paths
    _drop(spark, inp, range(3), range(1, 3))
    delta = spark.read.parquet(inp)

    m = PresenceHllMaintainer(store)
    m.apply_delta(delta, batch_id=0)
    once_p = {tuple(r) for r in m.read_presence(spark).collect()}
    once_h = {tuple(r) for r in m.read_hll(spark).collect()}
    m.apply_delta(delta, batch_id=1)  # the same delta, folded again
    assert {tuple(r) for r in m.read_presence(spark).collect()} == once_p
    assert {tuple(r) for r in m.read_hll(spark).collect()} == once_h


def test_store_stays_bounded(spark, paths):
    from mintpy_spark.operators.sketch import HLL_BUCKETS
    from mintpy_spark.streaming.presence_stream import PresenceHllMaintainer

    inp, store, _ = paths
    m = PresenceHllMaintainer(store)
    # many events, few users/days: stored rows bounded by keys, not volume
    rows = [(u % 5, D(2023, 3, 1 + (i % 3), i % 24)) for i, u in enumerate(range(600))]
    spark.createDataFrame(rows, SCH).write.mode("append").parquet(inp)
    m.apply_delta(spark.read.parquet(inp), batch_id=0)
    assert m.read_presence(spark).count() <= 5          # one block per user
    assert m.read_hll(spark).count() <= 3 * HLL_BUCKETS  # 64 regs per day
    # realtime partial-merge read is a value-tier concept — guarded off
    with pytest.raises(NotImplementedError):
        m.read_realtime(spark, "1h", None)
