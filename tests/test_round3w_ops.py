"""Round-3 batch w: HLL register tier, Bloom membership tier, sliding
rate-limit audit — known-answer and property tests."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

D = dt.datetime


def _ts(day: int, sec: int = 0) -> dt.datetime:
    return D(2024, 1, 1) + dt.timedelta(days=day, seconds=sec)


def test_hll_merge_equals_direct_and_idempotent(spark):
    from mintpy_spark.operators.sketch import hll_merge, hll_tier

    rows = [(i % 37, _ts(i % 5, i)) for i in range(400)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    direct = hll_tier(df, "user_id", "1d", ts="ts")
    halves = hll_merge(
        hll_tier(df.where(F.col("user_id") % 2 == 0), "user_id", "1d", ts="ts")
        .unionByName(
            hll_tier(df.where(F.col("user_id") % 2 == 1), "user_id", "1d", ts="ts")
        ),
        "1d",
    )
    assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, halves.collect()))
    # replay idempotence: MAX-folding a partial twice is a no-op
    replay = hll_merge(direct.unionByName(direct), "1d")
    assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, replay.collect()))


def test_hll_estimate_reasonable_and_bounded(spark):
    from mintpy_spark.operators.sketch import HLL_BUCKETS, hll_estimate, hll_tier

    n = 500
    rows = [(i, _ts(0, i)) for i in range(n)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = hll_estimate(hll_tier(df, "user_id", "1d", ts="ts")).collect()
    assert len(out) == 1
    r = out[0]
    assert 1 <= r["n_regs"] <= HLL_BUCKETS
    # raw HLL on 500 distinct with m=64: within the classic ~1.04/sqrt(m)
    # band (generous 3-sigma ~ 40 %)
    assert 0.6 * n <= r["est_distinct"] <= 1.4 * n
    assert r["sum_scaled"] > 0


def test_hll_null_items_ignored(spark):
    from mintpy_spark.operators.sketch import hll_tier

    df = spark.createDataFrame(
        [(None, _ts(0)), (1, _ts(0))], "user_id long, ts timestamp"
    )
    regs = hll_tier(df, "user_id", "1d", ts="ts").collect()
    assert len(regs) == 1  # only the non-NULL item carries a register


def test_bloom_no_false_negatives(spark):
    from mintpy_spark.operators.sketch import bloom_probe, bloom_tier

    rows = [(d, u) for d in range(3) for u in range(d * 10, d * 10 + 8)]
    df = spark.createDataFrame(rows, "d long, user_id long")
    bloom = bloom_tier(df, "user_id", key_cols=("d",))
    # probe every true member: a Bloom filter can NEVER miss a member
    probes = df
    hits = bloom_probe(bloom, probes, "user_id", key_cols=("d",))
    assert hits.where(~F.col("bloom_hit")).count() == 0


def test_bloom_absent_key_never_hits(spark):
    from mintpy_spark.operators.sketch import bloom_probe, bloom_tier

    df = spark.createDataFrame([(1, 7)], "d long, user_id long")
    bloom = bloom_tier(df, "user_id", key_cols=("d",))
    probes = spark.createDataFrame([(2, 7)], "d long, user_id long")
    out = bloom_probe(bloom, probes, "user_id", key_cols=("d",)).collect()
    assert len(out) == 1 and out[0]["bloom_hit"] is False


def test_bloom_word_bits_sign_safe(spark):
    from mintpy_spark.operators.sketch import BLOOM_WORD_BITS, bloom_tier

    # many items so every word position gets exercised; no value may use
    # the sign bit (bit 63) — the DuckDB checked-shift constraint
    df = spark.createDataFrame([(1, u) for u in range(500)], "d long, user_id long")
    row = bloom_tier(df, "user_id", key_cols=("d",)).collect()[0]
    assert BLOOM_WORD_BITS == 63
    for j in range(4):
        assert row[f"w{j}"] >= 0  # sign bit untouched


def test_rate_limit_audit_known(spark):
    from mintpy_spark.operators.cadence import rate_limit_audit

    rows = [
        # u1: 3 events inside one hour (max window = 3), then a lone one
        (1, _ts(0, 0)), (1, _ts(0, 1800)), (1, _ts(0, 3599)), (1, _ts(0, 90000)),
        # u2: two events exactly 1 h apart -> never 2 in a window
        (2, _ts(0, 0)), (2, _ts(0, 3600)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {r["user_id"]: r for r in rate_limit_audit(df, limit=2).collect()}
    assert (out[1]["max_in_window"], out[1]["windows_over"], out[1]["violated"]) == (3, 1, True)
    assert (out[2]["max_in_window"], out[2]["violated"]) == (1, False)
    assert out[1]["n_events"] == 4


def test_rate_limit_same_second_ties_symmetric(spark):
    from mintpy_spark.operators.cadence import rate_limit_audit

    # three events in the SAME second: RANGE framing counts all three for
    # each of them regardless of intra-second order
    rows = [(1, _ts(0, 5)), (1, _ts(0, 5)), (1, _ts(0, 5))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    r = rate_limit_audit(df, limit=2).collect()[0]
    assert (r["max_in_window"], r["windows_over"]) == (3, 3)
