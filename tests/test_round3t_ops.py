"""Round-3 batch t: HDR log-bucketed quantile sketch, Markov
transitions, diurnal entropy — property and known-answer tests."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_hdr_bucket_known_values(spark):
    from mintpy_spark.operators.sketch import hdr_bucket

    df = spark.createDataFrame(
        [(v,) for v in [1, 7, 8, 15, 16, 17, 100, 1000, 0, -5, None]],
        "v long",
    )
    out = {
        r["v"]: r["b"]
        for r in df.select("v", hdr_bucket(F.col("v")).alias("b")).collect()
    }
    # sub_bits=3: values below 16 keep all bits (s=0); at 16-31 s=1
    assert out[1] == 1 and out[7] == 7 and out[8] == 8 and out[15] == 15
    assert out[16] == 16 and out[17] == 16      # 17 -> (17>>1)<<1
    assert out[100] == 100 >> 3 << 3            # bitlen 7 -> s=3
    assert out[1000] == 1000 >> 6 << 6          # bitlen 10 -> s=6
    assert out[0] == 0 and out[-5] == 0 and out[None] is None


def test_hdr_bucket_relative_error_bound(spark):
    from mintpy_spark.operators.sketch import hdr_bucket

    vals = [(v,) for v in range(1, 5000, 7)]
    df = spark.createDataFrame(vals, "v long")
    rows = df.select("v", hdr_bucket(F.col("v")).alias("b")).collect()
    for r in rows:
        assert r["b"] <= r["v"]
        assert (r["v"] - r["b"]) / r["v"] <= 2 ** -3  # bucket lower edge


def test_hdr_merge_equals_direct_and_quantile_accuracy(spark):
    from mintpy_spark.operators.sketch import (
        hdr_merge, hdr_quantiles, hdr_tier,
    )

    data = [(i % 2, i, (i * 37) % 997 + 1) for i in range(2000)]
    df = spark.createDataFrame(data, "g int, i long, v long")
    whole = hdr_tier(df, "v", key_cols=("g",))
    halves = hdr_merge(
        hdr_tier(df.where(F.col("i") % 2 == 0), "v", key_cols=("g",))
        .unionByName(
            hdr_tier(df.where(F.col("i") % 2 == 1), "v", key_cols=("g",))
        ),
        key_cols=("g",),
    )
    assert {tuple(r) for r in whole.collect()} == {
        tuple(r) for r in halves.collect()
    }
    q95 = {
        r["g"]: r["q_approx"]
        for r in hdr_quantiles(whole, {"q_approx": 0.95}, key_cols=("g",)).collect()
    }
    import numpy as np

    for g in (0, 1):
        exact = float(
            np.percentile(
                [v for gg, _, v in data if gg == g], 95,
                method="inverted_cdf",
            )
        )
        # lower edge of the bucket containing the rank-0.95 value
        assert q95[g] <= exact and (exact - q95[g]) / exact <= 2 ** -3


def test_transition_counts_known(spark):
    import datetime as dt

    from mintpy_spark.queries_sketch2 import event_transition_top

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # user 1: a->b, b->a, a->b ; user 2: a->b
    for u, seq in [(1, "abab"), (2, "ab")]:
        for i, t in enumerate(seq):
            rows.append((eid, u, base + dt.timedelta(minutes=i), t))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    import tempfile, os

    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {
        (r["prev_type"], r["next_type"]): (r["cnt"], r["prob_bp"])
        for r in event_transition_top(spark, d).collect()
    }
    assert out[("a", "b")] == (3, 10000)
    assert out[("b", "a")] == (1, 10000)


def test_diurnal_entropy_uniform_vs_point(spark):
    import datetime as dt

    from mintpy_spark.queries_sketch2 import diurnal_entropy

    rows = []
    eid = 0
    for h in range(24):  # 'spread': one event every hour
        rows.append((eid, 1, dt.datetime(2024, 1, 1, h), "spread", 1.0))
        eid += 1
    for _ in range(24):  # 'bot': all at hour 3
        rows.append((eid, 2, dt.datetime(2024, 1, 1, 3), "bot", 1.0))
        eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, value double",
    )
    import tempfile, os

    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {r["event_type"]: r for r in diurnal_entropy(spark, d).collect()}
    assert abs(out["spread"]["entropy"] - round(math.log(24), 4)) < 1e-9
    assert out["bot"]["entropy"] == 0.0
    assert out["bot"]["peak_hour"] == 3
    assert out["spread"]["peak_hour"] == 0  # tie -> smallest hour


def test_hdr_bucket_exact_above_2_53(spark):
    # regression: a double-based floor(v/2^s)*2^s form rounds v >= 2^53
    # UP past the value (and overflows BIGINT at the top octave); the
    # integer-shift form must hold the invariants over the full range
    from mintpy_spark.operators.sketch import hdr_bucket

    vals = [2 ** 53 + 1, 2 ** 54 - 1, 2 ** 60 + 12345, 2 ** 63 - 1]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    for r in df.select("v", hdr_bucket(F.col("v")).alias("b")).collect():
        assert r["b"] <= r["v"]
        assert (r["v"] - r["b"]) / r["v"] <= 2 ** -3
        assert r["b"] == (r["v"] >> max(r["v"].bit_length() - 4, 0)) << max(
            r["v"].bit_length() - 4, 0
        )
