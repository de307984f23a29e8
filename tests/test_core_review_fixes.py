"""Regression tests for the tier-core review findings: NULL-bucket
merge/refresh, NaN/NULL block codec round-trips, histogram NaN binning,
and inverter robustness to malformed pairs."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

T0 = dt.datetime(2024, 1, 1)


def _obs(spark, rows):
    return spark.createDataFrame(rows, "url string, warc_ts timestamp, value double")


def test_merge_tier_delta_null_bucket_merges(spark):
    # NULL-ts observations roll into the (key, NULL) bucket; folding a
    # delta must MERGE that cell, not append a duplicate
    from mintpy_spark.operators.rollup import merge_tier_delta, rollup_from_obs

    stored = rollup_from_obs(_obs(spark, [("u", None, 5.0)]), "value", "1d")
    merged = merge_tier_delta(stored, _obs(spark, [("u", None, 7.0)]), "value", "1d")
    rows = merged.collect()
    assert len(rows) == 1
    assert rows[0].bucket_start is None
    assert rows[0].cnt == 2 and rows[0].vsum == 12.0

    # and equals a batch rebuild over the union
    rebuilt = rollup_from_obs(
        _obs(spark, [("u", None, 5.0), ("u", None, 7.0)]), "value", "1d"
    ).collect()
    assert rows == rebuilt


def test_refresh_tiers_null_bucket(spark):
    from mintpy_spark.operators.rollup import build_tiers, merge_tier_delta

    base = _obs(spark, [("u", None, 5.0), ("u", T0, 1.0)])
    stored = build_tiers(base, "value")
    late = _obs(spark, [("u", None, 7.0)])
    for t, df in stored.items():
        refreshed = merge_tier_delta(df, late, "value", t)
        got = {r.bucket_start: (r.cnt, r.vsum) for r in refreshed.collect()}
        # the NULL cell of every tier was refreshed (stale value would be
        # (1, 5.0)), and T0's cell is untouched
        assert got.pop(None) == (2, 12.0), t
        assert list(got.values()) == [(1, 1.0)], t


def test_pack_blocks_nan_and_null_value_roundtrip(spark):
    # a block holding NaN/NULL values must DECODE (nullable schema);
    # Spark NULL and NaN both canonicalize to NULL on the way back
    from mintpy_spark.codecs.blocks import pack_blocks, unpack_blocks

    rows = [
        ("u", T0, float("nan")),
        ("u", T0 + dt.timedelta(hours=1), None),
        ("u", T0 + dt.timedelta(hours=2), 1.5),
    ]
    blocks = pack_blocks(_obs(spark, rows), "value", value_dtype="float64")
    got = sorted(unpack_blocks(blocks).collect(), key=lambda r: r.warc_ts)
    assert [r.value for r in got] == [None, None, 1.5]


def test_pack_blocks_null_text_roundtrip(spark):
    # NULL text must round-trip as NULL, never the fabricated b"None"
    from mintpy_spark.codecs.blocks import pack_blocks, unpack_blocks

    rows = [
        ("u", T0, 1.0, b"alpha"),
        ("u", T0 + dt.timedelta(hours=1), 2.0, None),
        ("u", T0 + dt.timedelta(hours=2), 3.0, b""),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, value double, text binary"
    )
    blocks = pack_blocks(df, "value", text_col="text", value_dtype="float64")
    got = sorted(
        unpack_blocks(blocks, with_text=True).collect(), key=lambda r: r.warc_ts
    )
    assert [r.text for r in got] == [b"alpha", None, b""]


def test_histogram_tier_nan_goes_to_null_bin(spark):
    from mintpy_spark.operators.rollup import histogram_tier

    rows = [("u", T0, v) for v in (1.0, 2.0, 3.0, 4.0)] + [
        ("u", T0, float("nan"))
    ] * 4
    h = histogram_tier(_obs(spark, rows), "value", 0.0, 10.0, 10, "1d")
    bins = {r.bin: r.cnt for r in h.collect()}
    assert bins.get(11) is None  # NaN not in the overflow bin
    assert bins[None] == 4


def test_network_invert_malformed_pairs(spark):
    # NaT endpoint, self-pair, and bad weight rows are dropped, not fatal
    from mintpy_spark.operators.invert import network_invert

    t = [T0 + dt.timedelta(days=i) for i in range(3)]
    rows = [
        ("k", t[0], t[1], 1.0, 1.0),
        ("k", t[1], t[2], 1.0, 1.0),
        ("k", None, t[2], 9.0, 1.0),      # NaT endpoint
        ("k", t[1], t[1], 9.0, 1.0),      # self-pair
        ("k", t[0], t[2], 2.0, float("nan")),  # bad weight
    ]
    df = spark.createDataFrame(
        rows, "k string, ts1 timestamp, ts2 timestamp, delta double, w double"
    )
    out = network_invert(
        df, key="k", ts1="ts1", ts2="ts2", delta_col="delta", weight_col="w"
    ).orderBy("ts").collect()
    assert [round(r.value, 6) for r in out] == [0.0, 1.0, 2.0]


def test_compact_raw_keeps_null_value_rows(spark, tmp_path, land_days):
    # a row with an old timestamp but NULL value is unledgerable (tiers
    # count values) — compaction must keep it, not silently delete it
    from mintpy_spark.operators.retention import compact_raw
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer

    inp = str(tmp_path / "raw")
    sch = "url string, warc_ts timestamp, text_length long"
    rows = [
        ("u", dt.datetime(2023, 1, d, h, 30), 100 + d + h)
        for d in range(1, 6)
        for h in (3, 9)
    ]
    land_days(inp, rows, sch)
    # an old NULL-value row, landed later in a file of its own
    spark.createDataFrame(
        [("u", dt.datetime(2023, 1, 1, 5, 30), None)], sch
    ).write.mode("append").parquet(inp)

    m = TierMaintainer(str(tmp_path / "store"))
    m.apply_delta(spark.read.parquet(inp), batch_id=0)

    res = compact_raw(spark, inp, "2023-01-03 00:00:00", m, tier="1h")
    assert res["dropped"] == 4  # the 4 valued rows below the cutoff
    left = spark.read.parquet(inp)
    nulls = left.where(F.col("text_length").isNull()).collect()
    assert len(nulls) == 1  # survived, timestamp intact
    assert nulls[0].warc_ts == dt.datetime(2023, 1, 1, 5, 30)
    assert res["kept"] == left.count()
