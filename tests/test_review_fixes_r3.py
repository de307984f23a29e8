"""Regression tests for the round-3 review findings: NULL/non-finite
edges in the sketch/counter/corr/anomaly operators, num_perm wiring in
the streaming dedup index, shingle whitespace semantics, and the
multimodal sniffer/stub edges."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

T0 = dt.datetime(2024, 1, 1)


def _ts(h):
    return T0 + dt.timedelta(hours=h)


def test_kmv_null_item_never_occupies_rank_slot(spark):
    # k=4 distinct non-NULL items + one NULL: the sketch must hold the 4
    # smallest REAL hashes (n_kept == k -> estimator branch), not k-1
    from mintpy_spark.operators.sketch import kmv_estimate, kmv_tier

    rows = [(f"u{i}", _ts(i)) for i in range(6)] + [(None, _ts(6))]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    sk = kmv_tier(df, "user_id", tier="1d", ts="ts", k=4)
    est = kmv_estimate(sk, k=4).collect()
    assert len(est) == 1
    r = est[0]
    assert r.n_kept == 4  # NULL neither kept nor displacing
    assert r.est_distinct > 4  # estimator branch, not the bogus "exact" k-1


def test_counter_null_sample_does_not_break_lag_chain(spark):
    from mintpy_spark.operators.counter import counter_increase

    rows = [
        ("u", _ts(0), 100),
        ("u", _ts(1), None),  # missed scrape
        ("u", _ts(2), 150),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, c long")
    out = counter_increase(df, "c", tier="30d").collect()
    assert len(out) == 1
    r = out[0]
    assert r.increase == 50  # climb across the gap is NOT lost
    assert r.n_resets == 0
    assert r.n_samples == 2  # non-NULL samples only


def test_exact_group_corr_ignores_null_metric_rows(spark):
    from mintpy_spark.operators.anomaly import exact_group_corr

    rows = [("g", 1, 1), ("g", 2, 2), ("g", 3, 3), ("g", None, 4)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = exact_group_corr(df, F.col("x"), F.col("y"), group="g").collect()
    assert len(out) == 1
    assert out[0].n == 3
    assert out[0].corr == pytest.approx(1.0)


def test_quantize_fixed_nulls_infinities(spark):
    from mintpy_spark.operators.anomaly import quantize_fixed

    df = spark.createDataFrame(
        [(1.5,), (float("inf",),), (float("-inf"),), (float("nan"),), (None,)],
        "v double",
    )
    got = [r.q for r in df.select(quantize_fixed(F.col("v")).alias("q")).collect()]
    assert got == [150, None, None, None, None]


def test_dedup_index_respects_num_perm(spark, tmp_path):
    # num_perm=8 used to crash at probe time (bands hard-wired to m0..m15)
    from mintpy_spark.streaming.dedup_stream import DedupIndexMaintainer

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "totally different words here")],
        "doc_id long, text string",
    )
    m = DedupIndexMaintainer(str(tmp_path / "idx"), num_perm=8, threshold=0.9)
    pairs = m.apply_batch(docs, batch_id=0)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_lsh_shape_any_num_perm():
    from mintpy_spark.operators.dedup import lsh_shape

    for p in (1, 2, 3, 4, 6, 8, 15, 16, 20, 32):
        bands, rows = lsh_shape(p)
        assert bands * rows == p and 1 <= rows <= 4


def test_shingle_set_whitespace_semantics(spark):
    from mintpy_spark.operators.drift import shingle_set

    df = spark.createDataFrame(
        [("a  b c",), ("a b c",), ("   ",)], "t string"
    )
    got = [sorted(r.s) for r in
           df.select(shingle_set(F.col("t"), 3).alias("s")).collect()]
    assert got[0] == got[1] == ["a b c"]  # double space is cosmetic
    assert got[2] == []  # whitespace-only doc -> empty set


def test_sniffer_riff_requires_wave_tag():
    from mintpy_spark.operators.multimodal import sniff_media_type

    assert sniff_media_type(b"RIFF\x10\x00\x00\x00ACON" + b"\x00" * 8) == \
        "application/octet-stream"
    assert sniff_media_type(b"RIFF\x10\x00\x00\x00WAVEfmt ") == "audio/wav"
