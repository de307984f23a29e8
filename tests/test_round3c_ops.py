"""Round-3 batch-c operators: Theil-Sen robust velocity, shingle drift,
LTOB downsampling, scalar-quantized similarity. Planted-truth and replica
checks beyond the driver oracles."""

from __future__ import annotations

import datetime as dt
import itertools

import numpy as np
from pyspark.sql import functions as F


def _series(spark, rows):
    return spark.createDataFrame(rows, "url string, warc_ts timestamp, v double")


# ---------------------------------------------------------------------------
# Theil-Sen
# ---------------------------------------------------------------------------

def test_theilsen_recovers_slope_through_outlier(spark):
    """A gross outlier drags OLS but not the banded Theil-Sen median."""
    from mintpy_spark.operators.robust import theil_sen_velocity
    from mintpy_spark.operators.timefunc import linear_velocity

    t0 = dt.datetime(2024, 1, 1)
    true_slope_per_day = 2.0
    rows = []
    for i in range(30):
        v = true_slope_per_day * i
        if i == 15:
            v += 1000.0  # one corrupted epoch
        rows.append(("a", t0 + dt.timedelta(days=i), v))
    df = _series(spark, rows)
    ts_row = theil_sen_velocity(
        df, "v", key="url", ts="warc_ts", max_lag=None
    ).first()
    ols_row = linear_velocity(df, "v", key="url", ts="warc_ts").first()
    per_year = true_slope_per_day * 365.25
    assert abs(ts_row.velocity - per_year) < 1e-6
    assert abs(ols_row.velocity - per_year) > 50  # OLS is dragged off


def test_theilsen_band_matches_numpy_replica(spark):
    """Banded slope set (rank distance <= k) must equal the NumPy
    replica's median exactly."""
    from mintpy_spark.operators.robust import theil_sen_velocity

    rng = np.random.default_rng(5)
    t0 = dt.datetime(2024, 1, 1)
    days = np.sort(rng.choice(np.arange(0, 120), size=25, replace=False))
    vals = rng.normal(0.0, 3.0, size=25).round(2)
    rows = [
        ("a", t0 + dt.timedelta(days=int(d), hours=int(h)), float(v))
        for d, h, v in zip(days, rng.integers(0, 24, 25), vals)
    ]
    df = _series(spark, rows)
    k = 5
    out = theil_sen_velocity(df, "v", key="url", ts="warc_ts", max_lag=k).first()

    # numpy replica with the identical decimal-year convention
    def dy(d):
        doy = (d - dt.datetime(d.year, 1, 1)).days
        return d.year + (doy + d.hour / 24.0) / 365.25

    pts = sorted((dy(r[1]), r[2]) for r in rows)
    slopes = [
        (pts[j][1] - pts[i][1]) / (pts[j][0] - pts[i][0])
        for i, j in itertools.combinations(range(len(pts)), 2)
        if j - i <= k and pts[j][0] > pts[i][0]
    ]
    assert out.num_pairs == len(slopes)
    assert abs(out.velocity - float(np.median(slopes))) < 1e-9


# ---------------------------------------------------------------------------
# Shingle drift
# ---------------------------------------------------------------------------

def test_shingle_drift_known_sets(spark):
    from mintpy_spark.operators.drift import shingle_drift

    docs = spark.createDataFrame(
        [
            ("s", 1, "a b c d"),          # shingles {abc, bcd}
            ("s", 2, "a b c d"),          # identical -> jaccard 1
            ("s", 3, "x y z w"),          # disjoint  -> jaccard 0
            ("s", 4, "x y z q"),          # {xyz, yzq} vs {xyz, yzw} -> 1/3
            ("t", 1, "a b"),              # < 3 words -> empty set
            ("t", 2, "a b c"),            # {abc} vs {} -> union 1, inter 0
        ],
        "source string, doc_id long, text string",
    )
    out = {
        (r.source, r.doc_id): (r.inter, r.union_sz, r.jaccard)
        for r in shingle_drift(docs).collect()
    }
    assert out[("s", 2)] == (2, 2, 1.0)
    assert out[("s", 3)] == (0, 4, 0.0)
    assert out[("s", 4)] == (1, 3, 0.3333)
    assert out[("t", 2)] == (0, 1, 0.0)
    assert ("s", 1) not in out and ("t", 1) not in out  # no predecessor


# ---------------------------------------------------------------------------
# LTOB
# ---------------------------------------------------------------------------

def test_ltob_picks_largest_triangle_and_edges(spark):
    from mintpy_spark.operators.downsample import ltob_downsample

    t0 = dt.datetime(2024, 1, 2)
    # day 0: interior candidates; the spike at hour 2 wins.  The h4 point
    # shields the spike's rivals from gap-inflated areas (a point bordering
    # a long gap legitimately carries a big triangle in LTOB).
    rows = [
        ("a", t0 - dt.timedelta(hours=1), 0.0),          # day -1 (edge: first)
        ("a", t0 + dt.timedelta(hours=1), 1.0),
        ("a", t0 + dt.timedelta(hours=2), 50.0),         # spike -> biggest area
        ("a", t0 + dt.timedelta(hours=3), 1.2),
        ("a", t0 + dt.timedelta(hours=4), 1.3),
        ("a", t0 + dt.timedelta(days=1, hours=1), 1.4),  # day +1 (edge: last)
    ]
    out = ltob_downsample(_series(spark, rows), "v", tier="1d", key="url", ts="warc_ts")
    picked = {r.bucket_start: (r.ts, r.value, r.area2) for r in out.collect()}
    # every bucket yields exactly one row
    assert len(picked) == 3
    spike = picked[t0]
    assert spike[0] == t0 + dt.timedelta(hours=2) and spike[1] == 50.0
    # edge rows (first/last of the key) have NULL area but are still elected
    # when their bucket holds nothing else
    assert picked[t0 - dt.timedelta(days=1)][2] is None
    assert picked[t0 + dt.timedelta(days=1)][2] is None


def test_ltob_area_is_exact_integer(spark):
    """area2 equals the hand-computed integer cross product."""
    from mintpy_spark.operators.downsample import ltob_downsample

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("a", t0 + dt.timedelta(hours=0), 1.00),
        ("a", t0 + dt.timedelta(hours=1), 3.50),
        ("a", t0 + dt.timedelta(hours=2), 2.00),
    ]
    out = ltob_downsample(_series(spark, rows), "v", tier="1d", key="url", ts="warc_ts")
    row = out.first()
    h = 3_600_000_000  # one hour in us
    # (tp - tn)*(v - vp) - (tp - t)*(vn - vp) with v scaled by 100
    expect = abs((-2 * h) * (350 - 100) - (-1 * h) * (200 - 100))
    assert row.area2 == expect and row.value == 3.5


# ---------------------------------------------------------------------------
# Scalar quantization
# ---------------------------------------------------------------------------

def test_sq_quantize_engine_matches_driver_formula(spark):
    """The Spark-side floor(x*scale + 0.5) must equal the Python/NumPy
    quantization at exact half-points (where ROUND would diverge)."""
    from mintpy_spark.operators.similarity import sq_quantize

    xs = [-0.5 / 128, -0.00390625, 0.0, 0.00390625, 0.5 / 128, 0.123456]
    df = spark.createDataFrame([([float(x) for x in xs],)], "embedding array<float>")
    got = df.select(sq_quantize(F.col("embedding"), 128.0).alias("q")).first().q
    expect = [
        int(np.floor(np.float64(np.float32(x)) * 128.0 + 0.5)) for x in xs
    ]
    assert got == expect


# ---------------------------------------------------------------------------
# EWMA
# ---------------------------------------------------------------------------

def test_ewma_matches_numpy_truncated_kernel(spark):
    from mintpy_spark.operators.filters import ewma_filter

    rng = np.random.default_rng(9)
    t0 = dt.datetime(2024, 1, 1)
    vals = rng.normal(0, 2, 12).round(2)
    rows = [("a", t0 + dt.timedelta(hours=i), float(v)) for i, v in enumerate(vals)]
    alpha, K = 0.3, 4
    out = (
        ewma_filter(_series(spark, rows), "v", alpha=alpha, max_lag=K,
                    key="url", ts="warc_ts")
        .orderBy("warc_ts")
        .collect()
    )
    w = np.array([(1 - alpha) ** j for j in range(K + 1)])
    for i, r in enumerate(out):
        lo = max(0, i - K)
        window = vals[lo : i + 1][::-1]  # j=0 is the current row
        expect = float((window * w[: len(window)]).sum() / w[: len(window)].sum())
        assert abs(r.ewma - expect) < 1e-12, (i, r.ewma, expect)
