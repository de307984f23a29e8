"""Operator semantics: deltas, referencing, stats, filters, masks."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from mintpy_spark.operators.diff import (
    pair_deltas,
    reconstruct_pair_from_series,
    temporal_derivative,
)
from mintpy_spark.operators.filters import gaussian_filter
from mintpy_spark.operators.gapfill import gapfill
from mintpy_spark.operators.mask import (
    apply_mask,
    live,
    threshold_mask,
    tombstone,
)
from mintpy_spark.operators.reference import reference_in_time
from mintpy_spark.operators.stats import (
    epoch_std_rms,
    mad_outlier_epochs,
    spatial_average,
)


def test_derivative_sums_to_range(obs):
    """Telescoping: sum of lag-1 diffs == last - first per key."""
    d = temporal_derivative(obs, "text_length").groupBy("url").agg(
        F.sum("deriv").alias("s")
    )
    rng = obs.groupBy("url").agg(
        (F.max_by("text_length", "warc_ts") - F.min_by("text_length", "warc_ts")).alias("r")
    )
    bad = d.join(rng, "url").where(F.abs(F.col("s") - F.col("r")) > 1e-6)
    assert bad.count() == 0


def test_pair_reconstruction_residual_zero(obs):
    """Pairs built from the series itself reconstruct exactly: the SBAS
    closure property (ifgram_inversion.py:194-196)."""
    pairs = pair_deltas(obs, "text_length", max_lag=2)
    series = gapfill(obs, "text_length", tier="1h", mode="last_obs")
    # evaluate series at the pair endpoints' hour buckets
    from mintpy_spark.functions.timefn import bucket_start

    p = pairs.withColumn("ts1", bucket_start(F.col("ts1"), "1h")).withColumn(
        "ts2", bucket_start(F.col("ts2"), "1h")
    )
    r = reconstruct_pair_from_series(series, p, "value")
    # residual is zero whenever the bucket kept the same obs the pair used
    assert r.where(F.abs("delta_residual") > 1e-6).count() < r.count() * 0.05


def test_reference_in_time_first_zero(obs):
    r = reference_in_time(obs, "text_length")
    firsts = r.groupBy("url").agg(F.min_by("text_length", "warc_ts").alias("f"))
    assert firsts.agg(F.max(F.abs("f"))).collect()[0][0] == 0


def test_spatial_average_median(obs):
    day = obs.withColumn("b", F.date_trunc("day", "warc_ts"))
    med = spatial_average(day, "text_length", time_col="b", use_median=True)
    assert "spatial_med" in med.columns and med.count() > 0


def test_epoch_rms_and_mad(obs):
    day = obs.withColumn("b", F.date_trunc("day", "warc_ts"))
    rms = epoch_std_rms(day, "text_length", time_col="b")
    assert rms.count() > 0
    out = mad_outlier_epochs(rms, time_col="b")
    assert out.count() >= 0


def test_gaussian_filter_smooths(obs):
    sm = gaussian_filter(obs, "text_length", sigma_days=30.0)
    # smoothing reduces per-key variance of the signal
    v0 = obs.groupBy("url").agg(F.var_pop("text_length").alias("v"))
    v1 = sm.groupBy("url").agg(F.var_pop("smoothed").alias("v"))
    j = v0.join(v1.withColumnRenamed("v", "vs"), "url").agg(
        F.avg((F.col("vs") < F.col("v")).cast("int"))
    ).collect()[0][0]
    assert j > 0.9


def test_masks_and_retention(spark, obs):
    masked = apply_mask(obs, "text_length", threshold_mask(F.col("text_length"), vmin=300))
    assert masked.where(F.col("text_length") < 300).count() == 0
    t = tombstone(obs, F.col("lang") == "en")
    assert live(t).where(F.col("lang") == "en").count() == 0


def test_deramp_quadratic_removes_exact_parabola(spark):
    """A pure quadratic cross-section deramps to ~0 everywhere; the linear
    deramp cannot (ramp.py 'quadratic' vs 'linear' orders)."""
    import pandas as pd

    from mintpy_spark.operators.stats import deramp_epoch

    rows = []
    for day in ["2024-01-01", "2024-01-02"]:
        for x in range(-10, 11):
            v = 5.0 + 0.75 * x + 0.2 * x * x
            rows.append((pd.Timestamp(day), float(x), v))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["day", "x", "v"]))
    out2 = deramp_epoch(df, "v", coord_col="x", time_col="day", order=2)
    resid2 = out2.agg(F.max(F.abs("deramped"))).collect()[0][0]
    assert resid2 < 1e-9
    out1 = deramp_epoch(df, "v", coord_col="x", time_col="day", order=1)
    resid1 = out1.agg(F.max(F.abs("deramped"))).collect()[0][0]
    assert resid1 > 1.0  # the parabola survives a linear fit


def test_deramp_quadratic_degenerate_epoch_falls_back(spark):
    """Two distinct coordinates cannot support a quadratic -> linear
    fallback, which fits two points exactly."""
    import pandas as pd

    from mintpy_spark.operators.stats import deramp_epoch

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "day": [pd.Timestamp("2024-01-01")] * 2,
                "x": [0.0, 1.0],
                "v": [3.0, 7.0],
            }
        )
    )
    out = deramp_epoch(df, "v", coord_col="x", time_col="day", order=2)
    resid = out.agg(F.max(F.abs("deramped"))).collect()[0][0]
    assert resid < 1e-9


def test_mad_outlier_collect_free(spark):
    """mad_outlier_epochs flags exactly the planted outlier and builds a
    single lazy plan (no driver collect inside the operator)."""
    import pandas as pd

    from mintpy_spark.operators.stats import mad_outlier_epochs

    rms = [1.0, 1.1, 0.9, 1.05, 0.95, 1.02, 9.0]
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "warc_ts": pd.date_range("2024-01-01", periods=len(rms)),
                "rms": rms,
            }
        )
    )
    out = mad_outlier_epochs(df, cutoff=3.0)
    got = out.collect()
    assert len(got) == 1 and abs(got[0]["rms"] - 9.0) < 1e-12
    # replicate the reference arithmetic
    import numpy as np

    med = float(np.median(rms))
    mad = float(np.median(np.abs(np.array(rms) - med)))
    assert all(r["rms"] > med + 3.0 * 1.4826 * mad for r in got)


def test_closure_bias_seed_and_recover(spark):
    """Plant a known loop inconsistency and recover it analytically.

    Look group of 3 keys: two flat series (zero phases) and one stepping
    by 2.0/day — the lag-1 diff (2.0) does not wrap but the lag-2 diff
    (4.0) does, so the per-key closure of the stepping key is exactly
    2*pi and the multilooked closure is wrap(2*pi/3) = 2*pi/3 every day.
    The cumulative bias series is then exactly linear with slope pi/3
    per epoch day, and the velocity solve must recover
    pi/3 * 365.25 per decimal year."""
    import datetime as dt
    import math

    from mintpy_spark.operators.diff import closure_bias_ts, seq_closure_ml
    from mintpy_spark.operators.timefunc import linear_velocity

    nd = 12
    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (k, t0 + dt.timedelta(days=j), 0.0 if k < 2 else 2.0 * j)
        for k in range(3)
        for j in range(nd)
    ]
    obs = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")

    cp = seq_closure_ml(obs, "value", conn=2, key="user_id", ts="ts", looks=10)
    got = sorted((r.d, r.cp) for r in cp.collect())
    assert len(got) == nd - 2  # num_date - conn closures
    for _d, c in got:
        assert abs(c - 2 * math.pi / 3) < 1e-9

    bias = closure_bias_ts(obs, "value", conn=2, key="user_id", ts="ts", looks=10)
    rows_b = sorted((r.d, r.bias) for r in bias.collect())
    assert len(rows_b) == nd  # ncp + conn epochs, the full day grid
    for j, (d, b) in enumerate(rows_b):
        assert d == t0 + dt.timedelta(days=j)  # epoch grid is continuous
        assert abs(b - j * math.pi / 3) < 1e-9

    vel = linear_velocity(bias, "bias", key="grp", ts="d", ref_year=2024.0)
    v = vel.collect()[0].velocity
    assert abs(v - math.pi / 3 * 365.25) < 1e-6


def test_closure_bias_matches_numpy_replica(spark):
    """closure_bias_ts == an independent NumPy replica of the reference
    pipeline (epoch grid -> wrapped pair phases -> multilook -> closure
    -> eq. 25/28 cumsum + tail) on irregular random data."""
    import datetime as dt

    from mintpy_spark.operators.diff import closure_bias_ts

    rng = np.random.default_rng(5)
    nd, nkey, conn = 10, 7, 2
    t0 = dt.datetime(2024, 5, 1)
    vals = rng.uniform(0, 100, size=(nkey, nd)).round(2)
    rows = [
        (k, t0 + dt.timedelta(days=j), float(vals[k, j]))
        for k in range(nkey)
        for j in range(nd)
    ]
    obs = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")

    def wrapnp(x):
        return -np.pi + np.mod(x + np.pi, 2 * np.pi)

    phi1 = wrapnp(vals[:, 1:] - vals[:, :-1])          # (nkey, nd-1)
    phi2 = wrapnp(vals[:, 2:] - vals[:, :-2])          # (nkey, nd-2)
    ml1, ml2 = phi1.mean(axis=0), phi2.mean(axis=0)
    cp = wrapnp(ml1[:-1] + ml1[1:] - ml2)              # (nd-2,)
    bias = np.zeros(nd)
    bias[1 : nd - conn + 1] = np.cumsum(cp)
    for i in range(nd - conn + 1, nd):
        bias[i] = (i - nd + conn) * cp[-1] + bias[nd - conn]
    bias /= conn

    got = sorted((r.d, r.bias) for r in
                 closure_bias_ts(obs, "value", conn=conn, key="user_id",
                                 ts="ts", looks=10).collect())
    assert len(got) == nd
    for j, (_d, b) in enumerate(got):
        assert abs(b - bias[j]) < 1e-9, j
