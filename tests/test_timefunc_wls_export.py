"""WLS + bootstrap uncertainty in fit_time_func."""

from __future__ import annotations

import datetime as dt

import numpy as np

from mintpy_spark.operators.timefunc import fit_time_func


def _series(spark, noisy_weight=False):
    """y = 10 + 5*t(+noise); half the points get huge noise but ~zero
    weight, so WLS must recover the clean slope while OLS cannot."""
    rows = []
    rng = np.random.default_rng(42)
    for k in range(120):
        t = dt.datetime(2023, 1, 1) + dt.timedelta(days=3 * k)
        dy = 3 * k / 365.25
        clean = 10.0 + 5.0 * dy
        if k % 2 == 0:
            rows.append(("u", t, clean, 1.0))
        else:
            rows.append(("u", t, clean + float(rng.normal(0, 50.0)), 1e-6))
    return spark.createDataFrame(rows, "url string, warc_ts timestamp, v double, w double")


def test_wls_downweights_noisy_points(spark):
    df = _series(spark)
    ols = fit_time_func(df, "v", {"polynomial": 1}, ref_year=2023.0).first()
    wls = fit_time_func(
        df, "v", {"polynomial": 1}, ref_year=2023.0, weight_col="w"
    ).first()
    assert abs(wls.velocity - 5.0) < 0.05  # clean slope recovered
    assert abs(wls.velocity - 5.0) < abs(ols.velocity - 5.0)


def test_bootstrap_std_close_to_residue_std(spark):
    rows = []
    rng = np.random.default_rng(7)
    for k in range(100):
        t = dt.datetime(2023, 1, 1) + dt.timedelta(days=3 * k)
        dy = 3 * k / 365.25
        rows.append(("u", t, 10.0 + 5.0 * dy + float(rng.normal(0, 1.0))))
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, v double")
    res = fit_time_func(df, "v", {"polynomial": 1}, ref_year=2023.0).first()
    boot = fit_time_func(
        df, "v", {"polynomial": 1}, ref_year=2023.0,
        uncertainty="bootstrap", bootstrap_count=200,
    ).first()
    assert abs(boot.velocity - res.velocity) < 1e-9  # same point estimate
    assert 0.3 < boot.velocity_std / res.velocity_std < 3.0
    # deterministic across reruns (counter-seeded per key)
    boot2 = fit_time_func(
        df, "v", {"polynomial": 1}, ref_year=2023.0,
        uncertainty="bootstrap", bootstrap_count=200,
    ).first()
    assert boot.velocity_std == boot2.velocity_std
