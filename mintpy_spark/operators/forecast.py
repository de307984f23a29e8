"""Seasonal-naive forecast skill scoring (MASE) over the 1d count tier.

Reference analog: the reference validates its time-function models by
residual statistics per pixel (timeseries2velocity.py:404-415 residue;
timeseries_rms.py RMS ranking). The public forecasting counterpart is
the MASE skill score (Hyndman & Koehler 2006, "Another look at measures
of forecast accuracy"): a model's mean absolute error scaled by the
in-sample mean absolute error of the naive-1 forecast. Here the "model"
is the seasonal-naive baseline every capacity-planning pipeline starts
from — forecast(day d) = count(d - 7) — scored per series key.

Exactness: counts are integers, both error sums are integer sums, and
the reported ratio is the portable floor(x*1e4 + 0.5) basis-point
quantization of an integer-over-integer division — bit-reproducible
across engines and partitionings (same discipline as
operators/anomaly.burst_ratio_daily).

Plan shape: the daily-count agg shuffles once on (key, day); the two
lagged references come from ONE window pass over (key ORDER BY
epoch-day) using exact-offset RANGE frames ([-7,-7] and [-1,-1]) — a
gap day yields an empty frame (NULL) rather than silently reading the
previous *active* day, which is what a ROWS-frame lag would wrongly do.
Both Exchanges carry post-partial-agg rows only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mintpy_spark.functions.timefn import bucket_start


def snaive_mase_daily(
    events: DataFrame, key: str = "event_type", ts: str = "ts",
    season_days: int = 7,
) -> DataFrame:
    """Per-key MASE of the seasonal-naive forecast on the 1d count
    tier. Returns (key, n_scored, err_s, n_naive, err_1, mase_bp):
    err_s = Σ|c(d) − c(d−season)| over days where the seasonal lag
    exists (n_scored of them), err_1 = Σ|c(d) − c(d−1)| over days where
    the 1-day lag exists (n_naive), and
    mase_bp = floor((err_s/n_scored) / (err_1/n_naive) * 1e4 + 0.5) —
    NULL when either denominator is empty or err_1 = 0 (a metronomic
    series has no naive error to scale by). mase_bp < 10000 means the
    seasonal forecast beats naive-1."""
    day = bucket_start(F.col(ts).cast("timestamp"), "1d")
    c = (
        events.groupBy(F.col(key).alias(key), day.alias("bucket_day"))
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("d", F.datediff("bucket_day", F.lit("1970-01-01")))
    )
    w_s = (
        Window.partitionBy(key).orderBy("d")
        .rangeBetween(-season_days, -season_days)
    )
    w_1 = Window.partitionBy(key).orderBy("d").rangeBetween(-1, -1)
    lagged = c.withColumn("c_s", F.sum("c").over(w_s)).withColumn(
        "c_1", F.sum("c").over(w_1)
    )
    err_s = F.sum(F.abs(F.col("c") - F.col("c_s")))
    n_s = F.count(F.col("c_s"))
    err_1 = F.sum(F.abs(F.col("c") - F.col("c_1")))
    n_1 = F.count(F.col("c_1"))
    agg = lagged.groupBy(key).agg(
        n_s.cast("long").alias("n_scored"),
        err_s.cast("long").alias("err_s"),
        n_1.cast("long").alias("n_naive"),
        err_1.cast("long").alias("err_1"),
    )
    mase = F.floor(
        (F.col("err_s") / F.col("n_scored"))
        / (F.col("err_1") / F.col("n_naive"))
        * F.lit(10000.0)
        + F.lit(0.5)
    ).cast("long")
    return agg.select(
        key,
        "n_scored",
        F.coalesce("err_s", F.lit(0)).alias("err_s"),
        "n_naive",
        F.coalesce("err_1", F.lit(0)).alias("err_1"),
        F.when(
            (F.col("n_scored") > 0) & (F.col("err_1") > 0)
            & (F.col("n_naive") > 0),
            mase,
        ).alias("mase_bp"),
    )


HOLT_SCHEMA = (
    "key string, n_train long, n_test long, l_end_micro long, b_end_micro long,"
    " denom long, sum_abs_err_micro long, mase_micro long"
)


def holt_linear_mase_daily(
    events: DataFrame, key: str = "event_type", ts: str = "ts",
    horizon: int = 7,
) -> DataFrame:
    """Holt linear-trend (double exponential smoothing) forecast skill on
    the 1d count tier, scored by MASE on the last ``horizon`` days.

    The level/trend recursion (Holt 1957; Hyndman & Athanasopoulos,
    "Forecasting: Principles and Practice", ch. 8.1) runs per key over the
    train split (all but the last ``horizon`` observed days):

        l_2 = y_2,  b_2 = y_2 - y_1
        l_t = 0.5*y_t + 0.5*(l_{t-1} + b_{t-1})          (alpha = 1/2)
        b_t = 0.25*(l_t - l_{t-1}) + 0.75*b_{t-1}         (gamma = 1/4)
        forecast(h) = l_T + h * b_T

    Smoothing constants are DYADIC rationals written identically in the
    engine and the oracle, and every recursion step is the same IEEE
    double expression tree, so the state is bit-identical between this
    per-key fold (plain Python floats) and a DuckDB recursive CTE —
    an iterative algorithm that still hash-matches a SQL oracle. Forecast
    errors are micro-quantized per horizon step BEFORE summation (integer
    sums, order-free); the MASE denominator (in-sample naive-1 error) is
    a pure integer sum.

    Scale shape: the daily agg shuffles once on (key, day); the fold
    runs on the shared sequential-state seam (operators/seqstate.py:
    one Arrow frame per key-sorted partition chunk, not one per key) —
    O(days) state, millions of keys parallelize across executors.
    Keys with fewer than horizon + 2 observed days are dropped (the
    recursion needs 2 train points).
    """
    import math

    import pandas as pd

    day = bucket_start(F.col(ts).cast("timestamp"), "1d")
    daily = (
        events.groupBy(F.col(key).alias("key"), day.alias("bucket_day"))
        .agg(F.count(F.lit(1)).alias("y"))
    )

    h_n = int(horizon)

    cols = ["key", "n_train", "n_test", "l_end_micro", "b_end_micro",
            "denom", "sum_abs_err_micro", "mase_micro"]

    def fold_sorted(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for kval, g in pdf.groupby("key", sort=False):
            y = [int(v) for v in g["y"]]
            n = len(y)
            n_train = n - h_n
            if n_train < 2:
                continue
            l = float(y[1])
            b = float(y[1] - y[0])
            for t in range(2, n_train):
                l_new = 0.5 * y[t] + 0.5 * (l + b)
                b_new = 0.25 * (l_new - l) + 0.75 * b
                l, b = l_new, b_new
            denom = sum(abs(y[t] - y[t - 1]) for t in range(1, n_train))
            s_err = 0
            for h in range(1, h_n + 1):
                f = l + float(h) * b
                s_err += int(
                    math.floor(abs(float(y[n_train + h - 1]) - f) * 1e6 + 0.5)
                )
            if denom > 0:
                mase = int(math.floor(
                    (float(s_err) * float(n_train - 1))
                    / (float(h_n) * float(denom) * 1e6) * 1e6 + 0.5))
            else:
                mase = None
            rows.append({
                "key": kval,
                "n_train": n_train,
                "n_test": h_n,
                "l_end_micro": int(math.floor(l * 1e6 + 0.5)),
                "b_end_micro": int(math.floor(b * 1e6 + 0.5)),
                "denom": denom,
                "sum_abs_err_micro": s_err,
                "mase_micro": mase,
            })
        return pd.DataFrame(rows, columns=cols)

    from mintpy_spark.operators.seqstate import map_sorted_groups

    return map_sorted_groups(
        daily, "key", ("bucket_day",), fold_sorted, HOLT_SCHEMA
    )
