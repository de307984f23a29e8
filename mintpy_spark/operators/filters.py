"""Temporal smoothing filters over irregular series.

Reference analogs (objects/stack.py:481-541 ``timeseries.filter``):
* Gaussian-weighted moving average: weights exp(-dt^2 / (2 sigma^2))
  normalized over the window (stack.py:505-520),
* exponentially weighted moving average.

The running mean and median over a +-half-window (stack.py:522-528) are
plain range-frame aggregates, computed inline by the registry
(``temporal_filter_runmean``, ``temporal_filter_runmedian``) over
``_range_window``.

Spark recast: range-frame windows over unix seconds — partition-local after
one shuffle on the key. Spark has no weighted average over a range frame,
and the usual two-range-frame-sums rewrite cannot express data-dependent
weights (each weight depends on BOTH rows' timestamps), so the Gaussian
path materializes the frame via ``collect_list`` and folds it with
``aggregate()`` higher-order functions — still JVM-side, no Python.

Memory bound: the collect_list buffer is O(rows x window_width) — fine for
sparse crawl-revisit series (the target workload); for dense
high-frequency keys, pre-bucket to a coarser tier first (rollup) or use
a running mean, which needs no per-row frame materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _range_window(key: str, ts: str, half_window_days: float) -> Window:
    # microsecond-precision frame bounds: casting to whole seconds would
    # shift membership of observations landing within 1s of the boundary
    half = int(half_window_days * 86400) * 1_000_000
    return (
        Window.partitionBy(key)
        .orderBy(F.unix_micros(F.col(ts).cast("timestamp")))
        .rangeBetween(-half, half)
    )


def gaussian_filter(
    obs: DataFrame,
    value_col: str,
    sigma_days: float = 30.0,
    truncate: float = 3.0,
    key: str = "url",
    ts: str = "warc_ts",
) -> DataFrame:
    """Gaussian-weighted temporal smoothing (stack.py:505-520).

    For each row: smoothed = sum(w_i * v_i) / sum(w_i) over neighbors within
    +-truncate*sigma, w_i = exp(-dt_i^2 / (2 sigma^2)). Implemented with a
    range-frame collect of (t, v) pairs + higher-order ``aggregate`` —
    all JVM expressions, no Python UDF; window size is bounded by the
    truncation radius so the collected list stays small.
    """
    w = _range_window(key, ts, sigma_days * truncate)
    t = F.col(ts).cast("timestamp").cast("double")
    pairs = F.collect_list(F.struct(t.alias("t"), F.col(value_col).cast("double").alias("v"))).over(w)
    sig2 = 2.0 * (sigma_days * 86400.0) ** 2
    num = F.aggregate(
        F.col("_pairs"),
        F.lit(0.0),
        lambda acc, x: acc + x["v"] * F.exp(-F.pow(x["t"] - t, 2) / F.lit(sig2)),
    )
    den = F.aggregate(
        F.col("_pairs"),
        F.lit(0.0),
        lambda acc, x: acc + F.exp(-F.pow(x["t"] - t, 2) / F.lit(sig2)),
    )
    return (
        obs.withColumn("_pairs", pairs)
        .withColumn("smoothed", num / den)
        .drop("_pairs")
    )


def ewma_filter(
    obs: DataFrame,
    value_col: str,
    alpha: float = 0.3,
    max_lag: int = 8,
    key: str = "url",
    ts: str = "warc_ts",
) -> DataFrame:
    """Truncated exponentially-weighted moving average over the last
    ``max_lag`` observations (inclusive of the current one).

    The third member of the reference's temporal-filter family
    (stack.py:481-541 has Gaussian and running-median kernels; the
    exponential kernel is the streaming-friendly one — public
    literature, e.g. Holt/Brown simple exponential smoothing).  Exact
    truncated form: weights (1-alpha)^j for the observation j steps
    back, normalized over the lags that EXIST (series starts are
    normalized over the shorter window, the same convention the
    Gaussian kernel uses for partial windows).

    Plan shape: max_lag lag columns over one window — a single hash
    shuffle on ``key``, no frame materialization, no Python.  Weights
    are driver-computed double literals so an oracle can inline the
    identical constants (literal-constants discipline).
    """
    w = Window.partitionBy(key).orderBy(ts)
    weights = [(1.0 - alpha) ** j for j in range(max_lag + 1)]
    terms = [
        (F.lag(F.col(value_col).cast("double"), j).over(w), F.lit(weights[j]))
        for j in range(max_lag + 1)
    ]
    num = None
    den = None
    for v, wt in terms:
        t_num = F.when(v.isNotNull(), v * wt).otherwise(F.lit(0.0))
        t_den = F.when(v.isNotNull(), wt).otherwise(F.lit(0.0))
        num = t_num if num is None else num + t_num
        den = t_den if den is None else den + t_den
    return obs.select(
        key,
        ts,
        F.col(value_col).alias("value"),
        (num / den).alias("ewma"),
    )
