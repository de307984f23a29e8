"""Sampling-cadence profiling: inter-arrival statistics per series.

A 10^12-page crawl needs to know each url's observation cadence before
trusting any per-url statistic: gap-fill horizon choice, staleness SLAs,
and scrape-scheduler feedback all key off "how regularly is this series
sampled, and how bursty is it". The classic summary is the
coefficient of variation (CV) of inter-arrival times — CV ≈ 0 for a
metronomic crawler, CV = 1 for a Poisson process, CV > 1 for bursty
arrivals (public queueing-theory convention).

Reference analog: MintPy profiles its acquisition cadence the same way
before network inversion — `utils/ptime.py` date-list statistics and the
temporal-baseline histogram (`plot_network`) summarize gap regularity so
the user can judge interpolation risk; this operator is that diagnostic
as one windowed aggregation per series.

Exact-partials discipline (operators/anomaly.py): gaps are integer epoch
MICROseconds (sub-second bursts are real gaps, not zeros — testdata
timestamps carry microsecond components); n, Σg (int64 — 10^6 gaps of a
month each is ~2.6e18, inside int64) and Σg² (DECIMAL(38,0) — a 30-day
gap squared is ~7e24 and would overflow int64 alone) are exact, so the
final float sqrt/divide sequence sees identical inputs on every engine
and partitioning.

Plan shape: one lag window over (key ORDER BY ts) + one hash agg — the
same single-Exchange shape as every per-key operator here; free when the
input is already hash-partitioned on the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def interarrival_stats(
    obs: DataFrame,
    key: str = "url",
    ts: str = "warc_ts",
    min_gaps: int = 2,
) -> DataFrame:
    """(key, n_gaps, mean_gap_s, cv) — sample-CV of the series'
    inter-arrival seconds.

    cv = sample_std(gaps) / mean(gaps)
       = sqrt((n·Σg² − (Σg)²) / (n−1) / n) · n / Σg

    evaluated in that exact op order on both engines (CV is
    scale-invariant, so microsecond gaps give the same CV as second
    gaps — just without the sub-second truncation artifacts;
    ``mean_gap_s`` converts to seconds only at the final division).
    Series with fewer than ``min_gaps`` gaps or zero total span (all
    samples at one instant) are dropped — CV is undefined there.
    Duplicate timestamps contribute 0-gap evidence (legitimate bursts,
    they RAISE the CV), they are not filtered."""
    dec = "decimal(38,0)"
    w = Window.partitionBy(key).orderBy(ts)
    e = F.unix_micros(F.col(ts).cast("timestamp"))
    g = (e - F.lag(e).over(w)).alias("_g")
    staged = obs.select(key, g).where(F.col("_g").isNotNull())
    gd = F.col("_g").cast(dec)
    agg = staged.groupBy(key).agg(
        F.count("_g").alias("n_gaps"),
        F.sum("_g").alias("_s1"),
        F.sum(gd * gd).alias("_s2"),
    )
    n = F.col("n_gaps")
    s1, s2 = F.col("_s1"), F.col("_s2")
    nvar = n.cast(dec) * s2 - s1.cast(dec) * s1.cast(dec)
    cv = (
        F.sqrt(nvar.cast("double") / (n - F.lit(1)).cast("double") / n.cast("double"))
        * n.cast("double")
        / s1.cast("double")
    )
    return agg.where((n >= F.lit(min_gaps)) & (s1 > 0)).select(
        key,
        "n_gaps",
        F.round(
            s1.cast("double") / n.cast("double") / F.lit(1000000.0), 4
        ).alias("mean_gap_s"),
        F.round(cv, 4).alias("cv"),
    )


def rate_limit_audit(
    events: DataFrame,
    window_s: int = 3600,
    limit: int = 3,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(key, n_events, max_in_window, windows_over, violated): the
    sliding-window rate-limiter audit — for every event, how many of the
    key's events fall in the trailing ``window_s`` seconds (inclusive),
    and which keys ever exceed ``limit`` in one window.

    The abuse-gate twin of interarrival_stats: CV profiles average
    burstiness, this finds the WORST window exactly (scrape throttling,
    bot gating, API quota enforcement all key off max-in-window, not
    the mean).  Reference analog: the redundant-acquisition screen in
    MintPy's network selection (too many acquisitions inside one
    temporal-baseline window adds no information and skews weights).

    Plan: ONE Exchange on the key for a RANGE window ordered by integer
    epoch seconds (sort within partitions only), then a per-key hash
    agg.  RANGE (not ROWS) makes same-second events symmetric, so the
    count is order-independent under ties — deterministic at any
    parallelism, no tiebreak column needed.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy("_s")
        .rangeBetween(-(window_s - 1), 0)
    )
    staged = events.select(
        key_col,
        F.expr(
            f"unix_micros(CAST({ts_col} AS TIMESTAMP)) DIV 1000000"
        ).alias("_s"),
    ).withColumn("_cnt", F.count(F.lit(1)).over(w))
    return staged.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("_cnt").cast("long").alias("max_in_window"),
        F.sum((F.col("_cnt") > limit).cast("long"))
        .cast("long")
        .alias("windows_over"),
        F.max(F.col("_cnt") > limit).alias("violated"),
    )
