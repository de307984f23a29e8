"""Aggregation statistics over the (key × time) grid.

Reference analogs (SURVEY.md §2.4):
* spatial_average  — per-epoch mean across pixels (stack.py:434-449); here
  per-timestamp/bucket mean across urls.
* temporal_average — per-pixel mean across time (stack.py:451-456).
* timeseries_std / timeseries_rms — per-epoch std / RMS (stack.py:371-432).
* residual-RMS reference-date selection + MAD outlier exclusion
  (timeseries_rms.py:35-72; MAD utils/utils0.py:1166-1221).

All pure Catalyst aggregates (partial+final hash agg, one shuffle each),
except the sequential Welford moments: ``Welford`` is the one definition
of that recursion, run through the one fold runner
(``operators.seqstate.fold_groups``) by ``welford_moments`` and by the
streaming fold (streaming/seqfold.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def spatial_average(
    obs: DataFrame, value_col: str, time_col: str = "warc_ts", use_median: bool = False
) -> DataFrame:
    """Per-epoch cross-key mean (or exact median, the ifgramStack variant
    stack.py:871-919)."""
    agg = (
        F.median(value_col).alias("spatial_med")
        if use_median
        else F.avg(value_col).alias("spatial_avg")
    )
    return obs.groupBy(time_col).agg(agg, F.count(value_col).alias("cnt"))


def temporal_average(obs: DataFrame, value_col: str, key: str = "url") -> DataFrame:
    """Per-key mean over time (stack.py:451-456)."""
    return obs.groupBy(key).agg(
        F.avg(value_col).alias("temporal_avg"), F.count(value_col).alias("cnt")
    )


def epoch_std_rms(
    obs: DataFrame, value_col: str, time_col: str = "warc_ts"
) -> DataFrame:
    """Per-epoch std (sample, ddof=1 matching np.std? — the reference uses
    np.nanstd, ddof=0: population) and RMS (stack.py:371-432)."""
    v = F.col(value_col)
    return obs.groupBy(time_col).agg(
        F.stddev_pop(value_col).alias("std"),
        F.sqrt(F.avg(v * v)).alias("rms"),
        F.count(value_col).alias("cnt"),
    )


def mad_outlier_epochs(
    epoch_rms: DataFrame, cutoff: float = 3.0, time_col: str = "warc_ts"
) -> DataFrame:
    """Epochs whose RMS deviates > cutoff * 1.4826 * MAD from the median —
    the exclude-date detector (utils/utils0.py:1166-1221 median_abs_deviation
    with scale='normal', timeseries_rms.py:45-72).

    Fully lazy — zero driver collects: the median and the MAD are 1-row
    aggregates broadcast back onto the epoch table (two tiny scalar
    subplans, one composed job when the result is consumed), so the
    operator chains into larger plans without forcing actions."""
    med = epoch_rms.agg(F.median("rms").alias("_med"))
    stats = (
        epoch_rms.crossJoin(F.broadcast(med))
        .agg(
            F.first("_med").alias("_med"),
            F.median(F.abs(F.col("rms") - F.col("_med"))).alias("_mad"),
        )
    )
    thresh = F.col("_med") + F.lit(cutoff) * F.lit(1.4826) * F.coalesce(
        F.col("_mad"), F.lit(0.0)
    )
    return (
        epoch_rms.crossJoin(F.broadcast(stats))
        .where(F.col("rms") > thresh)
        .select(time_col, "rms")
    )


def deramp_epoch(
    obs: DataFrame,
    value_col: str,
    coord_col: str,
    time_col: str = "warc_ts",
    order: int = 1,
) -> DataFrame:
    """Per-epoch polynomial detrend against a 1-D coordinate.

    Reference analog: deramp — per-epoch polynomial surface fit subtracted
    from the image (objects/ramp.py:14-21 registry: 'linear', 'quadratic';
    :24-127 solver). Here the epoch's cross-section is regressed on
    ``coord_col`` via closed-form OLS — no solver, no Python:

    * ``order=1``: slope = covar_pop/var_pop window aggregates.
    * ``order=2``: the coordinate is centered per epoch (u = x - mean(x),
      which zeroes the first moment and tames the normal-equation
      conditioning), then the 3x3 normal system in (1, u, u^2) is solved
      by Cramer's rule over the centered moment aggregates
      m2..m4 = avg(u^k), r = (avg(v), avg(u v), avg(u^2 v)).

    Degenerate epochs (moment determinant 0: single point, or < 3 distinct
    coordinates for order 2) fall back to the lower order / mean-centering.
    """
    w = Window.partitionBy(time_col)
    x = F.col(coord_col).cast("double")
    v = F.col(value_col).cast("double")
    slope_raw = F.covar_pop(x, v).over(w) / F.nullif(F.var_pop(x).over(w), F.lit(0.0))
    slope = F.coalesce(slope_raw, F.lit(0.0))
    linear_fit = F.avg(v).over(w) + slope * (x - F.avg(x).over(w))
    if order == 1:
        return obs.withColumn("deramped", v - linear_fit)
    if order != 2:
        raise ValueError(f"unsupported deramp order: {order}")
    # centered coordinate + moments (each a distinct window aggregate —
    # WindowExec evaluates each once per row; staging via withColumn keeps
    # the centered u out of CollapseProject re-inlining)
    staged = obs.withColumn("_u", x - F.avg(x).over(w)).withColumn("_lin", linear_fit)
    u = F.col("_u")
    wu = Window.partitionBy(time_col)
    m2 = F.avg(u * u).over(wu)
    m3 = F.avg(u * u * u).over(wu)
    m4 = F.avg(u * u * u * u).over(wu)
    r0 = F.avg(v).over(wu)
    r1 = F.avg(u * v).over(wu)
    r2 = F.avg(u * u * v).over(wu)
    staged = (
        staged.withColumn("_m2", m2).withColumn("_m3", m3).withColumn("_m4", m4)
        .withColumn("_r0", r0).withColumn("_r1", r1).withColumn("_r2", r2)
    )
    m2c, m3c, m4c = F.col("_m2"), F.col("_m3"), F.col("_m4")
    r0c, r1c, r2c = F.col("_r0"), F.col("_r1"), F.col("_r2")
    det = m2c * m4c - m3c * m3c - m2c * m2c * m2c
    alpha = (r0c * (m2c * m4c - m3c * m3c) + m2c * (r1c * m3c - m2c * r2c)) / det
    beta = (r1c * m4c - m3c * r2c + r0c * m3c * m2c - r1c * m2c * m2c) / det
    gamma = (m2c * r2c - r1c * m3c - r0c * m2c * m2c) / det
    quad_fit = alpha + beta * u + gamma * u * u
    # degenerate epoch (det ~ 0) -> linear fallback (ramp.py masks instead;
    # the lower order is the lossless analog for a 1-D cross-section)
    fitted = F.when(F.abs(det) > F.lit(1e-9), quad_fit).otherwise(F.col("_lin"))
    return staged.withColumn("deramped", v - fitted).drop(
        "_u", "_lin", "_m2", "_m3", "_m4", "_r0", "_r1", "_r2"
    )


def temporal_coherence(
    obs: DataFrame, resid_col: str, key: str = "url"
) -> DataFrame:
    """|sum(exp(i * resid))| / n per key — the reference's inversion
    quality metric (ifgram_inversion.py:291-363 calc_inv_quality), as two
    trig aggregates (the complex sum's re/im parts); coherence 1.0 means
    all residuals agree in phase."""
    r = F.col(resid_col).cast("double")
    return (
        obs.groupBy(key)
        .agg(
            F.sum(F.cos(r)).alias("_re"),
            F.sum(F.sin(r)).alias("_im"),
            F.count(resid_col).alias("n"),
        )
        .select(
            key,
            (F.sqrt(F.col("_re") ** 2 + F.col("_im") ** 2) / F.col("n")).alias(
                "coherence"
            ),
            "n",
        )
    )


def time_weighted_average(
    obs: DataFrame,
    value_col: str,
    key: str = "url",
    ts: str = "warc_ts",
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-key time-weighted average (left-continuous step
    interpolation): sum(v_i * (t_{i+1} - t_i)) / (t_n - t_0) over the
    key's observed span — the irregular-cadence mean a plain avg() gets
    wrong when crawl density varies (TimescaleDB time_weight 'LOCF').
    Durations are exact integer microseconds. ``order_cols`` break
    timestamp ties (pass a unique id column): duplicate timestamps give
    zero-duration rows, but WHICH duplicate carries the forward interval
    depends on the order, so the tie-break must be deterministic.
    One shuffle on the key (window + aggregation share the clustering)."""
    from pyspark.sql import Window

    mic = F.unix_micros(F.col(ts).cast("timestamp"))
    w = Window.partitionBy(key).orderBy(
        F.col(ts).asc(), *[F.col(c).asc() for c in order_cols]
    )
    dur = F.lead(mic).over(w) - mic
    v = F.col(value_col).cast("double")
    return (
        obs.select(
            key, F.col(ts).alias(ts), v.alias("_v"), mic.alias("_mic"),
            *[F.col(c) for c in order_cols],
        )
        .withColumn("_dur", dur)
        .groupBy(key)
        .agg(
            (F.sum(F.col("_v") * F.col("_dur")) / F.sum("_dur")).alias("twa"),
            F.count("_v").alias("num_obs"),
        )
    )


def heartbeat_gaps(
    obs: DataFrame,
    key: str = "url",
    ts: str = "warc_ts",
    order_cols: tuple[str, ...] = (),
    dead_threshold_seconds: int = 21600,
) -> DataFrame:
    """Per-key liveness profile from inter-observation gaps: the maximum
    gap and the number of "dead" intervals exceeding the threshold
    (TimescaleDB heartbeat_agg analog; the crawl-freshness SLA monitor).
    Gaps are exact integer microseconds — bit-reproducible across engines
    and partitionings. Same one-shuffle window+agg shape as
    time_weighted_average."""
    from pyspark.sql import Window

    mic = F.unix_micros(F.col(ts).cast("timestamp"))
    w = Window.partitionBy(key).orderBy(
        F.col(ts).asc(), *[F.col(c).asc() for c in order_cols]
    )
    gap = F.lead(mic).over(w) - mic
    thresh = int(dead_threshold_seconds) * 1_000_000
    return (
        obs.select(key, F.col(ts).alias(ts), mic.alias("_mic"),
                   *[F.col(c) for c in order_cols])
        .withColumn("_gap", gap)
        .groupBy(key)
        .agg(
            F.max("_gap").alias("max_gap_us"),
            F.sum(
                F.when(F.col("_gap") > F.lit(thresh), 1).otherwise(0)
            ).alias("n_dead_intervals"),
        )
    )


class Welford:
    """Welford's single-pass (n, mean, M2) update over one key's values,
    shared by ``welford_moments`` and the streaming fold
    (``streaming.seqfold``, whose recursion protocol this implements).
    Each output row is the running state after one accepted value; the
    last one per key is the batch answer."""

    name, emits, drop_nulls = "welford", "moments", True
    state = ("last_ts_us long", "n long", "mean double", "m2 double")
    out = ("n long", "ts timestamp", "mean double", "m2 double")

    def fold(self, ts_us, ys: list[float], state: tuple | None):
        """One key's next values: ((n, ts, mean, m2) columns, new state)."""
        _last, n, mean, m2 = state or (None, 0, 0.0, 0.0)
        ns, means, m2s = [], [], []
        for y in ys:
            if n == 0:
                n, mean, m2 = 1, y, 0.0
            else:
                n2 = n + 1
                delta = y - mean
                mean_new = mean + delta / float(n2)
                m2 = m2 + delta * (y - mean_new)
                mean = mean_new
                n = n2
            ns.append(n)
            means.append(mean)
            m2s.append(m2)
        return (ns, ts_us, means, m2s), (ts_us[-1], n, mean, m2)


def welford_moments(
    df: DataFrame, value_col: str = "value", key: str = "user_id", ts: str = "ts"
) -> DataFrame:
    """Per-key (n, mean, m2) after Welford's update over the non-NULL
    values in (ts, value) order; a row with a NULL ts is skipped, as the
    streaming fold skips it. ``Welford`` runs through the streaming fold's
    own runner (``operators.seqstate.fold_groups``) with no state: one
    shuffle into the sorted-group seam, three doubles of state per key,
    and the answer is each key's state row."""
    from mintpy_spark.operators.seqstate import fold_groups, fold_states

    rec = Welford()
    return fold_states(fold_groups(df, rec, key, ts, value_col), rec, key).select(
        key, "n", "mean", "m2"
    )
