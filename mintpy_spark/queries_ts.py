"""Driver-contract queries: as-of join, retention/tombstoning, temporal
filtering, cross-section referencing, median aggregates, set ops, and the
full time-function regression.

Same oracle discipline as mintpy_spark.queries (identical aliases, in-query
rounding both sides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mintpy_spark.functions.timefn import bucket_start
from mintpy_spark.operators.asof import asof_join
from mintpy_spark.operators.stats import spatial_average
from mintpy_spark.queries import _DY_SQL, _q, load


@_q(
    "asof_click_before_purchase",
    """
    SELECT p.user_id, p.ts,
           ROUND(c.value, 4) AS value,
           c.ts              AS asof_ts
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase, the latest prior click (same user) — the
    insar_vs_gnss temporal-alignment pattern as a generic as-of join."""
    ev = load(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof_join(purchases, clicks, key="user_id", ts="ts", value_cols=["value"])
    return out.select("user_id", "ts", F.round("value", 4).alias("value"), "asof_ts")


@_q(
    "retention_window",
    """
    SELECT user_id, COUNT(*) AS live_events
    FROM events
    WHERE ts >= (SELECT max(ts) - INTERVAL 90 DAY FROM events)
    GROUP BY user_id
    """,
)
def retention_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention policy: only observations in the trailing 90d window
    survive (dropIfgram/exclude_date analog, stack.py:846-853). The global
    horizon is a 1-row broadcast, not a window function — no shuffle of the
    fact table beyond the final aggregation."""
    ev = load(spark, sf_dir, "events")
    horizon = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 90 DAYS")).alias("h")
    )
    return (
        ev.crossJoin(F.broadcast(horizon))
        .where(F.col("ts") >= F.col("h"))
        .groupBy("user_id")
        .agg(F.count("*").alias("live_events"))
    )


@_q(
    "tombstone_live",
    """
    SELECT event_type, COUNT(*) AS cnt, ROUND(AVG(value), 4) AS avg_value
    FROM events WHERE event_type <> 'error'
    GROUP BY event_type
    """,
)
def tombstone_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-delete semantics: tombstone 'error' events, aggregate the live
    view (mask.tombstone/live; reference dropIfgram flag, stack.py:1370)."""
    from mintpy_spark.operators.mask import live, tombstone

    ev = load(spark, sf_dir, "events")
    flagged = tombstone(ev, F.col("event_type") == "error")
    return (
        live(flagged)
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


@_q(
    "temporal_filter_runmean",
    """
    SELECT user_id, ts,
           ROUND(SUM(value) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 3 DAY PRECEDING AND INTERVAL 3 DAY FOLLOWING
           ), 2) AS wsum,
           COUNT(value) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 3 DAY PRECEDING AND INTERVAL 3 DAY FOLLOWING
           ) AS wcnt
    FROM events
    """,
)
def temporal_filter_runmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """±3-day moving window over the irregular series (temporal filter,
    stack.py:505-541) — microsecond-precision range frame. Emits the
    decomposable (sum, count) partials — mean = wsum/wcnt — because window
    averages of 2-dp inputs land exactly on x.00005 boundaries where
    engines' double-rounding conventions legitimately disagree; the 2-dp
    sum is collision-free (see mintpy_spark.queries docstring)."""
    from mintpy_spark.operators.filters import _range_window

    ev = load(spark, sf_dir, "events")
    w = _range_window("user_id", "ts", 3.0)
    return ev.select(
        "user_id",
        "ts",
        F.round(F.sum("value").over(w), 2).alias("wsum"),
        F.count("value").over(w).alias("wcnt"),
    )


@_q(
    "ref_cross_section",
    """
    SELECT user_id, ts,
           ROUND(value - AVG(value) OVER (
             PARTITION BY CAST(date_trunc('day', ts) AS TIMESTAMP)
           ), 4) AS anomaly
    FROM events
    """,
)
def ref_cross_section(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch cross-section demean: each observation minus the same-day
    all-series mean (reference_point spatial referencing, reference_point.py:
    28-167; also the deramp-order-0 analog, objects/ramp.py:24)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy(bucket_start(F.col("ts"), "1d"))
    return ev.select(
        "user_id",
        "ts",
        F.round(F.col("value") - F.avg("value").over(w), 4).alias("anomaly"),
    )


@_q(
    "epoch_median_1d",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           ROUND(median(value), 4) AS med, COUNT(value) AS cnt
    FROM events GROUP BY 1
    """,
)
def epoch_median_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median per epoch: operators/stats.spatial_average in its
    median mode (ifgramStack.spatial_average, stack.py:871-919) — Spark's
    exact `median`, not approx."""
    ev = load(spark, sf_dir, "events")
    med = spatial_average(
        ev.withColumn("bucket_start", bucket_start(F.col("ts"), "1d")),
        "value", time_col="bucket_start", use_median=True,
    )
    return med.select(
        "bucket_start", F.round("spatial_med", 4).alias("med"), "cnt"
    )


@_q(
    "dates_except",
    """
    SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
    FROM events GROUP BY 1, 2
    EXCEPT
    SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
    FROM events WHERE event_type = 'error' GROUP BY 1, 2
    """,
)
def dates_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-list set algebra (exclude_date, ptime.py:406-446): active days
    per user minus days with any error event."""
    ev = load(spark, sf_dir, "events")
    day = bucket_start(F.col("ts"), "1d").alias("day")
    all_days = ev.select("user_id", day).distinct()
    err_days = ev.where(F.col("event_type") == "error").select("user_id", day).distinct()
    return all_days.exceptAll(err_days)


@_q(
    "closure_triplet",
    """
    SELECT user_id, ts1, ts2, ts3, ROUND(closure, 2) + 0.0 AS closure
    FROM (
      SELECT user_id, ts AS ts1,
             lead(ts, 1)  OVER w AS ts2,
             lead(ts, 2)  OVER w AS ts3,
             abs(lead(value, 1) OVER w - value)
           + abs(lead(value, 2) OVER w - lead(value, 1) OVER w)
           - abs(lead(value, 2) OVER w - value) AS closure
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ) WHERE ts3 IS NOT NULL
    """,
)
def closure_triplet_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-triplet closure (closure-phase analog, stack.py:
    1113-1230): triangle slack of consecutive pairwise deltas."""
    from mintpy_spark.operators.diff import closure_triplet

    ev = load(spark, sf_dir, "events")
    out = closure_triplet(ev, "value", key="user_id", ts="ts")
    return out.select(
        "user_id", "ts1", "ts2", "ts3",
        # `+ 0.0` normalizes IEEE negative zero on both engines: the triangle
        # slack can be epsilon-negative before ROUND, and DuckDB's ROUND
        # preserves the sign bit (-0.0) where Spark's does not.
        (F.round("closure", 2) + F.lit(0.0)).alias("closure"),
    )


@_q(
    "deramp_daily",
    """
    SELECT user_id, ts,
           ROUND(CAST(value AS DOUBLE)
                 - (vbar + slope * (CAST(user_id AS DOUBLE) - xbar)), 3)
             AS deramped
    FROM (
      SELECT user_id, ts, value,
             AVG(CAST(value AS DOUBLE))   OVER w AS vbar,
             AVG(CAST(user_id AS DOUBLE)) OVER w AS xbar,
             COALESCE(covar_pop(CAST(user_id AS DOUBLE), CAST(value AS DOUBLE)) OVER w
                      / nullif(var_pop(CAST(user_id AS DOUBLE)) OVER w, 0.0),
                      0.0) AS slope
      FROM events
      WINDOW w AS (PARTITION BY CAST(date_trunc('day', ts) AS TIMESTAMP))
    )
    """,
)
def deramp_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch linear detrend (deramp analog, objects/ramp.py:24-127):
    each day's cross-section regressed on the key coordinate, fitted ramp
    subtracted. Closed-form OLS as window aggregates — no solver."""
    from mintpy_spark.operators.stats import deramp_epoch

    ev = load(spark, sf_dir, "events").withColumn(
        "day", bucket_start(F.col("ts"), "1d")
    )
    out = deramp_epoch(ev, "value", coord_col="user_id", time_col="day")
    return out.select("user_id", "ts", F.round("deramped", 3).alias("deramped"))


@_q(
    "temporal_coherence",
    """
    SELECT user_id,
           ROUND(sqrt(POW(SUM(cos(value)), 2) + POW(SUM(sin(value)), 2))
                 / COUNT(value), 4) AS coherence,
           COUNT(value) AS n
    FROM events GROUP BY user_id
    """,
)
def temporal_coherence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inversion-quality temporal coherence |sum(exp(i*v))|/n
    (ifgram_inversion.py:291-363) as two trig aggregates."""
    from mintpy_spark.operators.stats import temporal_coherence

    ev = load(spark, sf_dir, "events")
    out = temporal_coherence(ev, "value", key="user_id")
    return out.select("user_id", F.round("coherence", 4).alias("coherence"), "n")


@_q("gaussian_smooth")  # no SQL oracle: cross-row exp-weighted kernel (the
# weight depends on both rows' timestamps — not a SQL window aggregate);
# verified by tests/test_operators.py against the NumPy oracle instead.
def gaussian_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian-weighted temporal smoothing (stack.py:505-520)."""
    from mintpy_spark.operators.filters import gaussian_filter

    ev = load(spark, sf_dir, "events")
    out = gaussian_filter(ev, "value", sigma_days=3.0, key="user_id", ts="ts")
    return out.select("user_id", "ts", F.round("smoothed", 4).alias("smoothed"))


@_q("velocity_timefunc_full")  # no SQL oracle: per-group lstsq (non-SQL op);
def velocity_timefunc_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full time-function regression (polynomial-1 + annual periodic) via
    applyInPandas — timeseries2velocity.py:130-455 semantics. Verified by
    the pytest truth-recovery suite (tests/test_timefunc.py); the driver
    records the weaker rows-only check for this one."""
    from mintpy_spark.operators.timefunc import fit_time_func

    ev = load(spark, sf_dir, "events")
    out = fit_time_func(
        ev, "value", model={"polynomial": 1, "periodic": [1.0]},
        key="user_id", ts="ts", ref_year=2024.0,
    )
    cols = [c for c in out.columns if c != "user_id"]
    # param names contain dots (periodic1.0_cos) -> backtick-quote.
    # No terminal orderBy: the driver's check is order-insensitive and a
    # global sort is a needless extra exchange at scale.
    return out.select(
        "user_id", *[F.round(F.col(f"`{c}`"), 4).alias(c) for c in cols]
    )


@_q(
    "velocity_with_ci",
    f"""
    SELECT user_id,
           ROUND(slope, 4) AS velocity,
           ROUND(sqrt(((syy - slope * sxy) / (n - 2)) / sxx), 4) AS velocity_std,
           ROUND(1.96 * sqrt(((syy - slope * sxy) / (n - 2)) / sxx), 4) AS ci95,
           n AS num_obs
    FROM (
      SELECT user_id,
             covar_pop(t, value) / var_pop(t)      AS slope,
             var_pop(t)   * COUNT(*)               AS sxx,
             covar_pop(t, value) * COUNT(*)        AS sxy,
             var_pop(value) * COUNT(*)             AS syy,
             COUNT(*)                              AS n
      FROM (SELECT user_id, value, {_DY_SQL.format(t='ts')} - 2024.0 AS t FROM events)
      GROUP BY user_id
    ) WHERE n > 2
    """,
)
def velocity_with_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear velocity with residue-method standard error and 95% CI band
    as pure closed-form aggregates (tsview.py:550-610 point fit + CI;
    timeseries2velocity.py:404-415 residue std) — the SQL-expressible twin
    of fit_time_func's uncertainty, oracle-checked end-to-end."""
    from mintpy_spark.functions.timefn import decimal_year

    ev = load(spark, sf_dir, "events")
    t = decimal_year(F.col("ts")) - F.lit(2024.0)
    g = (
        ev.select("user_id", t.alias("t"), F.col("value"))
        .groupBy("user_id")
        .agg(
            (F.covar_pop("t", "value") / F.var_pop("t")).alias("slope"),
            (F.var_pop("t") * F.count("*")).alias("sxx"),
            (F.covar_pop("t", "value") * F.count("*")).alias("sxy"),
            (F.var_pop("value") * F.count("*")).alias("syy"),
            F.count("*").alias("n"),
        )
        .where(F.col("n") > 2)
    )
    std = F.sqrt(((F.col("syy") - F.col("slope") * F.col("sxy")) / (F.col("n") - 2)) / F.col("sxx"))
    return g.select(
        "user_id",
        F.round("slope", 4).alias("velocity"),
        F.round(std, 4).alias("velocity_std"),
        F.round(F.lit(1.96) * std, 4).alias("ci95"),
        F.col("n").alias("num_obs"),
    )


# ---------------------------------------------------------------------------
# Round 2: covariance propagation, extra-regressor fit, weight generators
# ---------------------------------------------------------------------------

# Deterministic per-observation pseudo-sigma (the per-obs std an ingest
# pipeline would attach): 0.5 + (event_id % 7) / 4 — identical expression
# inlined into the SQL oracle.
_SIGMA_SQL = "(0.5 + (event_id % 7) * 0.25)"


@_q(
    "velocity_sigma_cov",
    f"""
    WITH b AS (
      SELECT user_id, value,
             1.0 / ({_SIGMA_SQL} * {_SIGMA_SQL}) AS w,
             {_DY_SQL.format(t='ts')} - 2024.0 AS t
      FROM events
    ), s AS (
      SELECT user_id,
             SUM(w)             AS sw,
             SUM(w * t)         AS swt,
             SUM(w * t * t)     AS swtt,
             SUM(w * value)     AS swv,
             SUM(w * t * value) AS swtv,
             COUNT(*)           AS n
      FROM b GROUP BY user_id
    )
    SELECT user_id,
           ROUND((sw * swtv - swt * swv) / (sw * swtt - swt * swt), 4)   AS velocity,
           ROUND((swtt * swv - swt * swtv) / (sw * swtt - swt * swt), 4) AS intercept,
           ROUND(sqrt(sw   / (sw * swtt - swt * swt)), 4) AS velocity_std,
           ROUND(sqrt(swtt / (sw * swtt - swt * swt)), 4) AS intercept_std,
           n AS num_obs
    FROM s WHERE n > 2
    """,
)
def velocity_sigma_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WLS velocity with covariance-propagated parameter std
    (timeseries2velocity.py:377-402 'covariance' uncertainty;
    ifgram_inversion.py:230-265 Gplus diag(sigma^2) Gplus'): per-obs
    sigma drives both the weights (w = 1/sigma^2) and the propagation, so
    the std reduces to the closed-form (G' W G)^-1 diagonal the SQL oracle
    computes independently. dtype=float64 for cross-engine value parity."""
    import numpy as np

    from mintpy_spark.operators.timefunc import fit_time_func

    ev = load(spark, sf_dir, "events")
    sigma = F.lit(0.5) + (F.col("event_id") % 7) * F.lit(0.25)
    obs = ev.select(
        "user_id", "ts", "value",
        sigma.alias("sigma"),
        (F.lit(1.0) / (sigma * sigma)).alias("w"),
    )
    out = fit_time_func(
        obs, "value", {"polynomial": 1}, key="user_id", ts="ts",
        ref_year=2024.0, weight_col="w", sigma_col="sigma",
        uncertainty="covariance", dtype=np.float64,
    )
    return out.where(F.col("num_obs") > 2).select(
        "user_id",
        F.round("velocity", 4).alias("velocity"),
        F.round("intercept", 4).alias("intercept"),
        F.round("velocity_std", 4).alias("velocity_std"),
        F.round("intercept_std", 4).alias("intercept_std"),
        "num_obs",
    )


@_q("velocity_dem_pattern")  # rows-only: per-group lstsq with an extra
# per-observation regressor (non-SQL op); truth-recovery lives in
# tests/test_timefunc.py::test_extra_cols_recovers_geometry_coefficient.
def velocity_dem_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint fit of time functions + a per-observation geometry regressor
    (the DEM-error pattern, dem_error.py:137-171: bperp/(r sin theta) as an
    extra design column). The regressor here is a deterministic pseudo-
    geometry column derived from event_id."""
    import numpy as np

    from mintpy_spark.operators.timefunc import fit_time_func

    ev = load(spark, sf_dir, "events")
    obs = ev.select(
        "user_id", "ts", "value",
        (F.sin(F.col("event_id").cast("double") * 0.7) * 100.0).alias("bp"),
    )
    out = fit_time_func(
        obs, "value", {"polynomial": 1}, key="user_id", ts="ts",
        ref_year=2024.0, extra_cols=["bp"], dtype=np.float64,
    )
    return out.select(
        "user_id",
        F.round("velocity", 4).alias("velocity"),
        F.round("bp", 4).alias("bp_coef"),
        F.round("bp_std", 4).alias("bp_coef_std"),
        "num_obs",
    )


@_q(
    "weight_fisher_stats",
    """
    SELECT event_type,
           ROUND(SUM(w), 2) AS w_sum,
           ROUND(MIN(w), 4) AS w_min,
           ROUND(MAX(w), 4) AS w_max,
           COUNT(*) AS cnt
    FROM (
      SELECT event_type,
             CAST(2.0 * 20 * c * c / (1.0 - c * c) AS FLOAT) AS w
      FROM (
        SELECT event_type,
               LEAST(GREATEST((event_id % 100 + 0.5) / 101.0, 0.05), 1.0 - 0.001) AS c
        FROM events
      )
    )
    GROUP BY event_type
    """,
)
def weight_fisher_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coherence->weight generator exercised end-to-end: a deterministic
    [0,1] quality score per event is converted to Fisher-information WLS
    weights (decorrelation.py:325-334, L=20, float64 math, float32 output)
    and aggregated per type — the oracle re-derives the closed form."""
    from mintpy_spark.functions.weights import coherence2weight

    ev = load(spark, sf_dir, "events")
    c = (F.col("event_id") % 100 + 0.5) / 101.0
    w = coherence2weight(c, weight_func="fisher", L=20)
    return (
        ev.select("event_type", w.alias("w"))
        .groupBy("event_type")
        .agg(
            F.round(F.sum("w"), 2).alias("w_sum"),
            F.round(F.min("w"), 4).alias("w_min"),
            F.round(F.max("w"), 4).alias("w_max"),
            F.count("*").alias("cnt"),
        )
    )


@_q(
    "deramp2_daily",
    """
    WITH b AS (
      SELECT user_id, ts, value,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(user_id AS DOUBLE) AS x
      FROM events
    ),
    cu AS (
      SELECT user_id, ts, value, day, x,
             x - AVG(x) OVER (PARTITION BY day) AS u,
             AVG(value) OVER (PARTITION BY day)
               + COALESCE(covar_pop(x, value) OVER (PARTITION BY day)
                          / nullif(var_pop(x) OVER (PARTITION BY day), 0), 0)
                 * (x - AVG(x) OVER (PARTITION BY day)) AS lin
      FROM b
    ),
    m AS (
      SELECT user_id, ts, value, u, lin,
             AVG(u*u)       OVER w AS m2,
             AVG(u*u*u)     OVER w AS m3,
             AVG(u*u*u*u)   OVER w AS m4,
             AVG(value)     OVER w AS r0,
             AVG(u*value)   OVER w AS r1,
             AVG(u*u*value) OVER w AS r2
      FROM cu WINDOW w AS (PARTITION BY day)
    )
    SELECT user_id, ts,
           ROUND(value - CASE
             WHEN abs(m2*m4 - m3*m3 - m2*m2*m2) > 1e-9 THEN
               (r0*(m2*m4 - m3*m3) + m2*(r1*m3 - m2*r2)) / (m2*m4 - m3*m3 - m2*m2*m2)
               + (r1*m4 - m3*r2 + r0*m3*m2 - r1*m2*m2) / (m2*m4 - m3*m3 - m2*m2*m2) * u
               + (m2*r2 - r1*m3 - r0*m2*m2) / (m2*m4 - m3*m3 - m2*m2*m2) * u * u
             ELSE lin END, 3) AS deramped
    FROM m
    """,
)
def deramp2_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch QUADRATIC detrend against the key coordinate (deramp
    order 'quadratic', objects/ramp.py:14-21): centered-moment Cramer
    solve as pure window aggregates, no Python."""
    from mintpy_spark.operators.stats import deramp_epoch

    ev = load(spark, sf_dir, "events").withColumn(
        "day", bucket_start(F.col("ts"), "1d")
    )
    out = deramp_epoch(ev, "value", coord_col="user_id", time_col="day", order=2)
    return out.select("user_id", "ts", F.round("deramped", 3).alias("deramped"))


@_q(
    "diff_vs_model",
    f"""
    WITH t AS (
      SELECT user_id, ts, value, {_DY_SQL.format(t='ts')} - 2024.0 AS t FROM events
    ),
    m AS (
      SELECT user_id,
             covar_pop(t, value) / var_pop(t) AS vel,
             AVG(value) - covar_pop(t, value) / var_pop(t) * AVG(t) AS icpt
      FROM t GROUP BY user_id
    )
    SELECT t.user_id, t.ts,
           ROUND(t.value - (m.icpt + m.vel * t.t), 4) AS resid
    FROM t JOIN m ON t.user_id = m.user_id
    """,
)
def diff_vs_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series minus its evaluated time-function model (diff.py:152
    diff-vs-velocity-file): fit linear_velocity per key, evaluate at every
    observation timestamp, subtract. The model table is key-cardinality
    (small) -> broadcast join back onto the observations."""
    from mintpy_spark.functions.timefn import decimal_year
    from mintpy_spark.operators.timefunc import linear_velocity

    ev = load(spark, sf_dir, "events")
    model = linear_velocity(ev, "value", key="user_id", ts="ts", ref_year=2024.0)
    t = decimal_year(F.col("ts")) - F.lit(2024.0)
    return (
        ev.withColumn("t", t)
        .join(F.broadcast(model), "user_id")
        .select(
            "user_id",
            "ts",
            F.round(
                F.col("value") - (F.col("intercept") + F.col("velocity") * F.col("t")),
                4,
            ).alias("resid"),
        )
    )


@_q(
    "mad_outlier_days",
    """
    WITH rms AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             SQRT(AVG(value * value)) AS rms
      FROM events GROUP BY 1
    ),
    med AS (SELECT median(rms) AS m FROM rms),
    st AS (SELECT MIN(m) AS m, median(abs(rms - m)) AS mad FROM rms, med)
    SELECT day, ROUND(rms, 4) AS rms
    FROM rms, st
    WHERE rms > m + 1.0 * 1.4826 * COALESCE(mad, 0)
    """,
)
def mad_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD-based outlier epochs over the daily RMS profile
    (timeseries_rms.py:45-72 exclude-date detector; MAD utils0.py:
    1166-1221) — the collect-free operator: median and MAD are broadcast
    1-row aggregates, the whole detector is one composed job.

    Plan note: inlining rms-from-raw here makes the static plan scan the
    fact table three times (median / MAD / filter sides; AQE exchange
    reuse collapses them at runtime). The production composition runs the
    detector over the STORED 1d tier (epoch-cardinality, tiny), where the
    triple reference costs nothing — mad_outlier_epochs takes any
    epoch_rms DataFrame for exactly that reason."""
    from mintpy_spark.operators.stats import epoch_std_rms, mad_outlier_epochs

    ev = load(spark, sf_dir, "events").withColumn("day", bucket_start(F.col("ts"), "1d"))
    rms = epoch_std_rms(ev, "value", time_col="day").select("day", "rms")
    out = mad_outlier_epochs(rms, cutoff=1.0, time_col="day")
    return out.select("day", F.round("rms", 4).alias("rms"))


@_q(
    "asof_next_click_after_purchase",
    """
    SELECT p.user_id, p.ts,
           ROUND(c.value, 4) AS value,
           c.ts              AS asof_ts
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts <= c.ts
    """,
)
def asof_next_click_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: for each purchase, the earliest subsequent click —
    the mirrored one-shuffle union-sort-window scan, oracle = DuckDB's
    forward ASOF JOIN (p.ts <= c.ts)."""
    ev = load(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof_join(
        purchases, clicks, key="user_id", ts="ts", value_cols=["value"],
        direction="forward",
    )
    return out.select("user_id", "ts", F.round("value", 4).alias("value"), "asof_ts")


# DuckDB spelling of functions.scalars.wrap into [-pi, pi) — the proven
# pmod form from wrap_phase_stats
def _W(x: str) -> str:
    return f"(-pi() + ((({x}) - -pi()) % (2 * pi()) + 2 * pi()) % (2 * pi()))"


# Multilooked sequential closure, conn=2, looks=10. The multilook (avg of
# wrapped pair phases over the look group) is what makes closures nonzero:
# raw per-epoch wrapped diffs are loop-consistent mod 2*pi by construction.
_CLOSURE_BIAS_BASE = f"""
    WITH e AS (
      SELECT user_id, user_id // 10 AS grp,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
             AVG(value) AS v
      FROM events GROUP BY 1, 2, 3
    ), p1 AS (
      SELECT a.grp, a.d, {_W('b.v - a.v')} AS phi
      FROM e a JOIN e b ON a.user_id = b.user_id AND b.d = a.d + INTERVAL 1 DAY
    ), p2 AS (
      SELECT a.grp, a.d, {_W('b.v - a.v')} AS phi
      FROM e a JOIN e b ON a.user_id = b.user_id AND b.d = a.d + INTERVAL 2 DAY
    ), m1 AS (SELECT grp, d, AVG(phi) AS ml FROM p1 GROUP BY 1, 2),
    m2 AS (SELECT grp, d, AVG(phi) AS ml FROM p2 GROUP BY 1, 2),
    cp AS (
      SELECT m2.grp, m2.d, {_W('x.ml + y.ml - m2.ml')} AS cp
      FROM m2
      JOIN m1 x ON x.grp = m2.grp AND x.d = m2.d
      JOIN m1 y ON y.grp = m2.grp AND y.d = m2.d + INTERVAL 1 DAY
    ), b AS (
      SELECT grp, d,
             COALESCE(SUM(cp) OVER (PARTITION BY grp ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2.0
               AS bias
      FROM cp
      UNION ALL
      SELECT grp, dmax + (m + 1) * INTERVAL 1 DAY AS d,
             (tot + m * cp_last) / 2.0 AS bias
      FROM (
        SELECT grp, SUM(cp) AS tot, MAX(d) AS dmax, arg_max(cp, d) AS cp_last
        FROM cp GROUP BY grp
      ), generate_series(0, 1) AS t(m)
    )
"""


@_q(
    "closure_bias_seq",
    _CLOSURE_BIAS_BASE + """
    SELECT grp, d, ROUND(bias, 4) AS bias FROM b
    """,
)
def closure_bias_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative connection-2 sequential-closure bias time series
    (closure_phase_bias.py:146-238 cum_seq_unw_closure_phase_timeseries,
    Zheng et al. 2022 eq. 25+28) over MULTILOOKED wrapped pair phases —
    see operators.diff.seq_closure_ml for why multilooking is the
    mechanism that makes closures nonzero. The oracle replicates every
    stage: epoch grid, day-shift pair joins, look-group averages,
    closure wrap, exclusive cumsum head + extrapolated tail."""
    from mintpy_spark.operators.diff import closure_bias_ts

    ev = load(spark, sf_dir, "events")
    out = closure_bias_ts(ev, "value", conn=2, key="user_id", ts="ts", looks=10)
    return out.select("grp", "d", F.round("bias", 4).alias("bias"))


@_q(
    "closure_bias_velocity",
    _CLOSURE_BIAS_BASE + f"""
    SELECT grp,
           ROUND(covar_pop(t, bias) / var_pop(t), 4) AS velocity,
           COUNT(*) AS num_obs
    FROM (SELECT grp, bias, {_DY_SQL.format(t='d')} - 2024.0 AS t FROM b)
    GROUP BY grp
    """,
)
def closure_bias_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-group bias SOLVE: linear rate of the cumulative
    closure-bias series — the reference's velocity-bias estimate from
    the closure time series (closure_phase_bias.py:240-380), closed-form
    least squares (covar/var) on the engine's own closure_bias_ts
    output."""
    from mintpy_spark.operators.diff import closure_bias_ts
    from mintpy_spark.operators.timefunc import linear_velocity

    ev = load(spark, sf_dir, "events")
    bias = closure_bias_ts(ev, "value", conn=2, key="user_id", ts="ts", looks=10)
    out = linear_velocity(bias, "bias", key="grp", ts="d", ref_year=2024.0)
    return out.select(
        "grp", F.round("velocity", 4).alias("velocity"), "num_obs"
    )


# ---------------------------------------------------------------------------
# Round 3: continuous-aggregate range routing, mergeable regression partials,
# changepoint detection, seasonal decomposition, bounded-staleness as-of.
# ---------------------------------------------------------------------------

@_q(
    "tier_route_range",
    """
    SELECT user_id,
           COUNT(value)         AS cnt,
           ROUND(SUM(value), 2) AS vsum,
           MIN(value)           AS vmin,
           MAX(value)           AS vmax
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-03 05:30:00'
      AND ts <  TIMESTAMP '2024-01-27 17:45:00'
    GROUP BY user_id
    """,
)
def tier_route_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time continuous-aggregate routing: an arbitrary sub-hour-
    aligned time range is answered by stitching 1d-tier partials for the
    interior days, 1h-tier partials for the edge hours, and raw rows only
    inside the two sub-hour fringes (rollup.plan_range_cover), then one
    partial merge. The oracle aggregates raw directly — proving the
    routed decomposition loses nothing. At 10^12 docs the interior reads
    tier rows (~10^-4 of raw); only minutes of raw data are scanned."""
    from mintpy_spark.operators.rollup import build_tiers, route_range_agg

    ev = load(spark, sf_dir, "events")
    tiers = build_tiers(ev, "value", tiers=("1h", "1d"), key="user_id", ts="ts")
    out = route_range_agg(
        ev, tiers, "2024-01-03 05:30:00", "2024-01-27 17:45:00",
        "value", key="user_id", ts="ts",
    )
    return out.select(
        "user_id", "cnt", F.round("vsum", 2).alias("vsum"), "vmin", "vmax"
    )


@_q(
    "velocity_partials_merge",
    f"""
    SELECT user_id,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS velocity,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
             AS intercept,
           CAST(n AS BIGINT) AS num_obs
    FROM (
      SELECT user_id,
             CAST(COUNT(value) AS DOUBLE) AS n,
             SUM(x)                       AS sx,
             SUM(value)                   AS sy,
             SUM(x * x)                   AS sxx,
             SUM(x * value)               AS sxy
      FROM (SELECT user_id, value,
                   {_DY_SQL.format(t='ts')} - 2024.0 AS x
            FROM events)
      GROUP BY user_id
    )
    """,
)
def velocity_partials_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear velocity as a DECOMPOSABLE aggregate: per-(key, 1d-bucket)
    sufficient statistics (n, sx, sy, sxx, sxy) -> merge -> closed-form
    2x2 normal-equation solve. The sums add across any partition of the
    data, so velocity becomes tier-maintainable: a new day of crawls
    updates one bucket's partials and re-solves — no raw-history re-read
    (the incremental form of timeseries2velocity.py:573-589). Oracle fits
    directly on raw with the same formula."""
    from mintpy_spark.operators.timefunc import (
        merge_velocity_partials,
        velocity_from_partials,
        velocity_partials,
    )

    ev = load(spark, sf_dir, "events")
    p = velocity_partials(ev, "value", key="user_id", ts="ts", ref_year=2024.0)
    out = velocity_from_partials(merge_velocity_partials(p, key="user_id"), key="user_id")
    return out.select(
        "user_id",
        F.round("velocity", 4).alias("velocity"),
        F.round("intercept", 4).alias("intercept"),
        F.col("num_obs").cast("long").alias("num_obs"),
    )


@_q(
    "cusum_changepoint_daily",
    """
    WITH c AS (
      SELECT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT user_id, bucket_start,
             CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY bucket_start) AS BIGINT) AS sk,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY bucket_start) AS BIGINT) AS k,
             CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT) AS sn,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
      FROM c
    ),
    d AS (
      SELECT user_id, bucket_start, abs(n * sk - k * sn) AS dev, n,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY abs(n * sk - k * sn) DESC, bucket_start ASC) AS rk
      FROM r
    )
    SELECT user_id,
           bucket_start        AS cp_bucket,
           CAST(dev AS BIGINT) AS max_dev_n,
           n                   AS n_buckets
    FROM d WHERE rk = 1
    """,
)
def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unknown-step localization per key: exact-integer CUSUM argmax over
    the 1d count tier (operators/changepoint.py — the unknown-date
    counterpart of the reference's known-date step regressor,
    objects/timefunc.py step columns). Integer numerator n*S_k - k*S_n
    makes the argmax bit-reproducible across engines/partitionings."""
    from mintpy_spark.operators.changepoint import cusum_changepoint, daily_counts

    ev = load(spark, sf_dir, "events")
    out = cusum_changepoint(daily_counts(ev, key="user_id", ts="ts"), key="user_id")
    return out.select(
        "user_id", "cp_bucket",
        F.col("max_dev_n").cast("long").alias("max_dev_n"),
        F.col("n_buckets").cast("long").alias("n_buckets"),
    )


@_q(
    "deseasonalize_dow_variance",
    """
    WITH g AS (
      SELECT user_id, dayofweek(ts) AS dow,
             COUNT(value)    AS n_g,
             var_pop(value)  AS var_g
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(SUM(n_g) AS BIGINT)                 AS num_obs,
           ROUND(SUM(n_g * var_g) / SUM(n_g), 4)    AS var_within_dow
    FROM g GROUP BY user_id
    """,
)
def deseasonalize_dow_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition via the law of total variance:
    the within-group variance (residual variance after removing the
    per-(key, dow) seasonal mean) computed as the count-weighted mean of
    per-dow population variances — two cheap hash aggregations, never a
    row-level mean-subtract join. The periodic-component analog of the
    reference's periodic time-function regressors (objects/timefunc.py
    periodic columns) for weekly web-crawl seasonality."""
    ev = load(spark, sf_dir, "events")
    g = (
        ev.groupBy("user_id", F.dayofweek("ts").alias("dow"))
        .agg(
            F.count("value").alias("n_g"),
            F.var_pop("value").alias("var_g"),
        )
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.sum("n_g").cast("long").alias("num_obs"),
            F.round(
                F.sum(F.col("n_g") * F.col("var_g")) / F.sum("n_g"), 4
            ).alias("var_within_dow"),
        )
    )


@_q(
    "asof_tolerance_1h",
    """
    SELECT p.user_id, p.ts,
           CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR
                THEN ROUND(c.value, 4) END AS value,
           CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR
                THEN c.ts END AS asof_ts
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN
         (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_tolerance_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-staleness as-of join: the latest prior click per purchase,
    nulled when staler than 1 hour (pandas merge_asof tolerance= /
    insar_vs_gnss max-gap semantics). Same one-shuffle union-sort-window
    scan as the plain as-of plus a row-local microsecond gap test."""
    from mintpy_spark.operators.asof import asof_join_tolerance

    ev = load(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof_join_tolerance(
        purchases, clicks, key="user_id", ts="ts", tolerance_seconds=3600,
        value_cols=["value"],
    )
    return out.select(
        "user_id", "ts", F.round("value", 4).alias("value"), "asof_ts"
    )


@_q(
    "rollup_1d_distinct",
    """
    SELECT user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           COUNT(DISTINCT value) AS n_distinct
    FROM events GROUP BY 1, 2
    """,
)
def rollup_1d_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count tier in the mergeable two-level shape: pre-dedup at
    (key, bucket, value) grain, then a plain count — the formulation that
    scales (each level is a map-side-combining hash aggregation; no
    count-distinct expand over the raw table, and the deduped grain is
    what a stored distinct tier would persist)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "user_id",
            bucket_start(F.col("ts"), "1d").alias("bucket_start"),
            "value",
        )
        .where(F.col("value").isNotNull())
        .distinct()
        .groupBy("user_id", "bucket_start")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )


@_q(
    "rollup_1d_openclose",
    """
    SELECT user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP)   AS bucket_start,
           (min({'t': ts, 'v': value})).t             AS open_t,
           ROUND((min({'t': ts, 'v': value})).v, 4)   AS open_v,
           (max({'t': ts, 'v': value})).t             AS close_t,
           ROUND((max({'t': ts, 'v': value})).v, 4)   AS close_v,
           ROUND((max({'t': ts, 'v': value})).v
                 - (min({'t': ts, 'v': value})).v, 4) AS delta,
           COUNT(value)                               AS cnt
    FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    """,
)
def rollup_1d_openclose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-value tier (OHLC open/close) with the counter-delta
    per bucket — mergeable struct-min/max partials
    (rollup.rollup_openclose), timestamp ties broken by value
    lexicographically in both engines."""
    from mintpy_spark.operators.rollup import rollup_openclose

    ev = load(spark, sf_dir, "events")
    t = rollup_openclose(ev, "value", "1d", key="user_id", ts="ts")
    return t.select(
        "user_id", "bucket_start",
        "open_t", F.round("open_v", 4).alias("open_v"),
        "close_t", F.round("close_v", 4).alias("close_v"),
        F.round(F.col("close_v") - F.col("open_v"), 4).alias("delta"),
        "cnt",
    )


@_q(
    "time_weighted_avg",
    """
    SELECT user_id,
           ROUND(SUM(value * dur) / SUM(dur), 4) AS twa,
           COUNT(value)                          AS num_obs
    FROM (
      SELECT user_id, value,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) - epoch_us(ts) AS dur
      FROM events
    )
    GROUP BY user_id
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-continuous time-weighted mean per key over exact integer-
    microsecond durations (stats.time_weighted_average) — the
    irregular-cadence correction a plain avg() lacks; timestamp ties
    carry zero duration and are ordered by event_id in both engines."""
    from mintpy_spark.operators.stats import time_weighted_average

    ev = load(spark, sf_dir, "events")
    out = time_weighted_average(
        ev, "value", key="user_id", ts="ts", order_cols=("event_id",)
    )
    return out.select(
        "user_id", F.round("twa", 4).alias("twa"), "num_obs"
    )


@_q(
    "heartbeat_max_gap",
    """
    SELECT user_id,
           CAST(MAX(gap) AS BIGINT) AS max_gap_us,
           CAST(SUM(CASE WHEN gap > 21600000000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dead_intervals
    FROM (
      SELECT user_id,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) - epoch_us(ts) AS gap
      FROM events
    )
    GROUP BY user_id
    """,
)
def heartbeat_max_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-liveness profile: per-key max inter-observation gap and the
    number of dead intervals over 6 h (stats.heartbeat_gaps) — exact
    integer microseconds, bit-reproducible."""
    from mintpy_spark.operators.stats import heartbeat_gaps

    ev = load(spark, sf_dir, "events")
    out = heartbeat_gaps(
        ev, key="user_id", ts="ts", order_cols=("event_id",),
        dead_threshold_seconds=21600,
    )
    return out.select(
        "user_id",
        F.col("max_gap_us").cast("long").alias("max_gap_us"),
        F.col("n_dead_intervals").cast("long").alias("n_dead_intervals"),
    )


@_q(
    "out_of_order_profile",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN lateness > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(MAX(GREATEST(lateness, 0)) AS BIGINT) AS max_lateness_us,
           COUNT(*) AS num_obs
    FROM (
      SELECT user_id,
             max(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) - epoch_us(ts) AS lateness
      FROM events
    )
    GROUP BY user_id
    """,
)
def out_of_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data quantification per key: treating event_id as arrival
    order, an observation is LATE if an already-arrived observation of
    the same key has a newer event time (the watermark-lag profile that
    sizes streaming watermarks and the tier maintainer's late-fold rate).
    lateness = running-max(event time) - event time, exact integer
    microseconds; one shuffle on the key."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    mic = F.unix_micros(F.col("ts").cast("timestamp"))
    lateness = F.max(F.col("_mic")).over(w) - F.col("_mic")
    return (
        ev.select("user_id", F.col("event_id"), mic.alias("_mic"))
        .withColumn("_late", lateness)
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("_late") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_late"),
            F.max(F.greatest(F.col("_late"), F.lit(0)))
            .cast("long")
            .alias("max_lateness_us"),
            F.count(F.lit(1)).alias("num_obs"),
        )
    )


@_q(
    "rollup_1d_top3",
    """
    SELECT user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           ROUND(l[1], 4) AS v1,
           ROUND(l[2], 4) AS v2,
           ROUND(l[3], 4) AS v3
    FROM (
      SELECT user_id, date_trunc('day', ts) AS ts,
             list_sort(list(value), 'DESC') AS l
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ) t(user_id, ts, l)
    """,
)
def rollup_1d_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 values per (key, day) bucket as a mergeable tier partial
    (a bounded sorted array merges associatively — the space-saving
    sketch for per-bucket extremes). Collect-then-sort is deterministic
    regardless of collect order; missing ranks yield NULL identically in
    both engines."""
    ev = load(spark, sf_dir, "events")
    arr = F.sort_array(F.collect_list("value"), asc=False)
    return (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            "user_id", bucket_start(F.col("ts"), "1d").alias("bucket_start")
        )
        .agg(arr.alias("_l"))
        .select(
            "user_id", "bucket_start",
            F.round(F.get(F.col("_l"), 0), 4).alias("v1"),
            F.round(F.get(F.col("_l"), 1), 4).alias("v2"),
            F.round(F.get(F.col("_l"), 2), 4).alias("v3"),
        )
    )
