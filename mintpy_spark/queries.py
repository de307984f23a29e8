"""Driver-contract query registry: Spark implementations + DuckDB oracles.

Each entry pairs a Spark DataFrame plan (built from engine operators) with
an ANSI-SQL oracle that DuckDB runs over the same parquet tables. The
driver compares row-count + schema + order-insensitive value hashes, so:

* every computed column is aliased identically on both sides,
* floating aggregates are rounded in-query on BOTH sides (round(x, 4)) so
  engine-order summation ulp differences cannot flip the hash,
* sums of 2-decimal inputs are rounded to 2 decimals (double sums land
  within ~1e-10 of an exact 2-dp multiple, so round(x,2) is collision-free),
* DuckDB's date_trunc returns DATE; oracles cast to TIMESTAMP to match
  Spark.

The testdata mapping of the engine's (url, warc_ts, value) contract:
``events(user_id, ts, value)`` is the observation series (user_id = series
key), ``documents`` drives the text/dedup operators, ``embeddings`` the
similarity operators, and the TPC-H-ish tables exercise general
scan/filter/join/agg coverage.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mintpy_spark.functions.timefn import bucket_start, decimal_year
from mintpy_spark.operators.diff import pair_deltas, temporal_derivative
from mintpy_spark.operators.gapfill import gapfill
from mintpy_spark.operators.rollup import cascade, rollup_from_obs
from mintpy_spark.operators.stats import epoch_std_rms, spatial_average, temporal_average

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def reg(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return reg


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# SQL fragment: decimal year with the reference's 365.25 convention
# (ptime.py:193-227), identical term-for-term to functions.timefn.decimal_year.
_DY_SQL = (
    "(year({t}) + (dayofyear({t}) - 1 + hour({t})/24.0 + minute({t})/1440.0"
    " + second({t})/86400.0) / 365.25)"
)


def _round4(c) -> F.Column:
    return F.round(c, 4)


# ---------------------------------------------------------------------------
# Tier rollups (temporal_average / multilook analog, stack.py:451, multilook.py:19)
# ---------------------------------------------------------------------------

@_q(
    "rollup_1h",
    """
    SELECT user_id,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_start,
           COUNT(value)                            AS cnt,
           ROUND(SUM(value), 2)                    AS vsum,
           MIN(value)                              AS vmin,
           MAX(value)                              AS vmax,
           ROUND(SUM(value) / COUNT(value), 4)     AS vmean
    FROM events GROUP BY 1, 2
    """,
)
def rollup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    t = rollup_from_obs(ev, "value", "1h", key="user_id", ts="ts")
    return t.select(
        "user_id",
        "bucket_start",
        "cnt",
        F.round("vsum", 2).alias("vsum"),
        "vmin",
        "vmax",
        _round4(F.col("vsum") / F.col("cnt")).alias("vmean"),
    )


@_q(
    "rollup_1d_cascade",
    """
    SELECT user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           COUNT(value)                          AS cnt,
           ROUND(SUM(value), 2)                  AS vsum,
           MIN(value) AS vmin, MAX(value) AS vmax
    FROM events GROUP BY 1, 2
    """,
)
def rollup_1d_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1d tier computed FROM the 1h tier partials (cascade), checked against
    a direct daily aggregation oracle — proves cross-tier consistency."""
    ev = load(spark, sf_dir, "events")
    t1h = rollup_from_obs(ev, "value", "1h", key="user_id", ts="ts")
    t1d = cascade(t1h, "1d", key="user_id")
    return t1d.select(
        "user_id",
        "bucket_start",
        "cnt",
        F.round("vsum", 2).alias("vsum"),
        "vmin",
        "vmax",
    )


@_q(
    "rollup_30d_cascade",
    """
    SELECT user_id,
           TIMESTAMP '1970-01-01'
             + (CAST(floor(epoch(ts)) AS BIGINT)
                - CAST(floor(epoch(ts)) AS BIGINT) % 2592000) * INTERVAL 1 SECOND
             AS bucket_start,
           COUNT(value)                      AS cnt,
           ROUND(SUM(value), 2)              AS vsum,
           MIN(value) AS vmin, MAX(value) AS vmax
    FROM events GROUP BY 1, 2
    """,
)
def rollup_30d_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    t1h = rollup_from_obs(ev, "value", "1h", key="user_id", ts="ts")
    t30 = cascade(cascade(t1h, "1d", key="user_id"), "30d", key="user_id")
    return t30.select(
        "user_id",
        "bucket_start",
        "cnt",
        F.round("vsum", 2).alias("vsum"),
        "vmin",
        "vmax",
    )


# ---------------------------------------------------------------------------
# Cross-series / per-series aggregates (stack.py:371-456)
# ---------------------------------------------------------------------------

@_q(
    "spatial_avg_1d",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           ROUND(AVG(value), 4) AS spatial_avg,
           COUNT(value)         AS cnt
    FROM events GROUP BY 1
    """,
)
def spatial_avg_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "bucket_start", bucket_start(F.col("ts"), "1d")
    )
    out = spatial_average(ev, "value", time_col="bucket_start")
    return out.select("bucket_start", _round4("spatial_avg").alias("spatial_avg"), "cnt")


@_q(
    "temporal_avg",
    """
    SELECT user_id, ROUND(SUM(value), 2) AS vsum, COUNT(value) AS cnt
    FROM events GROUP BY 1
    """,
)
def temporal_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compared as (2-dp sum, count) partials — the mean is vsum/cnt.
    ROUND(AVG, 4) is NOT hash-safe: means of 2-dp inputs land exactly on
    .00005 half-way points where engine rounding conventions diverge
    (this bit at sf0.1 while passing the sf0.01 gate by data luck)."""
    ev = load(spark, sf_dir, "events")
    out = temporal_average(ev, "value", key="user_id")
    return out.select(
        "user_id",
        F.round(F.col("temporal_avg") * F.col("cnt"), 2).alias("vsum"),
        "cnt",
    )


@_q(
    "epoch_std_rms_1d",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           ROUND(STDDEV_POP(value), 4)      AS std,
           ROUND(SQRT(AVG(value * value)), 4) AS rms,
           COUNT(value) AS cnt
    FROM events GROUP BY 1
    """,
)
def epoch_std_rms_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "bucket_start", bucket_start(F.col("ts"), "1d")
    )
    out = epoch_std_rms(ev, "value", time_col="bucket_start")
    return out.select(
        "bucket_start", _round4("std").alias("std"), _round4("rms").alias("rms"), "cnt"
    )


# ---------------------------------------------------------------------------
# Windowed series ops (stack.py:459-478; diff.py; ifgram pair network)
# ---------------------------------------------------------------------------

@_q(
    "temporal_derivative",
    """
    SELECT user_id, ts,
           ROUND(deriv, 4) AS deriv
    FROM (
      SELECT user_id, ts,
             value - lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS deriv
      FROM events
    ) WHERE deriv IS NOT NULL
    """,
)
def temporal_derivative_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = temporal_derivative(ev, "value", key="user_id", ts="ts")
    return out.select("user_id", "ts", _round4("deriv").alias("deriv"))


@_q(
    "pair_deltas_lag1",
    """
    SELECT user_id, ts1, ts2,
           ROUND(delta, 4) AS delta,
           ROUND((epoch(ts2) - epoch(ts1)) / 86400.0, 4) AS tbase_days
    FROM (
      SELECT user_id, ts AS ts1,
             lead(ts)    OVER (PARTITION BY user_id ORDER BY ts) AS ts2,
             lead(value) OVER (PARTITION BY user_id ORDER BY ts) - value AS delta
      FROM events
    ) WHERE ts2 IS NOT NULL
    """,
)
def pair_deltas_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = pair_deltas(ev, "value", max_lag=1, key="user_id", ts="ts")
    return out.select(
        "user_id", "ts1", "ts2", _round4("delta").alias("delta"),
        _round4("tbase_days").alias("tbase_days"),
    )


@_q(
    "ref_in_time",
    """
    SELECT user_id, ts,
           ROUND(value - first_value(value) OVER (PARTITION BY user_id ORDER BY ts), 4)
             AS value
    FROM events
    """,
)
def ref_in_time_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mintpy_spark.operators.reference import reference_in_time

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = reference_in_time(ev, "value", key="user_id", ts="ts")
    return out.select("user_id", "ts", _round4("value").alias("value"))


# ---------------------------------------------------------------------------
# Gap-fill (SBAS inversion analog, ifgram_inversion.py:91-227)
# ---------------------------------------------------------------------------

_GAPFILL_BASE = """
    WITH b0 AS (
      -- value-bearing obs only; struct max = argmax-by-ts with the value
      -- as deterministic tie-break (mirrors operators/gapfill.bucketize)
      SELECT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
             max({'t': ts, 'v': value}) AS m
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), b AS (
      SELECT user_id, bucket_start, m.t AS obs_ts, m.v AS value FROM b0
    ), g AS (
      SELECT user_id,
             unnest(generate_series(min(bucket_start), max(bucket_start),
                                    INTERVAL 1 DAY)) AS bucket_start
      FROM b GROUP BY user_id
    ), j AS (
      SELECT g.user_id, g.bucket_start, b.value, b.obs_ts
      FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket_start = b.bucket_start
    )
"""

@_q(
    "gapfill_lastobs_1d",
    _GAPFILL_BASE
    + """
    SELECT user_id, bucket_start,
           ROUND(last_value(value IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY bucket_start), 4) AS value,
           value IS NULL AS filled
    FROM j
    """,
)
def gapfill_lastobs_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = gapfill(ev, "value", tier="1d", mode="last_obs", key="user_id", ts="ts")
    return out.select("user_id", "bucket_start", _round4("value").alias("value"), "filled")


@_q(
    "gapfill_linear_1d",
    _GAPFILL_BASE
    + """
    SELECT user_id, bucket_start,
           ROUND(CASE
             WHEN value IS NOT NULL THEN value
             WHEN prev_v IS NULL THEN next_v
             WHEN next_v IS NULL THEN prev_v
             ELSE prev_v + (next_v - prev_v)
                  * (epoch(bucket_start) - prev_t) / (next_t - prev_t)
           END, 4) AS value,
           value IS NULL AS filled
    FROM (
      SELECT user_id, bucket_start, value,
        last_value(value IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY bucket_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
        last_value(epoch(obs_ts) IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY bucket_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
        first_value(value IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY bucket_start
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
        first_value(epoch(obs_ts) IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY bucket_start
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
      FROM j
    )
    """,
)
def gapfill_linear_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = gapfill(ev, "value", tier="1d", mode="linear", key="user_id", ts="ts")
    return out.select("user_id", "bucket_start", _round4("value").alias("value"), "filled")


# ---------------------------------------------------------------------------
# Velocity (timeseries2velocity closed form, time_func.py:36-72)
# ---------------------------------------------------------------------------

@_q(
    "velocity_linear",
    f"""
    SELECT user_id,
           ROUND(covar_pop(t, value) / var_pop(t), 4) AS velocity,
           ROUND(AVG(value) - covar_pop(t, value) / var_pop(t) * AVG(t), 4)
             AS intercept,
           COUNT(value) AS num_obs
    FROM (SELECT user_id, value, {_DY_SQL.format(t='ts')} - 2024.0 AS t FROM events)
    GROUP BY user_id
    """,
)
def velocity_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intercept anchored at ref_year=2024 (value-scale, 4-dp-round-safe)."""
    from mintpy_spark.operators.timefunc import linear_velocity

    ev = load(spark, sf_dir, "events")
    out = linear_velocity(ev, "value", key="user_id", ts="ts", ref_year=2024.0)
    return out.select(
        "user_id",
        _round4("velocity").alias("velocity"),
        _round4("intercept").alias("intercept"),
        "num_obs",
    )


def _ensure_ext() -> None:
    import mintpy_spark.queries_dedup  # noqa: F401  (dedup/similarity queries)
    import mintpy_spark.queries_ext  # noqa: F401  (registers extended queries)
    import mintpy_spark.queries_ops  # noqa: F401  (diff/add/mask/decimate queries)
    import mintpy_spark.queries_tpch  # noqa: F401  (TPC-H-shaped relational queries)
    import mintpy_spark.queries_sketch2  # noqa: F401  (Sketch-tier queries)
    import mintpy_spark.queries_text  # noqa: F401  (Text/LM analysis queries)
    import mintpy_spark.queries_dedup2  # noqa: F401  (Dedup-family queries beyond queries_dedup)
    import mintpy_spark.queries_embed  # noqa: F401  (Embedding/similarity queries)
    import mintpy_spark.queries_stats2  # noqa: F401  (Statistical estimation/test queries)
    import mintpy_spark.queries_tiers  # noqa: F401  (Tier/streaming/codec/sequential-state queries)
    import mintpy_spark.queries_behave  # noqa: F401  (Behavioral/product analytics queries)
    import mintpy_spark.queries_ts  # noqa: F401  (asof/retention/filter queries)


# Driver-snapshot priority: the gate records a bounded number of queries
# per round, so entries that FAILED their latest driver check come first
# (re-verification), followed by entries that have never appeared in any
# CORRECTNESS_r{N}.json. Content is unchanged -- ordering only; the frozen
# manifest (tests/registry_frozen.txt) compares as a set. The list below
# is GENERATED -- do not edit by hand; run `python tools/rebuild_priority.py`
# after each round's CORRECTNESS file lands (tests/test_registry.py fails
# if it goes stale).
# --- DRIVER_PRIORITY generated by tools/rebuild_priority.py ---
# 97 entries: 0 red-in-latest-driver-check first, then 97 never
# driver-checked (registry minus 213 keys across CORRECTNESS_r*.json).
DRIVER_PRIORITY: tuple[str, ...] = (
    "olap_last_shipper_blame",
    "olap_local_supplier_revenue",
    "olap_market_share",
    "olap_min_cost_supplier",
    "olap_monthly_orders",
    "olap_order_priority_semijoin",
    "olap_part_supplier_census",
    "olap_product_type_profit",
    "olap_promo_revenue_share",
    "olap_returned_items_top",
    "olap_revenue_delta",
    "olap_rollup_hierarchy",
    "olap_ship_latency_quantiles",
    "olap_ship_priority_class",
    "olap_small_qty_revenue",
    "olap_top_revenue_supplier",
    "olap_volume_shipping",
    "pack_concat_chunks",
    "pack_next_fit_bins",
    "pivot_daily_type_counts",
    "presence_bitmap_60d",
    "profile_events_columns",
    "psi_drift_weekly",
    "quality_calibration_bins",
    "quality_gopher_by_source",
    "quality_gopher_flags",
    "rate_limit_audit_1h",
    "residual_rms_deramped",
    "rfm_segments",
    "robust_mom_daily",
    "rollup_1d_distinct_hll",
    "rollup_1d_hdr_quantiles",
    "rollup_1d_hilo",
    "rollup_1d_wow_change",
    "rollup_7d_sliding_p99_hdr",
    "sample_priority_weighted",
    "sample_source_quota",
    "sample_temperature_mixture",
    "sax_motif_words",
    "scd2_snapshot",
    "seasonal_index_dow",
    "series_align_locf",
    "session_bounce_daily",
    "session_path_trigrams",
    "sessionize_realtime_check",
    "sessions_concurrent_peak",
    "share_of_day_by_type",
    "shingle_novelty_share",
    "simsearch_pq_topk",
    "simsearch_sq_topk",
    "sketch_cms_token_freq",
    "skew_audit_user_key",
    "source_dup_profile",
    "srm_chi2_daily",
    "state_dwell_census",
    "stl_decompose_hourly",
    "survival_km_risk_table",
    "temporal_filter_ewma",
    "temporal_filter_runmedian",
    "text_pii_scrub_stats",
    "text_pmi_top_pairs",
    "text_readability_census",
    "text_repetition_profile",
    "text_token_entropy",
    "text_ttr_hapax",
    "text_winnow_stats",
    "text_zipf_slope",
    "tfidf_top_terms",
    "tier_realtime_read_check",
    "tier_snapshot_diff",
    "time_to_convert_quantiles",
    "time_weighted_median",
    "token_bucket_admission",
    "token_bucket_realtime_check",
    "token_rank_shift_weekly",
    "trend_break_detect",
    "truncation_loss_audit",
    "unpivot_lineitem_measures",
    "url_canonical_dups",
    "url_host_census",
    "user_type_mix_gini",
    "value_decile_bounds_weekly",
    "value_mode_daily",
    "value_percentile_daily",
    "velocity_bootstrap",
    "velocity_rolling_30d",
    "velocity_siegel",
    "velocity_theilsen",
    "vocab_frequency_census",
    "warc_roundtrip",
    "wasserstein_drift_weekly",
    "welch_weekday_weekend",
    "welford_online_var",
    "welford_realtime_check",
    "winsorized_daily_mean",
    "xcorr_daily_lag",
    "zorder_cell_stats",
)
# --- end generated DRIVER_PRIORITY ---


def _ordered(d: dict) -> dict:
    head = {k: d[k] for k in DRIVER_PRIORITY if k in d}
    tail = {k: v for k, v in d.items() if k not in head}
    return {**head, **tail}


# Verification-tier registry entries: retained deliberately as the exact
# all-pairs / benign-block formulations that VALIDATE their scale-safe
# twins — their plans go quadratic on a hot block and must not be used as
# the production path at 10^12 docs. Maps verification query -> the
# banded/bucketed twin that IS the production path (tests assert every
# entry here has its twin registered).
VERIFICATION_ONLY: dict[str, str] = {
    "dedup_simhash_pairs": "dedup_simhash_banded",
    "dedup_ngram_jaccard": "dedup_ngram_jaccard_lsh",
    "dedup_embedding_cosine": "dedup_embedding_bucketed",
}


def queries() -> dict[str, QueryFn]:
    _ensure_ext()
    return _ordered(dict(_QUERIES))


def oracle_sql() -> dict[str, str]:
    _ensure_ext()
    return _ordered(dict(_ORACLES))


@_q(
    "tier_merge_late",
    """
    SELECT user_id,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_start,
           COUNT(value)         AS cnt,
           ROUND(SUM(value), 2) AS vsum,
           MIN(value) AS vmin, MAX(value) AS vmax
    FROM events GROUP BY 1, 2
    """,
)
def tier_merge_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate late-data refresh: the 1h tier is built from
    the FIRST 20 days only, then the remaining (late) observations are
    folded in partial-wise via merge_tier_delta — cost proportional to
    the delta, no raw-history re-read. The oracle is the direct full
    aggregation: the merged tier must be indistinguishable from a
    from-scratch build."""
    from mintpy_spark.operators.rollup import merge_tier_delta, rollup_from_obs

    ev = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-21").cast("timestamp")
    base = rollup_from_obs(
        ev.where(F.col("ts") < cutoff), "value", "1h", key="user_id", ts="ts"
    )
    late = ev.where(F.col("ts") >= cutoff)
    merged = merge_tier_delta(base, late, "value", "1h", key="user_id", ts="ts")
    return merged.select(
        "user_id", "bucket_start", "cnt",
        F.round("vsum", 2).alias("vsum"), "vmin", "vmax",
    )


@_q(
    "rollup_6h_planned",
    """
    SELECT user_id,
           TIMESTAMP '1970-01-01'
             + (CAST(floor(epoch(ts)) AS BIGINT)
                - CAST(floor(epoch(ts)) AS BIGINT) % 21600) * INTERVAL 1 SECOND
             AS bucket_start,
           COUNT(value)         AS cnt,
           ROUND(SUM(value), 2) AS vsum,
           MIN(value) AS vmin, MAX(value) AS vmax
    FROM events GROUP BY 1, 2
    """,
)
def rollup_6h_planned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-width rollup routed through the tier planner: a 6h
    aggregation is answered from the 1h tier (pick_tier chooses the
    coarsest divisor), checked against direct 6h aggregation of the raw
    table — proving planner routing loses nothing."""
    from mintpy_spark.operators.rollup import (
        build_tiers,
        pick_tier,
        rollup_to_width,
    )

    ev = load(spark, sf_dir, "events")
    tiers = build_tiers(ev, "value", key="user_id", ts="ts")
    src = pick_tier("6h")
    out = rollup_to_width(tiers[src], "6h", key="user_id", src_tier=src)
    return out.select(
        "user_id", "bucket_start", "cnt",
        F.round("vsum", 2).alias("vsum"), "vmin", "vmax",
    )


@_q(
    "rollup_1d_change_velocity",
    """
    SELECT user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           COUNT(deriv)         AS cnt,
           ROUND(SUM(deriv), 2) AS vsum,
           ROUND(MIN(deriv), 2) AS vmin,
           ROUND(MAX(deriv), 2) AS vmax
    FROM (
      SELECT user_id, ts,
             value - lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS deriv
      FROM events
    ) WHERE deriv IS NOT NULL
    GROUP BY 1, 2
    """,
)
def rollup_1d_change_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star metric end-to-end: per-key CHANGE velocity (lag-1
    delta of the observed value) rolled into the 1d tier's decomposable
    partials — derivative and rollup share one hash(key) clustering, so
    the whole plan is window + aggregation on a single exchange."""
    from mintpy_spark.operators.diff import temporal_derivative
    from mintpy_spark.operators.rollup import rollup_from_obs

    ev = load(spark, sf_dir, "events")
    deriv = temporal_derivative(ev, "value", key="user_id", ts="ts")
    t1d = rollup_from_obs(deriv, "deriv", "1d", key="user_id", ts="ts")
    return t1d.select(
        "user_id", "bucket_start", "cnt",
        F.round("vsum", 2).alias("vsum"),
        F.round("vmin", 2).alias("vmin"),
        F.round("vmax", 2).alias("vmax"),
    )


@_q(
    "tier_refresh_incremental_1d",
    """
    SELECT user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           COUNT(value)         AS cnt,
           ROUND(SUM(value), 2) AS vsum,
           MIN(value) AS vmin, MAX(value) AS vmax
    FROM events GROUP BY 1, 2
    """,
)
def tier_refresh_incremental_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full continuous-aggregate maintenance, end-to-end: tiers built from
    the first 20 days, a late slice folded into the stored 1d tier by one
    partial-merge aggregation (merge_tier_delta, the tier fold's step).
    The oracle is the direct full daily aggregation — incremental
    maintenance must be indistinguishable from a from-scratch build."""
    from mintpy_spark.operators.rollup import build_tiers, merge_tier_delta

    ev = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-21").cast("timestamp")
    stored = build_tiers(
        ev.where(F.col("ts") < cutoff), "value", tiers=("1h", "1d"),
        key="user_id", ts="ts",
    )
    refreshed = merge_tier_delta(
        stored["1d"], ev.where(F.col("ts") >= cutoff), "value", "1d",
        key="user_id", ts="ts",
    )
    return refreshed.select(
        "user_id", "bucket_start", "cnt",
        F.round("vsum", 2).alias("vsum"), "vmin", "vmax",
    )


@_q(
    "rollup_1d_variance_partials",
    """
    SELECT user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           COUNT(value)                   AS cnt,
           ROUND(SUM(value), 2)           AS vsum,
           ROUND(SUM(value * value), 4)   AS vsumsq
    FROM events GROUP BY 1, 2
    """,
)
def rollup_1d_variance_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-capable tier: the 1d (cnt, sum, sum-of-squares) partials
    CASCADED from the 1h tier, checked against direct aggregation —
    var_pop/std/rms derive from these three partials at any tier without
    raw-data reads. Products of 2-dp inputs are exact 4-dp values, so
    vsumsq rounds at 4 dp (rounding coarser would sit on half-way
    points) while vsum keeps the 2-dp rule."""
    from mintpy_spark.operators.rollup import cascade, rollup_from_obs

    ev = load(spark, sf_dir, "events")
    t1h = rollup_from_obs(ev, "value", "1h", key="user_id", ts="ts", with_sq=True)
    t1d = cascade(t1h, "1d", key="user_id")
    return t1d.select(
        "user_id", "bucket_start", "cnt",
        F.round("vsum", 2).alias("vsum"),
        F.round("vsumsq", 4).alias("vsumsq"),
    )


@_q(
    "rollup_1d_histogram",
    """
    SELECT user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           CASE WHEN isnan(value) THEN NULL
                WHEN value < 0.0 THEN 0
                WHEN value >= 100.0 THEN 21
                ELSE CAST(floor(value / 5.0) AS INT) + 1 END AS bin,
           COUNT(*) AS cnt
    FROM events GROUP BY 1, 2, 3
    """,
)
def rollup_1d_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-sketch tier: 1d per-key value histograms CASCADED from
    the 1h histogram tier (bin counts are decomposable partials), checked
    against direct binning — any tier answers approx quantiles/CDF from
    this sketch without raw reads."""
    from mintpy_spark.operators.rollup import cascade_histogram, histogram_tier

    ev = load(spark, sf_dir, "events")
    h1h = histogram_tier(ev, "value", 0.0, 100.0, 20, "1h", key="user_id", ts="ts")
    h1d = cascade_histogram(h1h, "1d", key="user_id")
    return h1d.select("user_id", "bucket_start", "bin", "cnt")


@_q(
    "gapfill_nearest_1d",
    _GAPFILL_BASE
    + """
    SELECT user_id, bucket_start,
           ROUND(CASE
             WHEN value IS NOT NULL THEN value
             WHEN prev_v IS NULL THEN next_v
             WHEN next_v IS NULL THEN prev_v
             WHEN (epoch(bucket_start) - prev_t) <= (next_t - epoch(bucket_start))
               THEN prev_v
             ELSE next_v
           END, 4) AS value,
           value IS NULL AS filled
    FROM (
      SELECT user_id, bucket_start, value,
        last_value(value IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY bucket_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
        last_value(epoch(obs_ts) IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY bucket_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
        first_value(value IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY bucket_start
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
        first_value(epoch(obs_ts) IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY bucket_start
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
      FROM j
    )
    """,
)
def gapfill_nearest_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-observation gap-fill (the reference's 'nearest' interp
    family): each missing grid cell takes the temporally closer real
    observation, previous on exact ties."""
    ev = load(spark, sf_dir, "events")
    out = gapfill(ev, "value", tier="1d", mode="nearest", key="user_id", ts="ts")
    return out.select("user_id", "bucket_start", _round4("value").alias("value"), "filled")
