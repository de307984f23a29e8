"""Robust (Theil-Sen) velocity estimation over irregular per-key series.

MintPy estimates page^W pixel velocity by OLS over the full series
(reference: src/mintpy/timeseries2velocity.py:130-455 run_timeseries2time_func;
solver utils/time_func.py:36-72).  OLS is optimal under Gaussian noise but a
single corrupted epoch (unwrap error in the reference; a parser glitch or
bot-rewritten page in the web recast) drags the slope arbitrarily far.  The
reference's own mitigation is MAD-based epoch exclusion
(src/mintpy/timeseries_rms.py:35-72, already covered by `mad_outlier_days`);
the *estimator-side* robust counterpart from the public literature is the
Theil-Sen slope: the median of pairwise slopes

    slope_ij = (v_j - v_i) / (t_j - t_i),   t = decimal year (365.25
    convention, utils/ptime.py:193-227 — same column expression as the
    OLS path so both estimators are comparable)

which has a 29.3% breakdown point and needs no tuning.

Scale shape
-----------
The full pairwise set is O(n^2) per key.  At the 10^12-page scale the
engine bands the pair set exactly like the reference bands its
interferogram network (sequential connections at levels 1..k,
objects/stack.py:1292-1352 builds the same banded design): only pairs whose
rank distance is <= ``max_lag`` contribute, giving O(n*k) rows out of the
self-join.  The join is an equi-join on the series key with a rank-band
predicate, so after the one hash shuffle on ``key`` every pair row is
produced partition-locally; no cross-key data moves.  The banded median
keeps the 29.3% breakdown property within each band (it is the estimator
of Sen's original paper restricted to a bounded design — public
literature), and at k >= n it degrades gracefully to the exact full
Theil-Sen.

Determinism: rank order is ``row_number() OVER (ORDER BY ts)`` per key —
testdata timestamps carry microsecond entropy so ties are not a practical
concern; equal-decimal-year pairs (same calendar second) are excluded in
both the engine and the oracle (``t_j > t_i`` strictly) so no division by
zero and no engine-dependent tie behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mintpy_spark.functions.timefn import bucket_start, decimal_year


def pairwise_slopes(
    obs: DataFrame,
    value_col: str,
    key: str = "url",
    ts: str = "warc_ts",
    max_lag: int | None = 20,
    ref_year: float = 2024.0,
) -> DataFrame:
    """(key, slope) — one row per in-band observation pair of each key.

    Banded path (``max_lag`` set): the band is expressed as ``max_lag``
    lag columns over ONE window pass — slope j of a row pairs it with the
    observation j ranks back — then exploded.  The whole pair generation
    is a single hash shuffle on ``key`` (the window's), the later
    ``groupBy(key)`` reuses that partitioning, and no self-join exists in
    the plan (the join formulation costs 3 Exchanges; this costs 1).
    Full path (``max_lag=None``): exact Theil-Sen needs all O(n^2) pairs —
    a rank self-join, kept for verification/small-n use.
    """
    base = obs.select(
        F.col(key).alias("k"),
        (decimal_year(F.col(ts)) - F.lit(ref_year)).alias("t"),
        F.col(value_col).cast("double").alias("v"),
        F.col(ts).alias("_ts"),
    )
    if max_lag is not None:
        w = Window.partitionBy("k").orderBy("_ts")
        slopes = F.array(
            *[
                F.when(
                    F.col("t") > F.lag("t", j).over(w),
                    (F.col("v") - F.lag("v", j).over(w))
                    / (F.col("t") - F.lag("t", j).over(w)),
                )
                for j in range(1, int(max_lag) + 1)
            ]
        )
        return (
            base.select(F.col("k").alias(key), slopes.alias("_s"))
            .select(key, F.explode("_s").alias("slope"))
            .where(F.col("slope").isNotNull())
        )
    rn = F.row_number().over(Window.partitionBy("k").orderBy("_ts"))
    ranked = base.withColumn("rn", rn)
    a = ranked.alias("a")
    b = ranked.alias("b")
    cond = (F.col("a.k") == F.col("b.k")) & (F.col("b.rn") > F.col("a.rn"))
    return (
        a.join(b, cond)
        .where(F.col("b.t") > F.col("a.t"))
        .select(
            F.col("a.k").alias(key),
            ((F.col("b.v") - F.col("a.v")) / (F.col("b.t") - F.col("a.t"))).alias(
                "slope"
            ),
        )
    )


def theil_sen_velocity(
    obs: DataFrame,
    value_col: str,
    key: str = "url",
    ts: str = "warc_ts",
    max_lag: int | None = 20,
    ref_year: float = 2024.0,
) -> DataFrame:
    """(key, velocity, num_pairs): median-of-pairwise-slopes per key.

    ``percentile(slope, 0.5)`` is Spark's exact interpolating percentile —
    the same linear-interpolation convention DuckDB's ``quantile_cont``
    uses, so the two engines agree bit-for-bit on identically computed
    slope sets.
    """
    slopes = pairwise_slopes(
        obs, value_col, key=key, ts=ts, max_lag=max_lag, ref_year=ref_year
    )
    return slopes.groupBy(key).agg(
        F.expr("percentile(slope, 0.5)").alias("velocity"),
        F.count("slope").alias("num_pairs"),
    )


def winsorized_daily_stats(
    events: DataFrame, ts: str = "ts", value: str = "value",
    lo: float = 0.05, hi: float = 0.95, scale: float = 100.0,
) -> DataFrame:
    """Winsorized (percentile-clamped) daily rollup: per day, clamp every
    value into its day's exact [p_lo, p_hi] percentile band, then report
    exact-integer partials of the clamped values — the robust-mean tier
    a monitoring pipeline stores when raw means are outlier-dominated
    (the aggregate-side counterpart of the reference's MAD epoch
    exclusion, src/mintpy/timeseries_rms.py:35-72: instead of dropping
    whole epochs, each epoch's tail values are clamped).

    Exactness: Spark ``percentile(x, q)`` and DuckDB ``quantile_cont``
    share the same linear interpolation over identical double multisets,
    and every clamped value is quantized row-locally with the portable
    floor(x*scale + 0.5) before summation, so the reported partials are
    exact int64 — no float summation-order ambiguity.

    Plan shape: ONE Exchange. The explicit repartition on the day bucket
    satisfies the clustered distribution of both the percentile window
    (PARTITION BY day, unbounded frame) and the final groupBy(day) — the
    same single-shuffle trick as the substring-span census
    (operators/dedup.duplicated_window_fraction). Day-bucket state is
    bounded (one day of one metric per partition); skew across days is
    bounded by the crawl's own daily volume.
    """
    day = bucket_start(F.col(ts).cast("timestamp"), "1d")
    v = F.col(value)
    base = (
        events.where(v.isNotNull() & ~F.isnan(v))
        .select(day.alias("bucket_day"), v.alias("v"))
        .repartition("bucket_day")
    )
    w = Window.partitionBy("bucket_day")
    clamped = (
        base.withColumn("p_lo", F.expr(f"percentile(v, {lo})").over(w))
        .withColumn("p_hi", F.expr(f"percentile(v, {hi})").over(w))
        .withColumn("wv", F.least(F.greatest(F.col("v"), F.col("p_lo")), F.col("p_hi")))
    )
    q = lambda c: F.floor(c * F.lit(scale) + F.lit(0.5)).cast("long")  # noqa: E731
    return (
        clamped.groupBy("bucket_day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min(q(F.col("p_lo"))).alias("p_lo_c"),
            F.min(q(F.col("p_hi"))).alias("p_hi_c"),
            F.sum(q(F.col("wv"))).cast("long").alias("wsum_c"),
            F.sum(q(F.col("v"))).cast("long").alias("rsum_c"),
        )
    )


def siegel_velocity(
    obs: DataFrame,
    value_col: str,
    key: str = "url",
    ts: str = "warc_ts",
    max_lag: int = 10,
    ref_year: float = 2024.0,
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(key, velocity, num_points): Siegel repeated-median slope per key —
    median over observations i of (median over in-band neighbors j of
    slope(i, j)). Public literature (Siegel 1982, Biometrika): the nested
    median lifts the breakdown point from Theil-Sen's 29.3% to 50%, the
    strongest possible — the estimator a crawl pipeline wants when entire
    sub-ranges of a page's history are bot-rewritten, not just isolated
    epochs (the reference's per-epoch analog is MAD exclusion,
    src/mintpy/timeseries_rms.py:35-72; this is the estimator-side
    counterpart one rung above theil_sen_velocity).

    Band: neighbors within ``max_lag`` ranks on EITHER side (symmetric,
    unlike Theil-Sen's forward band — the inner median needs each center
    observation's own neighbor set). Slope sign is direction-invariant
    ((-a)/(-b) == a/b exactly in IEEE), so engine lag/lead slopes equal
    the oracle's (b.v - a.v)/(b.t - a.t) bit-for-bit.

    Exactness: the inner median is computed ROW-LOCALLY from the sorted
    in-band slope array with the standard linear-interpolation convention
    (odd -> middle element; even -> mean of the two middles — the same
    convention as Spark percentile(0.5) and DuckDB quantile_cont(0.5),
    which the outer median uses). Equal-timestamp neighbor pairs are
    excluded on both sides (strict t inequality), so no division by zero.

    Scale shape: ONE hash shuffle on ``key`` (the window's); the 2L lag/
    lead slope columns are one window pass, the inner median is pure
    array code in whole-stage codegen, and the outer groupBy(key) reuses
    the window's partitioning. No self-join exists in the plan."""
    base = obs.select(
        F.col(key).alias("k"),
        (decimal_year(F.col(ts)) - F.lit(ref_year)).alias("t"),
        F.col(value_col).cast("double").alias("v"),
        F.col(ts).alias("_ts"),
        *[F.col(c) for c in order_cols],
    )
    # Window order is (ts, *order_cols): pass a unique tie-breaker when a
    # key can carry duplicate timestamps, so the lag/lead neighbor bands
    # (and hence engine-vs-oracle agreement) stay deterministic — same
    # convention as politeness_schedule / change_rate_estimate (ADVICE r3).
    w = Window.partitionBy("k").orderBy("_ts", *order_cols)
    neighbor_slopes = []
    for j in range(1, int(max_lag) + 1):
        for other_t, other_v in (
            (F.lag("t", j).over(w), F.lag("v", j).over(w)),
            (F.lead("t", j).over(w), F.lead("v", j).over(w)),
        ):
            neighbor_slopes.append(
                F.when(
                    other_t.isNotNull() & (other_t != F.col("t")),
                    (other_v - F.col("v")) / (other_t - F.col("t")),
                )
            )
    slopes = F.array_sort(
        F.filter(F.array(*neighbor_slopes), lambda x: x.isNotNull())
    )
    n = F.size(slopes)
    lo_mid = F.element_at(slopes, (n / 2).cast("int"))
    hi_mid = F.element_at(slopes, (n / 2 + 1).cast("int"))
    # CaseWhen branches evaluate lazily, so n == 0 (a key with a single
    # usable observation) falls through to NULL without ever touching
    # element_at(slopes, 0); interpolation is lower + (upper-lower)*0.5,
    # the quantile_cont form both engines' outer median also uses.
    inner_median = F.when(
        n % 2 == 1, F.element_at(slopes, ((n + 1) / 2).cast("int"))
    ).when(n >= 2, lo_mid + (hi_mid - lo_mid) * F.lit(0.5))
    mi = (
        base.select("k", inner_median.alias("_mi"))
        .where(F.col("_mi").isNotNull())
    )
    return mi.groupBy(F.col("k").alias(key)).agg(
        F.expr("percentile(_mi, 0.5)").alias("velocity"),
        F.count("_mi").alias("num_points"),
    )
