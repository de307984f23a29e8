"""Offline changepoint detection via exact-integer CUSUM over count tiers.

Reference analog: the step component of MintPy's time-function dictionary
(src/mintpy/objects/timefunc.py step/'step_date' regressors;
timeseries2velocity.py fits known step dates). This operator finds the
UNKNOWN step location: the classic CUSUM statistic over a per-key count
series — argmax_k |S_k - k/n * S_n| — locates the most likely mean shift.

Exactness at any scale: for integer count series the numerator
``D_k = n*S_k - k*S_n`` is exact 64-bit integer arithmetic, so the argmax
is reproducible bit-for-bit across engines and partitionings (no float
summation-order ambiguity — unlike a mean-subtracted float CUSUM, whose
near-cancellation makes the argmax flip at ulp level). Counts come from the
1d tier, so the scan is tier-sized, not raw-sized.

Plan shape: one hash aggregation to the 1d counts + one window over the
series key (both shuffle on the same key — with the tier stored
hash-partitioned on key, a single Exchange) + a rank filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mintpy_spark.functions.timefn import bucket_start


def daily_counts(
    obs: DataFrame, key: str = "url", ts: str = "warc_ts", tier: str = "1d"
) -> DataFrame:
    """(key, bucket_start, c): per-bucket observation counts."""
    return (
        obs.select(key, bucket_start(F.col(ts), tier).alias("bucket_start"))
        .groupBy(key, "bucket_start")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cusum_changepoint(
    counts: DataFrame, key: str = "url"
) -> DataFrame:
    """(key, cp_bucket, max_dev_n, n_buckets): the bucket k maximizing the
    integer CUSUM deviation |n*S_k - k*S_n| (ties -> earliest bucket);
    ``max_dev_n`` is that exact integer numerator (the deviation scaled by
    n_buckets)."""
    seq = Window.partitionBy(key).orderBy("bucket_start")
    whole = Window.partitionBy(key)
    run = (
        counts.withColumn("_sk", F.sum("c").over(
            seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("_k", F.row_number().over(seq))
        .withColumn("_sn", F.sum("c").over(whole))
        .withColumn("_n", F.count(F.lit(1)).over(whole))
        .withColumn(
            "_dev",
            F.abs(F.col("_n") * F.col("_sk") - F.col("_k") * F.col("_sn")),
        )
    )
    pick = Window.partitionBy(key).orderBy(F.desc("_dev"), F.asc("bucket_start"))
    return (
        run.withColumn("_rk", F.row_number().over(pick))
        .where(F.col("_rk") == 1)
        .select(
            key,
            F.col("bucket_start").alias("cp_bucket"),
            F.col("_dev").alias("max_dev_n"),
            F.col("_n").alias("n_buckets"),
        )
    )


def trend_break(
    obs: DataFrame,
    value_col: str,
    key: str = "url",
    ts: str = "warc_ts",
    epoch: str = "2024-01-01",
) -> DataFrame:
    """Best single TREND breakpoint per key: two-segment least-squares
    over the daily series, breakpoint = the day whose left/right split
    minimizes total SSE. The unknown-date counterpart of the reference's
    coseismic step + velocity-change regressors (objects/timefunc.py
    'step'/'polyline'; timeseries2velocity.py fits USER-GIVEN dates —
    this searches for the date; CUSUM above finds mean shifts, this
    finds slope shifts).

    Exactness at any scale: all OLS partials are exact int64 — values in
    cents (2-dp inputs), day index t as small integers, per-day partials
    (k, sum cents, sum cents^2, k*t, k*t^2, t*sum) summed as integers,
    prefix/total sums via ordered windows. Every downstream double (the
    per-candidate SSEs) is a FIXED op sequence over those identical
    integers, so both engines produce bit-identical doubles and the
    argmin cannot flip at ulp level; squaring is staged multiplication
    (num*num), never pow(). SSE identities (public regression algebra):

        SSE = (Svv - Sv^2/n) - (Stv - St*Sv/n)^2 / (Stt - St^2/n)

    Plan shape: two Exchanges, both cheap by construction — the daily
    hash agg shuffles MAP-COMBINED partials (day-sized rows, not raw;
    combining on (key, day) before the shuffle is why the agg is not
    folded onto the key-only window partitioning: a pre-repartition on
    key alone would shuffle the raw rows uncombined), then the
    prefix-sum windows + rank filter share one key-partitioned Exchange
    over ~days-per-key rows. Candidates are day boundaries with >= 2
    days on each side."""
    day_t = F.datediff(
        bucket_start(F.col(ts).cast("timestamp"), "1d").cast("date"),
        F.lit(epoch).cast("date"),
    ).cast("long")
    cents = F.round(F.col(value_col) * 100, 0).cast("long")
    daily = (
        obs.where(F.col(value_col).isNotNull())
        .select(F.col(key).alias("k_"), day_t.alias("t"), cents.alias("c"))
        .groupBy("k_", "t")
        .agg(
            F.count("c").alias("k"),
            F.sum("c").alias("sv"),
            F.sum(F.col("c") * F.col("c")).alias("svv"),
        )
        .select(
            "k_", "t", "k", "sv", "svv",
            (F.col("k") * F.col("t")).alias("st"),
            (F.col("k") * F.col("t") * F.col("t")).alias("stt"),
            (F.col("t") * F.col("sv")).alias("stv"),
        )
    )
    wcum = (
        Window.partitionBy("k_")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("k_").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cols = ("k", "sv", "svv", "st", "stt", "stv")
    staged = daily.select(
        "k_", "t",
        F.row_number().over(Window.partitionBy("k_").orderBy("t")).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("nd"),
        *[F.sum(c).over(wcum).alias(f"l_{c}") for c in cols],
        *[F.sum(c).over(wall).alias(f"a_{c}") for c in cols],
    )
    for c in cols:
        staged = staged.withColumn(f"r_{c}", F.col(f"a_{c}") - F.col(f"l_{c}"))

    def _sse(p: str):
        k = F.col(f"{p}k")
        sv_d = F.col(f"{p}sv").cast("double")
        st_d = F.col(f"{p}st").cast("double")
        syy = F.col(f"{p}svv").cast("double") - sv_d * F.col(f"{p}sv") / k
        num = F.col(f"{p}stv").cast("double") - st_d * F.col(f"{p}sv") / k
        den = F.col(f"{p}stt").cast("double") - st_d * F.col(f"{p}st") / k
        return syy - num * num / den, den

    sse_l, den_l = _sse("l_")
    sse_r, den_r = _sse("r_")
    sse_1, den_1 = _sse("a_")
    cand = staged.select(
        "k_", "t", "rn", "nd",
        F.col("l_k").alias("n_obs_left"),
        F.col("r_k").alias("n_obs_right"),
        sse_l.alias("_sl"), sse_r.alias("_sr"),
        sse_1.alias("_s1"), den_l.alias("_dl"), den_r.alias("_dr"),
        den_1.alias("_d1"),
    ).where(
        (F.col("rn") >= 2)
        & (F.col("nd") - F.col("rn") >= 2)
        & (F.col("_dl") > 0)
        & (F.col("_dr") > 0)
        & (F.col("_d1") > 0)
    ).withColumn("_sse", F.col("_sl") + F.col("_sr"))
    best = (
        cand.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("k_").orderBy(F.asc("_sse"), F.asc("t"))
            ),
        )
        .where(F.col("_rk") == 1)
    )
    gain = F.when(
        F.col("_s1") > 0, (F.col("_s1") - F.col("_sse")) / F.col("_s1")
    )
    return best.select(
        F.col("k_").alias(key),
        F.date_add(F.lit(epoch).cast("date"), F.col("t").cast("int"))
        .cast("timestamp")
        .alias("break_day"),
        F.col("rn").cast("long").alias("n_days_left"),
        (F.col("nd") - F.col("rn")).cast("long").alias("n_days_right"),
        F.round(F.col("_sse") / F.lit(10000.0), 4).alias("sse_break"),
        F.round(F.col("_s1") / F.lit(10000.0), 4).alias("sse_single"),
        F.round(gain, 6).alias("gain"),
    )
