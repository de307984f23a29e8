"""Per-observation anomaly detection via exact-integer rolling z-scores.

Reference analog: MintPy flags outlier *epochs* by residual RMS + MAD
(src/mintpy/timeseries_rms.py:34-120, `utils/utils1.py` MAD helpers); this
operator is the per-observation streaming-shaped counterpart — each point
is scored against the trailing window of its OWN series, the classic
rolling z-score monitor a web-crawl pipeline runs per url (sudden
text-length jumps = template change / defacement / paywall flip).

Exactness at any scale: inputs are fixed-point (k-dp) values, so the
quantized series ``v = floor(value*scale + 0.5)`` is exact int64 and the
window partials n, s1 = Σv, s2 = Σv² are exact integers.  The anomaly
predicate is evaluated in INTEGER arithmetic::

    z² > T²  ⇔  (v·n − s1)² · (n−1)  >  T² · n · (n·s2 − s1²)

so the flagged set is reproducible bit-for-bit across engines and
partitionings — no float summation-order ambiguity at the decision
boundary (the reported z itself is derived from the same exact integers
through a fixed IEEE op sequence, identical in Spark and DuckDB).

Plan shape: one window over (key ORDER BY ts) — a single hash Exchange on
the series key (none at all when the input is already hash-partitioned on
key, e.g. read from the bucketed obs table) and zero Python. The rows
frame is O(lookback) state per key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mintpy_spark.functions.timefn import bucket_start


def quantize_fixed(col: Column, scale: float = 100.0) -> Column:
    """Engine-portable fixed-point quantization of a FLOAT column:
    floor(x*scale + 0.5) (identical doubles -> identical ints in
    Spark/DuckDB/NumPy; ROUND diverges at half-points). Non-finite values
    (NaN, ±Inf) quantize to NULL — never to 0 or Long.MAX (cast(NaN as
    long) is 0 non-ANSI / an error under ANSI; floor(Inf) cast saturates
    to Long.MAX and would poison every window it enters)."""
    q = F.floor(col * F.lit(scale) + F.lit(0.5)).cast("long")
    finite = ~F.isnan(col) & (F.abs(col) != F.lit(float("inf")))
    return F.when(finite, q).otherwise(F.lit(None).cast("long"))


def rolling_zscore_anomalies(
    df: DataFrame,
    value_col: str,
    key: str = "user_id",
    ts: str = "ts",
    lookback: int = 12,
    min_obs: int = 8,
    threshold: int = 3,
    scale: float = 100.0,
) -> DataFrame:
    """(key, ts, value, n, dev, z) for observations whose deviation from
    the trailing ``lookback``-row window mean exceeds ``threshold`` sample
    standard deviations.

    ``dev = v*n - s1`` is the exact integer deviation numerator (the
    z-score scaled by n*std); ``z`` is the float z-score derived from the
    same integer partials. Rows with fewer than ``min_obs`` predecessors
    or zero window variance are never flagged (a constant window gives no
    scale to judge against). Precondition: (key, ts) is unique — a
    trailing ROWS frame is ill-defined under duplicate timestamps (tie
    order is arbitrary in any engine). A row with a NULL ts is skipped.

    ``threshold`` must be an integer so the predicate stays exact; the
    common 2σ/3σ/4σ monitors all are. Exactness bound: the linear terms
    (s1, dev) stay in int64 (safe for |v| up to ~9e16/lookback), while
    every SQUARED term (s2, nvar, the flag predicate) runs in
    DECIMAL(38,0) — the squared terms scale as lookback³·v², which
    already exceeds int64 at |v| ≈ 1e9 (a 10 MB text_length at
    scale=100), but stays exact in decimal to |v| ≈ 1e17 at
    lookback ≤ 100. The DuckDB oracle mirrors this with HUGEINT.
    """
    if threshold != int(threshold):
        raise ValueError("threshold must be an integer (stays in int64)")
    fr = (
        Window.partitionBy(key)
        .orderBy(ts)
        .rowsBetween(-lookback, -1)
    )
    dec = "decimal(38,0)"
    v = quantize_fixed(F.col(value_col), scale)
    q = df.where(F.col(ts).isNotNull()).select(key, ts, value_col, v.alias("_v"))
    n = F.count("_v").over(fr)
    s1 = F.sum("_v").over(fr)
    # squared terms in decimal: v*v overflows int64 at |v| ~ 3e9
    vd = F.col("_v").cast(dec)
    s2 = F.sum(vd * vd).over(fr)
    w = q.select(
        key,
        ts,
        value_col,
        F.col("_v"),
        n.alias("_n"),
        s1.alias("_s1"),
        s2.alias("_s2"),
    )
    dev = F.col("_v") * F.col("_n") - F.col("_s1")
    devd = dev.cast(dec)
    nvar = (
        F.col("_n").cast(dec) * F.col("_s2")
        - F.col("_s1").cast(dec) * F.col("_s1").cast(dec)
    )
    t2 = int(threshold) * int(threshold)
    # z = dev / sqrt(n * nvar / (n-1)): fixed op sequence over exact ints
    z = dev.cast("double") / F.sqrt(
        F.col("_n").cast("double")
        * nvar.cast("double")
        / (F.col("_n") - F.lit(1)).cast("double")
    )
    return (
        w.where(
            (F.col("_n") >= F.lit(min_obs))
            & (nvar > F.lit(0).cast(dec))
            & (
                devd * devd * (F.col("_n") - F.lit(1)).cast(dec)
                > F.lit(t2).cast(dec) * F.col("_n").cast(dec) * nvar
            )
        )
        .select(
            key,
            ts,
            value_col,
            F.col("_n").alias("n"),
            dev.alias("dev"),
            F.round(z, 4).alias("z"),
        )
    )


def exact_group_corr(
    df: DataFrame,
    x: Column,
    y: Column,
    group: str,
    min_n: int = 3,
    use_decimal: bool = False,
) -> DataFrame:
    """Pearson correlation of two INTEGER metrics per group, computed from
    exact integer partials (n, Σx, Σy, Σx², Σy², Σxy) so the float
    division/sqrt sequence sees identical inputs on every engine and
    partitioning::

        corr = (n·Σxy − Σx·Σy) / (sqrt(n·Σx² − (Σx)²) · sqrt(n·Σy² − (Σy)²))

    Reference analog: MintPy correlates velocity/residual fields against
    DEM height to diagnose topography-coupled error
    (src/mintpy/dem_error.py design reasoning; utils/utils1.py stats) —
    here the same diagnostic runs per group over any two integral columns
    (e.g. does document length track token count per source?).

    One hash aggregation (map-side partials), zero Python, decomposable —
    the partials merge across partitions/increments exactly like the tier
    partials in operators/rollup.py. Rows where EITHER metric is NULL are
    excluded up front (n and every partial must cover the same row set or
    the estimator is inconsistent); groups with < ``min_n`` surviving rows
    or zero variance in either metric are dropped (corr undefined).

    Overflow bound (int64 path): the cross terms peak at n²·max(|x|,|y|)²,
    so groups are safe up to n ≈ 3e9 / max_metric (≈5.5M rows per group at
    553-char docs). Past that, pass ``use_decimal=True``: partials and
    cross terms run in DECIMAL(38,0) — exact to 1e38, covering 10^12-row
    groups at 5-digit metrics — at the cost of decimal arithmetic in the
    (already tiny, one-row-per-group) post-aggregation projection.
    """
    df = df.where(x.isNotNull() & y.isNotNull())
    if use_decimal:
        dec = "decimal(38,0)"
        x, y = x.cast(dec), y.cast(dec)
    agg = df.groupBy(group).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    if use_decimal:
        agg = agg.select(
            group,
            "n",
            *[F.col(c).cast("decimal(38,0)").alias(c)
              for c in ("sx", "sy", "sxx", "syy", "sxy")],
        )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    corr = num.cast("double") / (
        F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))
    )
    return agg.where(
        (F.col("n") >= F.lit(min_n)) & (vx > F.lit(0)) & (vy > F.lit(0))
    ).select(
        group,
        "n",
        num.alias("corr_num"),
        F.round(corr, 4).alias("corr"),
    )


def burst_ratio_daily(
    events: DataFrame, key: str = "event_type", ts: str = "ts",
    lookback_days: int = 7, threshold_num: int = 2, threshold_den: int = 1,
) -> DataFrame:
    """Traffic-burst detection per key: each day's event count scored
    against the trailing ``lookback_days``-day baseline (Kleinberg-style
    burst heuristic reduced to its thresholded rate-ratio core — the
    monitor a crawl pipeline runs per domain/event-type to catch scrape
    storms or template explosions).

    The decision is INTEGER-exact (same discipline as the rolling
    z-score above): with c = today's count, s = Σ prior counts over m
    prior active days, burst ⇔ c·m·threshold_den ≥ threshold_num·s —
    no float at the decision boundary, so the flagged set is
    bit-reproducible across engines and partitionings. ratio_bp =
    floor(c·m·10⁴/s + 0.5) is the quantized ratio for reporting; days
    with no prior baseline (m = 0) report NULL ratio and flag 0.

    Reference analog: residual-RMS epoch outliers
    (src/mintpy/timeseries_rms.py:34-72) flag whole epochs against the
    series' own statistic; this is the count-domain counterpart on the
    1d tier.

    Plan shape: the daily-count aggregation and the trailing RANGE
    window share the same key — one Exchange on (key), window state is
    O(lookback) per key. RANGE frame ordered by integer epoch-day so
    calendar gaps (days with zero events) age out of the baseline
    correctly, unlike a ROWS frame which would stretch across gaps.
    """
    day = bucket_start(F.col(ts).cast("timestamp"), "1d")
    c = (
        events.groupBy(F.col(key).alias(key), day.alias("bucket_day"))
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("d", F.datediff("bucket_day", F.lit("1970-01-01")))
    )
    w = (
        Window.partitionBy(key)
        .orderBy("d")
        .rangeBetween(-lookback_days, -1)
    )
    out = c.withColumn("s_prev", F.sum("c").over(w)).withColumn(
        "m_prev", F.count("c").over(w)
    )
    ratio_bp = F.floor(
        F.col("c") * F.col("m_prev") * F.lit(10000.0) / F.col("s_prev")
        + F.lit(0.5)
    ).cast("long")
    burst = (
        F.col("c") * F.col("m_prev") * F.lit(threshold_den)
        >= F.lit(threshold_num) * F.col("s_prev")
    ).cast("int")
    return out.select(
        key,
        "bucket_day",
        F.col("c").cast("long").alias("c"),
        F.coalesce(F.col("s_prev"), F.lit(0)).cast("long").alias("s_prev"),
        F.coalesce(F.col("m_prev"), F.lit(0)).cast("long").alias("m_prev"),
        F.when(F.col("m_prev") > 0, ratio_bp).alias("ratio_bp"),
        F.coalesce(
            F.when(F.col("m_prev") > 0, burst), F.lit(0)
        ).alias("burst"),
    )
