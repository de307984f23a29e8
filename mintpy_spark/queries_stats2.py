"""Statistical estimation/test queries: robust fits, drift tests, bootstrap, ANOVA, survival, changepoints.

Consolidated from the round-batch modules named in the section
markers below (pure moves, zero semantic change — VERDICT r4 #10).
"""

from __future__ import annotations

from mintpy_spark.functions.scalars import nonempty_tokens, portable_hash60
from mintpy_spark.operators import curation as C
from mintpy_spark.queries import _DY_SQL, _q, load
from mintpy_spark.queries import _q, load
from mintpy_spark.queries_ext import _STOPWORDS
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


# =========================================================================
# from queries_r3c.py
# =========================================================================

"""Round-3 additions, batch c: robust velocity (Theil-Sen), content drift
(inter-snapshot shingle Jaccard), LTOB shape-preserving downsampling, and
scalar-quantized similarity search.

Same oracle discipline as mintpy_spark.queries: identical aliases both
sides, in-query rounding both sides, integer arithmetic wherever a ranking
or a comparison crosses the engine boundary.
"""


@_q(
    "velocity_theilsen",
    f"""
    WITH base AS (
      SELECT user_id,
             {_DY_SQL.format(t='ts')} - 2024.0 AS t,
             value AS v,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      FROM events
    )
    SELECT a.user_id AS user_id,
           ROUND(median((b.v - a.v) / (b.t - a.t)), 4) AS velocity,
           COUNT(*) AS num_pairs
    FROM base a JOIN base b
      ON a.user_id = b.user_id
     AND b.rn > a.rn AND b.rn <= a.rn + 20
     AND b.t > a.t
    GROUP BY a.user_id
    """,
)
def velocity_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust page-change velocity: banded Theil-Sen (median of pairwise
    slopes, rank band k=20) — the outlier-resistant twin of
    `velocity_linear` (timeseries2velocity.py OLS) whose banding mirrors
    the reference's sequential-connection ifgram network
    (stack.py:1292-1352).  DuckDB's median == quantile_cont(0.5), the same
    interpolation Spark's exact percentile uses."""
    from mintpy_spark.operators.robust import theil_sen_velocity

    ev = load(spark, sf_dir, "events")
    out = theil_sen_velocity(
        ev, "value", key="user_id", ts="ts", max_lag=20, ref_year=2024.0
    )
    return out.select(
        "user_id", F.round("velocity", 4).alias("velocity"), "num_pairs"
    )


@_q(
    "drift_shingle_jaccard",
    """
    WITH sh AS (
      SELECT source, doc_id,
             list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                            FOR i IN range(1, len(ws) - 1)]) AS s
      FROM (SELECT source, doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS ws
            FROM documents)
    ),
    pairs AS (
      SELECT source, doc_id, s,
             lag(s) OVER (PARTITION BY source ORDER BY doc_id) AS p
      FROM sh
    )
    SELECT source, doc_id,
           len(list_intersect(s, p)) AS inter,
           len(list_distinct(s || p)) AS union_sz,
           CASE WHEN len(list_distinct(s || p)) > 0
                THEN ROUND(len(list_intersect(s, p))::DOUBLE
                           / len(list_distinct(s || p)), 4)
                END AS jaccard
    FROM pairs WHERE p IS NOT NULL
    """,
)
def drift_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-level change between consecutive documents of a stream:
    3-shingle Jaccard against the predecessor (the ifgramStack
    sequential-pair pattern, stack.py:688, pointed at content instead of
    metrics).  Arrays stay row-local — no token explosion, one shuffle."""
    from mintpy_spark.operators.drift import shingle_drift

    docs = load(spark, sf_dir, "documents")
    return shingle_drift(docs, text_col="text", key="source", order_col="doc_id", n=3)


@_q(
    "downsample_ltob_1d",
    """
    WITH staged AS (
      SELECT user_id, ts,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
             epoch_us(ts) AS t,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events
    ),
    nbr AS (
      SELECT *,
             lag(t)  OVER w AS tp, lag(v)  OVER w AS vp,
             lead(t) OVER w AS tn, lead(v) OVER w AS vn
      FROM staged WINDOW w AS (PARTITION BY user_id ORDER BY t)
    ),
    ar AS (
      SELECT user_id, bucket_start, ts, v,
             abs((tp - tn) * (v - vp) - (tp - t) * (vn - vp)) AS area2,
             row_number() OVER (
               PARTITION BY user_id, bucket_start
               ORDER BY abs((tp - tn) * (v - vp) - (tp - t) * (vn - vp))
                        DESC NULLS LAST, t) AS rn
      FROM nbr
    )
    SELECT user_id, bucket_start, ts, v::DOUBLE / 100 AS value, area2
    FROM ar WHERE rn = 1
    """,
)
def downsample_ltob_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-One-Bucket daily downsample of each user's series
    (Steinarsson 2013) — all-integer triangle areas (epoch-us x
    fixed-point values) so the argmax is exact in both engines."""
    from mintpy_spark.operators.downsample import ltob_downsample

    ev = load(spark, sf_dir, "events")
    return ltob_downsample(ev, "value", tier="1d", key="user_id", ts="ts")


@_q(
    "simsearch_sq_topk",
    """
    WITH q AS (
      SELECT list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 128.0 + 0.5) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id = 0
    )
    SELECT e.vec_id, e.label,
           CAST(list_sum(list_transform(
             list_zip(list_transform(e.embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 128.0 + 0.5) AS BIGINT)),
                      q.qv),
             p -> p[1] * p[2])) AS BIGINT) AS qdot
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY qdot DESC, e.vec_id ASC LIMIT 10
    """,
)
def simsearch_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by scalar-quantized integer dot product: fixed-point int8-style
    embedding compression (floor(x*128 + 0.5)) with an EXACT integer
    ranking — the embedding-side sibling of the Gorilla fixed-point codec.
    Zero exchanges: the quantized query vector is a 1-row broadcast."""
    from mintpy_spark.operators.similarity import sq_quantize

    e = load(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        e.where(F.col("vec_id") == 0).select(
            sq_quantize(F.col("embedding"), 128.0).alias("qv")
        )
    )
    qdot = F.aggregate(
        F.zip_with(
            sq_quantize(F.col("embedding"), 128.0), F.col("qv"), lambda a, b: a * b
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        e.where(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select("vec_id", "label", qdot.alias("qdot"))
        .orderBy(F.desc("qdot"), F.asc("vec_id"))
        .limit(10)
    )


def _ewma_oracle(alpha: float = 0.3, max_lag: int = 8) -> str:
    """Inline the IDENTICAL weight literals the Spark plan uses; ::DOUBLE
    because DuckDB types bare float literals as DECIMAL."""
    ws = [(1.0 - alpha) ** j for j in range(max_lag + 1)]
    num = " + ".join(
        f"CASE WHEN lag(value, {j}) OVER w IS NOT NULL"
        f" THEN lag(value, {j}) OVER w * {ws[j]!r}::DOUBLE ELSE 0.0 END"
        for j in range(max_lag + 1)
    )
    den = " + ".join(
        f"CASE WHEN lag(value, {j}) OVER w IS NOT NULL"
        f" THEN {ws[j]!r}::DOUBLE ELSE 0.0 END"
        for j in range(max_lag + 1)
    )
    return f"""
    SELECT user_id, ts, value, ROUND(({num}) / ({den}), 4) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """


@_q("temporal_filter_ewma", _ewma_oracle())
def temporal_filter_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated EWMA smoother (exponential member of the stack.py:481-541
    temporal-filter family): 8-lag window, weights normalized over the
    lags that exist. One shuffle, no Python, literal weights both sides."""
    from mintpy_spark.operators.filters import ewma_filter

    ev = load(spark, sf_dir, "events")
    out = ewma_filter(ev, "value", alpha=0.3, max_lag=8, key="user_id", ts="ts")
    return out.select("user_id", "ts", "value", F.round("ewma", 4).alias("ewma"))


# =========================================================================
# from queries_r3d.py
# =========================================================================

"""Round-3 additions, batch d: per-observation anomaly monitoring and
cross-metric correlation — both in the exact-integer-partials discipline
(the float ops on both engines consume identical int64 inputs through an
identical op sequence, so even the DECISION BOUNDARY of the anomaly flag
is reproducible bit-for-bit; see operators/anomaly.py).
"""


@_q(
    "anomaly_rolling_z",
    """
    WITH q AS (
      SELECT user_id, ts, value,
             CASE WHEN isnan(value) THEN NULL
                  ELSE CAST(floor(value * 100.0 + 0.5) AS BIGINT) END AS v
      FROM events
    ), w AS (
      SELECT user_id, ts, value, v,
             CAST(COUNT(v) OVER fr AS BIGINT) AS n,
             CAST(SUM(v) OVER fr AS BIGINT) AS s1,
             -- squared terms in HUGEINT (the Spark plan uses
             -- DECIMAL(38,0)): v*v overflows int64 at |v| ~ 3e9
             SUM(CAST(v AS HUGEINT) * v) OVER fr AS s2
      FROM q
      WINDOW fr AS (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, ts, value, n,
           v * n - s1 AS dev,
           ROUND(CAST(v * n - s1 AS DOUBLE)
                 / sqrt(CAST(n AS DOUBLE)
                        * CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                        / CAST(n - 1 AS DOUBLE)), 4) AS z
    FROM w
    WHERE n >= 8
      AND n * s2 - CAST(s1 AS HUGEINT) * s1 > 0
      AND CAST(v * n - s1 AS HUGEINT) * (v * n - s1) * (n - 1)
          > 9 * n * (n * s2 - CAST(s1 AS HUGEINT) * s1)
    """,
)
def anomaly_rolling_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 3-sigma z-score monitor over each user's value series (the
    per-observation counterpart of timeseries_rms.py's MAD epoch
    exclusion): flag points deviating > 3 sample stddevs from the trailing
    12-observation window. The flag predicate is exact int64 both sides —
    see operators/anomaly.py for the algebra."""
    from mintpy_spark.operators.anomaly import rolling_zscore_anomalies

    ev = load(spark, sf_dir, "events")
    return rolling_zscore_anomalies(
        ev, "value", key="user_id", ts="ts", lookback=12, min_obs=8, threshold=3
    )


@_q(
    "corr_len_tokens",
    """
    WITH m AS (
      SELECT source,
             length(text) AS x,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS y
      FROM documents
      WHERE text IS NOT NULL
    ), a AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM m GROUP BY source
    )
    SELECT source, n,
           n * sxy - sx * sy AS corr_num,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4) AS corr
    FROM a
    WHERE n >= 3 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def corr_len_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Pearson correlation between document char length and
    whitespace token count, from exact integer partials (dem_error.py's
    metric-vs-metric diagnostic recast per group). One hash aggregation,
    decomposable partials, zero Python."""
    from mintpy_spark.operators.anomaly import exact_group_corr

    d = load(spark, sf_dir, "documents")
    x = F.length("text").cast("long")
    y = F.size(nonempty_tokens(F.col("text"))).cast("long")
    return exact_group_corr(d, x, y, group="source", min_n=3)


# =========================================================================
# from queries_r3i.py
# =========================================================================

"""Round-3 additions, batch i: corpus-curation decisions (benchmark
decontamination, Gopher quality-rule filtering) and robust monitoring
tiers (trailing-baseline burst detection, winsorized daily rollup)."""


_DECON_K = 8
_DECON_MOD = 20


@_q(
    "decontaminate_benchmark",
    C.decontaminate_oracle_sql(k=_DECON_K, mod=_DECON_MOD),
)
def decontaminate_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark k-gram decontamination census (GPT-3 appendix-C shape):
    per training document, the count and basis-point fraction of k-token
    windows shared with the held-out benchmark slice, plus the
    contaminated flag. Broadcast join against the fixed-size benchmark
    hash set; one Exchange (operators/curation.decontaminate)."""
    docs = load(spark, sf_dir, "documents")
    return C.decontaminate(docs, k=_DECON_K, mod=_DECON_MOD)


@_q("quality_gopher_flags", C.gopher_flags_oracle_sql())
def quality_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher/MassiveText quality-rule flags (word-count
    bounds, mean-word-length band, symbol ratio, alphabetic ratio,
    stop-word presence) — integer-exact, zero-shuffle, whole-stage
    codegen (operators/curation.gopher_flags)."""
    docs = load(spark, sf_dir, "documents")
    return C.gopher_flags(docs)


@_q("quality_gopher_by_source", C.gopher_by_source_oracle_sql())
def quality_gopher_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gopher pass-rate table — the curation decision of which
    crawl sources survive filtering and which rule rejects them. One scan
    + one hash agg (operators/curation.gopher_pass_by_source)."""
    docs = load(spark, sf_dir, "documents")
    return C.gopher_pass_by_source(docs)


@_q(
    "burst_ratio_daily",
    """
    WITH c AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_day,
             COUNT(*) AS c,
             date_diff('day', DATE '1970-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS d
      FROM events GROUP BY 1, 2, 4),
    r AS (
      SELECT event_type, bucket_day, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY d
                          RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
               AS s_prev,
             COUNT(c) OVER (PARTITION BY event_type ORDER BY d
                            RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
               AS m_prev
      FROM c)
    SELECT event_type, bucket_day,
           CAST(c AS BIGINT) AS c,
           CAST(COALESCE(s_prev, 0) AS BIGINT) AS s_prev,
           CAST(COALESCE(m_prev, 0) AS BIGINT) AS m_prev,
           CASE WHEN m_prev > 0
                THEN CAST(floor(c * m_prev * 10000.0 / s_prev + 0.5)
                          AS BIGINT) END AS ratio_bp,
           CAST(CASE WHEN m_prev > 0 AND c * m_prev * 10 >= 13 * s_prev
                     THEN 1 ELSE 0 END AS INT) AS burst
    FROM r
    """,
)
def burst_ratio_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-burst detection per event type: each day's count scored
    against its trailing 7-day baseline with an INTEGER-exact threshold
    decision (c*m*10 >= 13*s, i.e. 1.3x baseline — tight enough to fire
    on organic variation). Two tiny post-partial-agg Exchanges; RANGE
    frame on integer epoch-day so calendar gaps age out
    (operators/anomaly.burst_ratio_daily)."""
    from mintpy_spark.operators.anomaly import burst_ratio_daily as burst

    ev = load(spark, sf_dir, "events")
    return burst(
        ev, key="event_type", ts="ts", lookback_days=7,
        threshold_num=13, threshold_den=10,
    )


@_q(
    "winsorized_daily_mean",
    """
    WITH b AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_day,
             value AS v
      FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
    q AS (
      SELECT bucket_day,
             quantile_cont(v, 0.05) AS p_lo,
             quantile_cont(v, 0.95) AS p_hi
      FROM b GROUP BY bucket_day)
    SELECT b.bucket_day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(floor(p_lo * 100.0 + 0.5)) AS BIGINT) AS p_lo_c,
           CAST(MIN(floor(p_hi * 100.0 + 0.5)) AS BIGINT) AS p_hi_c,
           CAST(SUM(floor(least(greatest(v, p_lo), p_hi) * 100.0 + 0.5))
                AS BIGINT) AS wsum_c,
           CAST(SUM(floor(v * 100.0 + 0.5)) AS BIGINT) AS rsum_c
    FROM b JOIN q USING (bucket_day)
    GROUP BY b.bucket_day
    """,
)
def winsorized_daily_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized daily rollup: values clamped into their day's exact
    [p05, p95] percentile band, partials reported as portable fixed-point
    integers. Single Exchange — the day repartition satisfies both the
    percentile window and the final agg
    (operators/robust.winsorized_daily_stats)."""
    from mintpy_spark.operators.robust import winsorized_daily_stats

    ev = load(spark, sf_dir, "events")
    return winsorized_daily_stats(ev)


# =========================================================================
# from queries_r3jj.py
# =========================================================================

"""Round-3 batch jj: bootstrap velocity uncertainty + rolling slope.

- ``velocity_bootstrap``: the reference's bootstrap velocity-uncertainty
  option (`timeseries2velocity.py` --bootstrap: resample epochs with
  replacement, refit, take the spread) made ORACLE-EXACT: resample
  indices are a pure function of (key, replicate, position) via the
  portable 60-bit md5 hash, and every regression partial is integer
  (day index x cents), so both engines produce bit-identical replicate
  velocities — the spread is the caller's one aggregation.
- ``velocity_rolling_30d``: per-series trailing-30-day LS slope — the
  page-change-velocity signal as a continuous rolling fit, integer
  RANGE-frame window sums, one double division per row.

Both use the closed-form slope (n*Sxy - Sx*Sy) / (n*Sxx - Sx*Sx) over
EXACT int64 partials (order-free sums — engine summation order can
never flip a ulp), with ONE double division at the end.
"""


_B = 8  # bootstrap replicates


@_q(
    "velocity_bootstrap",
    f"""
    WITH obs AS (
      SELECT user_id, event_id, ts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ), numbered AS (
      SELECT user_id, cents,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
               - MIN(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
                 OVER (PARTITION BY user_id) AS di,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM obs
    ), grid AS (
      SELECT user_id, n, b, i,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':'
                || CAST(b AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15)
              )::BIGINT % n + 1 AS idx
      FROM (SELECT DISTINCT user_id, n FROM numbered),
           unnest(generate_series(1, {_B})) AS tb(b),
           LATERAL unnest(generate_series(1, n)) AS ti(i)
    ), samp AS (
      SELECT g.user_id, g.b, r.di, r.cents
      FROM grid g JOIN numbered r
        ON r.user_id = g.user_id AND r.rn = g.idx
    ), p AS (
      SELECT user_id, b, COUNT(*) AS n,
             CAST(SUM(di) AS BIGINT) AS sx,
             CAST(SUM(cents) AS BIGINT) AS sy,
             CAST(SUM(di * cents) AS BIGINT) AS sxy,
             CAST(SUM(di * di) AS BIGINT) AS sxx
      FROM samp GROUP BY 1, 2
    )
    SELECT user_id, b,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE), 6)
             AS vel_cents_per_day
    FROM p
    """,
)
def velocity_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(series, replicate) bootstrap velocity: deterministic
    with-replacement resampling (idx = md5-hash(key:b:i) % n + 1) joined
    back by row number, closed-form slope over integer partials. The
    caller's std over b is the reference's bootstrap sigma; emitting the
    replicates keeps the driver comparison exact instead of trusting a
    cross-engine STDDEV fold."""
    ev = load(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    obs = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    wk = Window.partitionBy("user_id")
    ed = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    numbered = obs.select(
        "user_id",
        "cents",
        (ed - F.min(ed).over(wk)).alias("di"),
        F.row_number().over(wk.orderBy("ts", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(wk).alias("n"),
    )
    keys = numbered.select("user_id", "n").distinct()
    grid = (
        keys.withColumn("b", F.explode(F.sequence(F.lit(1), F.lit(_B))))
        .withColumn("i", F.explode(F.sequence(F.lit(1), F.col("n"))))
        .withColumn(
            "idx",
            F.pmod(
                portable_hash60(
                    F.concat_ws(
                        ":",
                        F.col("user_id").cast("string"),
                        F.col("b").cast("string"),
                        F.col("i").cast("string"),
                    )
                ),
                F.col("n"),
            )
            + 1,
        )
    )
    samp = grid.join(
        numbered.select("user_id", "rn", "di", "cents"),
        (grid.user_id == numbered.user_id) & (grid.idx == numbered.rn),
    ).select(grid.user_id, "b", "di", "cents")
    p = samp.groupBy("user_id", "b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("di").alias("sx"),
        F.sum("cents").alias("sy"),
        F.sum(F.col("di") * F.col("cents")).alias("sxy"),
        F.sum(F.col("di") * F.col("di")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.nullif(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0)
    )
    return p.select(
        "user_id",
        "b",
        F.round(num.cast("double") / den.cast("double"), 6).alias(
            "vel_cents_per_day"
        ),
    )


@_q(
    "velocity_rolling_30d",
    """
    WITH d AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
      GROUP BY 1, 2
    ), w AS (
      SELECT user_id, di,
             COUNT(*) OVER win AS n,
             CAST(SUM(di) OVER win AS BIGINT) AS sx,
             CAST(SUM(cents) OVER win AS BIGINT) AS sy,
             CAST(SUM(di * cents) OVER win AS BIGINT) AS sxy,
             CAST(SUM(di * di) OVER win AS BIGINT) AS sxx
      FROM d
      WINDOW win AS (PARTITION BY user_id ORDER BY di
                     RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, di, n AS n_days,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE), 6)
             AS slope_cents_per_day
    FROM w
    """,
)
def velocity_rolling_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day LS slope of the daily cents series per key: an
    integer RANGE frame over the day index (gaps handled by RANGE, not
    ROWS), exact int64 window partials, one double division per row."""
    ev = load(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    d = ev.groupBy(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("di"),
    ).agg(
        F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).alias(
            "cents"
        )
    )
    win = (
        Window.partitionBy("user_id").orderBy("di").rangeBetween(-29, 0)
    )
    w = d.select(
        "user_id",
        "di",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("di").over(win).alias("sx"),
        F.sum("cents").over(win).alias("sy"),
        F.sum(F.col("di") * F.col("cents")).over(win).alias("sxy"),
        F.sum(F.col("di") * F.col("di")).over(win).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.nullif(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0)
    )
    return w.select(
        "user_id",
        "di",
        F.col("n").alias("n_days"),
        F.round(num.cast("double") / den.cast("double"), 6).alias(
            "slope_cents_per_day"
        ),
    )


# =========================================================================
# from queries_r3nn.py
# =========================================================================

"""Round-3 batch nn: experimentation analytics.

- ``cuped_adjusted_user``: CUPED variance reduction (Deng et al. 2013,
  public literature) — theta = cov(pre, post)/var(pre) from EXACT
  integer partials over users, one broadcast scalar join, identical
  adjustment expression on both engines.
- ``srm_chi2_daily``: sample-ratio-mismatch guardrail for a 50/50
  hash split: chi-square reduces to (n0-n1)^2 / n in rational
  arithmetic — the integer numerator and denominator are emitted
  alongside the one-division statistic.
- ``value_decile_bounds_weekly``: equi-depth decile boundaries per week
  (the stats a cost-based optimizer or an HDR-threshold pipeline
  consumes) — ntile over a TOTAL order (cents, event_id) so tile
  assignment is deterministic cross-engine.
"""


_SPLIT_ED = 19738  # 2024-01-16: mid-corpus pre/post boundary (days 19723-19752)


@_q(
    "cuped_adjusted_user",
    f"""
    WITH per AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN date_diff('day', DATE '1970-01-01',
                                          CAST(ts AS DATE)) < {_SPLIT_ED}
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS pre,
             CAST(SUM(CASE WHEN date_diff('day', DATE '1970-01-01',
                                          CAST(ts AS DATE)) >= {_SPLIT_ED}
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS post
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY 1
    ), g AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(pre) AS BIGINT)        AS sx,
             CAST(SUM(post) AS BIGINT)       AS sy,
             CAST(SUM(pre * post) AS BIGINT) AS sxy,
             CAST(SUM(pre * pre) AS BIGINT)  AS sxx
      FROM per
    )
    SELECT user_id, pre AS pre_cents, post AS post_cents,
           ROUND(CAST(post AS DOUBLE)
                 - (CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE))
                   * (CAST(pre AS DOUBLE) - CAST(sx AS DOUBLE)
                      / CAST(n AS DOUBLE)), 4) AS adj_cents
    FROM per, g
    """,
)
def cuped_adjusted_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted post-period spend per user: the covariate (pre
    period) is regressed out with theta from integer cross-products —
    order-free sums, so theta is bit-identical everywhere; one broadcast
    1-row join applies it."""
    ev = load(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    ed = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    cents = F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
    per = ev.groupBy("user_id").agg(
        F.sum(F.when(ed < _SPLIT_ED, cents).otherwise(0)).cast("long").alias("pre"),
        F.sum(F.when(ed >= _SPLIT_ED, cents).otherwise(0)).cast("long").alias("post"),
    )
    g = per.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre").alias("sx"),
        F.sum("post").alias("sy"),
        F.sum(F.col("pre") * F.col("post")).alias("sxy"),
        F.sum(F.col("pre") * F.col("pre")).alias("sxx"),
    )
    j = per.crossJoin(F.broadcast(g))
    theta = F.expr(
        "CAST(n * sxy - sx * sy AS DOUBLE)"
        " / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE)"
    )
    adj = F.round(
        F.col("post").cast("double")
        - theta
        * (
            F.col("pre").cast("double")
            - F.col("sx").cast("double") / F.col("n").cast("double")
        ),
        4,
    )
    return j.select(
        "user_id",
        F.col("pre").alias("pre_cents"),
        F.col("post").alias("post_cents"),
        adj.alias("adj_cents"),
    )


@_q(
    "srm_chi2_daily",
    """
    WITH t AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
              )::BIGINT % 2 AS grp
      FROM events WHERE user_id IS NOT NULL
    ), d AS (
      SELECT ed,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      FROM t GROUP BY 1
    )
    SELECT ed, n0, n1,
           CAST((n0 - n1) * (n0 - n1) AS BIGINT) AS num,
           ROUND(CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                 / CAST(n0 + n1 AS DOUBLE), 6) AS chi2
    FROM d
    """,
)
def srm_chi2_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch statistic per day for the 50/50 md5 hash
    split: chi-square collapses to (n0-n1)^2 / n — integer numerator
    emitted so the one double division is checkable."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    t = ev.select(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("ed"),
        F.pmod(
            portable_hash60(F.col("user_id").cast("string")), F.lit(2)
        ).alias("grp"),
    )
    d = t.groupBy("ed").agg(
        F.sum((F.col("grp") == 0).cast("long")).cast("long").alias("n0"),
        F.sum((F.col("grp") == 1).cast("long")).cast("long").alias("n1"),
    )
    diff2 = (F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))
    return d.select(
        "ed",
        "n0",
        "n1",
        diff2.cast("long").alias("num"),
        F.round(
            diff2.cast("double") / (F.col("n0") + F.col("n1")).cast("double"),
            6,
        ).alias("chi2"),
    )


@_q(
    "value_decile_bounds_weekly",
    """
    WITH t AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             event_id
      FROM events WHERE value IS NOT NULL
    ), n AS (
      SELECT wk, cents,
             ntile(10) OVER (PARTITION BY wk
                             ORDER BY cents, event_id) AS decile
      FROM t
    )
    SELECT wk, decile,
           COUNT(*) AS n,
           MIN(cents) AS lo_cents,
           MAX(cents) AS hi_cents
    FROM n GROUP BY 1, 2
    """,
)
def value_decile_bounds_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile boundaries per week: ntile over the TOTAL order
    (cents, event_id) so tile membership is deterministic; per-week
    partitions sort independently (no global sort)."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    t = ev.select(
        F.expr("datediff(to_date(ts), DATE '1970-01-01') div 7").alias("wk"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        "event_id",
    )
    w = Window.partitionBy("wk").orderBy("cents", "event_id")
    n = t.withColumn("decile", F.ntile(10).over(w))
    return n.groupBy("wk", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cents").alias("lo_cents"),
        F.max("cents").alias("hi_cents"),
    )


# =========================================================================
# from queries_r3qq.py
# =========================================================================

"""Round-3 batch qq: two integral drift scores and a trend test.

* ``psi_drift_weekly`` — Population Stability Index between consecutive
  weeks' value histograms (the model-monitoring standard): add-one
  smoothed p*ln(p/q), summed over the FULL fixed bin grid (empty bins
  contribute, unlike TVD/KS — operators/drift.dense_week_bins).
* ``wasserstein_drift_weekly`` — 1-D earth-mover distance between the
  same histograms: sum of |CDF gaps| x bin width; localized AND
  magnitude-aware where KS is max-only and TVD ignores bin order.
  Integer cross-products until one final division.
* ``mann_kendall_daily`` — the classic nonparametric trend test on the
  daily revenue-cents series per event_type: exact-integer S statistic
  with the tie-corrected variance (18*Var kept as an exact BIGINT) and
  the continuity-corrected normal z. The pairwise i<j join runs on the
  per-day AGGREGATE (days-per-retention rows), never raw events — the
  same "pairwise on the reduced table" shape as MintPy's ifgram network
  built over epochs, not pixels (reference: src/mintpy/objects/
  stack.py:1292-1352 sequential pair network).
"""


_NBINS = 10

# Shared DuckDB scaffolding: consecutive-week dense bin grid (the SQL
# twin of operators/drift.dense_week_bins over floor(value/50) clamp 0..9).
_DENSE_SQL = f"""
    base AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk,
             least(greatest(CAST(floor(value / 50) AS BIGINT), 0), 9) AS bin,
             COUNT(*) AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2, 3
    ), contrib AS (
      SELECT event_type, wk AS pw, bin, c AS cur, 0 AS prev FROM base
      UNION ALL
      SELECT event_type, wk + 1, bin, 0, c FROM base
    ), g AS (
      SELECT event_type, pw, bin, SUM(cur) AS cur, SUM(prev) AS prev
      FROM contrib GROUP BY 1, 2, 3
    ), tot AS (
      SELECT event_type, pw, SUM(cur) AS tc, SUM(prev) AS tp
      FROM g GROUP BY 1, 2
    ), grid AS (
      SELECT t.event_type, t.pw, b.bin, t.tc, t.tp
      FROM tot t
      CROSS JOIN (SELECT CAST(range AS BIGINT) AS bin FROM range({_NBINS})) b
      WHERE t.tc > 0 AND t.tp > 0
    ), dense AS (
      SELECT grid.event_type, grid.pw, grid.bin, grid.tc, grid.tp,
             COALESCE(g.cur, 0) AS cur, COALESCE(g.prev, 0) AS prev
      FROM grid LEFT JOIN g
        ON grid.event_type = g.event_type AND grid.pw = g.pw
       AND grid.bin = g.bin
    )
"""


def _dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mintpy_spark.operators.drift import dense_week_bins

    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return dense_week_bins(
        ev,
        F.least(
            F.greatest(F.floor(F.col("value") / 50).cast("long"), F.lit(0)),
            F.lit(9),
        ),
        _NBINS,
    )


@_q(
    "psi_drift_weekly",
    f"""
    WITH {_DENSE_SQL}
    SELECT event_type, CAST(pw AS BIGINT) AS wk,
           CAST(MAX(tp) AS BIGINT) AS n_prev,
           CAST(MAX(tc) AS BIGINT) AS n_cur,
           ROUND(SUM(
             ((cur + 1.0) / (tc + {_NBINS}.0) - (prev + 1.0) / (tp + {_NBINS}.0))
             * ln(((cur + 1.0) / (tc + {_NBINS}.0))
                  / ((prev + 1.0) / (tp + {_NBINS}.0)))
           ), 4) AS psi
    FROM dense GROUP BY 1, 2
    """,
)
def psi_drift_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI per event_type between consecutive weeks, add-one smoothed
    over the full 10-bin grid (a bin present last week but empty this
    week still moves the score — the dense grid makes that term exist).
    Plan: one histogram agg + the x2 contribution fan-out + a 10-row
    broadcast grid join, all on aggregates; the ln runs over ~10 rows
    per (type, week) pair. Convention: psi < 0.1 stable, > 0.25 action."""
    d = _dense(spark, sf_dir)
    nb = float(_NBINS)
    pc = (F.col("cur") + 1.0) / (F.col("tc") + nb)
    pp = (F.col("prev") + 1.0) / (F.col("tp") + nb)
    return d.groupBy("event_type", F.col("pw").alias("wk")).agg(
        F.max("tp").cast("long").alias("n_prev"),
        F.max("tc").cast("long").alias("n_cur"),
        F.round(F.sum((pc - pp) * F.log(pc / pp)), 4).alias("psi"),
    )


@_q(
    "wasserstein_drift_weekly",
    f"""
    WITH {_DENSE_SQL}, cdf AS (
      SELECT event_type, pw, bin, tc, tp,
             SUM(cur) OVER (PARTITION BY event_type, pw ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cumc,
             SUM(prev) OVER (PARTITION BY event_type, pw ORDER BY bin
                             ROWS UNBOUNDED PRECEDING) AS cump
      FROM dense
    )
    SELECT event_type, CAST(pw AS BIGINT) AS wk,
           CAST(MAX(tp) AS BIGINT) AS n_prev,
           CAST(MAX(tc) AS BIGINT) AS n_cur,
           ROUND(SUM(ABS(cumc * tp - cump * tc)) * 50.0
                 / (MAX(tc) * MAX(tp)), 4) AS w1
    FROM cdf GROUP BY 1, 2
    """,
)
def wasserstein_drift_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth-mover) drift per event_type between
    consecutive weeks, in VALUE units (bin width 50): integral of the
    |CDF gap| over the dense grid. The cumulative window must run over
    ALL 10 bins — a gap persists across bins empty in both weeks, which
    is why this shares dense_week_bins with PSI instead of KS's
    occupied-bin scaffolding. Cross-products cumc*tp - cump*tc stay
    exact BIGINTs; one double division at the end."""
    d = _dense(spark, sf_dir)
    wcum = (
        Window.partitionBy("event_type", "pw")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.select(
        "event_type", "pw", "tc", "tp",
        F.sum("cur").over(wcum).alias("cumc"),
        F.sum("prev").over(wcum).alias("cump"),
    )
    return c.groupBy("event_type", F.col("pw").alias("wk")).agg(
        F.max("tp").cast("long").alias("n_prev"),
        F.max("tc").cast("long").alias("n_cur"),
        F.round(
            F.sum(F.abs(F.col("cumc") * F.col("tp") - F.col("cump") * F.col("tc")))
            * 50.0
            / (F.max("tc") * F.max("tp")),
            4,
        ).alias("w1"),
    )


@_q(
    "mann_kendall_daily",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), s AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day
      GROUP BY 1
    ), n AS (
      SELECT event_type, COUNT(*) AS n_days FROM d GROUP BY 1
    ), ties AS (
      SELECT event_type,
             CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie18
      FROM (SELECT event_type, cents, COUNT(*) AS t FROM d GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT s.event_type, CAST(n.n_days AS BIGINT) AS n_days, s.s_stat,
           CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - ties.tie18
                AS BIGINT) AS var18,
           ROUND(CASE
             WHEN n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) = ties.tie18
               THEN NULL
             WHEN s.s_stat > 0 THEN (s.s_stat - 1)
               / sqrt((n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                       - ties.tie18) / 18.0)
             WHEN s.s_stat < 0 THEN (s.s_stat + 1)
               / sqrt((n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                       - ties.tie18) / 18.0)
             ELSE 0.0 END, 4) AS z
    FROM s JOIN n ON s.event_type = n.event_type
    JOIN ties ON s.event_type = ties.event_type
    WHERE n.n_days >= 2
    """,
)
def mann_kendall_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event_type on the daily revenue-cents
    series: S = sum of sign(x_j - x_i) over i<j (exact integer — cents,
    not doubles, so ties are well-defined), tie-corrected variance kept
    as var18 = 18*Var (exact BIGINT), continuity-corrected z. The O(n^2)
    pair join runs on the per-day aggregate (retention-bounded rows per
    type), which is the scale-safe place for it; all-tied or single-day
    series yield z NULL/filtered. One raw-data pass, everything after is
    driver-sized."""
    from mintpy_spark.plans.cache import persist_slot

    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("cents")
    )
    d = persist_slot(d, _MK_SLOT)
    a = d.select("event_type", F.col("day").alias("di"), F.col("cents").alias("xi"))
    b = d.select("event_type", F.col("day").alias("dj"), F.col("cents").alias("xj"))
    sgn = (
        F.when(F.col("xj") > F.col("xi"), 1)
        .when(F.col("xj") < F.col("xi"), -1)
        .otherwise(0)
    )
    s = (
        a.join(b, ["event_type"])
        .where(F.col("di") < F.col("dj"))
        .groupBy("event_type")
        .agg(F.sum(sgn).cast("long").alias("s_stat"))
    )
    n = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    ties = (
        d.groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie18")
        )
    )
    j = s.join(n, "event_type").join(ties, "event_type").where(F.col("n_days") >= 2)
    var18 = (
        F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        - F.col("tie18")
    )
    denom = F.sqrt(var18 / 18.0)
    z = (
        F.when(var18 == 0, F.lit(None).cast("double"))
        .when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / denom)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / denom)
        .otherwise(F.lit(0.0))
    )
    return j.select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        "s_stat",
        var18.cast("long").alias("var18"),
        F.round(z, 4).alias("z"),
    )


_MK_SLOT: list = []


# =========================================================================
# from queries_r3rr.py
# =========================================================================

"""Round-3 batch rr: training-mixture curation operators.

* ``sample_temperature_mixture`` — the standard LLM-pretraining source
  reweighting: sample sources proportional to n^alpha (alpha=0.5 here,
  the "temperature" that upweights small high-quality sources) against
  a fixed character budget. All mixture arithmetic is EXACT INTEGER:
  weights are isqrt(chars) (floor(sqrt(x)) of a BIGINT is bit-exact on
  both engines — IEEE sqrt is correctly rounded, and a correctly
  rounded sqrt of a perfect square is the exact root), and every share/
  rate is a rounded integer division ((2*num + den) DIV (2*den)), so no
  float summation order can fork the hash. At true 10^12-doc scale the
  intermediate products need DECIMAL(38,0) instead of BIGINT — noted
  where they occur.
* ``truncation_loss_audit`` — how many characters a context-length cut
  at L in {256, 1024, 4096} would discard per source; the audit you run
  before choosing a packing length (operators/packing.py). Pure integer.
* ``quality_calibration_bins`` — reliability diagram for the stopword-
  ratio fluency heuristic as an English-detector: per integer ratio bin
  (10*n_stop DIV n_tok — division-free binning, no float knife-edge),
  the observed share of docs actually labeled en. Calibrated bins rise
  monotonically; a flat diagram says the score carries no signal.
"""


_ALPHA_NOTE = "alpha = 0.5 via isqrt"
_BUCKETS = 10000


@_q(
    "sample_temperature_mixture",
    f"""
    WITH s AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY 1
    ), w AS (
      SELECT source, n_docs, chars,
             CAST(floor(sqrt(CAST(chars AS DOUBLE))) AS BIGINT) AS wt
      FROM s
    ), t AS (
      SELECT CAST(SUM(wt) AS BIGINT) AS sw,
             CAST(SUM(chars) AS BIGINT) // 2 AS budget
      FROM w
    ), rates AS (
      SELECT w.source, w.n_docs, w.chars, w.wt,
             (20000 * w.wt + t.sw) // (2 * t.sw) AS share_bp,
             LEAST(10000,
                   (20000 * t.budget * w.wt + 2 * t.sw * w.chars - 1)
                     // (2 * t.sw * w.chars)) AS rate_bp
      FROM w, t
    )
    SELECT r.source, r.n_docs, r.chars,
           CAST(r.share_bp AS BIGINT) AS share_bp,
           CAST(r.rate_bp AS BIGINT) AS rate_bp,
           CAST(SUM(CASE WHEN
             ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || ':mix'),
                                1, 15))::BIGINT % {_BUCKETS} < r.rate_bp
             THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM documents d JOIN rates r ON d.source = r.source
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-mixture sampling plan + its realized deterministic
    sample count, per source. Two scans by construction: pass 1 reduces
    documents to a per-source (docs, chars) table (map-side combined);
    the mixture rates are derived on that AGGREGATE (sources are few —
    the 1-row totals cross-join is a broadcast) and broadcast back onto
    pass 2's scan, where the salted md5 bucket (operators/sampling.
    stable_bucket, independent of any split hash) admits each doc with
    probability rate_bp/10000. rate_bp rounds UP (ceil division) so a
    tiny source never rounds to zero admitted docs. BIGINT products here
    overflow past ~10^14 total chars — production uses DECIMAL(38,0)
    for the two marked products."""
    from mintpy_spark.operators.sampling import stable_bucket

    d = load(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    w = s.withColumn(
        "wt", F.floor(F.sqrt(F.col("chars").cast("double"))).cast("long")
    )
    t = w.agg(
        F.sum("wt").cast("long").alias("sw"),
        (F.sum("chars").cast("long") / F.lit(2)).cast("long").alias("budget"),
    )
    rates = w.crossJoin(F.broadcast(t)).select(
        "source", "n_docs", "chars",
        # rounded integer division; DECIMAL(38,0) at production scale
        F.expr("(20000 * wt + sw) DIV (2 * sw)").cast("long").alias("share_bp"),
        F.least(
            F.lit(10000),
            F.expr(
                "(20000 * budget * wt + 2 * sw * chars - 1)"
                " DIV (2 * sw * chars)"
            ),
        ).cast("long").alias("rate_bp"),
    )
    admitted = F.when(
        stable_bucket(F.col("doc_id"), _BUCKETS, "mix") < F.col("rate_bp"), 1
    ).otherwise(0)
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(rates), "source")
        .groupBy("source", "n_docs", "chars", "share_bp", "rate_bp")
        .agg(F.sum(admitted).cast("long").alias("n_sampled"))
    )


@_q(
    "truncation_loss_audit",
    """
    SELECT d.source, l.max_len,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN d.n_chars > l.max_len THEN 1 ELSE 0 END)
                AS BIGINT) AS n_truncated,
           CAST(SUM(GREATEST(d.n_chars - l.max_len, 0)) AS BIGINT)
             AS chars_lost,
           CAST((20000 * SUM(GREATEST(d.n_chars - l.max_len, 0))
                 + SUM(d.n_chars)) // (2 * SUM(d.n_chars)) AS BIGINT)
             AS loss_bp
    FROM documents d
    CROSS JOIN (SELECT CAST(UNNEST([256, 1024, 4096]) AS BIGINT) AS max_len) l
    GROUP BY 1, 2
    """,
)
def truncation_loss_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characters lost to a hard context-length cut at 256/1024/4096,
    per source: docs over the limit, total clipped chars, and the loss
    share in rounded basis points of the source's corpus. The threshold
    table is a 3-row literal broadcast against the scan (one pass, x3
    row fan-out BEFORE the agg, map-side combined — never a second
    scan per threshold). Everything is BIGINT arithmetic."""
    d = load(spark, sf_dir, "documents")
    lens = d.sparkSession.createDataFrame(
        [(256,), (1024,), (4096,)], "max_len long"
    )
    j = d.select("source", "n_chars").crossJoin(F.broadcast(lens))
    lost = F.greatest(F.col("n_chars") - F.col("max_len"), F.lit(0))
    return j.groupBy("source", "max_len").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("n_chars") > F.col("max_len"), 1).otherwise(0))
        .cast("long")
        .alias("n_truncated"),
        F.sum(lost).cast("long").alias("chars_lost"),
        F.expr(
            "(20000 * SUM(GREATEST(n_chars - max_len, 0)) + SUM(n_chars))"
            " DIV (2 * SUM(n_chars))"
        )
        .cast("long")
        .alias("loss_bp"),
    )


@_q(
    "quality_calibration_bins",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             LEAST(9, (10 * len(list_filter(toks,
                         t -> list_contains({list(_STOPWORDS)!r}, t))))
                       // len(toks)) AS bin
      FROM (
        SELECT doc_id, lang,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                 AS toks
        FROM documents
      ) WHERE len(toks) > 0
    )
    SELECT bin, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_en,
           CAST((20000 * SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS en_rate_bp
    FROM scored GROUP BY 1
    """,
)
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the stopword-ratio score as an en-detector:
    integer bin = min(9, 10*n_stop DIV n_tok) — the binning never forms
    the float ratio, so a doc sitting exactly on a bin edge cannot fork
    between engines — then the observed en share per bin in rounded bp.
    One pass, whole-stage codegen (the stopword array is a broadcast
    literal; same tokenizer as text_stopword_ratio)."""
    d = load(spark, sf_dir, "documents")
    sw = F.array([F.lit(x) for x in _STOPWORDS])
    toks = nonempty_tokens(F.lower("text"))
    t = d.select("doc_id", "lang", toks.alias("toks")).where(F.size("toks") > 0)
    nsw = F.size(F.filter("toks", lambda x: F.array_contains(sw, x)))
    binc = F.least(F.lit(9), F.expr("(10 * nsw) DIV ntok"))
    scored = t.select(
        "lang", nsw.alias("nsw"), F.size("toks").alias("ntok")
    ).select("lang", binc.alias("bin"))
    is_en = F.when(F.col("lang") == "en", 1).otherwise(0)
    return scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(is_en).cast("long").alias("n_en"),
        F.expr(
            "(20000 * SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)"
            " + COUNT(*)) DIV (2 * COUNT(*))"
        )
        .cast("long")
        .alias("en_rate_bp"),
    )


# =========================================================================
# from queries_r3ss.py
# =========================================================================

"""Round-3 batch ss: autocorrelation structure of the daily series —
ACF spectrum, Ljung-Box white-noise test, Hurst R/S exponent.

Exactness discipline: the daily series is revenue CENTS (exact BIGINT),
and every ACF term uses the n^2-scaled deviation y_t = n*x_t - S
(also exact BIGINT, no rational mean ever materialized): the lag-k
numerator sum(y_t * y_{t+k}) and denominator sum(y_t^2) are exact
integers whose one final double division is bit-identical on both
engines. Sums of integer-valued doubles stay exact below 2^53, so even
Spark's partition-order partial aggregation cannot fork a hash.

Reference analog: MintPy computes temporal autocorrelation of the
deramped time series to pick filtering windows (src/mintpy/
timeseries_rms.py residual analysis); here the same statistics run as
one pass over the tier aggregate instead of per-pixel numpy.
"""


_MAXLAG = 14
_LB_LAGS = 7

# Shared DuckDB scaffolding: daily cents per type with the exact
# n^2-scaled deviations y_t and a 1-based day index t.
_DAILY_Y_SQL = """
    d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(x) OVER (PARTITION BY event_type) AS s
      FROM d
    ), y AS (
      SELECT event_type, t, n, CAST(n * x - s AS BIGINT) AS y
      FROM idx
    )
"""


def _daily_y(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("x")
    )
    wt = Window.partitionBy("event_type")
    idx = d.select(
        "event_type", "x",
        F.row_number().over(wt.orderBy("day")).alias("t"),
        F.count(F.lit(1)).over(wt).alias("n"),
        F.sum("x").over(wt).alias("s"),
    )
    return idx.select(
        "event_type", "t", "n",
        (F.col("n") * F.col("x") - F.col("s")).cast("long").alias("y"),
    )


@_q(
    "acf_lag_spectrum",
    f"""
    WITH {_DAILY_Y_SQL}, den AS (
      SELECT event_type, MAX(n) AS n,
             CAST(SUM(y * y) AS BIGINT) AS den
      FROM y GROUP BY 1
    ), num AS (
      SELECT a.event_type, l.lag,
             CAST(SUM(a.y * b.y) AS BIGINT) AS num
      FROM y a
      JOIN (SELECT CAST(UNNEST(range(1, {_MAXLAG + 1})) AS BIGINT) AS lag) l
        ON TRUE
      JOIN y b ON b.event_type = a.event_type AND b.t = a.t + l.lag
      GROUP BY 1, 2
    )
    SELECT num.event_type, num.lag,
           CAST(den.n AS BIGINT) AS n_days, num.num, den.den,
           ROUND(CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE), 4) AS r
    FROM num JOIN den ON num.event_type = den.event_type
    WHERE den.den > 0
    """,
)
def acf_lag_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation r_k of the daily cents series at lags 1..14 per
    event_type: exact integer numerator/denominator columns plus the
    rounded ratio. The lag fan-out is a 14-row broadcast against the
    per-day AGGREGATE; the self-join matches t+k inside each type's
    retention-bounded day table — never raw events. A dominant weekly
    cycle shows as the r_7 > neighbors signature."""
    from mintpy_spark.plans.cache import persist_slot

    y = persist_slot(_daily_y(spark, sf_dir), _Y_SLOT)
    den = y.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_days"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("den"),
    )
    lags = y.sparkSession.range(1, _MAXLAG + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    a = y.select("event_type", "t", F.col("y").alias("ya"))
    b = y.select(
        F.col("event_type").alias("et_b"), F.col("t").alias("tb"),
        F.col("y").alias("yb"),
    )
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("et_b") == F.col("event_type"))
            & (F.col("tb") == F.col("t") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(F.sum(F.col("ya") * F.col("yb")).cast("long").alias("num"))
    )
    return (
        num.join(den, "event_type")
        .where(F.col("den") > 0)
        .select(
            "event_type", "lag", "n_days", "num", "den",
            F.round(
                F.col("num").cast("double") / F.col("den").cast("double"), 4
            ).alias("r"),
        )
    )


@_q(
    "ljung_box_daily",
    f"""
    WITH {_DAILY_Y_SQL}, den AS (
      SELECT event_type, MAX(n) AS n,
             CAST(SUM(y * y) AS BIGINT) AS den
      FROM y GROUP BY 1
    ), num AS (
      SELECT a.event_type, l.lag,
             CAST(SUM(a.y * b.y) AS BIGINT) AS num
      FROM y a
      JOIN (SELECT CAST(UNNEST(range(1, {_LB_LAGS + 1})) AS BIGINT) AS lag) l
        ON TRUE
      JOIN y b ON b.event_type = a.event_type AND b.t = a.t + l.lag
      GROUP BY 1, 2
    )
    SELECT num.event_type,
           CAST(den.n AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_lags,
           ROUND(den.n * (den.n + 2.0) * SUM(
             (CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE))
             * (CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE))
             / (den.n - num.lag)
           ), 4) AS q_stat
    FROM num JOIN den ON num.event_type = den.event_type
    WHERE den.den > 0 AND den.n > {_LB_LAGS}
    GROUP BY num.event_type, den.n, den.den
    """,
)
def ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic Q = n(n+2) * sum_k r_k^2/(n-k)
    over lags 1..7 on the daily cents series — the standard white-noise
    test (Q ~ chi^2_7 under H0; large Q = the series has structure worth
    a seasonal model). Each r_k is the bit-exact ratio of integer sums;
    the 7-term Q sum is rounded to 4 dp. Same two aggregate-sized joins
    as the ACF query."""
    from mintpy_spark.plans.cache import persist_slot

    y = persist_slot(_daily_y(spark, sf_dir), _Y_SLOT)
    den = y.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_days"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("den"),
    )
    lags = y.sparkSession.range(1, _LB_LAGS + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    a = y.select("event_type", "t", F.col("y").alias("ya"))
    b = y.select(
        F.col("event_type").alias("et_b"), F.col("t").alias("tb"),
        F.col("y").alias("yb"),
    )
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("et_b") == F.col("event_type"))
            & (F.col("tb") == F.col("t") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(F.sum(F.col("ya") * F.col("yb")).cast("long").alias("num"))
    )
    r = F.col("num").cast("double") / F.col("den").cast("double")
    return (
        num.join(den, "event_type")
        .where((F.col("den") > 0) & (F.col("n_days") > _LB_LAGS))
        .groupBy("event_type", "n_days", "den")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lags"),
            F.round(
                F.col("n_days")
                * (F.col("n_days") + 2.0)
                * F.sum(r * r / (F.col("n_days") - F.col("lag"))),
                4,
            ).alias("q_stat"),
        )
        .drop("den")
    )


@_q(
    "hurst_rs_daily",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) - 1
               AS t0
      FROM d
    ), blk AS (
      SELECT i.event_type, w.w, i.t0 // w.w AS blk, i.t0, i.x,
             COUNT(*) OVER (PARTITION BY i.event_type, w.w, i.t0 // w.w)
               AS bn,
             SUM(i.x) OVER (PARTITION BY i.event_type, w.w, i.t0 // w.w)
               AS bs
      FROM idx i
      CROSS JOIN (SELECT CAST(UNNEST([8, 16]) AS BIGINT) AS w) w
    ), yb AS (
      SELECT event_type, w, blk,
             CAST(w * x - bs AS BIGINT) AS y, t0
      FROM blk WHERE bn = w
    ), cum AS (
      SELECT event_type, w, blk,
             SUM(y) OVER (PARTITION BY event_type, w, blk ORDER BY t0
                          ROWS UNBOUNDED PRECEDING) AS z,
             y
      FROM yb
    ), per_blk AS (
      SELECT event_type, w, blk,
             CAST(MAX(z) - MIN(z) AS BIGINT) AS r_y,
             CAST(SUM(y * y) AS BIGINT) AS ss
      FROM cum GROUP BY 1, 2, 3
    ), rs AS (
      SELECT event_type, w,
             COUNT(*) AS n_blocks,
             AVG(CAST(r_y AS DOUBLE) * sqrt(CAST(w AS DOUBLE)
                 / CAST(ss AS DOUBLE))) AS rs_mean
      FROM per_blk WHERE ss > 0 GROUP BY 1, 2
    )
    SELECT a.event_type,
           CAST(a.n_blocks AS BIGINT) AS blocks_8,
           CAST(b.n_blocks AS BIGINT) AS blocks_16,
           ROUND(a.rs_mean, 4) AS rs_8,
           ROUND(b.rs_mean, 4) AS rs_16,
           ROUND(ln(ROUND(b.rs_mean, 4) / ROUND(a.rs_mean, 4)) / ln(2.0), 4)
             AS hurst
    FROM rs a JOIN rs b
      ON a.event_type = b.event_type AND a.w = 8 AND b.w = 16
    WHERE a.rs_mean > 0
    """,
)
def hurst_rs_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis on the daily cents
    series: full blocks of 8 and 16 days, per-block R/S from exact
    integers (R_y and sum(y^2) are BIGINTs of w-scaled deviations;
    R/S = R_y * sqrt(w / sum_y2) — one deterministic double per block),
    H = log2(RS_16/RS_8). H ~ 0.5 random walk, > 0.5 persistent trend,
    < 0.5 mean-reverting. The block windows run inside each type's day
    table; the x2 window fan-out is a 2-row broadcast literal."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("x")
    )
    idx = d.select(
        "event_type", "x",
        (
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("day")
            )
            - 1
        ).alias("t0"),
    )
    ws = idx.sparkSession.createDataFrame([(8,), (16,)], "w long")
    blk = idx.crossJoin(F.broadcast(ws)).withColumn(
        "blk", F.expr("t0 DIV w")
    )
    wb = Window.partitionBy("event_type", "w", "blk")
    blk = blk.select(
        "event_type", "w", "blk", "t0", "x",
        F.count(F.lit(1)).over(wb).alias("bn"),
        F.sum("x").over(wb).alias("bs"),
    ).where(F.col("bn") == F.col("w"))
    yb = blk.select(
        "event_type", "w", "blk", "t0",
        (F.col("w") * F.col("x") - F.col("bs")).cast("long").alias("y"),
    )
    cum = yb.select(
        "event_type", "w", "blk", "y",
        F.sum("y")
        .over(
            wb.orderBy("t0").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("z"),
    )
    per_blk = cum.groupBy("event_type", "w", "blk").agg(
        (F.max("z") - F.min("z")).cast("long").alias("r_y"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("ss"),
    )
    rs = (
        per_blk.where(F.col("ss") > 0)
        .groupBy("event_type", "w")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.avg(
                F.col("r_y").cast("double")
                * F.sqrt(F.col("w").cast("double") / F.col("ss").cast("double"))
            ).alias("rs_mean"),
        )
    )
    a = rs.where(F.col("w") == 8).select(
        "event_type",
        F.col("n_blocks").alias("blocks_8"),
        F.col("rs_mean").alias("rs8"),
    )
    b = rs.where(F.col("w") == 16).select(
        F.col("event_type").alias("et_b"),
        F.col("n_blocks").alias("blocks_16"),
        F.col("rs_mean").alias("rs16"),
    )
    return (
        a.join(b, F.col("event_type") == F.col("et_b"))
        .where(F.col("rs8") > 0)
        .select(
            "event_type",
            F.col("blocks_8").cast("long").alias("blocks_8"),
            F.col("blocks_16").cast("long").alias("blocks_16"),
            F.round("rs8", 4).alias("rs_8"),
            F.round("rs16", 4).alias("rs_16"),
            # ratio of the ROUNDED means: an ulp in the block average
            # cannot leak through the log into the 4th decimal
            F.round(
                F.log(F.round("rs16", 4) / F.round("rs8", 4))
                / F.log(F.lit(2.0)),
                4,
            ).alias("hurst"),
        )
    )


_Y_SLOT: list = []


# =========================================================================
# from queries_r3uu.py
# =========================================================================

"""Round-3 batch uu: day-of-week effect statistics on the daily series.

Day-of-week is computed as epoch_days % 7 (0 = Thursday, since
1970-01-01 was one) on BOTH engines — Spark's dayofweek() is
Sunday=1 while DuckDB's dayofweek() is Sunday=0, so the portable form
is pure integer arithmetic on the epoch day, not either builtin.
Weekend = dow0 IN (2, 3) (Saturday, Sunday).

* ``anova_dow_daily`` — one-way ANOVA F across the 7 dow groups of
  daily cents: is there a weekly seasonal effect at all?
* ``seasonal_index_dow`` — the classical seasonal index per dow
  (group mean over grand mean) as an EXACT rounded-integer-division
  basis-point value: S_g*n cross-multiplied against n_g*S, no float.
* ``welch_weekday_weekend`` — Welch's unequal-variance t between
  weekday and weekend dailies, with the Welch-Satterthwaite df. Every
  mean/variance comes from exact BIGINT (sum, sum-of-squares) pairs,
  so each double is a single deterministic division — no
  order-dependent float summation anywhere in the statistic.
"""


# Shared DuckDB scaffolding: daily cents + portable day-of-week.
_DAILY_DOW_SQL = """
    d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
               AS dow0,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3
    )
"""


def _daily_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        (F.datediff(F.to_date("ts"), F.lit("1970-01-01")) % 7).alias("dow0"),
    ).agg(
        F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("x")
    )


@_q(
    "anova_dow_daily",
    f"""
    WITH {_DAILY_DOW_SQL}, g AS (
      SELECT event_type, dow0,
             COUNT(*) AS ng,
             CAST(SUM(x) AS BIGINT) AS sg,
             CAST(SUM(x * x) AS BIGINT) AS qg
      FROM d GROUP BY 1, 2
    ), t AS (
      SELECT event_type,
             CAST(SUM(ng) AS BIGINT) AS n,
             COUNT(*) AS k,
             CAST(SUM(sg) AS BIGINT) AS s,
             CAST(SUM(qg) AS BIGINT) AS q,
             SUM(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                 / CAST(ng AS DOUBLE)) AS gsum
      FROM g GROUP BY 1
    )
    SELECT event_type, n AS n_days, CAST(k AS BIGINT) AS k_groups,
           ROUND(
             ((gsum - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               / (k - 1))
             / ((CAST(q AS DOUBLE) - gsum) / (n - k)), 4) AS f_stat
    FROM t
    WHERE k >= 2 AND n > k
      AND CAST(q AS DOUBLE) - gsum > 0
    """,
)
def anova_dow_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F for a day-of-week effect on daily cents per
    event_type: SSB/(k-1) over SSW/(n-k) from per-group exact integer
    (count, sum, sum-of-squares) partials — ONE aggregate over the day
    table, then a <=7-row fold per type. Degenerate cases (one group,
    zero within-variance) are filtered, not NaN'd."""
    d = _daily_dow(spark, sf_dir)
    g = d.groupBy("event_type", "dow0").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("x").cast("long").alias("sg"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("qg"),
    )
    t = g.groupBy("event_type").agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum("sg").cast("long").alias("s"),
        F.sum("qg").cast("long").alias("q"),
        F.sum(
            F.col("sg").cast("double")
            * F.col("sg").cast("double")
            / F.col("ng").cast("double")
        ).alias("gsum"),
    )
    ssb = (
        F.col("gsum")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n").cast("double")
    )
    ssw = F.col("q").cast("double") - F.col("gsum")
    return (
        t.where((F.col("k") >= 2) & (F.col("n") > F.col("k")) & (ssw > 0))
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.col("k").cast("long").alias("k_groups"),
            F.round(
                (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 4
            ).alias("f_stat"),
        )
    )


@_q(
    "seasonal_index_dow",
    f"""
    WITH {_DAILY_DOW_SQL}, g AS (
      SELECT event_type, dow0,
             COUNT(*) AS ng, CAST(SUM(x) AS BIGINT) AS sg
      FROM d GROUP BY 1, 2
    ), t AS (
      SELECT event_type, CAST(SUM(ng) AS BIGINT) AS n,
             CAST(SUM(sg) AS BIGINT) AS s
      FROM g GROUP BY 1
    )
    SELECT g.event_type, CAST(g.dow0 AS BIGINT) AS dow0,
           CAST(g.ng AS BIGINT) AS n_days, g.sg AS cents,
           CAST((20000 * g.sg * t.n + g.ng * t.s)
                // (2 * g.ng * t.s) AS BIGINT) AS index_bp
    FROM g JOIN t ON g.event_type = t.event_type
    WHERE t.s > 0
    """,
)
def seasonal_index_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal index per (event_type, dow): group-mean over
    grand-mean in basis points, computed as the rounded INTEGER
    division (2*10000*S_g*n + n_g*S) DIV (2*n_g*S) — the ratio of two
    rational means without ever forming either. A flat series indexes
    ~10000 everywhere; weekend dips show directly. Positive-total
    types only (cents sums are nonnegative here; the guard documents
    the assumption rather than hiding a sign bug)."""
    d = _daily_dow(spark, sf_dir)
    g = d.groupBy("event_type", "dow0").agg(
        F.count(F.lit(1)).alias("ng"), F.sum("x").cast("long").alias("sg")
    )
    t = g.groupBy("event_type").agg(
        F.sum("ng").cast("long").alias("n"), F.sum("sg").cast("long").alias("s")
    )
    return (
        g.join(t, "event_type")
        .where(F.col("s") > 0)
        .select(
            "event_type",
            F.col("dow0").cast("long").alias("dow0"),
            F.col("ng").cast("long").alias("n_days"),
            F.col("sg").alias("cents"),
            F.expr("(20000 * sg * n + ng * s) DIV (2 * ng * s)")
            .cast("long")
            .alias("index_bp"),
        )
    )


@_q(
    "welch_weekday_weekend",
    f"""
    WITH {_DAILY_DOW_SQL}, g AS (
      SELECT event_type,
             CASE WHEN dow0 IN (2, 3) THEN 1 ELSE 0 END AS is_weekend,
             COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS q
      FROM d GROUP BY 1, 2
    ), wd AS (SELECT * FROM g WHERE is_weekend = 0 AND n >= 2),
       we AS (SELECT * FROM g WHERE is_weekend = 1 AND n >= 2),
    j AS (
      SELECT wd.event_type,
             CAST(wd.n AS BIGINT) AS n_wd, CAST(we.n AS BIGINT) AS n_we,
             CAST(wd.s AS DOUBLE) / wd.n AS m1,
             CAST(we.s AS DOUBLE) / we.n AS m2,
             (wd.n * CAST(wd.q AS DOUBLE) - CAST(wd.s AS DOUBLE) * wd.s)
               / (CAST(wd.n AS DOUBLE) * wd.n * (wd.n - 1)) AS se1,
             (we.n * CAST(we.q AS DOUBLE) - CAST(we.s AS DOUBLE) * we.s)
               / (CAST(we.n AS DOUBLE) * we.n * (we.n - 1)) AS se2
      FROM wd JOIN we ON wd.event_type = we.event_type
    )
    SELECT event_type, n_wd, n_we,
           ROUND(m1 - m2, 4) AS mean_diff,
           ROUND((m1 - m2) / sqrt(se1 + se2), 4) AS t_stat,
           ROUND((se1 + se2) * (se1 + se2)
                 / (se1 * se1 / (n_wd - 1) + se2 * se2 / (n_we - 1)), 4)
             AS df
    FROM j WHERE se1 + se2 > 0
    """,
)
def welch_weekday_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t between weekday and weekend daily cents per event_type
    (se_i = v_i/n_i computed in one fused expression from the exact
    integer sums, so both engines evaluate the identical float DAG).
    Output includes the Welch-Satterthwaite degrees of freedom; types
    need >= 2 days on each side and nonzero pooled variance."""
    d = _daily_dow(spark, sf_dir)
    g = d.groupBy(
        "event_type",
        F.when(F.col("dow0").isin(2, 3), 1).otherwise(0).alias("is_weekend"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )

    def side(flag: int, suffix: str) -> DataFrame:
        h = g.where((F.col("is_weekend") == flag) & (F.col("n") >= 2))
        se = (
            F.col("n") * F.col("q").cast("double") - F.col("s").cast("double") * F.col("s")
        ) / (F.col("n").cast("double") * F.col("n") * (F.col("n") - 1))
        return h.select(
            F.col("event_type").alias(f"et_{suffix}"),
            F.col("n").cast("long").alias(f"n_{suffix}"),
            (F.col("s").cast("double") / F.col("n")).alias(f"m_{suffix}"),
            se.alias(f"se_{suffix}"),
        )

    wd = side(0, "wd")
    we = side(1, "we")
    j = wd.join(we, F.col("et_wd") == F.col("et_we"))
    se_sum = F.col("se_wd") + F.col("se_we")
    return j.where(se_sum > 0).select(
        F.col("et_wd").alias("event_type"),
        "n_wd", "n_we",
        F.round(F.col("m_wd") - F.col("m_we"), 4).alias("mean_diff"),
        F.round((F.col("m_wd") - F.col("m_we")) / F.sqrt(se_sum), 4).alias("t_stat"),
        F.round(
            se_sum * se_sum
            / (
                F.col("se_wd") * F.col("se_wd") / (F.col("n_wd") - 1)
                + F.col("se_we") * F.col("se_we") / (F.col("n_we") - 1)
            ),
            4,
        ).alias("df"),
    )


# =========================================================================
# from queries_r4j.py
# =========================================================================

"""Round-4 batch j: survival and nonparametric-test coverage.

* survival_km_risk_table — the Kaplan-Meier sufficient statistics
  (distinct event time, at-risk count, deaths, censorings) as exact
  integers; the survival curve itself is a product of (1 - d/n) over
  these rows, so shipping the risk table keeps the oracle float-free.
* mannwhitney_wkday_wkend — Mann-Whitney U between weekday and weekend
  observations in the BINNED form: ranks come from cumulative counts
  over distinct values (the engine's 2-dp value grid), never from a
  corpus-sized row sort, and doubled rank sums keep tie midpoints
  integer.

Complements the parametric drift family (Welch/ANOVA, queries_r3uu) and
the hazard/cohort queries (queries_r3u/r3o) with the two classic
distribution-free tools they skip.
"""


@_q(
    "survival_km_risk_table",
    """
    WITH span AS (
      SELECT user_id,
             (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 86400000000
               AS lifetime_d,
             MAX(ts) AS last_ts
      FROM events GROUP BY 1
    ), horizon AS (
      SELECT MAX(last_ts) AS h FROM span
    ), lab AS (
      SELECT s.user_id, s.lifetime_d,
             CASE WHEN epoch_us(h.h) - epoch_us(s.last_ts)
                       >= 7 * 86400000000 THEN 1 ELSE 0 END AS died
      FROM span s CROSS JOIN horizon h
    ), grid AS (
      SELECT lifetime_d,
             CAST(SUM(died) AS BIGINT) AS d_events,
             CAST(SUM(1 - died) AS BIGINT) AS c_censored
      FROM lab GROUP BY 1
    )
    SELECT lifetime_d, d_events, c_censored,
           CAST(SUM(d_events + c_censored)
                OVER (ORDER BY lifetime_d DESC
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
    FROM grid
    """,
)
def survival_km_risk_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier risk table over user lifetimes: lifetime = whole days
    between a user's first and last event; a user whose last event
    precedes the global horizon by >= 7 days is an observed churn
    (death), otherwise right-censored at their lifetime. Each distinct
    lifetime row carries deaths, censorings, and the at-risk count
    (everyone with lifetime >= d) — the exact-integer sufficient
    statistics of the KM estimator S(t) = prod(1 - d_i/n_i).

    Reference analog: the drop/keep retention flags (operators/
    retention.py mirrors §2.2) reason about series lifetime; the KM
    table is the censoring-aware population view product analytics
    builds on it.

    Scale: two key-partitioned aggregations plus a window over DISTINCT
    lifetimes (calendar-sized, not user-sized); the horizon is a 1-row
    broadcast.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    span = ev.groupBy("user_id").agg(
        F.floor(
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(86_400_000_000)
        )
        .cast("long")
        .alias("lifetime_d"),
        F.max("ts").alias("last_ts"),
    )
    horizon = span.agg(F.max("last_ts").alias("h"))
    lab = span.crossJoin(F.broadcast(horizon)).select(
        "lifetime_d",
        F.when(
            F.unix_micros(F.col("h")) - F.unix_micros(F.col("last_ts"))
            >= F.lit(7 * 86_400_000_000),
            1,
        )
        .otherwise(0)
        .alias("died"),
    )
    grid = lab.groupBy("lifetime_d").agg(
        F.sum("died").cast("long").alias("d_events"),
        F.sum(1 - F.col("died")).cast("long").alias("c_censored"),
    )
    w = Window.orderBy(F.col("lifetime_d").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return grid.select(
        "lifetime_d",
        "d_events",
        "c_censored",
        F.sum(F.col("d_events") + F.col("c_censored"))
        .over(w)
        .cast("long")
        .alias("n_at_risk"),
    )


@_q(
    "mannwhitney_wkday_wkend",
    """
    WITH obs AS (
      SELECT value,
             CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS wkend
      FROM events WHERE value IS NOT NULL
    ), bins AS (
      SELECT value,
             CAST(SUM(wkend) AS BIGINT)     AS n_we,
             CAST(SUM(1 - wkend) AS BIGINT) AS n_wd,
             CAST(COUNT(*) AS BIGINT)       AS n
      FROM obs GROUP BY 1
    ), ranked AS (
      SELECT n_we, n_wd, n,
             COALESCE(SUM(n) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM bins
    )
    SELECT CAST(SUM(n_wd) AS BIGINT) AS n1,
           CAST(SUM(n_we) AS BIGINT) AS n2,
           CAST(SUM(n_wd * (2 * cum_before + n + 1))
                - SUM(n_wd) * (SUM(n_wd) + 1) AS BIGINT) AS u1_x2,
           CAST(SUM(n_we * (2 * cum_before + n + 1))
                - SUM(n_we) * (SUM(n_we) + 1) AS BIGINT) AS u2_x2,
           CAST(SUM(n * n * n - n) AS BIGINT) AS tie_term
    FROM ranked
    """,
)
def mannwhitney_wkday_wkend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between weekday and weekend event values, exact
    integers: doubled rank sums (2 * avg tie rank = 2*cum_before + n + 1
    is always integral) give u1_x2 = 2*U1 and u2_x2 = 2*U2 with
    u1_x2 + u2_x2 = 2*n1*n2; tie_term = sum(t^3 - t) feeds the normal
    approximation's variance correction downstream.

    Scale: ranks come from cumulative counts over DISTINCT values — the
    engine's 2-dp grid bounds the bins (49k at sf0.01), so the only
    ordered pass is bin-sized, not observation-sized. The observation
    scan is one map-side-combining aggregation.
    """
    # NULL guard on BOTH sides: Spark windows order NULLs first while
    # DuckDB defaults to NULLS LAST, so an unguarded NULL value would
    # shift every bin's cumulative rank differently per engine
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "value",
            F.when(F.dayofweek("ts").isin(1, 7), 1)
            .otherwise(0)
            .alias("wkend"),
        )
    )
    bins = ev.groupBy("value").agg(
        F.sum("wkend").cast("long").alias("n_we"),
        F.sum(1 - F.col("wkend")).cast("long").alias("n_wd"),
        F.count("*").cast("long").alias("n"),
    )
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = bins.select(
        "n_we",
        "n_wd",
        "n",
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("cum_before"),
    )
    avg2 = 2 * F.col("cum_before") + F.col("n") + 1
    return ranked.agg(
        F.sum("n_wd").cast("long").alias("n1"),
        F.sum("n_we").cast("long").alias("n2"),
        (
            F.sum(F.col("n_wd") * avg2)
            - F.sum("n_wd") * (F.sum("n_wd") + 1)
        )
        .cast("long")
        .alias("u1_x2"),
        (
            F.sum(F.col("n_we") * avg2)
            - F.sum("n_we") * (F.sum("n_we") + 1)
        )
        .cast("long")
        .alias("u2_x2"),
        F.sum(F.col("n") * F.col("n") * F.col("n") - F.col("n"))
        .cast("long")
        .alias("tie_term"),
    )


# =========================================================================
# from queries_r3ak.py
# =========================================================================

"""Round-3 batch ak: unknown-date TREND breakpoint search (two-segment
least squares) — the slope-shift counterpart of the CUSUM mean-shift
detector, and the search version of the reference's user-dated step /
velocity-change regressors.

The oracle SQL below is GENERATED in lockstep with the engine's fixed op
order: all OLS partials are exact int64 (cents, day indices, integer
window sums), every double is the same op sequence over those integers on
both engines, so the per-candidate SSEs — and therefore the argmin — are
bit-identical.
"""


_COLS = ("k", "sv", "svv", "st", "stt", "stv")


def _sse_sql(p: str) -> tuple[str, str]:
    """(sse expression, centered-Stt denominator) for prefix ``p`` —
    mirrors operators/changepoint.trend_break._sse term for term."""
    num = f"(CAST({p}stv AS DOUBLE) - CAST({p}st AS DOUBLE) * {p}sv / {p}k)"
    den = f"(CAST({p}stt AS DOUBLE) - CAST({p}st AS DOUBLE) * {p}st / {p}k)"
    syy = f"(CAST({p}svv AS DOUBLE) - CAST({p}sv AS DOUBLE) * {p}sv / {p}k)"
    return f"({syy} - {num} * {num} / {den})", den


def _trend_break_oracle() -> str:
    lsum = ",\n             ".join(
        f"CAST(SUM({c}) OVER wc AS BIGINT) AS l_{c}" for c in _COLS
    )
    asum = ",\n             ".join(
        f"CAST(SUM({c}) OVER wa AS BIGINT) AS a_{c}" for c in _COLS
    )
    rcols = ", ".join(f"a_{c} - l_{c} AS r_{c}" for c in _COLS)
    sse_l, den_l = _sse_sql("l_")
    sse_r, den_r = _sse_sql("r_")
    sse_1, den_1 = _sse_sql("a_")
    return f"""
    WITH pts AS (
      SELECT user_id AS k_,
             CAST(datediff('day', DATE '2024-01-01',
                  CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS t,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ),
    daily AS (
      SELECT k_, t, COUNT(c) AS k, CAST(SUM(c) AS BIGINT) AS sv,
             CAST(SUM(c * c) AS BIGINT) AS svv
      FROM pts GROUP BY k_, t
    ),
    dd AS (
      SELECT k_, t, k, sv, svv,
             k * t AS st, k * t * t AS stt, t * sv AS stv
      FROM daily
    ),
    staged AS (
      SELECT k_, t,
             CAST(row_number() OVER wo AS BIGINT) AS rn,
             CAST(COUNT(*) OVER wa AS BIGINT) AS nd,
             {lsum},
             {asum}
      FROM dd
      WINDOW wo AS (PARTITION BY k_ ORDER BY t),
             wc AS (PARTITION BY k_ ORDER BY t ROWS UNBOUNDED PRECEDING),
             wa AS (PARTITION BY k_ ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING)
    ),
    sided AS (SELECT *, {rcols} FROM staged),
    cand AS (
      SELECT k_, t, rn, nd,
             {sse_l} + {sse_r} AS sse_t,
             {sse_1} AS sse_1
      FROM sided
      WHERE rn >= 2 AND nd - rn >= 2
        AND {den_l} > 0 AND {den_r} > 0 AND {den_1} > 0
    ),
    best AS (
      SELECT *, row_number() OVER (
               PARTITION BY k_ ORDER BY sse_t ASC, t ASC) AS rk
      FROM cand
    )
    SELECT k_ AS user_id,
           CAST(DATE '2024-01-01' + CAST(t AS INTEGER) AS TIMESTAMP)
             AS break_day,
           rn AS n_days_left,
           nd - rn AS n_days_right,
           ROUND(sse_t / 10000.0, 4) AS sse_break,
           ROUND(sse_1 / 10000.0, 4) AS sse_single,
           CASE WHEN sse_1 > 0
                THEN ROUND((sse_1 - sse_t) / sse_1, 6) END AS gain
    FROM best WHERE rk = 1
    """


@_q("trend_break_detect", _trend_break_oracle())
def trend_break_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single trend breakpoint per key: the day boundary whose
    two-segment OLS split minimizes total SSE
    (operators/changepoint.trend_break) — exact-integer partials, fixed
    double op order, single Exchange."""
    from mintpy_spark.operators.changepoint import trend_break

    ev = load(spark, sf_dir, "events")
    return trend_break(ev, "value", key="user_id", ts="ts")
