"""Behavioral/product analytics queries: funnels, cohorts, sessions, attribution, paths, crawl scheduling, as-of alignment.

Consolidated from the round-batch modules named in the section
markers below (pure moves, zero semantic change — VERDICT r4 #10).
"""

from __future__ import annotations

from mintpy_spark.functions.langid import classify, classify_oracle_sql
from mintpy_spark.functions.scalars import nonempty_tokens, portable_hash60
from mintpy_spark.functions.timefn import bucket_start
from mintpy_spark.operators import curation as C
from mintpy_spark.operators import dedup as D
from mintpy_spark.operators.budget import waterfill, waterfill_oracle_sql
from mintpy_spark.operators.crawlsched import politeness_oracle_sql
from mintpy_spark.operators.engagement import growth_accounting
from mintpy_spark.operators.packing import (
    pack_concat_chunks as _pack_cc,
    pack_concat_chunks_oracle_sql,
    pack_next_fit,
    pack_next_fit_oracle_sql,
)
from mintpy_spark.operators.sessionize import (
    concurrent_peak_daily,
    sessionize,
    sessionize_oracle_sql,
)
from mintpy_spark.operators.sessionize import sessionize, sessionize_oracle_sql
from mintpy_spark.plans.cache import persist_slot
from mintpy_spark.queries import _q, load
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


# =========================================================================
# from queries_r3n.py
# =========================================================================

"""Round-3 additions, batch n: Holt linear-trend forecast skill (an
iterative algorithm that still hash-matches a SQL oracle via a recursive
CTE and dyadic smoothing constants), a 3-step conversion funnel, and the
exact rolling median temporal filter.
"""


_HOLT_ORACLE = """
    WITH RECURSIVE daily AS (
      SELECT event_type AS key, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), seq AS (
      SELECT key, y,
             CAST(ROW_NUMBER() OVER (PARTITION BY key ORDER BY day) AS BIGINT) AS t,
             CAST(COUNT(*) OVER (PARTITION BY key) AS BIGINT) AS n
      FROM daily
    ), lim AS (
      SELECT key, MAX(n) - 7 AS n_train FROM seq GROUP BY key
      HAVING MAX(n) - 7 >= 2
    ), r AS (
      SELECT s1.key, CAST(2 AS BIGINT) AS t,
             CAST(s2.y AS DOUBLE) AS l,
             CAST(s2.y AS DOUBLE) - CAST(s1.y AS DOUBLE) AS b
      FROM seq s1
      JOIN seq s2 ON s2.key = s1.key AND s2.t = 2
      JOIN lim ON lim.key = s1.key
      WHERE s1.t = 1
      UNION ALL
      SELECT r.key, r.t + 1,
             0.5::DOUBLE * s.y + 0.5::DOUBLE * (r.l + r.b),
             0.25::DOUBLE * ((0.5::DOUBLE * s.y + 0.5::DOUBLE * (r.l + r.b)) - r.l)
               + 0.75::DOUBLE * r.b
      FROM r
      JOIN seq s ON s.key = r.key AND s.t = r.t + 1
      JOIN lim ON lim.key = r.key
      WHERE r.t + 1 <= lim.n_train
    ), fin AS (
      SELECT r.key, r.l, r.b FROM r JOIN lim ON lim.key = r.key
      WHERE r.t = lim.n_train
    ), den AS (
      SELECT s.key, CAST(SUM(ABS(s.y - p.y)) AS BIGINT) AS denom
      FROM seq s
      JOIN seq p ON p.key = s.key AND p.t = s.t - 1
      JOIN lim ON lim.key = s.key
      WHERE s.t >= 2 AND s.t <= lim.n_train
      GROUP BY s.key
    ), err AS (
      SELECT s.key,
             CAST(floor(abs(CAST(s.y AS DOUBLE)
                            - (fin.l + CAST(s.t - lim.n_train AS DOUBLE) * fin.b))
                        * 1e6 + 0.5) AS BIGINT) AS e
      FROM seq s
      JOIN lim ON lim.key = s.key
      JOIN fin ON fin.key = s.key
      WHERE s.t > lim.n_train
    ), se AS (
      SELECT key, CAST(SUM(e) AS BIGINT) AS sum_abs_err_micro
      FROM err GROUP BY key
    )
    SELECT fin.key AS key, lim.n_train AS n_train, CAST(7 AS BIGINT) AS n_test,
           CAST(floor(fin.l * 1e6 + 0.5) AS BIGINT) AS l_end_micro,
           CAST(floor(fin.b * 1e6 + 0.5) AS BIGINT) AS b_end_micro,
           den.denom AS denom,
           se.sum_abs_err_micro AS sum_abs_err_micro,
           CASE WHEN den.denom > 0 THEN
             CAST(floor(
               (CAST(se.sum_abs_err_micro AS DOUBLE)
                  * CAST(lim.n_train - 1 AS DOUBLE))
               / (CAST(7 AS DOUBLE) * CAST(den.denom AS DOUBLE) * 1e6)
               * 1e6 + 0.5) AS BIGINT)
           ELSE NULL END AS mase_micro
    FROM fin
    JOIN lim ON lim.key = fin.key
    JOIN den ON den.key = fin.key
    JOIN se ON se.key = fin.key
"""


@_q("forecast_holt_mase", _HOLT_ORACLE)
def forecast_holt_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential-smoothing forecast skill per event stream,
    MASE-scored on a 7-day holdout (operators/forecast.holt_linear_mase_daily).
    The level/trend fold runs in applyInPandas with dyadic smoothing
    constants and per-step expression trees mirrored exactly by the
    oracle's recursive CTE — every recursion step is bit-identical IEEE
    arithmetic, so an inherently iterative algorithm still hash-matches
    pure SQL. Complements forecast_snaive_mase (the baseline it should
    beat on trending series)."""
    from mintpy_spark.operators.forecast import holt_linear_mase_daily

    ev = load(spark, sf_dir, "events")
    return holt_linear_mase_daily(ev, key="event_type", ts="ts", horizon=7)


@_q(
    "funnel_3step",
    """
    WITH t1 AS (
      SELECT user_id, MIN(ts) AS ts1 FROM events
      WHERE event_type = 'click' GROUP BY user_id
    ), t2 AS (
      SELECT e.user_id, MIN(e.ts) AS ts2
      FROM events e JOIN t1 ON t1.user_id = e.user_id
      WHERE e.event_type = 'view' AND e.ts > t1.ts1
      GROUP BY e.user_id
    ), t3 AS (
      SELECT e.user_id, MIN(e.ts) AS ts3
      FROM events e JOIN t2 ON t2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
      GROUP BY e.user_id
    )
    SELECT
      (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS users,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM t1) AS step1_click,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM t2) AS step2_view,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM t3) AS step3_purchase,
      (SELECT CAST(COALESCE(SUM(epoch_us(t3.ts3) - epoch_us(t1.ts1)), 0) AS BIGINT)
       FROM t3 JOIN t1 ON t1.user_id = t3.user_id) AS conv_us_total
    """,
)
def funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel (click -> later view -> later
    purchase) — the product-analytics query every event pipeline runs.
    Step semantics are sequential minima: ts1 = first click, ts2 = first
    view AFTER ts1, ts3 = first purchase AFTER ts2; plus the summed
    click->purchase conversion time over completers (exact integer
    microseconds). Plan: ONE scan and ONE user_id shuffle — the three
    dependent minima chain as whole-partition windows over the SAME
    partitioning (ts2's predicate reads ts1's window column, so each step
    sees the previous step's result without a join), then a groupBy on
    the window key reuses the clustering and a final scalar agg reduces
    one row per user. The oracle's join-chain spelling is the proof the
    single-pass form is exact."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    et, ts = F.col("event_type"), F.col("ts")
    per_row = (
        ev.select("user_id", "ts", "event_type")
        .withColumn("ts1", F.min(F.when(et == "click", ts)).over(w))
        .withColumn(
            "ts2", F.min(F.when((et == "view") & (ts > F.col("ts1")), ts)).over(w)
        )
        .withColumn(
            "ts3",
            F.min(F.when((et == "purchase") & (ts > F.col("ts2")), ts)).over(w),
        )
    )
    per_user = per_row.groupBy("user_id").agg(
        F.first("ts1").alias("ts1"),
        F.first("ts2").alias("ts2"),
        F.first("ts3").alias("ts3"),
    )
    dur = F.unix_micros(F.col("ts3").cast("timestamp")) - F.unix_micros(
        F.col("ts1").cast("timestamp")
    )
    return per_user.agg(
        F.count("*").cast("long").alias("users"),
        F.count("ts1").cast("long").alias("step1_click"),
        F.count("ts2").cast("long").alias("step2_view"),
        F.count("ts3").cast("long").alias("step3_purchase"),
        F.coalesce(F.sum(F.when(F.col("ts3").isNotNull(), dur)), F.lit(0))
        .cast("long")
        .alias("conv_us_total"),
    )


@_q(
    "temporal_filter_runmedian",
    """
    SELECT user_id, ts,
           median(value) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 3 DAY PRECEDING AND INTERVAL 3 DAY FOLLOWING
           ) AS wmed,
           COUNT(value) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 3 DAY PRECEDING AND INTERVAL 3 DAY FOLLOWING
           ) AS wcnt
    FROM events
    """,
)
def temporal_filter_runmedian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """±3-day rolling MEDIAN over the irregular series — the outlier-robust
    temporal filter mode (reference stack.py:522-528 median kernel; twin of
    temporal_filter_runmean). Exact percentile over a microsecond-precision
    range frame: Spark `percentile(0.5)` and DuckDB `median` interpolate
    identically on identical window multisets, so the raw double is
    hash-exact with no rounding."""
    from mintpy_spark.operators.filters import _range_window

    ev = load(spark, sf_dir, "events")
    w = _range_window("user_id", "ts", 3.0)
    return ev.select(
        "user_id",
        "ts",
        F.percentile(F.col("value"), F.lit(0.5)).over(w).alias("wmed"),
        F.count("value").over(w).alias("wcnt"),
    )


# =========================================================================
# from queries_r3o.py
# =========================================================================

"""Round-3 additions, batch o: inverted-index build statistics, SCD2
state tracking with point-in-time snapshot, and weekly cohort retention.

Three more workload classes a web-corpus/event platform runs daily,
each pure Catalyst with an exact DuckDB oracle: IR index construction
(postings lists + fingerprints), slowly-changing-dimension row
versioning (the row-level counterpart of the tier store's snapshot time
travel), and product-analytics cohort analysis.
"""


_SNAP_TS = "2024-01-15 00:00:00"


@_q(
    "index_postings_stats",
    """
    WITH occ AS (
      SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS occ
      FROM (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        FROM documents)
      GROUP BY tok, doc_id
    )
    SELECT tok,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(occ) AS BIGINT) AS cf,
           ('0x' || substring(md5(string_agg(CAST(doc_id AS VARCHAR), ','
                                             ORDER BY doc_id)), 1, 15))::BIGINT
             AS postings_fp
    FROM occ
    GROUP BY tok
    ORDER BY df DESC, tok ASC
    LIMIT 30
    """,
)
def index_postings_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per-token document frequency, collection
    frequency, and a fingerprint of the doc_id-sorted postings list (the
    value an index-shard writer would checksum), top-30 by df. Plan: one
    explode, two hash-aggs with map-side partials; postings are collected
    per token AFTER the (tok, doc_id) pre-agg so list size is bounded by
    df, not cf. At 10^12 docs the stopword tokens' postings dominate —
    production would range-shard each hot token's postings by doc_id
    block (a bucketed table layout); the
    fingerprint composes over blocks via the same md5-of-concat chain."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(nonempty_tokens(F.col("text"))).alias("tok"),
    )
    occ = toks.groupBy("tok", "doc_id").agg(F.count("*").alias("occ"))
    ids = F.concat_ws(
        ",", F.transform(F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string"))
    )
    fp = portable_hash60(ids)
    return (
        occ.groupBy("tok")
        .agg(
            F.count("*").alias("df"),
            F.sum("occ").alias("cf"),
            fp.alias("postings_fp"),
        )
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(30)
    )


@_q(
    "scd2_snapshot",
    f"""
    WITH scd AS (
      SELECT user_id, value, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM events
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS scd_rows,
      CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS open_rows,
      CAST(SUM(CASE WHEN valid_from <= TIMESTAMP '{_SNAP_TS}'
                     AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_SNAP_TS}')
                    THEN 1 ELSE 0 END) AS BIGINT) AS snap_users,
      CAST(SUM(CASE WHEN valid_from <= TIMESTAMP '{_SNAP_TS}'
                     AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_SNAP_TS}')
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS snap_value_cents
    FROM scd
    """,
)
def scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 row versioning over the event stream (each user's value
    is valid from its event until the user's next event) plus a
    point-in-time snapshot at 2024-01-15: how many users had live state
    and the exact sum of their values in integer cents. The row-level
    counterpart of the tier store's snapshot time travel
    (sources/tables.py) — LEAD over (user ORDER BY ts, event_id) builds
    the validity intervals in one window pass; the deterministic
    event_id tie-break makes the intervals engine- and
    partitioning-exact. Snapshot predicates prune to one partition range
    on a valid_from-partitioned SCD table at scale."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    scd = ev.select(
        "user_id", "value", F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    t = F.lit(_SNAP_TS).cast("timestamp")
    live = (F.col("valid_from") <= t) & (
        F.col("valid_to").isNull() | (F.col("valid_to") > t)
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return scd.agg(
        F.count("*").alias("scd_rows"),
        F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0)).alias("open_rows"),
        F.sum(F.when(live, 1).otherwise(0)).alias("snap_users"),
        F.sum(F.when(live, cents).otherwise(F.lit(0))).alias("snap_value_cents"),
    )


@_q(
    "cohort_retention_weekly",
    """
    WITH c AS (
      SELECT user_id,
             CAST(floor(date_diff('day', DATE '2024-01-01',
                                  CAST(MIN(ts) AS DATE)) / 7) AS BIGINT)
               AS cohort_week
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), act AS (
      SELECT DISTINCT c.cohort_week,
             CAST(floor(date_diff('day', DATE '2024-01-01',
                                  CAST(e.ts AS DATE)) / 7) AS BIGINT)
               AS activity_week,
             e.user_id
      FROM events e JOIN c ON c.user_id = e.user_id
    )
    SELECT cohort_week, activity_week, CAST(COUNT(*) AS BIGINT) AS users
    FROM act GROUP BY cohort_week, activity_week
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users bucketed by first-signup
    week, counted in every week they show any activity — the triangle
    chart behind every retention dashboard. Exact integer week indices
    (floor(days/7) anchored at the epoch start). Plan: signup agg on
    user_id, then one join (cohorts are a projection of the same key, so
    on user-bucketed layouts it's co-located), distinct, count."""
    ev = load(spark, sf_dir, "events")
    day0 = F.lit("2024-01-01").cast("date")
    c = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(
            F.floor(F.datediff(F.to_date(F.min("ts")), day0) / 7)
            .cast("long")
            .alias("cohort_week")
        )
    )
    act = (
        ev.join(c, "user_id")
        .select(
            "cohort_week",
            F.floor(F.datediff(F.to_date("ts"), day0) / 7)
            .cast("long")
            .alias("activity_week"),
            "user_id",
        )
        .distinct()
    )
    return act.groupBy("cohort_week", "activity_week").agg(
        F.count("*").alias("users")
    )


# =========================================================================
# from queries_r3p.py
# =========================================================================

"""Round-3 additions, batch p: two-series LOCF alignment join, one-pass
column profiling, and calendar-month rollup.

The alignment join is the kdb `aj`/InfluxDB-join primitive the as-of
family doesn't cover (BOTH series carried forward onto the union of
their timestamps); the profiler is the materialized form of the
reference's info.py metadata inspection; the calendar rollup is the
variable-length-bucket counterpart of the engine's fixed-width tiers.
"""


@_q(
    "series_align_locf",
    """
    WITH u AS (
      SELECT user_id, ts, event_id, 0 AS src, value AS va, NULL::DOUBLE AS vb
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, event_id, 1 AS src, NULL::DOUBLE AS va, value AS vb
      FROM events WHERE event_type = 'purchase'
    ), f AS (
      SELECT user_id,
             last_value(va IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, src, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fa,
             last_value(vb IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, src, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fb
      FROM u
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      CAST(SUM(CASE WHEN fa IS NOT NULL AND fb IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_both,
      CAST(SUM(CASE WHEN fa IS NOT NULL AND fb IS NOT NULL
                    THEN CAST(floor(fa * 100 + 0.5) AS BIGINT)
                         - CAST(floor(fb * 100 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS diff_cents_sum
    FROM f
    """,
)
def series_align_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Align two per-user value series (click vs purchase) on the UNION of
    their timestamps, carrying each side forward — the kdb `aj` / pandas
    combine_first primitive: at every observation of either stream, the
    most recent value of BOTH streams. The engine's as-of joins probe one
    side; this materializes the merged timeline. Deterministic ordering
    (ts, src, event_id) makes the ignore-nulls carry exact under any
    partitioning; values quantize to integer cents at the row level so
    the aligned-difference checksum is order-free. Plan: union of two
    pruned scans, ONE shuffle on user_id feeding both window passes and
    the final agg."""
    ev = load(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.lit(0).alias("src"),
        F.col("value").alias("va"), F.lit(None).cast("double").alias("vb"),
    )
    b = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("src"),
        F.lit(None).cast("double").alias("va"), F.col("value").alias("vb"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "src", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    f = a.unionAll(b).select(
        "user_id",
        F.last("va", ignorenulls=True).over(w).alias("fa"),
        F.last("vb", ignorenulls=True).over(w).alias("fb"),
    )
    both = F.col("fa").isNotNull() & F.col("fb").isNotNull()
    cents = lambda c: F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long")  # noqa: E731
    return f.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.when(both, 1).otherwise(0)).alias("n_both"),
        F.sum(F.when(both, cents("fa") - cents("fb")).otherwise(F.lit(0)))
        .alias("diff_cents_sum"),
    )


_PROFILE_COLS = (
    # (name, kind) — numeric columns profile min/max as doubles; ts as
    # epoch microseconds (string formatting of timestamps is not
    # engine-portable); strings as binary-collation min/max
    ("event_id", "num"),
    ("ts", "ts"),
    ("user_id", "num"),
    ("event_type", "str"),
    ("value", "num"),
    ("props", "str"),
)


def _profile_oracle() -> str:
    parts = []
    for name, kind in _PROFILE_COLS:
        if kind == "num":
            mn = f"CAST(MIN({name}) AS DOUBLE)"
            mx = f"CAST(MAX({name}) AS DOUBLE)"
            ms, xs = "NULL::VARCHAR", "NULL::VARCHAR"
        elif kind == "ts":
            mn = f"CAST(epoch_us(MIN({name})) AS DOUBLE)"
            mx = f"CAST(epoch_us(MAX({name})) AS DOUBLE)"
            ms, xs = "NULL::VARCHAR", "NULL::VARCHAR"
        else:
            mn, mx = "NULL::DOUBLE", "NULL::DOUBLE"
            ms, xs = f"MIN({name})", f"MAX({name})"
        parts.append(
            f"SELECT '{name}' AS col_name, CAST(COUNT(*) AS BIGINT) AS n,"
            f" CAST(COUNT(*) - COUNT({name}) AS BIGINT) AS nulls,"
            f" CAST(COUNT(DISTINCT {name}) AS BIGINT) AS n_distinct,"
            f" {mn} AS min_num, {mx} AS max_num,"
            f" {ms} AS min_str, {xs} AS max_str FROM events"
        )
    return " UNION ALL ".join(parts)


@_q("profile_events_columns", _profile_oracle())
def profile_events_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column dataset profile of the events table — count, null count,
    exact distinct count, typed min/max (numerics and timestamps as
    doubles/epoch-µs, strings under binary collation) — the materialized
    info.py/describe() every ingestion pipeline snapshots per partition
    drop. Spark side is ONE scan: a single aggregate computes every
    metric, then `stack()` pivots the row to one row per column (the
    oracle's UNION-ALL-of-aggregates spelling scans per column; at 100 TB
    the one-pass form is the only viable one — distinct counts would
    downgrade to the KMV sketch tier in operators/sketch.py)."""
    ev = load(spark, sf_dir, "events")
    aggs, stack_args = [], []
    for name, kind in _PROFILE_COLS:
        c = F.col(name)
        aggs += [
            F.count("*").alias(f"{name}__n"),
            (F.count("*") - F.count(c)).alias(f"{name}__nulls"),
            F.countDistinct(c).alias(f"{name}__nd"),
        ]
        if kind == "num":
            aggs += [F.min(c).cast("double").alias(f"{name}__mn"),
                     F.max(c).cast("double").alias(f"{name}__mx")]
        elif kind == "ts":
            aggs += [
                F.unix_micros(F.min(c).cast("timestamp")).cast("double")
                .alias(f"{name}__mn"),
                F.unix_micros(F.max(c).cast("timestamp")).cast("double")
                .alias(f"{name}__mx"),
            ]
        if kind in ("num", "ts"):
            stack_args.append(
                f"'{name}', {name}__n, {name}__nulls, {name}__nd,"
                f" {name}__mn, {name}__mx, CAST(NULL AS STRING),"
                f" CAST(NULL AS STRING)"
            )
        else:
            aggs += [F.min(c).alias(f"{name}__mns"), F.max(c).alias(f"{name}__mxs")]
            stack_args.append(
                f"'{name}', {name}__n, {name}__nulls, {name}__nd,"
                f" CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),"
                f" {name}__mns, {name}__mxs"
            )
    one = ev.agg(*aggs)
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, "
            + ", ".join(stack_args)
            + ") AS (col_name, n, nulls, n_distinct, min_num, max_num,"
            " min_str, max_str)"
        )
    )


@_q(
    "olap_monthly_orders",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(COUNT(*) AS BIGINT) AS orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS customers
    FROM orders
    GROUP BY 1
    """,
)
def olap_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month rollup over six years of orders — the
    variable-length-bucket counterpart of the engine's fixed-width tiers
    (28/29/30/31-day buckets cannot be expressed as an epoch-anchored
    width; date_trunc IS the bucket function). Revenue in exact integer
    cents; one hash agg with map-side partials."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_trunc("month", F.col("o_orderdate").cast("timestamp"))
            .alias("month_start")
        )
        .agg(
            F.count("*").alias("orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .alias("revenue_cents"),
            F.countDistinct("o_custkey").alias("customers"),
        )
    )


# =========================================================================
# from queries_r3y.py
# =========================================================================

"""Round-3 additions, batch y: growth accounting, incremental join-view
maintenance, and share-of-day contribution analysis.

* growth accounting — the canonical DAU decomposition (new / retained /
  resurrected / churned) from one distinct pass + one lag/lead window,
  emitting contribution rows so a single day agg yields all four
  columns.  Identities dau = new + retained + resurrected and
  retained(d) = dau(d-1) - churned(d) hold by construction.
* IVM join view — incremental maintenance of an AGGREGATED JOIN view
  (segment revenue): Spark merges base-slice partials with delta-slice
  partials (delta-proportional work — the tier_refresh identity lifted
  to a joined view) while the oracle recomputes the full join from
  scratch; hash equality proves partials-over-join merge losslessly.
  Money in integer cents so no double half-point flips.
* share of day — per (day, event_type) contribution in exact basis
  points via a window sum over the day tier (the percent-of-total
  staple).
"""


@_q(
    "growth_accounting_daily",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed
      FROM events WHERE user_id IS NOT NULL
    ), t AS (
      SELECT user_id, ed,
             lag(ed) OVER (PARTITION BY user_id ORDER BY ed) AS prev,
             lead(ed) OVER (PARTITION BY user_id ORDER BY ed) AS nxt
      FROM ud
    ), contrib AS (
      SELECT ed AS d,
             CASE WHEN prev IS NULL THEN 1 ELSE 0 END AS new_users,
             CASE WHEN prev = ed - 1 THEN 1 ELSE 0 END AS retained,
             CASE WHEN prev IS NOT NULL AND prev < ed - 1 THEN 1 ELSE 0 END
               AS resurrected,
             0 AS churned
      FROM t
      UNION ALL
      SELECT ed + 1, 0, 0, 0, 1 FROM t
      WHERE nxt IS NULL OR nxt > ed + 1
    )
    SELECT CAST(d AS BIGINT) AS ed,
           CAST(SUM(new_users) AS BIGINT) AS new_users,
           CAST(SUM(retained) AS BIGINT) AS retained,
           CAST(SUM(resurrected) AS BIGINT) AS resurrected,
           CAST(SUM(churned) AS BIGINT) AS churned
    FROM contrib GROUP BY 1
    HAVING SUM(new_users) + SUM(retained) + SUM(resurrected) > 0
    """,
)
def growth_accounting_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New / retained / resurrected / churned users per active day — the
    growth-accounting decomposition every DAU dashboard runs.  Plan: one
    distinct Exchange + one lag/lead window Exchange, then contribution
    rows (<= 2 per user-day) into a single day-keyed hash agg; no second
    window pass, no day-table join."""
    return growth_accounting(load(spark, sf_dir, "events"))


@_q(
    "ivm_segment_revenue_delta",
    """
    SELECT c.c_mktsegment,
           CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1
    """,
)
def ivm_segment_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of an aggregated JOIN view: the Spark side
    splits orders at 1999-01-01 into a base slice and a delta slice,
    aggregates each THROUGH the customer join separately, and merges the
    partials — exactly what a production refresh does with STORED base
    partials and only the delta scanned.  The oracle recomputes the full
    join; hash equality proves cnt/sum partials commute with the join.
    Money in integer cents (floor(x*100 + 0.5)).  Plan: two pruned
    order scans, customer broadcast twice, partial aggs merged by a
    |segments|-bounded final agg — delta-proportional at production
    layout where base partials are a stored table."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("_cents"),
    )
    cut = F.lit("1999-01-01").cast("timestamp")

    def part(sl: DataFrame) -> DataFrame:
        return (
            sl.join(F.broadcast(c), sl["o_custkey"] == c["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.sum("_cents").alias("revenue_cents"),
                F.count(F.lit(1)).alias("n_orders"),
            )
        )

    base = part(o.where(F.col("o_orderdate") < cut))
    delta = part(o.where(F.col("o_orderdate") >= cut))
    return (
        base.unionByName(delta)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
            F.sum("n_orders").cast("long").alias("n_orders"),
        )
    )


@_q(
    "share_of_day_by_type",
    """
    WITH c AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
             event_type, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT bucket_start, event_type,
           CAST(cnt AS BIGINT) AS cnt,
           CAST(SUM(cnt) OVER (PARTITION BY bucket_start) AS BIGINT)
             AS day_total,
           CAST(floor(cnt * 10000.0
                      / SUM(cnt) OVER (PARTITION BY bucket_start) + 0.5)
                AS BIGINT) AS share_bp
    FROM c
    """,
)
def share_of_day_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total contribution per (day, event_type) in exact
    basis points: one tier agg, then an unordered window sum over the
    |types|-sized day partitions (no sort — a frame-less partition sum).
    Plan: one Exchange for the agg; the window re-uses the day grouping
    with a second small Exchange on the day key."""
    ev = load(spark, sf_dir, "events")
    tier = ev.groupBy(
        bucket_start(F.col("ts"), "1d").alias("bucket_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("bucket_start")
    total = F.sum("cnt").over(w)
    return tier.select(
        "bucket_start",
        "event_type",
        F.col("cnt").cast("long").alias("cnt"),
        total.cast("long").alias("day_total"),
        F.floor(F.col("cnt") * 10000.0 / total + 0.5)
        .cast("long")
        .alias("share_bp"),
    )


# =========================================================================
# from queries_r3aa.py
# =========================================================================

"""Round-3 additions, batch aa: the relational reshaping shapes —
PIVOT, UNPIVOT (melt), and the rank transform.

* pivot — per-day wide counts, one column per event_type from a FIXED
  domain list (a pivot over a discovered domain is non-deterministic by
  construction; both engines get the same literal list).
* unpivot — lineitem's three measures melted to long form via stack(),
  per-returnflag stats per measure (the tidy-data melt every feature
  pipeline runs before per-measure normalization).
* rank transform — per-day percent_rank of event value in basis points:
  rank statistics are the tie-safe normalization (equal values share a
  rank, so the output is deterministic at any partitioning — no
  tiebreak column needed, unlike row_number).
"""


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@_q(
    "pivot_daily_type_counts",
    f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           {", ".join(
               f"CAST(COUNT(*) FILTER (event_type = '{t}') AS BIGINT) AS n_{t}"
               for t in EVENT_TYPES
           )},
           CAST(COUNT(*) FILTER (event_type NOT IN
                ({", ".join(repr(t) for t in EVENT_TYPES)})) AS BIGINT)
             AS n_other,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM events GROUP BY 1
    """,
)
def pivot_daily_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-day event-type counts — the PIVOT shape, over the FIXED
    type domain (plus an n_other catch-all so an unexpected type can
    never silently vanish).  Implemented as conditional aggregates
    rather than df.pivot(): the fixed column set keeps the schema
    STATIC, which a pivot over a discovered domain cannot guarantee
    (and a schema that depends on the data is a breaking change waiting
    to happen downstream).  Plan: one scan, one day-keyed hash agg with
    map-side combine — pivot width is free."""
    ev = load(spark, sf_dir, "events")
    aggs = [
        F.sum((F.col("event_type") == t).cast("long")).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    return ev.groupBy(
        bucket_start(F.col("ts"), "1d").alias("bucket_start")
    ).agg(
        *aggs,
        F.sum(
            (~F.col("event_type").isin(*EVENT_TYPES)).cast("long")
        ).alias("n_other"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )


@_q(
    "unpivot_lineitem_measures",
    """
    WITH long AS (
      SELECT l_returnflag, 'quantity' AS measure, l_quantity AS v
      FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'discount', l_discount FROM lineitem
    )
    SELECT l_returnflag, measure,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(v) AS vmin,
           MAX(v) AS vmax,
           ROUND(SUM(v), 2) AS vsum
    FROM long GROUP BY 1, 2
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt lineitem's three measures to long form (UNPIVOT via
    stack()) and aggregate per (returnflag, measure) — the tidy-data
    reshape before any per-measure normalization.  stack() is row-local
    (no shuffle for the reshape itself); one hash agg follows.  The 3x
    row fan-out never materializes: the melt feeds straight into the
    map-side combine."""
    li = load(spark, sf_dir, "lineitem")
    long = li.select(
        "l_returnflag",
        F.expr(
            "stack(3, 'quantity', l_quantity, "
            "'extendedprice', l_extendedprice, "
            "'discount', l_discount) AS (measure, v)"
        ),
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        F.round(F.sum("v"), 2).alias("vsum"),
    )


@_q(
    "value_percentile_daily",
    """
    SELECT event_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           value,
           CAST(floor(percent_rank() OVER (
                  PARTITION BY date_trunc('day', ts) ORDER BY value
                ) * 10000 + 0.5) AS BIGINT) AS pr_bp
    FROM events WHERE value IS NOT NULL
    """,
)
def value_percentile_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day rank transform of event values in basis points — the
    distribution-free normalization (quantile scaling) feature pipelines
    apply before mixing heterogeneous scales.  percent_rank is TIE-SAFE:
    equal values share a rank, so the output is deterministic at any
    partitioning without a tiebreak column (row_number would not be).
    Plan: one Exchange on the day key, partition-local sort, zero joins."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    day = bucket_start(F.col("ts"), "1d")
    w = Window.partitionBy(day).orderBy("value")
    return ev.select(
        "event_id",
        day.alias("bucket_start"),
        "value",
        F.floor(F.percent_rank().over(w) * 10000 + 0.5)
        .cast("long")
        .alias("pr_bp"),
    )


# =========================================================================
# from queries_r3bb.py
# =========================================================================

"""Round-3 additions, batch bb: co-occurrence lift, distribution-drift
TVD, and the interval-concurrency sweep.

* co-occurrence lift — the market-basket association measure over
  (day, user) baskets: lift(a,b) = P(a,b) / (P(a) P(b)) in ppm.  The
  pair join is CO-LOCATED on the basket key and bounded by |types|^2
  per basket, never data volume (the audience-overlap shape with a
  probabilistic numerator).
* weekly TVD drift — total-variation distance between consecutive
  weeks' value histograms per event_type, in basis points.  TVD instead
  of PSI/KL deliberately: those need ln(), the one libm call with NO
  cross-engine parity guarantee; TVD is rational arithmetic end-to-end.
  Single-pass: each (type, week, bin) count contributes to its own week
  pair AND the next week's pair, so one agg + one window produces every
  consecutive-week comparison with no self-join.
* concurrency peak — sweep-line max-overlap of sessions per day
  (ClickHouse maxIntersections), the capacity-planning staple.
"""


_BASKET_SLOT: list = []


@_q(
    "cooccurrence_lift_daily",
    """
    WITH b AS (
      SELECT DISTINCT
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
             user_id, event_type
      FROM events WHERE user_id IS NOT NULL
    ), n AS (
      SELECT COUNT(DISTINCT (ed, user_id)) AS total FROM b
    ), m AS (
      SELECT event_type, COUNT(*) AS cnt FROM b GROUP BY 1
    ), p AS (
      SELECT x.event_type AS type_a, y.event_type AS type_b,
             COUNT(*) AS n_ab
      FROM b x JOIN b y
        ON x.ed = y.ed AND x.user_id = y.user_id
       AND x.event_type < y.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           CAST(p.n_ab AS BIGINT) AS n_ab,
           CAST(ma.cnt AS BIGINT) AS n_a,
           CAST(mb.cnt AS BIGINT) AS n_b,
           CAST(floor(CAST(p.n_ab AS DOUBLE) * n.total / ma.cnt / mb.cnt
                      * 1000000 + 0.5) AS BIGINT) AS lift_ppm
    FROM p JOIN m ma ON ma.event_type = p.type_a
           JOIN m mb ON mb.event_type = p.type_b
           CROSS JOIN n
    """,
)
def cooccurrence_lift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift between event types over (day, user) baskets:
    lift > 1e6 ppm means the pair co-occurs more than independence
    predicts.  Plan: one distinct pass; the pair self-join is CO-LOCATED
    on (day, user) — the same Exchange — and bounded by |types| choose 2
    per basket; margins and the 1-row total are broadcast.  The lift
    division runs in double with the identical expression order on both
    engines (integer products would overflow at production counts)."""
    # NULL users excluded on both engines: COUNT(DISTINCT (ed, user_id))
    # vs Spark distinct-count disagree on NULL-bearing tuples
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    from mintpy_spark.operators.bitmap import epoch_day

    # the basket table feeds FOUR consumers (total, margins, both join
    # sides); one-slot persist keeps it to a single scan + distinct
    b = persist_slot(
        ev.select(
            epoch_day("ts").alias("ed"), "user_id", "event_type"
        ).distinct(),
        _BASKET_SLOT,
    )
    total = b.select("ed", "user_id").distinct().count()
    m = b.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    x, y = b.alias("x"), b.alias("y")
    p = (
        x.join(
            y,
            (F.col("x.ed") == F.col("y.ed"))
            & (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ma = m.select(F.col("event_type").alias("type_a"), F.col("cnt").alias("n_a"))
    mb = m.select(F.col("event_type").alias("type_b"), F.col("cnt").alias("n_b"))
    return (
        p.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.floor(
                F.col("n_ab").cast("double")
                * F.lit(total)
                / F.col("n_a")
                / F.col("n_b")
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("lift_ppm"),
        )
    )


@_q(
    "drift_tvd_weekly",
    """
    WITH base AS (
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
      SELECT event_type, pw, bin,
             SUM(cur) AS cur, SUM(prev) AS prev
      FROM contrib GROUP BY 1, 2, 3
    ), t AS (
      SELECT event_type, pw, bin, cur, prev,
             SUM(cur) OVER (PARTITION BY event_type, pw) AS tc,
             SUM(prev) OVER (PARTITION BY event_type, pw) AS tp
      FROM g
    )
    SELECT event_type, CAST(pw AS BIGINT) AS wk,
           CAST(MAX(tp) AS BIGINT) AS n_prev,
           CAST(MAX(tc) AS BIGINT) AS n_cur,
           CAST(floor(5000.0 * SUM(abs(cur * tp - prev * tc))
                      / (MAX(tc) * MAX(tp)) + 0.5) AS BIGINT) AS tvd_bp
    FROM t WHERE tc > 0 AND tp > 0
    GROUP BY 1, 2
    """,
)
def drift_tvd_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift per event_type: total-variation distance (bp)
    between consecutive weeks' value histograms (10 fixed bins of 50).
    TVD = 0.5 * sum |p_i - q_i| stays in RATIONAL arithmetic — cross
    products |c_i*TQ - d_i*TP| are exact integers, one double division
    at the end — where PSI/KL would need ln() with no engine-parity
    guarantee.  Single-pass: each (type, week, bin) count feeds its own
    pair AND the next week's pair (contribution rows), so one agg + one
    window covers every consecutive-week comparison with no self-join.
    Plan: histogram agg Exchange, contribution fan-out x2 (bounded),
    window over |bins|-sized partitions, tiny final agg."""
    from mintpy_spark.operators.drift import consecutive_week_bins

    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    t = consecutive_week_bins(
        ev,
        F.least(
            F.greatest(F.floor(F.col("value") / 50).cast("long"), F.lit(0)),
            F.lit(9),
        ),
    )
    return t.groupBy("event_type", F.col("pw").alias("wk")).agg(
        F.max("tp").cast("long").alias("n_prev"),
        F.max("tc").cast("long").alias("n_cur"),
        F.floor(
            5000.0
            * F.sum(F.abs(F.col("cur") * F.col("tp") - F.col("prev") * F.col("tc")))
            / (F.max("tc") * F.max("tp"))
            + 0.5
        )
        .cast("long")
        .alias("tvd_bp"),
    )


@_q(
    "sessions_concurrent_peak",
    # the session CTE is sessionize_oracle_sql — the ONE portable session
    # formulation (boundary rule verified against session_window there);
    # composing over it means the exact-gap semantics can never fork
    f"""
    WITH base AS ({sessionize_oracle_sql()}
    ), iv AS (
      SELECT epoch_us(session_start) AS s, epoch_us(session_end) + 1 AS e
      FROM base
    ), seg AS (
      SELECT t.ed,
             greatest(iv.s, t.ed * 86400000000) AS lo,
             least(iv.e, (t.ed + 1) * 86400000000) AS hi
      FROM iv, unnest(range(iv.s // 86400000000,
                            (iv.e - 1) // 86400000000 + 1)) AS t(ed)
    ), sweep AS (
      SELECT ed, lo AS t, 1 AS d FROM seg
      UNION ALL
      SELECT ed, hi, -1 FROM seg
    ), run AS (
      SELECT ed,
             SUM(d) OVER (PARTITION BY ed ORDER BY t, d
                          ROWS UNBOUNDED PRECEDING) AS c
      FROM sweep
    )
    SELECT CAST(ed AS BIGINT) AS ed,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_segments,
           CAST(MAX(c) AS BIGINT) AS peak_concurrent
    FROM run GROUP BY 1
    """,
)
def sessions_concurrent_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent 30-minute-gap sessions per day — the sweep-line
    interval-overlap census (ClickHouse maxIntersections) over the
    engine's own sessionization.  Sessions crossing midnight are clipped
    into per-day segments; the sweep orders (+1/-1) points by (t, delta)
    so touching sessions never overlap.  Plan: session agg (one user
    Exchange), bounded day explode, ONE day-keyed window Exchange with
    partition-local sort, per-day max — no global ordering anywhere."""
    ev = load(spark, sf_dir, "events")
    s = sessionize(ev, key="user_id", ts="ts", value_col="value")
    return concurrent_peak_daily(s)


# =========================================================================
# from queries_r3ii.py
# =========================================================================

"""Round-3 batch ii: coverage sweep, bounce rate, and FK integrity.

- ``coverage_seconds_daily``: seconds of each day covered by >=1 active
  session — the classic interval-union sweep (boundary +1/-1 events,
  running concurrency, sum gaps while concurrency > 0), the uptime/SLA
  twin of sessions_concurrent_peak.
- ``session_bounce_daily``: share of single-event sessions per day,
  composed over the ONE portable session formulation
  (sessionize_oracle_sql) so gap semantics can never fork.
- ``fk_orphan_audit``: referential-integrity rates across the TPC-H-ish
  tables (lineitem->orders/part/supplier, orders->customer) — the
  data-quality gate a 10^12-row ingest runs before publishing a
  snapshot; each check is one anti-join count.
"""


@_q(
    "coverage_seconds_daily",
    f"""
    WITH base AS ({sessionize_oracle_sql()}
    ), iv AS (
      -- clip sessions to day bounds after splitting them across the days
      -- they span; +1us end so zero-length sessions still cover a point
      SELECT ed,
             GREATEST(epoch_us(session_start), ed * 86400000000) AS lo,
             LEAST(epoch_us(session_end) + 1, (ed + 1) * 86400000000) AS hi
      FROM base, LATERAL unnest(generate_series(
             epoch_us(session_start) // 86400000000,
             epoch_us(session_end) // 86400000000)) AS t(ed)
    ), pts AS (
      SELECT ed, lo AS t, 1 AS d FROM iv
      UNION ALL
      SELECT ed, hi AS t, -1 AS d FROM iv
    ), sweep AS (
      SELECT ed, t, d,
             SUM(d) OVER (PARTITION BY ed ORDER BY t, d DESC
                          ROWS UNBOUNDED PRECEDING) AS conc,
             lead(t) OVER (PARTITION BY ed ORDER BY t, d DESC) AS nxt
      FROM pts
    )
    SELECT ed, CAST(SUM(CASE WHEN conc > 0 THEN nxt - t ELSE 0 END)
                    AS BIGINT) AS covered_us,
           CAST(COUNT(DISTINCT CASE WHEN d = 1 THEN t END) AS BIGINT)
             AS n_starts
    FROM sweep GROUP BY 1
    """,
)
def coverage_seconds_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union sweep: microseconds of each epoch-day covered by at
    least one session (any user). Sessions are split across the days they
    span, endpoints become +1/-1 boundary events, and a running
    concurrency window sums the gaps where concurrency > 0 — one
    windowed pass, never an O(n^2) overlap join. Ties order arrivals
    before departures (d DESC) so touching intervals merge."""
    ev = load(spark, sf_dir, "events")
    s = sessionize(ev, key="user_id", ts="ts", gap="30 minutes")
    day = 86400000000
    iv = (
        s.select(
            F.unix_micros(F.col("session_start").cast("timestamp")).alias("s"),
            (F.unix_micros(F.col("session_end").cast("timestamp")) + 1).alias("e"),
        )
        .withColumn(
            "ed",
            F.explode(
                F.sequence(
                    F.expr(f"s div {day}"), F.expr(f"(e - 1) div {day}")
                )
            ),
        )
        .select(
            "ed",
            F.greatest(F.col("s"), F.col("ed") * day).alias("lo"),
            F.least(F.col("e"), (F.col("ed") + 1) * day).alias("hi"),
        )
    )
    pts = iv.select("ed", F.col("lo").alias("t"), F.lit(1).alias("d")).unionAll(
        iv.select("ed", F.col("hi").alias("t"), F.lit(-1).alias("d"))
    )
    w = Window.partitionBy("ed").orderBy(F.asc("t"), F.desc("d"))
    sweep = pts.select(
        "ed",
        "t",
        "d",
        F.sum("d").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("conc"),
        F.lead("t").over(w).alias("nxt"),
    )
    return sweep.groupBy("ed").agg(
        F.sum(
            F.when(F.col("conc") > 0, F.col("nxt") - F.col("t")).otherwise(0)
        ).cast("long").alias("covered_us"),
        F.countDistinct(F.when(F.col("d") == 1, F.col("t"))).alias("n_starts"),
    )


@_q(
    "session_bounce_daily",
    f"""
    WITH base AS ({sessionize_oracle_sql()}
    )
    SELECT date_diff('day', DATE '1970-01-01', CAST(session_start AS DATE)) AS ed,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounce
    FROM base GROUP BY 1
    """,
)
def session_bounce_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate inputs per day-of-session-start: single-event sessions
    vs total. Partials (count, bounce count) instead of the ratio — the
    division is the caller's, keeping the oracle hash integer-exact."""
    ev = load(spark, sf_dir, "events")
    s = sessionize(ev, key="user_id", ts="ts", gap="30 minutes")
    return s.select(
        F.datediff(F.to_date("session_start"), F.lit("1970-01-01")).alias("ed"),
        "n_events",
    ).groupBy("ed").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("long")).alias("n_bounce"),
    )


@_q(
    "fk_orphan_audit",
    """
    SELECT 'lineitem->orders' AS fk,
           (SELECT COUNT(*) FROM lineitem) AS n_rows,
           (SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS n_orphan
    UNION ALL
    SELECT 'lineitem->part',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem->supplier',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM supplier s
                               WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders->customer',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
    """,
)
def fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for each FK edge.

    ONE pass over each fact table: lineitem's three FK edges share a
    single key-pruned scan with three broadcast LEFT joins (a null dim
    key = an orphan), folded by one agg; orders->customer is the same
    one-pass shape. The per-edge anti-join form scanned lineitem six
    times — at 100 TB the fact scan IS the cost, so edges must share
    it. Dim keys are primary keys, so the left joins cannot fan out."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    ok = o.select(F.col("o_orderkey").alias("_ok"))
    pk = load(spark, sf_dir, "part").select(F.col("p_partkey").alias("_pk"))
    sk = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("_sk")
    )
    ck = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("_ck")
    )

    def _miss(col: str):
        return F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).cast("long")

    li_agg = (
        li.select("l_orderkey", "l_partkey", "l_suppkey")
        .join(F.broadcast(ok), F.col("l_orderkey") == F.col("_ok"), "left")
        .join(F.broadcast(pk), F.col("l_partkey") == F.col("_pk"), "left")
        .join(F.broadcast(sk), F.col("l_suppkey") == F.col("_sk"), "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _miss("_ok").alias("no_o"),
            _miss("_pk").alias("no_p"),
            _miss("_sk").alias("no_s"),
        )
    )
    o_agg = (
        o.select("o_custkey")
        .join(F.broadcast(ck), F.col("o_custkey") == F.col("_ck"), "left")
        .agg(F.count(F.lit(1)).alias("n"), _miss("_ck").alias("no_c"))
    )

    def _rows(agg, triples):
        return agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(fk).alias("fk"),
                            F.col("n").alias("n_rows"),
                            F.col(c).alias("n_orphan"),
                        )
                        for fk, c in triples
                    ]
                )
            ).alias("r")
        ).select("r.*")

    return _rows(
        li_agg,
        [
            ("lineitem->orders", "no_o"),
            ("lineitem->part", "no_p"),
            ("lineitem->supplier", "no_s"),
        ],
    ).unionAll(_rows(o_agg, [("orders->customer", "no_c")]))


# =========================================================================
# from queries_r3ll.py
# =========================================================================

"""Round-3 batch ll: attribution, mode, and streaks.

- ``attribution_last_touch``: revenue attribution — each purchase joins
  the user's latest prior-or-same-instant click (the as-of join again,
  but driving a money aggregation); DuckDB's native ASOF LEFT JOIN is
  the oracle for the union + last(ignorenulls) window implementation.
- ``value_mode_daily``: exact mode of the cents distribution per day
  (most frequent value, smallest on ties) — max_by over a struct with
  inverted tie keys, one integer agg chain.
- ``activity_streaks``: longest run of CONSECUTIVE active days per user
  (gaps-and-islands: island id = day - dense rank), the classic
  sequence analysis every engagement stack ships.
"""


@_q(
    "attribution_last_touch",
    """
    WITH clicks AS (
      SELECT user_id, ts FROM events
      WHERE event_type = 'click' AND user_id IS NOT NULL
    ), purchases AS (
      SELECT user_id, ts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
        AND value IS NOT NULL
    ), j AS (
      SELECT p.user_id, p.cents, c.ts AS click_ts
      FROM purchases p
      ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND c.ts <= p.ts
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN click_ts IS NOT NULL THEN cents ELSE 0 END)
                AS BIGINT) AS attributed_cents,
           CAST(SUM(CASE WHEN click_ts IS NULL THEN cents ELSE 0 END)
                AS BIGINT) AS organic_cents,
           CAST(SUM(CASE WHEN click_ts IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_attributed
    FROM j GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution per user: purchase cents split into
    click-attributed vs organic by whether a click precedes the purchase
    (<= ties attribute, matching ASOF semantics). Implementation: union
    the two streams, one last(ignorenulls) window per user — a single
    shuffle, no self-join; DuckDB's native ASOF LEFT JOIN verifies it."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(None).cast("long").alias("cents"),
        F.lit(1).alias("is_click"),
    )
    purchases = (
        ev.where(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .select(
            "user_id",
            "ts",
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
            F.lit(0).alias("is_click"),
        )
    )
    u = clicks.unionByName(purchases)
    # clicks sort BEFORE purchases at an equal timestamp (is_click DESC)
    # so a same-instant click attributes — the <= of the ASOF oracle
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.desc("is_click"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = u.withColumn(
        "click_ts",
        F.last(F.when(F.col("is_click") == 1, F.col("ts")), ignorenulls=True)
        .over(w),
    ).where(F.col("is_click") == 0)
    return tagged.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("click_ts").isNotNull(), F.col("cents")).otherwise(0)
        ).cast("long").alias("attributed_cents"),
        F.sum(
            F.when(F.col("click_ts").isNull(), F.col("cents")).otherwise(0)
        ).cast("long").alias("organic_cents"),
        F.sum(F.col("click_ts").isNotNull().cast("long")).cast("long").alias(
            "n_attributed"
        ),
    )


@_q(
    "value_mode_daily",
    """
    WITH c AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             COUNT(*) AS freq
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), r AS (
      SELECT ed, cents, freq,
             row_number() OVER (PARTITION BY ed
                                ORDER BY freq DESC, cents ASC) AS rn
      FROM c
    )
    SELECT ed, cents AS mode_cents, freq AS mode_freq FROM r WHERE rn = 1
    """,
)
def value_mode_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact daily mode of the cents distribution (smallest value wins a
    frequency tie — deterministic cross-engine). Spark side: max_by over
    (freq, -cents) struct — no second window, the argmax folds in the
    same agg Exchange."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("ed"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    ).agg(F.count(F.lit(1)).alias("freq"))
    best = c.groupBy("ed").agg(
        F.max_by(
            F.struct("cents", "freq"), F.struct(F.col("freq"), -F.col("cents"))
        ).alias("m")
    )
    return best.select(
        "ed", F.col("m.cents").alias("mode_cents"),
        F.col("m.freq").alias("mode_freq"),
    )


@_q(
    "activity_streaks",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed
      FROM events WHERE user_id IS NOT NULL
    ), isl AS (
      SELECT user_id, ed,
             ed - row_number() OVER (PARTITION BY user_id ORDER BY ed)
               AS island
      FROM ud
    ), runs AS (
      SELECT user_id, island, COUNT(*) AS len,
             MIN(ed) AS start_ed
      FROM isl GROUP BY 1, 2
    ), best AS (
      SELECT user_id, len, start_ed,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY len DESC, start_ed ASC) AS rn
      FROM runs
    )
    SELECT user_id, len AS longest_streak, start_ed AS streak_start_ed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM runs r2
             WHERE r2.user_id = best.user_id) AS n_streaks
    FROM best WHERE rn = 1
    """,
)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity run per user (gaps-and-islands:
    day minus in-order rank is constant within a run), earliest run wins
    a length tie. One distinct agg + one window + one island agg — all
    on the same user_id clustering, a single Exchange end-to-end."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    ud = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("ed"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("ed")
    isl = ud.withColumn("island", F.col("ed") - F.row_number().over(w))
    runs = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"), F.min("ed").alias("start_ed")
    )
    best = runs.groupBy("user_id").agg(
        F.max_by(
            F.struct("len", "start_ed"),
            F.struct(F.col("len"), -F.col("start_ed")),
        ).alias("m"),
        F.count(F.lit(1)).alias("n_streaks"),
    )
    return best.select(
        "user_id",
        F.col("m.len").alias("longest_streak"),
        F.col("m.start_ed").alias("streak_start_ed"),
        "n_streaks",
    )


# =========================================================================
# from queries_r3mm.py
# =========================================================================

"""Round-3 batch mm: retrieval, rank-shift drift, and mix impurity.

- ``index_search_topk``: conjunctive (AND) term search over the
  inverted index with integer tf ranking — the retrieval read path on
  top of index_postings_stats' build path.
- ``token_rank_shift_weekly``: heavy-hitter drift as RANK movement of
  the top tokens between consecutive weeks — catches churn in the head
  of the distribution that mass-based drift (TVD/KS) dilutes.
- ``user_type_mix_gini``: Gini impurity of each user's event-type mix,
  cross-multiplied to exact integers ((n^2 - sum c_t^2) in bp over
  n^2) — entropy would need ln(), which has no cross-engine parity
  guarantee; impurity is the rational-arithmetic twin.
"""


_TERMS = ("data", "merge")


@_q(
    "index_search_topk",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM tok WHERE term IN ('{_TERMS[0]}', '{_TERMS[1]}')
      GROUP BY 1, 2
    ), hits AS (
      SELECT doc_id,
             CAST(SUM(tf) AS BIGINT) AS score,
             COUNT(*) AS n_terms
      FROM tf GROUP BY 1 HAVING COUNT(*) = 2
    )
    SELECT doc_id, score, n_terms
    FROM hits ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def index_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive search: documents containing BOTH query terms, ranked
    by total term frequency (integer, doc_id tie-break). The term filter
    lands BEFORE the explode aggregate, so postings are built only for
    the query terms — the read-path plan, not an index rebuild."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).where(F.col("term").isin(*_TERMS))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    hits = (
        tf.groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("score"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .where(F.col("n_terms") == 2)
    )
    return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)


@_q(
    "token_rank_shift_weekly",
    """
    WITH tok AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk,
             event_type AS term, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT wk, term, n,
             row_number() OVER (PARTITION BY wk ORDER BY n DESC, term) AS rnk
      FROM tok
    )
    SELECT a.wk, a.term,
           a.rnk AS rank_now, b.rnk AS rank_prev,
           CAST(b.rnk - a.rnk AS BIGINT) AS shift
    FROM r a JOIN r b ON b.wk = a.wk - 1 AND b.term = a.term
    """,
)
def token_rank_shift_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-of-distribution drift: each term's frequency rank this week
    vs last (positive shift = climbing). Rank tables are |terms| rows
    per week — the self-join never touches raw volume."""
    ev = load(spark, sf_dir, "events")
    tok = ev.groupBy(
        F.expr("datediff(to_date(ts), DATE '1970-01-01') div 7").alias("wk"),
        F.col("event_type").alias("term"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("wk").orderBy(F.desc("n"), F.asc("term"))
    r = tok.withColumn("rnk", F.row_number().over(w))
    a, b = r.alias("a"), r.alias("b")
    return a.join(
        b,
        (F.col("b.wk") == F.col("a.wk") - 1) & (F.col("b.term") == F.col("a.term")),
    ).select(
        F.col("a.wk").alias("wk"),
        F.col("a.term").alias("term"),
        F.col("a.rnk").alias("rank_now"),
        F.col("b.rnk").alias("rank_prev"),
        (F.col("b.rnk") - F.col("a.rnk")).cast("long").alias("shift"),
    )


@_q(
    "user_type_mix_gini",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS ct
      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
    ), u AS (
      SELECT user_id,
             CAST(SUM(ct) AS BIGINT) AS n,
             CAST(SUM(ct * ct) AS BIGINT) AS ss,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM c GROUP BY 1
    )
    SELECT user_id, n, n_types,
           CAST((n * n - ss) * 10000 // (n * n) AS BIGINT) AS gini_bp
    FROM u
    """,
)
def user_type_mix_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity of the per-user event-type mix in basis points —
    pure integer arithmetic (1 - sum p^2 cross-multiplied by n^2): 0 =
    single-type user, ~8000 = uniform over 5 types. The rational twin of
    mix entropy (ln() is not cross-engine parity-safe)."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("ct")
    )
    u = c.groupBy("user_id").agg(
        F.sum("ct").cast("long").alias("n"),
        F.sum(F.col("ct") * F.col("ct")).cast("long").alias("ss"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    return u.select(
        "user_id",
        "n",
        "n_types",
        F.expr("CAST((n * n - ss) * 10000 div (n * n) AS BIGINT)").alias(
            "gini_bp"
        ),
    )


# =========================================================================
# from queries_r3oo.py
# =========================================================================

"""Round-3 batch oo: conversion latency + difference-in-differences.

- ``time_to_convert_quantiles``: exact p50/p90 of the click->purchase
  latency per day — the as-of machinery driving a latency distribution;
  percentile interpolation is cross-engine-identical on identical
  integer microsecond multisets.
- ``did_estimator``: difference-in-differences over the hash-split
  pre/post design — four cell (sum, users) integer partials, the
  estimator assembled in ONE fixed-order double expression.
"""


_SPLIT_ED = 19738  # shared with batch nn (mid-corpus boundary)


@_q(
    "time_to_convert_quantiles",
    """
    WITH clicks AS (
      SELECT user_id, ts FROM events
      WHERE event_type = 'click' AND user_id IS NOT NULL
    ), purchases AS (
      SELECT user_id, ts FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ), j AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(p.ts AS DATE)) AS ed,
             epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
      FROM purchases p
      ASOF JOIN clicks c ON p.user_id = c.user_id AND c.ts <= p.ts
    ), r AS (
      SELECT ed, delta_us,
             row_number() OVER (PARTITION BY ed ORDER BY delta_us) AS rn,
             COUNT(*) OVER (PARTITION BY ed) AS n
      FROM j
    )
    SELECT ed, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(CASE WHEN rn = (n - 1) * 5 // 10 + 1
                         THEN delta_us END) AS BIGINT) AS p50_us,
           CAST(MAX(CASE WHEN rn = (n - 1) * 9 // 10 + 1
                         THEN delta_us END) AS BIGINT) AS p90_us
    FROM r GROUP BY 1
    """,
)
def time_to_convert_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click->purchase latency distribution per purchase day (purchases
    with no prior click excluded — inner as-of): exact integer
    microsecond deltas and DISCRETE percentiles (value at index
    (n-1)*q div 10 + 1) — interpolated quantiles at 4e11-microsecond
    magnitudes have ulp > 1e-4, so quantile_cont cannot round-stabilize
    cross-engine; the discrete rule stays in int64 end to end."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(1).alias("is_click")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(0).alias("is_click")
    )
    u = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.desc("is_click"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = (
        u.withColumn(
            "click_ts",
            F.last(
                F.when(F.col("is_click") == 1, F.col("ts")), ignorenulls=True
            ).over(w),
        )
        .where((F.col("is_click") == 0) & F.col("click_ts").isNotNull())
        .select(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("ed"),
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("click_ts").cast("timestamp"))
            ).alias("delta_us"),
        )
    )
    wd = Window.partitionBy("ed")
    r = tagged.select(
        "ed",
        "delta_us",
        F.row_number().over(wd.orderBy("delta_us")).alias("rn"),
        F.count(F.lit(1)).over(wd).alias("n"),
    )
    idx50 = F.expr("(n - 1) * 5 div 10 + 1")
    idx90 = F.expr("(n - 1) * 9 div 10 + 1")
    return r.groupBy("ed").agg(
        F.max("n").cast("long").alias("n"),
        F.max(F.when(F.col("rn") == idx50, F.col("delta_us")))
        .cast("long").alias("p50_us"),
        F.max(F.when(F.col("rn") == idx90, F.col("delta_us")))
        .cast("long").alias("p90_us"),
    )


@_q(
    "did_estimator",
    f"""
    WITH t AS (
      SELECT ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
              )::BIGINT % 2 AS grp,
             CASE WHEN date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                       >= {_SPLIT_ED} THEN 1 ELSE 0 END AS period,
             user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
    ), cell AS (
      SELECT grp, period,
             CAST(SUM(cents) AS BIGINT) AS y,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n
      FROM t GROUP BY 1, 2
    ), wide AS (
      SELECT
        MAX(CASE WHEN grp = 1 AND period = 1 THEN y END) AS yt1,
        MAX(CASE WHEN grp = 1 AND period = 1 THEN n END) AS nt1,
        MAX(CASE WHEN grp = 1 AND period = 0 THEN y END) AS yt0,
        MAX(CASE WHEN grp = 1 AND period = 0 THEN n END) AS nt0,
        MAX(CASE WHEN grp = 0 AND period = 1 THEN y END) AS yc1,
        MAX(CASE WHEN grp = 0 AND period = 1 THEN n END) AS nc1,
        MAX(CASE WHEN grp = 0 AND period = 0 THEN y END) AS yc0,
        MAX(CASE WHEN grp = 0 AND period = 0 THEN n END) AS nc0
      FROM cell
    )
    SELECT yt1, nt1, yt0, nt0, yc1, nc1, yc0, nc0,
           ROUND((CAST(yt1 AS DOUBLE) / CAST(nt1 AS DOUBLE)
                  - CAST(yt0 AS DOUBLE) / CAST(nt0 AS DOUBLE))
                 - (CAST(yc1 AS DOUBLE) / CAST(nc1 AS DOUBLE)
                    - CAST(yc0 AS DOUBLE) / CAST(nc0 AS DOUBLE)), 6)
             AS did_cents
    FROM wide
    """,
)
def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on mean spend per active user across
    the hash split and the pre/post boundary: the four cells are integer
    (sum, distinct-user) partials; the estimator is one fixed-order
    double expression over them — every input to the division is exact,
    so the statistic is bit-identical cross-engine."""
    ev = load(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    t = ev.select(
        F.pmod(
            portable_hash60(F.col("user_id").cast("string")), F.lit(2)
        ).alias("grp"),
        (
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")) >= _SPLIT_ED
        ).cast("int").alias("period"),
        "user_id",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    cell = t.groupBy("grp", "period").agg(
        F.sum("cents").cast("long").alias("y"),
        F.countDistinct("user_id").cast("long").alias("n"),
    )

    def pick(g, p, c):
        return F.max(
            F.when((F.col("grp") == g) & (F.col("period") == p), F.col(c))
        )

    wide = cell.agg(
        pick(1, 1, "y").alias("yt1"), pick(1, 1, "n").alias("nt1"),
        pick(1, 0, "y").alias("yt0"), pick(1, 0, "n").alias("nt0"),
        pick(0, 1, "y").alias("yc1"), pick(0, 1, "n").alias("nc1"),
        pick(0, 0, "y").alias("yc0"), pick(0, 0, "n").alias("nc0"),
    )
    did = F.round(
        (
            F.col("yt1").cast("double") / F.col("nt1").cast("double")
            - F.col("yt0").cast("double") / F.col("nt0").cast("double")
        )
        - (
            F.col("yc1").cast("double") / F.col("nc1").cast("double")
            - F.col("yc0").cast("double") / F.col("nc0").cast("double")
        ),
        6,
    )
    return wide.select("*", did.alias("did_cents"))


# =========================================================================
# from queries_r3xx.py
# =========================================================================

"""Round-3 batch xx: behavioral sequence and value analytics.

* ``session_path_trigrams`` — the top event-type 3-step paths across
  30-minute-gap sessions: the sequence-mining read a product pipeline
  runs on clickstreams. Sessionization is the portable cumulative-sum
  form (gap flag summed over the user's time order) so both engines
  derive identical session ids without a session_window builtin.
* ``ltv_decay_user`` — exponentially decayed lifetime value per user
  (half-life 7 days). The decay weight 2^(-age/7) is decomposed as
  2^(-age DIV 7) * 2^(-(age%7)/7): the integer power is an EXACT
  division by (1 << q), the fractional power is one of seven literal
  double constants inlined identically on both engines — no libm pow
  anywhere, so per-event micro-cents quantize identically and sum
  exactly.
* ``basket_brand_pairs`` — market-basket affinity at brand level: top
  co-occurring brand pairs per order with integer-exact support counts
  and a rounded-bp lift. The pair join runs on the DISTINCT
  (order, brand) table — bounded at 25 brands, so the per-order
  fan-out is =< C(25,2), never line-item quadratic.
"""


_GAP_MIN = 30
_HL = 7
# 2^(-r/7) for r = 0..6 — identical literals on both engines.
_FRAC = (
    "1.0",
    "0.9057236642639067",
    "0.820335356007638",
    "0.7429971445684742",
    "0.6729500963161781",
    "0.6095068271022377",
    "0.5520447568369062",
)
_FRAC_CASE_SQL = "CASE (age % 7) " + " ".join(
    f"WHEN {r} THEN {v}::DOUBLE" for r, v in enumerate(_FRAC)
) + " END"


@_q(
    "session_path_trigrams",
    f"""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       > {_GAP_MIN} * 60 * 1000000
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events WHERE user_id IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM e
    ), tri AS (
      SELECT event_type || '>' ||
             lead(event_type, 1) OVER v || '>' ||
             lead(event_type, 2) OVER v AS path,
             lead(event_type, 2) OVER v AS e3
      FROM s
      WINDOW v AS (PARTITION BY user_id, sid ORDER BY ts, event_id)
    ), c AS (
      SELECT path, COUNT(*) AS cnt FROM tri WHERE e3 IS NOT NULL
      GROUP BY 1
    )
    SELECT CAST(row_number() OVER (ORDER BY cnt DESC, path) AS BIGINT)
             AS rnk,
           path, CAST(cnt AS BIGINT) AS cnt
    FROM c
    QUALIFY rnk <= 10
    """,
)
def session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 within-session event-type trigram paths. One shuffle on
    user_id serves BOTH windows (gap flag + session cumsum + the two
    leads all share the user clustering); the path count is map-side
    combined and the final top-10 is a TakeOrdered over the path
    aggregate. Ties break on the path string."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    new_s = F.when(
        F.lag(us).over(wu).isNull()
        | (us - F.lag(us).over(wu) > _GAP_MIN * 60 * 1000000),
        1,
    ).otherwise(0)
    s = ev.select("user_id", "ts", "event_id", "event_type").withColumn(
        "sid",
        F.sum(new_s).over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    wv = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    tri = s.select(
        F.concat_ws(
            ">",
            "event_type",
            F.lead("event_type", 1).over(wv),
            F.lead("event_type", 2).over(wv),
        ).alias("path"),
        F.lead("event_type", 2).over(wv).alias("e3"),
    ).where(F.col("e3").isNotNull())
    c = tri.groupBy("path").agg(F.count(F.lit(1)).alias("cnt"))
    top = c.orderBy(F.desc("cnt"), F.asc("path")).limit(10)
    wr = Window.orderBy(F.desc("cnt"), F.asc("path"))
    return top.select(
        F.row_number().over(wr).cast("long").alias("rnk"),
        "path",
        F.col("cnt").cast("long").alias("cnt"),
    )


@_q(
    "ltv_decay_user",
    f"""
    WITH mx AS (
      SELECT MAX(CAST(ts AS DATE)) AS mday FROM events
      WHERE value IS NOT NULL
    ), e AS (
      SELECT user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             date_diff('day', CAST(ts AS DATE), mx.mday) AS age
      FROM events, mx
      WHERE value IS NOT NULL AND user_id IS NOT NULL
        AND event_type = 'purchase'
    ), wts AS (
      SELECT user_id, cents,
             ({_FRAC_CASE_SQL})
               / CAST(1 << LEAST(age // 7, 62) AS DOUBLE) AS w
      FROM e
    )
    SELECT user_id,
           COUNT(*) AS n_purchases,
           CAST(SUM(cents) AS BIGINT) AS raw_cents,
           CAST(SUM(CAST(floor(cents * w * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS decayed_micro
    FROM wts GROUP BY 1
    """,
)
def ltv_decay_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decayed LTV per user: purchase cents weighted by 2^(-age_days/7)
    against the corpus max day. Weight = literal-fraction x exact
    power-of-two division (no libm pow), each event quantized to
    micro-cents BEFORE the per-user sum — exact under any partitioning.
    The max-day scalar is a 1-row broadcast; one scan, one user agg."""
    ev = load(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & (F.col("event_type") == "purchase")
    )
    mx = ev.agg(F.max(F.to_date("ts")).alias("mday"))
    e = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        F.datediff("mday", F.to_date("ts")).alias("age"),
    )
    frac = F.element_at(
        F.array(*[F.lit(float(v)) for v in _FRAC]), F.pmod(F.col("age"), 7) + 1
    )
    w = frac / F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT),"
        " CAST(LEAST(age DIV 7, 62) AS INT)) AS DOUBLE)"
    )
    wts = e.select("user_id", "cents", w.alias("w"))
    dm = F.floor(F.col("cents") * F.col("w") * 1000000.0 + 0.5).cast("long")
    return wts.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("cents").cast("long").alias("raw_cents"),
        F.sum(dm).cast("long").alias("decayed_micro"),
    )


@_q(
    "basket_brand_pairs",
    """
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), m AS (
      SELECT p_brand, COUNT(*) AS n FROM ob GROUP BY 1
    ), t AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob
    ), pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             COUNT(*) AS support
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    ), scored AS (
      SELECT pairs.brand_a, pairs.brand_b,
             CAST(pairs.support AS BIGINT) AS support,
             CAST((20000 * pairs.support * t.n_orders
                   + ma.n * mb.n) // (2 * ma.n * mb.n) AS BIGINT)
               AS lift_bp,
             row_number() OVER (
               ORDER BY (20000 * pairs.support * t.n_orders + ma.n * mb.n)
                        // (2 * ma.n * mb.n) DESC,
                        pairs.brand_a, pairs.brand_b) AS rnk
      FROM pairs
      JOIN m ma ON pairs.brand_a = ma.p_brand
      JOIN m mb ON pairs.brand_b = mb.p_brand
      CROSS JOIN t
      WHERE pairs.support >= 5
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, brand_a, brand_b, support, lift_bp
    FROM scored WHERE rnk <= 10
    """,
)
def basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket brand affinity: top-10 brand pairs by lift =
    P(a,b)/(P(a)P(b)), computed as the exact rounded integer division
    (support * n_orders) / (n_a * n_b) in bp. The self-join runs on the
    DISTINCT (order, brand) table — =< 25 rows per order regardless of
    line items, so the pair fan-out is bounded C(25,2) per order and the
    join shuffles once on orderkey. Minimum support 5 keeps noise pairs
    out of the ranking; ranking ties break on the brand pair."""
    from mintpy_spark.plans.cache import persist_slot

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # one-slot persist: four consumers (marginals, total, both join
    # sides) must not each re-scan lineitem — the audited plan showed 5
    # fact scans without it
    ob = persist_slot(
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct(),
        _OB_SLOT,
    )
    m = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n"))
    t = ob.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    a = ob.select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand_a"))
    b = ob.select(F.col("l_orderkey").alias("ok2"), F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("brand_a") < F.col("brand_b")))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 5)
    )
    ma = m.select(F.col("p_brand").alias("brand_a"), F.col("n").alias("na"))
    mb = m.select(F.col("p_brand").alias("brand_b"), F.col("n").alias("nb"))
    scored = (
        pairs.join(F.broadcast(ma), "brand_a")
        .join(F.broadcast(mb), "brand_b")
        .crossJoin(F.broadcast(t))
        .withColumn(
            "lift_bp",
            F.expr(
                "(20000 * support * n_orders + na * nb) DIV (2 * na * nb)"
            ).cast("long"),
        )
    )
    wr = Window.orderBy(F.desc("lift_bp"), F.asc("brand_a"), F.asc("brand_b"))
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= 10)
        .select(
            F.col("rnk").cast("long").alias("rnk"),
            "brand_a", "brand_b",
            F.col("support").cast("long").alias("support"),
            "lift_bp",
        )
    )


_OB_SLOT: list = []


# =========================================================================
# from queries_r3an.py
# =========================================================================

"""Round-3 batch an: sequence-pattern census — MATCH_RECOGNIZE-lite over
per-day event sequences (the complex-event-processing counterpart of the
fixed funnel: an arbitrary regex over the ordered event-type string).
"""


_PATTERN = "c.*p"  # a click followed (eventually) by a purchase


@_q(
    "event_pattern_census",
    f"""
    WITH seqs AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           COUNT(*) AS days_active,
           CAST(SUM(CASE WHEN regexp_matches(seq, '{_PATTERN}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS days_matched,
           ROUND(CAST(SUM(CASE WHEN regexp_matches(seq, '{_PATTERN}')
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4)
             AS match_share
    FROM seqs GROUP BY user_id
    """,
)
def event_pattern_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key census of days whose ordered event-type sequence matches a
    regex (click ... purchase): each day's sequence string is built
    ROW-GROUP-LOCALLY from a sorted struct array (collect_list ->
    array_sort on (ts, event_id) -> concat), bounded by the day's own
    event volume — the same state bound as sessionization; the per-key
    census is a map-combined re-aggregation. Regex semantics are
    partial-match on both engines (rlike / regexp_matches)."""
    ev = load(spark, sf_dir, "events")
    seqs = (
        ev.groupBy(
            "user_id", bucket_start(F.col("ts"), "1d").alias("day")
        )
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("ts").alias("t"),
                                F.col("event_id").alias("i"),
                                F.substring("event_type", 1, 1).alias("ch"),
                            )
                        )
                    ),
                    lambda s: s["ch"],
                ),
            ).alias("seq")
        )
    )
    hit = F.when(F.col("seq").rlike(_PATTERN), F.lit(1)).otherwise(F.lit(0))
    out = seqs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("days_active"),
        F.sum(hit).cast("long").alias("days_matched"),
    )
    return out.select(
        "user_id",
        "days_active",
        "days_matched",
        F.round(
            F.col("days_matched").cast("double") / F.col("days_active"), 4
        ).alias("match_share"),
    )


# =========================================================================
# from queries_r3j.py
# =========================================================================

"""Round-3 additions, batch j: keyless interval-containment join
(bucket-snapped range join, the asc_desc2horz_vert grid technique in the
time domain) and deterministic per-source quota sampling."""


_IVJ_GAP = "6 hours"
_IVJ_GAP_S = 6 * 3600


@_q(
    "interval_join_session_errors",
    f"""
    WITH s AS ({sessionize_oracle_sql(
        table="(SELECT * FROM events WHERE user_id < 5) sub",
        gap_seconds=_IVJ_GAP_S,
    )})
    SELECT s.user_id, s.session_start, s.session_end,
           CAST(COUNT(p.event_id) AS BIGINT) AS n_errors
    FROM s LEFT JOIN events p
      ON p.event_type = 'error'
     AND p.ts >= s.session_start AND p.ts <= s.session_end
    GROUP BY s.user_id, s.session_start, s.session_end
    """,
)
def interval_join_session_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless interval-containment join: for each tracked user's
    session window, count ERROR events from the WHOLE event stream
    (any user) inside the window — the "correlate my sessions with
    global incidents" query. No shared key between sides, so the naive
    plan is a cartesian BroadcastNestedLoopJoin; the engine snaps both
    sides to hour buckets and hash-joins on the bucket
    (operators/intervaljoin.interval_point_counts), exactly the
    reference's overlap-grid equi-join recast
    (asc_desc2horz_vert.py:15)."""
    from mintpy_spark.operators.intervaljoin import interval_point_counts

    ev = load(spark, sf_dir, "events")
    sessions = sessionize(ev.where(F.col("user_id") < 5), gap=_IVJ_GAP)
    errors = ev.where(F.col("event_type") == "error").select("ts", "event_id")
    counts = interval_point_counts(
        sessions.select("user_id", "session_start", "session_end"),
        errors,
        bucket_seconds=3600,
        keys=("user_id",),
    )
    return counts.select(
        "user_id", "session_start", "session_end",
        F.col("n_inside").alias("n_errors"),
    )


@_q(
    "sample_source_quota",
    """
    WITH h AS (
      SELECT source, doc_id,
             ('0x' || substring(md5(doc_id::VARCHAR || ':quota'), 1, 15))
               ::BIGINT AS _h
      FROM documents),
    r AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY _h, doc_id)
               AS rk
      FROM h)
    SELECT source, doc_id, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 10
    """,
)
def sample_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source quota sample (at most 10 docs per
    source, hash-ranked): the source-mixing cap of a corpus recipe.
    Membership is stable under re-runs/re-partitioning and independent
    of the stratified split's salt
    (operators/sampling.quota_sample)."""
    from mintpy_spark.operators.sampling import quota_sample

    docs = load(spark, sf_dir, "documents")
    return quota_sample(docs, key="source", id_col="doc_id", k=10)


# =========================================================================
# from queries_r3l.py
# =========================================================================

"""Round-3 additions, batch l: quality-aware dedup representative
selection — the final decision of a fuzzy-dedup pipeline (which document
of each near-dup cluster survives into the training shard), composing
the transitive-component clustering with the Gopher quality flags."""


_KEEP_THRESHOLD = 0.875
_KEEP_ITER = 4


@_q(
    "dedup_keeper_best_quality",
    f"""
    WITH comp AS MATERIALIZED ({D.components_oracle_sql(
        f"SELECT doc_a, doc_b FROM ({D.minhash_oracle_sql(threshold=_KEEP_THRESHOLD)})",
        iterations=_KEEP_ITER,
    )}),
    flags AS MATERIALIZED ({C.gopher_flags_oracle_sql()}),
    j AS (
      SELECT comp.component, comp.doc_id, flags.pass_all, flags.n_words,
             ROW_NUMBER() OVER (
               PARTITION BY comp.component
               ORDER BY flags.pass_all DESC, flags.n_words DESC,
                        comp.doc_id ASC) AS rk,
             COUNT(*) OVER (PARTITION BY comp.component) AS n_members
      FROM comp JOIN flags USING (doc_id))
    SELECT component,
           CAST(n_members AS BIGINT) AS n_members,
           doc_id AS keeper,
           CAST(pass_all AS INT) AS keeper_pass_all,
           CAST(n_words AS INT)  AS keeper_n_words
    FROM j WHERE rk = 1
    """,
)
def dedup_keeper_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware representative per near-dup cluster: transitive
    MinHash components (dedup_components, 4 unrolled label-propagation
    rounds) joined with the Gopher rule flags; the keeper is the member
    ranked by (pass_all DESC, n_words DESC, doc_id ASC) — "keep the
    highest-quality, then longest, then first" — the decision a fuzzy
    dedup pipeline actually ships, instead of min-id. Integer-only
    ranking keys, so the argmax is engine- and partitioning-exact.
    Plan: component table (tiny, checkpoint-truncated lineage) joins the
    zero-shuffle flags scan; one window on the component key."""
    d = load(spark, sf_dir, "documents")
    pairs = D.minhash_near_dups(d, threshold=_KEEP_THRESHOLD).select(
        "doc_a", "doc_b"
    )
    comp = D.dedup_components(d, pairs, iterations=_KEEP_ITER)
    flags = C.gopher_flags(d).select("doc_id", "pass_all", "n_words")
    j = comp.join(flags, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.desc("pass_all"), F.desc("n_words"), F.asc("doc_id")
    )
    ranked = j.withColumn("rk", F.row_number().over(w)).withColumn(
        "n_members", F.count(F.lit(1)).over(Window.partitionBy("component"))
    )
    return ranked.where(F.col("rk") == 1).select(
        "component",
        F.col("n_members").cast("long").alias("n_members"),
        F.col("doc_id").alias("keeper"),
        F.col("pass_all").cast("int").alias("keeper_pass_all"),
        F.col("n_words").cast("int").alias("keeper_n_words"),
    )


# =========================================================================
# from queries_r3r.py
# =========================================================================

"""Round-3 additions, batch r: tier restatement diff (snapshot
time-travel audit), embedding label silhouette (clustering quality from
integer geometry), and time-weighted median (the duration-weighted
continuous-aggregate statistic).

The restatement diff is the audit a continuous-aggregate store runs
after folding late data: which tier buckets changed between the
pre-cutoff snapshot and now, and by how much (pairs with
tier_merge_late / out_of_order_profile; reference analog is the
update-mode recompute decision in the smallbaselineApp driver). The
silhouette is the standard clustering-quality diagnostic for the
embedding table; the time-weighted median extends time_weighted_avg to
the order statistic TimescaleDB-style gauges report.
"""


@_q(
    "tier_snapshot_diff",
    """
    WITH bounds AS (
      SELECT epoch_us(MIN(ts)) AS lo, epoch_us(MAX(ts)) AS hi FROM events
      WHERE value IS NOT NULL
    ), cutoff AS (
      SELECT CAST(lo + floor((hi - lo) * 9.0 / 10.0) AS BIGINT) AS cut
      FROM bounds
    ), old AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events, cutoff
      WHERE value IS NOT NULL AND epoch_us(ts) <= cutoff.cut
      GROUP BY 1, 2
    ), new AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events
      WHERE value IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT new.day,
           CAST(SUM(CASE WHEN old.user_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS buckets_new,
           CAST(SUM(CASE WHEN old.user_id IS NOT NULL
                         AND (old.cnt <> new.cnt OR old.cents <> new.cents)
                         THEN 1 ELSE 0 END) AS BIGINT) AS buckets_changed,
           CAST(SUM(CASE WHEN old.user_id IS NOT NULL
                         AND old.cnt = new.cnt AND old.cents = new.cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS buckets_unchanged,
           CAST(SUM(new.cnt - COALESCE(old.cnt, 0)) AS BIGINT) AS add_cnt,
           CAST(SUM(new.cents - COALESCE(old.cents, 0)) AS BIGINT)
             AS add_cents
    FROM new LEFT JOIN old USING (user_id, day)
    GROUP BY new.day
    """,
)
def tier_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restatement audit between two tier snapshots: the 1d rollup built
    from events at a cutoff (the last decile boundary of the observed
    time range) vs the rollup over everything — per day, how many
    buckets are new / changed / unchanged and the total count and
    integer-cents deltas. This is the report a continuous-aggregate
    store emits after folding late arrivals (TableStore versions give
    the same diff from STORED snapshots; this query is the from-raw
    oracle form). No bucket ever shrinks (append-only input), so a LEFT
    join from the new snapshot is exact.

    The cutoff derives from integer epoch-µs bounds of the SAME
    NULL-filtered observation set that feeds the tiers (both engines
    filter before the bounds agg, so a NULL-value straggler cannot move
    the cutoff on one side only) with one identical float expression per
    engine (floor((hi-lo)*9.0/10.0)); all compared quantities are
    BIGINTs. Plan: two pruned scans aggregated with
    map-side partials, a partial-sized join on (user, day), one tiny
    day-level agg; the 1-row cutoff table broadcasts."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = ev.agg(
        F.min(us).alias("lo"), F.max(us).alias("hi")
    ).select(
        (
            F.col("lo")
            + F.floor((F.col("hi") - F.col("lo")) * 9.0 / 10.0)
        )
        .cast("long")
        .alias("cut")
    )

    def tier(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "user_id", bucket_start(F.col("ts"), "1d").alias("day")
        ).agg(
            F.count("*").alias("cnt"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .alias("cents"),
        )

    old = tier(
        ev.crossJoin(F.broadcast(bounds)).where(us <= F.col("cut"))
    ).select(
        "user_id", "day", F.col("cnt").alias("ocnt"), F.col("cents").alias("ocents")
    )
    new = tier(ev)
    j = new.join(old, ["user_id", "day"], "left")
    changed = F.col("ocnt").isNotNull() & (
        (F.col("ocnt") != F.col("cnt")) | (F.col("ocents") != F.col("cents"))
    )
    unchanged = F.col("ocnt").isNotNull() & (
        (F.col("ocnt") == F.col("cnt")) & (F.col("ocents") == F.col("cents"))
    )
    return j.groupBy("day").agg(
        F.sum(F.when(F.col("ocnt").isNull(), 1).otherwise(0)).alias(
            "buckets_new"
        ),
        F.sum(F.when(changed, 1).otherwise(0)).alias("buckets_changed"),
        F.sum(F.when(unchanged, 1).otherwise(0)).alias("buckets_unchanged"),
        F.sum(F.col("cnt") - F.coalesce(F.col("ocnt"), F.lit(0))).alias(
            "add_cnt"
        ),
        F.sum(F.col("cents") - F.coalesce(F.col("ocents"), F.lit(0))).alias(
            "add_cents"
        ),
    )


@_q(
    "embedding_label_silhouette",
    """
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 128.0 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ), comp AS (
      SELECT label, pos, CAST(SUM(s) AS BIGINT) AS s
      FROM (SELECT label, unnest(qv) AS s,
                   generate_subscripts(qv, 1) AS pos
            FROM q)
      GROUP BY label, pos
    ), cent AS (
      SELECT label, list(s ORDER BY pos) AS cv,
             CAST(SUM(s * s) AS BIGINT) AS qn
      FROM comp GROUP BY label
    ), scored AS (
      SELECT q.vec_id, q.label AS vlabel, cent.label AS clabel,
             CAST(floor(
               CAST(list_sum(list_transform(list_zip(q.qv, cent.cv),
                    z -> z[1] * z[2])) AS DOUBLE)
               / sqrt(CAST(list_sum(list_transform(q.qv, x -> x * x))
                           AS DOUBLE) * CAST(cent.qn AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT) AS cos_q
      FROM q, cent
      WHERE cent.qn > 0
        AND list_sum(list_transform(q.qv, x -> x * x)) > 0
    ), per_vec AS (
      SELECT vec_id, vlabel,
             MAX(CASE WHEN clabel = vlabel THEN cos_q END) AS own_q,
             MAX(CASE WHEN clabel <> vlabel THEN cos_q END) AS other_q
      FROM scored GROUP BY vec_id, vlabel
    )
    SELECT vlabel AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(own_q) AS BIGINT) AS own_cos_q_sum,
           CAST(SUM(other_q) AS BIGINT) AS other_cos_q_sum,
           CAST(SUM(own_q - other_q) AS BIGINT) AS separation_q_sum
    FROM per_vec GROUP BY vlabel
    """,
)
def embedding_label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-silhouette clustering diagnostic per label: each vector's
    cosine to its own label centroid vs its best cosine to any OTHER
    label centroid, summed per label (micro-quantized so the sums are
    exact integers). The standard 'are the labels actually clusters'
    check run before trusting embedding labels for dedup or sampling.

    Integer geometry end-to-end: vectors scalar-quantize (x128), label
    centroids are INTEGER component sums (cosine is scale-invariant, so
    the un-divided sum vector IS the centroid), and every dot/norm is an
    exact BIGINT; the single float step (qdot / sqrt(qnv x qnS), norms
    multiplied as doubles to stay overflow-safe at corpus scale) is one
    identical IEEE expression per engine, micro-quantized to 1e-6 before
    the per-label sums. Zero vectors and empty centroids are excluded.

    Plan: one posexplode agg builds the 10-row centroid table (64 x N
    partials with map-side combine), which then broadcasts across one
    vector scan — label-count-sized fan-out, no vector-vector pairs."""
    e = load(spark, sf_dir, "embeddings")
    qz = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 128.0 + F.lit(0.5)).cast("long"),
    )
    q = e.select("vec_id", "label", qz.alias("qv"))
    comp = (
        q.select("label", F.posexplode("qv").alias("pos", "s"))
        .groupBy("label", "pos")
        .agg(F.sum("s").alias("s"))
    )
    cent = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda x: x.s
        ).alias("cv"),
        F.sum(F.col("s") * F.col("s")).alias("qn"),
    )
    isum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    qnv = isum(F.transform(F.col("qv"), lambda x: x * x))
    qdot = isum(F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: a * b))
    cos_q = F.floor(
        qdot.cast("double")
        / F.sqrt(qnv.cast("double") * F.col("qn").cast("double"))
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    scored = (
        q.withColumn("qnv", qnv)
        .where(F.col("qnv") > 0)
        .crossJoin(
            F.broadcast(
                cent.where(F.col("qn") > 0).select(
                    F.col("label").alias("clabel"), "cv", "qn"
                )
            )
        )
        .select(
            "vec_id",
            F.col("label").alias("vlabel"),
            "clabel",
            cos_q.alias("cos_q"),
        )
    )
    per_vec = scored.groupBy("vec_id", "vlabel").agg(
        F.max(
            F.when(F.col("clabel") == F.col("vlabel"), F.col("cos_q"))
        ).alias("own_q"),
        F.max(
            F.when(F.col("clabel") != F.col("vlabel"), F.col("cos_q"))
        ).alias("other_q"),
    )
    return per_vec.groupBy(F.col("vlabel").alias("label")).agg(
        F.count("*").alias("n_vecs"),
        F.sum("own_q").alias("own_cos_q_sum"),
        F.sum("other_q").alias("other_cos_q_sum"),
        F.sum(F.col("own_q") - F.col("other_q")).alias("separation_q_sum"),
    )


@_q(
    "time_weighted_median",
    """
    WITH w AS (
      SELECT event_type, value,
             epoch_us(lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id))
             - epoch_us(ts) AS w_us
      FROM events WHERE value IS NOT NULL
    ), c AS (
      SELECT event_type, value, w_us,
             SUM(w_us) OVER (PARTITION BY event_type ORDER BY value)
               AS cumw,
             SUM(w_us) OVER (PARTITION BY event_type) AS totw
      FROM w WHERE w_us IS NOT NULL AND w_us > 0
    )
    SELECT event_type,
           MIN(CASE WHEN 2 * cumw >= totw THEN value END) AS tw_median,
           CAST(MAX(totw) AS BIGINT) AS total_w_us,
           CAST(COUNT(*) AS BIGINT) AS n_segments
    FROM c GROUP BY event_type
    """,
)
def time_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted median per event type: each observation is
    weighted by how long it remained the user's latest value (µs until
    the user's next event), and the median is the smallest value v with
    cumulative weight(<= v) covering half the total — the order-statistic
    companion of time_weighted_avg (TimescaleDB time_weight gauge
    family). Integer µs weights; the cumulative window uses the default
    RANGE frame so tied values share one cumulative sum and the result
    is independent of intra-tie order in both engines. Zero-duration
    segments (same-µs events) and each user's final observation carry no
    weight and are dropped in both spellings.

    Plan: one scan; the lead() window shuffles on user_id, the
    cumulative window re-clusters by event_type (row-level — at corpus
    scale this op downgrades to the histogram-sketch tier,
    operators/rollup.histogram_tier); final agg is tiny."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = ev.select(
        "event_type",
        "value",
        (F.lead(us, 1).over(wu) - us).alias("w_us"),
    ).where(F.col("w_us").isNotNull() & (F.col("w_us") > 0))
    wt = Window.partitionBy("event_type")
    wc = Window.partitionBy("event_type").orderBy("value")
    c = w.select(
        "event_type",
        "value",
        F.sum("w_us").over(wc).alias("cumw"),
        F.sum("w_us").over(wt).alias("totw"),
    )
    return c.groupBy("event_type").agg(
        F.min(
            F.when(2 * F.col("cumw") >= F.col("totw"), F.col("value"))
        ).alias("tw_median"),
        F.max("totw").alias("total_w_us"),
        F.count("*").alias("n_segments"),
    )


# =========================================================================
# from queries_r3ab.py
# =========================================================================

"""Round-3 batch aaa: corpus novelty, classifier confusion, and order
fulfillment latency.

* ``shingle_novelty_share`` — per-doc share of 3-word shingles that
  occur in NO other document: the inverse-dedup signal (novel content
  worth keeping vs corpus-wide boilerplate). df counts run on the
  DISTINCT (doc, shingle) posting list.
* ``langid_confusion_matrix`` — the trigram language classifier
  (functions/langid.py) evaluated against the labeled ``lang`` column:
  per (label, guess) counts + within-label share. The eval harness a
  pipeline runs before trusting a filter model.
* ``olap_ship_latency_quantiles`` — DISCRETE p50/p90/p99 of
  order-to-ship latency days per order priority (value-at-rank, the
  repo's interpolation-free percentile idiom — integer days, no ulp).
"""


_TOKS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


@_q(
    "shingle_novelty_share",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS sh
      FROM t, unnest(range(1, len(toks) - 1)) AS r(i)
      WHERE len(toks) >= 3
    ), df AS (
      SELECT sh, COUNT(*) AS df FROM sh GROUP BY 1
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST((20000 * SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)
                 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS novel_bp
    FROM sh s JOIN df ON s.sh = df.sh
    GROUP BY 1
    """,
)
def shingle_novelty_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty: distinct 3-shingles seen nowhere else, as count
    and rounded bp share. One row-local shingle build (operators/drift.
    shingle_set — the arrays never re-split text per element), one
    distinct posting explode, and the df table joins back on the
    shingle key (vocabulary-sized, Zipf-hot boilerplate shingles are
    agg-side partials). A doc of pure boilerplate scores 0."""
    from mintpy_spark.operators.drift import shingle_set

    d = load(spark, sf_dir, "documents")
    sh = (
        d.select("doc_id", F.explode(shingle_set(F.col("text"), 3)).alias("sh"))
        .distinct()
    )
    df = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    j = sh.join(df, "sh")
    novel = F.when(F.col("df") == 1, 1).otherwise(0)
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum(novel).cast("long").alias("n_novel"),
        F.expr(
            "(20000 * SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) + COUNT(*))"
            " DIV (2 * COUNT(*))"
        )
        .cast("long")
        .alias("novel_bp"),
    )


@_q(
    "langid_confusion_matrix",
    f"""
    WITH cls AS ({classify_oracle_sql()}),
    lab AS (
      SELECT d.lang AS label, cls.guess
      FROM documents d JOIN cls ON d.doc_id = cls.doc_id
    ), tot AS (
      SELECT label, COUNT(*) AS n FROM lab GROUP BY 1
    )
    SELECT lab.label, lab.guess,
           COUNT(*) AS cnt,
           CAST((20000 * COUNT(*) + tot.n) // (2 * tot.n) AS BIGINT)
             AS share_bp
    FROM lab JOIN tot ON lab.label = tot.label
    GROUP BY 1, 2, tot.n
    """,
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the trigram language classifier against the
    labeled lang column: per (label, guess) count and within-label
    share (rounded integer bp). The diagonal is classifier recall per
    language; off-diagonal mass tells a curation pipeline which language
    pairs need stronger profiles before langid gates ingestion. One
    classify pass (broadcast profile join) + two tiny aggs."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    cls = classify(d)
    lab = d.select("doc_id", F.col("lang").alias("label")).join(
        cls.select("doc_id", "guess"), "doc_id"
    )
    # per-label totals come from the GROUPED matrix via a window (the
    # matrix is ~|langs|^2 rows), not a second aggregation of lab —
    # which would re-execute the whole classify pass (6 scans -> 3).
    g = lab.groupBy("label", "guess").agg(F.count(F.lit(1)).alias("cnt"))
    n = F.sum("cnt").over(Window.partitionBy("label"))
    return g.withColumn("n", n).select(
        "label", "guess", "cnt",
        F.expr("(20000 * cnt + n) DIV (2 * n)").cast("long").alias("share_bp"),
    )


@_q(
    "langid_top_confusions",
    f"""
    WITH cls AS ({classify_oracle_sql()}),
    lab AS (
      SELECT d.lang AS label, cls.guess
      FROM documents d JOIN cls ON d.doc_id = cls.doc_id
    ), m AS (
      SELECT label, guess, COUNT(*) AS cnt,
             SUM(COUNT(*)) OVER (PARTITION BY label) AS n
      FROM lab GROUP BY 1, 2
    ), off AS (
      SELECT label, guess, cnt,
             CAST((20000 * cnt + n) // (2 * n) AS BIGINT) AS share_bp,
             row_number() OVER (ORDER BY cnt DESC, label, guess) AS rank
      FROM m WHERE label <> guess
    )
    SELECT CAST(rank AS BIGINT) AS rank, label, guess, cnt, share_bp
    FROM off WHERE rank <= 3
    """,
)
def langid_top_confusions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most-confused language pairs (off-diagonal confusion mass,
    ties broken by label then guess): the round-over-round regression
    tripwire for the trigram profiles — if a profile edit degrades e.g.
    es-vs-pt separation, the pair climbs this list and the driver hash
    moves. Same one-classify-pass plan as langid_confusion_matrix plus a
    row_number over the ~|langs|^2 off-diagonal matrix (driver-sized)."""
    d = load(spark, sf_dir, "documents")
    cls = classify(d)
    lab = d.select("doc_id", F.col("lang").alias("label")).join(
        cls.select("doc_id", "guess"), "doc_id"
    )
    g = lab.groupBy("label", "guess").agg(F.count(F.lit(1)).alias("cnt"))
    n = F.sum("cnt").over(Window.partitionBy("label"))
    off = (
        g.withColumn("n", n)
        .where(F.col("label") != F.col("guess"))
        .withColumn(
            "share_bp",
            F.expr("(20000 * cnt + n) DIV (2 * n)").cast("long"),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), "label", "guess")
            ).cast("long"),
        )
    )
    return off.where(F.col("rank") <= 3).select(
        "rank", "label", "guess", "cnt", "share_bp"
    )


@_q(
    "olap_ship_latency_quantiles",
    """
    WITH lat AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', o.o_orderdate, l.l_shipdate) AS days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), r AS (
      SELECT priority, days,
             row_number() OVER (PARTITION BY priority ORDER BY days) AS rk,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM lat
    )
    SELECT priority, CAST(MAX(n) AS BIGINT) AS n_items,
           CAST(MAX(CASE WHEN rk = (n - 1) * 50 // 100 + 1 THEN days END)
                AS BIGINT) AS p50_days,
           CAST(MAX(CASE WHEN rk = (n - 1) * 90 // 100 + 1 THEN days END)
                AS BIGINT) AS p90_days,
           CAST(MAX(CASE WHEN rk = (n - 1) * 99 // 100 + 1 THEN days END)
                AS BIGINT) AS p99_days
    FROM r GROUP BY 1
    """,
)
def olap_ship_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency percentiles per priority, DISCRETE
    (value at rank (n-1)*q DIV 100 + 1 — the repo's interpolation-free
    idiom: integer days in, integer days out, no float quantile ulp).
    One fact join (orders dim broadcast at this shape; co-keyed shuffle
    at production), one per-priority rank window, one fold."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", F.col("o_orderpriority").alias("priority")
    )
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "priority", F.datediff("l_shipdate", "o_orderdate").alias("days")
    )
    wp = Window.partitionBy("priority")
    r = lat.select(
        "priority", "days",
        F.row_number().over(wp.orderBy("days")).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )

    def at(q: int):
        return F.max(
            F.when(
                F.col("rk") == F.expr(f"(n - 1) * {q} DIV 100 + 1"),
                F.col("days"),
            )
        ).cast("long")

    return r.groupBy("priority").agg(
        F.max("n").cast("long").alias("n_items"),
        at(50).alias("p50_days"),
        at(90).alias("p90_days"),
        at(99).alias("p99_days"),
    )


# =========================================================================
# from queries_r3ah.py
# =========================================================================

"""Round-3 batch ah: max-min fair crawl-budget allocation.

``crawl_budget_waterfill`` — water-filling a global budget of 50k crawl
slots across per-user (host-analog) event demand: every host funded up
to the common water level, never above demand, leftover units assigned
deterministically. The cross-host fairness layer that complements the
per-url frontier priority (queries_r3ff.crawl_frontier_topk).
"""


_BUDGET = 50_000


@_q(
    "crawl_budget_waterfill",
    waterfill_oracle_sql(
        "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS demand"
        " FROM events WHERE user_id IS NOT NULL GROUP BY 1",
        "user_id",
        _BUDGET,
    ),
)
def crawl_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair allocation of 50k slots across per-user demand in
    closed form (no iteration): demand census = one shuffle over the
    fact; the water-level solve runs on the |hosts|-row census with the
    three scalars on broadcast 1-row joins. Exact integer output —
    sum(alloc) == min(budget, sum(demand)) by construction."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    demand = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("demand")
    )
    return waterfill(demand, "user_id", "demand", _BUDGET)


# =========================================================================
# from queries_r3aj.py
# =========================================================================

"""Round-3 batch aj: crawl-operations layer — politeness-delayed fetch
scheduling (closed-form, no recursion) and the Cho/Garcia-Molina page
change-rate estimator that drives revisit cadence.

Same oracle discipline as mintpy_spark.queries: identical aliases and
in-query rounding both sides, exact integer microsecond arithmetic for
everything that crosses the engine boundary unrounded.
"""


@_q(
    "crawl_politeness_schedule",
    politeness_oracle_sql(
        "events", "user_id", "ts", min_delay_s=2, order_cols=("event_id",)
    ),
)
def crawl_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO fetch schedule per host (user_id as the host analog) under a
    2-second politeness delay. The sequential recurrence
    s_i = max(r_i, s_{i-1} + D) is evaluated as its closed form
    D*i + runningmax(r_j - D*j) — ONE window pass, one Exchange, exact
    int64 microseconds (operators/crawlsched.politeness_schedule)."""
    from mintpy_spark.operators.crawlsched import politeness_schedule

    ev = load(spark, sf_dir, "events")
    return politeness_schedule(
        ev, host="user_id", ts="ts", min_delay_s=2, order_cols=("event_id",)
    )


@_q(
    "crawl_revisit_lambda",
    """
    WITH base AS (
      SELECT user_id, epoch_us(ts) AS us,
             CASE WHEN lag(1) OVER w IS NOT NULL THEN
               CASE WHEN value IS NOT DISTINCT FROM lag(value) OVER w
                    THEN 0 ELSE 1 END
             END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    agg AS (
      SELECT user_id,
             COUNT(chg) AS num_intervals,
             CAST(SUM(chg) AS BIGINT) AS num_changes,
             (MAX(us) - MIN(us)) / 86400000000.0 AS span_days
      FROM base GROUP BY user_id
    )
    SELECT user_id, num_intervals, num_changes,
           ROUND(span_days, 6) AS span_days,
           CASE WHEN num_changes < num_intervals THEN
             ROUND(-LN(1 - CAST(num_changes AS DOUBLE) / num_intervals)
                   / (span_days / num_intervals), 6)
           END AS lambda_per_day
    FROM agg WHERE num_intervals >= 1
    """,
)
def crawl_revisit_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson page-change-rate per key (Cho & Garcia-Molina 2003,
    lambda_hat = -ln(1 - X/m) / I): the revisit-cadence signal an
    incremental crawler feeds back into its frontier. One window pass +
    one hash agg on the same key partitioning
    (operators/crawlsched.change_rate_estimate)."""
    from mintpy_spark.operators.crawlsched import change_rate_estimate

    ev = load(spark, sf_dir, "events")
    out = change_rate_estimate(
        ev, "value", key="user_id", ts="ts", order_cols=("event_id",)
    )
    return out.select(
        "user_id",
        "num_intervals",
        "num_changes",
        F.round("span_days", 6).alias("span_days"),
        F.round("lambda_per_day", 6).alias("lambda_per_day"),
    )


# =========================================================================
# from queries_r3am.py
# =========================================================================

"""Round-3 batch am: linear-interpolated as-of alignment — sampling one
irregular series AT another series' timestamps (TimescaleDB
interpolate() / kdb aj-with-fill; the reference's GNSS-onto-SAR-epochs
resampling, insar_vs_gnss.py). Completes the as-of family:
backward/forward/tolerance joins, and now interpolation between the
brackets.
"""


@_q(
    "asof_interpolate_click",
    """
    WITH u AS (
      SELECT user_id, ts, event_id, 1 AS isp, CAST(NULL AS DOUBLE) AS v,
             epoch_us(ts) AS us
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, event_id, 0 AS isp, CAST(value AS DOUBLE) AS v,
             epoch_us(ts) AS us
      FROM events WHERE event_type = 'click'
    ),
    staged AS (
      SELECT user_id, ts, event_id, isp, us,
             last_value(CASE WHEN isp = 0 THEN {'t': us, 'v': v} END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, isp, event_id
               ROWS UNBOUNDED PRECEDING) AS prev,
             first_value(CASE WHEN isp = 0 THEN {'t': us, 'v': v} END
                         IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, isp, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
      FROM u
    )
    SELECT user_id, ts, event_id,
           ROUND(CASE
             WHEN prev IS NULL AND nxt IS NULL THEN CAST(NULL AS DOUBLE)
             WHEN prev IS NULL THEN nxt.v
             WHEN nxt IS NULL THEN prev.v
             WHEN nxt.t > prev.t THEN
               prev.v + (nxt.v - prev.v) * ((us - prev.t) / (nxt.t - prev.t))
             ELSE prev.v END, 4) AS v_interp,
           CASE
             WHEN prev IS NULL AND nxt IS NULL THEN 'none'
             WHEN prev IS NULL THEN 'nocb'
             WHEN nxt IS NULL THEN 'locf'
             ELSE 'interp' END AS method
    FROM staged WHERE isp = 1
    """,
)
def asof_interpolate_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The click-value series sampled AT each purchase instant by linear
    interpolation between the bracketing clicks (LOCF/NOCB at the edges)
    — one union-sort-window pass, one Exchange
    (operators/asof.asof_interpolate)."""
    from mintpy_spark.operators.asof import asof_interpolate

    ev = load(spark, sf_dir, "events")
    out = asof_interpolate(
        ev.where(F.col("event_type") == "purchase"),
        ev.where(F.col("event_type") == "click"),
        key="user_id", ts="ts", value_col="value",
        order_cols=("event_id",),
    )
    return out.select(
        "user_id", "ts", "event_id",
        F.round("v_interp", 4).alias("v_interp"), "method",
    )


# =========================================================================
# from queries_r3ff.py
# =========================================================================

"""Round-3 batch ff: training-export sequence packing + crawl frontier.

- ``pack_concat_chunks``: GPT-style concat-and-chunk packing of the
  documents corpus into 256-token sequences (pure Catalyst: one window
  cumsum + bounded explode; see operators/packing.py).
- ``pack_next_fit_bins``: document-preserving next-fit packing, the
  applyInPandas fold checked against an exact recursive-CTE oracle.
- ``crawl_frontier_topk``: recrawl scheduling — the north-star's
  page-change-velocity signal (MintPy analog: the velocity ranking in
  timeseries2velocity, `src/mintpy/timeseries2velocity.py`) turned into
  a frontier priority: stale AND frequently-changing series first. All
  integer arithmetic so the ranking is exact cross-engine.
"""


_CAP = 256


@_q("pack_concat_chunks", pack_concat_chunks_oracle_sql(_CAP))
def pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing stats per (source, chunk): every chunk
    except each source's last must hold exactly 256 tokens."""
    docs = load(spark, sf_dir, "documents")
    return _pack_cc(docs, capacity=_CAP)


@_q("pack_next_fit_bins", pack_next_fit_oracle_sql(_CAP))
def pack_next_fit_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit bin stats per (source, bin): the sequential Arrow fold
    aggregated to (n_docs, tok_fill), hash-checked against the
    recursive-CTE walk."""
    docs = load(spark, sf_dir, "documents")
    packed = pack_next_fit(docs, capacity=_CAP)
    return packed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("tok_fill"),
    )


@_q(
    "crawl_frontier_topk",
    """
    WITH per AS (
      SELECT user_id, COUNT(*) AS n_obs, MAX(epoch_us(ts)) AS last_us
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ), g AS (
      SELECT MAX(last_us) AS gmax FROM per
    )
    SELECT user_id, n_obs,
           (g.gmax - last_us) // 3600000000 AS staleness_h,
           ((g.gmax - last_us) // 3600000000) * n_obs AS priority
    FROM per, g
    ORDER BY priority DESC, user_id
    LIMIT 20
    """,
)
def crawl_frontier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl frontier: priority = staleness_hours x observation count
    (stale, high-change-velocity series first). One key agg, a broadcast
    1-row corpus-max join, and a TakeOrdered top-k — no global sort."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("last_us"),
    )
    g = per.agg(F.max("last_us").alias("gmax"))
    out = per.crossJoin(F.broadcast(g)).select(
        "user_id",
        "n_obs",
        F.expr("(gmax - last_us) div 3600000000").alias("staleness_h"),
        (
            F.expr("(gmax - last_us) div 3600000000") * F.col("n_obs")
        ).alias("priority"),
    )
    return out.orderBy(F.desc("priority"), F.asc("user_id")).limit(20)


# =========================================================================
# from queries_r4m.py
# =========================================================================

"""Round-4 batch m: two family completions — nearest-direction as-of
alignment (the last missing member of the as-of family) and the ROLLUP
grouping-set hierarchy (region -> nation subtotals, the linear sibling
of the full CUBE in queries_r4f).
"""


@_q(
    "asof_nearest_click",
    """
    WITH u AS (
      SELECT user_id, ts, event_id, 1 AS isp, CAST(NULL AS DOUBLE) AS v,
             epoch_us(ts) AS us
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, event_id, 0 AS isp, CAST(value AS DOUBLE) AS v,
             epoch_us(ts) AS us
      FROM events WHERE event_type = 'click'
    ),
    staged AS (
      SELECT user_id, ts, event_id, isp, us,
             last_value(CASE WHEN isp = 0 THEN {'t': us, 'v': v} END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, isp, event_id
               ROWS UNBOUNDED PRECEDING) AS prev,
             first_value(CASE WHEN isp = 0 THEN {'t': us, 'v': v} END
                         IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, isp, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
      FROM u
    )
    SELECT user_id, ts, event_id, us AS probe_us,
           CASE WHEN prev IS NULL AND nxt IS NULL THEN CAST(NULL AS DOUBLE)
                WHEN nxt IS NULL OR (prev IS NOT NULL
                     AND us - prev.t <= nxt.t - us) THEN prev.v
                ELSE nxt.v END AS v_nearest,
           CASE WHEN prev IS NULL AND nxt IS NULL THEN CAST(NULL AS BIGINT)
                WHEN nxt IS NULL OR (prev IS NOT NULL
                     AND us - prev.t <= nxt.t - us) THEN prev.t
                ELSE nxt.t END AS asof_ts_us,
           CASE WHEN prev IS NULL AND nxt IS NULL THEN CAST(NULL AS BIGINT)
                WHEN nxt IS NULL OR (prev IS NOT NULL
                     AND us - prev.t <= nxt.t - us) THEN us - prev.t
                ELSE nxt.t - us END AS dist_us,
           CASE WHEN prev IS NULL AND nxt IS NULL THEN 'none'
                WHEN nxt IS NULL OR (prev IS NOT NULL
                     AND us - prev.t <= nxt.t - us) THEN 'prev'
                ELSE 'next' END AS side
    FROM staged WHERE isp = 1
    """,
)
def asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every purchase aligned to its NEAREST click by |Δt| (backward
    wins ties) — pandas merge_asof(direction='nearest') / kdb aj
    semantics, completing the as-of family (backward / forward /
    tolerance / interpolate / nearest). Distances are exact integer
    microseconds; no float arithmetic anywhere, so the tie rule is
    engine-portable.

    Scale: identical plan to asof_join — one union, one shuffle on the
    key, one ordered window pass; no range join, no fan-out.
    """
    from mintpy_spark.operators.asof import asof_nearest

    ev = load(spark, sf_dir, "events")
    out = asof_nearest(
        ev.where(F.col("event_type") == "purchase"),
        ev.where(F.col("event_type") == "click"),
        key="user_id", ts="ts", value_col="value",
        order_cols=("event_id",),
    )
    return out.select(
        "user_id", "ts", "event_id", "probe_us",
        "v_nearest", "asof_ts_us", "dist_us", "side",
    )


@_q(
    "olap_rollup_hierarchy",
    """
    WITH f AS (
      SELECT r.r_name, n.n_name,
             CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
               * (100 - CAST(FLOOR(l.l_discount * 100 + 0.5) AS BIGINT))
               AS rev_c10k
      FROM customer c
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
    )
    SELECT r_name, n_name,
           CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
           CAST(SUM(rev_c10k) AS BIGINT) AS revenue_c10k,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM f
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def olap_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region -> nation revenue subtotals via ROLLUP: cell, per-region,
    and grand-total levels (the linear hierarchy sibling of the full
    CUBE, olap_cube_revenue) — one Expand + one shuffle, grouping_id-
    disambiguated, integer-c10k exact.

    Scale: Spark compiles ROLLUP into the same Expand + single
    hash-aggregate as CUBE with one fewer grouping set; all dimension
    joins broadcast. This is the dashboard drill-path query shape
    (continent -> country) every tiered rollup UI issues.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    disc = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    f = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "r_name", "n_name",
            (cents * (F.lit(100) - disc)).alias("rev_c10k"),
        )
    )
    return (
        f.rollup("r_name", "n_name")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.sum("rev_c10k").alias("revenue_c10k"),
            F.count("*").cast("long").alias("n_lines"),
        )
        .select("r_name", "n_name", "gid", "revenue_c10k", "n_lines")
    )
