"""Driver-contract queries: join-based series algebra, masks, decimation.

Covers the remaining SURVEY.md §2 operator families with oracle checks:
diff joins (§2.3), NaN-union add (§2.3 add_file), ALL-aggregates /
common-mask (§2.2), multilook nearest-decimation (§2.4), threshold masking
(§2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mintpy_spark.functions.timefn import bucket_start
from mintpy_spark.operators.rollup import rollup_from_obs
from mintpy_spark.operators.sessionize import sessionize_oracle_sql
from mintpy_spark.operators.stats import epoch_std_rms
from mintpy_spark.queries import _q, load


@_q(
    "diff_series_vs_rollup",
    """
    WITH d AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             ROUND(SUM(value), 2) AS dsum, COUNT(value) AS dcnt
      FROM events GROUP BY 1, 2
    )
    SELECT e.user_id, e.ts,
           ROUND(e.value * d.dcnt - d.dsum, 2) AS scaled_resid
    FROM events e JOIN d
      ON e.user_id = d.user_id AND CAST(date_trunc('day', e.ts) AS TIMESTAMP) = d.day
    """,
)
def diff_series_vs_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-based diff of a series against its own rollup tier
    (diff_timeseries pattern, reference diff.py:58-149: equi-join on
    (key, epoch) then subtract). Emitted as value*cnt - sum (exact 2-dp
    arithmetic) rather than value - mean, which would divide and reopen
    the half-way rounding trap."""
    ev = load(spark, sf_dir, "events")
    d = rollup_from_obs(ev, "value", "1d", key="user_id", ts="ts").select(
        "user_id",
        F.col("bucket_start").alias("day"),
        F.round("vsum", 2).alias("dsum"),
        F.col("cnt").alias("dcnt"),
    )
    return (
        ev.withColumn("day", bucket_start(F.col("ts"), "1d"))
        .join(d, ["user_id", "day"])
        .select(
            "user_id",
            "ts",
            F.round(F.col("value") * F.col("dcnt") - F.col("dsum"), 2).alias(
                "scaled_resid"
            ),
        )
    )


@_q(
    "add_series_nan_union",
    """
    WITH a AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             SUM(value) AS v FROM events WHERE event_type = 'view' GROUP BY 1, 2
    ),
    b AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             SUM(value) AS v FROM events WHERE event_type = 'click' GROUP BY 1, 2
    )
    SELECT COALESCE(a.user_id, b.user_id) AS user_id,
           COALESCE(a.day, b.day)         AS day,
           ROUND(COALESCE(a.v, 0) + COALESCE(b.v, 0), 2) AS vsum,
           (a.v IS NOT NULL)::INT + (b.v IS NOT NULL)::INT AS n_present
    FROM a FULL JOIN b ON a.user_id = b.user_id AND a.day = b.day
    """,
)
def add_series_nan_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-file add with NaN-union semantics (reference add.py:18-87: null
    only where null in ALL inputs, else nulls count as 0) — full outer
    join + coalesce over two derived daily series."""
    ev = load(spark, sf_dir, "events")

    def daily(etype: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == etype)
            .groupBy("user_id", bucket_start(F.col("ts"), "1d").alias("day"))
            .agg(F.sum("value").alias("v"))
        )

    a, b = daily("view").alias("a"), daily("click").alias("b")
    j = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id")) & (F.col("a.day") == F.col("b.day")),
        "full",
    )
    present = F.col("a.v").isNotNull().cast("int") + F.col("b.v").isNotNull().cast("int")
    return j.select(
        F.coalesce(F.col("a.user_id"), F.col("b.user_id")).alias("user_id"),
        F.coalesce(F.col("a.day"), F.col("b.day")).alias("day"),
        F.round(
            F.coalesce(F.col("a.v"), F.lit(0.0)) + F.coalesce(F.col("b.v"), F.lit(0.0)),
            2,
        ).alias("vsum"),
        present.alias("n_present"),
    )


@_q(
    "common_valid_keys",
    """
    SELECT user_id,
           COUNT(DISTINCT date_trunc('month', ts)) AS months_active
    FROM events
    GROUP BY user_id
    HAVING COUNT(DISTINCT date_trunc('month', ts)) =
           (SELECT COUNT(DISTINCT date_trunc('month', ts)) FROM events)
    """,
)
def common_valid_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division: keys observed in EVERY epoch — the nonzero/
    common-mask ALL-aggregate (reference stack.py:972 nonzero_mask,
    ifgram_inversion.py:743 valid-in-all-pairs). The total-epoch count is
    a 1-row broadcast."""
    ev = load(spark, sf_dir, "events")
    month = F.date_trunc("month", "ts")
    per_key = ev.groupBy("user_id").agg(
        F.countDistinct(month).alias("months_active")
    )
    total = ev.agg(F.countDistinct(month).alias("_total"))
    return (
        per_key.crossJoin(F.broadcast(total))
        .where(F.col("months_active") == F.col("_total"))
        .select("user_id", "months_active")
    )


@_q(
    "multilook_decimate",
    """
    SELECT user_id, ts, ROUND(value, 2) AS value
    FROM (
      SELECT user_id, ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      FROM events
    ) WHERE rn % 5 = 1
    """,
)
def multilook_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-sample multilook / decimation (reference multilook.py:19-130
    'nearest' mode; readfile.py x/y-step decimated scan): keep every 5th
    observation per key in time order."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") % 5 == 1)
        .select("user_id", "ts", F.round("value", 2).alias("value"))
    )


@_q(
    "stitch_overlap_offset",
    """
    WITH a AS (SELECT user_id, ts, value FROM events WHERE user_id < 100),
    b AS (SELECT user_id, ts, value + 5.0 AS value FROM events WHERE user_id >= 50),
    off AS (
      SELECT COALESCE(AVG(a.value - b.value), 0.0) AS o
      FROM a JOIN b ON a.user_id = b.user_id AND a.ts = b.ts
    )
    SELECT user_id, ts, ROUND(value, 2) AS value FROM a
    UNION ALL
    SELECT b.user_id, b.ts, ROUND(b.value + off.o, 2) AS value
    FROM b, off
    WHERE NOT EXISTS (SELECT 1 FROM a WHERE a.user_id = b.user_id AND a.ts = b.ts)
    """,
)
def stitch_overlap_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile stitching with overlap-offset harmonization (image_stitch.py:
    100): tile b carries a synthetic +5 bias; the overlap (users 50-99)
    estimates it and the stitched output recovers the unbiased values —
    self-verifying against the plain table."""
    from mintpy_spark.operators.diff import stitch_series

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    a = ev.where(F.col("user_id") < 100)
    b = ev.where(F.col("user_id") >= 50).withColumn(
        "value", F.col("value") + F.lit(5.0)
    )
    out = stitch_series(a, b, key="user_id", ts="ts", value_col="value")
    return out.select("user_id", "ts", F.round("value", 2).alias("value"))


@_q(
    "auto_reference_epoch",
    """
    SELECT arg_min(bucket_start, rms) AS ref_epoch, COUNT(*) AS n_epochs
    FROM (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
             sqrt(AVG(value * value)) AS rms
      FROM events GROUP BY 1
    )
    """,
)
def auto_reference_epoch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automatic reference-epoch selection: argmin of per-epoch RMS
    (timeseries_rms.py:35-72) via min_by — no sort, no collect."""
    ev = load(spark, sf_dir, "events")
    rms = epoch_std_rms(
        ev.withColumn("bucket_start", bucket_start(F.col("ts"), "1d")),
        "value", time_col="bucket_start",
    )
    return rms.agg(
        F.min_by("bucket_start", "rms").alias("ref_epoch"),
        F.count("*").alias("n_epochs"),
    )


@_q(
    "codec_roundtrip",
    """
    SELECT CAST(user_id AS VARCHAR) AS key,
           COUNT(*)             AS n_points,
           ROUND(SUM(value), 2) AS vsum,
           MIN(ts) AS ts_min, MAX(ts) AS ts_max
    FROM events GROUP BY 1
    """,
)
def codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla-XOR + delta-of-delta codec proven lossless under the driver
    gate: pack each user's series into compressed per-(key, 30d) blocks,
    unpack, and aggregate — counts, exact 2-dp sums, and min/max
    timestamps must equal the direct aggregation of the raw table
    (reference analog: HDF5 chunked+compressed storage round-trip,
    stack.py:352-355)."""
    from mintpy_spark.codecs.blocks import pack_blocks, unpack_blocks

    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_id"), "ts", "value"
    )
    blocks = pack_blocks(
        ev, "value", window="30d", key="user_id", ts="ts", value_dtype="float64"
    )
    back = unpack_blocks(blocks)
    return back.groupBy(F.col("key")).agg(
        F.count("*").alias("n_points"),
        F.round(F.sum("value"), 2).alias("vsum"),
        F.min("warc_ts").alias("ts_min"),
        F.max("warc_ts").alias("ts_max"),
    )


@_q(
    "salted_hot_key_agg",
    """
    SELECT event_type,
           COUNT(value)         AS cnt,
           ROUND(SUM(value), 2) AS vsum,
           MIN(value) AS vmin, MAX(value) AS vmax
    FROM events GROUP BY event_type
    """,
)
def salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-stage aggregation over 5 hot keys (north_rule
    salting): partials per (key, salt-shard), re-aggregated per key —
    bitwise-identical to the plain aggregation because only decomposable
    partials (count/sum/min/max) are salted."""
    from mintpy_spark.operators.partitioning import salted_agg

    # pre-project to the hashed/aggregated columns: salted_agg full-row
    # hashes its input, so an unprojected table would drag every column
    # (incl. the props JSON) through the scan just to salt the shard
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    out = salted_agg(
        ev,
        "event_type",
        {
            "cnt": ("count", "value"),
            "vsum": ("sum", "value"),
            "vmin": ("min", "value"),
            "vmax": ("max", "value"),
        },
        salt=8,
    )
    return out.select(
        "event_type", "cnt", F.round("vsum", 2).alias("vsum"), "vmin", "vmax"
    )


@_q(
    "mask_threshold_stats",
    """
    SELECT user_id,
           COUNT(CASE WHEN value BETWEEN 10 AND 90 THEN 1 END) AS n_valid,
           COUNT(*) AS n_total,
           ROUND(SUM(CASE WHEN value BETWEEN 10 AND 90 THEN value END), 2) AS vsum
    FROM events GROUP BY user_id
    """,
)
def mask_threshold_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold mask -> NULL fill -> aggregate (reference mask.py:17
    mask_matrix + generate_mask.py:44 threshold mask): min/max window
    masking as a column expression, nulls skipped by the aggregates."""
    from mintpy_spark.operators.mask import apply_mask, threshold_mask

    ev = load(spark, sf_dir, "events")
    masked = apply_mask(
        ev, "value", threshold_mask(F.col("value"), vmin=10.0, vmax=90.0)
    )
    return masked.groupBy("user_id").agg(
        F.count("value").alias("n_valid"),
        F.count("*").alias("n_total"),
        F.round(F.sum("value"), 2).alias("vsum"),
    )


@_q(
    "sessionize_7d",
    """
    SELECT user_id, session_start, session_end, duration_us, n_events,
           ROUND(vsum, 2) AS vsum
    FROM (
    """
    + sessionize_oracle_sql(gap_seconds=7 * 86400)
    + ")",
)
def sessionize_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (native session_window aggregation, gap =
    7 days): per-(key, session) start/end/duration/count/sum; the oracle
    is the portable lag/cumsum formulation — identical boundaries."""
    from mintpy_spark.operators.sessionize import sessionize

    ev = load(spark, sf_dir, "events")
    out = sessionize(ev, key="user_id", ts="ts", value_col="value", gap="7 days")
    return out.select(
        "user_id", "session_start", "session_end", "duration_us", "n_events",
        F.round("vsum", 2).alias("vsum"),
    )


@_q(
    "json_props_stats",
    """
    SELECT event_type,
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
           MIN(CAST(props->>'k' AS BIGINT)) AS k_min,
           MAX(CAST(props->>'k' AS BIGINT)) AS k_max,
           COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling (absent in the reference — flat
    HDF5 attrs only, SURVEY.md §2.8): JSON property extraction pushed
    through get_json_object, aggregated per key. At scale the extraction
    is a codegen'd projection — no UDF, no schema inference pass."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
        F.count("*").alias("cnt"),
    )


# ---------------------------------------------------------------------------
# Joint two-geometry decomposition (asc_desc2horz_vert analog)
# ---------------------------------------------------------------------------

# Two observation geometries with fixed projection angles; the angles'
# cos/sin are computed once here and inlined as THE SAME literals into the
# Spark plan and the SQL oracle (literal constants beat cross-engine
# function parity). Geometry A = interaction events, B = the rest.
import math as _math

from mintpy_spark.operators.decompose import decompose_oracle_sql, joint_decompose

_THETA_A, _THETA_B = 0.6, 1.9  # radians; well-separated -> well-conditioned
_CXA, _CYA = _math.cos(_THETA_A), _math.sin(_THETA_A)
_CXB, _CYB = _math.cos(_THETA_B), _math.sin(_THETA_B)

# ::DOUBLE on the literals: DuckDB otherwise types them DECIMAL and the
# normal-equation products overflow DECIMAL's max scale.
_DECOMP_SRC_SQL = f"""
    SELECT user_id,
           CASE WHEN event_type IN ('click', 'view')
                THEN {_CXA!r}::DOUBLE ELSE {_CXB!r}::DOUBLE END AS cx,
           CASE WHEN event_type IN ('click', 'view')
                THEN {_CYA!r}::DOUBLE ELSE {_CYB!r}::DOUBLE END AS cy,
           value AS d
    FROM events
"""


@_q(
    "joint_decompose_2geom",
    decompose_oracle_sql(_DECOMP_SRC_SQL, key="user_id", x_name="horz", y_name="vert"),
)
def joint_decompose_2geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint LS decomposition of two observation geometries into two latent
    components per key (reference asc_desc2horz_vert.py:106 per-pixel
    pinv(G) @ dlos; here closed-form 2x2 normal equations as pure
    aggregates — one shuffle, SQL-expressible, no Python)."""
    ev = load(spark, sf_dir, "events")
    is_a = F.col("event_type").isin("click", "view")
    src = ev.select(
        "user_id",
        F.when(is_a, F.lit(_CXA)).otherwise(F.lit(_CXB)).alias("cx"),
        F.when(is_a, F.lit(_CYA)).otherwise(F.lit(_CYB)).alias("cy"),
        F.col("value").alias("d"),
    )
    out = joint_decompose(src, "d", "cx", "cy", key="user_id")
    return out.select(
        "user_id",
        F.round("horz", 4).alias("horz"),
        F.round("vert", 4).alias("vert"),
        "num_obs",
    )


@_q(
    "wrap_phase_stats",
    """
    SELECT event_type,
           ROUND(SUM(wrapped), 4) AS wsum,
           ROUND(MIN(wrapped), 4) AS wmin,
           ROUND(MAX(wrapped), 4) AS wmax,
           COUNT(*) AS cnt
    FROM (
      SELECT event_type,
             -pi() + ((value - -pi()) % (2 * pi()) + 2 * pi()) % (2 * pi()) AS wrapped
      FROM events
    )
    GROUP BY event_type
    """,
)
def wrap_phase_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-wrap pmod into [-pi, pi) then aggregate (the re-wrap transform,
    utils0.py wrap; exposed as functions.scalars.wrap). The oracle's
    double-% is DuckDB's positive-modulo spelling of Spark's pmod."""
    from mintpy_spark.functions.scalars import wrap

    ev = load(spark, sf_dir, "events")
    return (
        ev.select("event_type", wrap(F.col("value")).alias("wrapped"))
        .groupBy("event_type")
        .agg(
            F.round(F.sum("wrapped"), 4).alias("wsum"),
            F.round(F.min("wrapped"), 4).alias("wmin"),
            F.round(F.max("wrapped"), 4).alias("wmax"),
            F.count("*").alias("cnt"),
        )
    )


@_q(
    "temporal_avg_scaled",
    """
    SELECT user_id,
           ROUND(SUM(value * 0.001), 5) AS scaled_sum,
           COUNT(value) AS cnt
    FROM events GROUP BY user_id
    """,
)
def temporal_avg_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scaled temporal average (the ifgramStack temporal_average variant,
    stack.py:451-456 applies a literal scale during the mean — e.g.
    phase->displacement). Emitted as the decomposable (scaled sum, count)
    partials; mean derives as scaled_sum/cnt. Rounded at 5 dp — the scaled
    inputs are exact 5-dp values, so any coarser rounding sits exactly on
    half-way points where engine rounding conventions diverge."""
    from mintpy_spark.functions.scalars import convert_unit

    ev = load(spark, sf_dir, "events")
    scaled = convert_unit(F.col("value"), "m", "mm") * F.lit(1e-6)  # 0.001 net
    return ev.groupBy("user_id").agg(
        F.round(F.sum(scaled), 5).alias("scaled_sum"),
        F.count("value").alias("cnt"),
    )


@_q(
    "lut_remap_stats",
    """
    WITH lut(event_type, gain, offs) AS (VALUES
      ('click',    1.5, 0.0),
      ('view',     1.0, 0.0),
      ('purchase', 3.0, 2.0),
      ('signup',   2.0, 1.0),
      ('error',    0.0, 0.0)
    )
    SELECT e.event_type,
           ROUND(SUM(e.value * l.gain + l.offs), 3) AS mapped_sum,
           COUNT(*) AS cnt
    FROM events e JOIN lut l ON e.event_type = l.event_type
    GROUP BY e.event_type
    """,
)
def lut_remap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lookup-table value remap (the reference's lookup-table join family:
    geometry/unit LUTs applied per record before aggregation) as a
    broadcast dimension join — the LUT is rows-not-logic, so changing the
    mapping is data, not a code change. The 1.5 gain makes mapped values
    exact 3-dp multiples, so sums round collision-free at 3 dp (rounding
    coarser would sit on half-way points)."""
    ev = load(spark, sf_dir, "events")
    lut = spark.createDataFrame(
        [
            ("click", 1.5, 0.0),
            ("view", 1.0, 0.0),
            ("purchase", 3.0, 2.0),
            ("signup", 2.0, 1.0),
            ("error", 0.0, 0.0),
        ],
        "event_type string, gain double, offs double",
    )
    return (
        ev.join(F.broadcast(lut), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.sum(F.col("value") * F.col("gain") + F.col("offs")), 3).alias(
                "mapped_sum"
            ),
            F.count("*").alias("cnt"),
        )
    )


@_q(
    "network_inversion",
    """
    WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id)
    SELECT e.user_id, e.ts,
           ROUND(e.value - first_value(e.value)
                   OVER (PARTITION BY e.user_id ORDER BY e.ts), 4) AS value,
           c.n AS num_dates
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE c.n >= 2
    """,
)
def network_inversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SBAS network inversion end-to-end (ifgram_inversion.py:91-227): a
    redundant connection-2 pair network generated from the series is
    LS-inverted per key back into the series. The oracle exploits the
    consistency property: on a consistent network the minimum-norm LS
    solution IS the first-date-referenced series — so the solver is
    checked against an independent closed form, not against itself."""
    from mintpy_spark.operators.diff import pair_deltas
    from mintpy_spark.operators.invert import network_invert

    ev = load(spark, sf_dir, "events")
    pairs = pair_deltas(ev, "value", max_lag=2, key="user_id", ts="ts")
    out = network_invert(pairs, key="user_id", ts1="ts1", ts2="ts2")
    return out.select(
        "user_id",
        "ts",
        F.round("value", 4).alias("value"),
        F.col("num_dates").cast("long").alias("num_dates"),
    )


@_q(
    "network_inversion_weighted",
    """
    WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id)
    SELECT e.user_id, e.ts,
           ROUND(e.value - first_value(e.value)
                   OVER (PARTITION BY e.user_id ORDER BY e.ts), 4) AS value,
           ROUND(1.0, 4) AS coherence
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE c.n >= 2
    """,
)
def network_inversion_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted network inversion with the coherence->Fisher weight chain
    (decorrelation.py weights feeding ifgram_inversion WLS): per-pair
    pseudo-coherence -> Fisher weights -> WLS solve. On a CONSISTENT
    network any positive weighting must still reproduce the referenced
    series with coherence 1.0 — the oracle checks exactly that invariance,
    so a weighting bug (e.g. mis-indexed weights) breaks the hash."""
    from mintpy_spark.functions.weights import coherence2weight
    from mintpy_spark.operators.diff import pair_deltas
    from mintpy_spark.operators.invert import network_invert

    ev = load(spark, sf_dir, "events")
    pairs = pair_deltas(ev, "value", max_lag=2, key="user_id", ts="ts")
    # pmod, NOT abs(hash)%90: abs(Integer.MIN_VALUE) throws under ANSI mode
    pseudo_coh = (F.pmod(F.hash("ts1", "ts2"), F.lit(90)) + 5) / 100.0  # (0.05, 0.95)
    pairs = pairs.withColumn(
        "w", coherence2weight(pseudo_coh, weight_func="fisher", L=20)
    )
    out = network_invert(pairs, key="user_id", ts1="ts1", ts2="ts2", weight_col="w")
    return out.select(
        "user_id",
        "ts",
        F.round("value", 4).alias("value"),
        F.round("coherence", 4).alias("coherence"),
    )


@_q(
    "pair_reconstruct_residual",
    """
    WITH s AS (
      SELECT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             arg_max(value, ts) AS last_v,
             SUM(value)         AS sum_v,
             COUNT(value)       AS cnt_v
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT user_id, day AS ts1,
             lead(day)    OVER w AS ts2,
             lead(last_v) OVER w - last_v AS delta
      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY day)
    )
    SELECT p.user_id, p.ts1, p.ts2,
           ROUND(p.delta * s1.cnt_v * s2.cnt_v
                 - s2.sum_v * s1.cnt_v + s1.sum_v * s2.cnt_v, 2) + 0.0 AS resid_scaled
    FROM p
    JOIN s s1 ON p.user_id = s1.user_id AND p.ts1 = s1.day
    JOIN s s2 ON p.user_id = s2.user_id AND p.ts2 = s2.day
    WHERE p.ts2 IS NOT NULL
    """,
)
def pair_reconstruct_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """diff_ifgram_and_timeseries (reference diff.py:299): evaluate a
    candidate series at each pair's endpoints and subtract from the
    observed pair delta. Pairs come from the daily LAST-observation
    series, the evaluated series is the daily MEAN — the residual measures
    how much within-day variability the mean series fails to explain.

    Comparison is on the cnt1*cnt2-SCALED residual: the raw residual
    contains a difference of means, and means of 2-dp inputs sit on
    rounding half-way points where engines disagree; the scaled form is an
    exact 2-dp-grid value on both sides (round(2) collision-free)."""
    from mintpy_spark.operators.diff import pair_deltas, reconstruct_pair_from_series

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", bucket_start(F.col("ts"), "1d").alias("day")
    ).agg(
        F.max_by("value", "ts").alias("last_v"),
        F.sum("value").alias("sum_v"),
        F.count("value").alias("cnt_v"),
    )
    pairs = pair_deltas(
        daily.select("user_id", F.col("day").alias("ts"), F.col("last_v").alias("v")),
        "v", max_lag=1, key="user_id", ts="ts",
    ).select("user_id", "ts1", "ts2", "delta")
    series = daily.select(
        "user_id",
        F.col("day").alias("bucket_start"),
        (F.col("sum_v") / F.col("cnt_v")).alias("value"),
    )
    out = reconstruct_pair_from_series(series, pairs, value_col="value", key="user_id")
    c1 = daily.select("user_id", F.col("day").alias("ts1"), F.col("cnt_v").alias("c1"))
    c2 = daily.select("user_id", F.col("day").alias("ts2"), F.col("cnt_v").alias("c2"))
    return (
        out.join(c1, ["user_id", "ts1"])
        .join(c2, ["user_id", "ts2"])
        .select(
            "user_id", "ts1", "ts2",
            # `+ 0.0` normalizes IEEE negative zero: DuckDB's ROUND preserves
            # the sign bit of an epsilon-negative residual (-0.0) where Spark
            # emits +0.0, and the driver's value hash is byte-exact.
            (
                F.round(F.col("delta_residual") * F.col("c1") * F.col("c2"), 2)
                + F.lit(0.0)
            ).alias("resid_scaled"),
        )
    )


@_q(
    "orders_prior_90d_window",
    """
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(COUNT(*) OVER w AS BIGINT)          AS orders_90d,
           ROUND(SUM(o_totalprice) OVER w, 2)       AS spend_90d
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY o_orderdate
      RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW
    )
    """,
)
def orders_prior_90d_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time range frame: per order, the same customer's
    order count and spend over the trailing 90 days (peer-inclusive RANGE
    frame in both engines; Spark's frame runs over epoch seconds — dates
    have no sub-second component, so whole-second framing is exact).
    One shuffle on the customer key, no self-join fan-out — the
    trailing-window pattern of the reference's temporal sliding filters
    (filters.py running windows) applied to an OLAP fact table."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-90 * 86400, 0)
    )
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.count(F.lit(1)).over(w).alias("orders_90d"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_90d"),
    )
