"""Tier/streaming/codec/sequential-state queries: M4, realtime reads, Gorilla/DoD audits, Kalman, Holt-Winters, Welford, token bucket, skew audits.

Consolidated from the round-batch modules named in the section
markers below (pure moves, zero semantic change — VERDICT r4 #10).
"""

from __future__ import annotations

from mintpy_spark.functions.scalars import HASH60_SPACE
from mintpy_spark.functions.timefn import bucket_start, decimal_year
from mintpy_spark.operators import dedup as D
from mintpy_spark.operators.sessionize import sessionize_oracle_sql
from mintpy_spark.queries import _DY_SQL, _q, _round4, load
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
import numpy as np
import pandas as pd
import shutil
import tempfile
import uuid


# =========================================================================
# from queries_r3.py
# =========================================================================

"""Round-3 driver queries: M4 downsampling, KMV distinct sketch tiers,
counter-reset increase, sliding continuous aggregates, residual
autocorrelation, and JSON-ish metadata extraction.

Same oracle discipline as mintpy_spark.queries (identical aliases,
in-query rounding on both sides, integer arithmetic wherever the payload
allows — see the memory'd parity recipes cited inline).
"""


KMV_K = 32


@_q(
    "downsample_m4",
    """
    SELECT user_id, bucket_start,
           MIN(CASE WHEN rn_a = 1 THEN value END) AS v_first,
           MIN(value) AS v_min,
           MAX(value) AS v_max,
           MIN(CASE WHEN rn_d = 1 THEN value END) AS v_last,
           COUNT(value) AS cnt
    FROM (
      SELECT user_id, value,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
             row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY ts, value) AS rn_a,
             row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY ts DESC, value DESC) AS rn_d
      FROM events)
    GROUP BY 1, 2
    """,
)
def downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization downsampling (Jugel et al. VLDB'14): per series
    per day keep first/min/max/last — the four values that render the raw
    line pixel-exactly at daily resolution. One hash agg, no window on
    the Spark side; ties on the timestamp break toward the smaller value
    in both engines (struct-min vs ORDER BY ts, value)."""
    from mintpy_spark.operators.downsample import m4_downsample

    ev = load(spark, sf_dir, "events")
    out = m4_downsample(ev, "value", tier="1d", key="user_id", ts="ts")
    return out.select(
        "user_id", "bucket_start", "v_first", "v_min", "v_max", "v_last", "cnt"
    )


@_q(
    "rollup_1d_distinct_kmv",
    f"""
    WITH h AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
      FROM events WHERE user_id IS NOT NULL),
    r AS (
      SELECT bucket_start, hv,
             row_number() OVER (PARTITION BY bucket_start ORDER BY hv) AS rn
      FROM h)
    SELECT bucket_start,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           MAX(hv)                  AS kth_min,
           CASE WHEN COUNT(*) < {KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                ELSE ROUND({KMV_K - 1}.0::DOUBLE * {HASH60_SPACE}.0::DOUBLE
                           / CAST(MAX(hv) AS DOUBLE), 2)
           END AS est_distinct
    FROM r WHERE rn <= {KMV_K} GROUP BY 1
    """,
)
def rollup_1d_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per day via a KMV sketch tier, with the 1d sketch
    built by MERGING per-hour sketches (operators/sketch.py). The oracle
    computes the same sketch directly from raw rows — equality is the
    KMV merge theorem (k smallest of a union == k smallest of the merged
    k-smallest partials), so the tier-merge path is provably lossless;
    only the final estimate is approximate."""
    from mintpy_spark.operators.sketch import kmv_estimate, kmv_merge, kmv_tier

    ev = load(spark, sf_dir, "events")
    s1h = kmv_tier(ev, "user_id", tier="1h", key_cols=(), ts="ts", k=KMV_K)
    s1d = kmv_merge(s1h, "1d", key_cols=(), k=KMV_K)
    out = kmv_estimate(s1d, k=KMV_K)
    return out.select(
        "bucket_start",
        F.col("n_kept").cast("long").alias("n_kept"),
        "kth_min",
        "est_distinct",
    )


@_q(
    "counter_increase_1d",
    """
    WITH c AS (
      SELECT user_id, ts,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER
               (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) % 100000 AS ctr
      FROM events),
    d AS (
      SELECT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
             CASE WHEN prev IS NULL THEN NULL
                  WHEN ctr >= prev THEN ctr - prev
                  ELSE ctr END AS dd,
             CASE WHEN prev IS NULL THEN NULL
                  WHEN ctr < prev THEN 1 ELSE 0 END AS rst
      FROM (SELECT user_id, ts, ctr,
                   lag(ctr) OVER (PARTITION BY user_id ORDER BY ts) AS prev
            FROM c WHERE ctr IS NOT NULL))
    SELECT user_id, bucket_start,
           CAST(SUM(dd) AS BIGINT)  AS increase,
           CAST(SUM(rst) AS BIGINT) AS n_resets,
           COUNT(*) AS n_samples
    FROM d GROUP BY 1, 2
    """,
)
def counter_increase_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style increase() per day over a wrapping cumulative counter
    (reset-aware deltas; operators/counter.py). The counter is synthesized
    deterministically from the events values in INTEGER cents (cumsum %
    100000) so both engines agree bit-exactly — order-dependent float
    cumsums across engines are a parity trap (DuckDB windows use segment
    trees; integer sums are order-free)."""
    from mintpy_spark.operators.counter import counter_increase

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cents = F.round(F.col("value") * 100).cast("long")
    ctr = (F.sum(cents).over(w) % 100000).alias("ctr")
    series = ev.select("user_id", "ts", ctr)
    out = counter_increase(series, "ctr", tier="1d", key="user_id", ts="ts")
    return out.select(
        "user_id", "bucket_start", "increase",
        F.col("n_resets").cast("long").alias("n_resets"), "n_samples",
    )


@_q(
    "rollup_7d_sliding",
    """
    WITH t AS (
      SELECT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS bucket_no,
             COUNT(value) AS cnt, SUM(value) AS vsum,
             MIN(value) AS vmin, MAX(value) AS vmax
      FROM events GROUP BY 1, 2, 3)
    SELECT user_id, bucket_start,
           CAST(SUM(cnt) OVER w AS BIGINT)  AS w_cnt,
           ROUND(SUM(vsum) OVER w, 2)       AS w_vsum,
           MIN(vmin) OVER w                 AS w_vmin,
           MAX(vmax) OVER w                 AS w_vmax
    FROM t
    WINDOW w AS (PARTITION BY user_id ORDER BY bucket_no
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def rollup_7d_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day sliding aggregates computed FROM the stored 1d tier
    partials (continuous-aggregate read path, operators/downsample.py):
    at scale this reads tier rows, not raw history. Integer bucket-number
    range frame — exact and engine-portable (timestamp interval frames
    are a microsecond-precision trap)."""
    from mintpy_spark.operators.downsample import sliding_from_tier
    from mintpy_spark.operators.rollup import rollup_from_obs

    ev = load(spark, sf_dir, "events")
    t1d = rollup_from_obs(ev, "value", "1d", key="user_id", ts="ts")
    out = sliding_from_tier(t1d, tier="1d", trailing=7, key="user_id")
    return out.select(
        "user_id", "bucket_start",
        "w_cnt", F.round("w_vsum", 2).alias("w_vsum"), "w_vmin", "w_vmax",
    )


@_q(
    "residual_acf1",
    f"""
    WITH b AS (
      SELECT user_id, ts, value, {_DY_SQL.format(t='ts')} - 2024.0 AS t
      FROM events),
    f AS (
      SELECT user_id,
             covar_pop(t, value) / var_pop(t) AS slope,
             AVG(value) - covar_pop(t, value) / var_pop(t) * AVG(t) AS icept
      FROM b GROUP BY user_id),
    r AS (
      SELECT b.user_id, b.ts, b.value - (f.icept + f.slope * b.t) AS resid
      FROM b JOIN f ON b.user_id = f.user_id),
    p AS (
      SELECT user_id, resid,
             lag(resid) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM r)
    SELECT user_id,
           ROUND(corr(resid, prev), 4) AS acf1,
           CAST(COUNT(prev) AS BIGINT) AS n_pairs
    FROM p GROUP BY user_id
    """,
)
def residual_acf1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the linear-fit residuals per series — the
    temporal-noise diagnostic behind the reference's residual RMS /
    noise-evaluation step (timeseries_rms analog): white residuals give
    acf1 ~ 0, unmodeled temporal structure pushes it positive. Fit is the
    closed-form OLS (operators/timefunc.linear_velocity), residuals via a
    broadcast join of the tiny per-key fit table, one lag window, one agg."""
    from mintpy_spark.operators.timefunc import linear_velocity

    ev = load(spark, sf_dir, "events")
    fit = linear_velocity(ev, "value", key="user_id", ts="ts", ref_year=2024.0)
    t = decimal_year(F.col("ts")) - F.lit(2024.0)
    j = ev.select("user_id", "ts", "value", t.alias("t")).join(
        F.broadcast(fit.select("user_id", "velocity", "intercept")), "user_id"
    )
    r = j.select(
        "user_id", "ts",
        (F.col("value") - (F.col("intercept") + F.col("velocity") * F.col("t"))).alias(
            "resid"
        ),
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    p = r.withColumn("prev", F.lag("resid").over(w))
    return p.groupBy("user_id").agg(
        _round4(F.corr("resid", "prev")).alias("acf1"),
        F.count("prev").alias("n_pairs"),
    )


@_q(
    "props_extract_stats",
    """
    SELECT event_type,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           CAST(SUM(k) AS BIGINT)   AS k_sum,
           MIN(k) AS k_min, MAX(k) AS k_max
    FROM (
      SELECT event_type,
             CAST(NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') AS BIGINT) AS k
      FROM events)
    GROUP BY event_type
    """,
)
def props_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured metadata extraction: pull the integer ``k`` field
    out of the JSON-ish ``props`` payload with a regex (the web-pipeline
    sidecar-metadata pattern; all-integer aggregates, zero float risk).
    Both engines run the same RE2/Java-compatible pattern; no-match maps
    to NULL via NULLIF('') on both sides."""
    ev = load(spark, sf_dir, "events")
    k_str = F.regexp_extract("props", r'"k":\s*(\d+)', 1)
    k = F.when(k_str != "", k_str.cast("long"))
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


# =========================================================================
# from queries_r4a.py
# =========================================================================

"""Round-4 batch a: oracle coverage for the streaming maintenance path
(tier_realtime_read_check) and the reference's deramp-then-RMS composite
(residual_rms_deramped, src/mintpy/timeseries_rms.py:35-72).
"""


@_q(
    "tier_realtime_read_check",
    """
    SELECT user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           COUNT(value)             AS cnt,
           ROUND(SUM(value), 2) + 0.0 AS vsum,
           MIN(value) AS vmin, MAX(value) AS vmax
    FROM events GROUP BY 1, 2
    """,
)
def tier_realtime_read_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-maintenance path under an oracle: fold the events table
    into stored tier versions in TWO micro-batches via
    TierMaintainer.apply_delta (the foreachBatch body: incremental cascade
    refresh + one manifest-committed store version per batch), leave the last
    third of days UNFOLDED, then answer through read_realtime — committed
    1d partials unioned with an on-the-fly aggregation of the tail,
    merged partial-wise (TimescaleDB materialized_only=false semantics).
    The result must equal a direct batch GROUP BY over ALL events, which
    is exactly the oracle — so the driver hash certifies the whole
    fold-commit-merge loop, not just a batch rollup.

    Reference analog: the update-mode incremental re-inversion
    (ifgram_inversion.py:48-55 partial-write detection + skip-completed)
    composed with the continuous-aggregate read path.

    Scale: identical to the production loop — per-batch cost is delta
    aggregation + touched-cell rewrite; the realtime read adds one
    tail-proportional aggregation. The bounded .collect() pulls only the
    distinct DAY list (calendar-sized) to pick deterministic batch cuts.
    """
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer

    ev = load(spark, sf_dir, "events")
    day = bucket_start(F.col("ts"), "1d")
    days = sorted(r["d"] for r in ev.select(day.alias("d")).distinct().collect())
    cut1 = days[len(days) // 3]
    cut2 = days[(2 * len(days)) // 3]

    store = tempfile.mkdtemp(prefix="tier_rt_check_")
    m = TierMaintainer(store, value_col="value", key="user_id", ts="ts")
    m.apply_delta(ev.where(day < F.lit(cut1)), batch_id=0)
    m.apply_delta(
        ev.where((day >= F.lit(cut1)) & (day < F.lit(cut2))), batch_id=1
    )
    tail = ev.where(day >= F.lit(cut2))
    rt = m.read_realtime(spark, "1d", tail)
    # materialize off the store (localCheckpoint), then remove it — the
    # returned DataFrame must not depend on the temp directory
    out = rt.select(
        "user_id",
        "bucket_start",
        "cnt",
        (F.round("vsum", 2) + F.lit(0.0)).alias("vsum"),
        "vmin",
        "vmax",
    ).localCheckpoint(eager=True)
    shutil.rmtree(store, ignore_errors=True)
    return out


@_q(
    "residual_rms_deramped",
    """
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
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
    )
    SELECT bucket_start,
           ROUND(SQRT(AVG(deramped * deramped)), 4) AS rms,
           COUNT(*) AS cnt
    FROM d GROUP BY bucket_start
    """,
)
def residual_rms_deramped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's residual-RMS pipeline stage END-TO-END: MintPy's
    timeseries_rms deramps each epoch BEFORE taking its RMS
    (src/mintpy/timeseries_rms.py:35-72 -> utils.utils.run_deramp then
    rms over the residual). The engine composes deramp_epoch (closed-form
    per-day OLS on the key coordinate, pure window aggregates) with a
    per-day RMS aggregation — one shuffle for the window, reused by the
    groupBy on the same day key.

    Exactness: the deramped residual is micro-quantized to the 3-dp grid
    on BOTH sides before squaring (the round-3 discipline that prevents
    last-ulp RMS divergence at the 4-dp boundary)."""
    from mintpy_spark.operators.stats import deramp_epoch

    ev = load(spark, sf_dir, "events").withColumn(
        "day", bucket_start(F.col("ts"), "1d")
    )
    der = deramp_epoch(ev, "value", coord_col="user_id", time_col="day")
    q = der.select(
        F.col("day").alias("bucket_start"),
        F.round("deramped", 3).alias("d3"),
    )
    return q.groupBy("bucket_start").agg(
        F.round(F.sqrt(F.avg(F.col("d3") * F.col("d3"))), 4).alias("rms"),
        F.count("*").alias("cnt"),
    )


# =========================================================================
# from queries_r4b.py
# =========================================================================

"""Round-4 batch b: the delta-of-delta timestamp codec's encoded SIZE
under the driver oracle. codec_roundtrip (queries_ops.py:217) proves the
codec lossless; this query proves the COMPRESSION — DuckDB independently
derives the exact encoded byte count per key from the codec's published
byte-class rule, so any layout drift (header width, class boundaries,
payload packing) flips the driver hash.
"""


@_q(
    "codec_dod_size_audit",
    """
    WITH s AS (
      SELECT user_id,
             row_number() OVER w AS rn,
             epoch_us(ts) - lag(epoch_us(ts)) OVER w AS d1
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
    ), s2 AS (
      SELECT user_id, rn,
             d1 - lag(d1) OVER (PARTITION BY user_id ORDER BY rn) AS d2
      FROM s
    ), sz AS (
      SELECT user_id, COUNT(*) AS n,
             SUM(CASE WHEN rn >= 3 THEN
                   CASE WHEN d2 = 0 THEN 0
                        WHEN d2 BETWEEN -128 AND 127 THEN 1
                        WHEN d2 BETWEEN -32768 AND 32767 THEN 2
                        WHEN d2 BETWEEN -2147483648 AND 2147483647 THEN 4
                        ELSE 8 END
                 ELSE 0 END) AS payload
      FROM s2 GROUP BY user_id
    )
    SELECT user_id, n,
           CAST(CASE WHEN n <= 2 THEN 8 + 8 * n
                     ELSE 24 + (n - 2) + payload END AS BIGINT) AS ts_bytes,
           CAST((20000 * (CASE WHEN n <= 2 THEN 8 + 8 * n
                               ELSE 24 + (n - 2) + payload END)
                 + 8 * n) // (16 * n) AS BIGINT) AS ts_ratio_bp,
           TRUE AS ts_exact,
           TRUE AS f_exact
    FROM sz
    """,
)
def codec_dod_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key delta-of-delta encoded size + roundtrip flags, vs an oracle
    that computes the size CLOSED-FORM from the codec spec: header 8 B;
    n<=2 stores raw (8+8n); else 24 B (header + first two int64) +
    one class byte per remaining point + zig-zag payload bytes
    {0,1,2,4,8} chosen by the second difference's range (class 1 iff
    d2 in [-128,127], etc. — zig-zag maps those ranges exactly onto the
    unsigned byte-count buckets). ts_exact / f_exact additionally assert
    decode(encode(x)) is BIT-exact inside the engine; the oracle pins
    them TRUE, so a roundtrip regression also flips the hash.

    Scale: ONE shuffle (groupBy key -> applyInPandas, the same
    Arrow-batched seam as the production pack_blocks writer); the audit
    is how a 100 TB deployment spot-checks cold-tier compression ratio
    per partition without reading blobs back."""
    from mintpy_spark.codecs.gorilla import (
        decode_floats,
        decode_timestamps,
        encode_floats,
        encode_timestamps,
    )

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        F.col("value").cast("double").alias("v"),
    )
    schema = (
        "user_id long, n long, ts_bytes long, ts_ratio_bp long,"
        " ts_exact boolean, f_exact boolean"
    )

    def audit(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for uid, g in pdf.groupby("user_id", sort=False):
            t = g["t"].to_numpy(np.int64)
            v = g["v"].to_numpy(np.float64)
            blob = encode_timestamps(t)
            ts_exact = bool(np.array_equal(decode_timestamps(blob), t))
            fblob = encode_floats(v)
            f_exact = bool(
                np.array_equal(
                    decode_floats(fblob).view(np.uint64), v.view(np.uint64)
                )
            )
            n, b = len(t), len(blob)
            rows.append(
                (uid, n, b, (20000 * b + 8 * n) // (16 * n), ts_exact,
                 f_exact)
            )
        return pd.DataFrame(
            rows,
            columns=["user_id", "n", "ts_bytes", "ts_ratio_bp",
                     "ts_exact", "f_exact"],
        )

    from mintpy_spark.operators.seqstate import map_sorted_groups

    return map_sorted_groups(ev, "user_id", ("t", "v"), audit, schema)


@_q(
    "codec_text_blob_roundtrip",
    """
    SELECT doc_id, md5(text) AS text_md5, n_chars
    FROM documents
    """,
)
def codec_text_blob_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input_hint's per-row invariant — byte-identical text through
    the cold-tier block codec — under the driver hash: every document's
    text rides the zlib text side-channel of pack_blocks (one compressed
    blob + length ledger per block), is unpacked back to bytes, and is
    fingerprinted with md5; the oracle hashes the source column directly,
    so ONE flipped byte anywhere in pack/unpack flips the driver hash.
    codec_roundtrip (queries_ops.py:217) covers the value/timestamp
    channels; this covers the text channel end-to-end.

    Block keying: a synthetic hourly timestamp (doc_id hours) splits each
    source into ~720-doc blocks under the standard 30d window — the same
    bounded-block discipline the production writer uses (a per-source
    single block would concentrate a source's whole corpus in one row).
    doc_id rides the timestamp channel (exact int64 microseconds) and
    n_chars rides the float channel (exact below 2^53)."""
    from mintpy_spark.codecs.blocks import pack_blocks, unpack_blocks

    docs = load(spark, sf_dir, "documents").select(
        "source",
        F.timestamp_micros(F.col("doc_id") * F.lit(3_600_000_000)).alias("ts"),
        F.col("n_chars").cast("double").alias("v"),
        "text",
    )
    blocks = pack_blocks(
        docs, "v", text_col="text", window="30d",
        key="source", ts="ts", value_dtype="float64",
    )
    back = unpack_blocks(blocks, with_text=True)
    return back.select(
        (F.unix_micros("warc_ts") / F.lit(3_600_000_000))
        .cast("long")
        .alias("doc_id"),
        F.md5("text").alias("text_md5"),
        F.col("value").cast("long").alias("n_chars"),
    )


@_q(
    "warc_roundtrip",
    """
    SELECT doc_id, md5(text) AS text_md5, TRUE AS is_response
    FROM documents WHERE text IS NOT NULL
    """,
)
def warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WARC ingest seam (sources/warc.py) under the driver hash:
    documents are encoded into Common-Crawl-layout .warc.gz blobs (one
    gzip member per record, ~100 records per blob — applyInPandas over a
    bounded block key), parsed back through the REAL reader path
    (the same stdlib parser read_warc's mapInPandas stage runs), and the
    recovered HTTP bodies md5-fingerprinted. The oracle hashes the source
    text directly, so any byte lost or altered across WARC header
    formatting, per-member gzip, record splitting, HTTP envelope
    stripping, or timestamp parsing flips the hash. doc_id rides the
    WARC-Target-URI path segment.

    Scale: the parse side is exactly production ingest — one task per
    WARC blob (Common Crawl ships ~1 GB files; file-per-task is the
    public CC processing convention), zero shuffles after the bounded
    encode stage."""
    import datetime as _dt

    from mintpy_spark.sources.warc import encode_warc, parse_warc

    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    ).select(
        (F.col("doc_id") / 100).cast("long").alias("blk"), "doc_id", "text"
    )

    def to_warc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort")
        epoch = _dt.datetime(2024, 1, 1)
        recs = [
            (
                f"https://corpus.example/{int(r.doc_id)}",
                epoch + _dt.timedelta(seconds=int(r.doc_id)),
                str(r.text).encode("utf-8"),
            )
            for r in pdf.itertuples(index=False)
        ]
        return pd.DataFrame(
            {"blk": [pdf["blk"].iloc[0]], "blob": [encode_warc(recs, gzip_members=True)]}
        )

    blobs = docs.groupBy("blk").applyInPandas(to_warc, "blk long, blob binary")

    def from_warc(batches):
        for pdf in batches:
            frames = []
            for r in pdf.itertuples(index=False):
                rows = parse_warc(bytes(r.blob))
                frames.append(
                    pd.DataFrame(
                        {
                            "doc_id": [
                                int(x["url"].rsplit("/", 1)[1]) for x in rows
                            ],
                            "html": [x["html"] for x in rows],
                            "is_response": [
                                x["record_type"] == "response"
                                and x["http_status"] == 200
                                and x["warc_ts"] is not None
                                for x in rows
                            ],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    parsed = blobs.mapInPandas(
        from_warc, "doc_id long, html binary, is_response boolean"
    )
    return parsed.select(
        "doc_id", F.md5("html").alias("text_md5"), "is_response"
    )


# =========================================================================
# from queries_r4c.py
# =========================================================================

"""Round-4 batch c: the Gorilla-XOR float codec's encoded SIZE under the
driver oracle — the value-stream sibling of codec_dod_size_audit
(queries_r4b.py). codec_roundtrip proves the float codec lossless; this
query proves the COMPRESSION: DuckDB independently derives the exact
encoded byte count per key from first principles — it reconstructs each
value's IEEE-754 bit pattern closed-form in SQL (sign | biased exponent
| mantissa, exact for fixed-point integers < 2^52), XORs consecutive
patterns with a lag window, and counts significant bytes per XOR word
exactly as the codec's byte-aligned split-stream layout does (header 8 B
+ one ctrl byte per point + only the bytes between the first and last
nonzero byte of each word). Any drift in the codec layout — header
width, ctrl packing, significant-byte rule — flips the driver hash.

Reference analog: the HDF5 chunk-compression the reference relies on for
its stacks (smallbaselineApp.cfg:32 gzip settings, stack.py:352-355);
here the engine owns the codec (north_rule: Gorilla XOR float encoding),
so its on-disk contract needs an oracle of its own.
"""


@_q(
    "codec_gorilla_size_audit",
    """
    WITH base AS (
      SELECT user_id, ts, value,
             CAST(FLOOR(value * 100) AS BIGINT) AS vq
      FROM events
    ), pat AS (
      -- IEEE-754 double bit pattern of CAST(vq AS DOUBLE), closed-form:
      -- exact for |vq| < 2^52 (the fixed-point cents fit in the mantissa)
      SELECT user_id, ts, value,
        CASE WHEN vq = 0 THEN 0
             ELSE (CASE WHEN vq < 0 THEN (-9223372036854775807 - 1) ELSE 0 END)
                  | (CAST(1023 + length(bin(abs(vq))) - 1 AS BIGINT) << 52)
                  | (abs(vq) * (CAST(1 AS BIGINT)
                                << (52 - (length(bin(abs(vq))) - 1)))
                     - (CAST(1 AS BIGINT) << 52))
        END AS p
      FROM base
    ), x AS (
      -- the codec XORs each word with its predecessor; first word raw
      SELECT user_id,
        CASE WHEN lag(p) OVER w IS NULL THEN p
             ELSE xor(p, lag(p) OVER w) END AS w64
      FROM pat
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
    ), sb AS (
      -- significant bytes = last nonzero byte index - first + 1 (0 if 0)
      SELECT user_id,
        CASE WHEN w64 = 0 THEN 0 ELSE
          (CASE WHEN ((w64 >> 56) & 255) != 0 THEN 7
                WHEN ((w64 >> 48) & 255) != 0 THEN 6
                WHEN ((w64 >> 40) & 255) != 0 THEN 5
                WHEN ((w64 >> 32) & 255) != 0 THEN 4
                WHEN ((w64 >> 24) & 255) != 0 THEN 3
                WHEN ((w64 >> 16) & 255) != 0 THEN 2
                WHEN ((w64 >>  8) & 255) != 0 THEN 1
                ELSE 0 END)
          -
          (CASE WHEN (w64 & 255) != 0 THEN 0
                WHEN ((w64 >>  8) & 255) != 0 THEN 1
                WHEN ((w64 >> 16) & 255) != 0 THEN 2
                WHEN ((w64 >> 24) & 255) != 0 THEN 3
                WHEN ((w64 >> 32) & 255) != 0 THEN 4
                WHEN ((w64 >> 40) & 255) != 0 THEN 5
                WHEN ((w64 >> 48) & 255) != 0 THEN 6
                ELSE 7 END)
          + 1 END AS sig_len
      FROM x
    )
    SELECT user_id, COUNT(*) AS n,
           CAST(8 + COUNT(*) + SUM(sig_len) AS BIGINT) AS f_bytes,
           CAST((10000 * (8 + COUNT(*) + SUM(sig_len)))
                // (8 * COUNT(*)) AS BIGINT) AS f_ratio_bp,
           TRUE AS f_exact
    FROM sb GROUP BY user_id
    """,
)
def codec_gorilla_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key Gorilla-XOR encoded size + roundtrip flag for the cold-tier
    value stream, vs an oracle that rebuilds the byte count from the
    codec spec (gorilla.py module docstring): values are quantized to
    fixed-point cents (FLOOR(value*100) — the Gorilla fixed-point
    discipline the tier layer uses), encoded with the REAL
    ``encode_floats``, and the blob length compared against DuckDB's
    closed-form IEEE-754 + XOR + significant-byte-count reconstruction.
    ``f_exact`` asserts decode(encode(x)) is bit-exact inside the engine;
    the oracle pins it TRUE, so a roundtrip regression also flips the
    driver hash.

    Reference analog: stack.py:352-355 delegates chunk compression to
    HDF5; the north rule moves the codec into the engine, so this audit
    is the engine-owned replacement for h5py's storage-size checks.

    Scale: ONE shuffle (groupBy key -> applyInPandas, the same
    Arrow-batched seam as the production pack_blocks writer). This is how
    a 100 TB deployment spot-checks cold-tier value-stream compression
    ratio per partition without reading blobs back.
    """
    from mintpy_spark.codecs.gorilla import decode_floats, encode_floats

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        F.col("value").cast("double").alias("v"),
    )
    schema = (
        "user_id long, n long, f_bytes long, f_ratio_bp long,"
        " f_exact boolean"
    )

    def audit(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for uid, g in pdf.groupby("user_id", sort=False):
            v = np.floor(g["v"].to_numpy(np.float64) * 100.0)
            blob = encode_floats(v)
            f_exact = bool(
                np.array_equal(
                    decode_floats(blob).view(np.uint64), v.view(np.uint64)
                )
            )
            n, b = len(v), len(blob)
            rows.append((uid, n, b, (10000 * b) // (8 * n), f_exact))
        return pd.DataFrame(
            rows,
            columns=["user_id", "n", "f_bytes", "f_ratio_bp", "f_exact"],
        )

    from mintpy_spark.operators.seqstate import map_sorted_groups

    return map_sorted_groups(ev, "user_id", ("t", "v"), audit, schema)


# =========================================================================
# from queries_r4e.py and queries_r5a.py
# =========================================================================

"""Round-4 batch e and round-5 batch a: the Kalman local-level family
under the driver oracle. Causal filtering: DuckDB replays the identical
scalar recursion with a recursive CTE, so the engine's forward pass is
certified bit-for-bit (floor-quantized at the boundary per the engine
discipline). Data-driven noise estimation — the moments (q, r)
estimator, a full EM iteration (forward filter + RTS smoother + M-step)
and the adaptive filter that composes the two. Reference analog: MintPy
estimates its noise level FROM the data (timeseries_rms.py,
decorrelation weighting in ifgram_inversion.py) rather than assuming it.

Exactness discipline of the three estimation oracles: per-row terms are
evaluated with scalar IEEE doubles in the same operation order on both
engines, floor-quantized to int64 PER ROW, then summed as integers —
integer sums are associative, so aggregates are independent of
partitioning and summation order (no float-sum-order hazard).
"""


_Q, _R = 0.04, 1.0


def _levels_e4(out: DataFrame) -> DataFrame:
    """Filtered levels, floor-quantized at 1e-4 as the oracles are."""
    return out.select(
        "user_id",
        "rn",
        F.floor(F.col("level") * F.lit(10000)).cast("long").alias("level_e4"),
    )


@_q(
    "kalman_level_filter",
    f"""
    WITH RECURSIVE s AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, value)
               AS rn,
             CAST(value AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL
    ), rec AS (
      SELECT user_id, rn, y, y AS m, CAST({_R} AS DOUBLE) AS p
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, s.y,
             rec.m + ((rec.p + {_Q}) / (rec.p + {_Q} + {_R}))
                   * (s.y - rec.m),
             (1 - (rec.p + {_Q}) / (rec.p + {_Q} + {_R}))
               * (rec.p + {_Q})
      FROM rec JOIN s ON s.user_id = rec.user_id AND s.rn = rec.rn + 1
    )
    SELECT user_id, rn,
           CAST(FLOOR(m * 10000) AS BIGINT) AS level_e4
    FROM rec
    """,
)
def kalman_level_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal Kalman local-level filter over every key's series (q=0.04,
    r=1.0, first-observation init with prior variance r). The oracle is
    a DuckDB RECURSIVE CTE evaluating the same four-line recursion in
    the same operation order, so filtered levels agree to the last bit
    before the floor quantization.

    Reference analog: the temporal-filter family (operators/filters.py
    mirrors tsview's moving windows); the Kalman form is the online
    variant a streaming rollup loop applies as observations arrive —
    O(1) state per key, no look-ahead.

    Scale: one shuffle into the per-key Arrow seam; state is two doubles
    per key, which is what the streaming fold (streaming/seqfold.py,
    kalman_realtime_check) keeps in its per-key state table.
    """
    from mintpy_spark.operators.kalman import kalman_level

    ev = load(spark, sf_dir, "events")
    return _levels_e4(kalman_level(ev, "value", key="user_id", ts="ts", q=_Q, r=_R))


# shared SQL fragments (DuckDB): differenced series + quantized moments
_DIFF_SQL = """
    s AS (
      SELECT user_id, ts, CAST(value AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL
    ), dd AS (
      SELECT user_id, ts, y,
             y - lag(y) OVER (PARTITION BY user_id ORDER BY ts, y) AS d
      FROM s
    ), d2 AS (
      SELECT user_id, d,
             lead(d) OVER (PARTITION BY user_id ORDER BY ts, y) AS dn
      FROM dd
    ), agg AS (
      SELECT user_id, count(d) AS n_d,
             SUM(CAST(FLOOR(d * d * 1000000.0) AS BIGINT)) AS s0,
             SUM(CASE WHEN dn IS NOT NULL
                 THEN CAST(FLOOR(d * dn * 1000000.0) AS BIGINT) END) AS s1,
             SUM(CASE WHEN dn IS NOT NULL THEN 1 END) AS n1
      FROM d2 WHERE d IS NOT NULL
      GROUP BY user_id HAVING count(d) >= 2
    ), cm AS (
      SELECT user_id, n_d,
             CAST(s0 AS DOUBLE) / (CAST(n_d AS DOUBLE) * 1000000.0) AS c0,
             CAST(s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * 1000000.0) AS c1
      FROM agg
    )
"""


@_q(
    "kalman_qr_moments",
    f"""
    WITH {_DIFF_SQL}
    SELECT user_id, n_d,
           CAST(FLOOR(c0 * 10000.0) AS BIGINT) AS c0_e4,
           CAST(FLOOR(c1 * 10000.0) AS BIGINT) AS c1_e4,
           CAST(FLOOR((c0 + 2.0 * c1) * 10000.0) AS BIGINT) AS q_hat_e4,
           CAST(FLOOR((-c1) * 10000.0) AS BIGINT) AS r_hat_e4
    FROM cm
    """,
)
def kalman_qr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form method-of-moments (q, r) for the local-level model:
    with d_t = y_t - y_{{t-1}}, Var(d) = q + 2r and
    Cov(d_t, d_{{t+1}}) = -r, so r_hat = -c1, q_hat = c0 + 2 c1. The
    quantized-integer-sum discipline makes the per-key moments exact
    across engines. Reference analog: timeseries_rms.py noise-level
    estimation (fit the noise from the series, don't assume it).

    Scale: one window shuffle + one hash agg, zero Python, codegen end
    to end; at 10^9 keys the partial aggregation is map-side combined.
    """
    from mintpy_spark.operators.kalman import kalman_qr_moments as op

    return op(load(spark, sf_dir, "events"), "value", key="user_id", ts="ts")


@_q(
    "kalman_em_step",
    f"""
    WITH RECURSIVE s AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, value)
               AS rn,
             CAST(value AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL
    ), fwd AS (
      SELECT user_id, rn, y, y AS m, CAST({_R} AS DOUBLE) AS p
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, s.y,
             fwd.m + ((fwd.p + {_Q}) / (fwd.p + {_Q} + {_R}))
                   * (s.y - fwd.m),
             (1 - (fwd.p + {_Q}) / (fwd.p + {_Q} + {_R}))
               * (fwd.p + {_Q})
      FROM fwd JOIN s ON s.user_id = fwd.user_id AND s.rn = fwd.rn + 1
    ), mx AS (
      SELECT user_id, max(rn) AS tmax FROM s GROUP BY user_id
      HAVING max(rn) >= 2
    ), bwd AS (
      SELECT f.user_id, f.rn, f.m AS ms, f.p AS vs
      FROM fwd f JOIN mx ON f.user_id = mx.user_id AND f.rn = mx.tmax
      UNION ALL
      SELECT f.user_id, f.rn,
             f.m + (f.p / (f.p + {_Q})) * (b.ms - f.m),
             f.p + (f.p / (f.p + {_Q})) * (f.p / (f.p + {_Q}))
                 * (b.vs - (f.p + {_Q}))
      FROM bwd b JOIN fwd f
        ON f.user_id = b.user_id AND f.rn = b.rn - 1
    ), j AS (
      SELECT f.user_id, f.rn, f.y, f.p, b.ms, b.vs,
             lag(f.p) OVER (PARTITION BY f.user_id ORDER BY f.rn)
               AS p_prev,
             lag(b.ms) OVER (PARTITION BY f.user_id ORDER BY f.rn)
               AS ms_prev,
             lag(b.vs) OVER (PARTITION BY f.user_id ORDER BY f.rn)
               AS vs_prev
      FROM fwd f JOIN bwd b
        ON f.user_id = b.user_id AND f.rn = b.rn
    ), terms AS (
      SELECT user_id,
        CAST(FLOOR((((y - ms) * (y - ms)) + vs) * 1000000.0) AS BIGINT)
          AS e6r,
        CASE WHEN p_prev IS NULL THEN NULL ELSE
          CAST(FLOOR(((((ms - ms_prev) * (ms - ms_prev)) + vs) + vs_prev
              - 2.0 * ((p_prev / (p_prev + {_Q})) * vs)) * 1000000.0)
            AS BIGINT) END AS e6q
      FROM j
    )
    SELECT user_id, count(*) AS n,
           CAST(SUM(e6r) AS BIGINT) AS sum_r_e6,
           CAST(SUM(e6q) AS BIGINT) AS sum_q_e6,
           CAST(FLOOR((CAST(SUM(e6r) AS DOUBLE)
             / (CAST(count(*) AS DOUBLE) * 1000000.0)) * 10000.0)
             AS BIGINT) AS r1_e4,
           CAST(FLOOR((CAST(SUM(e6q) AS DOUBLE)
             / (CAST(count(*) - 1 AS DOUBLE) * 1000000.0)) * 10000.0)
             AS BIGINT) AS q1_e4
    FROM terms GROUP BY user_id
    """,
)
def kalman_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM iteration for per-key (q, r): forward Kalman filter at
    (q0=0.04, r0=1.0), RTS smoother, Shumway–Stoffer M-step. The oracle
    replays the forward AND backward recursions as recursive CTEs and
    aggregates the same floor-quantized per-row terms, so the sums are
    exact by construction.

    Scale: one shuffle into the seqstate seam; smoother variance
    sequences are data-independent given series length, so they are
    cached per distinct length and shared across keys — only the O(n)
    mean recursions touch data.
    """
    from mintpy_spark.operators.kalman import kalman_em_stats

    return kalman_em_stats(
        load(spark, sf_dir, "events"), "value", key="user_id", ts="ts",
        q0=_Q, r0=_R,
    )


@_q(
    "kalman_level_adaptive",
    f"""
    WITH RECURSIVE {_DIFF_SQL}, par AS (
      SELECT user_id,
        CASE WHEN (c0 + 2.0 * c1) > 0.000001
             THEN (c0 + 2.0 * c1) ELSE 0.000001 END AS qk,
        CASE WHEN (-c1) > 0.000001 THEN (-c1) ELSE 0.000001 END AS rk
      FROM cm
    ), sr AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, y)
               AS rn, y
      FROM s
    ), rec AS (
      SELECT sr.user_id, sr.rn, sr.y, sr.y AS m, par.rk AS p,
             par.qk AS qk, par.rk AS rk
      FROM sr JOIN par USING (user_id) WHERE sr.rn = 1
      UNION ALL
      SELECT sr.user_id, sr.rn, sr.y,
             rec.m + ((rec.p + rec.qk) / (rec.p + rec.qk + rec.rk))
                   * (sr.y - rec.m),
             (1 - (rec.p + rec.qk) / (rec.p + rec.qk + rec.rk))
               * (rec.p + rec.qk),
             rec.qk, rec.rk
      FROM rec JOIN sr
        ON sr.user_id = rec.user_id AND sr.rn = rec.rn + 1
    )
    SELECT user_id, rn,
           CAST(FLOOR(m * 10000) AS BIGINT) AS level_e4
    FROM rec
    """,
)
def kalman_level_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kalman local-level filter whose (q, r) are estimated per key from
    the key's own differenced-series moments (clamped below at 1e-6) —
    the composition MintPy performs when timeseries_rms-derived noise
    feeds inversion weights. Keys with < 3 observations are dropped.

    Scale: codegen moments agg, co-partitioned param join, one-pass
    seqstate seam — parameters ride along as two doubles per key.
    """
    from mintpy_spark.operators.kalman import kalman_level_adaptive as op

    return _levels_e4(op(load(spark, sf_dir, "events"), "value", key="user_id", ts="ts"))


# =========================================================================
# from queries_r4h.py
# =========================================================================

"""Round-4 batch h: Holt-Winters additive triple smoothing under the
driver oracle — the recursive-CTE twin of the Kalman filter
(queries_r4e.py), carrying the rotating 7-slot weekly seasonal profile
as explicit recursion state. Inputs are daily integer-cent sums so the
pre-aggregation is order-independent; the recursion itself is written in
the identical operation order on both sides.
"""


_A, _B, _G, _P = 0.3, 0.1, 0.2, 7

_S_OLD = (
    "(CASE (s.rn - 1) % 7"
    " WHEN 0 THEN rec.s0 WHEN 1 THEN rec.s1 WHEN 2 THEN rec.s2"
    " WHEN 3 THEN rec.s3 WHEN 4 THEN rec.s4 WHEN 5 THEN rec.s5"
    " ELSE rec.s6 END)"
)
_L_NEW = f"({_A} * (s.y - {_S_OLD}) + (1 - {_A}) * (rec.l + rec.b))"
_B_NEW = f"({_B} * ({_L_NEW} - rec.l) + (1 - {_B}) * rec.b)"
_S_NEW = f"({_G} * (s.y - {_L_NEW}) + (1 - {_G}) * {_S_OLD})"
_SLOTS = ", ".join(
    f"CASE WHEN (s.rn - 1) % 7 = {j} THEN {_S_NEW} ELSE rec.s{j} END AS s{j}"
    for j in range(_P)
)


@_q(
    "holt_winters_weekly",
    f"""
    WITH RECURSIVE daily AS (
      SELECT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
             CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), s AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn,
             y
      FROM daily
    ), rec AS (
      SELECT user_id, rn, y, y AS l, CAST(0 AS DOUBLE) AS b,
             CAST(0 AS DOUBLE) AS s0, CAST(0 AS DOUBLE) AS s1,
             CAST(0 AS DOUBLE) AS s2, CAST(0 AS DOUBLE) AS s3,
             CAST(0 AS DOUBLE) AS s4, CAST(0 AS DOUBLE) AS s5,
             CAST(0 AS DOUBLE) AS s6
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, s.y,
             {_L_NEW} AS l,
             {_B_NEW} AS b,
             {_SLOTS}
      FROM rec JOIN s ON s.user_id = rec.user_id AND s.rn = rec.rn + 1
    )
    SELECT user_id, rn,
           CAST(FLOOR(l * 10000) AS BIGINT) AS level_e4,
           CAST(FLOOR(b * 10000) AS BIGINT) AS trend_e4,
           CAST(FLOOR(CASE WHEN rn = 1 THEN 0
                WHEN (rn - 1) % 7 = 0 THEN s0 WHEN (rn - 1) % 7 = 1 THEN s1
                WHEN (rn - 1) % 7 = 2 THEN s2 WHEN (rn - 1) % 7 = 3 THEN s3
                WHEN (rn - 1) % 7 = 4 THEN s4 WHEN (rn - 1) % 7 = 5 THEN s5
                ELSE s6 END * 10000) AS BIGINT) AS seasonal_e4
    FROM rec
    """,
)
def holt_winters_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal Holt-Winters (alpha=0.3, beta=0.1, gamma=0.2, period 7)
    over each key's daily cent-sum series: filtered level, trend, and
    the seasonal slot written at each step, floor-quantized to 1e-4.
    The oracle replays the recursion with a RECURSIVE CTE whose state
    row carries the seven seasonal slots explicitly — bit-identical
    doubles before quantization.

    Reference analog: timeseries2velocity's periodic model terms
    (time_func.py annual/semi-annual design columns), recast as the
    online triple-smoothing pass a streaming tier loop would run.

    Scale: daily pre-aggregation is one map-side-combining shuffle; the
    smoothing pass is the same per-key Arrow seam as the Kalman filter
    with P + 2 doubles of state per key.
    """
    from mintpy_spark.operators.holtwinters import holt_winters_additive

    ev = load(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            "user_id", bucket_start(F.col("ts"), "1d").alias("bucket_start")
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("double")
            .alias("y")
        )
    )
    out = holt_winters_additive(
        daily, "y", key="user_id", ts="bucket_start",
        period=_P, alpha=_A, beta=_B, gamma=_G,
    )
    return out.select(
        "user_id",
        "rn",
        F.floor(F.col("level") * 10000).cast("long").alias("level_e4"),
        F.floor(F.col("trend") * 10000).cast("long").alias("trend_e4"),
        F.floor(F.col("seasonal") * 10000).cast("long").alias("seasonal_e4"),
    )


# =========================================================================
# from queries_r4i.py
# =========================================================================

"""Round-4 batch i: token-bucket admission simulation — the stateful
ENFORCEMENT twin of rate_limit_audit_1h (queries_r3w.py, which measures
violations but admits everything). Admission decisions feed back into
bucket state, so this is a per-key sequential recursion like the Kalman
and Holt-Winters passes — but in EXACT INTEGER milli-tokens (refill =
dt_us * rate // 1e6 microseconds), so the oracle recursion cannot even
ulp-drift.

Bucket: capacity 3000 mt (3 tokens), refill 1000 mt/hour, seeded full;
an event is admitted iff the refilled level holds >= 1000 mt and then
pays 1000 mt.
"""


_CAP = 3000          # milli-tokens
_COST = 1000
_RATE_MT_PER_HOUR = 1000
_US_PER_HOUR = 3_600_000_000


@_q(
    "token_bucket_admission",
    f"""
    WITH RECURSIVE e AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             epoch_us(ts) AS t
      FROM events
    ), rec AS (
      SELECT user_id, rn, t,
             CAST({_CAP} - {_COST} AS BIGINT) AS tokens,
             CAST(1 AS BIGINT) AS admitted
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn, e.t,
             CASE WHEN least({_CAP}, rec.tokens
                        + (e.t - rec.t) * {_RATE_MT_PER_HOUR}
                          // {_US_PER_HOUR}) >= {_COST}
                  THEN least({_CAP}, rec.tokens
                        + (e.t - rec.t) * {_RATE_MT_PER_HOUR}
                          // {_US_PER_HOUR}) - {_COST}
                  ELSE least({_CAP}, rec.tokens
                        + (e.t - rec.t) * {_RATE_MT_PER_HOUR}
                          // {_US_PER_HOUR}) END,
             CASE WHEN least({_CAP}, rec.tokens
                        + (e.t - rec.t) * {_RATE_MT_PER_HOUR}
                          // {_US_PER_HOUR}) >= {_COST}
                  THEN 1 ELSE 0 END
      FROM rec JOIN e ON e.user_id = rec.user_id AND e.rn = rec.rn + 1
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT)      AS n_events,
           CAST(SUM(admitted) AS BIGINT) AS n_admitted,
           CAST(COUNT(*) - SUM(admitted) AS BIGINT) AS n_rejected,
           CAST(arg_max(tokens, rn) AS BIGINT) AS final_tokens_mt
    FROM rec GROUP BY user_id
    """,
)
def token_bucket_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key token-bucket simulation (cap 3 tokens, 1 token/hour,
    seeded full, 1 token/event): admitted/rejected counts and the final
    bucket level in milli-tokens. Refill is integer microsecond
    arithmetic — (dt_us * rate) // us_per_hour — so engine and oracle
    step the identical integer state machine.

    Reference analog: the crawl politeness scheduler
    (operators/crawlsched.py:23 closed-form recurrence) enforces
    per-host pacing a priori; the token bucket is the posterior
    admission-control form every crawl frontier actually deploys.

    Scale: one shuffle into the per-key Arrow seam, O(1) integer state;
    the recursion is ``operators.crawlsched.TokenBucket``, which the
    streaming fold (token_bucket_realtime_check) runs too.
    """
    from mintpy_spark.operators.crawlsched import token_bucket

    return token_bucket(
        load(spark, sf_dir, "events"), "user_id", "ts",
        _CAP, _COST, _RATE_MT_PER_HOUR,
    )


# =========================================================================
# from queries_r4k.py
# =========================================================================

"""Round-4 batch k: the checkpoint/lineage table under the driver
oracle. The north rule requires every stage to write per-partition
lineage + row-count metrics so runs resume mid-tier; resume semantics
are pytest-covered (test_pipeline.py), and this query puts the METRICS
CONTRACT itself under the driver hash — the numbers read back from the
checkpoint table must equal an independent recount of the stage's
per-partition output.
"""


@_q(
    "checkpoint_lineage_audit",
    """
    SELECT user_id % 8 AS part_id,
           CAST(COUNT(*) AS BIGINT) AS row_count
    FROM (SELECT DISTINCT user_id, date_trunc('day', ts) FROM events)
    GROUP BY 1
    """,
)
def checkpoint_lineage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run a 1d-cell rollup stage partitioned by hash-mod-8, record one
    lineage row per partition through CheckpointTable.record's atomic
    temp+rename commit, then answer FROM THE CHECKPOINT TABLE via
    stage_metrics — the oracle independently recounts the per-partition
    1d cells, so a lineage row that under- or over-reports its
    partition flips the driver hash.

    Reference analog: run_or_skip's recorded config attrs + output size
    (utils/utils1.py:691-746) — the recast writes explicit row counts
    instead of trusting file sizes.

    Scale: the stage aggregation is the ordinary tier shuffle; lineage
    adds one bounded collect (one row per partition — 8 here, one per
    Spark partition in production) and a driver-side parquet append, the
    same cost the production export pipeline already pays per stage.
    """
    from mintpy_spark.plans.checkpoint import CheckpointTable

    ev = load(spark, sf_dir, "events")
    cells = (
        ev.select(
            (F.col("user_id") % 8).alias("part_id"),
            "user_id",
            bucket_start(F.col("ts"), "1d").alias("d"),
        )
        .distinct()
        .groupBy("part_id")
        .agg(F.count("*").cast("long").alias("row_count"))
    )
    counted = cells.collect()  # bounded: one row per partition
    root = tempfile.mkdtemp(prefix="lineage_audit_")
    ckpt = CheckpointTable(root)
    ckpt.record(
        uuid.uuid4().hex, f"events@{sf_dir}",
        {"rollup_1d": {r["part_id"]: r["row_count"] for r in counted}},
    )
    metrics = ckpt.stage_metrics("rollup_1d")
    shutil.rmtree(root, ignore_errors=True)  # metrics are already read
    return spark.createDataFrame(
        sorted(metrics.items()), "part_id long, row_count long"
    )


# =========================================================================
# from queries_r4l.py
# =========================================================================

"""Round-4 batch l: the streaming near-dup INDEX under the driver
oracle — the dedup sibling of tier_realtime_read_check (queries_r4a.py).
The documents table is folded into DedupIndexMaintainer in two
micro-batches (signature shard + pairs appended by one manifest commit per batch,
new-vs-new and new-vs-stored band probes, shared signature_verify
estimator); the union of emitted pairs must equal the one-shot batch
operator, whose generated SQL oracle (operators/dedup.minhash_oracle_sql)
is the same oracle dedup_minhash_lsh uses — so the driver hash certifies
the whole fold-probe-commit loop, not just batch LSH.
"""


@_q(
    "dedup_index_realtime_check",
    f"""
    SELECT doc_a, doc_b, ROUND(est_jaccard, 4) AS est_jaccard
    FROM ({D.minhash_oracle_sql(threshold=0.875)})
    """,
)
def dedup_index_realtime_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold documents into the streaming MinHash-LSH index in TWO
    micro-batches split by doc_id parity of position (first half /
    second half), then answer from emitted_pairs across committed
    batches. Equivalence contract under the driver hash: pairs emitted
    incrementally == dedup_minhash_lsh run once over everything.

    Reference analog: update-mode incremental reprocessing
    (utils/utils1.py:691 run_or_skip) — the index makes dedup
    delta-proportional instead of recompute-the-world.

    Scale: per batch, signatures are row-local and the probe join
    shuffles batch-band rows against the stored band projection (bucketed
    on band_key at production, so the stored side never reshuffles).
    """
    from mintpy_spark.streaming.dedup_stream import DedupIndexMaintainer

    docs = load(spark, sf_dir, "documents")
    mid_row = docs.select(
        F.percentile_approx("doc_id", 0.5, 10000).alias("m")
    ).collect()[0]
    mid = int(mid_row["m"])
    root = tempfile.mkdtemp(prefix="dedup_rt_check_")
    m = DedupIndexMaintainer(root, threshold=0.875)
    m.apply_batch(docs.where(F.col("doc_id") <= mid), batch_id=0)
    m.apply_batch(docs.where(F.col("doc_id") > mid), batch_id=1)
    # materialize off the store (localCheckpoint), then remove it — the
    # returned DataFrame must not depend on the temp directory
    pairs = m.emitted_pairs(spark).select(
        "doc_a", "doc_b", F.round("est_jaccard", 4).alias("est_jaccard")
    ).localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return pairs


# =========================================================================
# from queries_r4n.py
# =========================================================================

"""Round-4 batch n: Welford's online mean/variance recursion under the
driver oracle — the canonical single-pass moments algorithm (Welford
1962; Knuth TAOCP vol. 2 §4.2.2), certified bit-exact against a DuckDB
RECURSIVE CTE like the Kalman / Holt-Winters passes. This is the exact
algorithm the streaming anomaly path's state store would carry for
exact (non-EWMA) variance, so certifying it end-to-end pins the
engine's online-moments arithmetic, not just the batch STDDEV it must
agree with (the planted test cross-checks both).
"""


# one step of the recursion, inlined identically on both sides:
#   n'    = n + 1
#   delta = y - mean
#   mean' = mean + delta / n'
#   M2'   = M2 + delta * (y - mean')
_MEAN_NEW = "(rec.mean + (s.y - rec.mean) / CAST(rec.n + 1 AS DOUBLE))"


def _welford_e6(moments: DataFrame) -> DataFrame:
    """(user_id, n, mean, m2) -> the oracle's floor-quantized columns."""
    return moments.select(
        "user_id",
        "n",
        F.floor(F.col("mean") * 1000000).cast("long").alias("mean_e6"),
        F.floor(F.col("m2") * 1000000).cast("long").alias("m2_e6"),
        F.when(
            F.col("n") > 1,
            F.floor(
                F.col("m2") / (F.col("n") - 1).cast("double") * 1000000
            ).cast("long"),
        ).alias("var_e6"),
    )


@_q(
    "welford_online_var",
    f"""
    WITH RECURSIVE s AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, value)
               AS rn,
             CAST(value AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL
    ), rec AS (
      SELECT user_id, rn, CAST(1 AS BIGINT) AS n, y AS mean,
             CAST(0 AS DOUBLE) AS m2
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, rec.n + 1,
             {_MEAN_NEW},
             rec.m2 + (s.y - rec.mean) * (s.y - {_MEAN_NEW})
      FROM rec JOIN s ON s.user_id = rec.user_id AND s.rn = rec.rn + 1
    )
    SELECT user_id,
           CAST(arg_max(n, rn) AS BIGINT) AS n,
           CAST(FLOOR(arg_max(mean, rn) * 1000000) AS BIGINT) AS mean_e6,
           CAST(FLOOR(arg_max(m2, rn) * 1000000) AS BIGINT) AS m2_e6,
           CASE WHEN arg_max(n, rn) > 1 THEN
             CAST(FLOOR(arg_max(m2, rn)
                        / CAST(arg_max(n, rn) - 1 AS DOUBLE) * 1000000)
                  AS BIGINT) END AS var_e6
    FROM rec GROUP BY user_id
    """,
)
def welford_online_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key single-pass mean and sample variance via Welford's
    update, run on the sequential-state seam and floor-quantized to
    1e-6. The oracle replays the identical three-line recursion with a
    RECURSIVE CTE — same operation order, so mean and M2 agree to the
    last bit before quantization.

    Reference analog: the epoch/series std statistics
    (operators/stats.py mirrors timeseries_rms) computed ONLINE, the
    form a streaming maintainer keeps as (n, mean, M2) mergeable-free
    per-key state.

    Scale: one shuffle into the shared seqstate seam; three doubles of
    state per key. The recursion is ``operators.stats.Welford``, which
    the streaming fold (welford_realtime_check) runs too.
    """
    from mintpy_spark.operators.stats import welford_moments

    return _welford_e6(welford_moments(load(spark, sf_dir, "events"), "value"))


# =========================================================================
# from queries_r3dd.py
# =========================================================================

"""Round-3 additions, batch dd: hot-key skew audit and KS drift.

* skew audit — the diagnostic behind the north rule's "skew handled
  explicitly": BEFORE salting a join/agg key you measure which keys are
  hot.  Top-10 hottest user keys with individual and cumulative share
  in basis points, deterministic user_id tiebreaks.
* KS drift — Kolmogorov-Smirnov companion to the TVD query: the MAX
  cumulative-distribution gap between consecutive weeks' value
  histograms, sharing `operators/drift.consecutive_week_bins`.  KS is
  sensitive to localized shifts TVD averages away; like TVD it stays in
  rational arithmetic (cross products |CUMc*TP - CUMp*TC| are exact
  integers; no libm).
"""


@_q(
    "skew_audit_user_key",
    """
    WITH c AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1
    ), t AS (
      SELECT SUM(n) AS total FROM c
    ), r AS (
      SELECT user_id, n,
             row_number() OVER (ORDER BY n DESC, user_id NULLS LAST) AS rnk,
             SUM(n) OVER (ORDER BY n DESC, user_id NULLS LAST
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM c
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, user_id,
           CAST(n AS BIGINT) AS n_rows,
           CAST(floor(n * 10000.0 / t.total + 0.5) AS BIGINT) AS share_bp,
           CAST(floor(cum * 10000.0 / t.total + 0.5) AS BIGINT)
             AS cum_share_bp
    FROM r, t WHERE rnk <= 10
    """,
)
def skew_audit_user_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 hottest shuffle keys on user_id with per-key and cumulative
    share (bp) — the audit you run BEFORE deciding to salt a key
    (operators/partitioning.py) or let AQE split it.  A top key holding
    >1/parallelism of the rows is the straggler signature.  Plan: one
    key-count agg (map-side combined), then ranking over the KEY TABLE
    (not raw rows) — at 10^9 keys that window is the only global sort,
    and it sorts key counts, not data; the 1-row total is broadcast.
    Deterministic under ties via the user_id tiebreak."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    # NULLS LAST explicitly: Spark ascending defaults NULLS FIRST while
    # DuckDB defaults NULLS LAST — a NULL key tying inside the top-10
    # would fork the rank order (review finding). The NULL key stays IN
    # the audit (it is a real hot join key in practice), just ordered
    # identically on both engines.
    wr = Window.orderBy(F.desc("n"), F.asc_nulls_last("user_id"))
    r = c.select(
        "user_id",
        "n",
        F.row_number().over(wr).alias("rnk"),
        F.sum("n")
        .over(wr.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    ).where(F.col("rnk") <= 10)
    return r.crossJoin(F.broadcast(t)).select(
        F.col("rnk").cast("long").alias("rnk"),
        "user_id",
        F.col("n").cast("long").alias("n_rows"),
        F.floor(F.col("n") * 10000.0 / F.col("total") + 0.5)
        .cast("long")
        .alias("share_bp"),
        F.floor(F.col("cum") * 10000.0 / F.col("total") + 0.5)
        .cast("long")
        .alias("cum_share_bp"),
    )


@_q(
    "ks_drift_weekly",
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
      SELECT event_type, pw, bin, SUM(cur) AS cur, SUM(prev) AS prev
      FROM contrib GROUP BY 1, 2, 3
    ), t AS (
      SELECT event_type, pw, bin, cur, prev,
             SUM(cur) OVER (PARTITION BY event_type, pw) AS tc,
             SUM(prev) OVER (PARTITION BY event_type, pw) AS tp,
             SUM(cur) OVER (PARTITION BY event_type, pw ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cumc,
             SUM(prev) OVER (PARTITION BY event_type, pw ORDER BY bin
                             ROWS UNBOUNDED PRECEDING) AS cump
      FROM g
    )
    SELECT event_type, CAST(pw AS BIGINT) AS wk,
           CAST(MAX(tp) AS BIGINT) AS n_prev,
           CAST(MAX(tc) AS BIGINT) AS n_cur,
           CAST(floor(10000.0 * MAX(abs(cumc * tp - cump * tc))
                      / (MAX(tc) * MAX(tp)) + 0.5) AS BIGINT) AS ks_bp
    FROM t WHERE tc > 0 AND tp > 0
    GROUP BY 1, 2
    """,
)
def ks_drift_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov drift per event_type between consecutive
    weeks: max CDF gap over the 10 fixed value bins, in basis points.
    Catches localized distribution shifts that TVD's average washes out;
    identical single-pass scaffolding (consecutive_week_bins) plus a
    bin-ordered cumulative window, all integer cross-products until one
    final double division — no libm, engine-parity-safe."""
    from mintpy_spark.operators.drift import consecutive_week_bins

    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    t = consecutive_week_bins(
        ev,
        F.least(
            F.greatest(F.floor(F.col("value") / 50).cast("long"), F.lit(0)),
            F.lit(9),
        ),
    )
    wcum = (
        Window.partitionBy("event_type", "pw")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t2 = t.select(
        "event_type", "pw", "cur", "prev", "tc", "tp",
        F.sum("cur").over(wcum).alias("cumc"),
        F.sum("prev").over(wcum).alias("cump"),
    )
    return t2.groupBy("event_type", F.col("pw").alias("wk")).agg(
        F.max("tp").cast("long").alias("n_prev"),
        F.max("tc").cast("long").alias("n_cur"),
        F.floor(
            10000.0
            * F.max(F.abs(F.col("cumc") * F.col("tp") - F.col("cump") * F.col("tc")))
            / (F.max("tc") * F.max("tp"))
            + 0.5
        )
        .cast("long")
        .alias("ks_bp"),
    )


# =========================================================================
# round 5: streaming Kalman — the streaming leg of the sequential-state
# family, oracle-hashed like tier_realtime_read_check
# =========================================================================


def _fold_in_two_restarts(
    spark: SparkSession, rows: DataFrame, ts: str, recursion,
    value_col: str | None, post,
) -> DataFrame:
    """Replay ``rows`` (user_id, ts[, value]) through the streaming fold
    (streaming/seqfold.run_seq_fold: parquet source, availableNow, a
    foreachBatch fold over a versioned state table) in TWO RESTARTS split
    at the median timestamp, state restored from the committed version
    between them. Returns ``post`` of the emitted rows, materialized
    before the scratch directory goes. The bounded .collect() pulls one
    median timestamp."""
    from mintpy_spark.streaming.seqfold import run_seq_fold

    us = F.unix_micros(F.col(ts).cast("timestamp"))
    mid = rows.select(
        F.percentile_approx(us, 0.5, 10000).alias("m")
    ).collect()[0]["m"]
    root = tempfile.mkdtemp(prefix=f"{recursion.name}_rt_check_")
    inp, outp, ckpt = f"{root}/in", f"{root}/out", f"{root}/ckpt"
    for half in (us <= mid, us > mid):
        rows.where(half).write.mode("append").parquet(inp)
        run_seq_fold(
            spark, recursion, inp, outp, ckpt, rows.schema, value_col,
            key="user_id", ts=ts,
        )
    out = post(spark.read.parquet(outp)).localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


@_q(
    "kalman_realtime_check",
    """
    WITH RECURSIVE s AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, value)
               AS rn,
             CAST(value AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL
    ), rec AS (
      SELECT user_id, rn, y, y AS m, CAST(1.0 AS DOUBLE) AS p
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, s.y,
             rec.m + ((rec.p + 0.04) / (rec.p + 0.04 + 1.0))
                   * (s.y - rec.m),
             (1 - (rec.p + 0.04) / (rec.p + 0.04 + 1.0))
               * (rec.p + 0.04)
      FROM rec JOIN s ON s.user_id = rec.user_id AND s.rn = rec.rn + 1
    )
    SELECT user_id, rn,
           CAST(FLOOR(m * 10000) AS BIGINT) AS level_e4
    FROM rec
    """,
)
def kalman_realtime_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING Kalman filter under the batch oracle: replay the
    events table through a real Structured Streaming query
    (streaming/seqfold.run_seq_fold over ``operators.kalman.LocalLevel``)
    in TWO RESTARTS split at the median timestamp — state restored from the
    committed version between them — and hash the union of emitted rows
    against the same recursive-CTE oracle that certifies the batch filter
    (kalman_level_filter). Equality proves the state carry (last_ts, rn,
    m, p), the restart recovery, and the per-micro-batch fold reproduce
    the batch recursion bit-for-bit.

    Reference analog: update-mode incremental processing
    (smallbaselineApp run_or_skip) — new epochs fold into stored state,
    never re-reading history.

    Scale: O(1) state per key; each micro-batch shuffles the delta plus
    its keys' state rows.
    """
    from mintpy_spark.operators.kalman import LocalLevel

    return _fold_in_two_restarts(
        spark, load(spark, sf_dir, "events").select("user_id", "ts", "value"),
        "ts", LocalLevel(0.04, 1.0), "value",
        lambda out: out.select(
            "user_id",
            "rn",
            F.floor(F.col("level") * F.lit(10000)).cast("long").alias("level_e4"),
        ),
    )


@_q(
    "sessionize_realtime_check",
    """
    WITH sessions AS (
    """
    + sessionize_oracle_sql(gap_seconds=86400)
    + """
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY user_id ORDER BY session_start DESC) AS rk
      FROM sessions
    )
    SELECT user_id, session_start, session_end, duration_us, n_events,
           ROUND(vsum, 2) AS vsum
    FROM ranked WHERE rk > 1
    """,
)
def sessionize_realtime_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING sessionizer under the batch oracle: replay events
    through a real two-restart Structured Streaming run
    (streaming/seqfold.run_seq_fold over
    ``operators.sessionize.GapSessions``, gap = 1 day) and hash the emitted
    CLOSED sessions against the batch lag/cumsum sessionization MINUS
    each key's final session (still open in the stream's state — by
    construction the only difference between the two answers). Certifies
    the open-session state carry, the <=-merges boundary rule, restart
    recovery, and NULL-value semantics (extend but don't count) across
    micro-batch splits.

    Scale: 32 bytes of state per key; each micro-batch shuffles the
    delta plus its keys' state rows.
    """
    from mintpy_spark.operators.sessionize import GapSessions

    return _fold_in_two_restarts(
        spark, load(spark, sf_dir, "events").select("user_id", "ts", "value"),
        "ts", GapSessions(86400), "value",
        lambda out: out.select(
            "user_id", "session_start", "session_end", "duration_us",
            "n_events", F.round("vsum", 2).alias("vsum"),
        ),
    )


@_q(
    "holt_winters_realtime_check",
    f"""
    WITH RECURSIVE daily AS (
      SELECT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
             CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), s AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn,
             y
      FROM daily
    ), rec AS (
      SELECT user_id, rn, y, y AS l, CAST(0 AS DOUBLE) AS b,
             CAST(0 AS DOUBLE) AS s0, CAST(0 AS DOUBLE) AS s1,
             CAST(0 AS DOUBLE) AS s2, CAST(0 AS DOUBLE) AS s3,
             CAST(0 AS DOUBLE) AS s4, CAST(0 AS DOUBLE) AS s5,
             CAST(0 AS DOUBLE) AS s6
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, s.y,
             {_L_NEW} AS l,
             {_B_NEW} AS b,
             {_SLOTS}
      FROM rec JOIN s ON s.user_id = rec.user_id AND s.rn = rec.rn + 1
    )
    SELECT user_id, rn,
           CAST(FLOOR(l * 10000) AS BIGINT) AS level_e4,
           CAST(FLOOR(b * 10000) AS BIGINT) AS trend_e4,
           CAST(FLOOR(CASE WHEN rn = 1 THEN 0
                WHEN (rn - 1) % 7 = 0 THEN s0 WHEN (rn - 1) % 7 = 1 THEN s1
                WHEN (rn - 1) % 7 = 2 THEN s2 WHEN (rn - 1) % 7 = 3 THEN s3
                WHEN (rn - 1) % 7 = 4 THEN s4 WHEN (rn - 1) % 7 = 5 THEN s5
                ELSE s6 END * 10000) AS BIGINT) AS seasonal_e4
    FROM rec
    """,
)
def holt_winters_realtime_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING Holt-Winters smoother under the batch oracle:
    finalized daily cent-sum buckets (the watermark-finalized 1d tier's
    output contract) replay through a real two-restart Structured
    Streaming run (streaming/seqfold.run_seq_fold over
    ``operators.holtwinters.HoltWinters``) split at the median day —
    state (level, trend, 7 seasonal slots) restored from the committed
    version between restarts — and the union of emitted rows is
    hashed against the same recursive-CTE oracle that certifies the
    batch pass (holt_winters_weekly). The daily pre-aggregation is
    integer-cents, so computing it in batch before the split is
    order-free and legitimate.

    Scale: P + 2 doubles of state per key; each micro-batch shuffles
    the delta plus its keys' state rows.
    """
    from mintpy_spark.operators.holtwinters import HoltWinters

    ev = load(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("value").isNotNull())
        .groupBy("user_id", bucket_start(F.col("ts"), "1d").alias("bucket_start"))
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("double")
            .alias("y")
        )
    )
    return _fold_in_two_restarts(
        spark, daily, "bucket_start", HoltWinters(7, _A, _B, _G), "y",
        lambda out: out.select(
            "user_id",
            "rn",
            F.floor(F.col("level") * 10000).cast("long").alias("level_e4"),
            F.floor(F.col("trend") * 10000).cast("long").alias("trend_e4"),
            F.floor(F.col("seasonal") * 10000).cast("long")
            .alias("seasonal_e4"),
        ),
    )


@_q(
    "welford_realtime_check",
    f"""
    WITH RECURSIVE s AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, value)
               AS rn,
             CAST(value AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL
    ), rec AS (
      SELECT user_id, rn, CAST(1 AS BIGINT) AS n, y AS mean,
             CAST(0 AS DOUBLE) AS m2
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, rec.n + 1,
             {_MEAN_NEW},
             rec.m2 + (s.y - rec.mean) * (s.y - {_MEAN_NEW})
      FROM rec JOIN s ON s.user_id = rec.user_id AND s.rn = rec.rn + 1
    )
    SELECT user_id,
           CAST(arg_max(n, rn) AS BIGINT) AS n,
           CAST(FLOOR(arg_max(mean, rn) * 1000000) AS BIGINT) AS mean_e6,
           CAST(FLOOR(arg_max(m2, rn) * 1000000) AS BIGINT) AS m2_e6,
           CASE WHEN arg_max(n, rn) > 1 THEN
             CAST(FLOOR(arg_max(m2, rn)
                        / CAST(arg_max(n, rn) - 1 AS DOUBLE) * 1000000)
                  AS BIGINT) END AS var_e6
    FROM rec GROUP BY user_id
    """,
)
def welford_realtime_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING Welford moments under the batch oracle: replay
    events through a real two-restart Structured Streaming run
    (streaming/seqfold.run_seq_fold over ``operators.stats.Welford``)
    split at the median timestamp — state (n, mean, M2) restored from
    the committed version between restarts — then take each key's final
    row (max n) and hash it against the same recursive-CTE oracle that
    certifies the batch pass (welford_online_var).

    Scale: three doubles of state per key; each micro-batch shuffles the
    delta plus its keys' state rows.
    """
    from mintpy_spark.operators.stats import Welford

    return _fold_in_two_restarts(
        spark, load(spark, sf_dir, "events").select("user_id", "ts", "value"),
        "ts", Welford(), "value",
        lambda out: _welford_e6(out.groupBy("user_id").agg(
            F.max("n").alias("n"),
            F.max_by("mean", "n").alias("mean"),
            F.max_by("m2", "n").alias("m2"),
        )),
    )


@_q(
    "token_bucket_realtime_check",
    f"""
    WITH RECURSIVE e AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             epoch_us(ts) AS t
      FROM events
    ), rec AS (
      SELECT user_id, rn, t,
             CAST({_CAP} - {_COST} AS BIGINT) AS tokens,
             CAST(1 AS BIGINT) AS admitted
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn, e.t,
             CASE WHEN least({_CAP}, rec.tokens
                        + (e.t - rec.t) * {_RATE_MT_PER_HOUR}
                          // {_US_PER_HOUR}) >= {_COST}
                  THEN least({_CAP}, rec.tokens
                        + (e.t - rec.t) * {_RATE_MT_PER_HOUR}
                          // {_US_PER_HOUR}) - {_COST}
                  ELSE least({_CAP}, rec.tokens
                        + (e.t - rec.t) * {_RATE_MT_PER_HOUR}
                          // {_US_PER_HOUR}) END,
             CASE WHEN least({_CAP}, rec.tokens
                        + (e.t - rec.t) * {_RATE_MT_PER_HOUR}
                          // {_US_PER_HOUR}) >= {_COST}
                  THEN 1 ELSE 0 END
      FROM rec JOIN e ON e.user_id = rec.user_id AND e.rn = rec.rn + 1
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT)      AS n_events,
           CAST(SUM(admitted) AS BIGINT) AS n_admitted,
           CAST(COUNT(*) - SUM(admitted) AS BIGINT) AS n_rejected,
           CAST(arg_max(tokens, rn) AS BIGINT) AS final_tokens_mt
    FROM rec GROUP BY user_id
    """,
)
def token_bucket_realtime_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING token bucket under the batch oracle: events replay
    through a real two-restart Structured Streaming run
    (streaming/seqfold.run_seq_fold over
    ``operators.crawlsched.TokenBucket``) split at the median
    timestamp — integer bucket state restored from the committed
    version — and the per-key
    aggregate of emitted decisions is hashed against the same
    recursive-CTE oracle as the batch simulation
    (token_bucket_admission). Exact integer state, so stream == batch
    cannot even ulp-drift; the check certifies the state carry, restart
    recovery, and replay skip.

    Scale: four longs of state per key; each micro-batch shuffles the
    delta plus its keys' state rows.
    """
    from mintpy_spark.operators.crawlsched import TokenBucket

    return _fold_in_two_restarts(
        spark, load(spark, sf_dir, "events").select("user_id", "ts"), "ts",
        TokenBucket(_CAP, _COST, _RATE_MT_PER_HOUR), None,
        lambda out: out.groupBy("user_id").agg(
            F.max("rn").alias("n_events"),
            F.sum(F.col("admitted").cast("long")).alias("n_admitted"),
            (F.max("rn") - F.sum(F.col("admitted").cast("long")))
            .alias("n_rejected"),
            F.max_by("tokens_mt", "rn").alias("final_tokens_mt"),
        ),
    )
