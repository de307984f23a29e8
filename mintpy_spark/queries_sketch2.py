"""Sketch-tier queries: CMS, HDR, HLL, bloom, bitmap, KMV algebra, median-of-means.

Consolidated from the round-batch modules named in the section
markers below (pure moves, zero semantic change — VERDICT r4 #10).
"""

from __future__ import annotations

from mintpy_spark.functions.scalars import HASH60_SPACE, nonempty_tokens, portable_hash60
from mintpy_spark.functions.timefn import bucket_start
from mintpy_spark.operators.bitmap import (
    active_days,
    epoch_day,
    presence_merge,
    presence_tier,
)
from mintpy_spark.operators.cadence import rate_limit_audit
from mintpy_spark.operators.sampling import priority_sample
from mintpy_spark.operators.sketch import (
    CMS_DEPTH,
    CMS_WIDTH,
    HLL_BUCKETS,
    HLL_EST_NUM,
    HLL_MAX_RHO,
    bloom_probe,
    bloom_tier,
    cms_estimate,
    cms_merge,
    cms_tier,
    hdr_merge,
    hdr_quantiles,
    hdr_tier,
    hll_estimate,
    hll_merge,
    hll_tier,
    kmv_set,
    kmv_theta,
)
from mintpy_spark.queries import _q, load
from mintpy_spark.queries_tiers import KMV_K
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


# =========================================================================
# from queries_r3s.py
# =========================================================================

"""Round-3 additions, batch s: Count-Min frequency-sketch tier,
priority (weighted) sampling, and a Zipf rank-frequency slope audit.

The CMS completes the engine's mergeable-sketch family (histogram tier
-> quantiles, KMV tier -> distinct counts, CMS -> point frequencies):
order-independent, loss-free mergeable across tier levels, and
engine-portable via the shared md5 hash, so the whole sketch — not just
its estimates — is oracle-checked bit-for-bit. Priority sampling is the
deterministic weighted-without-replacement scheme a curation pipeline
uses to downsample by quality weight while keeping subset sums unbiased
(Duffield/Lund/Thorup 2007); its priorities use only IEEE
multiply/divide so ranks cannot flip between engines. The Zipf slope is
the classic corpus-health diagnostic (natural text ~ -1).

Reference parity: the CMS is the frequency analog of the reference's
mask-stack counting aggregates (generate_mask.py threshold counts); the
sampler extends §2.11 partitioning/sampling; no direct MintPy analog for
the Zipf fit (text-specific, per the training-data-pipeline brief).
"""


# Probe watchlist for the CMS point-frequency query: common synthetic
# vocabulary plus one guaranteed-absent token (its estimate must be an
# exact 0 — the min over rows annihilates on any empty counter).
_CMS_PROBES = ("table", "spark", "hash", "window", "zz_absent")
_CMS_DEPTH, _CMS_WIDTH = 4, 64

_PROBES_SQL = "[" + ", ".join(f"'{t}'" for t in _CMS_PROBES) + "]"


@_q(
    "sketch_cms_token_freq",
    f"""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split(text, ' '), t -> t <> ''))
               AS tok
      FROM documents
    ), sk AS (
      SELECT source, r,
             ('0x' || substring(md5(tok || '|' || CAST(r AS VARCHAR)),
                                1, 15))::BIGINT % {_CMS_WIDTH} AS bucket,
             COUNT(*) AS cnt
      FROM toks CROSS JOIN range({_CMS_DEPTH}) t(r)
      GROUP BY 1, 2, 3
    ), pb AS (
      SELECT s.source, p.token, t.r,
             ('0x' || substring(md5(p.token || '|' || CAST(t.r AS VARCHAR)),
                                1, 15))::BIGINT % {_CMS_WIDTH} AS bucket
      FROM (SELECT DISTINCT source FROM documents) s
      CROSS JOIN (SELECT unnest({_PROBES_SQL}) AS token) p
      CROSS JOIN range({_CMS_DEPTH}) t(r)
    ), est AS (
      SELECT pb.source, pb.token,
             MIN(COALESCE(sk.cnt, 0)) AS est
      FROM pb LEFT JOIN sk USING (source, r, bucket)
      GROUP BY 1, 2
    ), ex AS (
      SELECT source, tok AS token, COUNT(*) AS exact
      FROM toks WHERE tok IN (SELECT unnest({_PROBES_SQL}))
      GROUP BY 1, 2
    )
    SELECT est.source, est.token,
           CAST(est.est AS BIGINT) AS est,
           CAST(COALESCE(ex.exact, 0) AS BIGINT) AS exact
    FROM est LEFT JOIN ex USING (source, token)
    """,
)
def sketch_cms_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Count-Min point-frequency estimates for a fixed probe
    watchlist, alongside the exact counts (est >= exact always; the
    absent probe reports est = exact = 0 here because at this corpus's
    per-source vocabulary some of its 4 width-64 counters stay empty —
    with a saturated sketch the guarantee is only est >= exact).

    Plan: three corpus passes at sandbox layout — the sketch hash-agg
    (map-side combine bounds its Exchange at d*w rows per source), the
    exact-count re-scan (probe-filtered pre-join), and the distinct
    sources scan for the probe frame. The exact branch is this query's
    VERIFICATION tier (same discipline as the dedup twins): production
    at 10^12 tokens runs the sketch agg alone and probes stored
    sketches; distinct sources come from the sketch itself."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(nonempty_tokens(F.col("text"))).alias("tok")
    )
    sk = cms_tier(
        toks, "tok", key_cols=("source",),
        depth=_CMS_DEPTH, width=_CMS_WIDTH,
    )
    probes = (
        docs.select("source").distinct()
        .crossJoin(
            F.broadcast(
                spark.createDataFrame(
                    [(t,) for t in _CMS_PROBES], "token string"
                )
            )
        )
    )
    est = cms_estimate(
        sk, probes, "token", key_cols=("source",),
        depth=_CMS_DEPTH, width=_CMS_WIDTH,
    )
    exact = (
        toks.where(F.col("tok").isin(*_CMS_PROBES))
        .groupBy("source", F.col("tok").alias("token"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact"))
    )
    return est.join(exact, ["source", "token"], "left").select(
        "source",
        "token",
        "est",
        F.coalesce(F.col("exact"), F.lit(0)).cast("long").alias("exact"),
    )


@_q(
    "sample_priority_weighted",
    """
    WITH q AS (
      SELECT source, doc_id, n_chars,
             CAST(n_chars AS DOUBLE) * 1152921504606846976.0
               / CAST((('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                          1, 15))::BIGINT + 1) AS DOUBLE)
               AS qv
      FROM documents
    ), r AS (
      SELECT source, doc_id, n_chars, qv,
             row_number() OVER (PARTITION BY source
                                ORDER BY qv DESC, doc_id ASC) AS rn
      FROM q
    ), t AS (
      SELECT source, MAX(CASE WHEN rn = 6 THEN qv END) AS tau
      FROM r GROUP BY 1
    )
    SELECT r.source, r.doc_id, r.n_chars,
           CAST(r.rn AS INT) AS rank,
           greatest(CAST(r.n_chars AS DOUBLE), COALESCE(t.tau, 0.0))
             AS est_w
    FROM r JOIN t USING (source)
    WHERE r.rn <= 5
    """,
)
def sample_priority_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample (k=5 per source, weight = n_chars)
    via priority sampling, with the Horvitz-Thompson est_w estimator.
    Priorities are hash-derived and use only IEEE multiply/divide, so
    the SAME rows sample in Spark, DuckDB, or any rerun — the
    reproducibility invariant of curation sampling. One window Exchange
    on source.

    est_w is compared UNROUNDED: it contains no summation (w is an
    exact small integer in double; tau a max over exact quotients, and
    max is order-free), so both engines produce bit-identical doubles —
    in-query ROUND would only ADD a half-point divergence channel
    (memory: floor-quantize or don't round at all; never ROUND a
    cross-engine-compared double)."""
    docs = load(spark, sf_dir, "documents")
    out = priority_sample(
        docs, weight_col="n_chars", k=5, id_col="doc_id",
        group_cols=("source",),
    )
    return out.select(
        "source",
        "doc_id",
        "n_chars",
        F.col("rank").cast("int").alias("rank"),
        F.col("est_w"),
    )


@_q(
    "text_zipf_slope",
    """
    WITH cnts AS (
      SELECT source, tok, COUNT(*) AS cnt
      FROM (SELECT source,
                   unnest(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS tok
            FROM documents)
      GROUP BY 1, 2
    ), ranked AS (
      SELECT source, cnt,
             row_number() OVER (PARTITION BY source
                                ORDER BY cnt DESC, tok ASC) AS rnk
      FROM cnts
    ), xy AS (
      SELECT source, ln(CAST(rnk AS DOUBLE)) AS x,
             ln(CAST(cnt AS DOUBLE)) AS y
      FROM ranked WHERE rnk <= 50
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           round((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                 / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)), 4)
             AS zipf_slope
    FROM xy GROUP BY source
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf rank-frequency slope: OLS of ln(count) on
    ln(rank) over the top-50 tokens (deterministic rank: count desc,
    token asc). Natural language sits near -1; a slope far from it
    flags template spam or vocabulary collapse — a corpus-health gate.
    Plan: token explode -> (source, tok) hash agg -> per-source window
    top-50 -> tiny closed-form agg; two Exchanges, both on source."""
    docs = load(spark, sf_dir, "documents")
    cnts = (
        docs.select(
            "source", F.explode(nonempty_tokens(F.col("text"))).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("tok").asc()
    )
    xy = (
        cnts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 50)
        .select(
            "source",
            F.log(F.col("rnk").cast("double")).alias("x"),
            F.log(F.col("cnt").cast("double")).alias("y"),
        )
    )
    n = F.count(F.lit(1))
    return xy.groupBy("source").agg(
        n.cast("long").alias("n_terms"),
        F.round(
            (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
            / (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")),
            4,
        ).alias("zipf_slope"),
    )


# =========================================================================
# from queries_r3t.py
# =========================================================================

"""Round-3 additions, batch t: HDR log-bucketed quantile-sketch tier,
Markov event-transition census, and a diurnal-concentration entropy
audit.

The HDR sketch is the production percentile tier (HdrHistogram /
DDSketch family): log2 buckets give bounded RELATIVE error across the
full dynamic range with no a-priori [lo, hi) choice — the fixed-width
histogram tier (operators/rollup.histogram_tier) clips whatever range it
wasn't sized for, which is fatal for latency/size p99s. Bucketing is
exact integer arithmetic, so unlike DDSketch's log-gamma the WHOLE
sketch is oracle-checkable bit-for-bit, and the Spark side deliberately
builds 1d sketches by MERGING 1h sketches while the oracle builds them
directly from raw rows — the driver hash-check is therefore a proof of
loss-free mergeability (same design as the KMV tier oracle).

The transition census is first-order Markov structure over per-user
event streams (the sequence-analytics staple); the diurnal entropy is
the hour-of-day concentration diagnostic (bots are metronomic — low
entropy; organic traffic is spread — high entropy).
"""


# shared SQL fragment: the HDR bucket of a positive BIGINT at
# sub_bits=3 (s = max(bitlength-4, 0)) — EXACT integer shifts, valid
# over the full BIGINT range (a double-based floor(v/2^s)*2^s breaks
# at v >= 2^53: the double cast rounds, pushing the bucket edge above
# the value, and the top octave overflows the BIGINT cast)
_HDR_BUCKET_SQL = """
  CASE WHEN cents <= 0 THEN 0
       ELSE (cents >> greatest(length(bin(cents)) - 4, 0))
            << greatest(length(bin(cents)) - 4, 0)
  END
"""


@_q(
    "rollup_1d_hdr_quantiles",
    f"""
    WITH obs AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ), sk AS (
      SELECT day, {_HDR_BUCKET_SQL} AS bucket, COUNT(*) AS cnt
      FROM obs GROUP BY 1, 2
    ), c AS (
      SELECT day, bucket,
             SUM(cnt) OVER (PARTITION BY day ORDER BY bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY day) AS tot
      FROM sk
    ), hit AS (
      SELECT day, q, MIN(bucket) AS qa
      FROM c CROSS JOIN (SELECT unnest([0.50, 0.95, 0.99]) AS q)
      WHERE cum >= ceil(q * tot)
      GROUP BY 1, 2
    ), ex AS (
      SELECT day, quantile_cont(cents, 0.95) AS exact_p95
      FROM obs GROUP BY 1
    )
    SELECT hit.day,
           CAST(MAX(CASE WHEN q = 0.50 THEN qa END) AS BIGINT) AS p50,
           CAST(MAX(CASE WHEN q = 0.95 THEN qa END) AS BIGINT) AS p95,
           CAST(MAX(CASE WHEN q = 0.99 THEN qa END) AS BIGINT) AS p99,
           round(MAX(ex.exact_p95), 4) AS exact_p95
    FROM hit JOIN ex USING (day)
    GROUP BY hit.day
    """,
)
def rollup_1d_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day p50/p95/p99 of integer-cents values from the HDR sketch
    tier, next to the exact p95 (the accuracy report: the sketch value
    is within 2^-3 relative error of it). The Spark plan builds 1h
    sketches and MERGES them to 1d — hash-matching the oracle's
    direct-from-raw build proves the cascade loses nothing.

    Plan: one pruned scan -> (day, hour, bucket) hash agg with map-side
    combine -> tiny merge agg -> ONE cumulative window over <=512
    buckets/day with all three quantiles as conditional MINs
    (hdr_quantiles) -> join with the exact-percentile agg; at 10^12
    rows only the sketch agg and the exact agg touch raw data, and the
    sketch Exchange carries at most days*24*512 rows."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    obs = ev.select(
        bucket_start(F.col("ts"), "1d").alias("day"),
        bucket_start(F.col("ts"), "1h").alias("hour"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    sk_1h = hdr_tier(obs, "cents", key_cols=("day", "hour"))
    sk_1d = hdr_merge(sk_1h.drop("hour"), key_cols=("day",))
    ps = hdr_quantiles(
        sk_1d, {"p50": 0.50, "p95": 0.95, "p99": 0.99}, key_cols=("day",)
    )
    exact = obs.groupBy("day").agg(
        F.round(F.percentile(F.col("cents"), F.lit(0.95)), 4).alias(
            "exact_p95"
        )
    )
    return ps.join(exact, "day").select(
        "day", "p50", "p95", "p99", "exact_p95"
    )


@_q(
    "event_transition_top",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), pairs AS (
      SELECT event_type AS prev_type, next_type, COUNT(*) AS cnt
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ), tot AS (
      SELECT prev_type, SUM(cnt) AS tot FROM pairs GROUP BY 1
    ), ranked AS (
      SELECT p.prev_type, p.next_type, p.cnt,
             CAST(floor(p.cnt * 10000.0 / t.tot + 0.5) AS BIGINT)
               AS prob_bp,
             row_number() OVER (PARTITION BY p.prev_type
                                ORDER BY p.cnt DESC, p.next_type ASC)
               AS rn
      FROM pairs p JOIN tot t USING (prev_type)
    )
    SELECT prev_type, next_type, CAST(cnt AS BIGINT) AS cnt, prob_bp
    FROM ranked WHERE rn <= 3
    """,
)
def event_transition_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition census: per event_type, the top-3
    next event types across all per-user streams, with exact counts and
    integer basis-point transition probabilities (deterministic order:
    ts then event_id within a user; count desc then next_type for the
    rank). Plan: one window pass keyed on user (the same Exchange every
    sessionization query pays) -> tiny (prev, next) hash agg -> rank
    over an |event_type|^2-bounded table."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .where(F.col("next_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w_tot = Window.partitionBy("prev_type")
    ranked = (
        pairs.withColumn(
            "prob_bp",
            F.floor(
                F.col("cnt") * F.lit(10000.0) / F.sum("cnt").over(w_tot)
                + F.lit(0.5)
            ).cast("long"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("prev_type").orderBy(
                    F.col("cnt").desc(), F.col("next_type").asc()
                )
            ),
        )
    )
    return ranked.where(F.col("rn") <= 3).select(
        "prev_type", "next_type", "cnt", "prob_bp"
    )


@_q(
    "diurnal_entropy",
    """
    WITH h AS (
      SELECT event_type, CAST(hour(ts) AS INT) AS hod, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT event_type, SUM(cnt) AS tot FROM h GROUP BY 1
    ), pk AS (
      SELECT event_type, hod AS peak_hour
      FROM (SELECT event_type, hod,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY cnt DESC, hod ASC) AS rn
            FROM h)
      WHERE rn = 1
    )
    SELECT h.event_type,
           CAST(MAX(t.tot) AS BIGINT) AS n_events,
           CAST(MAX(pk.peak_hour) AS INT) AS peak_hour,
           round(-SUM((CAST(h.cnt AS DOUBLE) / t.tot)
                      * ln(CAST(h.cnt AS DOUBLE) / t.tot)), 4) AS entropy
    FROM h JOIN t USING (event_type) JOIN pk USING (event_type)
    GROUP BY h.event_type
    """,
)
def diurnal_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day concentration per event_type: Shannon entropy of the
    24-bin diurnal histogram (metronomic/bot-like traffic scores low,
    organic traffic high) plus the peak hour (deterministic tie: the
    smallest hour). One pruned scan -> 24-row-per-type hash agg; the
    entropy folds over at most 24 terms per type."""
    ev = load(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hod")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_tot = Window.partitionBy("event_type")
    w_rank = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("hod").asc()
    )
    p = F.col("cnt").cast("double") / F.col("tot")
    return (
        h.withColumn("tot", F.sum("cnt").over(w_tot))
        .withColumn("rn", F.row_number().over(w_rank))
        .groupBy("event_type")
        .agg(
            F.max("tot").cast("long").alias("n_events"),
            F.max(F.when(F.col("rn") == 1, F.col("hod")))
            .cast("int")
            .alias("peak_hour"),
            F.round(-F.sum(p * F.log(p)), 4).alias("entropy"),
        )
    )


# =========================================================================
# from queries_r3u.py
# =========================================================================

"""Round-3 additions, batch u: presence-bitmap tier, audience-overlap
Jaccard, discrete conversion hazard, and a Gini concentration audit.

* presence bitmap — the Druid/ClickHouse-style bitmap tier: per-user day
  presence as OR-mergeable int64 masks (operators/bitmap.py). The Spark
  side deliberately builds the tier from two disjoint halves of the
  stream and MERGES them while the oracle builds directly from raw rows,
  so the driver hash-check proves the loss-free (and replay-idempotent)
  merge — the KMV/HDR oracle design.
* audience overlap — exact |A∩B| / Jaccard between event-type audiences;
  the corpus-mixing overlap audit (how much do two sources/streams share
  users) done as one distinct pass + a key-colocated self-join.
* conversion hazard — discrete-time hazard of first purchase after first
  click (the Kaplan-Meier numerator/denominator without censoring),
  exact integer counts with basis-point rates.
* Gini concentration — is the stream dominated by few users? The Spark
  plan is the SCALE-SAFE count-histogram form (tie-block closed form
  over distinct count values); the oracle is the independent naive
  row_number formulation, so the hash match proves the closed form.
"""


@_q(
    "presence_bitmap_60d",
    """
    WITH d AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed
      FROM events
    )
    SELECT user_id,
           CAST(ed // 60 AS BIGINT) AS block,
           bit_or(1::BIGINT << CAST(ed % 60 AS INT)) AS bitmap,
           CAST(bit_count(bit_or(1::BIGINT << CAST(ed % 60 AS INT)))
                AS INT) AS active_days,
           CAST(min(ed) AS BIGINT) AS d_min,
           CAST(max(ed) AS BIGINT) AS d_max
    FROM d GROUP BY 1, 2
    """,
)
def presence_bitmap_60d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 60-day presence bitmaps with popcount active-day counts.
    The Spark plan tiers two disjoint halves of the stream (event_id
    parity) and bit_or-MERGES them; the oracle builds each mask straight
    from raw — hash equality proves the merge loses nothing. Plan: two
    pruned scans -> hash aggs with map-side combine -> tiny merge agg;
    every Exchange carries (user, block) rows only, ~1/60th of the
    day-level row count and independent of per-day event volume."""
    ev = load(spark, sf_dir, "events")
    even = presence_tier(ev.where(F.col("event_id") % 2 == 0))
    odd = presence_tier(ev.where(F.col("event_id") % 2 == 1))
    merged = presence_merge(even.unionByName(odd))
    return merged.select(
        "user_id",
        "block",
        "bitmap",
        active_days().alias("active_days"),
        "d_min",
        "d_max",
    )


@_q(
    "audience_overlap_jaccard",
    """
    WITH a AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), t AS (
      SELECT event_type, COUNT(*) AS n FROM a GROUP BY 1
    ), inter AS (
      SELECT x.event_type AS type_a, y.event_type AS type_b,
             COUNT(*) AS n_inter
      FROM a x JOIN a y
        ON x.user_id = y.user_id AND x.event_type < y.event_type
      GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b,
           CAST(ta.n AS BIGINT) AS n_a,
           CAST(tb.n AS BIGINT) AS n_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(floor(i.n_inter * 10000.0
                      / (ta.n + tb.n - i.n_inter) + 0.5) AS BIGINT)
             AS jaccard_bp
    FROM inter i
    JOIN t ta ON ta.event_type = i.type_a
    JOIN t tb ON tb.event_type = i.type_b
    """,
)
def audience_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact audience overlap between event types: |A∩B|, |A|, |B| and
    integer basis-point Jaccard for every type pair sharing at least one
    user. Plan: one distinct pass keyed (type, user) -> self-join
    CO-LOCATED on user_id (the same Exchange), exploding each user into
    at most |types|-choose-2 pairs (bounded by type cardinality, not
    data volume) -> tiny pair agg -> broadcast joins against the 5-row
    per-type totals."""
    ev = load(spark, sf_dir, "events")
    a = ev.select("event_type", "user_id").distinct()
    t = a.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    x, y = a.alias("x"), a.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    ta = F.broadcast(t.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a")))
    tb = F.broadcast(t.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b")))
    uni = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return (
        inter.join(ta, "type_a")
        .join(tb, "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "n_inter",
            F.floor(F.col("n_inter") * F.lit(10000.0) / uni + F.lit(0.5))
            .cast("long")
            .alias("jaccard_bp"),
        )
    )


@_q(
    "conversion_hazard_daily",
    """
    WITH fc AS (
      SELECT user_id, min(ts) AS click_ts FROM events
      WHERE event_type = 'click' GROUP BY 1
    ), fp AS (
      SELECT e.user_id, min(e.ts) AS purch_ts
      FROM events e JOIN fc ON e.user_id = fc.user_id
      WHERE e.event_type = 'purchase' AND e.ts > fc.click_ts
      GROUP BY 1
    ), conv AS (
      SELECT date_diff('day', CAST(fc.click_ts AS DATE),
                       CAST(fp.purch_ts AS DATE)) AS d,
             COUNT(*) AS n_conv
      FROM fc JOIN fp ON fc.user_id = fp.user_id
      GROUP BY 1
    ), tot AS (SELECT COUNT(*) AS n FROM fc),
    haz AS (
      SELECT d, n_conv,
             (SELECT n FROM tot)
               - COALESCE(SUM(n_conv) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS at_risk
      FROM conv
    )
    SELECT CAST(d AS INT) AS day_offset,
           CAST(n_conv AS BIGINT) AS n_converted,
           CAST(at_risk AS BIGINT) AS n_at_risk,
           CAST(floor(n_conv * 10000.0 / at_risk + 0.5) AS BIGINT)
             AS hazard_bp
    FROM haz
    """,
)
def conversion_hazard_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time conversion hazard: among users with a 'click', the
    per-day-offset rate of FIRST 'purchase' strictly after the first
    click — n_converted(d) / n_at_risk(d) with the at-risk set shrinking
    by prior conversions (Kaplan-Meier numerator/denominator, no
    censoring term). All counts exact integers; rates integer basis
    points. Plan: first-click agg and the purchase join share the
    user_id Exchange; the offset census is a tiny hash agg; the at-risk
    cumulative window runs over <= max-offset rows."""
    ev = load(spark, sf_dir, "events")
    fc = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .where(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purch_ts"), F.min("click_ts").alias("click_ts"))
    )
    conv = fp.groupBy(
        F.datediff(F.to_date("purch_ts"), F.to_date("click_ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n_conv"))
    tot = fc.agg(F.count(F.lit(1)).alias("n_cohort"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    haz = (
        conv.crossJoin(F.broadcast(tot))
        .withColumn(
            "at_risk",
            F.col("n_cohort") - F.coalesce(F.sum("n_conv").over(w), F.lit(0)),
        )
    )
    return haz.select(
        F.col("d").cast("int").alias("day_offset"),
        F.col("n_conv").cast("long").alias("n_converted"),
        F.col("at_risk").cast("long").alias("n_at_risk"),
        F.floor(F.col("n_conv") * F.lit(10000.0) / F.col("at_risk") + F.lit(0.5))
        .cast("long")
        .alias("hazard_bp"),
    )


@_q(
    "gini_user_concentration",
    """
    WITH c AS (
      SELECT event_type, user_id, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT event_type, cnt,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cnt ASC, user_id ASC) AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(cnt) OVER (PARTITION BY event_type) AS tot
      FROM c
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_users,
           CAST(max(tot) AS BIGINT) AS n_events,
           CAST((SUM((2*i - n - 1) * cnt) * 2000000 + max(n) * max(tot))
                // (2 * max(n) * max(tot)) AS BIGINT) AS gini_ppm
    FROM r GROUP BY 1
    """,
)
def gini_user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event counts per event_type (0 =
    every user contributes equally, ->1 = a few users dominate) — the
    host-concentration gate a corpus builder runs before trusting a
    source mix. Exact integer numerator Σ(2i-n-1)·c_i over ascending
    counts; the one division is parts-per-million via integer DIV.

    SCALE-SAFE FORM: Gini depends only on the multiset of counts, so
    the plan aggregates to a count-HISTOGRAM (event_type, cnt, m) and
    applies the tie-block closed form c·m·(2I + m - n) per distinct
    count value (I = users before the block) — the ranking window runs
    over |distinct count values| rows, not |users|. The oracle is the
    independent naive per-user row_number formulation; the hash match
    proves the closed form. Ties are order-free in both (equal counts
    within a block contribute identically)."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("cnt"))
    hist = c.groupBy("event_type", "cnt").agg(F.count(F.lit(1)).alias("m"))
    w_all = Window.partitionBy("event_type")
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cnt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    blocks = (
        hist.withColumn("n", F.sum("m").over(w_all))
        .withColumn("tot", F.sum(F.col("cnt") * F.col("m")).over(w_all))
        .withColumn("before", F.coalesce(F.sum("m").over(w_cum), F.lit(0)))
        .withColumn(
            "contrib",
            F.col("cnt")
            * F.col("m")
            * (F.lit(2) * F.col("before") + F.col("m") - F.col("n")),
        )
    )
    return (
        blocks.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_users"),
            F.max("tot").cast("long").alias("n_events"),
            F.sum("contrib").alias("numer"),
        )
        .select(
            "event_type",
            "n_users",
            "n_events",
            F.expr(
                "CAST((numer * 2000000 + n_users * n_events)"
                " DIV (2 * n_users * n_events) AS BIGINT)"
            ).alias("gini_ppm"),
        )
    )


# =========================================================================
# from queries_r3w.py
# =========================================================================

"""Round-3 additions, batch w: HLL register tier, Bloom membership tier,
and a sliding-window rate-limiter audit.

* HLL distinct tier — the register-based mergeable distinct sketch next
  to the KMV tier: 64 max-registers per bucket, merged idempotently
  (MAX), with an integer-exact scaled harmonic sum so the one double
  division is oracle-identical.  Spark builds the 1d tier by MERGING two
  disjoint halves of the stream; the oracle builds registers directly
  from raw rows — hash equality proves the loss-free idempotent fold.
* Bloom membership tier — the presence bitmap's hash-addressed twin for
  UNBOUNDED key domains: 252-bit filters built row-locally and bit_or
  merged, probed against the full (user x day) candidate grid with
  exact-membership reconciliation (false positives counted; false
  negatives impossible — asserted by construction in tests).
* rate-limit audit — exact max-events-in-any-trailing-hour per user via
  a RANGE window over integer epoch seconds (order-independent under
  same-second ties), the abuse/throttle gate.
"""


@_q(
    "rollup_1d_distinct_hll",
    f"""
    WITH e AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
             user_id,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events WHERE user_id IS NOT NULL
    ), r AS (
      SELECT bucket_start, h % {HLL_BUCKETS} AS bucket,
             MAX(CASE WHEN (h // {HLL_BUCKETS}) = 0 THEN {HLL_MAX_RHO}
                      ELSE bit_count(((h // {HLL_BUCKETS})
                                      & -(h // {HLL_BUCKETS})) - 1) + 1
                 END) AS r
      FROM e GROUP BY 1, 2
    ), s AS (
      SELECT bucket_start,
             CAST(COUNT(*) AS BIGINT) AS n_regs,
             CAST(SUM(1::BIGINT << ({HLL_MAX_RHO} - r))
                  + ({HLL_BUCKETS} - COUNT(*))
                    * (1::BIGINT << {HLL_MAX_RHO}) AS BIGINT) AS sum_scaled
      FROM r GROUP BY 1
    ), x AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
             COUNT(DISTINCT user_id) AS exact_distinct
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    )
    SELECT s.bucket_start, s.n_regs, s.sum_scaled,
           CAST(floor({HLL_EST_NUM!r} / CAST(s.sum_scaled AS DOUBLE) + 0.5)
                AS BIGINT) AS est_distinct,
           CAST(x.exact_distinct AS BIGINT) AS exact_distinct
    FROM s JOIN x USING (bucket_start)
    """,
)
def rollup_1d_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per day via a 64-register HLL tier, the Spark side
    built by MERGING two disjoint halves of the stream (event_id parity)
    while the oracle computes registers straight from raw rows — hash
    equality proves the MAX-merge is loss-free and idempotent (the
    presence-bitmap proof shape).  Exact distinct joined alongside so the
    estimator error is visible.  Plan: two pruned scans -> register hash
    aggs whose Exchanges carry <= 64 rows per day -> MAX merge -> tiny
    estimate agg; no register ever leaves integer arithmetic until the
    single oracle-identical double division."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    even = hll_tier(ev.where(F.col("event_id") % 2 == 0), "user_id", "1d", ts="ts")
    odd = hll_tier(ev.where(F.col("event_id") % 2 == 1), "user_id", "1d", ts="ts")
    merged = hll_merge(even.unionByName(odd), "1d")
    est = hll_estimate(merged)
    exact = ev.groupBy(
        bucket_start(F.col("ts"), "1d").alias("bucket_start")
    ).agg(F.count_distinct("user_id").cast("long").alias("exact_distinct"))
    return est.join(exact, "bucket_start").select(
        "bucket_start", "n_regs", "sum_scaled", "est_distinct", "exact_distinct"
    )


@_q(
    "bloom_presence_fp",
    """
    WITH present AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, user_id
      FROM events WHERE user_id IS NOT NULL
    ), users AS (
      SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
    ), days AS (
      SELECT DISTINCT d FROM present
    ), pos AS (
      SELECT user_id, t.i,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR) || '|' || t.i),
                                1, 15))::BIGINT % 252 AS p
      FROM users, unnest([0, 1, 2]) AS t(i)
    ), bloom AS (
      SELECT pr.d, pos.p // 63 AS w,
             bit_or(1::BIGINT << CAST(pos.p % 63 AS INT)) AS bits
      FROM present pr JOIN pos USING (user_id)
      GROUP BY 1, 2
    ), probe AS (
      SELECT dy.d, u.user_id,
             bool_and(coalesce((b.bits >> CAST(p.p % 63 AS INT)) & 1, 0) = 1)
               AS hit
      FROM users u
      CROSS JOIN days dy
      JOIN pos p USING (user_id)
      LEFT JOIN bloom b ON b.d = dy.d AND b.w = p.p // 63
      GROUP BY 1, 2
    )
    SELECT pb.d AS bucket_start,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(COUNT(*) FILTER (pr.user_id IS NOT NULL) AS BIGINT)
             AS exact_active,
           CAST(COUNT(*) FILTER (pb.hit) AS BIGINT) AS bloom_hits,
           CAST(COUNT(*) FILTER (pb.hit AND pr.user_id IS NULL) AS BIGINT)
             AS false_pos
    FROM probe pb
    LEFT JOIN present pr ON pr.d = pb.d AND pr.user_id = pb.user_id
    GROUP BY 1
    """,
)
def bloom_presence_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day 252-bit Bloom filters over active users, probed with the
    full (user x day) candidate grid and reconciled against exact
    membership: hits, exact actives, and false positives per day (false
    negatives are impossible — every member's bits were OR'd in).  The
    sandbox probes the cross grid to audit the fp rate end-to-end; at
    scale you probe a candidate stream against the same filter table.
    Plan: filters built ROW-LOCALLY (k=3 conditional bits folded per
    int64 word, no explode) -> one bit_or agg whose Exchange carries 4
    longs per day; the probe is a broadcast-sized join against the
    day-filter table plus one exact-membership left join."""
    # NULL users excluded on BOTH engines: the oracle's JOIN pos USING
    # (user_id) silently drops NULL while a crossJoin probe grid would
    # keep it, forking n_probes (review finding)
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    present = ev.select(
        bucket_start(F.col("ts"), "1d").alias("d"), "user_id"
    ).distinct()
    bloom = bloom_tier(present, "user_id", key_cols=("d",))
    users = ev.select("user_id").distinct()
    days = present.select("d").distinct()
    probes = users.crossJoin(days)
    hits = bloom_probe(bloom, probes, "user_id", key_cols=("d",))
    rec = hits.join(
        present.withColumn("_member", F.lit(1)), ["d", "user_id"], "left"
    )
    return rec.groupBy(F.col("d").alias("bucket_start")).agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum((F.col("_member").isNotNull()).cast("long"))
        .cast("long")
        .alias("exact_active"),
        F.sum(F.col("bloom_hit").cast("long")).cast("long").alias("bloom_hits"),
        F.sum(
            (F.col("bloom_hit") & F.col("_member").isNull()).cast("long")
        )
        .cast("long")
        .alias("false_pos"),
    )


@_q(
    "rate_limit_audit_1h",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) // 1000000 AS s FROM events
    ), c AS (
      SELECT user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY s
                            RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
               AS cnt
      FROM e
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(cnt) AS BIGINT) AS max_in_window,
           CAST(SUM(CASE WHEN cnt > 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS windows_over,
           MAX(cnt) > 2 AS violated
    FROM c GROUP BY 1
    """,
)
def rate_limit_audit_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sliding-window rate-limiter audit: per user, the max number
    of events in ANY trailing hour and how many events sit in an
    over-limit (>2) window.  RANGE (not ROWS) framing over integer epoch
    seconds makes same-second ties symmetric — deterministic at any
    parallelism with no tiebreak column.  Plan: one Exchange on user_id
    for the window (partition-local sort), one per-user hash agg."""
    return rate_limit_audit(load(spark, sf_dir, "events"), limit=2)


# =========================================================================
# from queries_r3ee.py
# =========================================================================

"""Round-3 additions, batch ee: sliding-window sketch quantiles and the
power-iteration eigenvector.

* sliding HDR p50/p99 — trailing-7-day latency-style percentiles per
  day, composed ENTIRELY from per-day sketch partials: each day sketch
  fans into the 7 window-ends it covers (the daily_actives cover trick
  applied to sketch rows), counters sum per (window, bucket), one rank
  rule.  Cost per window is sketch width x 7, INDEPENDENT of row
  volume — the sliding-quantile problem that has no exact mergeable
  solution gets the sketch answer at fixed cost.  The oracle builds
  every window DIRECTLY from raw rows, so the hash match proves the
  cover-merge is loss-free.
* top eigenvector — distributed power iteration over the embedding
  second-moment matrix (operators/similarity.top_eigen): rows-only
  registry citizen (float sum order is partitioning-dependent at the
  last ulp); accuracy pinned by the numpy seed-and-recover pytest.
"""


# the ONE HDR-bucket oracle recipe — imported, never copied (a bucket-rule
# fix applied there must reach every HDR oracle; review finding)


@_q(
    "rollup_7d_sliding_p99_hdr",
    f"""
    WITH obs AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ), cover AS (
      SELECT day + t.i * INTERVAL 1 DAY AS wd, cents
      FROM obs, unnest([0, 1, 2, 3, 4, 5, 6]) AS t(i)
    ), sk AS (
      SELECT wd, {_HDR_BUCKET_SQL} AS bucket, COUNT(*) AS cnt
      FROM cover WHERE wd IN (SELECT DISTINCT day FROM obs)
      GROUP BY 1, 2
    ), c AS (
      SELECT wd, bucket,
             SUM(cnt) OVER (PARTITION BY wd ORDER BY bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY wd) AS tot
      FROM sk
    ), hit AS (
      SELECT wd, q, MIN(bucket) AS qa
      FROM c CROSS JOIN (SELECT unnest([0.50, 0.99]) AS q)
      WHERE cum >= ceil(q * tot)
      GROUP BY 1, 2
    )
    SELECT wd AS bucket_start,
           CAST(MAX(tot2.n) AS BIGINT) AS n,
           CAST(MAX(CASE WHEN q = 0.50 THEN qa END) AS BIGINT) AS p50,
           CAST(MAX(CASE WHEN q = 0.99 THEN qa END) AS BIGINT) AS p99
    FROM hit
    JOIN (SELECT wd, SUM(cnt) AS n FROM sk GROUP BY 1) tot2 USING (wd)
    GROUP BY 1
    """,
)
def rollup_7d_sliding_p99_hdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day p50/p99 of integer-cents values per active day,
    composed from PER-DAY HDR sketch partials: day sketches fan into
    the <=7 window-ends they cover, counters sum per (window, bucket),
    then the one rank rule (hdr_quantiles).  The Spark side never
    re-reads raw rows per window — cost is sketch-width x 7 per day —
    while the oracle builds each window directly from raw; the hash
    match proves the cover-merge loses nothing.  Plan: one pruned scan
    -> (day, bucket) sketch agg -> bounded x7 fan-out -> (window,
    bucket) merge agg -> cumulative window over <=512 buckets."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    obs = ev.select(
        bucket_start(F.col("ts"), "1d").alias("day"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    day_sk = hdr_tier(obs, "cents", key_cols=("day",))
    cover = day_sk.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(6))
        ).alias("_i"),
        "day",
        "bucket",
        "cnt",
    ).select(
        F.expr("day + make_interval(0, 0, 0, _i)").alias("wd"),
        "bucket",
        "cnt",
    )
    days = obs.select(F.col("day").alias("wd")).distinct()
    merged = hdr_merge(
        cover.join(days, "wd"), key_cols=("wd",)
    )
    qs = hdr_quantiles(merged, {"p50": 0.50, "p99": 0.99}, key_cols=("wd",))
    tot = merged.groupBy("wd").agg(F.sum("cnt").cast("long").alias("n"))
    return (
        qs.join(tot, "wd")
        .select(
            F.col("wd").alias("bucket_start"),
            "n",
            F.col("p50").cast("long").alias("p50"),
            F.col("p99").cast("long").alias("p99"),
        )
    )


@_q("embedding_top_eigen")  # rows-only: float sum order is partitioning-dependent
def embedding_top_eigen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant eigenvector of the embedding second-moment matrix via
    distributed power iteration (operators/similarity.top_eigen) — the
    whitening/anisotropy primitive.  Output: one row per dimension
    (i, component) plus the eigenvalue estimate repeated; rows-only
    (no SQL oracle can express the iteration; last-ulp float sums vary
    with partitioning), accuracy pinned by the numpy recovery pytest."""
    from mintpy_spark.operators.similarity import top_eigen

    emb = load(spark, sf_dir, "embeddings")
    [(v, lam)] = top_eigen(emb, "embedding", dim=64, iters=8)
    rows = [(i, float(c), float(lam)) for i, c in enumerate(v)]
    return spark.createDataFrame(rows, "i long, component double, eigenvalue double")


# =========================================================================
# from queries_r3zz.py
# =========================================================================

"""Round-3 batch zz: sketch-algebra closures — the merge/difference
operations that make the sketch family a tier ALGEBRA rather than a
bag of one-shot estimators.

* ``hll_merge_30d_distinct`` — daily HLL registers folded into the 30d
  tier by register MAX (idempotent merge), raw estimate vs exact. The
  proof obligation: merging day sketches equals sketching the month.
* ``kmv_anotb_audience`` — theta-sketch set DIFFERENCE (A-not-B):
  audience exclusivity between event types from the same KMV sketches
  the intersection query uses. Asymmetric, so both directions emit.
* ``cms_30d_merge_topfreq`` — daily Count-Min sketches summed into the
  30d tier, probed for every event type, with the one-sided error
  visible as est - exact >= 0.

All hashes are the shared portable md5 forms; every estimate is
integer/one-division arithmetic, so the whole algebra is
oracle-identical cross-engine.
"""


_B30_SQL = (
    "TIMESTAMP '1970-01-01'"
    " + (CAST(floor(epoch(ts)) AS BIGINT)"
    "    - CAST(floor(epoch(ts)) AS BIGINT) % 2592000) * INTERVAL 1 SECOND"
)


@_q(
    "hll_merge_30d_distinct",
    f"""
    WITH e AS (
      SELECT {_B30_SQL} AS bucket_start,
             user_id,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS h
      FROM events WHERE user_id IS NOT NULL
    ), r AS (
      SELECT bucket_start, h % {HLL_BUCKETS} AS bucket,
             MAX(CASE WHEN (h // {HLL_BUCKETS}) = 0 THEN {HLL_MAX_RHO}
                      ELSE bit_count(((h // {HLL_BUCKETS})
                                      & -(h // {HLL_BUCKETS})) - 1) + 1
                 END) AS r
      FROM e GROUP BY 1, 2
    ), s AS (
      SELECT bucket_start,
             CAST(COUNT(*) AS BIGINT) AS n_regs,
             CAST(SUM(1::BIGINT << ({HLL_MAX_RHO} - r))
                  + ({HLL_BUCKETS} - COUNT(*))
                    * (1::BIGINT << {HLL_MAX_RHO}) AS BIGINT) AS sum_scaled
      FROM r GROUP BY 1
    ), x AS (
      SELECT {_B30_SQL} AS bucket_start,
             COUNT(DISTINCT user_id) AS exact_distinct
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    )
    SELECT s.bucket_start, s.n_regs, s.sum_scaled,
           CAST(floor({HLL_EST_NUM!r} / CAST(s.sum_scaled AS DOUBLE) + 0.5)
                AS BIGINT) AS est_distinct,
           CAST(x.exact_distinct AS BIGINT) AS exact_distinct
    FROM s JOIN x USING (bucket_start)
    """,
)
def hll_merge_30d_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30d distinct users from DAY-tier HLL registers folded upward with
    hll_merge (register MAX — associative, commutative, idempotent: the
    oracle sketches the month directly and must land on identical
    registers). The merge Exchange carries <= 64 rows per day bucket;
    raw data is touched exactly once, the tier-cascade claim for
    distinct counts."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    day = hll_tier(ev, "user_id", tier="1d", ts="ts")
    month = hll_merge(day, "30d")
    est = hll_estimate(month)
    exact = ev.groupBy(
        bucket_start(F.col("ts"), "30d").alias("bucket_start")
    ).agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    return est.join(exact, "bucket_start")


@_q(
    "kmv_anotb_audience",
    f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS hv
      FROM events WHERE user_id IS NOT NULL
    ), r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ), s AS (
      SELECT event_type, list_sort(list(hv)) AS kmv
      FROM r WHERE rn <= {KMV_K} GROUP BY 1
    ), p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.kmv AS ka, b.kmv AS kb,
             LEAST(CASE WHEN len(a.kmv) < {KMV_K} THEN {HASH60_SPACE}
                        ELSE a.kmv[-1] END,
                   CASE WHEN len(b.kmv) < {KMV_K} THEN {HASH60_SPACE}
                        ELSE b.kmv[-1] END) AS theta
      FROM s a JOIN s b ON a.event_type <> b.event_type
    )
    SELECT type_a, type_b,
           CAST(len(ka) AS BIGINT) AS n_a,
           CAST(len(kb) AS BIGINT) AS n_b,
           theta,
           CAST(len(list_filter(ka,
                  h -> h < theta AND NOT list_contains(kb, h)))
                AS BIGINT) AS n_anotb,
           ROUND(CAST(len(list_filter(ka,
                   h -> h < theta AND NOT list_contains(kb, h)))
                 AS DOUBLE)
                 * {HASH60_SPACE}.0::DOUBLE / CAST(theta AS DOUBLE), 2)
             AS est_anotb
    FROM p
    """,
)
def kmv_anotb_audience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch A-not-B: estimated users doing event type A but
    never B, for every ordered type pair — the exclusivity complement of
    kmv_audience_intersection, from the SAME per-type sketches (one
    distinct-agg; the pair join moves only k-hash arrays). Sample =
    A-hashes below the pair theta and absent from B's sketch; estimate
    scales by space/theta. Asymmetric, so both (A,B) and (B,A) rows."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    s = kmv_set(ev, "user_id", key_cols=("event_type",), k=KMV_K)
    a = s.select(F.col("event_type").alias("type_a"), F.col("kmv").alias("ka"))
    b = s.select(F.col("event_type").alias("type_b"), F.col("kmv").alias("kb"))
    p = a.join(F.broadcast(b), F.col("type_a") != F.col("type_b"))
    p = p.withColumn("theta", kmv_theta("ka", "kb", KMV_K))
    sample = F.size(
        F.filter(
            "ka",
            lambda h: (h < F.col("theta")) & ~F.array_contains(F.col("kb"), h),
        )
    )
    return p.select(
        "type_a", "type_b",
        F.size("ka").cast("long").alias("n_a"),
        F.size("kb").cast("long").alias("n_b"),
        "theta",
        sample.cast("long").alias("n_anotb"),
        F.round(
            sample.cast("double") * F.lit(float(HASH60_SPACE))
            / F.col("theta").cast("double"),
            2,
        ).alias("est_anotb"),
    )


@_q(
    "cms_30d_merge_topfreq",
    f"""
    WITH e AS (
      SELECT {_B30_SQL} AS bucket_start, event_type FROM events
    ), sk AS (
      SELECT bucket_start, r,
             ('0x' || substring(md5(event_type || '|' || CAST(r AS VARCHAR)),
                                1, 15))::BIGINT % {CMS_WIDTH} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM e CROSS JOIN range({CMS_DEPTH}) t(r)
      GROUP BY 1, 2, 3
    ), probes AS (
      SELECT DISTINCT bucket_start, event_type FROM e
    ), pb AS (
      SELECT p.bucket_start, p.event_type, t.r,
             ('0x' || substring(md5(p.event_type || '|'
                                    || CAST(t.r AS VARCHAR)),
                                1, 15))::BIGINT % {CMS_WIDTH} AS bucket
      FROM probes p CROSS JOIN range({CMS_DEPTH}) t(r)
    ), est AS (
      SELECT pb.bucket_start, pb.event_type,
             CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS est
      FROM pb LEFT JOIN sk
        ON pb.bucket_start = sk.bucket_start AND pb.r = sk.r
       AND pb.bucket = sk.bucket
      GROUP BY 1, 2
    ), x AS (
      SELECT bucket_start, event_type, COUNT(*) AS exact_cnt
      FROM e GROUP BY 1, 2
    )
    SELECT est.bucket_start, est.event_type, est.est,
           CAST(x.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(est.est - x.exact_cnt AS BIGINT) AS overcount
    FROM est JOIN x
      ON est.bucket_start = x.bucket_start
     AND est.event_type = x.event_type
    """,
)
def cms_30d_merge_topfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type frequencies per 30d bucket read from DAY-tier
    Count-Min sketches summed upward (cms_merge: counters are sums —
    loss-free mergeable), probed for every observed type. The oracle
    sketches the 30d window directly; summed day counters must equal
    it exactly. overcount = est - exact >= 0 exhibits the CMS's
    one-sided error under collisions. Raw rows feed one day-keyed
    sketch agg (<= d*w rows per day out), the month fold moves only
    counters."""
    ev = load(spark, sf_dir, "events")
    items = ev.select(
        bucket_start(F.col("ts"), "1d").alias("day"),
        bucket_start(F.col("ts"), "30d").alias("bucket_start"),
        "event_type",
    )
    day_sk = cms_tier(items, "event_type", key_cols=("day", "bucket_start"))
    month_sk = cms_merge(day_sk.drop("day"), key_cols=("bucket_start",))
    probes = items.select("bucket_start", "event_type").distinct()
    est = cms_estimate(
        month_sk, probes, "event_type", key_cols=("bucket_start",)
    )
    exact = items.groupBy("bucket_start", "event_type").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    return est.join(exact, ["bucket_start", "event_type"]).select(
        "bucket_start", "event_type", "est",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        (F.col("est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


# =========================================================================
# from queries_r3kk.py
# =========================================================================

"""Round-3 batch kk: median-of-means robust mean + bitmap retention.

- ``robust_mom_daily``: the median-of-means estimator (the standard
  heavy-tail-robust mean with sub-Gaussian concentration, public
  literature) — rows hash into 10 deterministic buckets, each bucket
  mean comes from EXACT integer partials, and the median over the 10
  bucket means is the one cross-engine-safe order statistic
  (percentile == quantile_cont linear interpolation on identical
  doubles).
- ``bitmap_retention_weekly``: week-over-week retained users via
  user-indexed presence masks — |active(w) AND active(w+1)| as word-wise
  popcounts, the O(words) twin of the set-based cohort_retention_weekly
  (rows never shuffle per user for the intersection).
"""


_NB = 10  # median-of-means buckets


@_q(
    "robust_mom_daily",
    f"""
    WITH b AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
             ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15)
              )::BIGINT % {_NB} AS bkt,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ), m AS (
      SELECT ed, bkt,
             CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS bmean
      FROM b GROUP BY 1, 2
    )
    SELECT ed,
           ROUND(median(bmean), 6) AS mom_cents,
           CAST(COUNT(*) AS BIGINT) AS n_buckets
    FROM m GROUP BY 1
    """,
)
def robust_mom_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means daily value: hash-bucketed (event_id md5 — content
    -independent and NULL-free), integer bucket partials, exact median of
    the bucket means. Outliers corrupt at most their own bucket; the
    median ignores it."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    b = ev.select(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("ed"),
        F.pmod(
            portable_hash60(F.col("event_id").cast("string")), F.lit(_NB)
        ).alias("bkt"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    m = b.groupBy("ed", "bkt").agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("bmean")
    )
    return m.groupBy("ed").agg(
        F.round(F.expr("percentile(bmean, 0.5)"), 6).alias("mom_cents"),
        F.count(F.lit(1)).alias("n_buckets"),
    )


@_q(
    "bitmap_retention_weekly",
    """
    WITH w AS (
      SELECT DISTINCT
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk,
             user_id
      FROM events WHERE user_id IS NOT NULL
    ), masks AS (
      SELECT wk, user_id // 60 AS word,
             bit_or(1::BIGINT << CAST(user_id % 60 AS INT)) AS mask
      FROM w GROUP BY 1, 2
    ), act AS (
      SELECT wk, CAST(SUM(bit_count(mask)) AS BIGINT) AS active
      FROM masks GROUP BY 1
    ), ret AS (
      SELECT a.wk,
             CAST(SUM(bit_count(a.mask & b.mask)) AS BIGINT) AS retained
      FROM masks a JOIN masks b
        ON b.wk = a.wk + 1 AND b.word = a.word
      GROUP BY 1
    )
    SELECT act.wk, act.active, COALESCE(ret.retained, 0) AS retained
    FROM act LEFT JOIN ret ON ret.wk = act.wk
    WHERE EXISTS (SELECT 1 FROM act a2 WHERE a2.wk = act.wk + 1)
    """,
)
def bitmap_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users active in week w AND w+1, from user-indexed 60-bit presence
    words: the intersection is a word-aligned AND + popcount over
    |users|/60 rows per week — row volume never touches the join. Weeks
    without a successor are excluded (no retention to measure)."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    w = ev.select(
        F.expr(
            "datediff(to_date(ts), DATE '1970-01-01') div 7"
        ).alias("wk"),
        "user_id",
    ).distinct()
    masks = w.groupBy(
        "wk", F.expr("user_id div 60").alias("word")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 60 AS INT))")
        ).alias("mask")
    )
    act = masks.groupBy("wk").agg(
        F.sum(F.bit_count("mask")).cast("long").alias("active")
    )
    a, b = masks.alias("a"), masks.alias("b")
    ret = (
        a.join(
            b,
            (F.col("b.wk") == F.col("a.wk") + 1)
            & (F.col("b.word") == F.col("a.word")),
        )
        .groupBy(F.col("a.wk").alias("wk"))
        .agg(
            F.sum(
                F.bit_count(F.col("a.mask").bitwiseAND(F.col("b.mask")))
            ).cast("long").alias("retained")
        )
    )
    nxt = act.select((F.col("wk") - 1).alias("wk")).distinct()
    return (
        act.join(nxt, "wk", "left_semi")
        .join(ret, "wk", "left")
        .select(
            "wk", "active", F.coalesce("retained", F.lit(0)).alias("retained")
        )
    )


# =========================================================================
# from queries_r3cc.py
# =========================================================================

"""Round-3 additions, batch cc: Bloom join pruning, Wilson confidence
bounds, and RFM segmentation.

* bloom join prune — Spark's runtime-filter technique made explicit and
  ENGINE-PORTABLE: a long-form Bloom filter (row per int64 word, so the
  SQL is width-independent) over the build side's keys, probed by the
  fact side before the exact join.  The query audits what a runtime
  bloom buys: probes passed, exact hits, false positives, prune ratio.
* Wilson bounds — 95 % confidence interval on a daily conversion rate.
  sqrt() is the ONE libm call that IEEE 754 requires to be correctly
  rounded, so it is engine-parity-safe where ln/exp are not; the whole
  formula is ONE shared SQL fragment evaluated verbatim by Spark
  (F.expr) and DuckDB — textual identity, not reimplementation.
* RFM segmentation — the classic recency/frequency/monetary quintile
  cube.  Exact ntile needs a global sort: fine at audit scale and as
  the oracle-checkable form; the production path at 10^9 users swaps
  the ntile for HDR-sketch quantile thresholds (operators/sketch.py),
  which this module's docstrings spell out.
"""


BLOOM_PRUNE_WORDS = 512       # 512 x 63 usable bits = 32 256-bit filter
BLOOM_PRUNE_K = 3
PRICE_CUT = 480000.0

# ONE Wilson fragment, same text on both engines (k, n integer columns).
_Z = "1.959964e0"  # E-notation: parses as DOUBLE in both engines (bare decimals are DECIMAL)
WILSON_LO = (
    f"floor(((k * 1.0e0 / n) + {_Z} * {_Z} / (2 * n)"
    f" - {_Z} * sqrt((k * 1.0e0 / n) * (1 - k * 1.0e0 / n) / n"
    f" + {_Z} * {_Z} / (4.0e0 * n * n)))"
    f" / (1 + {_Z} * {_Z} / n) * 10000 + 0.5e0)"
)
WILSON_HI = (
    f"floor(((k * 1.0e0 / n) + {_Z} * {_Z} / (2 * n)"
    f" + {_Z} * sqrt((k * 1.0e0 / n) * (1 - k * 1.0e0 / n) / n"
    f" + {_Z} * {_Z} / (4.0e0 * n * n)))"
    f" / (1 + {_Z} * {_Z} / n) * 10000 + 0.5e0)"
)


@_q(
    "bloom_join_prune",
    f"""
    WITH members AS (
      SELECT DISTINCT o_orderkey AS key FROM orders
      WHERE o_totalprice > {PRICE_CUT}
    ), mpos AS (
      SELECT key, ('0x' || substring(md5(CAST(key AS VARCHAR) || '|' || t.i),
                   1, 15))::BIGINT % {BLOOM_PRUNE_WORDS * 63} AS p
      FROM members, unnest([0, 1, 2]) AS t(i)
    ), bloom AS (
      SELECT p // 63 AS w, bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
      FROM mpos GROUP BY 1
    ), probes AS (
      SELECT DISTINCT l_returnflag AS flag, l_orderkey AS key FROM lineitem
    ), ppos AS (
      SELECT flag, key,
             ('0x' || substring(md5(CAST(key AS VARCHAR) || '|' || t.i),
              1, 15))::BIGINT % {BLOOM_PRUNE_WORDS * 63} AS p
      FROM probes, unnest([0, 1, 2]) AS t(i)
    ), hit AS (
      SELECT flag, key,
             bool_and(coalesce((b.bits >> CAST(p.p % 63 AS INT)) & 1, 0) = 1)
               AS pass
      FROM ppos p LEFT JOIN bloom b ON b.w = p.p // 63
      GROUP BY 1, 2
    )
    SELECT h.flag AS l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(COUNT(*) FILTER (h.pass) AS BIGINT) AS bloom_pass,
           CAST(COUNT(*) FILTER (m.key IS NOT NULL) AS BIGINT) AS exact_hits,
           CAST(COUNT(*) FILTER (h.pass AND m.key IS NULL) AS BIGINT)
             AS false_pos,
           CAST(floor((1 - COUNT(*) FILTER (h.pass) * 1.0 / COUNT(*))
                      * 10000 + 0.5e0) AS BIGINT) AS prune_bp
    FROM hit h LEFT JOIN members m ON m.key = h.key
    GROUP BY 1
    """,
)
def bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning, audited: build a 32k-bit
    long-form Bloom over high-value orderkeys, probe every distinct
    (returnflag, orderkey) from lineitem, and reconcile against the
    exact semi-join — probes passed, false positives, and the prune
    ratio the filter would buy the scan.  No false negatives by
    construction (every member's bits are OR'd in).  Plan: the filter
    table is <= 512 rows and BROADCAST to the probe side — the fact
    table never shuffles for the prune, which is the point of a runtime
    filter; the exact reconciliation join broadcasts the member list."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    m_bits = BLOOM_PRUNE_WORDS * 63
    members = (
        o.where(F.col("o_totalprice") > PRICE_CUT)
        .select(F.col("o_orderkey").alias("key"))
        .distinct()
    )

    def positions(df: DataFrame) -> DataFrame:
        return df.select(
            "*",
            F.explode(
                F.array(
                    *[
                        (
                            portable_hash60(
                                F.concat(
                                    F.col("key").cast("string"), F.lit(f"|{i}")
                                )
                            )
                            % m_bits
                        )
                        for i in range(BLOOM_PRUNE_K)
                    ]
                )
            ).alias("p"),
        )

    bloom = (
        positions(members)
        .groupBy(F.expr("p DIV 63").alias("w"))
        .agg(
            F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 63 AS INT)))")
            .alias("bits")
        )
    )
    probes = li.select(
        F.col("l_returnflag").alias("flag"), F.col("l_orderkey").alias("key")
    ).distinct()
    hit = (
        positions(probes)
        .join(F.broadcast(bloom), F.expr("w = p DIV 63"), "left")
        .groupBy("flag", "key")
        .agg(
            F.min(
                F.coalesce(
                    F.expr("(shiftright(bits, CAST(p % 63 AS INT)) & 1) = 1"),
                    F.lit(False),
                )
            ).alias("pass")
        )
    )
    rec = hit.join(
        F.broadcast(members.withColumn("_m", F.lit(1))), "key", "left"
    )
    return rec.groupBy(F.col("flag").alias("l_returnflag")).agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(F.col("pass").cast("long")).cast("long").alias("bloom_pass"),
        F.sum(F.col("_m").isNotNull().cast("long"))
        .cast("long")
        .alias("exact_hits"),
        F.sum((F.col("pass") & F.col("_m").isNull()).cast("long"))
        .cast("long")
        .alias("false_pos"),
        F.floor(
            (1 - F.sum(F.col("pass").cast("long")) * 1.0 / F.count(F.lit(1)))
            * 10000
            + 0.5
        )
        .cast("long")
        .alias("prune_bp"),
    )


@_q(
    "conversion_rate_wilson",
    f"""
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS k
      FROM events GROUP BY 1
    )
    SELECT bucket_start, n, k,
           CAST(floor(k * 10000.0 / n + 0.5) AS BIGINT) AS rate_bp,
           CAST({WILSON_LO} AS BIGINT) AS wilson_lo_bp,
           CAST({WILSON_HI} AS BIGINT) AS wilson_hi_bp
    FROM d
    """,
)
def conversion_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase-rate with Wilson 95 % bounds in basis points — the
    uncertainty-aware conversion metric (the plain ratio overstates
    certainty on thin days).  sqrt is correctly rounded under IEEE 754,
    so the bound is engine-parity-safe; the formula is ONE shared SQL
    string evaluated verbatim by both engines (textual identity, not a
    reimplementation).  Plan: one day agg, then row-local arithmetic."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(
        bucket_start(F.col("ts"), "1d").alias("bucket_start")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("k"),
    )
    return d.select(
        "bucket_start",
        "n",
        "k",
        F.floor(F.col("k") * 10000.0 / F.col("n") + 0.5)
        .cast("long")
        .alias("rate_bp"),
        F.expr(WILSON_LO).cast("long").alias("wilson_lo_bp"),
        F.expr(WILSON_HI).cast("long").alias("wilson_hi_bp"),
    )


@_q(
    "rfm_segments",
    """
    WITH g AS (
      SELECT MAX(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
               AS maxed
      FROM events
    ), u AS (
      SELECT user_id,
             g.maxed - MAX(date_diff('day', DATE '1970-01-01',
                                     CAST(ts AS DATE))) AS rec,
             COUNT(*) AS freq,
             SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS mon
      FROM events, g
      WHERE value IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id, g.maxed
    ), s AS (
      SELECT ntile(5) OVER (ORDER BY rec DESC, user_id) AS r,
             ntile(5) OVER (ORDER BY freq, user_id) AS f,
             ntile(5) OVER (ORDER BY mon, user_id) AS m
      FROM u
    )
    SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
           CAST(m AS BIGINT) AS m,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM s GROUP BY 1, 2, 3
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency (days since last event, HIGHER
    quintile = more recent), frequency, monetary (integer cents), cut
    into 5x5x5 quintile cells with deterministic user_id tiebreaks.
    The exact ntile is a global sort — correct at audit scale and as
    the oracle-checkable form; at 10^9 users the production path swaps
    quintile edges for HDR-sketch quantiles (operators/sketch.py) and
    assigns cells with a broadcast threshold table, no global sort.
    Plan here: one user agg Exchange, one single-partition window (the
    documented trade), |cells|-bounded final agg."""
    # NULL users excluded on BOTH engines (ntile tiebreak NULL placement
    # differs: Spark NULLS FIRST vs DuckDB NULLS LAST — review finding)
    ev = load(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    maxed = ev.agg(
        F.max(F.datediff(F.to_date("ts"), F.lit("1970-01-01"))).alias("maxed")
    )
    u = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.datediff(F.to_date("ts"), F.lit("1970-01-01"))).alias("_last"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("mon"),
        )
        .crossJoin(F.broadcast(maxed))
        .select(
            "user_id",
            (F.col("maxed") - F.col("_last")).alias("rec"),
            "freq",
            "mon",
        )
    )
    s = u.select(
        F.ntile(5).over(Window.orderBy(F.desc("rec"), F.col("user_id"))).alias("r"),
        F.ntile(5).over(Window.orderBy("freq", "user_id")).alias("f"),
        F.ntile(5).over(Window.orderBy("mon", "user_id")).alias("m"),
    )
    return s.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    ).select(
        F.col("r").cast("long").alias("r"),
        F.col("f").cast("long").alias("f"),
        F.col("m").cast("long").alias("m"),
        "n_users",
    )
