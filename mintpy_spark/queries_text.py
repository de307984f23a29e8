"""Text/LM analysis queries: tf-idf, logprob, repetition, PII, bigram LM, BM25/BPE, readability/Heaps.

Consolidated from the round-batch modules named in the section
markers below (pure moves, zero semantic change — VERDICT r4 #10).
"""

from __future__ import annotations

from mintpy_spark.functions.scalars import nonempty_tokens, portable_hash60
from mintpy_spark.operators import pii as P
from mintpy_spark.operators.tfidf import bm25_oracle_sql
from mintpy_spark.queries import _DY_SQL, _q, load
from mintpy_spark.queries import _q, load
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


# =========================================================================
# from queries_r3e.py
# =========================================================================

"""Round-3 additions, batch e: counter rate (PromQL ``rate()``),
inter-arrival cadence profiling (CV of gaps), and corpus TF-IDF top
terms — the remaining "would a production tier store + LLM-data pipeline
need this" gaps: per-second rates over wrapping counters, scrape-cadence
diagnostics ahead of gap-fill, and characteristic-term extraction.
"""


@_q(
    "counter_rate_1d",
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
             epoch_us(ts) AS e
      FROM (SELECT user_id, ts, ctr,
                   lag(ctr) OVER (PARTITION BY user_id ORDER BY ts) AS prev
            FROM c WHERE ctr IS NOT NULL)),
    a AS (
      SELECT user_id, bucket_start,
             CAST(SUM(dd) AS BIGINT) AS increase,
             MAX(e) - MIN(e) AS span_us
      FROM d GROUP BY 1, 2)
    SELECT user_id, bucket_start, increase, span_us,
           CASE WHEN span_us > 0 AND increase IS NOT NULL
                THEN ROUND(CAST(increase AS DOUBLE)
                           / (CAST(span_us AS DOUBLE) / 1000000.0), 6)
           END AS rate
    FROM a
    """,
)
def counter_rate_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style rate() per day over the same synthesized wrapping
    integer counter as counter_increase_1d: reset-aware increase divided
    by the observed sample span inside the bucket, measured in integer
    microseconds (operators/counter.counter_rate)."""
    from mintpy_spark.operators.counter import counter_rate

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cents = F.round(F.col("value") * 100).cast("long")
    ctr = (F.sum(cents).over(w) % 100000).alias("ctr")
    series = ev.select("user_id", "ts", ctr)
    return counter_rate(series, "ctr", tier="1d", key="user_id", ts="ts")


@_q(
    "cadence_interarrival_cv",
    """
    WITH g AS (
      SELECT user_id,
             epoch_us(ts)
               - lag(epoch_us(ts))
                 OVER (PARTITION BY user_id ORDER BY ts) AS gap
      FROM events),
    a AS (
      SELECT user_id,
             CAST(COUNT(gap) AS BIGINT) AS n_gaps,
             CAST(SUM(gap) AS BIGINT) AS s1,
             SUM(CAST(gap AS HUGEINT) * gap) AS s2
      FROM g WHERE gap IS NOT NULL GROUP BY user_id)
    SELECT user_id, n_gaps,
           ROUND(CAST(s1 AS DOUBLE) / n_gaps / 1000000.0, 4) AS mean_gap_s,
           ROUND(sqrt(CAST(n_gaps * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                      / (n_gaps - 1) / n_gaps)
                 * n_gaps / s1, 4) AS cv
    FROM a WHERE n_gaps >= 2 AND s1 > 0
    """,
)
def cadence_interarrival_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-cadence profile per series: mean inter-arrival seconds and
    the coefficient of variation of gaps (CV ~ 0 metronomic, 1 Poisson,
    > 1 bursty) — the ptime.py date-list regularity diagnostic as one
    windowed aggregation (operators/cadence.py). Exact integer partials;
    the sqrt/divide sequence is op-for-op identical in the oracle."""
    from mintpy_spark.operators.cadence import interarrival_stats

    ev = load(spark, sf_dir, "events")
    return interarrival_stats(ev, key="user_id", ts="ts")


@_q(
    "tfidf_top_terms",
    """
    WITH tok AS (
      SELECT source, doc_id, t.term
      FROM documents,
           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t(term)),
    tf AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY source, term),
    df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    scored AS (
      SELECT tf.source, tf.term, tf.tf, df.df,
             tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
      WHERE df.df < n.n),
    ranked AS (
      SELECT source, term, tf, df, score,
             row_number() OVER (PARTITION BY source
                                ORDER BY score DESC, term ASC) AS rank
      FROM scored)
    SELECT source, CAST(rank AS INT) AS rank, term, tf, df,
           ROUND(score, 6) AS score
    FROM ranked WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3 most characteristic terms per source by TF-IDF
    (operators/tfidf.py): tf = in-group occurrences, df = corpus-wide
    distinct-document frequency, score = tf * ln(N/df). The inverted-index
    plan — token explode aggregated with map-side partials, a
    vocabulary-sized tf-df join, 1-row broadcast N, one top-k window."""
    from mintpy_spark.operators.tfidf import tfidf_top_terms as _op

    docs = load(spark, sf_dir, "documents")
    return _op(docs, text_col="text", id_col="doc_id", group="source", k=3)


# =========================================================================
# from queries_r3f.py
# =========================================================================

"""Round-3 additions, batch f: STL-lite seasonal decomposition (trend /
seasonal / residual from exact-integer window partials) and unigram
log-probability document scoring (the perplexity-proxy quality filter).
"""


_STL_H = 12
_STL_W = 2 * _STL_H + 1


@_q(
    "stl_decompose_hourly",
    f"""
    WITH q AS (
      SELECT user_id, ts, value,
             CASE WHEN isnan(value) THEN NULL
                  ELSE CAST(floor(value * 100.0 + 0.5) AS BIGINT) END AS v
      FROM events
    ), w AS (
      SELECT user_id, ts, value, v,
             CAST(SUM(v) OVER fr AS BIGINT)   AS tnum,
             CAST(COUNT(v) OVER fr AS BIGINT) AS nwin,
             hour(ts) AS phase
      FROM q
      WINDOW fr AS (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN {_STL_H} PRECEDING AND {_STL_H} FOLLOWING)
    ), full_rows AS (
      SELECT user_id, ts, value, v, tnum, phase,
             v * {_STL_W} - tnum AS d
      FROM w WHERE nwin = {_STL_W} AND v IS NOT NULL
    ), seas AS (
      SELECT user_id, phase,
             CAST(SUM(d) AS BIGINT) AS snum,
             CAST(COUNT(d) AS BIGINT) AS scnt
      FROM full_rows GROUP BY user_id, phase
    )
    SELECT f.user_id, f.ts, f.value,
           floor(CAST(f.tnum AS DOUBLE) / {_STL_W * 100}.0::DOUBLE
                 * 10000.0 + 0.5) / 10000.0 AS trend,
           floor(CAST(s.snum AS DOUBLE)
                 / (CAST(s.scnt AS DOUBLE) * {_STL_W * 100}.0::DOUBLE)
                 * 10000.0 + 0.5) / 10000.0 AS seasonal,
           floor((CAST(f.v AS DOUBLE) / 100.0
                  - CAST(f.tnum AS DOUBLE) / {_STL_W * 100}.0::DOUBLE
                  - CAST(s.snum AS DOUBLE)
                    / (CAST(s.scnt AS DOUBLE) * {_STL_W * 100}.0::DOUBLE))
                 * 10000.0 + 0.5) / 10000.0 AS residual
    FROM full_rows f JOIN seas s
      ON f.user_id = s.user_id AND f.phase = s.phase
    """,
)
def stl_decompose_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition of each user's value series: ±12-row
    centered moving-average trend, hour-of-day seasonal means of the
    detrended series, residual — all three from exact integer partials
    (operators/seasonal.py; the local nonparametric twin of the global
    timefunc trend+periodic regression)."""
    from mintpy_spark.operators.seasonal import stl_decompose

    ev = load(spark, sf_dir, "events")
    return stl_decompose(
        ev, "value", key="user_id", ts="ts", half_window=_STL_H
    )


@_q(
    "doc_unigram_logprob",
    """
    WITH tok AS (
      SELECT doc_id, t.term
      FROM documents,
           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t(term)),
    freq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY term),
    total AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM freq),
    scored AS (
      SELECT tok.doc_id,
             CAST(floor(ln(CAST(freq.c AS DOUBLE) / CAST(total.t AS DOUBLE))
                        * 1000000.0 + 0.5) AS BIGINT) AS lpq
      FROM tok JOIN freq USING (term) CROSS JOIN total)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(lpq) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1000000.0), 4) AS logprob
    FROM scored GROUP BY doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability of every document under the corpus's
    own unigram model (operators/tfidf.unigram_logprob) — the
    perplexity-proxy quality filter: rare-token-heavy docs score low.
    Token log-probs are quantized to integer micro-nats before summation
    so the per-doc mean is partitioning- and engine-exact."""
    from mintpy_spark.operators.tfidf import unigram_logprob

    docs = load(spark, sf_dir, "documents")
    return unigram_logprob(docs, text_col="text", id_col="doc_id")


# =========================================================================
# from queries_r3g.py
# =========================================================================

"""Round-3 additions, batch g: within-document repetition profiling
(the Gopher/MassiveText quality-filter family) and cross-document
boilerplate coverage (the C4 repeated-line rule)."""


@_q(
    "text_repetition_profile",
    """
    WITH w AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
      FROM documents),
    g AS (
      SELECT doc_id, ws, len(ws) AS n_words,
             [ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))] AS g2,
             [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
              FOR i IN range(1, len(ws) - 1)] AS g3
      FROM w WHERE len(ws) > 0),
    top AS (
      SELECT doc_id, MAX(c) AS top_c FROM (
        SELECT doc_id, t.w, COUNT(*) AS c
        FROM w, unnest(ws) AS t(w) GROUP BY doc_id, t.w)
      GROUP BY doc_id)
    SELECT g.doc_id,
           CAST(g.n_words AS INT) AS n_words,
           ROUND(CAST(top.top_c AS DOUBLE) / g.n_words, 4) AS top_word_frac,
           CASE WHEN len(g2) > 0
                THEN ROUND((len(g2) - len(list_distinct(g2)))::DOUBLE
                           / len(g2), 4)
                ELSE 0.0 END AS dup2_frac,
           CASE WHEN len(g3) > 0
                THEN ROUND((len(g3) - len(list_distinct(g3)))::DOUBLE
                           / len(g3), 4)
                ELSE 0.0 END AS dup3_frac
    FROM g JOIN top USING (doc_id)
    """,
)
def text_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: most-frequent
    -word fraction and duplicate 2-/3-gram fractions
    (operators/repetition.py). The n-gram fractions are row-local array
    expressions (zero shuffle); the top-word count is one inverted-index
    aggregation."""
    from mintpy_spark.operators.repetition import repetition_profile

    docs = load(spark, sf_dir, "documents")
    out = repetition_profile(docs, text_col="text", id_col="doc_id")
    return out.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        "top_word_frac",
        "dup2_frac",
        "dup3_frac",
    )


@_q(
    "boilerplate_coverage",
    """
    WITH l AS (
      SELECT source, doc_id, trim(t.line) AS line
      FROM documents, unnest(string_split(text, chr(10))) AS t(line)),
    nz AS (
      SELECT source, doc_id,
             ('0x' || substring(md5(line), 1, 15))::BIGINT AS line_hash
      FROM l WHERE line <> ''),
    boiler AS (
      SELECT source, line_hash FROM nz
      GROUP BY source, line_hash HAVING COUNT(DISTINCT doc_id) >= 2)
    SELECT nz.source, nz.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(boiler.line_hash) AS BIGINT) AS n_boiler,
           ROUND(COUNT(boiler.line_hash)::DOUBLE / COUNT(*), 4) AS boiler_frac
    FROM nz LEFT JOIN boiler
      ON nz.source = boiler.source AND nz.line_hash = boiler.line_hash
    GROUP BY nz.source, nz.doc_id
    """,
)
def boilerplate_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate coverage per document: the fraction of a
    doc's non-empty lines that recur in >= 2 distinct documents of the
    same source (operators/boilerplate.py — the common-mask rule applied
    to lines). The synthetic corpus carries single-line documents, so
    here the rule degenerates to exact-duplicate coverage; the multi-line
    path is pinned by unit tests."""
    from mintpy_spark.operators.boilerplate import boilerplate_coverage as _op

    docs = load(spark, sf_dir, "documents")
    return _op(docs, text_col="text", id_col="doc_id", group="source", min_docs=2)


# =========================================================================
# from queries_r3m.py
# =========================================================================

"""Round-3 additions, batch m: PII scrub audit, token-entropy quality
scoring, and lagged cross-correlation between event streams.

All three are pure-Catalyst column plans (no Python on the data path) and
follow the engine's cross-engine exactness discipline: integer partials
wherever possible, `floor(x*1e6 + 0.5)` micro-quantization for the few
genuinely-float scalars (each computed from identical integer inputs by a
single deterministic IEEE expression on both engines), and the md5-prefix
hash recipe for text fingerprints.
"""


# Deterministic PII augmentation: the synthetic documents table contains
# no organic emails/IPs/phones, so the registered query plants one of
# each (phone on every third doc) as a pure function of doc_id — the SAME
# derivation inlined into the oracle SQL, so detection and scrubbing are
# exercised end-to-end with exact parity. In production this column IS
# the raw text.
_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail' || "
    "CAST(doc_id % 7 AS VARCHAR) || '.example.org ip 10.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.' || "
    "CAST((doc_id * 7) % 256 AS VARCHAR) || '.' || "
    "CAST((doc_id * 13) % 256 AS VARCHAR) || "
    "CASE WHEN doc_id % 3 = 0 THEN ' call +1-555-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
)


def _aug_col() -> F.Column:
    d = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@mail"),
        (d % 7).cast("string"),
        F.lit(".example.org ip 10."),
        (d % 256).cast("string"),
        F.lit("."),
        ((d * 7) % 256).cast("string"),
        F.lit("."),
        ((d * 13) % 256).cast("string"),
        F.when(
            d % 3 == 0,
            F.concat(F.lit(" call +1-555-"), F.lpad((d % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )


@_q(
    "text_pii_scrub_stats",
    f"""
    WITH aug AS (
      SELECT source, ({_AUG_SQL}) AS t FROM documents
    ), det AS (
      SELECT source, t,
             {', '.join(P.pii_counts_oracle_exprs('t'))},
             {P.pii_scrub_oracle_expr('t')} AS ts
      FROM aug
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(n_email) AS BIGINT) AS emails,
           CAST(SUM(n_ipv4) AS BIGINT) AS ips,
           CAST(SUM(n_phone) AS BIGINT) AS phones,
           CAST(SUM(CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_phone,
           CAST(SUM(len(t) - len(ts)) AS BIGINT) AS scrub_delta,
           bit_xor(('0x' || substring(md5(ts), 1, 15))::BIGINT) AS scrub_fp
    FROM det GROUP BY source
    """,
)
def text_pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit per source: match counts per PII class (email /
    IPv4 / phone), documents containing a phone, total characters removed
    by scrubbing, and an order-insensitive fingerprint of the scrubbed
    corpus (bit_xor of per-doc md5-prefix hashes — the value a downstream
    shard-writer would verify against). One scan, zero Python, one
    hash-agg shuffle on `source`; regexes are linear-time class patterns
    evaluated once per row via staged projections."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", _aug_col().alias("t")
    )
    det = P.pii_scrub(P.pii_counts(d, "t"), "t", "ts")
    fp = portable_hash60(F.col("ts"))
    return det.groupBy("source").agg(
        F.count("*").alias("docs"),
        F.sum("n_email").alias("emails"),
        F.sum("n_ipv4").alias("ips"),
        F.sum("n_phone").alias("phones"),
        F.sum(F.when(F.col("n_phone") > 0, 1).otherwise(0)).alias("docs_with_phone"),
        F.sum(F.length("t") - F.length("ts")).alias("scrub_delta"),
        F.bit_xor(fp).alias("scrub_fp"),
    )


@_q(
    "text_token_entropy",
    """
    WITH tc AS (
      SELECT doc_id, source, tok, COUNT(*) AS c
      FROM (
        SELECT doc_id, source,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        FROM documents)
      GROUP BY 1, 2, 3
    ), per_doc AS (
      SELECT doc_id, source,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(c * ln(c) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s_q,
             CAST(SUM(c * c) AS BIGINT) AS s_c2
      FROM tc GROUP BY 1, 2
    ), scored AS (
      SELECT source,
             CAST(floor((ln(n) - s_q / (n * 1e6)) * 1e6 + 0.5) AS BIGINT)
               AS entropy_micro,
             CAST(floor((1.0 - CAST(s_c2 AS DOUBLE) / (CAST(n AS DOUBLE) * n)) * 1e6
                        + 0.5) AS BIGINT) AS simpson_micro
      FROM per_doc WHERE n >= 1
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(entropy_micro) AS BIGINT) AS sum_entropy_micro,
           CAST(MIN(entropy_micro) AS BIGINT) AS min_entropy_micro,
           CAST(MAX(entropy_micro) AS BIGINT) AS max_entropy_micro,
           CAST(SUM(simpson_micro) AS BIGINT) AS sum_simpson_micro
    FROM scored GROUP BY source
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram token entropy per document (the gibberish/boilerplate
    quality signal: low entropy = repetitive text), aggregated per source.

    Cross-engine exactness: the only float steps are `c*ln(c)` on small
    integer counts and one final `ln(n) - s/n` per doc — each immediately
    micro-quantized (floor(x*1e6+0.5)), so every SUM crossing the engines
    is over exact BIGINTs and immune to FP summation order. The Simpson
    concentration (1 - sum(c^2)/n^2) rides along as a fully
    rational second diversity metric. Plan: explode -> two hash aggs
    (partial combine does the heavy lifting) -> source agg."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.explode(nonempty_tokens(F.col("text"))).alias("tok"),
    )
    tc = toks.groupBy("doc_id", "source", "tok").agg(F.count("*").alias("c"))
    tc = tc.withColumn(
        "q", F.floor(F.col("c") * F.log(F.col("c")) * 1e6 + F.lit(0.5)).cast("long")
    )
    per_doc = tc.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n"),
        F.sum("q").alias("s_q"),
        F.sum(F.col("c") * F.col("c")).alias("s_c2"),
    )
    n = F.col("n")
    scored = per_doc.where(n >= 1).select(
        "source",
        F.floor((F.log(n) - F.col("s_q") / (n * 1e6)) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("entropy_micro"),
        F.floor(
            (1.0 - F.col("s_c2").cast("double") / (n.cast("double") * n)) * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("simpson_micro"),
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("docs"),
        F.sum("entropy_micro").alias("sum_entropy_micro"),
        F.min("entropy_micro").alias("min_entropy_micro"),
        F.max("entropy_micro").alias("max_entropy_micro"),
        F.sum("simpson_micro").alias("sum_simpson_micro"),
    )


@_q(
    "xcorr_daily_lag",
    """
    WITH daily AS (
      SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
             event_type, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2
    ), a AS (SELECT day AS da, cnt AS x FROM daily WHERE event_type = 'click'),
       b AS (SELECT day AS db, cnt AS y FROM daily WHERE event_type = 'purchase'),
    paired AS (
      SELECT lag, x, y
      FROM a CROSS JOIN (SELECT unnest(range(0, 8)) AS lag) lags
      JOIN b ON b.db = a.da + lag
    ), parts AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM paired GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n, sx, sy, sxx, syy, sxy,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN CAST(floor(
                       CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE))
                       * 1e6 + 0.5) AS BIGINT)
                ELSE NULL END AS r_micro
    FROM parts
    """,
)
def xcorr_daily_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between two event streams' daily counts
    (does `click` volume lead `purchase` volume, and by how many days?) —
    the lead/lag diagnostic a metrics pipeline runs between a driver and
    a target series. Pearson r at lags 0..7 from pure integer partials
    (n, sums, sums of squares/products are exact BIGINTs; the single
    float step — one subtract/multiply/sqrt/divide chain of correctly
    rounded IEEE ops on those integers — is micro-quantized), so the
    result is bit-exact across engines and partitionings. Plan: one scan,
    one daily hash-agg, a broadcast 8-row lag table, then an 8-way
    re-keyed agg — all JVM."""
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    daily = (
        ev.withColumn(
            "day", F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        )
        .groupBy("day", "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    a = daily.where(F.col("event_type") == "click").select(
        F.col("day").alias("da"), F.col("cnt").alias("x")
    )
    b = daily.where(F.col("event_type") == "purchase").select(
        F.col("day").alias("db"), F.col("cnt").alias("y")
    )
    lags = spark.range(0, 8).select(F.col("id").alias("lag"))
    paired = a.crossJoin(F.broadcast(lags)).join(
        b, F.col("db") == F.col("da") + F.col("lag")
    )
    parts = paired.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    vx = n * F.col("sxx") - sx * sx
    vy = n * F.col("syy") - sy * sy
    num = (n * F.col("sxy") - sx * sy).cast("double")
    r_micro = (
        F.when(
            (vx > 0) & (vy > 0),
            F.floor(
                num / F.sqrt(vx.cast("double") * vy.cast("double")) * 1e6 + F.lit(0.5)
            ).cast("long"),
        )
    ).alias("r_micro")
    return parts.select(
        F.col("lag").cast("long").alias("lag"),
        "n", "sx", "sy", "sxx", "syy", "sxy", r_micro,
    )


# =========================================================================
# from queries_r3vv.py
# =========================================================================

"""Round-3 batch vv: second-order LM scoring and vocabulary statistics.

* ``doc_bigram_logprob`` — add-one-smoothed bigram log-probability per
  doc under the corpus's own bigram model (operators/tfidf.
  bigram_logprob): the order-sensitive fluency filter that unigram
  scoring cannot express (a shuffled fluent paragraph keeps its unigram
  score, loses its bigram score).
* ``text_ttr_hapax`` — per-doc lexical diversity: type-token ratio in
  exact rounded bp plus within-doc hapax count.
* ``vocab_frequency_census`` — per-language corpus vocabulary census:
  vocabulary size, hapax/dis-legomena counts (the Zipf tail the
  dedup + quality filters feed on), max term frequency.
"""


_TOKS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


@_q(
    "doc_bigram_logprob",
    f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), uni AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(toks) AS term FROM tok) GROUP BY 1
    ), v AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni
    ), bg AS (
      SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg, toks[i] AS w1
      FROM tok, unnest(range(1, len(toks))) AS r(i)
      WHERE len(toks) >= 2
    ), fbg AS (
      SELECT bg, CAST(COUNT(*) AS BIGINT) AS cbg FROM bg GROUP BY 1
    ), scored AS (
      SELECT bg.doc_id,
             CAST(floor(ln((fbg.cbg + 1.0)
                           / (CAST(uni.c AS DOUBLE) + CAST(v.v AS DOUBLE)))
                        * 1000000.0 + 0.5) AS BIGINT) AS lpq
      FROM bg JOIN fbg USING (bg)
      JOIN uni ON bg.w1 = uni.term
      CROSS JOIN v
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(lpq) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1000000.0), 4) AS logprob
    FROM scored GROUP BY 1
    """,
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean bigram log-probability per document, Laplace-smoothed over
    the corpus vocabulary. Bigrams are built row-locally from the staged
    token array (no token-stream self-join), the unigram table
    broadcasts, the bigram-frequency join stays key-keyed for AQE.
    Micro-nat quantization before the per-doc sum keeps the mean
    partitioning-exact (same recipe as doc_unigram_logprob)."""
    from mintpy_spark.operators.tfidf import bigram_logprob

    return bigram_logprob(load(spark, sf_dir, "documents"))


@_q(
    "text_ttr_hapax",
    f"""
    WITH tok AS (
      SELECT doc_id, t.term
      FROM documents,
           unnest({_TOKS_SQL}) AS t(term)
    ), tc AS (
      SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST((20000 * COUNT(*) + SUM(c)) // (2 * SUM(c)) AS BIGINT)
             AS ttr_bp
    FROM tc GROUP BY 1
    """,
)
def text_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc lexical diversity: type count, within-doc hapax count and
    the type-token ratio as a rounded integer division (low TTR = loops
    of repeated boilerplate; TTR ~ 1 = no reuse at all, often tables or
    id dumps — both filter targets). One explode, then two aggregations
    co-keyed on doc_id (the (doc, term) agg shuffles on the same prefix
    the doc_id agg consumes — one Exchange)."""
    d = load(spark, sf_dir, "documents")
    tc = d.select(
        "doc_id", F.explode(nonempty_tokens("text")).alias("term")
    ).groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    return tc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.expr("(20000 * COUNT(*) + SUM(c)) DIV (2 * SUM(c))")
        .cast("long")
        .alias("ttr_bp"),
    )


@_q(
    "vocab_frequency_census",
    f"""
    WITH tok AS (
      SELECT lang, t.term
      FROM documents,
           unnest({_TOKS_SQL}) AS t(term)
    ), tc AS (
      SELECT lang, term, COUNT(*) AS c FROM tok GROUP BY 1, 2
    )
    SELECT lang,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dis,
           CAST(MAX(c) AS BIGINT) AS max_freq,
           CAST((20000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) + COUNT(*))
                // (2 * COUNT(*)) AS BIGINT) AS hapax_bp
    FROM tc GROUP BY 1
    """,
)
def vocab_frequency_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary census per language: Heaps-law vocabulary size,
    hapax and dis-legomena counts (Good-Turing mass — what smoothing and
    trie-size planning read), hottest term frequency, hapax share in bp.
    The (lang, term) agg is the only shuffle; Zipf-hot terms are
    map-side partial-combined before it. The per-lang fold is
    vocabulary-sized input, not corpus-sized."""
    d = load(spark, sf_dir, "documents")
    tc = d.select(
        "lang", F.explode(nonempty_tokens("text")).alias("term")
    ).groupBy("lang", "term").agg(F.count("*").alias("c"))
    return tc.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n_dis"),
        F.max("c").cast("long").alias("max_freq"),
        F.expr(
            "(20000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) + COUNT(*))"
            " DIV (2 * COUNT(*))"
        )
        .cast("long")
        .alias("hapax_bp"),
    )


# =========================================================================
# from queries_r3ai.py
# =========================================================================

"""Round-3 batch ai: BM25 ranked retrieval, BPE pair census, Siegel
repeated-median velocity, and the daily high/low-with-timestamp tier.

Same oracle discipline as mintpy_spark.queries: identical aliases both
sides, in-query rounding both sides, integer arithmetic wherever a
ranking or a comparison crosses the engine boundary.
"""


_BM25_TERMS = ["spark", "window", "hash"]


@_q("index_bm25_topk", bm25_oracle_sql(_BM25_TERMS, top_k=10))
def index_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-ranked top-10 documents for a 3-term query (Okapi/Lucene
    variant with the +1 idf floor) — the ranked companion of the
    conjunctive index search. Per-(doc,term) scores are micro-quantized
    integers summed exactly; the top-k is orderBy+limit (TakeOrdered),
    never a global sort; df/avgdl ride broadcasts."""
    from mintpy_spark.operators.tfidf import bm25_topk

    docs = load(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, top_k=10)


@_q(
    "bpe_pair_census",
    """
    WITH toks AS (
      SELECT lang, list_filter(string_split(text, ' '), t -> t <> '') AS t
      FROM documents
    ),
    pairs AS (
      SELECT lang, t[i] AS w1, t[i + 1] AS w2
      FROM toks, UNNEST(range(1, len(t))) AS r(i)
      WHERE len(t) >= 2
    ),
    counted AS (
      SELECT lang, w1, w2, COUNT(*) AS cnt FROM pairs GROUP BY 1, 2, 3
    )
    SELECT lang, rnk, w1, w2, cnt FROM (
      SELECT lang, w1, w2, cnt,
             CAST(row_number() OVER (
               PARTITION BY lang ORDER BY cnt DESC, w1, w2
             ) AS BIGINT) AS rnk
      FROM counted
    ) WHERE rnk <= 3
    """,
)
def bpe_pair_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge-round census (Sennrich 2016): the top-3 most
    frequent adjacent token pairs per language. Pairs are built
    row-locally from the staged token array (no token-stream self-join);
    one hash agg with map-side partials; the rank window runs over the
    Heaps-bounded pair vocabulary, not the corpus."""
    from mintpy_spark.operators.tfidf import adjacent_pair_census

    docs = load(spark, sf_dir, "documents")
    return adjacent_pair_census(docs, group="lang", top_k=3)


@_q(
    "velocity_siegel",
    f"""
    WITH base AS (
      SELECT user_id,
             {_DY_SQL.format(t='ts')} - 2024.0 AS t,
             CAST(value AS DOUBLE) AS v,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, value) AS rn
      FROM events
    ),
    inner_m AS (
      SELECT a.user_id AS user_id, a.rn AS rn,
             median((b.v - a.v) / (b.t - a.t)) AS mi
      FROM base a JOIN base b
        ON a.user_id = b.user_id
       AND b.rn <> a.rn
       AND abs(b.rn - a.rn) <= 10
       AND b.t <> a.t
      GROUP BY a.user_id, a.rn
    )
    SELECT user_id, ROUND(median(mi), 4) AS velocity,
           COUNT(*) AS num_points
    FROM inner_m GROUP BY user_id
    """,
)
def velocity_siegel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel repeated-median velocity (50% breakdown — the maximum):
    median over observations of the median in-band pairwise slope. The
    engine builds each center's neighbor slopes from 2x10 lag/lead
    columns in ONE window pass (no self-join; the oracle's banded
    self-join is the independent formulation) and takes the inner median
    row-locally from the sorted array."""
    from mintpy_spark.operators.robust import siegel_velocity

    ev = load(spark, sf_dir, "events")
    out = siegel_velocity(
        ev, "value", key="user_id", ts="ts", max_lag=10, ref_year=2024.0,
        order_cols=("value",),
    )
    return out.select(
        "user_id", F.round("velocity", 4).alias("velocity"), "num_points"
    )


@_q(
    "rollup_1d_hilo",
    """
    SELECT user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           ROUND((max({'v': value, 'nm': -epoch_us(ts), 't': ts})).v, 4)
             AS hi_v,
           (max({'v': value, 'nm': -epoch_us(ts), 't': ts})).t AS hi_t,
           ROUND((min({'v': value, 'm': epoch_us(ts), 't': ts})).v, 4)
             AS lo_v,
           (min({'v': value, 'm': epoch_us(ts), 't': ts})).t AS lo_t,
           COUNT(value) AS cnt
    FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    """,
)
def rollup_1d_hilo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extremum-with-timestamp daily tier: the value high/low per
    (key, day) and the timestamp each was FIRST reached — struct-min/max
    partials with negated-microsecond tie inversion, so ties are
    engine- and partitioning-independent; one map-side-combining hash
    aggregation, mergeable into coarser tiers."""
    from mintpy_spark.operators.rollup import rollup_hilo

    ev = load(spark, sf_dir, "events")
    t = rollup_hilo(ev, "value", "1d", key="user_id", ts="ts")
    return t.select(
        "user_id", "bucket_start",
        F.round("hi_v", 4).alias("hi_v"), "hi_t",
        F.round("lo_v", 4).alias("lo_v"), "lo_t",
        "cnt",
    )


# =========================================================================
# from queries_r4d.py
# =========================================================================

"""Round-4 batch d: corpus curves — per-document readability census and
the Heaps'-law vocabulary-growth curve (operators/corpus.py). Both are
exact under the driver oracle: integer counts throughout, with the two
readability scores floor-quantized to basis points from an expression
written in the identical operation order on both sides.
"""


@_q(
    "text_readability_census",
    """
    WITH m AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+'))
               AS n_words,
             len(regexp_extract_all(lower(coalesce(text, '')), '[aeiouy]+'))
               AS n_syllables
      FROM documents
    ), s AS (
      SELECT doc_id, n_words, n_syllables,
             (n_words + 14) // 15 AS n_sentences
      FROM m
    )
    SELECT doc_id, n_words, n_syllables, n_sentences,
           CASE WHEN n_words > 0 THEN CAST(FLOOR(
             (206.835
              - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
              - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
             ) * 100) AS BIGINT) END AS flesch_bp,
           CASE WHEN n_words > 0 THEN CAST(FLOOR(
             (0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
              + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
              - 15.59
             ) * 100) AS BIGINT) END AS fk_bp
    FROM s
    """,
)
def text_readability_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Flesch reading-ease + Flesch-Kincaid grade, with the
    word/syllable/pseudo-sentence counts that feed them. Sentence unit is
    a fixed 15-token window (the corpus carries no punctuation); words
    are [a-z]+ runs, syllables [aeiouy]+ vowel-group runs — all
    deterministic, so the scores are floor-exact against the oracle.

    Reference analog: the pre-inversion stack profiling habit (info.py /
    utils stats) applied to the text channel; in a curation pipeline
    these scores gate the quality tier next to the Gopher flags
    (operators/curation.py:193).

    Scale: zero shuffle — every column is row-local regexp work in the
    scan stage, whole-stage codegen end to end.
    """
    from mintpy_spark.operators.corpus import readability_scores

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return readability_scores(docs).select(
        "doc_id", "n_words", "n_syllables", "n_sentences",
        "flesch_bp", "fk_bp",
    )


@_q(
    "corpus_heaps_curve",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ), per_doc AS (
      SELECT d.doc_id, COALESCE(t.ntok, 0) AS ntok
      FROM documents d
      LEFT JOIN (SELECT doc_id, COUNT(*) AS ntok FROM tok GROUP BY 1) t
        USING (doc_id)
    ), ranked AS (
      SELECT doc_id, ntok,
             (row_number() OVER (ORDER BY doc_id) - 1) * 10
               // (SELECT COUNT(*) FROM per_doc) + 1 AS bucket
      FROM per_doc
    ), tokb AS (
      SELECT bucket, SUM(ntok) AS tok, COUNT(*) AS docs
      FROM ranked GROUP BY 1
    ), firsts AS (
      SELECT w, MIN(doc_id) AS d0 FROM tok GROUP BY 1
    ), vocb AS (
      SELECT r.bucket, COUNT(*) AS vocab
      FROM firsts f JOIN ranked r ON f.d0 = r.doc_id
      GROUP BY 1
    )
    SELECT t.bucket,
           CAST(SUM(t.docs)  OVER c AS BIGINT) AS docs_cum,
           CAST(SUM(t.tok)   OVER c AS BIGINT) AS tokens_cum,
           CAST(SUM(COALESCE(v.vocab, 0)) OVER c AS BIGINT) AS vocab_cum
    FROM tokb t LEFT JOIN vocb v USING (bucket)
    WINDOW c AS (ORDER BY t.bucket ROWS UNBOUNDED PRECEDING)
    """,
)
def corpus_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law curve: cumulative (docs, tokens, distinct vocabulary)
    after each tenth of the corpus in doc_id order — exact integers. A
    vocabulary that saturates early (as this synthetic corpus does, 31
    words) flags template/synthetic content; natural web text grows as
    V ~ k*T^b with b in 0.4-0.6.

    Scale notes in operators/corpus.py:heaps_curve — tokens reduce to
    doc-level and vocabulary-level rows before any ordered pass; the
    in-query doc-level row_number is the oracle-parity stand-in for the
    ingest manifest's write-time prefix ranks.
    """
    from mintpy_spark.operators.corpus import heaps_curve

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return heaps_curve(docs, buckets=10)
