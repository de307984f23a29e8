"""Dedup-family queries beyond queries_dedup: substring spans, CDC, winnowing, ssjoin, URL canonicalization, pagerank/LSH recall.

Consolidated from the round-batch modules named in the section
markers below (pure moves, zero semantic change — VERDICT r4 #10).
"""

from __future__ import annotations

from mintpy_spark.operators import dedup as D
from mintpy_spark.operators.dedup import (
    containment_near_dups,
    containment_oracle_sql,
)
from mintpy_spark.operators.engagement import daily_actives, state_dwell
from mintpy_spark.operators.graph import copurchase_edges, triangle_count
from mintpy_spark.operators.ssjoin import ssjoin_jaccard, ssjoin_oracle_sql
from mintpy_spark.operators.urltools import (
    canonical_url_dups,
    canonicalize_url,
    url_host,
    url_path_depth,
    url_registered_domain,
)
from mintpy_spark.operators.winnow import (
    winnow_oracle_cte,
    winnow_pairs,
    winnow_stats,
)
from mintpy_spark.plans.cache import persist_slot
from mintpy_spark.queries import _q, load
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# =========================================================================
# from queries_r3h.py
# =========================================================================

"""Round-3 additions, batch h: exact substring-span deduplication (the
Lee et al. 2022 duplicated-window census) per document and rolled up per
source — the domain-level filtering decision a Common-Crawl curation
pipeline makes (drop sources whose content is mostly boilerplate/copy)."""


_SPANS_K = 8


@_q(
    "dedup_substring_spans",
    D.substring_spans_oracle_sql(k=_SPANS_K),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated k-token-window census (exact substring
    dedup signal, Lee et al. 2022): n_windows, dup_windows, and the
    exact-integer basis-point fraction. Two hash aggs + one hash join on
    a 60-bit window hash; the window strings never shuffle
    (operators/dedup.duplicated_window_fraction)."""
    docs = load(spark, sf_dir, "documents")
    return D.duplicated_window_fraction(docs, k=_SPANS_K)


@_q(
    "source_dup_profile",
    f"""
    WITH per_doc AS ({D.substring_spans_oracle_sql(k=_SPANS_K)})
    SELECT d.source,
           COUNT(*)::BIGINT AS n_docs,
           COUNT(p.n_windows)::BIGINT AS n_scored,
           CAST(COALESCE(SUM(p.n_windows), 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(SUM(p.dup_windows), 0) AS BIGINT) AS dup_windows,
           CAST(CASE WHEN COALESCE(SUM(p.n_windows), 0) > 0
                     THEN floor(SUM(p.dup_windows) * 10000.0
                                / SUM(p.n_windows) + 0.5)
                     ELSE 0 END AS BIGINT) AS dup_bp
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    GROUP BY d.source
    """,
)
def source_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level duplication profile: the per-document window census
    aggregated per source (basis points of duplicated windows over the
    source's whole corpus) — the statistic a curation pipeline thresholds
    to drop high-boilerplate domains. Composition of the substring-span
    operator with one more partial+final agg; the doc_id join is keyed on
    the corpus primary key, so it co-partitions with any doc-id-bucketed
    layout at scale."""
    docs = load(spark, sf_dir, "documents")
    per_doc = D.duplicated_window_fraction(docs, k=_SPANS_K)
    j = docs.select("doc_id", "source").join(per_doc, "doc_id", "left")
    n_win = F.coalesce(F.sum("n_windows"), F.lit(0))
    n_dup = F.coalesce(F.sum("dup_windows"), F.lit(0))
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("n_windows").cast("long").alias("n_scored"),
            n_win.cast("long").alias("n_windows"),
            n_dup.cast("long").alias("dup_windows"),
        )
        .withColumn(
            "dup_bp",
            F.when(
                F.col("n_windows") > 0,
                F.floor(
                    F.col("dup_windows") * F.lit(10000.0)
                    / F.col("n_windows")
                    + F.lit(0.5)
                ),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )


# =========================================================================
# from queries_r3k.py
# =========================================================================

"""Round-3 additions, batch k: seasonal-naive forecast skill (MASE),
PMI collocation extraction, and content-defined-chunking dedup."""


_CDC_MOD = 8
_PMI_TOPK = 20
_PMI_MIN = 5


@_q(
    "forecast_snaive_mase",
    """
    WITH c AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_day,
             COUNT(*) AS c,
             date_diff('day', DATE '1970-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS d
      FROM events GROUP BY 1, 2, 4),
    r AS (
      SELECT event_type, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY d
                          RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING)
               AS c_s,
             SUM(c) OVER (PARTITION BY event_type ORDER BY d
                          RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING)
               AS c_1
      FROM c),
    a AS (
      SELECT event_type,
             COUNT(c_s)             AS n_scored,
             SUM(abs(c - c_s))      AS err_s,
             COUNT(c_1)             AS n_naive,
             SUM(abs(c - c_1))      AS err_1
      FROM r GROUP BY event_type)
    SELECT event_type,
           CAST(n_scored AS BIGINT)           AS n_scored,
           CAST(COALESCE(err_s, 0) AS BIGINT) AS err_s,
           CAST(n_naive AS BIGINT)            AS n_naive,
           CAST(COALESCE(err_1, 0) AS BIGINT) AS err_1,
           CASE WHEN n_scored > 0 AND n_naive > 0 AND err_1 > 0
                THEN CAST(floor((err_s / n_scored) / (err_1 / n_naive)
                                * 10000.0 + 0.5) AS BIGINT) END AS mase_bp
    FROM a
    """,
)
def forecast_snaive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast skill per event type: MASE (Hyndman &
    Koehler 2006) of forecast(d) = count(d-7) on the 1d count tier,
    scaled by the naive-1 in-sample error — integer-exact error sums,
    exact-offset RANGE frames so calendar gaps yield no-forecast rather
    than silently reading the previous active day
    (operators/forecast.snaive_mase_daily)."""
    from mintpy_spark.operators.forecast import snaive_mase_daily

    ev = load(spark, sf_dir, "events")
    return snaive_mase_daily(ev, key="event_type", ts="ts", season_days=7)


@_q(
    "text_pmi_top_pairs",
    f"""
    WITH w AS (
      SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ws
      FROM documents),
    posn AS (
      SELECT unnest(list_zip(ws[1:len(ws) - 1], ws[2:len(ws)])) AS p
      FROM w WHERE len(ws) >= 2),
    pairs AS (SELECT p[1] AS tok_a, p[2] AS tok_b FROM posn),
    pc AS (
      SELECT tok_a, tok_b, COUNT(*) AS c_ab
      FROM pairs GROUP BY tok_a, tok_b),
    uni AS (
      SELECT tok, SUM(c_ab) AS cu FROM (
        SELECT tok_a AS tok, c_ab FROM pc
        UNION ALL SELECT tok_b AS tok, c_ab FROM pc)
      GROUP BY tok)
    SELECT pc.tok_a, pc.tok_b,
           CAST(pc.c_ab AS BIGINT) AS c_ab,
           CAST(ua.cu AS BIGINT)   AS c_a,
           CAST(ub.cu AS BIGINT)   AS c_b,
           CAST((pc.c_ab * 1000000000000) // (ua.cu * ub.cu) AS BIGINT)
             AS score
    FROM pc
    JOIN uni ua ON ua.tok = pc.tok_a
    JOIN uni ub ON ub.tok = pc.tok_b
    WHERE pc.c_ab >= {_PMI_MIN}
    ORDER BY score DESC, pc.tok_a, pc.tok_b
    LIMIT {_PMI_TOPK}
    """,
)
def text_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: top-20 adjacent-token bigrams by PMI with
    an INTEGER-exact ranking (c_ab*1e12 div (c_a*c_b) — constants cancel,
    no libm log at the ranking boundary) and (tok_a, tok_b) tie-break.
    One bigram explode; unigram counts re-aggregated from the persisted
    pair vocabulary, never the corpus (operators/tfidf.pmi_top_pairs)."""
    from mintpy_spark.operators.tfidf import pmi_top_pairs

    docs = load(spark, sf_dir, "documents")
    return pmi_top_pairs(
        docs, text_col="text", top_k=_PMI_TOPK, min_pair_count=_PMI_MIN
    )


@_q("dedup_cdc_chunks", D.cdc_chunk_oracle_sql(window_mod=_CDC_MOD))
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup census (LBFS/rsync boundary rule
    on token hashes): per document, total chunks, chunks whose string
    occurs >= 2 times corpus-wide, and the basis-point fraction.
    Insertion-robust where fixed-k windows shift; ~window_mod x cheaper
    explode than the span census; same one-repartition census tail
    (operators/dedup.cdc_chunk_dedup)."""
    docs = load(spark, sf_dir, "documents")
    return D.cdc_chunk_dedup(docs, window_mod=_CDC_MOD)


# =========================================================================
# from queries_r3v.py
# =========================================================================

"""Round-3 additions, batch v: rolling-active engagement, time-in-state
census, and containment near-dup.

* engagement WAU — DAU + EXACT rolling-7-day distinct actives per day
  with a stickiness ratio (the DAU/WAU engagement staple).  Exact
  sliding count-distinct does not decompose into mergeable partials;
  the scale-safe form is the interval-cover explode (x7 bounded fan-out
  per distinct user-day, independent of per-day event volume).
* state dwell census — the TimescaleDB ``state_agg`` analog: time spent
  in each event_type between consecutive events per user (MintPy's
  ``tbase_diff`` acquisition-interval accounting).  Microsecond
  integers end-to-end so the oracle (``epoch_us``) matches exactly.
* containment near-dup — asymmetric |A∩B| / min(|A|,|B|) over
  discriminative word-3-gram shingles (df <= 50, the Broder
  stop-shingle cut): catches quote-inclusion / subset pairs whose
  Jaccard is tiny, the one near-dup family MinHash/SimHash tiers
  structurally miss.
"""


@_q(
    "engagement_wau_daily",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed
      FROM events WHERE user_id IS NOT NULL
    ), dau AS (
      SELECT ed, COUNT(*) AS dau FROM ud GROUP BY 1
    ), cover AS (
      SELECT DISTINCT user_id, ed + t.i AS wd
      FROM ud, unnest([0, 1, 2, 3, 4, 5, 6]) AS t(i)
    ), wau AS (
      SELECT wd, COUNT(*) AS wau FROM cover GROUP BY 1
    )
    SELECT CAST(d.ed AS BIGINT) AS ed,
           CAST(d.dau AS BIGINT) AS dau,
           CAST(w.wau AS BIGINT) AS wau,
           CAST(floor(d.dau * 10000.0 / w.wau + 0.5) AS BIGINT)
             AS stickiness_bp
    FROM dau d JOIN wau w ON w.wd = d.ed
    """,
)
def engagement_wau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU, exact trailing-7-day WAU, and stickiness (bp) per active day.
    Plan: distinct (user, day) -> Exchange 1 (volume = distinct
    user-days, not raw events); interval-cover explode (bounded x7) +
    re-distinct -> Exchange 2; two tiny count aggs with map-side
    combine; inner join restricts output to days with direct activity.
    No unbounded window state — this is the mergeable-free exact form."""
    return daily_actives(load(spark, sf_dir, "events"), window=7)


@_q(
    "state_dwell_census",
    """
    WITH e AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS us
      FROM events
    ), seg AS (
      SELECT event_type,
             lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
               - us AS dwell
      FROM e
    )
    SELECT event_type AS state,
           CAST(COUNT(*) AS BIGINT) AS entries,
           CAST(SUM(dwell) AS BIGINT) AS total_us,
           CAST(MAX(dwell) AS BIGINT) AS max_us,
           CAST(floor(SUM(dwell) * 1.0 / COUNT(*) + 0.5) AS BIGINT)
             AS mean_us
    FROM seg WHERE dwell IS NOT NULL
    GROUP BY 1
    """,
)
def state_dwell_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state census: per event_type, entries / total / max /
    mean dwell in EXACT integer microseconds, a row's state lasting
    until the same user's next event (last event uncensored, dropped).
    Plan: one Exchange on user_id for the lead() window (sort within
    partitions only), then a |states|-bounded hash agg. Ties on the
    timestamp break on event_id identically in Spark and the oracle."""
    return state_dwell(load(spark, sf_dir, "events"))


@_q("dedup_containment", containment_oracle_sql())
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: |A∩B| / min(|A|,|B|) >= 50 % over
    df<=50 discriminative word-3-gram shingles — the asymmetric
    quote-inclusion detector Jaccard LSH misses. Plan: postings + df cut
    co-located on one shingle Exchange; inverted-index pair generation
    bounded by max_df x |postings| (the df cap IS the semantics:
    ubiquitous shingles carry no dup signal and are what makes naive
    pair counting quadratic); pair hash agg; two joins against sizes."""
    return containment_near_dups(load(spark, sf_dir, "documents"))


# =========================================================================
# from queries_r3af.py
# =========================================================================

"""Round-3 batch af: winnowing fingerprints and exact triangle count.

* ``text_winnow_stats`` — per-document MOSS fingerprint census: k-gram
  count, winnowed fingerprint count, and measured density (expected
  ~2/(w+1)). The engine selection is shuffle-free array arithmetic; the
  oracle re-derives the same selection with window functions + QUALIFY
  — two independent formulations of the rightmost-min rule.
* ``dedup_winnow_pairs`` — the MOSS overlap report: document pairs
  sharing >= 3 distinct fingerprint hashes, boilerplate-capped at
  document frequency 50 (LSH-bucket-cap discipline).
* ``graph_triangle_count`` — exact triangles of the part co-purchase
  graph via degree-ordered wedge joins (Suri-Vassilvitskii shape: wedge
  fan-out O(|E|^1.5) regardless of skew); the oracle is the textbook
  a<b<c three-way self-join.
"""


_K, _W = 5, 4


@_q(
    "text_winnow_stats",
    f"""
    WITH {winnow_oracle_cte(k=_K, w=_W)},
    f AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps
          FROM sel GROUP BY 1),
    kg AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                  - {_K - 1} AS BIGINT) AS n_kgrams
      FROM documents
      WHERE len(list_filter(string_split(text, ' '), t -> t <> ''))
            >= {_K + _W - 1})
    SELECT kg.doc_id, kg.n_kgrams, f.n_fps,
           CAST(floor(f.n_fps * 10000.0 / kg.n_kgrams + 0.5) AS BIGINT)
             AS density_bp
    FROM kg JOIN f USING (doc_id)
    """,
)
def text_winnow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing density census (k=5, w=4): every document's fingerprint
    count against its k-gram count. The engine's selection never leaves
    the scan-stage projection (array slide-min + distinct per row); the
    only Exchanges are the per-doc agg and the join back — both on
    doc_id, AQE-broadcast at small SF."""
    docs = load(spark, sf_dir, "documents")
    return winnow_stats(docs, k=_K, w=_W)


@_q(
    "dedup_winnow_pairs",
    f"""
    WITH {winnow_oracle_cte(k=_K, w=_W)},
    f AS (SELECT DISTINCT doc_id, fp // 1048576 AS h FROM sel),
    ok AS (SELECT h FROM f GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 50),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM f a JOIN ok USING (h) JOIN f b USING (h)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 3
    """,
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS overlap pairs: >= 3 shared distinct fingerprint hashes, df
    cap 50 against boilerplate buckets. One shuffle clustered on the
    fingerprint hash does candidate generation; the guarantee is
    positional — any shared token run of >= k+w-1 tokens leaves at
    least one shared fingerprint (Schleimer et al. 2003, Thm 1)."""
    docs = load(spark, sf_dir, "documents")
    return winnow_pairs(docs, k=_K, w=_W, min_shared=3, df_cap=50)


@_q(
    "graph_triangle_count",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM (SELECT pa AS x FROM e UNION SELECT pb FROM e)),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM e e1
      JOIN e e2 ON e1.pb = e2.pa
      JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb)
    SELECT n.n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           t.n_triangles
    FROM n, t
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count of the support>=2 co-purchase graph. Engine:
    degree-ordered orientation (ties broken by id inside the packed ord)
    so each triangle is wedged exactly once at its lowest-ord vertex and
    the wedge fan-out is skew-immune; oracle: naive a<b<c self-joins.
    Agreement pins the orientation logic, the classic place triangle
    counters double-count."""
    li = load(spark, sf_dir, "lineitem")
    return triangle_count(copurchase_edges(li, min_support=2))


# =========================================================================
# from queries_r3ag.py
# =========================================================================

"""Round-3 batch ag: exact set-similarity join (AllPairs/PPJoin prefix
filter).

``dedup_ssjoin_exact`` returns EVERY document pair with 3-shingle
Jaccard >= 4/5 — no false negatives, unlike the banded MinHash path it
complements. The engine uses the rarity-ordered prefix filter + length
filter + exact verify; the oracle is the unfiltered all-pairs
formulation, so agreement proves the prefix filter is lossless on this
corpus (the paper's guarantee, exercised end-to-end).
"""


@_q("dedup_ssjoin_exact", ssjoin_oracle_sql(n=3, t_num=4, t_den=5))
def dedup_ssjoin_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.8 self-join on 3-shingle sets via prefix
    filtering. Candidate generation touches only |x|-ceil(0.8|x|)+1
    rarity-first tokens per document (rare tokens -> tiny buckets);
    integer cross-multiplied threshold so both engines agree bit-for-
    bit. The oracle does all-pairs with no filter — agreement = the
    lossless-filter guarantee, measured."""
    docs = load(spark, sf_dir, "documents")
    return ssjoin_jaccard(docs, n=3, t_num=4, t_den=5)


# =========================================================================
# from queries_r3ae.py
# =========================================================================

"""Round-3 batch ae: URL canonicalization over planted noisy variants.

The north-rule corpus keys everything on ``url``; raw crawl URLs are
noisy (fragments, tracking params, case, default ports, duplicate and
trailing slashes), and canonicalizing before the per-url groupBy is the
difference between one tier series per page and five. The engine side
is ``operators/urltools.py`` — pure whole-stage-codegen string surgery.

Oracle strategy: planted truth, not regex duplication. Both engines
construct IDENTICAL raw URLs deterministically from ``doc_id`` (nine
variant shapes per logical page, ``page_id = doc_id // 9``); only Spark
runs the canonicalizer, while the oracle computes the expected canonical
directly from ``page_id``. A canonicalizer bug of any kind (missed
param, kept fragment, case leak, slash mishandling) breaks the
group-by-canonical counts and fails the hash compare — a stronger check
than mirroring the same regexes in DuckDB.

Variant table (m = doc_id % 9; canonical = base except m=8):

  0  base                                   5  base with :443 port
  1  base#section2                          6  double slash in path
  2  base?utm_source=..&utm_campaign=..     7  base?ref=tw#top
  3  base/                                  8  base?q=1&utm_medium=..
  4  UPPERCASE scheme+host                     (canonical = base?q=1)

Reference analog: MintPy standardizes dataset keys/file paths on ingest
(utils/readfile.py get_slice_list, attribute standardization) so
downstream operators agree on the key.
"""


# DuckDB fragments constructing the same base / raw URL the Spark side
# builds with format_string — shared so both queries agree.
_B_SQL = (
    "'https://domain' || lpad(CAST(page_id % 40 AS VARCHAR), 3, '0')"
    " || '.example.com/page/' || CAST(page_id AS VARCHAR)"
)
_UP_SQL = (
    "'HTTPS://DOMAIN' || lpad(CAST(page_id % 40 AS VARCHAR), 3, '0')"
    " || '.EXAMPLE.COM/page/' || CAST(page_id AS VARCHAR)"
)
_RAW_SQL = f"""
      CASE m
        WHEN 0 THEN base
        WHEN 1 THEN base || '#section2'
        WHEN 2 THEN base || '?utm_source=feed&utm_campaign=x'
        WHEN 3 THEN base || '/'
        WHEN 4 THEN {_UP_SQL}
        WHEN 5 THEN replace(base, '.example.com/', '.example.com:443/')
        WHEN 6 THEN replace(base, '/page/', '/page//')
        WHEN 7 THEN base || '?ref=tw#top'
        ELSE base || '?q=1&utm_medium=email'
      END
"""


def _planted_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(page_id, m, raw_url): nine deterministic noisy variants per
    logical page, built row-locally from doc_id — the Spark twin of the
    oracle's CASE table above."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    page_id = F.expr("doc_id div 9").alias("page_id")
    m = (F.col("doc_id") % 9).alias("m")
    v = docs.select(page_id, m)
    base = F.format_string(
        "https://domain%03d.example.com/page/%d",
        F.col("page_id") % 40,
        F.col("page_id"),
    )
    up = F.format_string(
        "HTTPS://DOMAIN%03d.EXAMPLE.COM/page/%d",
        F.col("page_id") % 40,
        F.col("page_id"),
    )
    raw: Column = (
        F.when(F.col("m") == 0, base)
        .when(F.col("m") == 1, F.concat(base, F.lit("#section2")))
        .when(F.col("m") == 2, F.concat(base, F.lit("?utm_source=feed&utm_campaign=x")))
        .when(F.col("m") == 3, F.concat(base, F.lit("/")))
        .when(F.col("m") == 4, up)
        .when(
            F.col("m") == 5,
            F.regexp_replace(base, r"\.example\.com/", ".example.com:443/"),
        )
        .when(F.col("m") == 6, F.regexp_replace(base, r"/page/", "/page//"))
        .when(F.col("m") == 7, F.concat(base, F.lit("?ref=tw#top")))
        .otherwise(F.concat(base, F.lit("?q=1&utm_medium=email")))
    )
    return v.select("page_id", "m", raw.alias("raw_url"))


@_q(
    "url_canonical_dups",
    f"""
    WITH v AS (
      SELECT doc_id // 9 AS page_id, doc_id % 9 AS m FROM documents
    ), b AS (
      SELECT page_id, m, {_B_SQL} AS base FROM v
    ), c AS (
      SELECT CASE WHEN m = 8 THEN base || '?q=1' ELSE base END
               AS canonical_url,
             {_RAW_SQL} AS raw_url
      FROM b
    )
    SELECT canonical_url,
           CAST(COUNT(DISTINCT raw_url) AS BIGINT) AS n_urls,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM c GROUP BY 1
    """,
)
def url_canonical_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup census over canonical URLs: nine planted noisy
    variants per page must collapse to ONE canonical key (two for the
    surviving-param shape m=8). The string surgery is row-local in the
    scan stage; the single Exchange is the group-by on the canonical
    key — the same shuffle the re-keyed corpus needs anyway. The oracle
    computes the expected canonical from page_id directly, so any
    canonicalizer defect splits a group and fails the compare."""
    raw = _planted_urls(spark, sf_dir)
    return canonical_url_dups(raw, url_col="raw_url").select(
        "canonical_url",
        F.col("n_urls").cast("long").alias("n_urls"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


@_q(
    "url_host_census",
    f"""
    WITH v AS (
      SELECT doc_id // 9 AS page_id, doc_id % 9 AS m FROM documents
    )
    SELECT 'domain' || lpad(CAST(page_id % 40 AS VARCHAR), 3, '0')
             || '.example.com' AS host,
           MAX('example.com') AS reg_domain,
           CAST(COUNT(DISTINCT page_id * 2
                      + CASE WHEN m = 8 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pages,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(2) AS INTEGER) AS min_depth,
           CAST(MAX(2) AS INTEGER) AS max_depth
    FROM v GROUP BY 1
    """,
)
def url_host_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host census over the noisy variants: host extraction must
    lowercase and drop ports (m=4/m=5 would otherwise fork hosts),
    n_pages counts distinct canonicals per host, and min/max path depth
    pin the empty-segment filter (trailing slash m=3 and doubled slash
    m=6 would read depth 3 without it — ground truth is 2 for every
    variant). One shuffle on host, ~40 groups; everything else is
    scan-stage codegen."""
    raw = _planted_urls(spark, sf_dir)
    e = raw.select(
        url_host(F.col("raw_url")).alias("host"),
        url_registered_domain(F.col("raw_url")).alias("rd"),
        canonicalize_url(F.col("raw_url")).alias("canon"),
        url_path_depth(F.col("raw_url")).alias("depth"),
    )
    return e.groupBy("host").agg(
        F.max("rd").alias("reg_domain"),
        F.countDistinct("canon").cast("long").alias("n_pages"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("depth").cast("int").alias("min_depth"),
        F.max("depth").cast("int").alias("max_depth"),
    )


# =========================================================================
# from queries_r3ad.py
# =========================================================================

"""Round-3 batch ccc: graph centrality and dedup-recall evaluation.

* ``graph_pagerank_bipartite`` — two Jacobi PageRank iterations over
  the customer-part co-purchase bipartite graph in fixed-point integer
  arithmetic (scale 10^12, integral ``div`` everywhere), so the ranks
  are fold-order independent and cross-engine exact — the same
  discipline as the integer-cents OLAP family. The iteration count is
  unrolled (two CTE layers), exactly how a bounded-round distributed
  PageRank runs: each round is one shuffle-on-node-id join, lineage
  checkpointed between rounds at production scale (see
  operators/dedup.dedup_components for the checkpoint pattern).
* ``dedup_lsh_recall_eval`` — the eval harness a pipeline runs before
  trusting MinHash-LSH dedup at 10^12 docs: candidate pairs from the
  production LSH path (operators/dedup.minhash_near_dups) scored
  against exact same-source unigram-Jaccard ground truth; reports
  hit/miss counts and recall/precision in rounded basis points. The
  ground truth is only computable at small scale — which is precisely
  the point: measure recall on a sampled block, then deploy the
  banded path corpus-wide.
"""


# One-slot caches for the recall eval's pair tables — each feeds its
# own count AND the hit join; unpersisted, both rebuilt twice (the
# audited plan scanned documents 9 times).
_TRUTH_SLOT: list = []
_PRED_SLOT: list = []
_PR_EDGE_SLOT: list = []

_SCALE = 10**12


@_q(
    "graph_pagerank_bipartite",
    f"""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    dc AS (SELECT c, COUNT(*) AS dcnt FROM e GROUP BY 1),
    dp AS (SELECT p, COUNT(*) AS dpnt FROM e GROUP BY 1),
    nn AS (
      SELECT (SELECT COUNT(*) FROM dc) + (SELECT COUNT(*) FROM dp) AS n
    ),
    consts AS (
      SELECT n, {_SCALE} // n AS pr0, (15 * {_SCALE}) // (100 * n) AS base
      FROM nn
    ),
    c1 AS (
      SELECT e.c,
             k.base + (85 * SUM(k.pr0 // dp.dpnt)) // 100 AS pr
      FROM e JOIN dp ON e.p = dp.p CROSS JOIN consts k
      GROUP BY e.c, k.base
    ),
    p2 AS (
      SELECT e.p,
             k.base + (85 * SUM(c1.pr // dc.dcnt)) // 100 AS pr
      FROM e JOIN dc ON e.c = dc.c JOIN c1 ON e.c = c1.c
      CROSS JOIN consts k
      GROUP BY e.p, k.base
    )
    SELECT p AS p_partkey, CAST(pr AS BIGINT) AS pagerank_fp
    FROM p2
    """,
)
def graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-side PageRank after two unrolled Jacobi rounds (damping
    0.85) over distinct (customer, part) purchase edges. Plan: one
    distinct edge agg shuffled on (c, p); both degree tables are re-aggs
    of it; the scalar node-count/base constants ride a broadcast 1-row
    crossJoin (never a driver collect); each round is a hash join of
    the edge list with the previous round's rank keyed on the sender
    node. Integer fixed-point keeps every engine and every fold order
    on identical values."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    e = persist_slot(e, _PR_EDGE_SLOT)
    dc = e.groupBy("c").agg(F.count(F.lit(1)).alias("dcnt"))
    dp = e.groupBy("p").agg(F.count(F.lit(1)).alias("dpnt"))
    nn = dc.agg(F.count(F.lit(1)).alias("n_c")).crossJoin(
        dp.agg(F.count(F.lit(1)).alias("n_p"))
    ).selectExpr(
        f"{_SCALE} div (n_c + n_p) AS pr0",
        f"(15 * {_SCALE}) div (100 * (n_c + n_p)) AS base",
    )
    c1 = (
        e.join(dp, "p")
        .crossJoin(F.broadcast(nn))
        .selectExpr("c", "base", "pr0 div dpnt AS contrib")
        .groupBy("c", "base")
        .agg(F.sum("contrib").alias("s"))
        .selectExpr("c", "base + (85 * s) div 100 AS pr")
    )
    p2 = (
        e.join(dc, "c")
        .join(c1, "c")
        .selectExpr("p", "pr div dcnt AS contrib")
        .groupBy("p")
        .agg(F.sum("contrib").alias("s"))
        .crossJoin(F.broadcast(nn.select("base")))
        .selectExpr(
            "p AS p_partkey",
            "CAST(base + (85 * s) div 100 AS LONG) AS pagerank_fp",
        )
    )
    return p2


_TRUTH_CTE = """
    t AS (
      SELECT doc_id, source,
             list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))
               AS toks
      FROM documents
    ),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
            >= 0.5
    )
"""


@_q(
    "dedup_lsh_recall_eval",
    f"""
    WITH {_TRUTH_CTE},
    ds AS (SELECT doc_id, source FROM documents),
    pred AS (
      SELECT p.doc_a, p.doc_b
      FROM ({D.minhash_oracle_sql(threshold=0.5)}) p
      JOIN ds a ON p.doc_a = a.doc_id
      JOIN ds b ON p.doc_b = b.doc_id
      WHERE a.source = b.source
    ),
    hit AS (
      SELECT COUNT(*) AS n FROM truth t
      JOIN pred p ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
    )
    SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT COUNT(*) FROM pred) AS BIGINT) AS n_pred,
           CAST(hit.n AS BIGINT) AS n_hit,
           CAST((20000 * hit.n + (SELECT COUNT(*) FROM truth))
                // (2 * (SELECT COUNT(*) FROM truth)) AS BIGINT) AS recall_bp,
           CAST((20000 * hit.n + (SELECT COUNT(*) FROM pred))
                // (2 * (SELECT COUNT(*) FROM pred)) AS BIGINT) AS precision_bp
    FROM hit
    """,
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision of the production MinHash-LSH near-dup path
    against exact same-source Jaccard >= 0.5 ground truth (rounded
    basis points, integer-exact). The predicted side IS
    minhash_near_dups — same signatures, bands, and verify threshold
    as ``dedup_minhash_lsh`` — restricted to same-source pairs so both
    sides range over the identical pair space. Truth is the quadratic
    verification formulation (block-bounded, small-scale only; see
    VERIFICATION_ONLY in queries.py for the policy)."""
    d = load(spark, sf_dir, "documents")
    toks = D.tokens("text")
    t = d.select("doc_id", "source", toks.alias("toks"))
    a, b = t.alias("a"), t.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - inter
    truth = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(inter.cast("double") / union >= 0.5)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    truth = persist_slot(truth, _TRUTH_SLOT)
    src = d.select("doc_id", "source")
    pred = (
        D.minhash_near_dups(d, threshold=0.5)
        .join(src.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("source", "src_a")
        .join(src.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .where(F.col("src_a") == F.col("source"))
        .select("doc_a", "doc_b")
    )
    pred = persist_slot(pred, _PRED_SLOT)
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_pred = pred.agg(F.count(F.lit(1)).alias("n_pred"))
    n_hit = truth.join(pred, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        n_hit.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(n_pred))
        .selectExpr(
            "n_truth", "n_pred", "n_hit",
            "CAST((20000 * n_hit + n_truth) div (2 * n_truth) AS LONG)"
            " AS recall_bp",
            "CAST((20000 * n_hit + n_pred) div (2 * n_pred) AS LONG)"
            " AS precision_bp",
        )
    )
