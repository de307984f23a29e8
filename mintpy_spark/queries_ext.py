"""Extended driver-contract queries: OLAP (TPC-H-ish), text analysis,
deduplication, similarity search.

Same registry/oracle discipline as mintpy_spark.queries (aliased columns,
in-query rounding on both sides). These exercise the general-purpose side
of the engine: scan/filter/join/agg/top-k plans Catalyst optimizes
(broadcast joins for dims, partial aggregation), plus the training-data
pipeline operators (dedup, quality scoring, token counting, fingerprinting,
ANN) over the documents/embeddings tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mintpy_spark.functions.langid import classify_oracle_sql
from mintpy_spark.functions.scalars import nonempty_tokens
from mintpy_spark.operators.dedup import tokens
from mintpy_spark.queries import _q, load


# ---------------------------------------------------------------------------
# OLAP: scan/filter/join/agg/sort/limit coverage
# ---------------------------------------------------------------------------

@_q(
    "olap_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)       AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)  AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 4)       AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)  AS avg_price,
           ROUND(AVG(l_discount), 4)       AS avg_disc,
           COUNT(*)                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def olap_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single-scan partial+final aggregation."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "olap_segment_revenue",
    """
    SELECT c.c_mktsegment,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(DISTINCT o.o_orderkey) AS num_orders
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY c.c_mktsegment
    """,
)
def olap_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: fact-fact join + broadcast dim join."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.countDistinct("o_orderkey").alias("num_orders"),
        )
    )


@_q(
    "olap_nation_revenue",
    """
    SELECT n.n_name, r.r_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def olap_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: chained broadcast dim joins (supplier/nation/region
    are all broadcast — one shuffle total, for the final aggregation)."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@_q(
    "olap_top_orders",
    """
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def olap_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with deterministic tie-break (TakeOrderedAndProject plan)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


# ---------------------------------------------------------------------------
# Text analysis / dedup / fingerprinting (training-data pipeline operators)
# ---------------------------------------------------------------------------

@_q(
    "text_fingerprint",
    "SELECT doc_id, md5(text) AS fp FROM documents",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5(F.encode("text", "UTF-8")).alias("fp"))


@_q(
    "dedup_exact",
    """
    SELECT fp, COUNT(*) AS cnt, MIN(doc_id) AS keeper
    FROM (SELECT doc_id, md5(text) AS fp FROM documents)
    GROUP BY fp
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groups; keeper = lowest doc_id."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(F.encode("text", "UTF-8")).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("cnt"), F.min("doc_id").alias("keeper"))
    )


@_q(
    "text_quality",
    """
    SELECT lang,
           COUNT(*) AS docs,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           ROUND(AVG(ntok), 4)    AS avg_tokens,
           ROUND(AVG(CAST(n_chars AS DOUBLE) / ntok), 4) AS avg_tok_len
    FROM (
      SELECT lang, n_chars,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS ntok
      FROM documents
    )
    GROUP BY lang
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: per-lang token stats (whitespace tokenizer with
    empty-token filtering, same semantics both sides)."""
    d = load(spark, sf_dir, "documents")
    ntok = F.size(nonempty_tokens(F.col("text")))
    return (
        d.select("lang", "n_chars", ntok.alias("ntok"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.avg("ntok"), 4).alias("avg_tokens"),
            F.round(F.avg(F.col("n_chars").cast("double") / F.col("ntok")), 4).alias(
                "avg_tok_len"
            ),
        )
    )


@_q(
    "text_langid",
    """
    SELECT guess, COUNT(*) AS cnt
    FROM (
      SELECT CASE
        WHEN len(regexp_extract_all(text, '\\bthe\\b')) >=
             len(regexp_extract_all(text, '\\bdata\\b')) THEN 'articleish'
        ELSE 'dataish' END AS guess
      FROM documents
    )
    GROUP BY guess
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word frequency classifier (deterministic n-gram-style
    heuristic; the synthetic corpus carries no real language signal, so the
    classes are corpus-specific markers — the *operator shape* is what is
    exercised: regexp counting + argmax)."""
    d = load(spark, sf_dir, "documents")
    the = F.regexp_count("text", F.lit(r"\bthe\b"))
    data = F.regexp_count("text", F.lit(r"\bdata\b"))
    return (
        d.select(
            F.when(the >= data, "articleish").otherwise("dataish").alias("guess")
        )
        .groupBy("guess")
        .agg(F.count("*").alias("cnt"))
    )


@_q(
    "dedup_ngram_jaccard",
    """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(
             CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))),
             4
           ) AS jaccard
    FROM (SELECT doc_id, source,
                 list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
          FROM documents) a
    JOIN (SELECT doc_id, source,
                 list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
          FROM documents) b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) > 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: unigram-set Jaccard over same-source pairs
    (source acts as the blocking key, the scale pattern — candidate pairs
    come from a block join, never a global cross join)."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    t = d.select("doc_id", "source", toks.alias("toks"))
    a, b = t.alias("a"), t.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - inter
    jac = inter.cast("double") / union
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(jac > 0.8)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

@_q(
    "simsearch_cosine_topk",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label,
             ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos_sim
      FROM embeddings e, q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id ASC LIMIT 20
    """,
)
def simsearch_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against a broadcast query vector — the
    exact baseline for ANN. The dot product runs JVM-side via zip_with +
    aggregate higher-order functions in double precision."""
    e = load(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        e.where(F.col("vec_id") == 0).select(
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("qv")
        )
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
        )

    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scored = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select(
            "vec_id",
            "label",
            F.round(
                dot(emb, F.col("qv"))
                / (F.sqrt(dot(emb, emb)) * F.sqrt(dot(F.col("qv"), F.col("qv")))),
                4,
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(20)


@_q(
    "olap_cube_revenue",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
           COALESCE(l_linestatus, 'ALL') AS lstatus,
           ROUND(SUM(l_extendedprice), 2) AS revenue,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def olap_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets / CUBE (absent in the reference, SURVEY §2.4; free in
    Catalyst as an Expand + single aggregation — one shuffle for all four
    grouping combinations)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.count("*").alias("cnt"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("lstatus"),
            "revenue",
            "cnt",
        )
    )


@_q(
    "olap_topk_per_group",
    """
    SELECT c_mktsegment, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice, rk
    FROM (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rk
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rk <= 3
    """,
)
def olap_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: rank window over a broadcast dim join with a
    deterministic tie-break (the grouped-top-k pattern AQE cannot
    TakeOrdered away)."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "c_mktsegment",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "rk",
        )
    )


@_q(
    "olap_customers_without_orders",
    """
    SELECT c_mktsegment, COUNT(*) AS cnt
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def olap_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (NOT EXISTS) aggregated per segment."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("cnt"))
    )


@_q(
    "event_value_quantiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4)  AS p50,
           ROUND(quantile_cont(value, 0.9), 4)  AS p90,
           ROUND(quantile_cont(value, 0.99), 4) AS p99,
           COUNT(value) AS cnt
    FROM events GROUP BY event_type
    """,
)
def event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per key (Spark `percentile` ==
    DuckDB quantile_cont) — the distribution-profiling aggregate a
    quality-scoring pipeline runs per source."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        F.count("value").alias("cnt"),
    )


@_q(
    "text_langid_ngram",
    classify_oracle_sql(),
)
def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram profile language ID (Cavnar & Trenkle 1994):
    bounded trigram extraction per doc, ~60-row broadcast profile join,
    integer scores, deterministic argmax — supersedes the marker-word
    heuristic (text_langid) with a real n-gram profile classifier."""
    from mintpy_spark.functions.langid import classify

    d = load(spark, sf_dir, "documents")
    return classify(d)


@_q(
    "text_top_tokens",
    """
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      FROM documents
    )
    GROUP BY tok
    ORDER BY cnt DESC, tok ASC
    LIMIT 25
    """,
)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: token frequency top-k with deterministic
    tie-break — explode + partial/final count + TakeOrdered; the shape of
    every vocabulary/stopword pass a data pipeline runs."""
    d = load(spark, sf_dir, "documents")
    toks = F.explode(nonempty_tokens(F.col("text"))).alias("tok")
    return (
        d.select(toks)
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(25)
    )


@_q(
    "event_value_histogram",
    """
    SELECT CASE WHEN value < 0.0 THEN 0
                WHEN value >= 100.0 THEN 21
                ELSE CAST(floor(value / 5.0) AS BIGINT) + 1 END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(MIN(value), 2) AS vmin,
           ROUND(MAX(value), 2) AS vmax
    FROM events
    GROUP BY 1
    """,
)
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (the distribution profile behind the
    reference's info/stats displays): width_bucket(0, 100, 20) semantics
    as a floor expression, identical in both engines — under/overflow land
    in buckets 0 and 21."""
    ev = load(spark, sf_dir, "events")
    v = F.col("value")
    bucket = (
        F.when(v < 0.0, F.lit(0))
        .when(v >= 100.0, F.lit(21))
        .otherwise(F.floor(v / 5.0) + 1)
        .cast("long")
    )
    return (
        ev.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.min("value"), 2).alias("vmin"),
            F.round(F.max("value"), 2).alias("vmax"),
        )
    )


# Common English stopwords (public list) — inlined identically into both
# engines; integer counts -> exact cross-engine arithmetic.
_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "this", "that", "be",
)


@_q(
    "text_stopword_ratio",
    f"""
    SELECT doc_id,
           CAST(nsw AS BIGINT)  AS n_stop,
           CAST(ntok AS BIGINT) AS n_tok
    FROM (
      SELECT doc_id,
             len(list_filter(toks, t -> list_contains({list(_STOPWORDS)!r}, t))) AS nsw,
             len(toks) AS ntok
      FROM (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents
      )
    ) WHERE ntok > 0
    """,
)
def text_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio quality score (the classic fluency heuristic: human
    prose carries ~30-60% function words, keyword spam and boilerplate far
    less). Compared as the INTEGER (n_stop, n_tok) partials — exact
    cross-engine; the ratio is derived, never hash-compared (a rounded
    quotient can land on half-way points where engine rounding
    conventions diverge)."""
    d = load(spark, sf_dir, "documents")
    sw = F.array([F.lit(w) for w in _STOPWORDS])
    toks = nonempty_tokens(F.lower("text"))
    t = d.select("doc_id", toks.alias("toks"))
    nsw = F.size(F.filter("toks", lambda t_: F.array_contains(sw, t_)))
    ntok = F.size("toks")
    return (
        t.where(ntok > 0)
        .select(
            "doc_id",
            nsw.cast("long").alias("n_stop"),
            ntok.cast("long").alias("n_tok"),
        )
    )


@_q(
    "olap_customers_with_purchases",
    """
    SELECT c_mktsegment, COUNT(*) AS cnt
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
    )
    GROUP BY c_mktsegment
    """,
)
def olap_customers_with_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (EXISTS with a pushed predicate) aggregated per segment —
    the complement of the anti-join query; Catalyst plans LeftSemi with
    the price filter pushed below the join build side."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("cnt"))
    )


@_q(
    "multimodal_decode_stats",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 0 THEN 'image/png'
                WHEN doc_id % 4 = 2 THEN 'image/bmp'
                ELSE 'audio/wav' END AS media_type,
           CASE WHEN doc_id % 2 = 0 THEN CAST(4 + doc_id % 13 AS INT)
                END AS width,
           CASE WHEN doc_id % 2 = 0 THEN CAST(3 + doc_id % 7 AS INT)
                END AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1
                     ELSE 100 + doc_id % 50 END AS INT) AS n_frames,
           CASE WHEN doc_id % 2 = 1 THEN
             CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                  ELSE 44100 END AS INT)
           END AS sample_rate,
           CASE WHEN doc_id % 2 = 1 THEN
             CAST((100 + doc_id % 50) * 1000
                  // (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                      ELSE 44100 END) AS BIGINT)
           END AS duration_ms
    FROM documents
    """,
)
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode end-to-end (reference analog: the
    utils/readfile.py:559-2110 format sniff + typed-metadata readers):
    every doc gets a genuine container payload (PNG for ids%4==0, BMP for
    ids%4==2, WAV for odd — synth_media_payload plants analytically-known
    metadata), then decode_media(decode_stub=False) parses the actual
    bytes — PNG chunk walk + zlib inflate + scanline un-filter, BMP
    header/padding/orientation, RIFF chunk walk — and the oracle checks
    the decoders recovered every planted value. Pipeline shape is the
    production one: scan -> Arrow-batched payload map -> Arrow-batched
    decode, metadata-only columns flowing on."""
    from mintpy_spark.operators.multimodal import attach_synth_payload, decode_media

    d = load(spark, sf_dir, "documents").select("doc_id")
    with_payload = attach_synth_payload(d, id_col="doc_id")
    return decode_media(with_payload, decode_stub=False).select(
        "doc_id", "media_type", "width", "height",
        "n_frames", "sample_rate", "duration_ms",
    )


@_q(
    "text_langid_wide",
    f"""
    SELECT guess, COUNT(*) AS cnt, CAST(SUM(score) AS BIGINT) AS score_sum
    FROM ({classify_oracle_sql()})
    GROUP BY guess
    """,
)
def text_langid_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus language distribution through the widened 10-language
    profile table (incl. Cyrillic + Greek): per-guess doc count and
    total integer score. Exercises every profile row in one pass — the
    oracle re-runs the full classifier and aggregates identically."""
    from mintpy_spark.functions.langid import classify

    d = load(spark, sf_dir, "documents")
    return (
        classify(d)
        .groupBy("guess")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("score").cast("long").alias("score_sum"),
        )
    )
