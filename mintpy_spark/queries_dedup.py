"""Driver-contract queries: MinHash+LSH / SimHash / embedding near-dup,
hyperplane-LSH ANN, and shingle/token-class text analysis.

The oracles are generated by the same code that builds the Spark plans
(mintpy_spark.operators.dedup / .similarity), so hash constants, plane
matrices, and thresholds are identical by construction — the DuckDB run is
a true independent re-execution of the operator semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mintpy_spark.functions.scalars import nonempty_tokens
from mintpy_spark.operators import dedup as D
from mintpy_spark.operators import similarity as S
from mintpy_spark.queries import _q, load

# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

@_q(
    "dedup_minhash_lsh",
    f"""
    SELECT doc_a, doc_b, ROUND(est_jaccard, 4) AS est_jaccard
    FROM ({D.minhash_oracle_sql(threshold=0.875)})
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    out = D.minhash_near_dups(d, threshold=0.875)
    return out.select("doc_a", "doc_b", F.round("est_jaccard", 4).alias("est_jaccard"))


@_q("dedup_simhash", D.simhash_oracle_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return D.simhash(d)


@_q("dedup_simhash_pairs", D.simhash_pairs_oracle_sql(max_hamming=3))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return D.simhash_near_dups(d, max_hamming=3)


# ---------------------------------------------------------------------------
# Embedding near-dup + ANN
# ---------------------------------------------------------------------------

@_q(
    "dedup_embedding_cosine",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 4) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) > 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    out = D.embedding_near_dups(e, threshold=0.4)
    return out.select("vec_a", "vec_b", F.round("cos_sim", 4).alias("cos_sim"))


@_q("simsearch_ann_lsh", S.ann_topk_oracle_sql(query_id=0, k=10))
def simsearch_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return S.ann_topk_lsh(e, query_id=0, k=10)


@_q(
    "simsearch_bucket_histogram",
    f"""
    SELECT {S.bucket_oracle_expr('embedding', 64)} AS bucket, COUNT(*) AS cnt
    FROM embeddings GROUP BY 1
    """,
)
def simsearch_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-build view of the ANN path: bucket occupancy (the partition
    histogram a 1000-executor deployment would use to pick num_planes)."""
    e = load(spark, sf_dir, "embeddings")
    return S.with_bucket(e).groupBy("bucket").agg(F.count("*").alias("cnt"))


# ---------------------------------------------------------------------------
# Text analysis: token classes (BPE-ish pre-tokenizer) + 3-gram shingles
# ---------------------------------------------------------------------------

@_q(
    "text_token_classes",
    """
    SELECT source,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+'))) AS BIGINT)    AS alpha_toks,
           CAST(SUM(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT)       AS num_toks,
           CAST(SUM(len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))) AS BIGINT) AS punct_chars,
           COUNT(*) AS docs
    FROM documents GROUP BY source
    """,
)
def text_token_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization counts: alpha runs / digit runs / punct
    (the regex split GPT-2-family tokenizers apply before BPE merges)."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(F.regexp_count("text", F.lit("[A-Za-z]+"))).alias("alpha_toks"),
        F.sum(F.regexp_count("text", F.lit("[0-9]+"))).alias("num_toks"),
        F.sum(F.regexp_count("text", F.lit("[^A-Za-z0-9 ]"))).alias("punct_chars"),
        F.count("*").alias("docs"),
    )


@_q(
    "text_shingle3",
    """
    SELECT doc_id,
           CASE WHEN len(toks) >= 3
                THEN len(list_distinct(list_transform(range(len(toks) - 2),
                         i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))))
                ELSE 0 END AS n_shingles,
           len(toks) AS n_toks
    FROM (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    )
    """,
)
def text_shingle3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-3-gram shingle count per doc (the MinHash shingling
    stage as a standalone, fully JVM-side higher-order-function plan)."""
    d = load(spark, sf_dir, "documents")
    toks = nonempty_tokens(F.col("text"))
    t = d.select("doc_id", toks.alias("toks"))
    shingles = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at("toks", i + 1),
            F.element_at("toks", i + 2),
            F.element_at("toks", i + 3),
        ),
    )
    n_shingles = F.when(
        F.size("toks") >= 3, F.size(F.array_distinct(shingles))
    ).otherwise(F.lit(0))
    return t.select(
        "doc_id",
        n_shingles.cast("long").alias("n_shingles"),
        F.size("toks").cast("long").alias("n_toks"),
    )


@_q(
    "text_rolling_fp",
    """
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(split(text, ''), c -> c <> ''),
                              c -> CAST(ascii(c) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007
           ) AS fp,
           length(text) AS n_chars
    FROM documents
    """,
)
def text_rolling_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via a Rabin-Karp-style polynomial rolling
    hash (base 31 mod 1e9+7) computed as a higher-order fold over the
    codepoint sequence — exact integer arithmetic, engine-independent
    (the DuckDB oracle folds the identical recurrence), fully JVM-side."""
    d = load(spark, sf_dir, "documents")
    chars = F.filter(F.split("text", ""), lambda c: c != "")
    codes = F.transform(chars, lambda c: F.ascii(c).cast("long"))
    fp = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % D.HASH_P,
    )
    return d.select(
        "doc_id", fp.alias("fp"), F.length("text").cast("long").alias("n_chars")
    )


# ---------------------------------------------------------------------------
# Scale-safe candidate generation (round 2): the three block-join dedup ops
# re-expressed with bounded LSH/band bucket joins instead of attribute
# blocks that go quadratic on a hot key.
# ---------------------------------------------------------------------------

@_q(
    "dedup_simhash_banded",
    D.simhash_banded_oracle_sql(max_hamming=3, bits=32),
)
def dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global simhash near-dup pairs via band-bucket self-join. The oracle
    is the INDEPENDENT all-pairs formulation — matching it proves the
    pigeonhole banding (max_hamming < bands) loses no pair."""
    d = load(spark, sf_dir, "documents")
    out = D.simhash_near_dups_banded(d, max_hamming=3, bits=32)
    return out.select("doc_a", "doc_b", "hamming")


@_q(
    "dedup_ngram_jaccard_lsh",
    f"""
    SELECT doc_a, doc_b, ROUND(jaccard, 4) AS jaccard
    FROM ({D.ngram_jaccard_lsh_oracle_sql(threshold=0.8)})
    """,
)
def dedup_ngram_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard verified only on MinHash-LSH candidate
    pairs — the production two-stage near-dup shape (bounded bucket join ->
    exact verify), replacing the same-source block join."""
    d = load(spark, sf_dir, "documents")
    out = D.ngram_jaccard_lsh(d, threshold=0.8)
    return out.select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))


@_q(
    "dedup_embedding_bucketed",
    D.embedding_bucketed_oracle_sql(threshold=0.4),
)
def dedup_embedding_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked on the deterministic hyperplane-LSH
    bucket (population ~ N/2^planes regardless of attribute skew) instead
    of the label column; the bucket assignment is engine-exact so the
    DuckDB oracle reproduces it bit-for-bit."""
    e = load(spark, sf_dir, "embeddings")
    out = D.embedding_near_dups_bucketed(e, threshold=0.4)
    return out.select("vec_a", "vec_b", F.round("cos_sim", 4).alias("cos_sim"))


@_q(
    "dedup_keeper_map",
    f"""
    WITH pairs AS (
      SELECT doc_a, doc_b FROM ({D.minhash_oracle_sql(threshold=0.875)})
    )
    SELECT d.doc_id,
           LEAST(d.doc_id, COALESCE(MIN(p.doc_a), d.doc_id)) AS keeper,
           COUNT(p.doc_a) AS n_better
    FROM documents d
    LEFT JOIN pairs p ON p.doc_b = d.doc_id
    GROUP BY d.doc_id
    """,
)
def dedup_keeper_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup keeper resolution — the drop-list a dedup pipeline actually
    emits: every doc maps to the lowest-id document it duplicates (one-hop
    min over the LSH pair set; pairs are emitted with doc_a < doc_b, so
    min(doc_a) over incoming edges is the canonical one-hop keeper).
    Deterministic, aggregation-only; chains after any near-dup detector."""
    d = load(spark, sf_dir, "documents")
    pairs = D.minhash_near_dups(d, threshold=0.875).select("doc_a", "doc_b")
    return (
        d.select("doc_id")
        .join(pairs, F.col("doc_id") == F.col("doc_b"), "left")
        .groupBy("doc_id")
        .agg(
            F.least(
                F.col("doc_id"), F.coalesce(F.min("doc_a"), F.col("doc_id"))
            ).alias("keeper"),
            F.count("doc_a").alias("n_better"),
        )
    )


@_q("simsearch_ivf_topk", S.ivf_oracle_sql(query_id=0, k=10, n_probe=4))
def simsearch_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k (the second classic ANN family next to hyperplane
    LSH): deterministic centroid sample, argmax-cosine coarse assignment,
    n_probe nearest centroid buckets probed with exact cosine. The oracle
    re-executes assignment, probe selection, and scoring independently."""
    e = load(spark, sf_dir, "embeddings")
    return S.ivf_topk(e, query_id=0, k=10, n_probe=4)


@_q(
    "dedup_components",
    D.components_oracle_sql(
        f"SELECT doc_a, doc_b FROM ({D.minhash_oracle_sql(threshold=0.875)})",
        iterations=4,
    ),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters over the MinHash near-dup graph: 4 rounds
    of min-label propagation (fixed k unrolled identically in the SQL
    oracle; tests verify k=4 reaches the fixpoint on this corpus)."""
    d = load(spark, sf_dir, "documents")
    pairs = D.minhash_near_dups(d, threshold=0.875).select("doc_a", "doc_b")
    return D.dedup_components(d, pairs, iterations=4)


@_q(
    "simsearch_ivf_topk_c64",
    S.ivf_oracle_sql(query_id=0, k=10, n_probe=4, num_centroids=64),
)
def simsearch_ivf_topk_c64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a 64-centroid codebook through the BROADCAST
    assignment path (ivf_assign_bcast): the codebook is a broadcast
    table, not inlined plan literals, so the single job stays bounded at
    any C. Oracle is the same independent DuckDB re-execution as the
    C=16 query — assignments must match the literal form bit-for-bit."""
    e = load(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        e, query_id=0, k=10, n_probe=4, num_centroids=64, assign="broadcast"
    )


@_q(
    "sample_stratified_split",
    """
    SELECT lang, split,
           COUNT(*)                                       AS total,
           CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
                                                          AS n_sampled
    FROM (
      SELECT lang,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split,
             bs < (CASE WHEN lang = 'en' THEN 10
                        WHEN lang = 'zh' THEN 50
                        ELSE 100 END) AS sampled
      FROM (
        SELECT lang,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 100 AS b,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':sample'),
                                  1, 15))::BIGINT % 100 AS bs
        FROM documents
      )
    )
    GROUP BY lang, split
    """,
)
def sample_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curation pass: stable-hash train/val/test split
    composed with per-language downsampling (en -> 10 %, zh -> 50 %,
    rest kept) — operators/sampling.py. The sampling hash is SALTED
    (:sample) so it is independent of the split hash: a shared bucket
    would put every sampled en doc in train. The assignment depends only
    on doc_id, so reruns, resumes, and corpus growth never move a
    document between splits; both md5-bucket recipes are replicated
    verbatim in the oracle, verifying every row's assignment
    cross-engine."""
    from mintpy_spark.operators.sampling import stratified_sample, with_split

    d = load(spark, sf_dir, "documents")
    d = with_split(d, id_col="doc_id")
    d = stratified_sample(
        d, id_col="doc_id", stratum_col="lang",
        rates_pct={"en": 10, "zh": 50}, default_pct=100,
    )
    return d.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("sampled"), 1).otherwise(0))
        .cast("long")
        .alias("n_sampled"),
    )
