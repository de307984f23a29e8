"""Embedding/similarity queries: SAX, kNN eval, geometry audits, PQ ANN, JL projection.

Consolidated from the round-batch modules named in the section
markers below (pure moves, zero semantic change — VERDICT r4 #10).
"""

from __future__ import annotations

from mintpy_spark.functions.timefn import bucket_start
from mintpy_spark.operators import similarity as S
from mintpy_spark.queries import _q, load
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
import math


# =========================================================================
# from queries_r3q.py
# =========================================================================

"""Round-3 additions, batch q: SAX symbolic motif mining, kNN
label-accuracy evaluation over embeddings, and a Benford first-digit
data-quality audit.

SAX (Symbolic Aggregate approXimation, Lin et al. 2003 — public
algorithm) is the classic time-series motif/discord primitive: PAA
frames z-normalized per series and mapped to a small alphabet, then
fixed-length words counted corpus-wide. The kNN evaluation is the
standard embedding-space quality check (leave-probe-out majority vote);
the Benford audit is the first-significant-digit distribution test every
data-quality pipeline runs on value columns.
"""


# SAX breakpoints for a 4-symbol alphabet: the N(0,1) quartiles
# (±0.6745, 0). Identical literals inlined into BOTH engines.
_SAX_LO, _SAX_HI = -0.6745, 0.6745


@_q(
    "sax_motif_words",
    f"""
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             CAST(floor(
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
               / COUNT(*) + 0.5) AS BIGINT) AS mq
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), st AS (
      SELECT user_id, day, mq,
             COUNT(*) OVER (PARTITION BY user_id)    AS n,
             SUM(mq) OVER (PARTITION BY user_id)     AS s1,
             SUM(mq * mq) OVER (PARTITION BY user_id) AS s2
      FROM daily
    ), sym AS (
      SELECT user_id, day,
        CASE
          WHEN n * s2 - s1 * s1 = 0 THEN 'b'
          WHEN CAST(n * mq - s1 AS DOUBLE)
               / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) < {_SAX_LO} THEN 'a'
          WHEN CAST(n * mq - s1 AS DOUBLE)
               / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) < 0.0 THEN 'b'
          WHEN CAST(n * mq - s1 AS DOUBLE)
               / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) < {_SAX_HI} THEN 'c'
          ELSE 'd'
        END AS s
      FROM st
    ), words AS (
      SELECT user_id,
             s || lead(s, 1) OVER wo || lead(s, 2) OVER wo AS word
      FROM sym WINDOW wo AS (PARTITION BY user_id ORDER BY day)
    )
    SELECT word,
           CAST(COUNT(*) AS BIGINT) AS n_occ,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM words WHERE word IS NOT NULL
    GROUP BY word
    """,
)
def sax_motif_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX word census over per-user daily series: daily mean (PAA frame)
    -> per-user z-normalization -> 4-symbol alphabet at the N(0,1)
    quartile breakpoints -> 3-day sliding words, counted corpus-wide
    (occurrences + distinct users; <= 64 output rows). The motif table
    every symbolic ts-mining pipeline starts from (Lin et al. 2003).

    Cross-engine exactness: the daily mean quantizes to integer cents at
    the day level, and the z-score is built from pure-BIGINT user
    partials (n*mq - s1) / sqrt(n*s2 - s1^2) — one division and one
    correctly-rounded sqrt from identical integers, so the symbol CASE
    compares identical doubles in both engines (flat/single-day series
    have zero discriminant and pin to 'b'). Bounds: |mq| <= ~1e6 cents,
    so n*s2 and s1^2 stay ~1e15-1e17, inside BIGINT under ANSI.

    Plan: one scan; the (user, day) hash-agg shuffles day-level partials,
    the user window re-clusters daily rows (tier-sized, not raw-sized),
    and the word census aggregates <= 64 groups with map-side combine."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = (
        ev.groupBy(
            "user_id", bucket_start(F.col("ts"), "1d").alias("day")
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .alias("s_cents"),
            F.count("*").alias("n_day"),
        )
        .select(
            "user_id",
            "day",
            F.floor(
                F.col("s_cents").cast("double") / F.col("n_day") + F.lit(0.5)
            )
            .cast("long")
            .alias("mq"),
        )
    )
    wu = Window.partitionBy("user_id")
    st = daily.select(
        "user_id",
        "day",
        "mq",
        F.count("*").over(wu).alias("n"),
        F.sum("mq").over(wu).alias("s1"),
        F.sum(F.col("mq") * F.col("mq")).over(wu).alias("s2"),
    )
    disc = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    z = (F.col("n") * F.col("mq") - F.col("s1")).cast("double") / F.sqrt(
        disc.cast("double")
    )
    sym = st.select(
        "user_id",
        "day",
        F.when(disc == 0, F.lit("b"))
        .when(z < F.lit(_SAX_LO), F.lit("a"))
        .when(z < F.lit(0.0), F.lit("b"))
        .when(z < F.lit(_SAX_HI), F.lit("c"))
        .otherwise(F.lit("d"))
        .alias("s"),
    )
    wo = Window.partitionBy("user_id").orderBy("day")
    words = sym.select(
        "user_id",
        F.concat(
            F.col("s"), F.lead("s", 1).over(wo), F.lead("s", 2).over(wo)
        ).alias("word"),
    ).where(F.col("word").isNotNull())
    return words.groupBy("word").agg(
        F.count("*").alias("n_occ"),
        F.countDistinct("user_id").alias("n_users"),
    )


_KNN_PROBES = 12  # vec_id < 12 held out as probes
_KNN_K = 5


@_q(
    "knn_label_accuracy",
    f"""
    WITH p AS (
      SELECT vec_id AS probe_id, label AS true_label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 128.0 + 0.5) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id < {_KNN_PROBES}
    ), c AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 128.0 + 0.5) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id >= {_KNN_PROBES}
    ), scored AS (
      SELECT p.probe_id, p.true_label, c.vec_id, c.label,
             CAST(list_sum(list_transform(list_zip(c.qv, p.qv),
                  z -> z[1] * z[2])) AS BIGINT) AS qdot
      FROM c, p
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY qdot DESC, vec_id ASC) AS rk
      FROM scored
    ), votes AS (
      SELECT probe_id, true_label, label,
             CAST(COUNT(*) AS BIGINT) AS votes
      FROM ranked WHERE rk <= {_KNN_K}
      GROUP BY probe_id, true_label, label
    ), winner AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY votes DESC, label ASC) AS vr
      FROM votes
    )
    SELECT probe_id, CAST(true_label AS INT) AS true_label,
           CAST(label AS INT) AS pred_label, votes,
           CAST(CASE WHEN label = true_label THEN 1 ELSE 0 END AS INT)
             AS correct
    FROM winner WHERE vr = 1
    """,
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-probe-out kNN classification over the embedding table — the
    standard embedding-space quality evaluation: the first _KNN_PROBES
    (12) vectors are held out as probes, each classified by majority
    label of its _KNN_K (5) nearest candidates, reported per probe with
    the winning vote count and a correctness flag.

    Ranking is the scalar-quantized INTEGER dot product (floor(x*128+.5)
    per component, same idiom as simsearch_sq_topk) so the top-k cut and
    the vote are engine- and partitioning-exact; vote ties break on the
    smaller label, score ties on the smaller vec_id.

    Plan: the probe table is a 12-row broadcast fanned across
    ONE candidate scan (probe-set-sized row multiplication, the pattern
    the brute-force top-k baseline uses); the per-probe rank window
    shuffles candidate x probe score triples. At 10^12 rows the same
    evaluation composes with the LSH/IVF candidate generators
    (operators/similarity.py) to prune candidates first — this query is
    the exact-oracle form of that evaluation."""
    e = load(spark, sf_dir, "embeddings")
    qz = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 128.0 + F.lit(0.5)).cast("long"),
    )
    probes = F.broadcast(
        e.where(F.col("vec_id") < _KNN_PROBES).select(
            F.col("vec_id").alias("probe_id"),
            F.col("label").alias("true_label"),
            qz.alias("pqv"),
        )
    )
    cands = e.where(F.col("vec_id") >= _KNN_PROBES).select(
        "vec_id", "label", qz.alias("cqv")
    )
    qdot = F.aggregate(
        F.zip_with(F.col("cqv"), F.col("pqv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = cands.crossJoin(probes).select(
        "probe_id", "true_label", "vec_id", "label", qdot.alias("qdot")
    )
    rk = Window.partitionBy("probe_id").orderBy(
        F.desc("qdot"), F.asc("vec_id")
    )
    votes = (
        scored.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") <= _KNN_K)
        .groupBy("probe_id", "true_label", "label")
        .agg(F.count("*").alias("votes"))
    )
    vr = Window.partitionBy("probe_id").orderBy(
        F.desc("votes"), F.asc("label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(vr))
        .where(F.col("vr") == 1)
        .select(
            "probe_id",
            F.col("true_label").cast("int").alias("true_label"),
            F.col("label").cast("int").alias("pred_label"),
            "votes",
            F.when(F.col("label") == F.col("true_label"), 1)
            .otherwise(0)
            .cast("int")
            .alias("correct"),
        )
    )


# Benford expected first-digit shares, computed ONCE in Python and
# inlined as identical literals into both engines (log10(1 + 1/d)).
_BENFORD = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def _benford_case() -> str:
    arms = " ".join(
        f"WHEN {d} THEN {_BENFORD[d]!r}::DOUBLE" for d in range(1, 10)
    )
    return f"CASE digit {arms} END"


@_q(
    "benford_first_digit",
    f"""
    WITH cents AS (
      SELECT event_type,
             CAST(floor(abs(value) * 100 + 0.5) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ), digits AS (
      SELECT event_type,
             CAST(substring(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM cents WHERE c >= 1
      GROUP BY 1, 2
    )
    SELECT event_type, digit, cnt,
           CAST(cnt AS DOUBLE)
             / SUM(cnt) OVER (PARTITION BY event_type) AS obs_pct,
           {_benford_case()} AS exp_pct
    FROM digits
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of the value column per
    event type vs the Benford expectation log10(1+1/d) — the classic
    data-quality / fabrication audit for value columns. The first digit
    is read from the INTEGER cents string (floor(|v|*100+0.5), zero rows
    dropped): an integer's decimal rendering has no sign, point, or
    leading zeros, so the extraction is engine-exact with no float
    log10-at-power-of-ten boundary; expected shares are Python-computed
    literals inlined identically into both engines. Plan: one pruned
    scan, one hash-agg of (type, digit) partials, one tiny window over
    <= 9 x |types| rows."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = F.floor(F.abs(F.col("value")) * 100 + F.lit(0.5)).cast("long")
    digits = (
        ev.select("event_type", c.alias("c"))
        .where(F.col("c") >= 1)
        .groupBy(
            "event_type",
            F.substring(F.col("c").cast("string"), 1, 1)
            .cast("int")
            .alias("digit"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    exp_pct = F.lit(None).cast("double")
    for d in range(9, 0, -1):
        exp_pct = F.when(F.col("digit") == d, F.lit(_BENFORD[d])).otherwise(
            exp_pct
        )
    wt = Window.partitionBy("event_type")
    return digits.select(
        "event_type",
        "digit",
        "cnt",
        (F.col("cnt").cast("double") / F.sum("cnt").over(wt)).alias("obs_pct"),
        exp_pct.alias("exp_pct"),
    )


# =========================================================================
# from queries_r3ww.py
# =========================================================================

"""Round-3 batch ww: embedding-column geometry audits.

All three follow the repo's embedding exactness idiom
(embedding_label_silhouette): floats quantize to x128 fixed-point
BIGINTs first, then every norm / variance / centroid distance is exact
integer geometry with ONE final double op — no float summation order
anywhere.

* ``embedding_norm_census`` — per-label L2-norm-squared distribution
  (the normalize-before-indexing audit: un-normalized islands break
  cosine ANN recall).
* ``embedding_dim_variance_topk`` — top-5 highest-variance dimensions
  (feature-selection / dead-dimension audit; a zero-variance dim is
  wasted index width). Ranking uses the exact integer variance
  numerator n*sum(q^2) - S^2 — n is corpus-constant across dims, so
  the integer rank IS the variance rank.
* ``embedding_centroid_shift`` — per-label centroid distance from the
  global centroid: || S_l/n_l - T/n || via the cross-multiplied exact
  numerator sum_pos (S_pos*n - T_pos*n_l)^2.
"""


_QV_SQL = (
    "list_transform(embedding,"
    " x -> CAST(floor(CAST(x AS DOUBLE) * 128.0 + 0.5) AS BIGINT))"
)


def _qvec(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 128.0 + 0.5).cast("long"),
    )
    return e.select("vec_id", "label", qv.alias("qv"))


@_q(
    "embedding_norm_census",
    f"""
    WITH q AS (
      SELECT vec_id, label, {_QV_SQL} AS qv FROM embeddings
    ), n AS (
      SELECT label,
             CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS sq
      FROM q
    )
    SELECT label, COUNT(*) AS n_vecs,
           CAST(MIN(sq) AS BIGINT) AS min_sq,
           CAST(MAX(sq) AS BIGINT) AS max_sq,
           CAST(SUM(sq) AS BIGINT) AS sum_sq,
           CAST((2 * SUM(sq) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
             AS mean_sq
    FROM n GROUP BY 1
    """,
)
def embedding_norm_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label quantized L2-norm-squared census: min/max/sum/rounded
    mean. The norm fold is ROW-LOCAL (one aggregate over the staged
    array — the vector never explodes into rows), so the only shuffle
    is the 10-group label agg."""
    q = _qvec(spark, sf_dir)
    sq = F.aggregate(
        F.transform("qv", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n = q.select("label", sq.alias("sq"))
    return n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("sq").cast("long").alias("min_sq"),
        F.max("sq").cast("long").alias("max_sq"),
        F.sum("sq").cast("long").alias("sum_sq"),
        F.expr("(2 * SUM(sq) + COUNT(*)) DIV (2 * COUNT(*))")
        .cast("long")
        .alias("mean_sq"),
    )


@_q(
    "embedding_dim_variance_topk",
    f"""
    WITH q AS (
      SELECT {_QV_SQL} AS qv FROM embeddings
    ), d AS (
      SELECT CAST(generate_subscripts(qv, 1) AS BIGINT) AS pos,
             unnest(qv) AS v
      FROM q
    ), s AS (
      SELECT pos, COUNT(*) AS n,
             CAST(SUM(v) AS BIGINT) AS sv,
             CAST(SUM(v * v) AS BIGINT) AS qq
      FROM d GROUP BY 1
    ), r AS (
      SELECT pos, n, sv, qq,
             CAST(n * qq - sv * sv AS BIGINT) AS var_num,
             row_number() OVER (ORDER BY n * qq - sv * sv DESC, pos)
               AS rnk
      FROM s
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, pos, var_num,
           CAST(n AS BIGINT) AS n_vecs,
           ROUND(CAST(var_num AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 4) AS variance
    FROM r WHERE rnk <= 5
    """,
)
def embedding_dim_variance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 embedding dimensions by population variance: posexplode to
    (pos, value), one 64-group aggregate of exact integer (n, sum,
    sum-of-squares), then ranking on the EXACT variance numerator
    n*qq - sv^2 (n identical across dims, so integer order = variance
    order; pos tiebreak). The window runs over 64 rows."""
    q = _qvec(spark, sf_dir)
    d = q.select(F.posexplode("qv").alias("pos0", "v")).select(
        (F.col("pos0") + 1).cast("long").alias("pos"), "v"
    )
    s = d.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("qq"),
    )
    var_num = (F.col("n") * F.col("qq") - F.col("sv") * F.col("sv")).cast("long")
    w = Window.orderBy(F.desc("var_num"), F.asc("pos"))
    r = s.withColumn("var_num", var_num).withColumn(
        "rnk", F.row_number().over(w)
    )
    return r.where(F.col("rnk") <= 5).select(
        F.col("rnk").cast("long").alias("rnk"),
        "pos", "var_num",
        F.col("n").cast("long").alias("n_vecs"),
        F.round(
            F.col("var_num").cast("double")
            / (F.col("n").cast("double") * F.col("n").cast("double")),
            4,
        ).alias("variance"),
    )


@_q(
    "embedding_centroid_shift",
    f"""
    WITH q AS (
      SELECT label, {_QV_SQL} AS qv FROM embeddings
    ), d AS (
      SELECT label, CAST(generate_subscripts(qv, 1) AS BIGINT) AS pos,
             unnest(qv) AS v
      FROM q
    ), per_label AS (
      SELECT label, pos, CAST(SUM(v) AS BIGINT) AS s,
             COUNT(*) AS nl
      FROM d GROUP BY 1, 2
    ), global_c AS (
      SELECT pos, CAST(SUM(s) AS BIGINT) AS t, CAST(SUM(nl) AS BIGINT) AS n
      FROM per_label GROUP BY 1
    )
    SELECT p.label, CAST(MAX(p.nl) AS BIGINT) AS n_vecs,
           CAST(SUM((p.s * g.n - g.t * p.nl) * (p.s * g.n - g.t * p.nl))
                AS BIGINT) AS shift_num,
           ROUND(sqrt(CAST(SUM((p.s * g.n - g.t * p.nl)
                               * (p.s * g.n - g.t * p.nl)) AS DOUBLE))
                 / (CAST(MAX(p.nl) AS DOUBLE) * CAST(MAX(g.n) AS DOUBLE)),
                 4) AS shift
    FROM per_label p JOIN global_c g ON p.pos = g.pos
    GROUP BY 1
    """,
)
def embedding_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance of each label's centroid from the global centroid in
    quantized units: the cross-multiplied numerator (S_pos*n - T_pos*n_l)^2
    sums as exact BIGINTs; one sqrt + one division at the end. The
    per-(label, pos) sums are one aggregate over the posexplode; the
    global centroid is its 64-row re-aggregation (broadcast back). A
    label drifting from the corpus centroid is the class-imbalance /
    domain-shift signature an ANN index partitioner cares about."""
    q = _qvec(spark, sf_dir)
    d = q.select(
        "label", F.posexplode("qv").alias("pos0", "v")
    ).select("label", (F.col("pos0") + 1).cast("long").alias("pos"), "v")
    per_label = d.groupBy("label", "pos").agg(
        F.sum("v").cast("long").alias("s"), F.count(F.lit(1)).alias("nl")
    )
    global_c = per_label.groupBy("pos").agg(
        F.sum("s").cast("long").alias("t"), F.sum("nl").cast("long").alias("n")
    )
    j = per_label.join(F.broadcast(global_c), "pos")
    diff = F.col("s") * F.col("n") - F.col("t") * F.col("nl")
    return j.groupBy("label").agg(
        F.max("nl").cast("long").alias("n_vecs"),
        F.sum(diff * diff).cast("long").alias("shift_num"),
        F.round(
            F.sqrt(F.sum(diff * diff).cast("double"))
            / (F.max("nl").cast("double") * F.max("n").cast("double")),
            4,
        ).alias("shift"),
    )


# =========================================================================
# from queries_r3al.py
# =========================================================================

"""Round-3 batch al: product-quantization ANN — the codes-not-vectors
memory tier of the similarity-search family (brute-force -> LSH -> SQ ->
IVF -> PQ), with asymmetric-distance candidate generation and exact
cosine rescoring.
"""


@_q(
    "simsearch_pq_topk",
    S.pq_oracle_sql(query_id=0, k=10, n_candidates=50, num_subspaces=4,
                    num_codes=16, dim=64),
)
def simsearch_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN top-10 for query vector 0: 4 subspaces x 16 codewords
    (deterministic sample codebook), broadcast ADC lookup, exact-cosine
    rescore of the top-50 ADC candidates
    (operators/similarity.pq_topk)."""
    emb = load(spark, sf_dir, "embeddings")
    return S.pq_topk(emb, query_id=0, k=10, n_candidates=50,
                     num_subspaces=4, num_codes=16)


# =========================================================================
# from queries_r4g.py
# =========================================================================

"""Round-4 batch g: Johnson-Lindenstrauss projection distortion audit
(operators/projection.py) — exact-integer JL over md5-derived ±1 signs,
certified against a DuckDB oracle that rebuilds the same projection from
unnested components.
"""


_HEX_POS = "('0','1','2','3','4','5','6','7')"


@_q(
    "embedding_jl_distortion",
    f"""
    WITH q AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) - 1 AS d,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 10000)
                  AS BIGINT) AS qv
      FROM embeddings
    ), s AS (
      SELECT q.vec_id, j.j,
             CAST(SUM(CASE WHEN substring(
                    md5(CAST(j.j AS VARCHAR) || '_' || CAST(q.d AS VARCHAR)),
                    1, 1) IN {_HEX_POS}
                  THEN qv ELSE -qv END) AS BIGINT) AS p
      FROM q CROSS JOIN (SELECT range AS j FROM range(8)) j
      GROUP BY 1, 2
    ), pairs AS (
      SELECT vec_id AS ida, vec_id + 250 AS idb
      FROM embeddings WHERE vec_id < 250
    ), dfull AS (
      SELECT p.ida, CAST(SUM((qa.qv - qb.qv) * (qa.qv - qb.qv)) AS BIGINT)
               AS d2_full
      FROM pairs p
      JOIN q qa ON qa.vec_id = p.ida
      JOIN q qb ON qb.vec_id = p.idb AND qb.d = qa.d
      GROUP BY 1
    ), dproj AS (
      SELECT p.ida, CAST(SUM((sa.p - sb.p) * (sa.p - sb.p)) AS BIGINT)
               AS d2_proj
      FROM pairs p
      JOIN s sa ON sa.vec_id = p.ida
      JOIN s sb ON sb.vec_id = p.idb AND sb.j = sa.j
      GROUP BY 1
    )
    SELECT f.ida AS vec_id, f.d2_full, pr.d2_proj,
           CASE WHEN f.d2_full > 0
                THEN (10000 * pr.d2_proj) // (8 * f.d2_full) END AS ratio_bp
    FROM dfull f JOIN dproj pr ON f.ida = pr.ida
    """,
)
def embedding_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL ±1 projection 64 -> 8 dims with md5-parity signs, audited on
    250 deterministic pairs (id, id+250): exact integer full and
    projected squared distances plus the distortion ratio in basis
    points (JL expectation: 10000). Components quantize to 1e-4 before
    any arithmetic, so both engines sum the same integers in any order.

    Scale: the projection is row-local Catalyst higher-order functions
    (zero shuffle, zero Python); the audit adds one broadcast self-join
    over the bounded pair span. At 10^9 vectors the same projection
    column feeds the IVF/PQ index builders directly.
    """
    from mintpy_spark.operators.projection import jl_distortion_pairs

    emb = load(spark, sf_dir, "embeddings")
    return jl_distortion_pairs(
        emb, "embedding", "vec_id", in_dim=64, out_dim=8, pair_offset=250
    )
