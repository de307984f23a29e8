"""Near-duplicate detection: MinHash + LSH, SimHash, embedding-cosine.

Training-data-pipeline operators over the documents/embeddings tables.
Everything is expressed with built-in JVM-side column functions (explode +
hash-arithmetic + groupBy + self-join on bucket keys) — no Python UDFs —
so Catalyst plans partial+final aggregation and AQE handles bucket skew.

Scale notes (100 TB):
* Candidate generation is always a *block join* on a bounded key (LSH band
  bucket / SimHash block / label), never a global cross join; the band
  self-join shuffles only (band_id, band_key) groups and AQE splits hot
  buckets.
* Signatures are ~num_perm longs per doc — 10^12 docs x 16 longs is a
  shuffle-light dimension table compared to the corpus itself.
* The token hash is an md5-derived 60-bit integer, chosen because it is
  reproducible in any engine (the DuckDB oracles replicate it bit-for-bit,
  which is how the driver verifies these operators end-to-end).

Reference parity: the reference has no dedup operators; these extend the
engine per the build brief (dedup/similarity as first-class components).
The *pattern* mirrors the reference's pair-network construction
(objects/stack.py:688 ifgramStack: observations keyed by pairs) — candidate
pairs here, date pairs there.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mintpy_spark.functions.scalars import nonempty_tokens, portable_hash60

# Cross-engine-exact hash constants (inlined into the DuckDB oracles too).
HASH_P = 1_000_000_007

# One-slot persisted-signature cache (see plans/cache.py for the
# discipline and its trade-off).
_SIG_SLOT: list = []


def _persist_one(df: DataFrame) -> DataFrame:
    from mintpy_spark.plans.cache import persist_slot

    return persist_slot(df, _SIG_SLOT)
NUM_PERM = 16
LSH_BANDS = 4
LSH_ROWS = 4  # NUM_PERM / LSH_BANDS
SIMHASH_BITS = 16


def perm_coeffs(num_perm: int = NUM_PERM) -> list[tuple[int, int]]:
    """Deterministic (a, b) per permutation; a*h stays < 2^63 for h < P."""
    return [(1 + i * 1000003, i * 7919) for i in range(num_perm)]


def tokens(text_col: str) -> Column:
    """Distinct non-empty whitespace tokens (the unigram shingle set).
    Tokenization delegates to the ONE expression in
    functions/scalars.nonempty_tokens."""
    return F.array_distinct(nonempty_tokens(text_col))


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    num_perm: int = NUM_PERM,
) -> DataFrame:
    """(id, m0..m{P-1}) — min over tokens of (a_i * (h % P) + b_i) % P.

    Computed ROW-LOCALLY: the token-hash array is staged once per doc
    (md5 evaluated once per token), then each permutation is an
    array_min over a transform — all inside whole-stage codegen, ZERO
    shuffle. The earlier explode + groupBy formulation shuffled one row
    per (doc, token) — ~10^2x the corpus row count — just to take
    per-doc minima that never needed to leave the row. Docs with no
    tokens are excluded (same semantics as the grouped form, where they
    had no rows to aggregate)."""
    # filter on the CHEAP raw token array BEFORE projecting the hash
    # transform: a filter on size(_hm) would be predicate-pushed below the
    # projection, re-inlining the md5 transform into the Filter and
    # hashing every token twice
    hm = F.transform(tokens(text_col), lambda t: portable_hash60(t) % HASH_P)
    staged = docs.where(F.size(tokens(text_col)) > 0).select(id_col, hm.alias("_hm"))
    mins = [
        F.array_min(
            F.transform(F.col("_hm"), lambda h: (F.lit(a) * h + F.lit(b)) % HASH_P)
        ).alias(f"m{i}")
        for i, (a, b) in enumerate(perm_coeffs(num_perm))
    ]
    # repartition the (tiny) signature table on the id: row-local
    # computation inherits the SCAN's partitioning (possibly one file =
    # one partition), which would serialize every downstream self-join;
    # this shuffles signature-sized rows, not the token explosion the old
    # grouped form shuffled
    return staged.select(id_col, *mins).repartition(F.col(id_col))


def lsh_shape(num_perm: int) -> tuple[int, int]:
    """(bands, rows) for a signature of ``num_perm`` permutations: rows =
    the largest divisor of num_perm that is <= LSH_ROWS (prefer 4-row
    bands, the classic s-curve knee near J=0.5), bands = num_perm/rows.
    Always satisfies bands*rows == num_perm, so any num_perm works."""
    rows = next(r for r in range(min(LSH_ROWS, num_perm), 0, -1)
                if num_perm % r == 0)
    return num_perm // rows, rows


def sig_num_perm(sig: DataFrame) -> int:
    """Number of permutations in a signature table = count of m{i}
    columns. Single source of truth so band generation can never be
    hard-wired to a default that disagrees with the signature width."""
    import re

    return sum(1 for c in sig.columns if re.fullmatch(r"m\d+", c))


def lsh_bands(sig: DataFrame, id_col: str = "doc_id",
              bands: int | None = None, rows: int | None = None) -> DataFrame:
    """Signature -> long-format (id, band_id, band_key). Docs sharing any
    band key are candidates (banding amplifies Jaccard sensitivity).
    bands/rows default to lsh_shape() over the signature's OWN width —
    passing a non-default num_perm to minhash_signatures just works."""
    if bands is None or rows is None:
        bands, rows = lsh_shape(sig_num_perm(sig))
    pairs = []
    for b in range(bands):
        cols = ", ".join(f"m{b * rows + r}" for r in range(rows))
        pairs.append(f"{b}, concat_ws('-', {cols})")
    stack_expr = f"stack({bands}, {', '.join(pairs)}) as (band_id, band_key)"
    return sig.select(id_col, F.expr(stack_expr))


def signature_verify(
    cand: DataFrame, sig: DataFrame, id_col: str = "doc_id",
    num_perm: int = NUM_PERM, threshold: float = 0.5,
) -> DataFrame:
    """(doc_a, doc_b) candidates + signature table -> (doc_a, doc_b,
    est_jaccard >= threshold), est_jaccard = matching-permutation
    fraction. THE one implementation of the verify estimator — the batch
    operator (minhash_near_dups) and the streaming index maintainer
    (streaming/dedup_stream.py) both delegate here, so their tested
    equivalence contract cannot silently fork."""
    sa = sig.select(*[F.col(c).alias(f"a_{c}") for c in sig.columns])
    sb = sig.select(*[F.col(c).alias(f"b_{c}") for c in sig.columns])
    matches = sum(
        F.when(F.col(f"a_m{i}") == F.col(f"b_m{i}"), 1).otherwise(0)
        for i in range(num_perm)
    )
    return (
        cand.join(sa, cand.doc_a == F.col(f"a_{id_col}"))
        .join(sb, cand.doc_b == F.col(f"b_{id_col}"))
        .select(
            "doc_a",
            "doc_b",
            (matches / float(num_perm)).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
    )


def minhash_near_dups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    threshold: float = 0.5, num_perm: int = NUM_PERM,
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard): LSH candidates, then signature-estimated
    Jaccard = matching-permutation fraction, filtered at ``threshold``.

    The signature table feeds three consumers (band generation + both join
    sides); it is persisted so the explode+aggregate over the corpus runs
    once — the query-level analog of materializing the signature table,
    which is what a 10^12-doc deployment does anyway (SCALE.md). ~3x on
    the sf0.1 bench. The persist goes through a one-slot cache that
    releases the previous invocation's table (see _persist_one)."""
    sig = _persist_one(minhash_signatures(docs, id_col, text_col, num_perm))
    bands = lsh_bands(sig, id_col)
    a, b = bands.alias("ba"), bands.alias("bb")
    cand = (
        a.join(
            b,
            (F.col("ba.band_id") == F.col("bb.band_id"))
            & (F.col("ba.band_key") == F.col("bb.band_key"))
            & (F.col(f"ba.{id_col}") < F.col(f"bb.{id_col}")),
        )
        .select(
            F.col(f"ba.{id_col}").alias("doc_a"), F.col(f"bb.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    return signature_verify(cand, sig, id_col, num_perm, threshold)


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(id, simhash): per-bit +/-1 vote over the token-hash bits, bit set
    when the vote sum is positive.

    Row-local like minhash_signatures: the token-hash array is staged once
    per doc and each bit's vote is an aggregate() fold over it — zero
    shuffle (the old explode + groupBy form shuffled one row per
    (doc, token)); the signature-sized output is repartitioned so a
    single-file scan cannot serialize downstream self-joins.

    ``bits`` may go up to 64: bit values are built with shiftleft on a
    long (bit 63 is the sign bit, representable; a ``1 << 63`` Python
    literal would overflow LongType at plan build)."""
    assert 0 < bits <= 64, "simhash supports at most 64 bits (LongType)"
    hv = F.transform(tokens(text_col), lambda t: portable_hash60(t))
    # cheap-filter-first, same reason as minhash_signatures
    staged = docs.where(F.size(tokens(text_col)) > 0).select(id_col, hv.alias("_hv"))
    votes = [
        F.aggregate(
            F.col("_hv"),
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    per_bit = staged.select(id_col, *votes)
    one = F.lit(1).cast("long")
    value = sum(
        F.when(F.col(f"s{b}") > 0, F.shiftleft(one, b)).otherwise(F.lit(0).cast("long"))
        for b in range(bits)
    )
    return per_bit.select(id_col, value.cast("long").alias("simhash")).repartition(
        F.col(id_col)
    )


def simhash_near_dups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    block_col: str = "source", max_hamming: int = 3, bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(doc_a, doc_b, hamming): same-block pairs within Hamming distance.
    ``block_col`` bounds the join (at scale: simhash prefix bands)."""
    s = simhash(docs, id_col, text_col, bits)
    d = docs.select(id_col, block_col).join(s, id_col)
    a, b = d.alias("da"), d.alias("db")
    ham = F.bit_count(
        F.col("da.simhash").bitwiseXOR(F.col("db.simhash"))
    )
    return (
        a.join(
            b,
            (F.col(f"da.{block_col}") == F.col(f"db.{block_col}"))
            & (F.col(f"da.{id_col}") < F.col(f"db.{id_col}")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col(f"da.{id_col}").alias("doc_a"),
            F.col(f"db.{id_col}").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
    )


def simhash_bands(
    sim: DataFrame, id_col: str = "doc_id", bits: int = SIMHASH_BITS,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """(id, simhash, band_id, band_val): contiguous bit-slices of the
    simhash. Pigeonhole guarantee: a pair differing in <= bands-1 bits
    cannot touch every band, so it shares at least one full band — banding
    is an EXACT candidate generator for max_hamming < bands, not an
    approximation."""
    width = bits // bands
    mask = (1 << width) - 1
    pairs = ", ".join(
        f"{b}, shiftright(simhash, {b * width}) & {mask}" for b in range(bands)
    )
    return sim.select(
        id_col, "simhash", F.expr(f"stack({bands}, {pairs}) as (band_id, band_val)")
    )


def simhash_near_dups_banded(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 3, bits: int = 32, bands: int = LSH_BANDS,
) -> DataFrame:
    """(doc_a, doc_b, hamming): GLOBAL near-dup pairs within Hamming
    distance — the scale-safe replacement for the benign-blocking-column
    variant (simhash_near_dups): candidates come from a self-join on
    (band_id, band_val) buckets, never from an attribute block that can go
    hot. Exact for ``max_hamming < bands`` (see simhash_bands). At 10^12
    docs use bits=64, bands up to max_hamming+1: bucket population ~
    N / 2^(bits/bands), and AQE splits any residual hot bucket."""
    assert max_hamming < bands, "banding is exact only for max_hamming < bands"
    s = simhash(docs, id_col, text_col, bits)
    bt = simhash_bands(s, id_col, bits, bands)
    a, b = bt.alias("ha"), bt.alias("hb")
    ham = F.bit_count(F.col("ha.simhash").bitwiseXOR(F.col("hb.simhash")))
    return (
        a.join(
            b,
            (F.col("ha.band_id") == F.col("hb.band_id"))
            & (F.col("ha.band_val") == F.col("hb.band_val"))
            & (F.col(f"ha.{id_col}") < F.col(f"hb.{id_col}")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col(f"ha.{id_col}").alias("doc_a"),
            F.col(f"hb.{id_col}").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()  # a pair sharing >1 band appears once per shared band
    )


def ngram_jaccard_lsh(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    threshold: float = 0.8, num_perm: int = NUM_PERM,
) -> DataFrame:
    """(doc_a, doc_b, jaccard): EXACT token-set Jaccard, but only over
    MinHash-LSH candidate pairs — the production near-dup shape: a bounded
    band-bucket join generates candidates, the exact (expensive,
    O(tokens) per pair) verification runs on candidates only. Replaces the
    same-`source` block join whose hot block goes quadratic."""
    sig = _persist_one(minhash_signatures(docs, id_col, text_col, num_perm))
    bands = lsh_bands(sig, id_col)
    a, b = bands.alias("ba"), bands.alias("bb")
    cand = (
        a.join(
            b,
            (F.col("ba.band_id") == F.col("bb.band_id"))
            & (F.col("ba.band_key") == F.col("bb.band_key"))
            & (F.col(f"ba.{id_col}") < F.col(f"bb.{id_col}")),
        )
        .select(
            F.col(f"ba.{id_col}").alias("doc_a"), F.col(f"bb.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    t = docs.select(id_col, tokens(text_col).alias("toks"))
    ta = t.select(F.col(id_col).alias("doc_a"), F.col("toks").alias("toks_a"))
    tb = t.select(F.col(id_col).alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    jac = inter.cast("double") / union
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(jac > threshold)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


def _dot(x: Column, y: Column) -> Column:
    """Sequential-fold double dot product (same evaluation order as the
    DuckDB oracle's list_dot_product)."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )


def embedding_near_dups(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    block_col: str = "label", threshold: float = 0.4,
) -> DataFrame:
    """(vec_a, vec_b, cos_sim): same-block pairs above a cosine threshold.
    The block join is the scale pattern (at 100 TB the block key is an LSH
    bucket — see similarity.hyperplane_bucket — never a cross join)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    d = emb.select(id_col, block_col, v.alias("v"))
    a, b = d.alias("ea"), d.alias("eb")
    cos = _dot(F.col("ea.v"), F.col("eb.v")) / (
        F.sqrt(_dot(F.col("ea.v"), F.col("ea.v")))
        * F.sqrt(_dot(F.col("eb.v"), F.col("eb.v")))
    )
    return (
        a.join(
            b,
            (F.col(f"ea.{block_col}") == F.col(f"eb.{block_col}"))
            & (F.col(f"ea.{id_col}") < F.col(f"eb.{id_col}")),
        )
        .where(cos > threshold)
        .select(
            F.col(f"ea.{id_col}").alias("vec_a"),
            F.col(f"eb.{id_col}").alias("vec_b"),
            cos.alias("cos_sim"),
        )
    )


def embedding_near_dups_bucketed(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int = 64, num_planes: int = 8, threshold: float = 0.4,
    seed: int = 12138,
) -> DataFrame:
    """(vec_a, vec_b, cos_sim): same-LSH-bucket pairs above a cosine
    threshold — the scale path for embedding dedup. The block key is the
    deterministic hyperplane bucket (similarity.hyperplane_bucket), not a
    data attribute: bucket population ~ N / 2^num_planes regardless of how
    any label/source skews, and widening num_planes shrinks it further.
    Trade-off (documented, inherent to sign-LSH): a near-dup pair lands in
    the same bucket with probability (1 - theta/pi)^num_planes, so recall
    is tunable, not exact; the exact-within-block variant
    (embedding_near_dups) remains the verification tier."""
    from mintpy_spark.operators.similarity import hyperplane_bucket

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # precompute each row's norm BEFORE the self-join: computed per pair it
    # would cost an extra O(dim) fold on both sides of every candidate
    d = emb.select(
        id_col,
        v.alias("v"),
        hyperplane_bucket(F.col(vec_col), dim, num_planes, seed).alias("bucket"),
    ).withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    a, b = d.alias("ea"), d.alias("eb")
    cos = _dot(F.col("ea.v"), F.col("eb.v")) / (F.col("ea.nrm") * F.col("eb.nrm"))
    return (
        a.join(
            b,
            (F.col("ea.bucket") == F.col("eb.bucket"))
            & (F.col(f"ea.{id_col}") < F.col(f"eb.{id_col}")),
        )
        .where(cos > threshold)
        .select(
            F.col(f"ea.{id_col}").alias("vec_a"),
            F.col(f"eb.{id_col}").alias("vec_b"),
            cos.alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracle builders — same constants, same hash, same shapes.
# ---------------------------------------------------------------------------

_TOKS_CTE = """
    toks AS (
      SELECT {id}, unnest(list_distinct(list_filter(string_split({text}, ' '),
                                                    x -> x <> ''))) AS tok
      FROM {table}
    )
"""


def minhash_oracle_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    threshold: float = 0.5, num_perm: int = NUM_PERM,
    bands: int = LSH_BANDS, rows: int = LSH_ROWS,
) -> str:
    mins = ",\n             ".join(
        f"MIN(({a} * hm + {b}) % {HASH_P}) AS m{i}"
        for i, (a, b) in enumerate(perm_coeffs(num_perm))
    )
    band_rows = "\n      UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band_id, concat_ws('-', "
        + ", ".join(f"m{b * rows + r}" for r in range(rows))
        + ") AS band_key FROM sig"
        for b in range(bands)
    )
    match_sum = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(num_perm)
    )
    return f"""
    WITH {_TOKS_CTE.format(id=id_col, text=text_col, table=table)},
    h AS (
      SELECT {id_col},
             ('0x' || substring(md5(tok), 1, 15))::BIGINT % {HASH_P} AS hm
      FROM toks
    ),
    sig AS (
      SELECT {id_col},
             {mins}
      FROM h GROUP BY {id_col}
    ),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.{id_col} < b.{id_col}
    )
    SELECT c.doc_a, c.doc_b,
           ({match_sum}) / {float(num_perm)} AS est_jaccard
    FROM cand c
    JOIN sig sa ON c.doc_a = sa.{id_col}
    JOIN sig sb ON c.doc_b = sb.{id_col}
    WHERE ({match_sum}) / {float(num_perm)} >= {threshold}
    """


def simhash_oracle_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> str:
    votes = ",\n             ".join(
        f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    value = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits)
    )
    return f"""
    WITH {_TOKS_CTE.format(id=id_col, text=text_col, table=table)},
    h AS (
      SELECT {id_col}, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS hv
      FROM toks
    ),
    per_bit AS (
      SELECT {id_col},
             {votes}
      FROM h GROUP BY {id_col}
    )
    SELECT {id_col}, CAST({value} AS BIGINT) AS simhash FROM per_bit
    """


def simhash_pairs_oracle_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    block_col: str = "source", max_hamming: int = 3, bits: int = SIMHASH_BITS,
) -> str:
    base = simhash_oracle_sql(table, id_col, text_col, bits)
    return f"""
    WITH s AS ({base}),
    d AS (SELECT t.{id_col}, t.{block_col}, s.simhash
          FROM {table} t JOIN s ON t.{id_col} = s.{id_col})
    SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM d a JOIN d b
      ON a.{block_col} = b.{block_col} AND a.{id_col} < b.{id_col}
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def simhash_banded_oracle_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 3, bits: int = 32,
) -> str:
    """Global all-pairs Hamming filter — an INDEPENDENT formulation (no
    banding) that the banded Spark plan must reproduce exactly, proving the
    pigeonhole candidate generation loses nothing."""
    base = simhash_oracle_sql(table, id_col, text_col, bits)
    return f"""
    WITH s AS ({base})
    SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM s a JOIN s b ON a.{id_col} < b.{id_col}
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def ngram_jaccard_lsh_oracle_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    threshold: float = 0.8, num_perm: int = NUM_PERM,
    bands: int = LSH_BANDS, rows: int = LSH_ROWS,
) -> str:
    """MinHash-band candidates (same constants as the Spark plan) + exact
    token-set Jaccard verification on the candidates."""
    mins = ",\n             ".join(
        f"MIN(({a} * hm + {b}) % {HASH_P}) AS m{i}"
        for i, (a, b) in enumerate(perm_coeffs(num_perm))
    )
    band_rows = "\n      UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band_id, concat_ws('-', "
        + ", ".join(f"m{b * rows + r}" for r in range(rows))
        + ") AS band_key FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH {_TOKS_CTE.format(id=id_col, text=text_col, table=table)},
    h AS (
      SELECT {id_col},
             ('0x' || substring(md5(tok), 1, 15))::BIGINT % {HASH_P} AS hm
      FROM toks
    ),
    sig AS (
      SELECT {id_col}, {mins} FROM h GROUP BY {id_col}
    ),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.{id_col} < b.{id_col}
    ),
    tk AS (
      SELECT {id_col},
             list_distinct(list_filter(string_split({text_col}, ' '), x -> x <> ''))
               AS toks
      FROM {table}
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
             / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)))
             AS jaccard
    FROM cand c
    JOIN tk ta ON c.doc_a = ta.{id_col}
    JOIN tk tb ON c.doc_b = tb.{id_col}
    WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
          / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)))
          > {threshold}
    """


def embedding_bucketed_oracle_sql(
    table: str = "embeddings", id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int = 64, num_planes: int = 8, threshold: float = 0.4,
    seed: int = 12138,
) -> str:
    """Same deterministic hyperplane buckets (literal planes) + cosine
    threshold — the bucket assignment is engine-exact, so the oracle
    reproduces the bucketed semantics bit-for-bit."""
    from mintpy_spark.operators.similarity import bucket_oracle_expr

    bexpr = bucket_oracle_expr(vec_col, dim, num_planes, seed)
    return f"""
    WITH e AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS v, {bexpr} AS bucket FROM {table}
    )
    SELECT a.{id_col} AS vec_a, b.{id_col} AS vec_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 4) AS cos_sim
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.{id_col} < b.{id_col}
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          > {threshold}
    """


def dedup_components(
    ids: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    iterations: int = 4, checkpoint_every: int = 2,
) -> DataFrame:
    """Transitive near-dup clusters: (id, component) where component is
    the min id reachable within ``iterations`` hops of the pair graph —
    min-label propagation (the dataframe-native kernel of large-star /
    small-star connected components).

    One-hop keeper resolution (dedup_keeper_map) misses chains
    (A~B, B~C but not A~C); propagation closes them: each iteration is one
    join + aggregation (label moves one hop), so ``iterations`` >= cluster
    diameter converges — LSH near-dup clusters are near-cliques (diameter
    ~2), so a small fixed count suffices and makes the operator
    DETERMINISTIC for a fixed k (the driver oracle unrolls the same k in
    SQL). At 10^12 docs: edges ~ near-dup pairs (<< corpus), each round is
    a bounded self-equijoin.

    Lineage control: the edge list (whose upstream is typically the full
    LSH candidate-generation pipeline) is localCheckpoint'ed ONCE before
    the loop, and the label table every ``checkpoint_every`` iterations —
    without this each iteration's plan embeds all predecessors, so the
    k=4 evaluation re-executed pair generation per round (the sf0.01 plan
    showed 61 Exchanges / 98 joins; checkpointed it is O(1) per round).
    ``checkpoint_every=0`` disables truncation (used by plan audits that
    must stay action-free)."""
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    if checkpoint_every:
        edges = edges.localCheckpoint(eager=True)
    labels = ids.select(F.col(id_col).alias("id"), F.col(id_col).alias("lbl"))
    for it in range(1, iterations + 1):
        neigh = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("lbl").alias("_nmin"))
        )
        labels = (
            labels.join(neigh, labels.id == neigh.src, "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce("_nmin", F.col("lbl"))).alias("lbl"),
            )
        )
        if checkpoint_every and it % checkpoint_every == 0 and it < iterations:
            labels = labels.localCheckpoint(eager=True)
    return labels.select(F.col("id").alias(id_col), F.col("lbl").alias("component"))


def components_oracle_sql(
    pairs_sql: str, table: str = "documents", id_col: str = "doc_id",
    iterations: int = 4,
) -> str:
    """Unrolled min-label propagation in SQL: the SAME k iterations, so
    the result matches the Spark loop exactly even before convergence."""
    # AS MATERIALIZED: DuckDB otherwise inlines the CTEs, re-executing
    # the (expensive) pair-generation subquery once per unrolled iteration
    sql = f"""
    WITH prs AS MATERIALIZED ({pairs_sql}),
    edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM prs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM prs
    ),
    l0 AS MATERIALIZED (SELECT {id_col} AS id, {id_col} AS lbl FROM {table})"""
    # each l{{i}} references l{{i-1}} TWICE (label side + neighbor side):
    # unmaterialized, DuckDB would inline the predecessor chain 2^k times
    for i in range(1, iterations + 1):
        sql += f""",
    l{i} AS MATERIALIZED (
      SELECT l.id, LEAST(l.lbl, COALESCE(MIN(n.lbl), l.lbl)) AS lbl
      FROM l{i-1} l
      LEFT JOIN edges e ON e.src = l.id
      LEFT JOIN l{i-1} n ON n.id = e.dst
      GROUP BY l.id, l.lbl
    )"""
    sql += f"""
    SELECT id AS {id_col}, lbl AS component FROM l{iterations}
    """
    return sql


# ---------------------------------------------------------------------------
# Exact substring-span deduplication (round 3, batch h): the Lee et al.
# 2022 "Deduplicating Training Data Makes Language Models Better" signal,
# recast from suffix arrays to a distributed shingle-hash census.
# ---------------------------------------------------------------------------

def window_hash_positions(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """One row per k-token window *position*: (id_col, h) with h the
    60-bit portable hash of the window string. The shared candidate
    generator of the substring-span census and benchmark decontamination
    (operators/curation.py) — row-local explode + hash, the window STRING
    never leaves the projection, so nothing wider than 16 bytes shuffles.
    size(toks) >= k is guarded explicitly: Spark's sequence(0, n-k)
    yields a DESCENDING sequence when n < k, not an empty one."""
    t = docs.select(
        F.col(id_col), nonempty_tokens(text_col).alias("_toks")
    ).where(F.size("_toks") >= k)
    wins = F.transform(
        F.sequence(F.lit(0), F.size("_toks") - k),
        lambda i: F.concat_ws(" ", F.slice("_toks", i + F.lit(1), F.lit(k))),
    )
    pos = t.select(F.col(id_col), F.explode(wins).alias("_win"))
    return pos.select(F.col(id_col), portable_hash60(F.col("_win")).alias("h"))


def duplicated_window_fraction(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Per-document duplicated-substring-span census: every k-token
    window of every document is hashed, and a window *position* counts as
    duplicated iff its window string occurs >= 2 times anywhere in the
    corpus (other documents or a repeat within the same document —
    exactly the substring-duplication criterion of Lee et al. 2022,
    arXiv:2107.06499, with fixed-k windows standing in for the suffix
    array's maximal repeated substrings; Dolma and RefinedWeb use the
    same fixed-k approximation).

    Returns (id_col, n_windows, dup_windows, dup_bp) with dup_bp =
    floor(dup/n * 10000 + 0.5) — an exact-integer basis-point fraction
    (engine-portable quantization; no float formatting in the output).
    Documents with fewer than k tokens carry no windows and are omitted.

    Plan shape / 100 TB notes (ONE scan, TWO Exchanges total):
    * The window explode is O(total tokens) rows, but each row is only
      (doc_id, 60-bit hash) — the window STRING never shuffles; the md5
      is taken row-locally right after the explode.
    * One explicit repartition on the window hash clusters everything
      the census needs: hash(h) partitioning *satisfies* the clustered
      distribution of both the (id, h) aggregation and the
      partitionBy(h) window, so the per-window corpus total is a
      window-function sum with NO join, no second scan of the corpus,
      and no extra shuffle — the naive self-join form costs 4 Exchanges
      and reads the corpus twice. The hash key is uniform by
      construction (md5), so no skew path is needed.
    * The only other Exchange is the final per-document re-aggregation.
    * At 10^12 documents the census table (distinct window hashes) is the
      big intermediate; the standard cheapening is a counting Bloom
      filter per partition OR-merged on the driver, trading exactness
      for memory — this exact form IS the oracle-checkable baseline the
      filter variant would be validated against.
    * size(toks) >= k is guarded explicitly: Spark's sequence(0, n-k)
      yields a DESCENDING sequence when n < k, not an empty one.

    Reference parity: extends the engine per the build brief (dedup as a
    first-class component); no reference analog.
    """
    pos = window_hash_positions(docs, id_col=id_col, text_col=text_col, k=k)
    return _duplication_census(
        pos, id_col, n_col="n_windows", dup_col="dup_windows"
    )


def _duplication_census(
    pos: DataFrame, id_col: str, n_col: str, dup_col: str
) -> DataFrame:
    """Shared census tail of the span and CDC-chunk dedup operators:
    given one (id, h) row per position, report per id the total
    positions, positions whose h occurs >= 2 times corpus-wide, and the
    floor-quantized basis-point fraction. One repartition on h (serves
    both the (id, h) agg and the PARTITION BY h window-sum) + the final
    per-id re-agg."""
    from pyspark.sql import Window

    local = (
        pos.repartition("h")
        .groupBy(id_col, "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    j = local.withColumn("tot", F.sum("c").over(Window.partitionBy("h")))
    dup = F.sum(F.when(F.col("tot") >= 2, F.col("c")).otherwise(F.lit(0)))
    return (
        j.groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias(n_col),
            dup.cast("long").alias(dup_col),
        )
        .withColumn(
            "dup_bp",
            F.floor(
                F.col(dup_col) * F.lit(10000.0) / F.col(n_col)
                + F.lit(0.5)
            ).cast("long"),
        )
    )


def substring_spans_oracle_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    k: int = 8,
) -> str:
    """DuckDB twin of duplicated_window_fraction — identical tokenizer
    (list_filter(string_split)), identical 60-bit md5 window hash,
    identical floor-quantized basis points."""
    return f"""
    WITH w AS (
      SELECT {id_col},
             list_filter(string_split({text_col}, ' '), t -> t <> '') AS toks
      FROM {table}),
    pos AS (
      SELECT {id_col},
             unnest([('0x' || substring(
                        md5(array_to_string(toks[i:i+{k - 1}], ' ')),
                        1, 15))::BIGINT
                     FOR i IN range(1, len(toks) - {k - 2})]) AS h
      FROM w WHERE len(toks) >= {k}),
    l AS (SELECT {id_col}, h, COUNT(*) AS c FROM pos GROUP BY {id_col}, h),
    t AS (SELECT h, SUM(c) AS tot FROM l GROUP BY h)
    SELECT l.{id_col},
           CAST(SUM(c) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN tot >= 2 THEN c ELSE 0 END) AS BIGINT)
             AS dup_windows,
           CAST(floor(SUM(CASE WHEN tot >= 2 THEN c ELSE 0 END) * 10000.0
                      / SUM(c) + 0.5) AS BIGINT) AS dup_bp
    FROM l JOIN t USING (h)
    GROUP BY l.{id_col}
    """


# ---------------------------------------------------------------------------
# Content-defined chunking dedup (round 3, batch k): the storage-dedup
# technique (Muthitacharoen et al. 2001, LBFS; rsync's rolling window)
# applied to corpus text — chunk boundaries are picked by CONTENT
# (token-hash condition), so an insertion/deletion only re-chunks its
# local neighborhood, where fixed-k windows shift every downstream
# window and fixed-size blocks shift every downstream block.
# ---------------------------------------------------------------------------

def cdc_chunk_positions(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    window_mod: int = 8,
) -> DataFrame:
    """One row per content-defined chunk: (id_col, h). A token STARTS a
    new chunk iff its 60-bit portable hash ≡ 0 (mod window_mod), giving
    expected chunk length ``window_mod`` tokens; the first token always
    starts chunk 0, so every non-empty document has >= 1 chunk. The
    boundary array, chunk strings, and chunk hashes are all row-local
    array expressions — nothing wider than (id, 16-byte hash) shuffles,
    same discipline as window_hash_positions.

    sequence(1, n-1) is guarded behind n >= 2 (Spark yields a
    DESCENDING [1, 0] for n = 1, not an empty array)."""
    t = docs.select(
        F.col(id_col), nonempty_tokens(text_col).alias("_toks")
    ).where(F.size("_toks") >= 1)
    n = F.size("_toks")
    bounds = F.when(
        n >= 2,
        F.filter(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.pmod(
                portable_hash60(F.element_at(F.col("_toks"), i + 1)),
                F.lit(window_mod),
            )
            == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    t = t.withColumn("_b", bounds)
    starts = F.concat(F.array(F.lit(0)), F.col("_b"))
    ends = F.concat(F.col("_b"), F.array(n))
    chunks = F.zip_with(
        starts, ends,
        lambda s, e: F.concat_ws(" ", F.slice(F.col("_toks"), s + 1, e - s)),
    )
    pos = t.select(F.col(id_col), F.explode(chunks).alias("_chunk"))
    return pos.select(F.col(id_col), portable_hash60(F.col("_chunk")).alias("h"))


def cdc_chunk_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    window_mod: int = 8,
) -> DataFrame:
    """Per-document duplicated-chunk census over content-defined chunks:
    (id_col, n_chunks, dup_chunks, dup_bp) where a chunk position counts
    as duplicated iff its chunk string occurs >= 2 times anywhere in the
    corpus. Same single-repartition census tail as the fixed-k span
    operator (see _duplication_census / duplicated_window_fraction scale
    notes); the explode factor is ~n_tokens/window_mod rows per document
    — window_mod times CHEAPER than the span census, the standard
    trade: CDC detects shared blocks, spans detect any shared k-gram."""
    pos = cdc_chunk_positions(
        docs, id_col=id_col, text_col=text_col, window_mod=window_mod
    )
    return _duplication_census(
        pos, id_col, n_col="n_chunks", dup_col="dup_chunks"
    )


def cdc_chunk_oracle_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    window_mod: int = 8,
) -> str:
    """DuckDB twin of cdc_chunk_dedup — identical tokenizer, identical
    boundary rule (60-bit md5 hash of the token, mod window_mod),
    identical chunk strings and census."""
    return f"""
    WITH w AS (
      SELECT {id_col},
             list_filter(string_split({text_col}, ' '), t -> t <> '') AS toks
      FROM {table}),
    c AS (
      SELECT {id_col}, toks, len(toks) AS n,
             [i FOR i IN range(2, len(toks) + 1)
                IF ('0x' || substring(md5(toks[i]), 1, 15))::BIGINT
                   % {window_mod} = 0] AS b
      FROM w WHERE len(toks) >= 1),
    s AS (
      SELECT {id_col},
             unnest(list_transform(
               list_zip([1]::BIGINT[] || b, b || [n + 1]::BIGINT[]),
               p -> array_to_string(toks[p[1] : p[2] - 1], ' '))) AS chunk
      FROM c),
    pos AS (
      SELECT {id_col},
             ('0x' || substring(md5(chunk), 1, 15))::BIGINT AS h
      FROM s),
    l AS (SELECT {id_col}, h, COUNT(*) AS c FROM pos GROUP BY {id_col}, h),
    t AS (SELECT h, SUM(c) AS tot FROM l GROUP BY h)
    SELECT l.{id_col},
           CAST(SUM(c) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN tot >= 2 THEN c ELSE 0 END) AS BIGINT)
             AS dup_chunks,
           CAST(floor(SUM(CASE WHEN tot >= 2 THEN c ELSE 0 END) * 10000.0
                      / SUM(c) + 0.5) AS BIGINT) AS dup_bp
    FROM l JOIN t USING (h)
    GROUP BY l.{id_col}
    """


_CONTAIN_SLOT: list = []


def containment_near_dups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_df: int = 50, threshold_bp: int = 5000,
) -> DataFrame:
    """(doc_a, doc_b, n_a, n_b, inter, containment_bp): pairs whose
    max-containment |A∩B| / min(|A|, |B|) clears ``threshold_bp`` over
    DISCRIMINATIVE word-3-gram shingle sets (document frequency <=
    ``max_df`` — the Broder stop-shingle cut).  Containment is the
    asymmetric near-dup measure Jaccard LSH structurally misses: a short
    quote A embedded in a long page B has Jaccard ~ |A|/|B| ~ 0 but
    containment ~ 1, so quote-inclusion / subset pairs only surface here.

    Reference analog: the common-mask overlap accounting of
    ``objects/stack.py:972`` (what fraction of one stack's coverage lies
    inside another's), applied to shingle sets.

    Scale shape: postings (shingle, doc) from the per-doc DISTINCT
    shingle set (drift.shingle_set — the one tokenizer) -> df census and
    stop-shingle cut co-located on the same shingle Exchange ->
    inverted-index pair generation, bounded by ``max_df`` x |postings|
    (each posting meets at most max_df - 1 partners — the df cap is the
    SEMANTICS, not an approximation dodge: ubiquitous shingles carry no
    duplication signal, and unbounded df is exactly what makes naive
    inverted-index pair counting quadratic on hot shingles) -> pair hash
    agg -> two shuffle joins against the per-doc size table.
    """
    from mintpy_spark.operators.drift import shingle_set
    from mintpy_spark.plans.cache import persist_slot

    assert max_df >= 2, "max_df < 2 cannot produce any pair"
    post = docs.select(
        F.col(id_col), F.explode(shingle_set(F.col(text_col))).alias("tok")
    )
    keep = (
        post.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_df)
        .select("tok")
    )
    # the filtered postings feed THREE consumers (sizes, both sides of
    # the pair self-join); without a persist, Catalyst replays the scan +
    # shingle explode + df census once per consumer (the plan audit
    # showed 8 scans / 7 Exchanges). One-slot persist, same discipline
    # as the minhash signature table.
    f = persist_slot(post.join(keep, "tok"), _CONTAIN_SLOT)
    sizes = f.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = f.select("tok", F.col(id_col).alias("doc_a"))
    b = f.select("tok", F.col(id_col).alias("doc_b"))
    pairs = (
        a.join(b, "tok")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    bp = F.floor(
        F.col("inter") * 10000.0 / F.least(F.col("n_a"), F.col("n_b")) + 0.5
    ).cast("long")
    return (
        pairs.join(
            sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("n_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("inter").cast("long").alias("inter"),
            bp.alias("containment_bp"),
        )
        .where(F.col("containment_bp") >= threshold_bp)
    )


def containment_oracle_sql(max_df: int = 50, threshold_bp: int = 5000) -> str:
    """DuckDB mirror of containment_near_dups: distinct word-3-gram
    shingles over the one tokenizer (functions/scalars.nonempty_tokens —
    empties dropped BEFORE windowing, same as drift.shingle_set)."""
    return f"""
    WITH post AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(len(toks) - 2),
                 i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])))) AS tok
      FROM (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents
      )
      WHERE len(toks) >= 3
    ), keep AS (
      SELECT tok FROM post GROUP BY tok HAVING COUNT(*) <= {max_df}
    ), f AS (
      SELECT p.doc_id, p.tok FROM post p JOIN keep k USING (tok)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM f GROUP BY 1
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM f a JOIN f b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), scored AS (
      SELECT p.doc_a, p.doc_b,
             CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
             CAST(p.inter AS BIGINT) AS inter,
             CAST(floor(p.inter * 10000.0 / least(sa.n, sb.n) + 0.5)
                  AS BIGINT) AS containment_bp
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
    )
    SELECT * FROM scored WHERE containment_bp >= {threshold_bp}
    """
