"""Mergeable distinct-count sketch tier: K-Minimum-Values (KMV).

The histogram tier (operators/rollup.py) answers approximate quantiles
from any tier; this module does the same for COUNT(DISTINCT): a KMV
sketch (Bar-Yossef et al. 2002, "Counting distinct elements in a data
stream", public literature) kept per tier bucket. The sketch is the set
of the k smallest *distinct* hash values seen in the bucket; its
fundamental property is loss-free mergeability —

    k-smallest(distinct(A ∪ B)) == k-smallest(distinct(
        k-smallest(distinct(A)) ∪ k-smallest(distinct(B))))

— so coarse tiers merge fine-tier sketches without touching raw data,
exactly like cnt/vsum/vmin/vmax partials. The driver oracle leans on that
theorem: Spark builds the 1d sketch by MERGING 1h sketches, DuckDB builds
it directly from raw rows, and the results must be hash-identical (not
approximately equal) — the merge path is provably exact, only the
*estimate* is approximate.

Hash: the engine-portable md5-prefix hash (memory: cross-engine integer
hash) — ``conv(substr(md5(x), 1, 15), 16, 10)`` — uniform on
[0, 16^15); the estimator is the classic (k-1) * H / h_(k) with
H = 16^15, computed in double arithmetic identically on both engines.

No reference analog (MintPy has no distinct-count path); this is a
first-class tier component for the web-scale recast (distinct urls per
domain per day at 10^12 rows cannot be exact without a full shuffle of
the key space — the sketch is one narrow agg per tier bucket).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mintpy_spark.functions.scalars import HASH60_SPACE, portable_hash60
from mintpy_spark.functions.timefn import bucket_start


def kmv_tier(
    obs: DataFrame,
    item_col: str,
    tier: str = "1h",
    key_cols: tuple[str, ...] = (),
    ts: str = "warc_ts",
    k: int = 32,
) -> DataFrame:
    """Raw rows -> per-bucket KMV sketch: (key..., bucket_start, kmv
    array<long> of the <=k smallest distinct item hashes, ascending)."""
    staged = (
        obs.select(
            *key_cols,
            bucket_start(F.col(ts), tier).alias("bucket_start"),
            portable_hash60(F.col(item_col)).alias("_h"),
        )
        # NULL items hash to NULL; distinct-count semantics ignore NULL,
        # and a NULL must never occupy a rank slot (NULLS FIRST would
        # displace the k-th smallest real hash and shrink the sketch).
        .where(F.col("_h").isNotNull())
        .dropDuplicates([*key_cols, "bucket_start", "_h"])
    )
    w = Window.partitionBy(*key_cols, "bucket_start").orderBy("_h")
    return (
        staged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .groupBy(*key_cols, "bucket_start")
        .agg(F.sort_array(F.collect_list("_h")).alias("kmv"))
    )


def kmv_merge(
    sketch_df: DataFrame,
    to_tier: str,
    key_cols: tuple[str, ...] = (),
    k: int = 32,
) -> DataFrame:
    """Merge fine-tier sketches into a coarser tier: explode the hash
    arrays, re-bucket, dedupe, keep the k smallest — the loss-free merge
    (see module docstring). Cost is O(k) rows per fine bucket, never the
    raw data."""
    exploded = sketch_df.select(
        *key_cols,
        bucket_start(F.col("bucket_start"), to_tier).alias("bucket_start"),
        F.explode("kmv").alias("_h"),
    ).dropDuplicates([*key_cols, "bucket_start", "_h"])
    w = Window.partitionBy(*key_cols, "bucket_start").orderBy("_h")
    return (
        exploded.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .groupBy(*key_cols, "bucket_start")
        .agg(F.sort_array(F.collect_list("_h")).alias("kmv"))
    )


def kmv_estimate(sketch_df: DataFrame, k: int = 32) -> DataFrame:
    """Sketch -> (.., n_kept, kth_min, est_distinct).

    Exact when the bucket held fewer than k distinct items (the sketch IS
    the distinct set); otherwise the unbiased KMV estimator
    (k-1) * H / h_(k) rounded to 2 dp in double arithmetic (identical
    expression on the oracle side)."""
    n_kept = F.size("kmv")
    kth = F.element_at("kmv", -1)
    est = F.when(n_kept < k, n_kept.cast("double")).otherwise(
        F.round(F.lit(k - 1) * F.lit(float(HASH60_SPACE)) / kth.cast("double"), 2)
    )
    return sketch_df.select(
        *[c for c in sketch_df.columns if c != "kmv"],
        n_kept.alias("n_kept"),
        kth.alias("kth_min"),
        est.alias("est_distinct"),
    )


def kmv_set(
    df: DataFrame, item_col: str, key_cols: tuple[str, ...], k: int = 32
) -> DataFrame:
    """Per-key KMV sketch with no time bucket: (key..., kmv array<long>
    of the <=k smallest distinct item hashes, ascending). The set-level
    sibling of kmv_tier — used for audience/segment sketches where the
    grouping is categorical rather than temporal."""
    staged = (
        df.select(*key_cols, portable_hash60(F.col(item_col)).alias("_h"))
        .where(F.col("_h").isNotNull())
        .dropDuplicates([*key_cols, "_h"])
    )
    w = Window.partitionBy(*key_cols).orderBy("_h")
    return (
        staged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list("_h")).alias("kmv"))
    )


def kmv_theta(a_col: str, b_col: str, k: int) -> Column:
    """The sampling threshold of a pair of KMV sketches (Dasgupta et al.,
    "Theta sketch framework", public literature): theta_s = HASH60_SPACE
    if the sketch is not full (it IS the distinct set) else its k-th
    minimum; theta = least(theta_a, theta_b). Set operations keep the
    hashes below theta and scale by the inverse density SPACE/theta."""
    space = F.lit(HASH60_SPACE)
    th_a = F.when(F.size(a_col) < k, space).otherwise(F.element_at(a_col, -1))
    th_b = F.when(F.size(b_col) < k, space).otherwise(F.element_at(b_col, -1))
    return F.least(th_a, th_b)


def kmv_intersect_estimate(
    pairs: DataFrame, a_col: str = "kmv_a", b_col: str = "kmv_b", k: int = 32
) -> DataFrame:
    """Theta-style intersection estimate from two KMV sketches on one row.

    The sample is |{h in A cap B : h < theta}| (theta from kmv_theta) and
    the estimate scales it by SPACE/theta. When both sketches are small
    theta == SPACE and the 'estimate' is the exact intersection size. All
    comparisons are long-long; ONE double division at the end, identical
    expression order to the oracle."""
    theta = kmv_theta(a_col, b_col, k)
    inter = F.array_intersect(F.col(a_col), F.col(b_col))
    sample = F.size(F.filter(inter, lambda h: h < theta))
    est = F.round(
        sample.cast("double") * F.lit(float(HASH60_SPACE)) / theta.cast("double"), 2
    )
    keep = [c for c in pairs.columns if c not in (a_col, b_col)]
    return pairs.select(
        *keep,
        F.size(a_col).cast("long").alias("n_a"),
        F.size(b_col).cast("long").alias("n_b"),
        theta.alias("theta"),
        sample.cast("long").alias("n_sample"),
        est.alias("est_common"),
    )


# ---------------------------------------------------------------------------
# Count-Min frequency sketch tier
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 64


def cms_bucket(col: Column, row: Column, width: int = CMS_WIDTH) -> Column:
    """Bucket of item ``col`` under hash row ``row`` (int column):
    portable md5 hash of ``item|row`` mod width. Engine-portable —
    DuckDB: ``('0x' || substring(md5(x || '|' || r), 1, 15))::BIGINT %
    width`` (the hash is non-negative, so % == pmod)."""
    return F.pmod(
        portable_hash60(
            F.concat(col.cast("string"), F.lit("|"), row.cast("string"))
        ),
        F.lit(int(width)),
    )


def cms_tier(
    items: DataFrame,
    item_col: str,
    key_cols: tuple[str, ...] = (),
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Per-key Count-Min sketch (Cormode & Muthukrishnan 2005, public
    literature) of item frequencies: (key..., r, bucket, cnt) with one
    row per non-empty counter — the sparse representation of the d×w
    counter matrix.

    Like the KMV and histogram tiers, the sketch is LOSS-FREE mergeable
    (counters are sums: coarse tiers sum fine-tier counters — see
    cms_merge), and the estimate for any item is
    ``min over r of counter[r][h_r(item)]`` — an overestimate, never an
    under-estimate, with the classic (eps = e/w, delta = e^-d)
    guarantee. Order-independent (unlike Misra-Gries), so it is
    oracle-checkable bit-for-bit in any engine with the same md5 hash.

    Plan: one row-local d-way explode over the item stream, then a hash
    agg on (key, r, bucket) — map-side combine collapses the stream to
    at most d·w rows per key before the Exchange, so sketch build cost
    is one narrow shuffle of bounded width regardless of corpus size
    (the point of a sketch at 10^12 tokens)."""
    rows = F.explode(
        F.array(*[F.lit(r) for r in range(int(depth))])
    ).alias("r")
    exploded = items.select(*key_cols, F.col(item_col), rows)
    return (
        exploded.groupBy(
            *key_cols,
            "r",
            cms_bucket(F.col(item_col), F.col("r"), width).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_merge(
    sketches: DataFrame, key_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Merge sketches sharing (r, bucket) by summing counters — the
    tier-cascade step (1h sketches -> 1d sketch without raw data)."""
    return (
        sketches.groupBy(*key_cols, "r", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    item_col: str,
    key_cols: tuple[str, ...] = (),
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-frequency estimates for ``probes`` (one row per (key...,
    item)): (key..., item, est) with est = min over rows of the matching
    counter; an absent counter is an exact 0 (the min annihilates).

    The probe side is tiny by construction (a watchlist, not the
    corpus), so its d-way explode broadcasts into the sketch join; one
    small re-agg computes the min."""
    pr = probes.select(
        *key_cols,
        F.col(item_col),
        F.explode(F.array(*[F.lit(r) for r in range(int(depth))])).alias(
            "r"
        ),
    ).withColumn("bucket", cms_bucket(F.col(item_col), F.col("r"), width))
    j = pr.join(sketch, [*key_cols, "r", "bucket"], "left")
    return (
        j.groupBy(*key_cols, item_col)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long")
            .alias("est")
        )
    )


# ---------------------------------------------------------------------------
# Log-bucketed quantile sketch (HdrHistogram / DDSketch family)
# ---------------------------------------------------------------------------

HDR_SUB_BITS = 3  # 2^3 sub-buckets per octave -> relative error <= 2^-4


def hdr_bucket(v: Column, sub_bits: int = HDR_SUB_BITS) -> Column:
    """Log2 bucket id of a POSITIVE integer value: the value with all
    bits below its top (sub_bits+1) cleared — i.e. (v >> s) << s with
    s = max(bit_length(v) - sub_bits - 1, 0). Values sharing a bucket
    agree in their top bits, so the bucket spans [id, id + 2^s) and the
    relative width is <= 2^-sub_bits (HdrHistogram's bucketing;
    DDSketch uses log-gamma — same family, but this form is EXACT
    integer arithmetic over the FULL long range, hence bit-reproducible
    in any engine: Spark ``shiftleft(shiftright(v, s), s)`` (the SQL
    functions accept a column shift amount; the Python helpers don't)
    == DuckDB ``(v >> s) << s``. A double-based floor(v/2^s)*2^s form
    would break at v >= 2^53 — the cast to double rounds, pushing the
    bucket edge ABOVE the value and (at the top octave) overflowing the
    oracle's BIGINT cast.

    Non-positive values get bucket 0 (their own underflow bucket);
    NULL stays NULL (dropped by the tier agg)."""
    vl = v.cast("long")
    blen = F.length(F.bin(vl))
    s = F.greatest(blen - F.lit(int(sub_bits) + 1), F.lit(0)).cast("int")
    masked = F.call_function(
        "shiftleft", F.call_function("shiftright", vl, s), s
    )
    return (
        F.when(v.isNull(), F.lit(None).cast("long"))
        .when(vl <= 0, F.lit(0))
        .otherwise(masked.cast("long"))
    )


def hdr_tier(
    obs: DataFrame,
    value_col: str,
    key_cols: tuple[str, ...] = (),
    sub_bits: int = HDR_SUB_BITS,
) -> DataFrame:
    """Per-key log-bucketed quantile sketch: (key..., bucket, cnt).
    Like the fixed-width histogram tier but with ~2^-sub_bits RELATIVE
    error across the full dynamic range — no a-priori [lo, hi) choice,
    which is what production latency/size percentiles need (a linear
    histogram sized for the p50 clips the p999). Loss-free mergeable
    (counters sum, see hdr_merge); bounded width: 2^sub_bits buckets
    per octave, <= 64·2^sub_bits rows per key over the full long
    range."""
    v = F.col(value_col)
    return (
        obs.where(v.isNotNull())
        .groupBy(*key_cols, hdr_bucket(v, sub_bits).alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def hdr_merge(
    sketches: DataFrame, key_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Merge sketches by summing bucket counters — the tier-cascade
    step (1h sketches -> 1d without raw data), exactly lossless."""
    return (
        sketches.groupBy(*key_cols, "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def hdr_quantiles(
    sketch: DataFrame,
    qs: dict[str, float],
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All requested quantiles in ONE pass: (key..., <name> per qs
    entry): the cumulative window is computed once and each quantile is
    a conditional MIN over it — one window + one agg instead of a sketch
    recomputation per q."""
    w_cum = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*key_cols)
    ranked = sketch.withColumn("_cum", F.sum("cnt").over(w_cum)).withColumn(
        "_tot", F.sum("cnt").over(w_all)
    )
    aggs = [
        F.min(
            F.when(
                F.col("_cum") >= F.ceil(F.lit(float(q)) * F.col("_tot")),
                F.col("bucket"),
            )
        )
        .cast("long")
        .alias(name)
        for name, q in qs.items()
    ]
    return ranked.groupBy(*key_cols).agg(*aggs)


# ---------------------------------------------------------------------------
# HyperLogLog register tier (distinct-count twin of the KMV tier: fixed
# 64-register width, max-mergeable — and unlike KMV's k-smallest arrays,
# the merge is a plain MAX per register, so it is replay-IDEMPOTENT and
# commutative like the presence bitmap; no committed-version guard needed)
# ---------------------------------------------------------------------------

HLL_BUCKETS = 64          # m = 2^6 registers
HLL_BUCKET_BITS = 6
HLL_MAX_RHO = 55          # 60-bit hash, 6 bucket bits -> 54 rest bits; rho<=55
# alpha_m * m^2 * 2^HLL_MAX_RHO — the scaled estimator numerator, one
# double literal shared verbatim with the oracle SQL (repr round-trips)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_BUCKETS)
HLL_EST_NUM = HLL_ALPHA * HLL_BUCKETS * HLL_BUCKETS * float(1 << HLL_MAX_RHO)


def hll_tier(
    obs: DataFrame,
    item_col: str,
    tier: str = "1d",
    key_cols: tuple[str, ...] = (),
    ts: str = "warc_ts",
) -> DataFrame:
    """Raw rows -> HLL registers: (key..., bucket_start, bucket, r) with
    r = max over items of rho(hash) for the 64-way register split.
    rho = trailing zeros of the top-54-bit remainder + 1 (the rest==0
    row saturates at 55).  The Exchange carries at most 64 rows per
    (key, bucket_start) — independent of item volume, the tier claim."""
    h = portable_hash60(F.col(item_col))
    rest = F.shiftright(h, HLL_BUCKET_BITS)
    rho = F.when(rest == 0, F.lit(HLL_MAX_RHO)).otherwise(
        F.bit_count(rest.bitwiseAND(-rest) - 1) + 1
    )
    return (
        obs.select(
            *key_cols,
            bucket_start(F.col(ts), tier).alias("bucket_start"),
            (h % HLL_BUCKETS).alias("bucket"),
            rho.alias("r"),
        )
        .where(F.col("bucket").isNotNull())  # NULL items carry no register
        .groupBy(*key_cols, "bucket_start", "bucket")
        .agg(F.max("r").alias("r"))
    )


def hll_merge(
    sketch_df: DataFrame, to_tier: str, key_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Fold fine-tier registers into a coarser tier: MAX per register —
    associative, commutative AND idempotent (replaying a partial is a
    no-op), the strongest merge class in the sketch family."""
    return (
        sketch_df.select(
            *key_cols,
            bucket_start(F.col("bucket_start"), to_tier).alias("bucket_start"),
            "bucket",
            "r",
        )
        .groupBy(*key_cols, "bucket_start", "bucket")
        .agg(F.max("r").alias("r"))
    )


def hll_estimate(
    sketch_df: DataFrame, key_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Registers -> (key..., bucket_start, n_regs, sum_scaled, est_distinct).

    Integer-exact accumulation: sum_scaled = sum over the 64 registers of
    2^(55 - r), absent registers contributing 2^55 (r = 0); max value
    64 * 2^55 = 2^61, inside LongType.  The classic raw estimate
    alpha * m^2 / sum(2^-r) == HLL_EST_NUM / sum_scaled, one double
    division + floor(+0.5) on a literal numerator — deterministic and
    oracle-identical.  (No small-range linear-counting correction: ln()
    is the one libm call whose engine parity is NOT guaranteed; the raw
    estimate plus n_regs lets callers apply it driver-side.)"""
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_MAX_RHO} - r)")
    grouped = sketch_df.groupBy(*key_cols, "bucket_start").agg(
        F.count(F.lit(1)).cast("long").alias("n_regs"),
        F.sum(term).cast("long").alias("_present"),
    )
    sum_scaled = (
        F.col("_present")
        + (F.lit(HLL_BUCKETS) - F.col("n_regs"))
        * F.lit(1 << HLL_MAX_RHO).cast("long")
    )
    return grouped.select(
        *key_cols,
        "bucket_start",
        "n_regs",
        sum_scaled.cast("long").alias("sum_scaled"),
        F.floor(F.lit(HLL_EST_NUM) / sum_scaled.cast("double") + 0.5)
        .cast("long")
        .alias("est_distinct"),
    )


# ---------------------------------------------------------------------------
# Bloom membership tier (the presence bitmap's hash-addressed twin: the
# bitmap is exact over a DENSE small domain (day offsets); Bloom covers
# an UNBOUNDED key domain at fixed width, trading exactness for a
# bounded, one-sided false-positive rate — no false negatives)
# ---------------------------------------------------------------------------

BLOOM_WORDS = 4   # 4 x 63 usable bits = 252-bit filters
BLOOM_K = 3       # hash probes per item
BLOOM_WORD_BITS = 63  # bit 63 is the sign bit: 1::BIGINT << 63 overflows
                      # DuckDB's checked shift (same cap as the presence
                      # bitmap's 60-day blocks and simhash's bits<=64 note)


def bloom_positions(col: Column, k: int = BLOOM_K, words: int = BLOOM_WORDS) -> list[Column]:
    """k engine-portable bit positions in [0, words*63) for an item:
    portable_hash60 of the item string salted with '|i'."""
    m_bits = words * BLOOM_WORD_BITS
    return [
        portable_hash60(F.concat(col.cast("string"), F.lit(f"|{i}"))) % m_bits
        for i in range(k)
    ]


def bloom_tier(
    obs: DataFrame,
    item_col: str,
    key_cols: tuple[str, ...],
    k: int = BLOOM_K,
    words: int = BLOOM_WORDS,
) -> DataFrame:
    """Raw rows -> per-key Bloom filter: (key..., w0..w{words-1}) int64
    words of 63 usable bits each.  Each row's contribution is assembled ROW-LOCALLY (k
    conditional bits OR-folded per word — no explode), then one hash agg
    bit_or's per word: the Exchange carries `words` longs per key,
    independent of item volume.  OR is idempotent, so no distinct pass
    is needed upstream and partial replay is a no-op."""
    pos = bloom_positions(F.col(item_col), k, words)
    # SQL-expression form: the shift amount is a COLUMN (the Python
    # F.shiftleft wrapper only takes int literals)
    staged = obs.select(
        *key_cols,
        *[p.alias(f"_p{i}") for i, p in enumerate(pos)],
    )
    words_cols = []
    for j in range(words):
        e = " | ".join(
            f"(CASE WHEN _p{i} DIV {BLOOM_WORD_BITS} = {j} "
            f"THEN shiftleft(CAST(1 AS BIGINT), CAST(_p{i} % {BLOOM_WORD_BITS} AS INT)) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for i in range(k)
        )
        words_cols.append(F.expr(e).alias(f"w{j}"))
    staged = staged.select(*key_cols, *words_cols)
    return staged.groupBy(*key_cols).agg(
        *[F.expr(f"bit_or(w{j})").alias(f"w{j}") for j in range(words)]
    )


def bloom_probe(
    bloom_df: DataFrame,
    probes: DataFrame,
    item_col: str,
    key_cols: tuple[str, ...],
    k: int = BLOOM_K,
    words: int = BLOOM_WORDS,
) -> DataFrame:
    """probes (key..., item) x bloom (key..., w0..) -> + bloom_hit.

    A probe hits iff ALL k bits are set; a key absent from the bloom
    table (left join) never hits.  One-sided by construction: a member's
    bits were all OR'd in, so false negatives are impossible."""
    pos = bloom_positions(F.col(item_col), k, words)
    staged = probes.select(
        "*", *[p.alias(f"_p{i}") for i, p in enumerate(pos)]
    )
    joined = staged.join(bloom_df, list(key_cols), "left")
    word_of = lambda i: "CASE " + " ".join(
        f"WHEN _p{i} DIV {BLOOM_WORD_BITS} = {j} THEN w{j}" for j in range(words)
    ) + " END"
    hit = " AND ".join(
        f"(shiftright({word_of(i)}, CAST(_p{i} % {BLOOM_WORD_BITS} AS INT)) & 1) = 1"
        for i in range(k)
    )
    return joined.withColumn(
        "bloom_hit", F.coalesce(F.expr(hit), F.lit(False))
    ).drop(*[f"_p{i}" for i in range(k)], *[f"w{j}" for j in range(words)])
