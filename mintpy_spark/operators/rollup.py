"""Continuous-aggregate rollup tiers (1h -> 1d -> 30d).

The reference's analog is ``temporal_average`` / ``multilook``
(reference: objects/stack.py:451-456 per-pixel nanmean over time;
src/mintpy/stdproc/multilook.py:19-130 window-bin mean): downsample a dense
series into coarser bins. Here each tier stores *decomposable partials*
``(cnt, sum, min, max)`` per (key, bucket) and derives ``mean = sum/cnt``,
so coarser tiers are computed **from the finer tier's partials, never from
raw data** — cascade re-aggregation keeps every tier exactly consistent
(SURVEY.md §2.4) and turns the 30d refresh into an aggregation over ~720x
fewer rows than the raw table. Catalyst plans each step as partial+final
hash aggregation (map-side combine), so at 100 TB the only full-data shuffle
is the 1h tier build; 1d and 30d shuffle tier-sized data.

NaN/no-data semantics mirror the reference (NaN rows are excluded from
nanmean, stack.py:434-449): Spark's count/sum/min/max already skip NULLs;
callers map sentinel no-data values to NULL beforehand (see mask.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mintpy_spark.functions.timefn import TIER_SECONDS, bucket_start

PARTIAL_COLS = ("cnt", "vsum", "vmin", "vmax")


def _partial_cols(df: DataFrame) -> list[str]:
    """PARTIAL_COLS plus any optional extensions the frame carries
    (currently: vsumsq for variance-capable tiers)."""
    cols = list(PARTIAL_COLS)
    if "vsumsq" in df.columns:
        cols.append("vsumsq")
    return cols


def _merge_partials(df: DataFrame, *group: str) -> DataFrame:
    """The ONE partial-merge spec (cnt/vsum add, vmin/vmax combine,
    vsumsq add when present) shared by cascade(), merge_tier_delta(),
    rollup_to_width() and route_range_agg(); df must carry (*group,
    *PARTIAL_COLS[, vsumsq])."""
    aggs = [
        F.sum("cnt").alias("cnt"),
        F.sum("vsum").alias("vsum"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    ]
    if "vsumsq" in df.columns:
        aggs.append(F.sum("vsumsq").alias("vsumsq"))
    return df.groupBy(*group).agg(*aggs)


def rollup_from_obs(
    obs: DataFrame, value_col: str, tier: str = "1h", key: str = "url",
    ts: str = "warc_ts", with_sq: bool = False,
) -> DataFrame:
    """Raw observations -> finest tier partials (key, bucket_start, cnt,
    vsum, vmin, vmax[, vsumsq]). ``with_sq`` adds the sum-of-squares
    partial IN THE SAME aggregation (one scan, one shuffle) so the tier
    can answer variance/std/rms (var_pop = vsumsq/cnt - (vsum/cnt)^2,
    rms = sqrt(vsumsq/cnt)); every downstream operator (cascade,
    merge_tier_delta, refresh) carries it automatically."""
    aggs = [
        F.count("v").alias("cnt"),
        F.sum("v").alias("vsum"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
    ]
    if with_sq:
        aggs.append(F.sum(F.col("v") * F.col("v")).alias("vsumsq"))
    return (
        obs.select(
            key,
            bucket_start(F.col(ts), tier).alias("bucket_start"),
            F.col(value_col).cast("double").alias("v"),
        )
        .groupBy(key, "bucket_start")
        .agg(*aggs)
    )


def cascade(tier_df: DataFrame, to_tier: str, key: str = "url") -> DataFrame:
    """Re-aggregate a finer tier's partials into a coarser tier.

    Exactness: cnt/min/max are associative; vsum over integral metrics is
    exact; for floating metrics the partial-sum tree differs from a raw-data
    sum only in the last ulp (documented in SURVEY.md §7.3 hard-part 1).
    """
    return _merge_partials(
        tier_df.select(
            key,
            bucket_start(F.col("bucket_start"), to_tier).alias("bucket_start"),
            *_partial_cols(tier_df),
        ),
        key, "bucket_start",
    )


def with_mean(tier_df: DataFrame) -> DataFrame:
    """Attach the derived mean (never stored — derived from partials)."""
    return tier_df.withColumn("vmean", F.col("vsum") / F.col("cnt"))


def build_tiers(
    obs: DataFrame,
    value_col: str,
    tiers: tuple[str, ...] = ("1h", "1d", "30d"),
    key: str = "url",
    ts: str = "warc_ts",
    with_sq: bool = False,
) -> dict[str, DataFrame]:
    """Full cascade: finest tier from raw obs, each coarser tier from the
    previous tier's partials. ``tiers`` must be fine -> coarse.
    ``with_sq`` makes every tier variance-capable (vsumsq partial; it
    flows through cascade automatically)."""
    widths = [TIER_SECONDS[t] for t in tiers]
    if widths != sorted(widths):
        raise ValueError("tiers must be ordered fine -> coarse")
    out: dict[str, DataFrame] = {}
    prev: DataFrame | None = None
    for t in tiers:
        prev = (
            rollup_from_obs(obs, value_col, t, key=key, ts=ts, with_sq=with_sq)
            if prev is None
            else cascade(prev, t, key=key)
        )
        out[t] = prev
    return out


def unit_partials(
    obs: DataFrame, value_col: str, tier: str | None = None, key: str = "url",
    ts: str = "warc_ts", with_sq: bool = False,
) -> DataFrame:
    """One partial row per observation: (key[, bucket_start at ``tier``],
    cnt 0/1, vsum = vmin = vmax = the value[, vsumsq = value^2]). Merged
    by _merge_partials (or any sum/min/max regrouping) they give exactly
    what rollup_from_obs aggregates, so raw rows can join stored partials
    in ONE aggregation instead of a pre-aggregation plus a merge."""
    v = F.col(value_col).cast("double")
    cols = [F.col(key)]
    if tier is not None:
        cols.append(bucket_start(F.col(ts), tier).alias("bucket_start"))
    cols += [
        v.isNotNull().cast("long").alias("cnt"),
        v.alias("vsum"),
        v.alias("vmin"),
        v.alias("vmax"),
    ]
    if with_sq:
        cols.append((v * v).alias("vsumsq"))
    return obs.select(*cols)


def merge_tier_delta(
    stored: DataFrame | None,
    delta_obs: DataFrame,
    value_col: str,
    tier: str = "1h",
    key: str = "url",
    ts: str = "warc_ts",
    with_sq: bool = False,
) -> DataFrame:
    """Continuous-aggregate refresh: fold LATE/NEW observations into a
    stored tier WITHOUT re-reading raw history.

    Because the tier stores decomposable partials, late data folds in as
    ONE aggregation: the stored partials unioned with the delta's unit
    partials at this tier's bucket, merged by the one merge spec
    (_merge_partials) — cnt/vsum add, vmin/vmax combine. Cost is one
    shuffle of the stored tier plus the delta, never raw history — this
    is the merge step of the streaming tier fold
    (streaming/tier_maintenance.py) and the TimescaleDB-style
    continuous-aggregate refresh the north rule asks for. The reference's
    analog is update-mode re-running over grown inputs
    (utils/utils1.py:691 run_or_skip) — which recomputes the whole step;
    partial-wise merging is what makes the recast incremental.

    The union form is both the simplest correct merge and the scale-right
    one: groupBy groups NULL keys natively, so the (key, NULL) bucket of
    NULL-ts observations MERGES (a name-list join never matches NULL and
    would append a duplicate cell per fold); sum/min/max skip NULLs, so
    "vsum is NULL iff cnt == 0" holds as in a rebuild.

    Exactness: cnt/min/max exact; vsum regroups the float addition tree
    (exact for integral metrics; within 1 ulp of a full recompute
    otherwise, the same bound as cascade()). An untouched cell passes
    through bit-identical: the sum, min or max of one value is that value.

    ``stored`` None (a store's first fold) builds the tier from the delta
    alone, with the vsumsq partial when ``with_sq``; otherwise the result
    carries the stored tier's partial set.
    """
    if stored is not None:
        with_sq = "vsumsq" in stored.columns
    d = unit_partials(delta_obs, value_col, tier, key=key, ts=ts, with_sq=with_sq)
    if stored is not None:
        d = stored.select(*d.columns).unionByName(d)
    return _merge_partials(d, key, "bucket_start")


def parse_width(spec: str) -> int:
    """'6h' / '36h' / '7d' / '30d' -> width in seconds."""
    unit = spec[-1]
    n = int(spec[:-1])
    if unit == "h":
        return n * 3600
    if unit == "d":
        return n * 86400
    raise ValueError(f"unsupported width spec: {spec} (use Nh or Nd)")


def pick_tier(
    spec: str, available: tuple[str, ...] = ("1h", "1d", "30d")
) -> str:
    """Rollup planner: the COARSEST stored tier that can answer an
    aggregation at ``spec`` width — its width must divide the requested
    width (all tiers are epoch/calendar aligned in UTC, so divisibility
    implies bucket alignment). The TimescaleDB continuous-aggregate
    query-routing rule: answering '7d' from the 1d tier reads ~24x fewer
    rows than from 1h, ~10^4x fewer than raw."""
    want = parse_width(spec)
    best = None
    for t in available:
        w = TIER_SECONDS[t]
        if want % w == 0 and (best is None or w > TIER_SECONDS[best]):
            best = t
    if best is None:
        raise ValueError(f"no stored tier divides {spec}")
    return best


def rollup_to_width(
    tier_df: DataFrame, spec: str, key: str = "url", src_tier: str | None = None
) -> DataFrame:
    """Re-aggregate tier partials into arbitrary epoch-anchored buckets of
    ``spec`` width (the generalization of cascade() beyond the named
    tiers).

    Pass ``src_tier`` (the tier the frame was read from) whenever it is
    known: a source width that does not divide ``spec`` silently assigns
    each partial wholly to the target bucket containing its bucket_start
    — wrong aggregates, no error — so the divisibility invariant
    pick_tier() relies on is enforced here when the caller can name it.
    """
    width = parse_width(spec)
    if src_tier is not None and width % TIER_SECONDS[src_tier] != 0:
        raise ValueError(
            f"{src_tier} buckets ({TIER_SECONDS[src_tier]} s) do not divide "
            f"{spec} ({width} s) — partials would straddle target buckets; "
            "re-aggregate from a finer tier (pick_tier)"
        )
    b = F.col("bucket_start").cast("timestamp")
    anchored = F.timestamp_seconds(
        (b.cast("long") - F.pmod(b.cast("long"), F.lit(width)))
    )
    return _merge_partials(
        tier_df.select(key, anchored.alias("bucket_start"), *_partial_cols(tier_df)),
        key, "bucket_start",
    )


def histogram_tier(
    obs: DataFrame, value_col: str, lo: float, hi: float, nbins: int,
    tier: str = "1h", key: str = "url", ts: str = "warc_ts",
) -> DataFrame:
    """Distribution-sketch tier in LONG format: (key, bucket_start, bin,
    cnt) with fixed-width bins over [lo, hi) (underflow bin 0, overflow
    bin nbins+1). Bin counts are decomposable partials like cnt/vsum, so
    coarser tiers cascade by summation (cascade_histogram) and any tier
    answers approximate quantiles/CDF without raw data: quantile(q) =
    first bin where the cumulative count crosses q * total (error <= one
    bin width). The long format keeps the bin dimension a group-by key —
    no wide schemas, no arrays to merge."""
    width = (hi - lo) / nbins
    v = F.col(value_col).cast("double")
    b = (
        # NaN first: Spark orders NaN GREATER than any value, so without
        # this guard NaN satisfies v >= hi and lands in the overflow bin,
        # skewing every sketch quantile toward hi; NaN belongs in the
        # NULL bin with NULL values
        F.when(F.isnan(v), F.lit(None).cast("int"))
        .when(v < lo, F.lit(0))
        .when(v >= hi, F.lit(nbins + 1))
        .otherwise(F.floor((v - F.lit(lo)) / F.lit(width)) + 1)
        .cast("int")
    )
    return (
        obs.select(
            key,
            bucket_start(F.col(ts), tier).alias("bucket_start"),
            b.alias("bin"),
        )
        .groupBy(key, "bucket_start", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cascade_histogram(
    hist_df: DataFrame, to_tier: str, key: str = "url"
) -> DataFrame:
    """Re-aggregate histogram-tier partials into a coarser tier."""
    return (
        hist_df.select(
            key,
            bucket_start(F.col("bucket_start"), to_tier).alias("bucket_start"),
            "bin",
            "cnt",
        )
        .groupBy(key, "bucket_start", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )


def plan_range_cover(
    t0: str, t1: str, tiers: tuple[str, ...] = ("1h", "1d", "30d")
) -> list[tuple[str, str, str]]:
    """Decompose [t0, t1) into the minimal tier-aligned cover: greedy from
    the COARSEST tier, each finer tier (finally raw) covering only the
    fringe the coarser one could not. Returns [(tier_or_'raw', lo, hi)]
    with ISO-second boundaries. Pure driver-side planning on two
    timestamps — no data touched. This is the TimescaleDB real-time
    continuous-aggregate read path: an arbitrary range is answered almost
    entirely from stored partials, raw rows only inside the sub-hour
    fringe (at 10^12 docs: tier rows ~10^-4 of raw for the interior)."""
    from mintpy_spark.functions.timefn import (
        epoch_sec_to_iso,
        iso_to_epoch_sec,
    )

    to_sec = iso_to_epoch_sec

    to_str = epoch_sec_to_iso

    pieces: list[tuple[str, int, int]] = []
    segments = [(to_sec(t0), to_sec(t1))]
    # 1h/1d use date_trunc under session tz UTC == epoch-anchored; 30d is
    # epoch-anchored by construction (timefn.bucket_start), so integer
    # ceil/floor on epoch seconds reproduces bucket alignment exactly.
    for tier in sorted(tiers, key=lambda t: -TIER_SECONDS[t]):
        w = TIER_SECONDS[tier]
        nxt: list[tuple[int, int]] = []
        for a, b in segments:
            lo = a if a % w == 0 else a - a % w + w
            hi = b - b % w
            if lo < hi:
                pieces.append((tier, lo, hi))
                if a < lo:
                    nxt.append((a, lo))
                if hi < b:
                    nxt.append((hi, b))
            else:
                nxt.append((a, b))
        segments = nxt
    for a, b in segments:
        if a < b:
            pieces.append(("raw", a, b))
    return [(t, to_str(a), to_str(b)) for t, a, b in pieces]


def route_range_agg(
    obs: DataFrame,
    tiers: dict[str, DataFrame],
    t0: str,
    t1: str,
    value_col: str,
    key: str = "url",
    ts: str = "warc_ts",
) -> DataFrame:
    """Answer ``SELECT key, cnt/sum/min/max WHERE ts in [t0, t1)`` by
    stitching stored tier partials for the tier-aligned interior with raw
    observations on the fringes (plan_range_cover), then one partial
    merge. Each tier is scanned once, filtered on bucket_start by the OR
    of its cover pieces; the raw rows likewise on ``ts``, so the
    predicate pushes into the scan. Reference analog: temporal subsetting +
    temporal_average (stack.py:451-456) — but answered from the
    continuous-aggregate tiers instead of the raw stack."""
    cover = plan_range_cover(t0, t1, tuple(tiers))
    if not cover:
        raise ValueError(
            f"empty time range: [{t0}, {t1}) covers no interval — "
            "'from' must be strictly before 'to'"
        )
    spans: dict[str, list[tuple[str, str]]] = {}
    for tier, lo, hi in cover:
        spans.setdefault(tier, []).append((lo, hi))

    def within(col: str, pieces: list[tuple[str, str]]):
        cond = None
        for lo, hi in pieces:
            c = (F.col(col) >= F.lit(lo).cast("timestamp")) & (
                F.col(col) < F.lit(hi).cast("timestamp"))
            cond = c if cond is None else cond | c
        return cond

    # raw fringe rows become UNIT partials and merge in the single final
    # aggregation below — one Exchange for the whole routed read instead
    # of a pre-agg shuffle per raw piece plus the merge shuffle (partial
    # map-side aggregation still combines them before the wire)
    parts = [
        unit_partials(obs.where(within(ts, pieces)), value_col, key=key)
        if tier == "raw"
        else tiers[tier].where(within("bucket_start", pieces)).select(
            key, *PARTIAL_COLS
        )
        for tier, pieces in spans.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _merge_partials(out, key)


def rollup_openclose(
    obs: DataFrame, value_col: str, tier: str = "1d", key: str = "url",
    ts: str = "warc_ts",
) -> DataFrame:
    """First/last-value tier (the OHLC open/close + counter-delta
    partial): per (key, bucket) the value at the earliest and latest
    timestamp, kept WITH their timestamps so the partial stays mergeable.

    Determinism: open/close are min/max over struct(ts, value) —
    lexicographic struct comparison breaks timestamp ties by value
    identically in every engine and under any partitioning (argmin-by-ts
    alone is tie-ambiguous). One map-side-combining hash aggregation.
    ``delta = close - open`` is the Prometheus/TimescaleDB counter
    "increase" per bucket (no reset handling — web crawl metrics are
    gauges)."""
    v = F.col(value_col).cast("double")
    o = F.min(F.struct(F.col(ts).alias("t"), v.alias("v"))).alias("_o")
    c = F.max(F.struct(F.col(ts).alias("t"), v.alias("v"))).alias("_c")
    return (
        obs.where(v.isNotNull())
        .select(key, bucket_start(F.col(ts), tier).alias("bucket_start"),
                F.col(ts).alias(ts), v.alias(value_col))
        .groupBy(key, "bucket_start")
        .agg(o, c, F.count(value_col).alias("cnt"))
        .select(
            key, "bucket_start",
            F.col("_o.t").alias("open_t"), F.col("_o.v").alias("open_v"),
            F.col("_c.t").alias("close_t"), F.col("_c.v").alias("close_v"),
            "cnt",
        )
    )


def rollup_hilo(
    obs: DataFrame, value_col: str, tier: str = "1d", key: str = "url",
    ts: str = "warc_ts",
) -> DataFrame:
    """Extremum-with-timestamp tier (the "time of daily high/low" panel
    every monitoring UI draws next to open/close): per (key, bucket) the
    max and min value AND the timestamp each was first reached.

    Determinism: hi is max over struct(v, -micros, t) — lexicographic
    struct comparison picks the largest value and, among ties, the
    EARLIEST timestamp (negated microseconds invert the time order inside
    the struct max; the raw timestamp rides along as the third field).
    lo symmetrically via struct-min with +micros. First-reached ties are
    therefore engine- and partitioning-independent, unlike a bare
    argmax-by-value. ONE map-side-combining hash aggregation, and the
    partial merges associatively into coarser tiers (same property as
    rollup_openclose)."""
    v = F.col(value_col).cast("double")
    mic = F.unix_micros(F.col(ts).cast("timestamp"))
    hi = F.max(
        F.struct(v.alias("v"), (-mic).alias("_nm"), F.col(ts).alias("t"))
    ).alias("_hi")
    lo = F.min(
        F.struct(v.alias("v"), mic.alias("_m"), F.col(ts).alias("t"))
    ).alias("_lo")
    return (
        obs.where(v.isNotNull())
        .select(key, bucket_start(F.col(ts), tier).alias("bucket_start"),
                F.col(ts).alias(ts), v.alias(value_col))
        .groupBy(key, "bucket_start")
        .agg(hi, lo, F.count(value_col).alias("cnt"))
        .select(
            key, "bucket_start",
            F.col("_hi.v").alias("hi_v"), F.col("_hi.t").alias("hi_t"),
            F.col("_lo.v").alias("lo_v"), F.col("_lo.t").alias("lo_t"),
            "cnt",
        )
    )
