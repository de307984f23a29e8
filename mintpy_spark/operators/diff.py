"""Series algebra: pairwise deltas, temporal derivative, closures, stitching.

Recasts the reference's schema-aligned dataset combinations (SURVEY.md
§2.3; reference: src/mintpy/diff.py, objects/stack.py:459-478) as
equi-joins / windows on (key, ts). The registry computes the plain
``a - b`` and the NaN-union ``a + b`` inline (queries_ops
``diff_series_vs_rollup``, ``add_series_nan_union``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mintpy_spark.functions.timefn import bucket_start


def pair_deltas(
    obs: DataFrame,
    value_col: str,
    max_lag: int = 1,
    key: str = "url",
    ts: str = "warc_ts",
) -> DataFrame:
    """Pairwise snapshot deltas — the interferogram-stack analog.

    For each key, emit (key, ts1, ts2, delta, tbase_days) for consecutive
    snapshot pairs up to connection level ``max_lag`` (the reference's
    sequential-network of connection level n, stack.py:1113-1143). Built
    with lead() windows: no self-join, one shuffle on key.
    """
    # ONE window pass computes every lead, then stack() unpivots to long
    # format — a union of per-lag subplans would scan and shuffle the fact
    # table once per connection level; this does it once total.
    w = Window.partitionBy(key).orderBy(ts)
    leads = obs.select(
        key,
        F.col(ts).alias("ts1"),
        *[F.lead(ts, lag).over(w).alias(f"_t{lag}") for lag in range(1, max_lag + 1)],
        *[
            (F.lead(value_col, lag).over(w) - F.col(value_col)).alias(f"_d{lag}")
            for lag in range(1, max_lag + 1)
        ],
    )
    stack_expr = f"stack({max_lag}, " + ", ".join(
        f"_t{lag}, _d{lag}" for lag in range(1, max_lag + 1)
    ) + ") as (ts2, delta)"
    out = leads.select(key, "ts1", F.expr(stack_expr)).where(
        F.col("ts2").isNotNull()
    )
    return out.withColumn(
        "tbase_days",
        (
            F.col("ts2").cast("timestamp").cast("double")
            - F.col("ts1").cast("timestamp").cast("double")
        )
        / 86400.0,
    )


def reconstruct_pair_from_series(
    series: DataFrame,
    pairs: DataFrame,
    value_col: str = "value",
    key: str = "url",
) -> DataFrame:
    """diff_ifgram_and_timeseries (diff.py:299): evaluate ts[d2]-ts[d1] for
    each pair via a double equi-join, subtract from the observed delta."""
    s1 = series.select(key, F.col("bucket_start").alias("ts1"), F.col(value_col).alias("_v1"))
    s2 = series.select(key, F.col("bucket_start").alias("ts2"), F.col(value_col).alias("_v2"))
    return (
        pairs.join(s1, [key, "ts1"])
        .join(s2, [key, "ts2"])
        .select(
            key,
            "ts1",
            "ts2",
            (F.col("delta") - (F.col("_v2") - F.col("_v1"))).alias("delta_residual"),
        )
    )


def temporal_derivative(
    obs: DataFrame, value_col: str, key: str = "url", ts: str = "warc_ts"
) -> DataFrame:
    """Lag-1 difference along time (stack.py:459-478 timeseries.diff);
    first epoch has no derivative (reference drops it)."""
    w = Window.partitionBy(key).orderBy(ts)
    return (
        obs.select(
            key,
            F.col(ts).alias(ts),
            (F.col(value_col) - F.lag(value_col).over(w)).alias("deriv"),
        )
        .where(F.col("deriv").isNotNull())
    )


def closure_triplet(
    obs: DataFrame, value_col: str, key: str = "url", ts: str = "warc_ts"
) -> DataFrame:
    """Sequential-triplet closure over consecutive snapshots.

    Reference analog: closure phase over sequential interferogram loops
    (stack.py:1113-1230): for dates (t1,t2,t3), misclosure of the three
    pairwise differences. For linear values d12+d23-d13 vanishes
    identically, so the engine reports the triangle slack
    |d12| + |d23| - |d13| >= 0 — a burstiness/monotonicity indicator (0
    iff the series moved monotonically across the triplet). One window
    scan, no join (the reference builds an explicit triplet design
    matrix; lead() over the per-key sort is the Spark-native form).
    """
    w = Window.partitionBy(key).orderBy(ts)
    v = F.col(value_col)
    v2, v3 = F.lead(value_col, 1).over(w), F.lead(value_col, 2).over(w)
    t2, t3 = F.lead(ts, 1).over(w), F.lead(ts, 2).over(w)
    return (
        obs.select(
            key,
            F.col(ts).alias("ts1"),
            t2.alias("ts2"),
            t3.alias("ts3"),
            (F.abs(v2 - v) + F.abs(v3 - v2) - F.abs(v3 - v)).alias("closure"),
        )
        .where(F.col("ts3").isNotNull())
    )


def stitch_series(
    a: DataFrame,
    b: DataFrame,
    key: str = "url",
    ts: str = "warc_ts",
    value_col: str = "value",
) -> DataFrame:
    """Union two overlapping tiles after overlap-offset harmonization.

    Reference analog: image_stitch.py:100 ``stitch_two_matrices`` — the
    mean difference over the overlap is added to the second tile, then the
    tiles merge (first tile wins on overlap). The offset is a 1-row
    aggregate broadcast into the adjustment (no second shuffle of b); the
    merge is unionByName + left-anti on the overlap keys.
    """
    av, bv = F.col(f"_a_{value_col}"), F.col(f"_b_{value_col}")
    aa = a.select(key, ts, F.col(value_col).alias(f"_a_{value_col}"))
    bb = b.select(key, ts, F.col(value_col).alias(f"_b_{value_col}"))
    offset = (
        aa.join(bb, [key, ts])
        .agg(F.coalesce(F.avg(av - bv), F.lit(0.0)).alias("_offset"))
    )
    b_adj = (
        b.crossJoin(F.broadcast(offset))
        .withColumn(value_col, F.col(value_col) + F.col("_offset"))
        .drop("_offset")
        .join(a.select(key, ts), [key, ts], "left_anti")
    )
    return a.unionByName(b_adj)


def seq_closure_ml(
    obs: DataFrame, value_col: str, conn: int = 2,
    key: str = "url", ts: str = "warc_ts", looks: int = 10,
) -> DataFrame:
    """Connection-level-``conn`` sequential closure of MULTILOOKED
    wrapped pair phases.

    Reference analog: closure_phase_bias.py:381-500
    compute_unwrap_closure_phase + objects/stack.py:1235-1287
    get_sequential_closure_phase. Crucial semantics: for per-epoch values
    the closure of raw wrapped diffs is identically 0 (mod 2*pi) — each
    wrapped diff is the true diff plus a 2*pi multiple, and the loop sum
    of true diffs telescopes to zero. The reference's closures are
    nonzero because the pair phases are MULTILOOKED first (averaged over
    a spatial look window), and averaging does not commute with
    wrapping. This operator reproduces that structure:

        1. epoch grid:  v(key, d)   = avg(value) per key per day
        2. pair phase:  phi_l(key, d) = wrap(v(key, d+l) - v(key, d))
        3. multilook:   ml_l(grp, d)  = avg over the look group's keys
           (grp = floor(key / looks) — the engine's pixel-window analog;
           at production scale a domain/hash bucket)
        4. closure:     cp(grp, d) = wrap(sum_{k=0..conn-1} ml_1(d+k)
                                          - ml_conn(d))

    Plan shape (one raw scan, three shuffles total — NOT one join per
    lag/shift, which re-evaluated the epoch-grid subtree per arm and
    would re-read the raw table 2*conn+2 times at scale):

        scan -> groupBy(key, d) epoch grid          [shuffle 1]
        -> ONE self-join on key with datediff(b.d, a.d) IN (1, conn)
           (both pair lags from a single pass; the equi part is key, so
           the two sides share one canonical exchange)   [shuffle 2]
        -> ONE conditional aggregation per (grp, d): ml1 = avg(phi | lag
           1), mlc = avg(phi | lag conn)                 [shuffle 3]
        -> the sequential sum over ml1(d..d+conn-1) is a RANGE-frame
           window on the day number (day gaps guarded by count == conn),
           not conn-1 shift joins.

    Returns (grp, d, cp)."""
    from pyspark.sql import types as T

    from mintpy_spark.functions.scalars import wrap

    if not isinstance(obs.schema[key].dataType, T.NumericType):
        # floor(string/int) casts to NULL and silently collapses every
        # key into one giant NULL look group — refuse instead; hash
        # string keys into a numeric bucket first if look groups by
        # domain are wanted
        raise TypeError(
            f"seq_closure_ml needs a NUMERIC key for look grouping; "
            f"{key!r} is {obs.schema[key].dataType.simpleString()}"
        )
    grp = F.floor(F.col(key) / F.lit(looks))
    e = (
        obs.select(key, grp.alias("grp"), bucket_start(F.col(ts), "1d").alias("d"),
                   F.col(value_col).alias("_v"))
        .groupBy(key, "grp", "d")
        .agg(F.avg("_v").alias("v"))
    )
    b = e.select(
        F.col(key).alias("_k"), F.col("d").alias("_d"), F.col("v").alias("_vb")
    )
    lag = F.datediff(F.col("_d"), F.col("d"))
    phi = wrap(F.col("_vb") - F.col("v"))
    ml = (
        e.join(b, (F.col(key) == F.col("_k")) & lag.isin(1, conn))
        .select("grp", "d", lag.alias("lag"), phi.alias("phi"))
        .groupBy("grp", "d")
        .agg(
            F.avg(F.when(F.col("lag") == 1, F.col("phi"))).alias("ml1"),
            F.avg(F.when(F.col("lag") == conn, F.col("phi"))).alias("mlc"),
        )
    )
    daynum = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    wr = (
        Window.partitionBy("grp")
        .orderBy("daynum")
        .rangeBetween(0, conn - 1)
    )
    staged = ml.withColumn("daynum", daynum)
    seq_sum = F.sum("ml1").over(wr)
    n_seq = F.count("ml1").over(wr)
    cp = F.when(
        (n_seq == conn) & F.col("mlc").isNotNull(), wrap(seq_sum - F.col("mlc"))
    )
    return (
        staged.select("grp", "d", cp.alias("cp"))
        .where(F.col("cp").isNotNull())
    )


def closure_bias_ts(
    obs: DataFrame, value_col: str, conn: int = 2,
    key: str = "url", ts: str = "warc_ts", looks: int = 10,
) -> DataFrame:
    """Cumulative sequential-closure bias time series — Zheng et al.
    (2022, TGRS) eq. (25)+(28) as the reference implements them
    (closure_phase_bias.py:206-218 cum_seq_unw_closure_phase_timeseries)
    over the multilooked closures of seq_closure_ml:

        bias[0..ncp-1] = exclusive cumsum(cp)          (eq. 25 head)
        bias[ncp + m]  = tot + m * cp_last, m < conn   (eq. 25 tail:
                         the last conn epochs span no full loop and are
                         extrapolated with the final closure)
        bias /= conn                                   (eq. 28)

    The head is one window cumsum on the (grp, d) clustering; the tail
    is a per-group aggregate exploded into conn rows (epoch days
    continue the day grid past the last closure). Returns (grp, d,
    bias) — one row per epoch, ncp + conn per group.

    The closure table is localCheckpoint'ed (lazily) so the head and
    tail branches of the union share one evaluation of the whole
    scan->join->multilook pipeline instead of re-reading the raw table
    per branch."""
    cp = seq_closure_ml(obs, value_col, conn, key, ts, looks).localCheckpoint(
        eager=False
    )
    wo = Window.partitionBy("grp").orderBy("d")
    main = cp.select(
        "grp",
        "d",
        (
            F.coalesce(
                F.sum("cp").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0.0),
            )
            / F.lit(float(conn))
        ).alias("bias"),
    )
    agg = cp.groupBy("grp").agg(
        F.sum("cp").alias("tot"),
        F.max("d").alias("dmax"),
        F.max_by("cp", "d").alias("cp_last"),
    )
    tail = (
        agg.select(
            "grp", "tot", "dmax", "cp_last",
            F.explode(F.sequence(F.lit(0), F.lit(conn - 1))).alias("m"),
        )
        .select(
            "grp",
            F.expr("dmax + (m + 1) * INTERVAL 1 DAY").alias("d"),
            ((F.col("tot") + F.col("m") * F.col("cp_last")) / F.lit(float(conn))
             ).alias("bias"),
        )
    )
    return main.unionByName(tail)
