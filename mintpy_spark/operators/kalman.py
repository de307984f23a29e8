"""Kalman local-level filtering (online exponential-family smoother).

Reference analog: the temporal-filter family (`tsview`/`temporal_filter`
moving averages, src/mintpy/utils/time_func.py smoothing uses) — the
Kalman local-level model is the online counterpart: a random-walk level
observed under noise, filtered causally in one forward pass. Unlike the
window filters in operators/filters.py it needs no look-ahead and its
gain adapts during warm-up, which is what a streaming tier-maintenance
loop wants for live smoothing.

Model (constant hyperparameters q = process variance, r = observation
variance), initialized at the first observation with prior variance r:

    pp = p + q
    k  = pp / (pp + r)
    m  = m + k * (y - m)
    p  = (1 - k) * pp

The recursion is evaluated with scalar IEEE doubles in EXACTLY this
operation order — the DuckDB oracle (a recursive CTE) writes the same
expressions term-for-term, so filtered levels match bit-for-bit and the
driver's floor-quantized hash is stable.

Scale: one shuffle (repartition by key + partition-local sort), then
mapInPandas over key-clustered partitions — one Arrow frame per chunk,
NOT one per key: grouped applyInPandas pays pandas frame construction
per key, which dominated wall time 6.8x at sf0.1 (5.0 s -> 0.73 s) and
dominates harder at production shape (10^9 keys x ~10^2 rows). The
per-key pass is O(n) with O(1) state. The filter shares both the
recursion (``LocalLevel``) and its runner (``operators.seqstate.
fold_groups``) with the streaming fold, which carries that state in a
versioned table (streaming/seqfold.py): ``kalman_level`` is the fold
with no state.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mintpy_spark.operators.seqstate import fold_groups, fold_outputs, map_sorted_groups


class LocalLevel:
    """The local-level recursion, defined once for the batch filter
    (``kalman_level``) and the streaming fold (``streaming.seqfold``,
    whose recursion protocol ``name``/``state``/``out``/``fold`` this
    implements); both run it through ``operators.seqstate.fold_groups``,
    so stream == batch holds by construction.

    A key's state after ``rn`` observations is (rn, m, p). For a fresh
    key the variance p and the gain depend only on the position, not on
    the data, so they are computed once per position and shared by every
    key of a batch; a carried key continues from its own p, so its cost
    is proportional to its new values, not to its history. Both forms
    run the same operations in the same order as the model above: values
    are identical.
    """

    name, emits, drop_nulls = "kalman", "levels", True
    state = ("last_ts_us long", "rn long", "m double", "p double")
    out = ("rn long", "ts timestamp", "level double")

    def __init__(self, q: float, r: float) -> None:
        self.q, self.r = float(q), float(r)
        self._p = [self.r]  # _p[n - 1]: variance after n observations
        self._k: list[float] = []  # _k[n - 2]: gain applied at position n

    def _extend(self, n: int) -> None:
        ps, ks = self._p, self._k
        while len(ps) < n:
            pp = ps[-1] + self.q
            k = pp / (pp + self.r)
            ks.append(k)
            ps.append((1.0 - k) * pp)

    def fold(self, ts_us, ys: list[float], state: tuple | None):
        """One key's next values: ((rn, ts, level) columns, new state)."""
        _last, rn, m, p = state or (None, 0, 0.0, 0.0)
        levels, m, p = self.levels(ys, rn, m, p)
        n = rn + len(ys)
        return (range(rn + 1, n + 1), ts_us, levels), (ts_us[-1], n, m, p)

    def levels(
        self, ys: list[float], rn: int = 0, m: float = 0.0, p: float = 0.0
    ) -> tuple[list[float], float, float]:
        """Fold one key's next values ``ys`` (in order) into the state
        (rn, m, p). Returns (the level after each value, m, p)."""
        levels: list[float] = []
        if rn:
            q, r = self.q, self.r
            for y in ys:
                pp = p + q
                k = pp / (pp + r)
                m = m + k * (y - m)
                p = (1.0 - k) * pp
                levels.append(m)
            return levels, m, p
        n = len(ys)
        if not n:
            return levels, m, p
        self._extend(n)
        m = ys[0]
        levels.append(m)
        for y, k in zip(ys[1:], self._k):
            m = m + k * (y - m)
            levels.append(m)
        return levels, m, self._p[n - 1]


def kalman_level(
    df: DataFrame,
    value_col: str = "value",
    key: str = "user_id",
    ts: str = "ts",
    q: float = 0.04,
    r: float = 1.0,
) -> DataFrame:
    """Per-key causal Kalman local-level filter. Returns one row per
    observation: (key, rn, level) where rn is the 1-based position in
    (ts, value) order — the value tie-break keeps duplicate timestamps
    deterministic (ADVICE r3 ordering convention) — and level the
    filtered mean after seeing observation rn. NULL observations are
    dropped before ranking (they carry no update), and a row with a NULL
    ts is skipped, as the streaming fold skips it. Runs ``LocalLevel``
    through the streaming fold's own runner
    (``operators.seqstate.fold_groups``) with no state."""
    rec = LocalLevel(q, r)
    folded = fold_groups(df, rec, key, ts, value_col)
    return fold_outputs(folded, rec, key, ts, df.schema[ts].dataType).select(
        key, "rn", "level"
    )


def kalman_em_stats(
    df: DataFrame,
    value_col: str = "value",
    key: str = "user_id",
    ts: str = "ts",
    q0: float = 0.04,
    r0: float = 1.0,
) -> DataFrame:
    """One EM iteration for the local-level model per key: forward Kalman
    filter at fixed (q0, r0), RTS smoother, then the Shumway–Stoffer
    M-step sufficient statistics. This is the data-driven noise-
    estimation step the reference performs as timeseries_rms /
    decorrelation weighting (src/mintpy/timeseries_rms.py,
    objects/stack.py noise models): fit the noise level FROM the series
    instead of assuming it.

    Returns one row per key (keys with >= 2 observations):
      n         observations
      sum_r_e6  SUM over t=1..T of floor(((y_t-ms_t)^2 + Vs_t) * 1e6)
      sum_q_e6  SUM over t=2..T of floor(((ms_t-ms_{t-1})^2 + Vs_t
                  + Vs_{t-1} - 2*J_{t-1}*Vs_t) * 1e6)
      r1_e4     floor(sum_r_e6 / (n * 1e6) * 1e4)   — the EM r-update
      q1_e4     floor(sum_q_e6 / ((n-1) * 1e6) * 1e4) — the EM q-update

    Exactness discipline: per-row terms are evaluated with scalar IEEE
    doubles in EXACTLY the operation order the DuckDB oracle writes
    (forward + backward recursive CTEs), floor-quantized to int64 PER
    ROW, then summed as integers — integer sums are associative, so the
    aggregate is order-free and bit-exact across engines regardless of
    partitioning.

    Scale: one shuffle into the seqstate seam; the smoother's variance
    sequences (p_t, J_t, Vs_t) are data-independent given the series
    length, so they are computed once per distinct length per executor
    and shared across the 10^9 keys — only the O(n) mean recursions
    touch data.
    """
    qq, rr = float(q0), float(r0)
    src = df.where(F.col(value_col).isNotNull()).select(
        F.col(key).alias("k"),
        F.col(ts).alias("t"),
        F.col(value_col).cast("double").alias("y"),
    )
    ktype = dict(src.dtypes)["k"]
    schema = (
        f"k {ktype}, n long, sum_r_e6 long, sum_q_e6 long, "
        "r1_e4 long, q1_e4 long"
    )

    # the forward filter and its variances p_t are LocalLevel's; the
    # smoother's (J_t, Vs_t) depend only on the series length — cache per n
    rec = LocalLevel(qq, rr)
    var_cache: dict[int, tuple[list[float], list[float]]] = {}

    def variances(n: int) -> tuple[list[float], list[float]]:
        got = var_cache.get(n)
        if got is None:
            rec._extend(n)
            p = rec._p
            j = [p[t] / (p[t] + qq) for t in range(n - 1)]
            vs = [0.0] * n
            vs[n - 1] = p[n - 1]
            for t in range(n - 2, -1, -1):
                vs[t] = p[t] + j[t] * j[t] * (vs[t + 1] - (p[t] + qq))
            got = (j, vs)
            var_cache[n] = got
        return got

    def run_sorted(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        rows: list[tuple] = []
        for kval, g in pdf.groupby("k", sort=False):
            ys = g["y"].tolist()
            n = len(ys)
            if n < 2:
                continue
            j, vs = variances(n)
            m = rec.levels(ys)[0]  # forward means
            # backward smoothed means
            ms = [0.0] * n
            ms[n - 1] = m[n - 1]
            for t in range(n - 2, -1, -1):
                ms[t] = m[t] + j[t] * (ms[t + 1] - m[t])
            sr = 0
            for t in range(n):
                e = ys[t] - ms[t]
                sr += math.floor((e * e + vs[t]) * 1000000.0)
            sq = 0
            for t in range(1, n):
                dm = ms[t] - ms[t - 1]
                sq += math.floor(
                    (dm * dm + vs[t] + vs[t - 1] - 2.0 * (j[t - 1] * vs[t]))
                    * 1000000.0
                )
            r1 = math.floor(float(sr) / (float(n) * 1000000.0) * 10000.0)
            q1 = math.floor(
                float(sq) / (float(n - 1) * 1000000.0) * 10000.0
            )
            rows.append((kval, n, sr, sq, r1, q1))
        return pd.DataFrame(
            rows, columns=["k", "n", "sum_r_e6", "sum_q_e6", "r1_e4", "q1_e4"]
        )

    out = map_sorted_groups(src, "k", ("t", "y"), run_sorted, schema)
    return out.select(
        F.col("k").alias(key), "n", "sum_r_e6", "sum_q_e6", "r1_e4", "q1_e4"
    )


def _diff_moments(base: DataFrame) -> DataFrame:
    """base(k, t, y) -> per-key floor-quantized moment sums
    (k, n_d, s0, s1, n1) over the differenced series, keys with >= 2
    diffs. The single home of the exactness discipline both
    kalman_qr_moments and kalman_level_adaptive (and their oracles)
    depend on: d products floor-quantized to 1e-6 PER ROW, summed as
    int64 — order-free across engines and partitionings."""
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("t", "y")
    diffs = base.withColumn("d", F.col("y") - F.lag("y").over(w)).withColumn(
        "dn", F.lead("d").over(w)
    )
    e6 = F.lit(1000000.0)
    return (
        diffs.where(F.col("d").isNotNull())
        .groupBy("k")
        .agg(
            F.count("d").alias("n_d"),
            F.sum(F.floor(F.col("d") * F.col("d") * e6)).alias("s0"),
            F.sum(
                F.when(
                    F.col("dn").isNotNull(),
                    F.floor(F.col("d") * F.col("dn") * e6),
                )
            ).alias("s1"),
            F.sum(F.when(F.col("dn").isNotNull(), F.lit(1))).alias("n1"),
        )
        .where(F.col("n_d") >= 2)
    )


def _c0_c1() -> tuple[F.Column, F.Column]:
    """The fixed double expressions deriving the raw moments from the
    integer sums — identical term-for-term to the oracles' cm CTE."""
    e6 = F.lit(1000000.0)
    c0 = F.col("s0").cast("double") / (F.col("n_d").cast("double") * e6)
    c1 = F.col("s1").cast("double") / (F.col("n1").cast("double") * e6)
    return c0, c1


def kalman_qr_moments(
    df: DataFrame,
    value_col: str = "value",
    key: str = "user_id",
    ts: str = "ts",
) -> DataFrame:
    """Closed-form method-of-moments (q, r) estimator for the local-level
    model from the differenced series: with d_t = y_t - y_{t-1},
    Var(d) = q + 2r and Cov(d_t, d_{t+1}) = -r, so

        r_hat = -c1        q_hat = c0 + 2*c1

    where c0 = E[d^2] and c1 = E[d_t * d_{t+1}] (population means).

    Exactness discipline: d_t is one subtraction per row (bit-exact in
    any engine given the same ordering); the products d*d and d*d_next
    are floor-quantized to 1e-6 PER ROW and summed as int64 — the
    moments are then derived from the integer sums with a fixed double
    expression, so results are independent of partitioning and summation
    order. Keys need >= 3 observations (>= 2 diffs, >= 1 lag-1 pair).

    Returns (key, n_d, c0_e4, c1_e4, q_hat_e4, r_hat_e4).

    Scale: one shuffle (window partitioned by key) + one hash agg — no
    Python, whole-stage codegen end to end.
    """
    base = df.where(F.col(value_col).isNotNull()).select(
        F.col(key).alias("k"),
        F.col(ts).alias("t"),
        F.col(value_col).cast("double").alias("y"),
    )
    agg = _diff_moments(base)
    c0, c1 = _c0_c1()
    e4 = F.lit(10000.0)
    return agg.select(
        F.col("k").alias(key),
        "n_d",
        F.floor(c0 * e4).alias("c0_e4"),
        F.floor(c1 * e4).alias("c1_e4"),
        F.floor((c0 + 2.0 * c1) * e4).alias("q_hat_e4"),
        F.floor(-c1 * e4).alias("r_hat_e4"),
    )


def kalman_level_adaptive(
    df: DataFrame,
    value_col: str = "value",
    key: str = "user_id",
    ts: str = "ts",
    floor_var: float = 1e-6,
) -> DataFrame:
    """Per-key Kalman local-level filter whose (q, r) are ESTIMATED from
    the key's own series via the moments estimator (kalman_qr_moments),
    clamped below at ``floor_var`` — the composition the reference's
    pipeline performs when timeseries_rms-derived noise feeds the
    inversion weights. Keys with < 3 observations are dropped (no
    estimate).

    The per-key (q_use, r_use) doubles are derived from integer moment
    sums with a fixed expression (bit-exact both engines); the filter
    recursion then runs at those parameters, initialized m = y_1,
    p = r_use.

    Scale: window + agg for the moments (codegen), a key-partitioned
    join to attach parameters (AQE broadcasts the param side when small;
    both sides share hash(key) partitioning at 10^9 keys so the join is
    co-located with the seqstate shuffle), then the one-pass seam.
    """
    base = df.where(F.col(value_col).isNotNull()).select(
        F.col(key).alias("k"),
        F.col(ts).alias("t"),
        F.col(value_col).cast("double").alias("y"),
    )
    params = _diff_moments(base)
    c0, c1 = _c0_c1()
    fv = F.lit(float(floor_var))
    params = params.select(
        "k",
        F.when(c0 + 2.0 * c1 > fv, c0 + 2.0 * c1).otherwise(fv).alias("qk"),
        F.when(-c1 > fv, -c1).otherwise(fv).alias("rk"),
    )
    src = base.join(params, "k")
    ktype = dict(base.dtypes)["k"]
    schema = f"k {ktype}, rn long, level double"

    def run_sorted(pdf: pd.DataFrame) -> pd.DataFrame:
        out_k: list = []
        out_rn: list[int] = []
        out_lv: list[float] = []
        for kval, g in pdf.groupby("k", sort=False):
            ys = g["y"].tolist()
            levels = LocalLevel(g["qk"].iloc[0], g["rk"].iloc[0]).levels(ys)[0]
            out_k.extend([kval] * len(ys))
            out_rn.extend(range(1, len(ys) + 1))
            out_lv.extend(levels)
        return pd.DataFrame({"k": out_k, "rn": out_rn, "level": out_lv})

    return map_sorted_groups(src, "k", ("t", "y"), run_sorted, schema).select(
        F.col("k").alias(key), "rn", "level"
    )
