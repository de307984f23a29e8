"""Crawl-scheduling operators: politeness-delayed fetch scheduling and
page-change-rate estimation.

The web recast's operational layer around the crawl-budget allocator
(operators/budget.py) and the frontier ranking
(queries_r3ff.crawl_frontier_topk): WHEN each queued fetch actually runs
under a per-host minimum delay, and HOW OFTEN a page should be revisited
given its observed change history. Both are closed-form column plans —
no iteration, no UDFs. The third, token-bucket admission, is what a live
fetcher consults per request: an exact-integer sequential recursion
(``TokenBucket``) run through the one fold runner
(``operators.seqstate.fold_groups``) by ``token_bucket`` and by the
streaming fold (streaming/seqfold.py).

Reference analog: MintPy sequences its per-pixel work through explicit
box scheduling (`split2boxes`, ifgram_inversion.py:795-860) and derives
per-pixel update cadence from the data itself; here the scheduled unit is
a fetch and the cadence signal is the page's own change process.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

US_PER_HOUR = 3_600_000_000


def politeness_schedule(
    requests: DataFrame,
    host: str = "url",
    ts: str = "warc_ts",
    min_delay_s: int = 2,
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(host, ts, sched_ts, wait_us, fetch_seq): FIFO fetch schedule per
    host under a minimum inter-fetch delay — the politeness constraint
    every crawler honors per origin.

    The recurrence  s_i = max(r_i, s_{i-1} + D)  (r = ready time, D =
    delay) looks inherently sequential, but with constant D it has the
    closed form

        s_i = D*i + max_{j<=i} (r_j - D*j)

    (proof by induction: max(r_i, s_{i-1}+D) = D*i + max(r_i - D*i,
    max_{j<i}(r_j - D*j))). So the whole schedule is ONE running-max
    window over (r_j - D*j) — a single hash shuffle on host, exact
    int64 microsecond arithmetic, no recursion and no Python.

    Scale shape: per-host window state is O(1) (running max); hot hosts
    are long partitions streamed by the window operator, not exploded.
    Determinism: FIFO order is (ts, *order_cols) — pass a unique id in
    ``order_cols`` when ready-timestamps can tie."""
    d_us = int(min_delay_s) * 1_000_000
    w = Window.partitionBy(host).orderBy(ts, *order_cols)
    r_us = F.unix_micros(F.col(ts).cast("timestamp"))
    rn = F.row_number().over(w).cast("long")
    base = requests.select(
        host, F.col(ts).alias(ts), *order_cols
    ).withColumn("_rn", rn).withColumn(
        "_m", r_us - F.lit(d_us) * F.col("_rn")
    )
    wmax = (
        Window.partitionBy(host)
        .orderBy(ts, *order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sched_us = F.lit(d_us) * F.col("_rn") + F.max("_m").over(wmax)
    return base.select(
        host,
        ts,
        *order_cols,
        F.col("_rn").alias("fetch_seq"),
        F.timestamp_micros(sched_us).alias("sched_ts"),
        (sched_us - r_us).alias("wait_us"),
    )


def politeness_oracle_sql(
    table: str, host: str, ts: str, min_delay_s: int = 2,
    order_cols: tuple[str, ...] = (),
) -> str:
    """DuckDB twin of politeness_schedule — the same closed form."""
    d_us = int(min_delay_s) * 1_000_000
    extra = "".join(f", {c}" for c in order_cols)
    order = ", ".join((ts,) + tuple(order_cols))
    return f"""
    WITH base AS (
      SELECT {host}, {ts}{extra},
             CAST(row_number() OVER (
               PARTITION BY {host} ORDER BY {order}) AS BIGINT) AS fetch_seq,
             epoch_us({ts}) AS r_us
      FROM {table}
    ),
    sched AS (
      SELECT *, {d_us} * fetch_seq + max(r_us - {d_us} * fetch_seq) OVER (
               PARTITION BY {host} ORDER BY {order}
               ROWS UNBOUNDED PRECEDING) AS s_us
      FROM base
    )
    SELECT {host}, {ts}{extra}, fetch_seq,
           make_timestamp(s_us) AS sched_ts,
           s_us - r_us AS wait_us
    FROM sched
    """


def change_rate_estimate(
    obs: DataFrame,
    value_col: str,
    key: str = "url",
    ts: str = "warc_ts",
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(key, num_intervals, num_changes, span_days, lambda_per_day):
    Poisson change-rate estimator from equi-ish sampled snapshots — Cho &
    Garcia-Molina, "Estimating frequency of change" (ACM TOIT 2003),
    estimator lambda_hat = -ln(1 - X/m) / I for m sampling intervals, X
    of which showed a change, I the mean interval. The revisit-cadence
    signal an incremental crawler feeds back into its frontier: revisit
    period ~ 1/lambda.

    A "change" is value_i != value_{i-1} (one lag window). The span and
    mean interval are exact integer microseconds converted once; the
    estimator is a fixed-op-order double, NULL when X == m (all samples
    changed -> lambda unbounded; the paper's estimator degenerates) or
    m == 0. Keys with a single snapshot are dropped.

    Shape: one window pass + one hash agg, both on the ``key``
    partitioning — a single Exchange."""
    w = Window.partitionBy(key).orderBy(ts, *order_cols)
    v = F.col(value_col)
    prev = F.lag(value_col).over(w)
    # lag of a constant distinguishes "no previous row" from "previous
    # row's value is NULL" — a NULL-valued snapshot is still an interval
    has_prev = F.lag(F.lit(1)).over(w)
    mic = F.unix_micros(F.col(ts).cast("timestamp"))
    base = obs.select(
        key, F.col(ts).alias(ts), v.alias(value_col), *order_cols
    ).select(
        key,
        mic.alias("_us"),
        F.when(
            has_prev.isNotNull(),
            F.when(v.eqNullSafe(prev), F.lit(0)).otherwise(F.lit(1)),
        ).alias("_chg"),
    )
    agg = base.groupBy(key).agg(
        F.count("_chg").alias("num_intervals"),
        F.sum("_chg").alias("num_changes"),
        ((F.max("_us") - F.min("_us")) / F.lit(86400000000.0)).alias(
            "span_days"
        ),
    )
    m = F.col("num_intervals").cast("double")
    x = F.col("num_changes").cast("double")
    lam = -F.log(F.lit(1.0) - x / m) / (F.col("span_days") / m)
    return agg.where(F.col("num_intervals") >= 1).select(
        key,
        "num_intervals",
        "num_changes",
        "span_days",
        F.when(x < m, lam).alias("lambda_per_day"),
    )


class TokenBucket:
    """Per-key token-bucket admission in exact integer milli-tokens:
    seeded full, each event costs ``cost_mt``, refill is
    (dt_us * rate) // us_per_hour capped at ``cap_mt``, and an event is
    admitted when the refilled level covers its cost. Shared by
    ``token_bucket`` and the streaming fold (``streaming.seqfold``, whose
    recursion protocol this implements); integer state, so stream ==
    batch cannot even ulp-drift."""

    name, emits, drop_nulls = "token_bucket", "decisions", False
    state = ("last_ts_us long", "n long", "admitted long", "tokens long")
    out = ("rn long", "ts timestamp", "admitted boolean", "tokens_mt long")

    def __init__(
        self, cap_mt: int = 3000, cost_mt: int = 1000, rate_mt_per_hour: int = 1000
    ) -> None:
        self.cap, self.cost, self.rate = int(cap_mt), int(cost_mt), int(rate_mt_per_hour)

    def fold(self, ts_us, _values, state: tuple | None):
        """One key's next event times: ((rn, ts, admitted, tokens_mt)
        columns, new state)."""
        cap, cost, rate = self.cap, self.cost, self.rate
        last, n, adm, tokens = state or (None, 0, 0, 0)
        rn0 = n
        oks, levels = [], []
        for t in ts_us:
            if n == 0:
                tokens = cap - cost  # the first event admits from a full bucket
                ok = True
            else:
                tokens = min(cap, tokens + (t - last) * rate // US_PER_HOUR)
                ok = tokens >= cost
                if ok:
                    tokens -= cost
            n += 1
            adm += ok
            last = t
            oks.append(ok)
            levels.append(tokens)
        return (range(rn0 + 1, n + 1), ts_us, oks, levels), (last, n, adm, tokens)


def token_bucket(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    cap_mt: int = 3000,
    cost_mt: int = 1000,
    rate_mt_per_hour: int = 1000,
) -> DataFrame:
    """Per-key token-bucket simulation over events in ts order: (key,
    n_events, n_admitted, n_rejected, final_tokens_mt). Refill between
    equal timestamps is 0, so these aggregates do not depend on how tied
    events are ordered. An event with a NULL ts is skipped, as the
    streaming fold skips it. ``TokenBucket`` runs through the streaming
    fold's own runner (``operators.seqstate.fold_groups``) with no state:
    one shuffle into the sorted-group seam, O(1) integer state per key,
    and the answer is each key's state row."""
    from mintpy_spark.operators.seqstate import fold_groups, fold_states

    rec = TokenBucket(cap_mt, cost_mt, rate_mt_per_hour)
    state = fold_states(fold_groups(events, rec, key, ts, None), rec, key)
    return state.select(
        key,
        F.col("n").alias("n_events"),
        F.col("admitted").alias("n_admitted"),
        (F.col("n") - F.col("admitted")).alias("n_rejected"),
        F.col("tokens").alias("final_tokens_mt"),
    )
