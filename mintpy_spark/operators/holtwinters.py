"""Holt-Winters additive triple exponential smoothing (level + trend +
weekly seasonality), causal, with oracle-exact scalar recursion.

Reference analog: the time-function regression family
(operators/timefunc.py mirrors timeseries2velocity's model dict, which
fits annual/semi-annual periodic terms) — Holt-Winters is the online
counterpart: it tracks level, trend and a rotating additive seasonal
profile in one forward pass, no design matrix. The engine already ships
double smoothing (forecast_holt_mase, queries_r3n) and multiplicative
seasonal indexes (seasonal_index_dow); this completes the classic triad.

Recursion (period P, smoothing alpha/beta/gamma), initialized at the
first observation with zero trend and a zero seasonal profile:

    l' = alpha * (y - s_old) + (1 - alpha) * (l + b)
    b' = beta * (l' - l) + (1 - beta) * b
    s' = gamma * (y - l') + (1 - gamma) * s_old

where s_old is the seasonal slot written P steps earlier. As with the
Kalman filter (operators/kalman.py), the Python pass and the DuckDB
RECURSIVE-CTE oracle evaluate the identical expressions in the identical
order, so the state sequence matches bit-for-bit; inputs arrive as
integer cents cast to double so the daily pre-aggregation is
order-independent too.

Scale: one shuffle into the per-key Arrow seam; state is P + 2 doubles
per key. ``HoltWinters`` is the one definition of the recursion and
``operators.seqstate.fold_groups`` its one runner: the batch pass below
runs it with no state, the streaming fold (streaming/seqfold.py, which
carries the rotating profile in its per-key state table) with each
key's committed state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mintpy_spark.operators.seqstate import fold_groups, fold_outputs


class HoltWinters:
    """The additive Holt-Winters recursion over one key's rows, shared by
    ``holt_winters_additive`` and the streaming fold
    (``streaming.seqfold``, whose recursion protocol this implements).
    State: (last_ts_us, rn, level, trend, s0..s{P-1})."""

    name, emits, drop_nulls = "holt_winters", "levels", True
    out = ("rn long", "ts timestamp", "level double", "trend double",
           "seasonal double")

    def __init__(
        self, period: int = 7, alpha: float = 0.3, beta: float = 0.1,
        gamma: float = 0.2,
    ) -> None:
        self.p = int(period)
        self.a, self.b, self.g = float(alpha), float(beta), float(gamma)
        self.state = (
            "last_ts_us long", "rn long", "level double", "trend double",
            *(f"s{j} double" for j in range(self.p)),
        )

    def fold(self, ts_us, ys: list[float], state: tuple | None):
        """One key's next values: ((rn, ts, level, trend, seasonal)
        columns, new state)."""
        a, b_, g, p = self.a, self.b, self.g, self.p
        if state is None:
            rn, lev, tr, season = 0, 0.0, 0.0, [0.0] * p
        else:
            _last, rn, lev, tr, *season = state
        rns, out_l, out_b, out_s = [], [], [], []
        for y in ys:
            if rn == 0:
                lev, tr, s_new = y, 0.0, 0.0
            else:
                i = rn % p  # rn == this row's 0-based position
                s_old = season[i]
                l_new = a * (y - s_old) + (1.0 - a) * (lev + tr)
                tr = b_ * (l_new - lev) + (1.0 - b_) * tr
                s_new = g * (y - l_new) + (1.0 - g) * s_old
                season[i] = s_new
                lev = l_new
            rn += 1
            rns.append(rn)
            out_l.append(lev)
            out_b.append(tr)
            out_s.append(s_new)
        return (rns, ts_us, out_l, out_b, out_s), (ts_us[-1], rn, lev, tr, *season)


def holt_winters_additive(
    df: DataFrame,
    value_col: str,
    key: str = "user_id",
    ts: str = "bucket_start",
    period: int = 7,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
) -> DataFrame:
    """Per-key causal Holt-Winters pass over an already-bucketed series
    (one row per (key, bucket)). Returns (key, rn, level, trend,
    seasonal) after each observation in (bucket, value) order. NULL
    values are dropped, and a row with a NULL bucket is skipped, as the
    streaming fold skips it: ``HoltWinters`` runs through the streaming
    fold's own runner (``operators.seqstate.fold_groups``) with no
    state."""
    rec = HoltWinters(period, alpha, beta, gamma)
    folded = fold_groups(df, rec, key, ts, value_col)
    return fold_outputs(folded, rec, key, ts, df.schema[ts].dataType).select(
        key, "rn", "level", "trend", "seasonal"
    )
