"""Gap-based sessionization.

A web-analytics staple the reference has no analog for (closest: the
pair-network's temporal-connectivity grouping, stack.py:1113 sequential
loops): events of one key belong to one session while inter-arrival gaps
stay below a threshold.

Two equivalent implementations:

* ``sessionize`` — Spark's native ``session_window`` aggregation (state
  merges adjacent windows; also works under Structured Streaming with a
  watermark, which is why it's the default).
* the lag/cumsum window form used by the DuckDB oracle (boundary flag =
  gap > threshold; session id = running sum of flags) — the portable
  formulation.

Both produce identical session boundaries: a session extends while the
next event arrives within ``gap`` of the previous one. ``GapSessions`` is
the same rule as a per-key recursion for the streaming fold
(streaming/seqfold.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    value_col: str = "value",
    gap: str = "30 minutes",
) -> DataFrame:
    """Per-(key, session): start/end/duration/count/sum via the native
    session_window aggregation — one shuffle on (key, merged window)."""
    return (
        df.groupBy(key, F.session_window(F.col(ts), gap).alias("w"))
        .agg(
            F.count(value_col).alias("n_events"),
            F.sum(value_col).alias("vsum"),
            F.min(ts).alias("session_start"),
            F.max(ts).alias("session_end"),
        )
        .select(
            key,
            "session_start",
            "session_end",
            (
                F.unix_micros(F.col("session_end").cast("timestamp"))
                - F.unix_micros(F.col("session_start").cast("timestamp"))
            ).alias("duration_us"),
            "n_events",
            "vsum",
        )
    )


class GapSessions:
    """The gap-session step over one key's rows, for the streaming fold
    (``streaming.seqfold``, whose recursion protocol this implements).
    State is the key's one OPEN session (last_ts_us, start_us, n, vsum).
    A row within ``gap_seconds`` of the last one extends it — an event
    EXACTLY gap after its predecessor still merges, the boundary rule of
    ``sessionize_oracle_sql`` — and a larger gap emits the closed session
    and opens a new one. So the sessions emitted over any micro-batch
    split are the batch sessions minus each key's final, still-open one.
    A NULL value extends a session but is not counted (batch
    count(value)/sum(value)); a NaN value counts and poisons vsum, as in
    batch."""

    name, emits, drop_nulls = "sessions", "closed", False
    state = ("last_ts_us long", "start_us long", "n long", "vsum double")
    out = ("session_start timestamp", "session_end timestamp",
           "duration_us long", "n_events long", "vsum double")

    def __init__(self, gap_seconds: int = 1800) -> None:
        self.gap_us = int(gap_seconds) * 1_000_000

    def fold(self, ts_us, values, state: tuple | None):
        """One key's next rows: (closed-session columns, new state)."""
        last, start, n, vsum = state or (None, None, 0, 0.0)
        out: tuple[list, ...] = ([], [], [], [], [])
        for t, y in zip(ts_us, values):
            if start is not None and t - last > self.gap_us:
                # an uncounted session sums to NULL, as sum(value) does
                closed = (start, last, last - start, n, vsum if n else None)
                for col, v in zip(out, closed):
                    col.append(v)
                start = None
            if start is None:
                start, n, vsum = t, 0, 0.0
            last = t
            if y is not None:
                n += 1
                vsum += y
        return out, (last, start, n, vsum)


def sessionize_oracle_sql(
    table: str = "events", key: str = "user_id", ts: str = "ts",
    value_col: str = "value", gap_seconds: int = 1800,
) -> str:
    """Portable lag/cumsum formulation producing identical sessions.

    Boundary semantics verified against Spark's session_window: an event
    EXACTLY ``gap_seconds`` after its predecessor still MERGES (the
    window extends to ts + gap inclusive), so a new session starts only
    when the lag is STRICTLY greater — hence ``<=`` keeps, not ``<``.
    The sessions_concurrent_peak oracle composes over THIS function so
    the boundary rule can never fork again."""
    return f"""
    WITH flagged AS (
      SELECT {key}, {ts}, {value_col},
             CASE WHEN {ts} - lag({ts}) OVER w <= INTERVAL {gap_seconds} SECOND
                  THEN 0 ELSE 1 END AS new_session
      FROM {table}
      WINDOW w AS (PARTITION BY {key} ORDER BY {ts})
    ),
    numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY {key} ORDER BY {ts}
                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT {key},
           MIN({ts}) AS session_start,
           MAX({ts}) AS session_end,
           CAST(epoch_us(MAX({ts})) - epoch_us(MIN({ts})) AS BIGINT) AS duration_us,
           COUNT({value_col}) AS n_events,
           SUM({value_col})   AS vsum
    FROM numbered
    GROUP BY {key}, session_id
    """


def concurrent_peak_daily(
    sessions: DataFrame,
    start_col: str = "session_start",
    end_col: str = "session_end",
) -> DataFrame:
    """(ed, n_segments, peak_concurrent): the sweep-line interval-overlap
    census (ClickHouse ``maxIntersections``) — per day, the maximum
    number of sessions active at one instant.

    A session occupies [start_us, end_us + 1): the +1 microsecond makes
    the interval half-open AND gives single-event sessions (start ==
    end) a real footprint.  Sessions crossing midnight are clipped into
    per-day segments (bounded explode over the covered days).  The
    sweep emits (+1 at segment start, -1 at segment end) and takes the
    max running sum ordered by (t, delta) — the -1-first tie order makes
    back-to-back sessions non-overlapping at the boundary instant.

    Plan: one bounded explode (days covered x 2 sweep points), ONE
    day-keyed window Exchange (partition-local sort — days partition the
    sweep, so no global ordering), then a per-day max agg.  Deterministic
    at any parallelism: ties beyond (t, delta) cannot change a running
    SUM's maximum.
    """
    s_us = F.unix_micros(F.col(start_col).cast("timestamp"))
    e_us = F.unix_micros(F.col(end_col).cast("timestamp")) + 1
    day_of = lambda us: F.floor(us / F.lit(86_400_000_000)).cast("long")
    seg = sessions.select(
        s_us.alias("_s"),
        e_us.alias("_e"),
        F.explode(
            F.sequence(day_of(s_us), day_of(e_us - 1))
        ).alias("ed"),
    ).select(
        "ed",
        F.greatest(F.col("_s"), F.col("ed") * 86_400_000_000).alias("lo"),
        F.least(F.col("_e"), (F.col("ed") + 1) * 86_400_000_000).alias("hi"),
    )
    # one row-local explode, not a self-union: a union would evaluate the
    # session aggregation once per branch (plan audit: 2 scans)
    sweep = seg.select(
        "ed",
        F.explode(
            F.array(
                F.struct(F.col("lo").alias("t"), F.lit(1).alias("d")),
                F.struct(F.col("hi").alias("t"), F.lit(-1).alias("d")),
            )
        ).alias("p"),
    ).select("ed", "p.t", "p.d")
    w = (
        Window.partitionBy("ed")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = sweep.withColumn("_c", F.sum("d").over(w))
    return running.groupBy("ed").agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_segments"),
        F.max("_c").cast("long").alias("peak_concurrent"),
    )
