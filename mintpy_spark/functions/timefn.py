"""Time scalar functions.

Replicates the reference's load-bearing time conventions as pure Catalyst
column expressions (no Python in the hot path):

* decimal years with the 365.25-day year convention
  (reference: utils/ptime.py:193-227 ``yyyymmdd2years``:
  ``year + (doy-1)/365.25 + h/(365.25*24) + m/(365.25*24*60)
  + s/(365.25*24*3600)``).  This convention is load-bearing for
  value-exact reproduction of velocity estimates and design matrices.
* calendar-aligned tier bucketing (1h/1d) and fixed-width 30d bucketing
  anchored at the Unix epoch — the multilook/temporal_average analog
  (reference: src/mintpy/stdproc/multilook.py:19-130).

All functions return Column expressions so filters and projections built on
them stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SECONDS_PER_DAY = 86400
SECONDS_PER_YEAR = 365.25 * SECONDS_PER_DAY

# Tier widths. 1h and 1d are calendar-aligned (date_trunc); the 30d tier is
# a fixed 30-day width anchored at epoch (calendar months are ragged; the
# reference's temporal_average likewise averages fixed windows of epochs).
TIER_SECONDS = {"1h": 3600, "1d": 86400, "30d": 30 * 86400}


def iso_to_epoch_sec(s: str) -> int:
    """Driver-side '%Y-%m-%d %H:%M:%S' -> epoch seconds — THE one copy of
    the convention shared by the range-cover planner
    (operators/rollup.plan_range_cover) and the compaction cutoff gate
    (operators/retention.compact_raw), so their bucket math can never
    silently disagree."""
    from datetime import datetime

    return int(
        (datetime.strptime(s, "%Y-%m-%d %H:%M:%S") - datetime(1970, 1, 1))
        .total_seconds()
    )


def epoch_sec_to_iso(sec: int) -> str:
    """Inverse of iso_to_epoch_sec."""
    from datetime import datetime, timedelta

    return (datetime(1970, 1, 1) + timedelta(seconds=sec)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def decimal_year(ts: Column) -> Column:
    """Timestamp -> decimal year, MintPy 365.25 convention.

    ``year + (dayofyear-1)/365.25 + hour/(365.25*24) + ...`` exactly as
    utils/ptime.py:209-213.  Computed in double; per-url regressions
    downcast to float32 inside their pandas UDFs for parity.
    """
    frac_day = (
        F.hour(ts) / 24.0
        + F.minute(ts) / (24.0 * 60)
        + F.second(ts) / (24.0 * 3600)
    )
    return F.year(ts) + (F.dayofyear(ts) - 1 + frac_day) / F.lit(365.25)


def bucket_start(ts: Column, tier: str) -> Column:
    """Calendar-aligned bucket start for a tier ('1h'|'1d'|'30d').

    1h/1d use date_trunc (calendar aligned); 30d uses epoch-anchored
    fixed windows so every 30d bucket is the union of exactly 30 1d
    buckets — the property that makes cascade re-aggregation exact.
    """
    if tier == "1h":
        return F.date_trunc("hour", ts)
    if tier == "1d":
        return F.date_trunc("day", ts)
    if tier == "30d":
        # cast via TIMESTAMP: TIMESTAMP_NTZ (parquet isAdjustedToUTC=false)
        # cannot cast to numeric directly
        sec = ts.cast("timestamp").cast("long")
        width = TIER_SECONDS["30d"]
        return F.timestamp_seconds((sec - (sec % width)).cast("long"))
    raise ValueError(f"unknown tier {tier!r}; expected one of {sorted(TIER_SECONDS)}")
