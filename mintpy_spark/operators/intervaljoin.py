"""Bucketed interval-containment join: points-in-intervals WITHOUT an
equi-key.

Reference analog: `asc_desc2horz_vert.py:15` joins two datasets on an
*overlapping coordinate range* by snapping to a shared grid and
equi-joining on the grid cell (SURVEY §2.3: "range/interval join on
binned lat/lon keys") — the exact technique here, applied to time.

The problem shape Spark has no native operator for: intervals
(start, end) × points (ts), match iff start <= ts <= end, with NO
shared key column. A naive theta-join is a cartesian product
(BroadcastNestedLoopJoin) — quadratic and un-shardable. The standard
distributed recast snaps both sides to fixed-width time buckets:

* each interval explodes into the buckets it covers (row-local
  `sequence()` — O(duration/width) rows per interval),
* each point maps to exactly ONE bucket (row-local `floor`),
* equi-join on the bucket id (hash join, shuffles on a uniform key),
* residual `BETWEEN` filter restores exact containment.

Each (interval, point) pair meets in exactly one bucket — the point's
— so the join emits no duplicates and needs no post-dedup. Bucket width
trades explode factor against per-bucket skew: width ≈ median interval
length keeps the explode O(1) per interval while bounding how many
intervals share a bucket.

100 TB notes: the shuffle key is the time bucket — globally uniform for
crawl-shaped traffic; a hot bucket (incident storm) is the classic AQE
skew-join split, and the residual filter is partition-local either way.
Long-tail intervals (one interval spanning months) inflate the explode
linearly; production splits such outliers into sub-intervals first —
same result by construction, containment distributes over the split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_US = 1_000_000


def _raw_bucket_join(
    intervals: DataFrame,
    points: DataFrame,
    start: str,
    end: str,
    ts: str,
    bucket_seconds: int,
    how: str,
):
    """Per-bucket join, PRE-dedup: under ``how='left'`` every interval
    bucket with no contained point emits its own (interval, NULL) row —
    up to duration/width NULL rows per empty interval. Safe only for
    consumers that both ignore NULLs and merge buckets per interval
    (e.g. a count/sum re-agg); everything else wants the public wrapper
    below, which restores exact SQL left-join arity."""
    w = int(bucket_seconds) * _US
    iv = intervals.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(F.col(start).cast("timestamp")) / w),
                F.floor(F.unix_micros(F.col(end).cast("timestamp")) / w),
            )
        ),
    )
    pt = points.withColumn(
        "_b", F.floor(F.unix_micros(F.col(ts).cast("timestamp")) / w)
    )
    cond = (
        (iv["_b"] == pt["_b"])
        & (pt[ts] >= iv[start])
        & (pt[ts] <= iv[end])
    )
    return iv.join(pt, cond, how), iv, pt, w


def interval_point_counts(
    intervals: DataFrame,
    points: DataFrame,
    start: str = "session_start",
    end: str = "session_end",
    ts: str = "ts",
    bucket_seconds: int = 3600,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Per-interval count of contained points (empty intervals report
    0): the "how many X happened during each incident window" query.
    ``keys`` carries the intervals' identity columns through the
    aggregation (two intervals with identical (keys, start, end) would
    merge — pass enough keys to make intervals distinct).
    One bucket-hash-join Exchange + one re-agg on the interval key:
    this deliberately uses the RAW per-bucket left join (count() skips
    the per-empty-bucket NULL rows and the groupBy merges an interval's
    buckets), skipping the arity-restoring window the public join
    needs."""
    j, iv, pt, _ = _raw_bucket_join(
        intervals, points, start, end, ts, bucket_seconds, "left"
    )
    j = j.drop(iv["_b"]).drop(pt["_b"])
    return (
        j.groupBy(*keys, start, end)
        .agg(F.count(F.col(ts)).cast("long").alias("n_inside"))
    )
