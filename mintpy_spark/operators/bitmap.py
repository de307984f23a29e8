"""Presence-bitmap tier: per-key day-presence as OR-mergeable int64 masks.

The roaring-bitmap idea at fixed width: one BIGINT per (key, block) holds
presence bits for ``block_days`` consecutive epoch days (bit i = day
``block*block_days + i`` seen). ``bit_or`` makes the tier mergeable AND —
unlike additive sketch counters (hdr_merge in operators/sketch.py) —
replay-IDEMPOTENT: folding the same delta twice is a no-op. Reference
analog: the nonzero/common-mask ALL-aggregates over epochs (stack.py:972,
utils1.py:156) — presence-per-epoch compressed 60:1 into machine words.

Scale shape: the tier Exchange carries one row per (key, block) —
days/60 rows per key regardless of observation volume; bit_count /
range queries then never touch raw. Block width 60 (not 64) keeps every
mask positive, so no engine-specific sign handling at the oracle
boundary.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EPOCH = "1970-01-01"


def epoch_day(ts_col: str = "ts") -> F.Column:
    """Days since 1970-01-01 of the timestamp's calendar date."""
    return F.datediff(F.to_date(F.col(ts_col)), F.lit(EPOCH)).cast("long")


def presence_tier(
    obs: DataFrame,
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("user_id",),
    block_days: int = 60,
) -> DataFrame:
    """(keys..., block, bitmap, d_min, d_max): one presence mask per
    (key, block) — bit (epoch_day % block_days) set iff the key was seen
    that day. One hash agg with map-side combine; duplicates within a
    day OR into the same bit for free."""
    assert 0 < block_days <= 62, "mask must stay positive in an int64"
    ed = epoch_day(ts_col)
    d = obs.select(*key_cols, ed.alias("ed")).withColumn(
        "block", (F.col("ed") / block_days).cast("long")
    )
    mask = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(ed % {block_days} AS INT))")
    return d.groupBy(*key_cols, "block").agg(
        F.bit_or(mask).alias("bitmap"),
        F.min("ed").alias("d_min"),
        F.max("ed").alias("d_max"),
    )


def presence_merge(
    parts: DataFrame, key_cols: Sequence[str] = ("user_id",)
) -> DataFrame:
    """Merge partial presence tiers (same block width): bit_or the masks.
    OR is associative, commutative, and idempotent — the loss-free and
    replay-safe tier fold."""
    return parts.groupBy(*key_cols, "block").agg(
        F.bit_or("bitmap").alias("bitmap"),
        F.min("d_min").alias("d_min"),
        F.max("d_max").alias("d_max"),
    )


def active_days(bitmap_col: str = "bitmap") -> F.Column:
    """Number of distinct active days in a mask (popcount)."""
    return F.bit_count(F.col(bitmap_col)).cast("int")
