"""Re-referencing in time.

Reference analog: reference_date.py:57-146 — subtract each pixel's value at
REF_DATE from its whole series (``ts -= ts[ref_idx]``). Spark recast: a
window/first-value subtraction keyed on url. Re-referencing in space
(reference_point.py:28-167, subtract the reference pixel's per-epoch value
from every pixel at that epoch) is computed inline by the registry, against
each epoch's cross-section mean (``ref_cross_section``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def reference_in_time(
    obs: DataFrame,
    value_col: str,
    ref_ts=None,
    key: str = "url",
    ts: str = "warc_ts",
) -> DataFrame:
    """v -> v - v[ref_ts] per key. ``ref_ts=None`` uses each key's first
    epoch (the reference's default REF_DATE is the first date)."""
    if ref_ts is None:
        w = Window.partitionBy(key).orderBy(ts).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        ref_val = F.first(value_col).over(w)
    else:
        w = Window.partitionBy(key)
        ref_val = F.max(F.when(F.col(ts) == F.lit(ref_ts), F.col(value_col))).over(w)
    return obs.withColumn(value_col, F.col(value_col) - ref_val)
