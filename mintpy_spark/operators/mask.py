"""Masking, no-data handling, and retention (tombstoning).

Reference analogs (SURVEY.md §2.2):
* mask_matrix / mask_file (src/mintpy/mask.py:17-140) — set masked cells to
  fill value (NaN); here: NULL-out or filter.
* create_threshold_mask (generate_mask.py:44-170) — boolean mask from
  min/max value thresholds.
* dropIfgram retention flag (stack.py:846-853, update :1370) — soft-delete
  flag honored by every read.

The registry computes the common mask (stack.py:972-998, valid in ALL
epochs) inline as ``common_valid_keys``, and retention by age is
``operators/retention.compact_raw``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def threshold_mask(value: Column, vmin=None, vmax=None) -> Column:
    """Boolean mask column: vmin <= v <= vmax and not null
    (generate_mask.py:44 create_threshold_mask)."""
    m = value.isNotNull()
    if vmin is not None:
        m = m & (value >= F.lit(vmin))
    if vmax is not None:
        m = m & (value <= F.lit(vmax))
    return m


def apply_mask(obs: DataFrame, value_col: str, mask: Column, fill=None) -> DataFrame:
    """Masked-out cells -> fill (NULL default), keeping the row — the
    mask_matrix semantics (mask.py:17-60)."""
    return obs.withColumn(
        value_col, F.when(mask, F.col(value_col)).otherwise(F.lit(fill))
    )


def tombstone(
    table: DataFrame, predicate: Column, flag_col: str = "dropped"
) -> DataFrame:
    """Soft-delete: set the retention flag where predicate holds (the
    dropIfgram model — data stays, reads filter it)."""
    existing = F.col(flag_col) if flag_col in table.columns else F.lit(False)
    return table.withColumn(flag_col, existing | predicate)


def live(table: DataFrame, flag_col: str = "dropped") -> DataFrame:
    """Read-side retention filter (stack.py:846-853)."""
    if flag_col not in table.columns:
        return table
    return table.where(~F.col(flag_col))
