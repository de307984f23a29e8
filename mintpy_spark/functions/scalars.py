"""Scalar numeric transforms: phase wrapping and unit conversion.

Reference analogs (SURVEY.md §2.8):
* ``wrap`` — wrap a value into a [lo, hi) interval, the phase-rewrap
  ``utils/utils0.py`` ``wrap`` (data - round(data/range)*range family):
  here the half-open pmod form ``lo + pmod(x - lo, hi - lo)``, which is
  total (no branch) and codegen-friendly.
* ``UNIT_SCALE`` — multiplicative unit conversions (the reference scales
  m/cm/mm/radian via literal factors, e.g. view.py display units and
  unit conversion in timeseries2velocity outputs).

Both are pure Column expressions; they ride inside whole-stage codegen.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# multiplicative factors to the base unit (meter / second)
UNIT_SCALE = {
    "m": 1.0,
    "cm": 1e-2,
    "mm": 1e-3,
    "day": 86400.0,
    "hour": 3600.0,
    "year": 365.25 * 86400.0,
}

# The range of portable_hash60: 15 hex digits, ~2^60. KMV and theta
# sketch estimators scale by it, in Spark and in their DuckDB oracles.
HASH60_SPACE = 16**15


def portable_hash60(col: Column) -> Column:
    """60-bit engine-portable uniform hash: first 15 hex chars of
    md5(utf8(string(x))) as a non-negative long in [0, 16^15).
    DuckDB twin: ``('0x' || substring(md5(x), 1, 15))::BIGINT``.

    The ONE implementation of this recipe — dedup token hashing
    (operators/dedup), the sketches (operators/sketch), sampling buckets
    (operators/sampling.stable_bucket) and the queries' fingerprints all
    call it, so the cross-module hash identity can never silently fork
    (tools/ci.sh fails on an inline copy)."""
    return F.conv(
        F.substring(F.md5(F.encode(col.cast("string"), "UTF-8")), 1, 15), 16, 10
    ).cast("long")


def nonempty_tokens(col) -> Column:
    """Whitespace tokens of a text column with empty tokens dropped — THE
    one tokenizer expression (same discipline as portable_hash60): dedup
    shingling (operators/dedup.tokens), content drift
    (operators/drift.shingle_set) and TF-IDF (operators/tfidf.py) all
    delegate here, so tokenization — and its paired DuckDB oracle form
    ``list_filter(string_split(text, ' '), t -> t <> '')`` — can never
    silently fork between operators."""
    return F.filter(F.split(col, " "), lambda t: t != "")


def wrap(x: Column, lo: float = -math.pi, hi: float = math.pi) -> Column:
    """Wrap ``x`` into the half-open interval [lo, hi) — the phase-wrap
    pmod: lo + pmod(x - lo, hi - lo). pmod (not %) so negative inputs wrap
    up instead of mirroring."""
    width = hi - lo
    return F.lit(lo) + F.pmod(x - F.lit(lo), F.lit(width))


def convert_unit(x: Column, from_unit: str, to_unit: str) -> Column:
    """x * scale(from)/scale(to) with literal factors (constant-folded)."""
    return x * F.lit(UNIT_SCALE[from_unit] / UNIT_SCALE[to_unit])
