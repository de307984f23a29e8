"""Explicit partitioning: salted aggregation for skewed keys.

north_rule: "salted repartition on hash(url) with skew-aware AQE splits
for hot domains". Two mechanisms compose:

* AQE skew handling (on in session.py): splits oversized shuffle
  partitions at runtime — covers joins and handles moderate skew free.
* Explicit salting (here): when one *key group* is itself too large for a
  task (a domain with millions of pages in a per-domain aggregation), the
  key is sharded into ``salt`` sub-keys; aggregates run on the salted key
  first (decomposable partials), then re-aggregate per true key. Two small
  shuffles instead of one stuck straggler task.

The reference's analog is the two-path strategy (ifgram_inversion.py:
803-853 — batch solve for well-behaved pixels, fallback loop for the
ragged rest): split the pathological tail from the healthy bulk.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_column(df: DataFrame, salt: int) -> Column:
    """Deterministic shard in [0, salt): xxhash of the FULL ROW, not of the
    key (a key-derived salt is constant per key and splits nothing) and
    not rand() (a resumed run must shard identically)."""
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt)
    ).cast("int")


def salted_agg(
    df: DataFrame, key: str, aggs: dict[str, tuple[str, str]], salt: int = 8,
) -> DataFrame:
    """Skew-proof aggregation: partial per (key, shard), final per key.

    ``aggs`` maps output column -> (function, input column) with function
    in {count, sum, min, max} (the decomposable partials the tier store
    uses; mean derives as sum/count). Example::

        salted_agg(obs, "domain", {"cnt": ("count", "v"), "vsum": ("sum", "v")})
    """
    fns = {"count": F.count, "sum": F.sum, "min": F.min, "max": F.max}
    refn = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}
    # Salt-hash the FULL input row (same rule as salt_column): hashing only
    # (key + aggregated columns) silently defeats the mitigation when the
    # value column is low-cardinality — a hot key with few distinct values
    # collapses into few shards. Callers who need scan-side column pruning
    # should pre-project df to the columns they want hashed. Residual
    # limitation (document, don't hide): rows that are EXACT full-row
    # duplicates still land in one shard; that is benign here because
    # map-side combine on (key, _salt) collapses identical rows into one
    # partial before the shuffle, so duplicate mass never travels.
    needed = [key] + sorted({c for (_fn, c) in aggs.values()})
    shard = salt_column(df, salt)
    partial = df.withColumn("_salt", shard).select(*needed, "_salt").groupBy(key, "_salt").agg(
        *[fns[fn](c).alias(name) for name, (fn, c) in aggs.items()]
    )
    return partial.groupBy(key).agg(
        *[refn[fn](name).alias(name) for name, (fn, _c) in aggs.items()]
    )
