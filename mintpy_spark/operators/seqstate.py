"""Shared seam for per-key sequential passes over sorted groups.

Callers: the Kalman filters and smoother (``operators.kalman``),
Holt-Winters (``operators.holtwinters``), the Welford moments
(``operators.stats``), the token bucket (``operators.crawlsched``), the
streaming sequential fold (``streaming.seqfold``, one call per
micro-batch for any of those recursions, the gap sessions, the change
events or the z-score monitor, each key's committed state row sorted
first), the per-key time-function fit
(``operators.timefunc``), the inversion sigma path (``operators.invert``),
``operators.forecast``, the audit folds in ``queries_tiers``, and the
cold-tier block packer
(``codecs.blocks.pack_blocks``, keyed on the series key and ordered by
(window, ts), which splits each delivered frame into its (key, window)
blocks).

Grouped ``applyInPandas`` constructs one pandas frame PER KEY, which
dominates wall time when keys are small (measured 6.8x on the Kalman
filter at sf0.1: 5.0 s -> 0.73 s; at production shape 10^9 keys x ~10^2
rows it is the difference between a usable and an unusable plan), and
``applyInPandasWithState`` adds a GroupState round trip on top (about
4.2 ms of Python worker CPU per touched key and micro-batch, which is
why the streaming folds left it for this seam). This
helper keeps the identical per-key semantics but runs ``mapInPandas``
over key-clustered, key-sorted partitions — one Arrow frame per chunk —
with a carry buffer for the key that spans adjacent chunks.

Contract: ``fn`` receives a frame holding one or more WHOLE key groups,
rows already in (key, *order) order, and must treat groups
independently (iterate ``pdf.groupby(key, sort=False)``). Values are
bit-identical to the applyInPandas form because the per-key row
sequence — and therefore every float operation — is unchanged.

NULL keys are NOT supported: pandas groupby drops NaN groups and the
carry-buffer equality test never matches NaN, so filter null keys
upstream (every current caller's key column is non-null by schema).
The mapper enforces this loudly — a NULL key raises ValueError instead
of silently dropping rows.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def map_sorted_groups(
    src: DataFrame,
    key_col: str,
    order_cols: tuple[str, ...],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str | StructType,
) -> DataFrame:
    """One shuffle (repartition on ``key_col`` + partition-local sort on
    (key, *order)), then mapInPandas with whole-group delivery to
    ``fn``."""

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Chunks of the key group that spans batch boundaries accumulate
        # in a list and are concatenated ONCE when the group closes, so a
        # hot key spanning B batches copies O(rows) total, not O(B*rows).
        tail_parts: list[pd.DataFrame] = []
        tail_key = None

        def flush_tail() -> pd.DataFrame:
            group = (
                tail_parts[0]
                if len(tail_parts) == 1
                else pd.concat(tail_parts, ignore_index=True)
            )
            tail_parts.clear()
            return fn(group)

        for pdf in batches:
            if not len(pdf):
                continue
            if pdf[key_col].isna().any():
                raise ValueError(
                    "map_sorted_groups: NULL key in %r — filter null keys "
                    "upstream (contract: seqstate.py module docstring)"
                    % key_col
                )
            if tail_parts:
                head_mask = pdf[key_col] == tail_key
                if head_mask.iloc[0]:
                    # sorted partitions => the spanning key's rows are a
                    # contiguous head block of this batch
                    tail_parts.append(pdf[head_mask])
                    pdf = pdf[~head_mask].reset_index(drop=True)
                    if not len(pdf):
                        continue
                    yield flush_tail()
                else:
                    yield flush_tail()
            last = pdf[key_col].iloc[-1]
            mask = pdf[key_col] == last
            tail_parts.append(pdf[mask])
            tail_key = last
            done = pdf[~mask]
            if len(done):
                yield fn(done)
        if tail_parts:
            yield flush_tail()

    parts = src.repartition(key_col).sortWithinPartitions(
        key_col, *order_cols
    )
    return parts.mapInPandas(mapper, schema)
