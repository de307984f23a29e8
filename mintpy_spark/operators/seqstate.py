"""Shared seam for per-key sequential passes over sorted groups.

Callers: the one runner of every sequential recursion, ``fold_groups``
(below), which the batch operators ``kalman_level``
(``operators.kalman``), ``holt_winters_additive``
(``operators.holtwinters``), ``welford_moments`` (``operators.stats``) and
``token_bucket`` (``operators.crawlsched``) call with no state, and the
streaming sequential fold (``streaming.seqfold``) calls once per
micro-batch with each key's committed state row sorted first, for those
four recursions and the gap sessions; the Kalman EM statistics (filter
plus RTS smoother) and the adaptive filter (``operators.kalman``), both
around ``LocalLevel``'s filter, the per-key time-function fit
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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# the watermark of a key without state; also where a NULL ts sorts
NO_TS = int(np.iinfo(np.int64).min)
_NP = {"long": np.int64, "double": np.float64, "boolean": np.bool_,
       "timestamp": np.int64}


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


def _cols(ddl: tuple[str, ...]) -> list[list[str]]:
    return [c.split() for c in ddl]


def fold_groups(
    obs: DataFrame,
    rec,
    key: str,
    ts: str,
    value_col: str | None,
    state: DataFrame | None = None,
) -> DataFrame:
    """Run the recursion ``rec`` (the protocol in streaming/seqfold.py:
    ``state``, ``out``, ``drop_nulls``, ``fold``) over each key's rows of
    ``obs`` in (ts, value) order, continuing from the key's row of
    ``state`` (key, last_ts_us, *state columns) when it has one. A row
    whose ts is NULL or at or behind the key's watermark is skipped and
    counted as late; with ``drop_nulls`` a NULL value is dropped first.

    Returns tagged rows: ``_o`` 0 is one state row per key (the watermark
    in t_us, NO_TS for a key that folded nothing; the state columns in
    st1..; the key's late rows in late), ``_o`` 1 the output rows (out0..,
    a timestamp as microseconds). ``fold_outputs`` and ``fold_states`` name
    them."""
    st = _cols(rec.state)[1:]  # after the watermark
    out = _cols(rec.out)
    keep_nulls = not rec.drop_nulls
    v = F.col(value_col) if value_col else F.lit(None)
    obs = obs if keep_nulls else obs.where(v.isNotNull())
    # the NULL indicator: pandas reads NULL and NaN alike
    nn = [v.isNotNull().alias("nn")] if keep_nulls else []
    no_nn = [F.lit(False).alias("nn")] if keep_nulls else []
    obs = obs.select(
        F.col(key).alias("k"),
        F.lit(1).alias("_o"),
        F.coalesce(
            F.unix_micros(F.col(ts).cast("timestamp")), F.lit(NO_TS)
        ).alias("t_us"),
        v.cast("double").alias("y"),
        *nn,
        *[F.lit(0).cast(t).alias(f"st{j}") for j, (_, t) in enumerate(st, 1)],
    )
    rows = obs
    if state is not None:
        rows = (
            # a left-semi join is set-valued: duplicate keys need no
            # distinct
            state.join(obs.select(F.col("k").alias(key)), key, "left_semi")
            .select(
                F.col(key).alias("k"), F.lit(0).alias("_o"),
                F.col("last_ts_us").alias("t_us"),
                F.lit(None).cast("double").alias("y"),
                *no_nn,
                *[F.col(c).alias(f"st{j}") for j, (c, _) in enumerate(st, 1)],
            )
            .unionByName(obs)
        )
    schema = ", ".join([
        f"k {dict(obs.dtypes)['k']}, _o int, late long, t_us long",
        *(f"st{j} {t}" for j, (_, t) in enumerate(st, 1)),
        *(f"out{j} {'long' if t == 'timestamp' else t}"
          for j, (_, t) in enumerate(out)),
    ])
    st_types = [np.int64] + [_NP[t] for _, t in st]
    out_types = [_NP[t] for _, t in out]

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf["k"].to_numpy()
        o = pdf["_o"].to_numpy()
        t_us = pdf["t_us"].to_numpy(dtype=np.int64)
        brk = np.flatnonzero(keys[1:] != keys[:-1]) + 1
        starts = np.concatenate(([0], brk))
        sizes = np.diff(np.concatenate((starts, [len(pdf)])))
        has_state = o[starts] == 0
        watermark = np.where(has_state, t_us[starts], NO_TS)
        accepted = (o == 1) & (t_us > np.repeat(watermark, sizes))
        n_acc = np.add.reduceat(accepted.astype(np.int64), starts)
        ys = pdf["y"].to_numpy(dtype=np.float64)[accepted]
        if keep_nulls:
            ys = np.where(pdf["nn"].to_numpy()[accepted], ys, None)
        y_acc, t_acc = ys.tolist(), t_us[accepted].tolist()
        # each key's carried state; a key without state keeps
        # (NO_TS, 0, ...) unless it folds a row
        states = list(zip(watermark.tolist(), *(
            pdf[f"st{j}"].to_numpy()[starts].tolist()
            for j in range(1, len(st) + 1)
        )))
        has, ends = has_state.tolist(), np.cumsum(n_acc).tolist()
        n_list = n_acc.tolist()
        touched = np.flatnonzero(n_acc)
        outs: list[list] = [[] for _ in out]
        counts = []
        for g in touched.tolist():
            a, b = ends[g] - n_list[g], ends[g]
            cols, states[g] = rec.fold(
                t_acc[a:b], y_acc[a:b], states[g] if has[g] else None
            )
            for acc, c in zip(outs, cols):
                acc.extend(c)
            counts.append(len(cols[0]))
        n_keys, n_out = len(starts), sum(counts)
        gkeys = keys[starts]
        frame = {
            "k": np.concatenate((
                gkeys, np.repeat(gkeys[touched], np.asarray(counts, np.int64))
            )),
            "_o": np.repeat(np.array([0, 1], np.int32), [n_keys, n_out]),
            "late": np.concatenate((sizes - has_state - n_acc,
                                    np.zeros(n_out, np.int64))),
        }
        for j, (vals, dt) in enumerate(zip(zip(*states), st_types)):
            frame[f"st{j}" if j else "t_us"] = np.concatenate(
                (np.asarray(vals, dt), np.zeros(n_out, dt))
            )
        for j, (vals, dt) in enumerate(zip(outs, out_types)):
            frame[f"out{j}"] = np.concatenate(
                (np.zeros(n_keys, dt), np.asarray(vals, dt))
            )
        return pd.DataFrame(frame)

    return map_sorted_groups(rows, "k", ("_o", "t_us", "y"), fold, schema)


def fold_outputs(folded: DataFrame, rec, key: str, ts: str, ttype) -> DataFrame:
    """The output rows of ``fold_groups``: (key, *rec.out), each
    timestamp column cast to ``ttype`` (the input's ts type) and the
    column ``rec.out`` calls ``ts`` named ``ts``."""
    return folded.where(F.col("_o") == 1).select(
        F.col("k").alias(key),
        *[
            (F.timestamp_micros(f"out{j}").cast(ttype) if t == "timestamp"
             else F.col(f"out{j}")).alias(ts if c == "ts" else c)
            for j, (c, t) in enumerate(_cols(rec.out))
        ],
    )


def fold_states(folded: DataFrame, rec, key: str) -> DataFrame:
    """The state rows of ``fold_groups``: (key, *rec.state), the
    watermark as ``last_ts_us``; a key with no state that folded no row
    has none."""
    return folded.where((F.col("_o") == 0) & (F.col("t_us") > NO_TS)).select(
        F.col("k").alias(key),
        F.col("t_us").alias("last_ts_us"),
        *[F.col(f"st{j}").alias(c)
          for j, (c, _) in enumerate(_cols(rec.state)[1:], 1)],
    )
