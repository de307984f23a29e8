"""One streaming fold for every per-key sequential recursion: a
foreachBatch fold over a versioned per-key state table.

The engine's one per-key streaming mechanism. A recursion object — one of
seven: ``operators.kalman.LocalLevel``, ``operators.holtwinters.HoltWinters``,
``operators.stats.Welford``, ``operators.crawlsched.TokenBucket``,
``operators.sessionize.GapSessions``, ``operators.diff.ChangeEvents`` and
``operators.anomaly.ZScoreMonitor`` — declares:

* ``name`` and ``emits``: its state lives under
  ``<checkpoint>/<name>_state`` and each batch records the lineage rows
  ``<name>_<emits>``, ``<name>_late`` and ``<name>_state``;
* ``state``: its per-key state columns ("name type"); the first is
  ``last_ts_us long``, the key's watermark (the ts of its last folded row);
* ``out``: its output columns; a ``timestamp`` column is folded as
  microseconds and written in the input's ts type, and a column named
  ``ts`` takes the input's ts column name; a ``long`` column may hold
  NULLs (None);
* ``drop_nulls``: whether rows with a NULL value are dropped before the
  fold, or kept and handed to ``fold`` as None;
* ``fold(ts_us, values, state) -> (out columns, new state)``: one key's
  next rows in (ts, value) order; ``state`` is None for a new key.

The batch operators of the first five call the same ``fold``, so
stream == batch holds by construction. ``ChangeEvents`` and
``ZScoreMonitor`` sit beside zero-Python SQL windows
(``batch_change_events``, ``rolling_zscore_anomalies``): there stream ==
batch is checked by tests (tests/test_seqfold.py), not by construction.

Each micro-batch of observations (key, ts, value) runs the engine's one
fold step (``StoreFold.apply_delta``, streaming/tier_maintenance.py); this
module supplies what the recursion computes (``_stage``):

1. the committed state rows of the batch's keys are semi-joined in
   (untouched keys stay on disk);
2. each key's state row, then its new rows in (ts, value) order, arrive on
   the sorted-group seam (``operators.seqstate.map_sorted_groups``); the
   watermark test runs on numpy arrays and each key with accepted rows
   costs one Python ``fold`` call;
3. the batch's output rows and a new state version (touched keys
   refolded, the rest carried by an anti-join) are staged as the store
   tables ``tier_levels`` and ``tier_state``; the step appends the
   lineage rows ``<name>_<emits>``, ``<name>_late`` and ``<name>_state``,
   THEN one manifest rename commits both tables as version N;
4. after the commit, ``_publish`` moves the output files into the output
   table (a replay first finishes a move a crash cut short).

Where the state lives: beside Spark's own checkpoint files and outside its
``state/`` subdirectory, in a table store at ``<checkpoint>/<name>_state``:
``tier_state`` (the state table), ``tier_levels`` (the batch's output rows
until they are moved), ``_manifests`` and ``_maintenance_metrics`` (the
lineage rows).

Why not ``applyInPandasWithState``: it builds pandas frames, a GroupState
round trip and an output frame for every touched key of every batch —
about 4.2 ms of Python worker CPU per key on a 4-vCPU host, of which the
Kalman fold itself is about 1.3 ms — so a 2 000-row delta cost 1.6–2.0
CPU s over 10 keys and 9.8–11.2 CPU s over 2 000 keys. Here a batch pays
one Arrow hand-off per chunk of keys, as the batch operators do.

Crash safety (foreachBatch is at-least-once): a replay of a committed
batch only finishes moving its output; a replay of an uncommitted batch
recomputes version N from the still-authoritative previous version, and
the files the crashed attempt staged are never listed and are expired.
Readers of the output table see no row before its batch commits, and no
row twice (tests/test_seqfold.py kills the fold at each step). The lineage
rows go in before the commit, so a crash after it cannot lose them; a
replayed uncommitted batch appends the same counts again, and readers take
one row per ``part_id`` (``CheckpointTable.stage_metrics``). The move into
the output directory is the one step outside the store: plain-parquet
readers (``filter_job``, the benchmark) read that directory, and it
renames one file at a time, so a concurrent reader may see part of a
batch.

Late-row policy: a row whose ts is at or behind its key's committed
watermark (a replay redelivery or an out-of-order arrival) carries no
update, and each batch records how many it skipped in its ``<name>_late``
lineage row; a NULL ts counts as late. Rows of one batch with equal ts
are all folded, in (ts, value) order, as the batch operators rank them.
With ``drop_nulls`` a NULL value carries no update; a NaN value is
folded, as in batch. A NULL key raises (the sorted-group seam's
contract).

Scale: state is one row per key; each batch shuffles the delta plus its
keys' state rows, and a carried key's fold continues from its own state,
so its cost is proportional to its new rows, not to its history. Each
batch does rewrite the whole state table — O(keys), like the tier store's
rewrite.

Reference analog: update-mode incremental processing (smallbaselineApp
run_or_skip) — fold new epochs into carried state, never re-read
history.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mintpy_spark.operators.seqstate import map_sorted_groups
from mintpy_spark.streaming.tier_maintenance import StoreFold, written_rows

STATE = "state"
# the store table holding a batch's output rows until they are moved
OUT = "levels"
# the watermark of a key without state; also where a NULL ts sorts
_NO_TS = int(np.iinfo(np.int64).min)
_NP = {"long": np.int64, "double": np.float64, "boolean": np.bool_,
       "timestamp": np.int64}


def _cols(ddl: tuple[str, ...]) -> list[list[str]]:
    return [c.split() for c in ddl]


class SeqFold(StoreFold):
    """Folds observation micro-batches into ``recursion``'s per-key state
    under ``root`` and appends its output rows, (key, *recursion.out), to
    ``output``."""

    def __init__(
        self, recursion, root: str, output: str, value_col: str | None = "value",
        key: str = "user_id", ts: str = "ts",
    ) -> None:
        super().__init__(root, tiers=(STATE,))
        self.output = output
        self.rec = recursion
        self.value_col = value_col
        self.key = key
        self.ts = ts

    def _publish(self, spark: SparkSession, version: int) -> None:
        """Move a committed version's output files into the output table.
        Idempotent: a moved file is gone from the store's directory."""
        staged = self.store.entry(self.table(OUT), version)
        if staged is None:
            return
        os.makedirs(self.output, exist_ok=True)
        for f in staged["files"]:
            src = os.path.join(self.root, f["path"])
            if os.path.exists(src):
                os.rename(src, os.path.join(self.output, os.path.basename(src)))

    def _fold(self, delta_obs: DataFrame, state: DataFrame | None) -> DataFrame:
        """The batch's rows plus its keys' committed state rows (``_o`` 0,
        sorted first: the watermark in t_us, the other state columns in
        st1..) -> one state row per key (``_o`` 0: t_us, st1.. and late)
        and the output rows (``_o`` 1: out0..)."""
        rec = self.rec
        st = _cols(rec.state)[1:]  # after the watermark
        out = _cols(rec.out)
        keep_nulls = not rec.drop_nulls
        v = F.col(self.value_col) if self.value_col else F.lit(None)
        obs = delta_obs if keep_nulls else delta_obs.where(v.isNotNull())
        # the NULL indicator: pandas reads NULL and NaN alike
        nn = [v.isNotNull().alias("nn")] if keep_nulls else []
        no_nn = [F.lit(False).alias("nn")] if keep_nulls else []
        obs = obs.select(
            F.col(self.key).alias("k"),
            F.lit(1).alias("_o"),
            F.coalesce(
                F.unix_micros(F.col(self.ts).cast("timestamp")), F.lit(_NO_TS)
            ).alias("t_us"),
            v.cast("double").alias("y"),
            *nn,
            *[F.lit(0).cast(t).alias(f"st{j}") for j, (_, t) in enumerate(st, 1)],
        )
        rows = obs
        if state is not None:
            rows = (
                state.join(
                    obs.select(F.col("k").alias(self.key)).distinct(),
                    self.key, "left_semi",
                )
                .select(
                    F.col(self.key).alias("k"), F.lit(0).alias("_o"),
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
            watermark = np.where(has_state, t_us[starts], _NO_TS)
            accepted = (o == 1) & (t_us > np.repeat(watermark, sizes))
            n_acc = np.add.reduceat(accepted.astype(np.int64), starts)
            ys = pdf["y"].to_numpy(dtype=np.float64)[accepted]
            if keep_nulls:
                ys = np.where(pdf["nn"].to_numpy()[accepted], ys, None)
            y_acc, t_acc = ys.tolist(), t_us[accepted].tolist()
            # each key's carried state; a key without state keeps
            # (_NO_TS, 0, ...) unless it folds a row
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
                head = np.zeros(n_keys, dt)
                if dt is np.int64 and None in vals:
                    # numpy has no NULL long: a nullable column, built only
                    # where a fold returned None
                    frame[f"out{j}"] = pd.array([*head.tolist(), *vals], "Int64")
                else:
                    frame[f"out{j}"] = np.concatenate((head, np.asarray(vals, dt)))
            return pd.DataFrame(frame)

        return map_sorted_groups(rows, "k", ("_o", "t_us", "y"), fold, schema)

    def _stage(self, delta_obs: DataFrame, stored: dict[str, DataFrame] | None):
        """Stage the batch's output rows and the new state version, with
        the ``<name>_<emits>``, ``<name>_late`` and ``<name>_state``
        counts; None for a batch with no row to fold."""
        state = stored[STATE] if stored is not None else None
        folded = self._fold(delta_obs, state).localCheckpoint(eager=True)
        n_keys, n_out, n_late = folded.agg(
            F.count(F.when(F.col("_o") == 0, 1)),
            F.count(F.when(F.col("_o") == 1, 1)),
            F.coalesce(F.sum("late"), F.lit(0)),
        ).first()
        if not n_keys:
            return None
        ttype = delta_obs.schema[self.ts].dataType
        out = folded.where(F.col("_o") == 1).select(
            F.col("k").alias(self.key),
            *[
                (F.timestamp_micros(f"out{j}").cast(ttype) if t == "timestamp"
                 else F.col(f"out{j}")).alias(self.ts if c == "ts" else c)
                for j, (c, t) in enumerate(_cols(self.rec.out))
            ],
        )
        new_state = folded.where(
            (F.col("_o") == 0) & (F.col("t_us") > _NO_TS)
        ).select(
            F.col("k").alias(self.key),
            F.col("t_us").alias("last_ts_us"),
            *[F.col(f"st{j}").alias(c)
              for j, (c, _) in enumerate(_cols(self.rec.state)[1:], 1)],
        )
        if state is not None:
            touched = folded.where(F.col("_o") == 0).select(
                F.col("k").alias(self.key)
            )
            new_state = state.join(touched, self.key, "left_anti").unionByName(
                new_state
            )
        tables = {self.table(OUT): self.store.stage(out, self.table(OUT)),
                  self.table(STATE): self.store.stage(new_state, self.table(STATE))}
        name = self.rec.name
        counts = {
            f"{name}_{self.rec.emits}": n_out,
            f"{name}_late": n_late,
            f"{name}_state": written_rows(tables[self.table(STATE)]),
        }
        return tables, counts, None


def run_seq_fold(
    spark: SparkSession,
    recursion,
    input_path: str,
    output_path: str,
    checkpoint: str,
    schema: str | StructType,
    value_col: str | None = "value",
    key: str = "user_id",
    ts: str = "ts",
) -> SeqFold:
    """Run one AvailableNow pass: the observation files under
    ``input_path`` that arrived since the last pass are folded through
    ``recursion`` into its state under ``<checkpoint>/<name>_state`` and
    its output rows appended to ``output_path`` (``value_col`` None: the
    recursion reads no value). Returns the fold (its state and lineage
    rows)."""
    fold = SeqFold(
        recursion, f"{checkpoint}/{recursion.name}_state", output_path,
        value_col=value_col, key=key, ts=ts,
    )
    if os.path.exists(f"{output_path}/_spark_metadata"):
        # a file-sink log makes readers ignore every file it does not list
        raise ValueError(
            f"{output_path} was written by Spark's file sink; fold into a new "
            "output and checkpoint"
        )
    if os.path.exists(f"{checkpoint}/state"):
        # a stateful operator's checkpoint: Spark would resume its offsets
        # while every key restarted from no state here
        raise ValueError(
            f"{checkpoint} holds a stateful operator's state; fold into a new "
            "output and checkpoint"
        )
    fold.run(spark, input_path, checkpoint, schema)
    return fold
