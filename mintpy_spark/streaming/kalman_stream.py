"""Streaming Kalman local-level filter: a foreachBatch fold over a
versioned per-key state table.

Each micro-batch of observations (key, ts, value) is folded into the
committed per-key state (last_ts_us, rn, m, p):

1. the committed state rows of the batch's keys are semi-joined in
   (untouched keys stay on disk);
2. each key's state row, then its new rows in (ts, value) order, run
   through ``operators.kalman.LocalLevel`` on the sorted-group seam
   (``operators.seqstate.map_sorted_groups``) — the recursion object the
   batch filter ``kalman_level`` uses, so stream == batch holds by
   construction;
3. the batch's levels, a new state version (touched keys refolded, the
   rest carried by an anti-join) and its lineage rows are written, the
   first two under ``v{N}/``, and committed with TierMaintainer's
   ``_commits/v{N}`` marker;
4. after the marker, the levels files move into the output table.

Where the state lives: ``<checkpoint>/kalman_state``, beside Spark's own
checkpoint files and outside its ``state/`` subdirectory —
``v{N}/tier_state`` (the state table), ``v{N}/tier_levels`` (the batch's
levels until they are moved), ``_commits/`` and ``_maintenance_metrics``
(per-batch lineage rows: ``kalman_levels``, ``kalman_late``,
``kalman_state``).

Why not ``applyInPandasWithState``: it builds pandas frames, a GroupState
round trip and an output frame for every touched key of every batch —
about 4.2 ms of Python worker CPU per key on a 4-vCPU host, of which the
fold itself is about 1.3 ms — so a 2 000-row delta cost 1.6–2.0 CPU s
over 10 keys and 9.8–11.2 CPU s over 2 000 keys. Here a batch pays one
Arrow hand-off per chunk of keys, as the batch filter does.

Crash safety (foreachBatch is at-least-once): a replay of a committed
batch only finishes moving its levels (a crash between the marker and
the move); a replay of an uncommitted batch recomputes v{N} from the
still-authoritative previous version and overwrites the orphans. Readers
of the output table see no level before its batch commits, and no level
twice (tests/test_kalman_stream.py kills the fold at each step); the move
renames one file at a time, so a concurrent reader may see part of a
batch. A replayed batch appends its lineage rows again with the same
counts; readers take one row per ``part_id``
(``CheckpointTable.stage_metrics``).

Late-row policy: a row whose ts is at or behind its key's committed
watermark ``last_ts_us`` (a replay redelivery or an out-of-order arrival)
carries no update, and each batch records how many it skipped in its
``kalman_late`` lineage row; a NULL ts counts as late. Rows of one batch
with equal ts are all folded, in (ts, value) order, as the batch filter
ranks them. NULL values carry no update (the batch filter's
where-clause); a NaN value is folded and poisons later levels, as in
batch. A NULL key raises (the sorted-group seam's contract).

Scale: state is one row per key; each batch shuffles the delta plus its
keys' state rows, and a carried key's fold continues from its own
(rn, m, p), so its cost is proportional to its new rows, not to its
history. Each batch does rewrite the whole state table — O(keys), like the
tier store's rewrite, at about 1/40 of the tiers' size.

Reference analog: update-mode incremental processing (smallbaselineApp
run_or_skip) — fold new epochs into carried state, never re-read
history.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mintpy_spark.operators.kalman import LocalLevel
from mintpy_spark.operators.seqstate import map_sorted_groups
from mintpy_spark.streaming.tier_maintenance import TierMaintainer

STATE = "state"
LEVELS = "levels"
# the watermark of a key without state; also where a NULL ts sorts
_NO_TS = int(np.iinfo(np.int64).min)


class KalmanFold(TierMaintainer):
    """Folds observation micro-batches into the per-key Kalman state under
    ``root`` and appends the levels, (key, rn, ts, level), to ``output``."""

    def __init__(
        self, root: str, output: str, value_col: str = "value",
        key: str = "user_id", ts: str = "ts", q: float = 0.04, r: float = 1.0,
    ) -> None:
        super().__init__(root, value_col=value_col, key=key, ts=ts, tiers=(STATE,))
        self.output = output
        self.model = LocalLevel(q, r)

    def _publish(self, spark: SparkSession, version: int) -> None:
        """Move a committed version's levels files into the output table.
        Idempotent: a moved file is gone from the version directory."""
        fs, staged = self._fs(spark, self._version_path(version, LEVELS))
        if not fs.exists(staged):
            return
        fs.mkdirs(self._fs(spark, self.output)[1])
        for st in fs.listStatus(staged):
            name = st.getPath().getName()
            dest = self._fs(spark, f"{self.output}/{name}")[1]
            if name.endswith(".parquet") and not fs.rename(st.getPath(), dest):
                raise OSError(f"could not move {st.getPath()} to {dest}")

    def _fold(self, delta_obs: DataFrame, state: DataFrame | None) -> DataFrame:
        """The batch's rows plus its keys' committed state rows (``_o`` 0,
        sorted first: last_ts in t_us, m in y, rn, p) -> one state row per
        key (``_o`` 0: the same columns plus late) and one level row per
        accepted observation (``_o`` 1: t_us, level in y, rn)."""
        obs = delta_obs.where(F.col(self.value_col).isNotNull()).select(
            F.col(self.key).alias("k"),
            F.lit(1).alias("_o"),
            F.coalesce(
                F.unix_micros(F.col(self.ts).cast("timestamp")), F.lit(_NO_TS)
            ).alias("t_us"),
            F.col(self.value_col).cast("double").alias("y"),
            F.lit(None).cast("long").alias("rn"),
            F.lit(None).cast("double").alias("p"),
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
                    F.col("last_ts_us").alias("t_us"), F.col("m").alias("y"),
                    "rn", "p",
                )
                .unionByName(obs)
            )
        schema = (
            f"k {dict(obs.dtypes)['k']}, _o int, t_us long, y double, rn long, "
            "p double, late long"
        )
        model = self.model

        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            keys = pdf["k"].to_numpy()
            o = pdf["_o"].to_numpy()
            t_us = pdf["t_us"].to_numpy(dtype=np.int64)
            ys = pdf["y"].to_numpy(dtype=np.float64)
            rn_in = pdf["rn"].to_numpy()
            p_in = pdf["p"].to_numpy(dtype=np.float64)
            brk = np.flatnonzero(keys[1:] != keys[:-1]) + 1
            starts = np.concatenate(([0], brk))
            sizes = np.diff(np.concatenate((starts, [len(pdf)])))
            has_state = o[starts] == 0
            watermark = np.where(has_state, t_us[starts], _NO_TS)
            accepted = (o == 1) & (t_us > np.repeat(watermark, sizes))
            n_acc = np.add.reduceat(accepted.astype(np.int64), starts)
            base_rn = np.where(has_state, rn_in[starts], 0).astype(np.int64)
            y_acc = ys[accepted].tolist()
            levels: list[float] = []
            ms, ps = [], []
            pos = 0
            for g, s in enumerate(starts):
                n = int(n_acc[g])
                if has_state[g]:
                    lv, m, p = model.fold(
                        y_acc[pos:pos + n], int(base_rn[g]),
                        float(ys[s]), float(p_in[s]),
                    )
                else:
                    lv, m, p = model.fold(y_acc[pos:pos + n])
                levels.extend(lv)
                ms.append(m)
                ps.append(p)
                pos += n
            # rn of an accepted row: its key's carried rn + its place among
            # the key's accepted rows
            first = np.cumsum(n_acc) - n_acc
            rn = np.repeat(base_rn - first, n_acc) + np.arange(len(y_acc)) + 1
            t_acc = t_us[accepted]
            last = watermark.copy()  # the new watermark: last accepted ts
            moved = n_acc > 0
            last[moved] = t_acc[(first + n_acc - 1)[moved]]
            return pd.DataFrame({
                "k": np.concatenate((keys[starts], keys[accepted])),
                "_o": np.repeat(np.array([0, 1], np.int32), [len(starts), len(y_acc)]),
                "t_us": np.concatenate((last, t_acc)),
                "y": np.concatenate((ms, levels)),
                "rn": np.concatenate((base_rn + n_acc, rn)),
                "p": np.concatenate((ps, np.full(len(y_acc), np.nan))),
                "late": np.concatenate((sizes - has_state - n_acc,
                                        np.zeros(len(y_acc), np.int64))),
            })

        return map_sorted_groups(rows, "k", ("_o", "t_us", "y"), fold, schema)

    def apply_delta(
        self, delta_obs: DataFrame, batch_id: int = 0, with_sq: bool = False
    ) -> None:
        """One idempotent fold of ``delta_obs`` as version ``batch_id``
        (see the module docstring for the protocol)."""
        del with_sq  # tier knob; the state table has one fixed schema
        spark = delta_obs.sparkSession
        committed = self.committed_version(spark)
        if committed is not None:
            self._publish(spark, committed)  # finish a move a crash cut
            if committed >= batch_id:
                return  # replay of a committed batch: already folded
        t0 = time.time()
        state = None
        if committed is not None:
            ktype = dict(delta_obs.dtypes)[self.key]
            state = spark.read.schema(
                f"`{self.key}` {ktype}, last_ts_us long, rn long, m double, p double"
            ).parquet(self._version_path(committed, STATE))
        folded = self._fold(delta_obs, state).localCheckpoint(eager=True)
        n_keys, n_levels, n_late = folded.agg(
            F.count(F.when(F.col("_o") == 0, 1)),
            F.count(F.when(F.col("_o") == 1, 1)),
            F.coalesce(F.sum("late"), F.lit(0)),
        ).first()
        if not n_keys:
            return  # no non-NULL value in the batch: nothing to fold
        ttype = delta_obs.schema[self.ts].dataType
        folded.where(F.col("_o") == 1).select(
            F.col("k").alias(self.key),
            "rn",
            F.timestamp_micros("t_us").cast(ttype).alias(self.ts),
            F.col("y").alias("level"),
        ).write.mode("overwrite").parquet(self._version_path(batch_id, LEVELS))
        new_state = folded.where((F.col("_o") == 0) & (F.col("rn") > 0)).select(
            F.col("k").alias(self.key),
            F.col("t_us").alias("last_ts_us"),
            "rn",
            F.col("y").alias("m"),
            "p",
        )
        if state is not None:
            touched = folded.where(F.col("_o") == 0).select(
                F.col("k").alias(self.key)
            )
            new_state = state.join(touched, self.key, "left_anti").unionByName(
                new_state
            )
        new_state.write.mode("overwrite").parquet(
            self._version_path(batch_id, STATE)
        )
        # lineage before the marker: a crash after it cannot lose the
        # batch's counts (a replay of an uncommitted batch appends the
        # same counts again)
        counts = {
            "kalman_levels": int(n_levels),
            "kalman_late": int(n_late),
            "kalman_state": self._written_rows(batch_id, STATE),
        }
        wall_ms = int((time.time() - t0) * 1000)
        self.metrics.append([
            {
                "run_id": f"batch{batch_id}",
                "stage": stage,
                "part_id": int(batch_id),
                "input_fp": "delta",
                "row_count": n,
                "wall_ms": wall_ms,
                "status": "complete",
            }
            for stage, n in counts.items()
        ])
        self._commit(spark, batch_id)
        self._publish(spark, batch_id)
        self._gc(spark)


def run_kalman_fold(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint: str,
    schema: str,
    value_col: str = "value",
    key: str = "user_id",
    ts: str = "ts",
    q: float = 0.04,
    r: float = 1.0,
) -> KalmanFold:
    """Run one AvailableNow pass: the observation files under
    ``input_path`` that arrived since the last pass are folded into the
    state under ``<checkpoint>/kalman_state`` and their levels appended to
    ``output_path``. Returns the fold (its state and lineage rows)."""
    fold = KalmanFold(
        f"{checkpoint}/kalman_state", output_path, value_col=value_col,
        key=key, ts=ts, q=q, r=r,
    )
    fs, sink_log = fold._fs(spark, f"{output_path}/_spark_metadata")
    if fs.exists(sink_log):
        # a file-sink log makes readers ignore every file it does not list
        raise ValueError(
            f"{output_path} was written by Spark's file sink; fold into a new "
            "output and checkpoint"
        )
    fs, op_state = fold._fs(spark, f"{checkpoint}/state")
    if fs.exists(op_state):
        # a stateful operator's checkpoint: Spark would resume its offsets
        # while every key restarted at rn 1 here
        raise ValueError(
            f"{checkpoint} holds a stateful operator's state; fold into a new "
            "output and checkpoint"
        )
    query = (
        spark.readStream.schema(schema).parquet(input_path)
        .writeStream.foreachBatch(fold.foreach_batch())
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return fold
