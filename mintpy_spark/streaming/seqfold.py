"""One streaming fold for every per-key sequential recursion: a
foreachBatch fold over a versioned per-key state table.

The engine's one per-key streaming mechanism. A recursion object — one of
five: ``operators.kalman.LocalLevel``, ``operators.holtwinters.HoltWinters``,
``operators.stats.Welford``, ``operators.crawlsched.TokenBucket`` and
``operators.sessionize.GapSessions`` — declares:

* ``name`` and ``emits``: its state lives under
  ``<checkpoint>/<name>_state`` and each batch records the lineage rows
  ``<name>_<emits>``, ``<name>_late`` and ``<name>_state``;
* ``state``: its per-key state columns ("name type"); the first is
  ``last_ts_us long``, the key's watermark (the ts of its last folded row);
* ``out``: its output columns; a ``timestamp`` column is folded as
  microseconds and written in the input's ts type, and a column named
  ``ts`` takes the input's ts column name;
* ``drop_nulls``: whether rows with a NULL value are dropped before the
  fold, or kept and handed to ``fold`` as None;
* ``fold(ts_us, values, state) -> (out columns, new state)``: one key's
  next rows in (ts, value) order; ``state`` is None for a new key.

The runner is shared too: ``operators.seqstate.fold_groups`` runs a
recursion over each key's rows for this fold, which hands it each key's
committed state, and for the batch operators of the first four
(``kalman_level``, ``holt_winters_additive``, ``welford_moments``,
``token_bucket``), which hand it none. So for those four stream == batch
holds by construction: the same rows reach the same ``fold`` in the same
order, under the same late-row policy (below). ``GapSessions`` sits
beside a zero-Python SQL window (``sessionize``): there stream == batch
is checked by tests (tests/test_seqfold.py), not by construction.

Each micro-batch of observations (key, ts, value) runs the engine's one
fold step (``StoreFold.apply_delta``, streaming/tier_maintenance.py); this
module supplies what the recursion computes (``_stage``, a
``fold_groups`` call and its two projections, ``fold_outputs`` and
``fold_states``):

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
replayed uncommitted batch appends the same counts again, and per stage
and batch the row appended last decides (``CheckpointTable.stage_metrics``). The move into
the output directory is the one step outside the store: plain-parquet
readers (``filter_job``, the benchmark) read that directory, and it
renames one file at a time, so a concurrent reader may see part of a
batch.

Late-row policy: a row whose ts is at or behind its key's committed
watermark (a replay redelivery or an out-of-order arrival) carries no
update, and each batch records how many it skipped in its ``<name>_late``
lineage row; a NULL ts counts as late. The runner applies the policy, so
the batch operators skip a NULL-ts row too (a batch run has no committed
watermark, so nothing else is late there). Rows of one batch with equal
ts are all folded, in (ts, value) order, as the batch operators rank
them. With ``drop_nulls`` a NULL value carries no update; a NaN value is
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mintpy_spark.operators.seqstate import fold_groups, fold_outputs, fold_states
from mintpy_spark.streaming.tier_maintenance import StoreFold, written_rows

STATE = "state"
# the store table holding a batch's output rows until they are moved
OUT = "levels"


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

    def _stage(self, delta_obs: DataFrame, stored: dict[str, DataFrame] | None):
        """Stage the batch's output rows and the new state version, with
        the ``<name>_<emits>``, ``<name>_late`` and ``<name>_state``
        counts; None for a batch with no row to fold."""
        state = stored[STATE] if stored is not None else None
        folded = fold_groups(
            delta_obs, self.rec, self.key, self.ts, self.value_col, state
        ).localCheckpoint(eager=True)
        n_keys, n_out, n_late = folded.agg(
            F.count(F.when(F.col("_o") == 0, 1)),
            F.count(F.when(F.col("_o") == 1, 1)),
            F.coalesce(F.sum("late"), F.lit(0)),
        ).first()
        if not n_keys:
            return None
        ttype = delta_obs.schema[self.ts].dataType
        out = fold_outputs(folded, self.rec, self.key, self.ts, ttype)
        new_state = fold_states(folded, self.rec, self.key)
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
