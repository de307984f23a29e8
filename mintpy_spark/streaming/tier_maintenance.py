"""Streaming continuous-aggregate maintenance: the full production loop.

``readStream(pages/obs dir) -> foreachBatch(refresh_tiers_incremental)``:
each micro-batch is a late/new-observation delta folded into the STORED
tier tables by partial-wise merge (finest tier) + dirty-bucket cascade
refresh (coarser tiers) — see operators/rollup.py.

Crash safety — foreachBatch is only AT-LEAST-once (the stream checkpoint
commits after the callback returns), so the fold must be idempotent and
the store must never be half-written. Both come from the engine's table
store (sources/tables.py), one manifest-committed version per batch:

* batch N stages ALL tiers, computed from the last COMMITTED version, as
  new immutable files, then commits them in ONE manifest rename, as
  version N;
* a replay of batch N once version N is committed is skipped outright
  (the guard is ``latest >= N``);
* a crash before the rename leaves the previous version authoritative and
  the staged files unreferenced — the replay recomputes version N from it,
  and ``expire`` deletes the orphans;
* readers plan from one manifest, so they never see a partial fold or a
  mix of two. Expiry keeps the last two versions (the current one plus
  the one a crashed-then-replayed batch would recompute from).

The maintained tiers therefore equal a batch rebuild over everything ever
ingested (verified by tests/test_streaming.py, including a replay test).

Why foreachBatch and not a streaming aggregation: the watermark path
(rollup_stream.py) FINALIZES buckets and drops later arrivals — right for
append-only emission; tier MAINTENANCE must keep every bucket updatable
forever, which is state Structured Streaming cannot hold. foreachBatch
turns each micro-batch into a bounded batch job against durable tables —
the lambda-architecture merge loop, with the delta-proportional cost the
north rule's continuous aggregates require.

Scale: per batch, cost = delta aggregation + touched-cell rewrite. The
stored tier tables should be bucketed on the key (sources/bucketed.py) so
the merge joins co-locate.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mintpy_spark.operators.rollup import build_tiers, refresh_tiers_incremental
from mintpy_spark.plans.checkpoint import CheckpointTable
from mintpy_spark.sources.tables import TableStore

TIERS = ("1h", "1d", "30d")


def merged(
    deltas: dict[str, DataFrame],
    stored: dict[str, DataFrame] | None,
    merge: Callable[[str, DataFrame], DataFrame],
) -> dict[str, DataFrame]:
    """Each table's new version for a mergeable-sketch fold: its delta,
    merged (``merge(table, stored ∪ delta)``) into the stored version when
    there is one, materialized."""
    if stored is not None:
        deltas = {t: merge(t, stored[t].unionByName(d)) for t, d in deltas.items()}
    return {t: d.localCheckpoint(eager=True) for t, d in deltas.items()}


class TierMaintainer:
    """Holds the stored-tier locations and applies one delta per call.
    Subclasses keep the fold and override ``_compute`` (the new tables
    from the delta and the committed ones)."""

    #: skip a replayed batch whose version is already committed
    guard = True

    def __init__(
        self, root: str, value_col: str = "text_length",
        key: str = "url", ts: str = "warc_ts", tiers: tuple[str, ...] = TIERS,
    ) -> None:
        self.root = root
        self.value_col = value_col
        self.key = key
        self.ts = ts
        self.tiers = tiers
        self.store = TableStore(root)
        # per-batch lineage metrics — the maintenance twin of the batch
        # pipeline's checkpoint table (plans/checkpoint.py): every fold
        # records (batch_id, tier, rows, wall) so operators can audit what
        # each refresh touched and when
        self.metrics = CheckpointTable(f"{root}/_maintenance_metrics")

    @staticmethod
    def table(tier: str) -> str:
        """The store table holding ``tier``."""
        return f"tier_{tier}"

    def committed_version(self, spark: SparkSession) -> int | None:
        """Highest committed batch id, or None."""
        return self.store.latest()

    def versions(self, spark: SparkSession) -> list[int]:
        """All committed, still-retained versions, oldest first (expiry
        keeps the latest two — the snapshot set available for time
        travel)."""
        return self.store.versions()

    def read_tier(
        self, spark: SparkSession, tier: str, version: int | None = None
    ) -> DataFrame:
        """Snapshot read: the latest committed version by default, or an
        explicit retained ``version`` for time travel (the Iceberg
        snapshot-id read; expiry bounds how far back is retained). Raises
        FileNotFoundError before the first commit or for a version that is
        not retained."""
        return self.store.read_version(spark, self.table(tier), version)

    def read_realtime(
        self, spark: SparkSession, tier: str, tail_obs: DataFrame
    ) -> DataFrame:
        """Real-time continuous aggregate: the committed tier partials
        unioned with an on-the-fly aggregation of the NOT-yet-folded
        observation tail, merged partial-wise — readers see exact
        up-to-the-second buckets without waiting for the next maintenance
        fold (TimescaleDB's materialized_only=false read path). Cost:
        tier scan + tail-proportional aggregation; the tail is one
        micro-batch, so this stays cheap at any stored scale."""
        from mintpy_spark.operators.rollup import (
            _merge_partials,
            _partial_cols,
            rollup_from_obs,
        )

        stored = self.read_tier(spark, tier)
        # the tail must carry the SAME partial set as the stored tier:
        # a variance-capable store (vsumsq) unioned with a tail built
        # without it would fail unionByName on the missing column
        tail = rollup_from_obs(
            tail_obs, self.value_col, tier, key=self.key, ts=self.ts,
            with_sq=("vsumsq" in stored.columns),
        )
        cols = [self.key, "bucket_start", *_partial_cols(stored)]
        return _merge_partials(
            stored.select(*cols).unionByName(tail.select(*cols)), self.key
        )

    def _commit(self, spark: SparkSession, version: int, tables: dict) -> None:
        """Commit the staged ``tables`` (store table -> entry) as
        ``version``: one manifest rename."""
        self.store.commit(tables, version=version)

    def _gc(self, spark: SparkSession) -> None:
        """Expire all but the latest two versions and every file only they
        (or a crashed fold) wrote."""
        self.store.expire(keep_last=2)

    def _compute(
        self, delta_obs: DataFrame, stored: dict[str, DataFrame] | None,
        with_sq: bool,
    ) -> dict[str, DataFrame]:
        """The new version of each tier: built from the delta on the first
        fold, else the delta merged into the committed tiers (the refresh
        materializes each tier as it builds the next one from it)."""
        if stored is None:
            new = build_tiers(
                delta_obs, self.value_col, tiers=self.tiers,
                key=self.key, ts=self.ts, with_sq=with_sq,
            )
            return {t: new[t].localCheckpoint(eager=True) for t in self.tiers}
        return refresh_tiers_incremental(
            stored, delta_obs, self.value_col, tiers=self.tiers,
            key=self.key, ts=self.ts,
        )

    def apply_delta(
        self, delta_obs: DataFrame, batch_id: int = 0, with_sq: bool = False
    ) -> None:
        """One idempotent maintenance step: stage a NEW version of every
        table computed from the last COMMITTED version, then commit it as
        version ``batch_id``. Replays of an already-committed batch are
        skipped (unless ``guard`` is off); replays of a crashed batch
        recompute from the still-authoritative previous version (see
        module docstring). ``with_sq`` makes the INITIAL build
        variance-capable (vsumsq); later folds inherit the stored partial
        set automatically."""
        spark = delta_obs.sparkSession
        committed = self.committed_version(spark)
        if self.guard and committed is not None and committed >= batch_id:
            return  # replay of a committed batch: already folded
        if delta_obs.isEmpty():
            return
        t0 = time.time()
        stored = None
        if committed is not None:
            stored = {t: self.read_tier(spark, t, committed) for t in self.tiers}
        new = self._compute(delta_obs, stored, with_sq)
        tables = {self.table(t): self.store.stage(new[t], self.table(t))
                  for t in self.tiers}
        self._commit(spark, batch_id, tables)
        self._gc(spark)
        wall_ms = int((time.time() - t0) * 1000)
        self.metrics.append(
            [
                {
                    "run_id": f"batch{batch_id}",
                    "stage": f"maintain_{t}",
                    "part_id": int(batch_id),
                    "input_fp": "delta",
                    "row_count": sum(f["rows"] for f in tables[self.table(t)]["files"]),
                    "wall_ms": wall_ms,
                    "status": "complete",
                }
                for t in self.tiers
            ]
        )

    def foreach_batch(self):
        """The writeStream.foreachBatch callable."""

        def fn(batch_df: DataFrame, batch_id: int) -> None:
            self.apply_delta(batch_df, batch_id)

        return fn


def maintain_tiers(
    spark: SparkSession,
    input_path: str,
    store_root: str,
    checkpoint: str,
    schema: str = "url string, warc_ts timestamp, text_length long",
    value_col: str = "text_length",
) -> None:
    """Run one AvailableNow maintenance pass: new files since the last
    checkpoint are folded into the stored tiers and the query stops."""
    m = TierMaintainer(store_root, value_col=value_col)
    src = spark.readStream.schema(schema).parquet(input_path)
    q = (
        src.writeStream.foreachBatch(m.foreach_batch())
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
