"""The fold step every maintained store runs, and the stored value tiers.

``readStream(obs dir) -> foreachBatch(apply_delta)``: each micro-batch is
folded into durable tables by ONE step, ``StoreFold.apply_delta``, run by
the value tiers here, the sketch tables (sketch_stream.py,
presence_stream.py), the sequential folds (seqfold.py) and the
near-duplicate index (dedup_stream.py). A store supplies only what it
computes (``_compute`` or ``_stage``, and a post-commit ``_publish``):

1. finish a ``_publish`` that a crash cut short;
2. skip the batch when ``latest >= batch_id``;
3. read the committed tables (``tiers``);
4. stage the new tables as new immutable files (``_stage``);
5. append the batch's lineage rows to ``_maintenance_metrics``;
6. commit every staged table with ONE manifest rename, as version
   ``batch_id`` (``_commit``);
7. ``_publish``;
8. expire all but the last two versions (``_gc``).

Crash safety — foreachBatch is only AT-LEAST-once, so the step must be
idempotent and the store never half-written (sources/tables.py). A crash
before the rename leaves the previous version authoritative and the
staged files unreferenced: the replay recomputes version N from it,
appends the same lineage counts again (readers take one row per
``part_id``, ``CheckpointTable.stage_metrics``), and ``expire`` deletes
the orphans. A crash after the rename leaves version N committed and its
replay skipped; its lineage went in before the rename, so it is kept.
Readers plan from one manifest: never a partial fold or a mix of two.
Expiry keeps the previous version, the one a replay recomputes from.

The value tiers: each batch is merged into the STORED tiers by
partial-wise merge (finest tier) + dirty-bucket cascade refresh (coarser
tiers) — see operators/rollup.py — so they equal a batch rebuild over
everything ever ingested (tests/test_streaming.py, with a replay test).

Why foreachBatch and not a streaming aggregation: a watermarked window
aggregation FINALIZES buckets and drops every later arrival; tier
MAINTENANCE must keep every bucket updatable forever, which is state
Structured Streaming cannot hold. foreachBatch turns each micro-batch into
a bounded batch job against durable tables — the lambda-architecture merge
loop, with the delta-proportional cost the north rule's continuous
aggregates require. The engine keeps no Structured-Streaming state at all.

Scale: per batch, cost = delta aggregation + touched-cell rewrite. The
stored tier tables should be bucketed on the key (sources/bucketed.py) so
the merge joins co-locate.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


def written_rows(entry: dict) -> int:
    """Rows of a staged or committed table entry, from its file footers."""
    return sum(f["rows"] for f in entry["files"])


class StoreFold:
    """A store folded one micro-batch at a time under ``root``: the shared
    fold step (``apply_delta``, see the module docstring) over the tables
    ``tiers``. A subclass supplies ``_compute`` (the new version of each of
    its ``tiers`` from the delta and the committed ones), or overrides
    ``_stage``, and, if it has one, a post-commit step ``_publish``."""

    # the store table of tier t is PREFIX + t
    PREFIX = "tier_"

    def __init__(self, root: str, tiers: tuple[str, ...]) -> None:
        self.root = root
        self.tiers = tiers
        self.store = TableStore(root)
        # per-batch lineage (batch_id, stage, rows, wall), the twin of the
        # batch pipeline's checkpoint table (plans/checkpoint.py)
        self.metrics = CheckpointTable(f"{root}/_maintenance_metrics")

    @classmethod
    def table(cls, tier: str) -> str:
        """The store table holding ``tier``."""
        return cls.PREFIX + tier

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

    def _commit(self, spark: SparkSession, version: int, tables: dict) -> None:
        """Commit the staged ``tables`` (store table -> entry) as
        ``version``: one manifest rename."""
        self.store.commit(tables, version=version)

    def _publish(self, spark: SparkSession, version: int) -> None:
        """The post-commit step of a committed ``version``; idempotent.
        None by default."""

    def _gc(self, spark: SparkSession) -> None:
        """Expire all but the latest two versions and every file only they
        (or a crashed fold) wrote."""
        self.store.expire(keep_last=2)

    def _stage(self, delta: DataFrame, stored: dict[str, DataFrame] | None):
        """Stage the batch: (store table -> staged entry, lineage stage ->
        rows, the step's result), or None when there is nothing to fold.
        By default every tier's new version replaces it, recorded as
        ``maintain_<tier>``; an empty delta folds nothing."""
        if delta.isEmpty():
            return None
        new = self._compute(delta, stored)
        tables = {self.table(t): self.store.stage(new[t], self.table(t))
                  for t in self.tiers}
        counts = {f"maintain_{t}": written_rows(tables[self.table(t)])
                  for t in self.tiers}
        return tables, counts, None

    def apply_delta(self, delta: DataFrame, batch_id: int = 0):
        """Fold ``delta`` as version ``batch_id``: the one fold step (see
        the module docstring). Returns the store's result for the batch
        (None for a replay of a committed batch)."""
        spark = delta.sparkSession
        committed = self.committed_version(spark)
        if committed is not None:
            self._publish(spark, committed)  # finish a step a crash cut
            if committed >= batch_id:
                return None  # replay of a committed batch: already folded
        t0 = time.time()
        stored = None if committed is None else {
            t: self.read_tier(spark, t, committed) for t in self.tiers}
        staged = self._stage(delta, stored)
        if staged is None:
            return None
        tables, counts, result = staged
        # lineage before the commit: a crash after the rename skips the
        # replay, and must not take the batch's counts with it
        wall_ms = int((time.time() - t0) * 1000)
        self.metrics.append([
            {"run_id": f"batch{batch_id}", "stage": stage, "part_id": int(batch_id),
             "input_fp": "delta", "row_count": int(n), "wall_ms": wall_ms,
             "status": "complete"}
            for stage, n in counts.items()
        ])
        self._commit(spark, batch_id, tables)
        self._publish(spark, batch_id)
        self._gc(spark)
        return result

    def run(
        self, spark: SparkSession, input_path: str, checkpoint: str,
        schema: str | StructType,
    ) -> None:
        """One AvailableNow pass: the parquet files under ``input_path``
        that arrived since the last pass (Spark's stream checkpoint at
        ``checkpoint`` records which) are folded, one ``apply_delta`` per
        micro-batch with its batch id as the version, then the query
        stops."""
        (
            spark.readStream.schema(schema).parquet(input_path)
            .writeStream.foreachBatch(self.apply_delta)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


class TierMaintainer(StoreFold):
    """The stored value tiers (key, bucket_start, cnt, vsum, vmin, vmax
    [, vsumsq]) of ``value_col``. ``with_sq`` makes the first fold's build
    variance-capable (vsumsq); later folds carry the stored partial set."""

    def __init__(
        self, root: str, value_col: str = "text_length",
        key: str = "url", ts: str = "warc_ts", tiers: tuple[str, ...] = TIERS,
        with_sq: bool = False,
    ) -> None:
        super().__init__(root, tiers)
        self.value_col = value_col
        self.key = key
        self.ts = ts
        self.with_sq = with_sq

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

    def _compute(
        self, delta_obs: DataFrame, stored: dict[str, DataFrame] | None
    ) -> dict[str, DataFrame]:
        """The new version of each tier: built from the delta on the first
        fold, else the delta merged into the committed tiers (the refresh
        materializes each tier as it builds the next one from it)."""
        if stored is None:
            new = build_tiers(
                delta_obs, self.value_col, tiers=self.tiers,
                key=self.key, ts=self.ts, with_sq=self.with_sq,
            )
            return {t: new[t].localCheckpoint(eager=True) for t in self.tiers}
        return refresh_tiers_incremental(
            stored, delta_obs, self.value_col, tiers=self.tiers,
            key=self.key, ts=self.ts,
        )


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
    TierMaintainer(store_root, value_col=value_col).run(
        spark, input_path, checkpoint, schema
    )
