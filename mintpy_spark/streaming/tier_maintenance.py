"""The fold step every maintained store runs, and the stored value tiers.

``readStream(obs dir) -> foreachBatch(apply_delta)``: each micro-batch is
folded into durable tables by ONE step, ``StoreFold.apply_delta``, run by
the value tiers here, the sequential folds (seqfold.py) and the
near-duplicate index (dedup_stream.py). A store supplies only what it
computes (``_stage``, and a post-commit ``_publish``):

1. finish a ``_publish`` that a crash cut short;
2. skip the batch when ``latest >= batch_id``;
3. read the committed tables (``tiers``);
4. stage the new tables as new immutable files (``_stage``);
5. record the batch's lineage in ``_maintenance_metrics`` (``CheckpointTable.record``);
6. commit every staged table with ONE manifest rename, as version
   ``batch_id`` (``_commit``);
7. ``_publish``;
8. expire all but the last two versions (``_gc``).

Crash safety — foreachBatch is only AT-LEAST-once, so the step must be
idempotent and the store never half-written (sources/tables.py). A crash
before the rename leaves the previous version authoritative and the
staged files unreferenced: the replay recomputes version N from it,
appends the same lineage counts again (per stage and batch the row
appended last decides, ``CheckpointTable.stage_metrics``), and ``expire``
deletes the orphans. A crash after the rename leaves version N committed
and its replay skipped; its lineage went in before the rename, so it is
kept.
Readers plan from one manifest: never a partial fold or a mix of two.
Expiry keeps the previous version, the one a replay recomputes from.

A store and its stream checkpoint are a pair: the checkpoint's batch ids
are the store's versions, so a fresh checkpoint pointed at a folded store
(or at a ``run_pipeline`` store, whose versions count stage commits)
would have every batch skipped by step 2. ``run`` refuses that pairing:
Spark writes ``<checkpoint>/offsets/N`` before batch N runs, so a paired
store's latest version is never above the checkpoint's highest batch id.

The value tiers: each batch is merged into the STORED tiers by one
aggregation per tier, the stored partials unioned with the batch's unit
partials at that tier's bucket (merge_tier_delta in operators/rollup.py,
once per tier), so they equal a batch rebuild over everything ever
ingested (tests/test_streaming.py, with a replay test).

Why foreachBatch and not a streaming aggregation: a watermarked window
aggregation FINALIZES buckets and drops every later arrival; tier
MAINTENANCE must keep every bucket updatable forever, which is state
Structured Streaming cannot hold. foreachBatch turns each micro-batch into
a bounded batch job against durable tables — the lambda-architecture merge
loop, with the delta-proportional cost the north rule's continuous
aggregates require. The engine keeps no Structured-Streaming state at all.

Scale: per batch, each tier's write runs its own aggregation: the stored
tier shuffled once together with the delta, nothing held in the block
manager. The coarser tiers are never larger than the finest one.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from mintpy_spark.operators.rollup import merge_tier_delta
from mintpy_spark.plans.checkpoint import CheckpointTable
from mintpy_spark.sources.tables import TableStore

TIERS = ("1h", "1d", "30d")


def _last_batch(checkpoint: str) -> int:
    """The highest batch id under a stream checkpoint's ``offsets``; -1
    for a fresh checkpoint."""
    offsets = os.path.join(checkpoint, "offsets")
    if not os.path.isdir(offsets):
        return -1
    return max((int(n) for n in os.listdir(offsets) if n.isdigit()), default=-1)


def written_rows(entry: dict) -> int:
    """Rows of a staged or committed table entry, from its file footers."""
    return sum(f["rows"] for f in entry["files"])


class StoreFold:
    """A store folded one micro-batch at a time under ``root``: the shared
    fold step (``apply_delta``, see the module docstring) over the tables
    ``tiers``. A subclass supplies ``_stage`` and, if it has one, a
    post-commit step ``_publish``."""

    # the store table of tier t is PREFIX + t
    PREFIX = "tier_"

    def __init__(self, root: str, tiers: tuple[str, ...]) -> None:
        self.root = root
        self.tiers = tiers
        self.store = TableStore(root)
        self.metrics = CheckpointTable.for_fold(root)

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
        self.store.expire()

    def _stage(self, delta: DataFrame, stored: dict[str, DataFrame] | None):
        """Stage the batch: (store table -> staged entry, lineage stage ->
        rows, the step's result), or None when there is nothing to fold."""
        raise NotImplementedError

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
        self.metrics.record(
            f"batch{batch_id}", "delta",
            {stage: {batch_id: n} for stage, n in counts.items()}, wall_ms)
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
        stops. Raises ValueError, committing nothing, when the store holds
        a version above the checkpoint's highest batch id (module
        docstring)."""
        latest = self.store.latest()
        if latest is not None and latest > _last_batch(checkpoint):
            raise ValueError(
                f"store {self.root} is at version {latest}, past every batch "
                f"of stream checkpoint {checkpoint}; a store and its "
                "checkpoint are a pair, so fold into a new store or resume "
                "its own checkpoint"
            )
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
        """Real-time continuous aggregate: the committed tier with the
        NOT-yet-folded observation tail merged in (merge_tier_delta, the
        fold's own step) — readers see exact up-to-the-second buckets
        without waiting for the next maintenance fold (TimescaleDB's
        materialized_only=false read path). Cost: one tier scan plus the
        tail; the tail is one micro-batch, so this stays cheap at any
        stored scale."""
        return merge_tier_delta(
            self.read_tier(spark, tier), tail_obs, self.value_col, tier,
            key=self.key, ts=self.ts,
        )

    def _stage(self, delta: DataFrame, stored: dict[str, DataFrame] | None):
        """Each tier's new version, one aggregation of the committed tier
        (none on the first fold) and the delta, staged to replace it and
        recorded as ``maintain_<tier>``; an empty delta folds nothing."""
        if delta.isEmpty():
            return None
        tables = {}
        for t in self.tiers:
            new = merge_tier_delta(
                None if stored is None else stored[t], delta, self.value_col, t,
                key=self.key, ts=self.ts, with_sq=self.with_sq,
            )
            tables[self.table(t)] = self.store.stage(new, self.table(t))
        counts = {f"maintain_{t}": written_rows(tables[self.table(t)])
                  for t in self.tiers}
        return tables, counts, None


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
