"""Streaming continuous-aggregate maintenance: the full production loop.

``readStream(pages/obs dir) -> foreachBatch(refresh_tiers_incremental)``:
each micro-batch is a late/new-observation delta folded into the STORED
tier tables by partial-wise merge (finest tier) + dirty-bucket cascade
refresh (coarser tiers) — see operators/rollup.py.

Crash safety — foreachBatch is only AT-LEAST-once (the stream checkpoint
commits after the callback returns), so the fold must be idempotent and
the store must never be half-written. Both come from versioned snapshots
with atomic commit markers:

* batch N writes ALL tiers into a fresh ``v{N}/`` directory set computed
  from the last COMMITTED version, then atomically creates the marker
  ``_commits/v{N}`` (single-file create);
* a replay of batch N after the marker exists is skipped outright;
* a crash before the marker leaves the previous version authoritative —
  the replay recomputes v{N} from it and overwrites the orphan dirs;
* readers resolve the max committed marker, so they never observe a
  partial write. Old versions are garbage-collected, keeping the last
  two. (On the target deployment Iceberg snapshot commits provide exactly
  this; the marker scheme is the same protocol over a filesystem.)

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

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from mintpy_spark.operators.rollup import build_tiers, refresh_tiers_incremental
from mintpy_spark.plans.checkpoint import CheckpointTable

TIERS = ("1h", "1d", "30d")


class TierMaintainer:
    """Holds the stored-tier locations and applies one delta per call."""

    def __init__(
        self, root: str, value_col: str = "text_length",
        key: str = "url", ts: str = "warc_ts", tiers: tuple[str, ...] = TIERS,
    ) -> None:
        self.root = root
        self.value_col = value_col
        self.key = key
        self.ts = ts
        self.tiers = tiers
        # per-batch lineage metrics — the maintenance twin of the batch
        # pipeline's checkpoint table (plans/checkpoint.py): every fold
        # records (batch_id, tier, rows, wall) so operators can audit what
        # each refresh touched and when
        self.metrics = CheckpointTable(f"{root}/_maintenance_metrics")

    # -- filesystem helpers (hadoop FS API: works for any Spark-supported
    #    filesystem, not just local paths) --------------------------------

    def _fs(self, spark: SparkSession, path: str):
        p = spark._jvm.org.apache.hadoop.fs.Path(path)
        return p.getFileSystem(spark._jsc.hadoopConfiguration()), p

    def committed_version(self, spark: SparkSession) -> int | None:
        """Highest batch id with a commit marker, or None."""
        fs, p = self._fs(spark, f"{self.root}/_commits")
        if not fs.exists(p):
            return None
        best = None
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            # isdigit guard (same as _gc): a stray non-numeric v* entry
            # (object-store rename artifact, hand-placed v6.bak) must not
            # crash every read/fold with ValueError
            if name.startswith("v") and name[1:].isdigit():
                v = int(name[1:])
                best = v if best is None or v > best else best
        return best

    def _version_path(self, version: int, tier: str) -> str:
        return f"{self.root}/v{version:012d}/tier_{tier}"

    def versions(self, spark: SparkSession) -> list[int]:
        """All committed, still-retained versions, oldest first (GC keeps
        the latest two — the snapshot set available for time travel)."""
        fs, p = self._fs(spark, f"{self.root}/_commits")
        if not fs.exists(p):
            return []
        retained = []
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith("v") and name[1:].isdigit():
                v = int(name[1:])
                _fs2, vp = self._fs(spark, f"{self.root}/v{v:012d}")
                if fs.exists(vp):
                    retained.append(v)
        return sorted(retained)

    def read_tier(
        self, spark: SparkSession, tier: str, version: int | None = None
    ) -> DataFrame:
        """Snapshot read: the latest committed version by default, or an
        explicit retained ``version`` for time travel (the Iceberg
        snapshot-id read; GC bounds how far back is retained)."""
        if version is None:
            version = self.committed_version(spark)
            if version is None:
                raise FileNotFoundError(
                    f"no committed tier version under {self.root}"
                )
        elif version not in self.versions(spark):
            raise FileNotFoundError(
                f"version {version} not committed/retained under {self.root} "
                f"(retained: {self.versions(spark)})"
            )
        return spark.read.parquet(self._version_path(version, tier))

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

    def _commit(self, spark: SparkSession, version: int) -> None:
        fs, marker = self._fs(spark, f"{self.root}/_commits/v{version:012d}")
        fs.mkdirs(marker.getParent())
        out = fs.create(marker, True)
        out.close()

    def _gc(self, spark: SparkSession) -> None:
        """Drop all version dirs except the latest two committed (the
        current version plus the one a crashed-then-replayed batch would
        recompute from), AND their commit markers — markers for GC'd
        versions are dead weight that would otherwise accumulate one per
        batch forever, making every committed_version()/versions() call
        an O(all-history) listing (billed and slow on object stores)."""
        fs, root = self._fs(spark, self.root)
        if not fs.exists(root):
            return
        versions = sorted(
            int(st.getPath().getName()[1:])
            for st in fs.listStatus(root)
            if st.getPath().getName().startswith("v")
            and st.getPath().getName()[1:].isdigit()
        )
        for v in versions[:-2]:  # keep latest + previous
            _fs2, p = self._fs(spark, f"{self.root}/v{v:012d}")
            fs.delete(p, True)
            # marker AFTER dir: a crash in between leaves a marker for a
            # missing dir, which versions() already filters out
            _fs3, mk = self._fs(spark, f"{self.root}/_commits/v{v:012d}")
            fs.delete(mk, False)

    def apply_delta(
        self, delta_obs: DataFrame, batch_id: int = 0, with_sq: bool = False
    ) -> None:
        """One idempotent maintenance step: merge the delta into a NEW
        tier version computed from the last COMMITTED version, then commit
        atomically. Replays of an already-committed batch are skipped;
        replays of a crashed batch recompute from the still-authoritative
        previous version (see module docstring). ``with_sq`` makes the
        INITIAL build variance-capable (vsumsq); later folds inherit the
        stored partial set automatically."""
        spark = delta_obs.sparkSession
        committed = self.committed_version(spark)
        if committed is not None and committed >= batch_id:
            return  # replay of a committed batch: already folded
        if delta_obs.isEmpty():
            return
        import time as _time

        t0 = _time.time()
        # materialize before writing: the plans read the committed version
        # (never overwritten here, so a crashed partial write of v{N}
        # cannot corrupt what a replay reads). The refresh materializes
        # each tier as it builds the next one from it.
        if committed is None:
            new = build_tiers(
                delta_obs, self.value_col, tiers=self.tiers,
                key=self.key, ts=self.ts, with_sq=with_sq,
            )
            new = {t: new[t].localCheckpoint(eager=True) for t in self.tiers}
        else:
            stored = {
                t: spark.read.parquet(self._version_path(committed, t))
                for t in self.tiers
            }
            new = refresh_tiers_incremental(
                stored, delta_obs, self.value_col, tiers=self.tiers,
                key=self.key, ts=self.ts,
            )
        for t in self.tiers:
            new[t].write.mode("overwrite").parquet(self._version_path(batch_id, t))
        self._commit(spark, batch_id)
        self._gc(spark)
        wall_ms = int((_time.time() - t0) * 1000)
        self.metrics.append(
            [
                {
                    "run_id": f"batch{batch_id}",
                    "stage": f"maintain_{t}",
                    "part_id": int(batch_id),
                    "input_fp": "delta",
                    "row_count": self._written_rows(batch_id, t),
                    "wall_ms": wall_ms,
                    "status": "complete",
                }
                for t in self.tiers
            ]
        )

    def _written_rows(self, version: int, tier: str) -> int:
        """Rows of a written tier version, summed from its Parquet footers
        (no Spark job; the lineage table is local, so the store is too)."""
        path = self._version_path(version, tier)
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
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
