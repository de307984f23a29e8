"""Incremental near-duplicate index maintenance (streaming MinHash-LSH).

Production dedup cannot re-run all-pairs LSH over the full corpus per
ingest batch; it maintains an INDEX: per micro-batch of new documents,

1. compute MinHash signatures for the batch only (row-local, zero
   shuffle — operators/dedup.minhash_signatures),
2. probe the stored signature index with the batch's band keys:
   new-vs-stored candidates from a band equi-join, new-vs-new from the
   batch's band self-join,
3. signature-verify candidates (matching-permutation fraction >=
   threshold — identical estimator to the batch operator), emit pairs,
4. append the batch's signatures to the index.

Equivalence contract (tested): the union of pairs emitted across
batches equals `dedup.minhash_near_dups` run once over everything
ingested — a pair is emitted exactly once, in the first batch where its
later member arrives.

Crash safety, with lineage: the index runs the engine's one fold step
(``StoreFold.apply_delta``, tier_maintenance.py). Each batch stages its
signature shard and its pairs as new files of the ``sig`` and ``pairs``
tables, appends its ``dedup_sig`` and ``dedup_pairs`` lineage rows, then
ONE manifest rename commits both appends as version N (the batch id). A
replayed committed batch is skipped (``latest >= N``), its lineage already
recorded; a batch killed before the rename leaves its staged files
unlisted, so the probe join never reads a half-written shard, and its
replay stages them anew. foreachBatch's at-least-once becomes
exactly-once emission; ``run`` is the AvailableNow pass over new files.

Scale shape: per batch the probe join shuffles batch-band rows against
the stored band projection — at 10^12 docs the index would be bucketed
on ``band_key`` (an Iceberg ``bucket`` partition transform) so the probe
co-locates without shuffling the stored side; the signature shard append is partition-local.
The emitted-pairs stream feeds keeper resolution / connected components
downstream (operators/dedup.dedup_components).

Reference analog: MintPy's update mode re-runs steps over grown inputs
(utils/utils1.py:691 run_or_skip); the index turns that
recompute-the-world shape into delta-proportional work, the same move
the tier maintainer makes for rollups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mintpy_spark.operators.dedup import (
    NUM_PERM,
    lsh_bands,
    minhash_signatures,
    signature_verify,
)
from mintpy_spark.streaming.tier_maintenance import StoreFold, written_rows


class DedupIndexMaintainer(StoreFold):
    """Holds the signature-index location and folds one batch per call."""

    # the index's tables are ``sig`` and ``pairs``
    PREFIX = ""

    def __init__(
        self,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        threshold: float = 0.5,
        num_perm: int = NUM_PERM,
    ) -> None:
        super().__init__(root, ("sig",))
        self.id_col = id_col
        self.text_col = text_col
        self.threshold = threshold
        self.num_perm = num_perm

    def stored_signatures(self, spark: SparkSession) -> DataFrame | None:
        """The committed signature index (None before the first shard)."""
        if not self.store.exists("sig"):
            return None
        return self.store.read(spark, "sig")

    def apply_batch(
        self, new_docs: DataFrame, batch_id: int = 0
    ) -> DataFrame | None:
        """Fold one batch; returns the emitted near-dup pairs
        (doc_a < doc_b, est_jaccard >= threshold), or None for a replay
        of an already-committed batch."""
        return self.apply_delta(new_docs, batch_id)

    def _stage(self, new_docs: DataFrame, stored: dict[str, DataFrame] | None):
        """Stage the batch's signature shard and verified pairs as
        appends, with their ``dedup_*`` counts; the pairs are the result."""
        sig_new = minhash_signatures(
            new_docs, self.id_col, self.text_col, self.num_perm
        ).localCheckpoint(eager=True)
        bands_new = lsh_bands(sig_new, self.id_col)
        old = stored["sig"] if stored is not None else None

        id_a, id_b = f"ba.{self.id_col}", f"bb.{self.id_col}"
        cands = []
        a, b = bands_new.alias("ba"), bands_new.alias("bb")
        cands.append(  # new vs new (ordered to avoid dupes/self-pairs)
            a.join(
                b,
                (F.col("ba.band_id") == F.col("bb.band_id"))
                & (F.col("ba.band_key") == F.col("bb.band_key"))
                & (F.col(id_a) < F.col(id_b)),
            ).select(
                F.col(id_a).alias("doc_a"), F.col(id_b).alias("doc_b")
            )
        )
        if old is not None:
            bands_old = lsh_bands(old, self.id_col)
            o, n = bands_old.alias("ba"), bands_new.alias("bb")
            cands.append(  # stored vs new; normalize pair order by id
                o.join(
                    n,
                    (F.col("ba.band_id") == F.col("bb.band_id"))
                    & (F.col("ba.band_key") == F.col("bb.band_key"))
                    & (F.col(id_a) != F.col(id_b)),
                ).select(
                    F.least(F.col(id_a), F.col(id_b)).alias("doc_a"),
                    F.greatest(F.col(id_a), F.col(id_b)).alias("doc_b"),
                )
            )
        cand = cands[0] if len(cands) == 1 else cands[0].unionByName(cands[1])
        cand = cand.distinct()

        all_sigs = (
            sig_new if old is None else old.unionByName(sig_new)
        )
        pairs = signature_verify(
            cand, all_sigs, self.id_col, self.num_perm, self.threshold
        ).localCheckpoint(eager=True)
        staged = {t: self.store.stage(df, t)
                  for t, df in (("sig", sig_new), ("pairs", pairs))}
        return (
            {t: self.store.appended(t, e) for t, e in staged.items()},
            {f"dedup_{t}": written_rows(e) for t, e in staged.items()},
            pairs,
        )

    def emitted_pairs(self, spark: SparkSession) -> DataFrame | None:
        if self.committed_version(spark) is None:
            return None
        return self.store.read(spark, "pairs")
