"""Streaming sketch-tier maintenance: HDR quantile and Count-Min
frequency sketches folded incrementally by the SAME fold as the stored
value tiers (tier_maintenance.py): one manifest-committed store version
per batch.

Why this is trivially correct where the value tiers needed care: both
sketches are PURELY ADDITIVE — merging a delta sketch is a counter sum
(hdr_merge / cms_merge), so the fold is associative and commutative and
a micro-batch can be aggregated independently on its executors before
one bounded merge against the stored table. What additivity does NOT
give is replay safety: foreachBatch is at-least-once, and re-adding a
replayed delta DOUBLE-counts (unlike min/max partials, which are
idempotent under re-merge). The committed-version guard inherited from
TierMaintainer is therefore load-bearing here, not just defensive: a
replay of a committed batch is skipped outright, and a batch killed before
its manifest rename recomputes from the still-authoritative previous
version, its staged files never read and later expired.

Scale: the stored sketch table is bounded (<= 64*2^sub_bits buckets per
key for HDR; d*w counters per key for CMS) regardless of ingest volume,
so each maintenance step is delta-aggregation + a merge join against a
table that never grows past sketch width — the cheapest continuous
aggregate in the store.

Reference analog: none (MintPy has no sketch path); this rounds out the
north rule's continuous-aggregate maintenance over the engine's
mergeable-sketch family (KMV / histogram / CMS / HDR).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mintpy_spark.operators.sketch import hdr_merge, hdr_tier
from mintpy_spark.streaming.tier_maintenance import TierMaintainer, merged


class HdrSketchMaintainer(TierMaintainer):
    """Maintains ONE stored table: the per-(key-day) HDR quantile
    sketch of ``value_col``, updated delta-wise by TierMaintainer's fold
    (see tier_maintenance.py docstring; replay and crash semantics are
    identical and tested). ``run`` is its AvailableNow pass over new
    files: the streaming twin of hdr_tier over everything ever
    ingested."""

    TIER_NAME = "hdr1d"

    def __init__(
        self, root: str, value_col: str = "text_length",
        key: str = "url", ts: str = "warc_ts",
    ) -> None:
        super().__init__(
            root, value_col=value_col, key=key, ts=ts,
            tiers=(self.TIER_NAME,),
        )

    def _compute(self, delta_obs, stored, with_sq):
        del with_sq  # value-tier knob; sketches carry counters only
        obs = delta_obs.select(
            F.date_trunc("day", F.col(self.ts)).alias("day"),
            F.col(self.value_col).cast("long").alias("_v"),
        )
        return merged(
            {self.TIER_NAME: hdr_tier(obs, "_v", key_cols=("day",))}, stored,
            lambda _t, both: hdr_merge(both, key_cols=("day",)),
        )

    def read_sketch(self, spark: SparkSession) -> DataFrame:
        return self.read_tier(spark, self.TIER_NAME)

    def read_realtime(self, *a, **k):  # pragma: no cover - guard only
        raise NotImplementedError(
            "read_realtime merges value-tier partials (cnt/vsum/...); a "
            "sketch store has no unfolded tail — read_sketch() gives the "
            "latest committed sketch, hdr_merge folds any live delta"
        )
