"""Streaming maintenance for the IDEMPOTENT sketch family: per-user
presence bitmaps and per-day HLL registers, folded delta-wise.

The interesting contrast with sketch_stream.py (HDR/CMS): those folds
are additive — replaying a committed delta DOUBLE-counts, so the
committed-version guard is load-bearing.  Presence bitmaps fold with
bit_or and HLL registers with MAX: both are associative, commutative
AND idempotent, so a replayed delta is a NO-OP by algebra, not by
bookkeeping.  The maintainer still runs the engine's one fold step
(``StoreFold.apply_delta``, tier_maintenance.py: both tables staged,
their ``maintain_*`` lineage rows appended, then ONE manifest rename per
batch; snapshot reads, time travel, expiry), but the committed-version
check is belt-and-braces here — and the test suite proves it by folding a
batch's delta again as the next version and observing the same store.
There is no ``read_realtime`` (a value-tier read): a live tail folds into
``read_presence()``/``read_hll()`` with ``presence_merge``/``hll_merge``,
both idempotent, so folding the tail repeatedly is safe.

Scale: both stored tables are bounded — <= one row per (user, 60-day
block) for presence (compressing day-level presence 60:1), <= 64
register rows per day for HLL — so each maintenance step is a bounded
delta agg + a merge join against a table that never grows with ingest
volume.

Reference analog: the nonzero/common-mask ALL-aggregate maintenance of
``objects/stack.py:972`` done continuously instead of per-run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mintpy_spark.operators.bitmap import presence_merge, presence_tier
from mintpy_spark.operators.sketch import hll_merge, hll_tier
from mintpy_spark.streaming.tier_maintenance import StoreFold, merged


class PresenceHllMaintainer(StoreFold):
    """Maintains TWO stored tables from an events-shaped stream:

    * ``presence`` — per-(user, 60-day block) presence bitmap
      (operators/bitmap.py), merged with bit_or;
    * ``hll1d`` — per-day 64-register HLL of distinct users
      (operators/sketch.py), merged with MAX.

    ``run`` is its AvailableNow pass over new event files: the streaming
    twin of presence_tier + hll_tier over everything ingested.
    """

    PRESENCE = "presence"
    HLL = "hll1d"

    def __init__(
        self, root: str, user_col: str = "user_id", ts: str = "ts",
    ) -> None:
        super().__init__(root, (self.PRESENCE, self.HLL))
        self.user_col = user_col
        self.ts = ts

    def _compute(self, delta_obs, stored):
        ev = delta_obs.select(self.user_col, self.ts)
        deltas = {
            self.PRESENCE: presence_tier(
                ev, ts_col=self.ts, key_cols=(self.user_col,)
            ),
            self.HLL: hll_tier(ev, self.user_col, "1d", ts=self.ts),
        }
        return merged(deltas, stored, self._merge)

    def _merge(self, name: str, both: DataFrame) -> DataFrame:
        if name == self.PRESENCE:
            return presence_merge(both, key_cols=(self.user_col,))
        return hll_merge(both, "1d")

    def read_presence(self, spark: SparkSession) -> DataFrame:
        return self.read_tier(spark, self.PRESENCE)

    def read_hll(self, spark: SparkSession) -> DataFrame:
        return self.read_tier(spark, self.HLL)
