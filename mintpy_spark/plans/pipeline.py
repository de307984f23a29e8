"""The end-to-end rollup pipeline with mid-stage resume.

Stage graph (the smallbaselineApp step-list analog, defaults/template.py:24-43,
recast as DataFrame stages over tables instead of HDF5 files):

    pages -> obs -> tier_1h -> tier_1d -> tier_30d
                 \\-> blocks (compressed cold tier)
                 \\-> velocity (per-key regression summary)

Execution contract per stage:

* the stage function receives (spark, store) and returns a DataFrame that
  already carries ``part_id`` (stable hash(key) % B bucketing),
* run_stage() consults the checkpoint table: partitions already complete
  for this (stage, input_fp) are **not recomputed** — the input is filtered
  to the missing buckets only, written as one overwrite of exactly those
  partitions of the stage's table (a partition left without rows is
  dropped, so a key gone from the input leaves no stale rows), and every
  recomputed partition is recorded in the checkpoint: ``complete`` with
  its row count, or ``empty`` (row count 0) when it holds no row, so a
  rerun of a finished stage recomputes nothing and commits no store
  version. The counts are what ``write_partitions`` returns, summed
  from the Parquet footers of the files it just staged: counting a stage
  costs no second read of its output. The stage's output is then read
  back planned from the store's manifest, which costs no Spark job,
* the store commits each stage write with one manifest rename
  (``sources/tables.py``): a run killed before the rename leaves the
  previous version of the table and no checkpoint rows, one killed after
  it leaves the new version committed but unrecorded, and either way the
  rerun recomputes exactly the partitions the checkpoint does not list
  (tests/test_store_faults.py kills a stage at both points). This mirrors
  the reference's partial-write detection (ifgram_inversion.py:48-55) at
  partition rather than file granularity.

The store comes from ``open_table_store``. With an Iceberg catalog
configured it ignores ``root`` and writes the catalog's shared namespace,
while the checkpoint stays at ``<root>/_checkpoint``; runs over different
roots on one catalog therefore need their own namespace (see
``open_table_store``).

input_fp is a config/upstream fingerprint: changing it invalidates every
partition, like the reference's config-attr comparison (run_or_skip,
utils/utils1.py:691-746).

NULL url policy: a NULL ``url`` in ``pages`` is an input error, and the run
raises rather than drop or invent a series. obs and the three tiers carry
the NULL row (a NULL group is legal in a rollup); the blocks stage is the
first to refuse it, because a block is addressed by its key: the packer's
sorted-group seam raises ``ValueError("map_sorted_groups: NULL key in
'url' ...")`` (``operators/seqstate.py``), and no partition of that stage
is published. The stages committed before it stay committed under the same
``config_fp``, so a rerun on cleaned input must also change ``config_fp``
(``jobs/rollup_job.py`` folds the input's snapshot fingerprint into it,
which cleaning the input changes).
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mintpy_spark.plans.checkpoint import CheckpointTable
from mintpy_spark.sources.iceberg import open_table_store
from mintpy_spark.sources.tables import with_part_id


def run_stage(
    spark: SparkSession,
    store,
    ckpt: CheckpointTable,
    run_id: str,
    stage: str,
    input_fp: str,
    build: Callable[[], DataFrame],
    buckets: int = 32,
) -> DataFrame:
    """Execute one stage with per-partition skip/resume; returns the full
    stage output as ``store`` commits it (a ``TableStore`` or an
    ``IcebergTableStore``)."""
    done = ckpt.complete_parts(stage, input_fp)
    missing = sorted(set(range(buckets)) - done)
    if missing:
        t0 = time.time()
        df = build()
        if "part_id" not in df.columns:
            raise ValueError(f"stage {stage}: build() must attach part_id")
        if done:
            df = df.where(F.col("part_id").isin(missing))
        # replace exactly the recomputed partitions: one the recomputation
        # left without rows is dropped, not left holding its old rows
        written = store.write_partitions(df, stage, missing)
        wall = int((time.time() - t0) * 1000)
        ckpt.record(run_id, input_fp, {stage: {p: written.get(p) for p in missing}}, wall)
    return store.read(spark, stage)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    root: str,
    run_id: str = "run0",
    config_fp: str = "v1",
    buckets: int = 32,
    value_col: str = "text_length",
) -> dict[str, DataFrame]:
    """pages -> obs -> 1h/1d/30d tiers + compressed blocks + velocity."""
    from mintpy_spark.codecs.blocks import pack_blocks
    from mintpy_spark.operators.observe import pages_to_obs, pages_to_obs_extracted
    from mintpy_spark.operators.rollup import cascade, rollup_from_obs
    from mintpy_spark.operators.timefunc import linear_velocity

    store = open_table_store(spark, root)
    ckpt = CheckpointTable.for_pipeline(root)
    out: dict[str, DataFrame] = {}

    derive = pages_to_obs_extracted if "html" in pages.columns else pages_to_obs
    fp = config_fp
    out["obs"] = run_stage(
        spark, store, ckpt, run_id, "obs", fp,
        lambda: with_part_id(derive(pages), buckets=buckets), buckets,
    )
    obs = out["obs"]
    # part_id is a pure function of the key (hash bucket), so each tier
    # recomputes it as a narrow projection — no join, no extra shuffle.
    out["tier_1h"] = run_stage(
        spark, store, ckpt, run_id, "tier_1h", fp,
        lambda: with_part_id(
            rollup_from_obs(obs, value_col, "1h", key="url", ts="warc_ts"),
            buckets=buckets,
        ),
        buckets,
    )
    t1h = out["tier_1h"]
    out["tier_1d"] = run_stage(
        spark, store, ckpt, run_id, "tier_1d", fp,
        lambda: with_part_id(cascade(t1h.drop("part_id"), "1d"), buckets=buckets),
        buckets,
    )
    t1d = out["tier_1d"]
    out["tier_30d"] = run_stage(
        spark, store, ckpt, run_id, "tier_30d", fp,
        lambda: with_part_id(cascade(t1d.drop("part_id"), "30d"), buckets=buckets),
        buckets,
    )
    out["blocks"] = run_stage(
        spark, store, ckpt, run_id, "blocks", fp,
        lambda: with_part_id(
            pack_blocks(obs, value_col), key="key", buckets=buckets
        ),
        buckets,
    )
    out["velocity"] = run_stage(
        spark, store, ckpt, run_id, "velocity", fp,
        lambda: with_part_id(linear_velocity(obs, value_col, ref_year=2023.0), buckets=buckets),
        buckets,
    )
    return out
