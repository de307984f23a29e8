"""Right-to-be-forgotten: surgical key deletion across the tier store.

No MintPy analog — this is the data-governance operator a production
web-corpus store must have (GDPR/CCPA erasure): remove every row of a
set of series keys from the raw observation table AND every derived
tier, WITHOUT a full rebuild.

The pipeline's tables are hash-bucketed on the series key
(``with_part_id``: part_id = pmod(xxhash64(key), buckets),
sources/tables.py), so a key's rows live in exactly ONE partition per
table. Erasure therefore touches |keys' buckets| partitions per table:
each affected partition is re-read (partition-pruned scan), filtered,
and atomically re-published via the same rename protocol as the
pipeline writes — unaffected partitions are never opened, which is the
whole point at 10^12 rows. A partition whose rows are ALL erased is
deleted outright (write_partitions only republishes non-empty ones).

Every touched partition gets a lineage row (stage, part_id, op=forget,
row_count AFTER erasure) in the same checkpoint table the pipeline
uses, so an auditor can reconstruct what was erased when.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mintpy_spark.plans.checkpoint import CheckpointTable
from mintpy_spark.sources.tables import TableStore

#: table -> series-key column for the rollup pipeline's layout
PIPELINE_KEY_COLS = {
    "obs": "url",
    "tier_1h": "url",
    "tier_1d": "url",
    "tier_30d": "url",
    "velocity": "url",
    "blocks": "key",
}


def affected_parts(
    spark: SparkSession, keys: Sequence[str], buckets: int = 32
) -> list[int]:
    """Partition ids the keys hash into — the SAME function the pipeline
    used to bucket them (pmod(xxhash64(key), buckets))."""
    kdf = spark.createDataFrame([(k,) for k in keys], "k string")
    rows = kdf.select(
        F.pmod(F.xxhash64(F.col("k")), F.lit(buckets)).alias("p")
    ).distinct().collect()
    return sorted(r.p for r in rows)


def forget_keys(
    spark: SparkSession,
    store: TableStore,
    keys: Sequence[str],
    tables: dict[str, str] | None = None,
    buckets: int = 32,
    ckpt: CheckpointTable | None = None,
    run_id: str = "forget",
) -> dict[str, int]:
    """Erase ``keys`` from every table in ``tables`` (table -> key col;
    defaults to the rollup-pipeline layout). Returns rows removed per
    table. Only the keys' hash partitions are read or rewritten."""
    tables = dict(tables or PIPELINE_KEY_COLS)
    parts = affected_parts(spark, keys, buckets)
    removed: dict[str, int] = {}
    for table, key_col in tables.items():
        if not store.exists(table):
            continue
        present = sorted(set(parts) & set(store.partitions(table)))
        if not present:
            removed[table] = 0
            continue
        df = store.read(spark, table).where(F.col("part_id").isin(present))
        before = df.count()
        kept = df.where(~F.col(key_col).isin(list(keys)))
        after = kept.count()
        if after == before:  # nothing to erase here: leave bytes untouched
            removed[table] = 0
            continue
        written = store.write_partitions(kept, table)
        # a partition whose rows were all erased is republished by
        # DELETION (write_partitions only renames non-empty dirs)
        for p in set(present) - set(written):
            shutil.rmtree(
                os.path.join(store.path(table), f"part_id={p}"),
                ignore_errors=True,
            )
        removed[table] = before - after
        if ckpt is not None:
            ckpt.append(
                [
                    {
                        "run_id": run_id,
                        "stage": table,
                        "part_id": int(p),
                        "input_fp": "forget",
                        "row_count": int(written.get(p, 0)),
                        "wall_ms": 0,
                        "status": "forgotten",
                    }
                    for p in present
                ]
            )
    return removed
