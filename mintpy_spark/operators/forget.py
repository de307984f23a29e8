"""Right-to-be-forgotten: surgical key deletion across the tier store.

No MintPy analog — this is the data-governance operator a production
web-corpus store must have (GDPR/CCPA erasure): remove every row of a
set of series keys from the raw observation table AND every derived
tier, WITHOUT a full rebuild.

The pipeline's tables are hash-bucketed on the series key
(``with_part_id``: part_id = pmod(xxhash64(key), buckets),
sources/tables.py), so a key's rows live in exactly ONE partition per
table. Erasure therefore touches |keys' buckets| partitions per table:
each affected partition is re-read (the manifest's files of those
partitions only), filtered, and staged as new files; unaffected
partitions are never opened, which is the whole point at 10^12 rows.

Crash safety: ONE manifest rename (the store's commit) then replaces the
touched partitions of every table at once, so a reader sees the store
before the erasure or after it, never a table erased and another not. A
partition whose rows are ALL erased is dropped by that same commit. The
manifest entries of untouched partitions are carried over unchanged.
The commit is followed by ``expire(keep_last=1)``: no earlier version is
retained (no time travel to before an erasure), so the replaced files,
which hold the erased rows, are deleted from disk at once. A run killed
before the rename erases nothing and a rerun redoes it; one killed after
it has erased everything from the latest version, and a rerun finds
nothing left to erase and runs the expiry the killed run missed.

``store`` must be the file-backed ``TableStore``: the erasure stages and
commits through its ``stage``/``replaced``/``commit`` steps, which
``IcebergTableStore`` does not expose (on Iceberg, erasure is a
``DELETE FROM`` followed by ``expire_snapshots``).

Every erasure is recorded in the pipeline's lineage under the store's
root (``CheckpointTable.for_pipeline``), one row per touched partition:
``forgotten`` with its rows left, or ``empty`` if dropped; the erased keys
are not recorded. The rows go in before the commit, as a fold's do, so a
rerun of a run killed before it records the same counts again.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mintpy_spark.plans.checkpoint import CheckpointTable
from mintpy_spark.sources.tables import TableStore, part_rows

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
) -> dict[str, int]:
    """Erase ``keys`` from every table in ``tables`` (table -> key col;
    defaults to the rollup-pipeline layout). Returns rows removed per
    table. Only the keys' hash partitions are read or rewritten."""
    tables = dict(tables or PIPELINE_KEY_COLS)
    parts = affected_parts(spark, keys, buckets)
    removed: dict[str, int] = {}
    commit: dict[str, dict] = {}
    lineage: dict[str, dict[int, int | None]] = {}
    for table, key_col in tables.items():
        if not store.exists(table):
            continue
        removed[table] = 0
        present = sorted(set(parts) & set(store.partitions(table)))
        if not present:
            continue
        df = store.read(spark, table).where(F.col("part_id").isin(present))
        erased = df.where(F.col(key_col).isin(list(keys))).count()
        if not erased:  # nothing to erase here: leave bytes untouched
            continue
        staged = store.stage(
            df.where(~F.col(key_col).isin(list(keys))), table, "part_id"
        )
        commit[table] = store.replaced(table, staged, present)
        removed[table] = erased
        written = part_rows(staged)
        lineage[table] = {p: written.get(p) for p in present}
    if commit:
        CheckpointTable.for_pipeline(store.root).record(
            "forget", "forget", lineage, status="forgotten")
        store.commit(commit)
    # keep no version that still lists the erased rows, so their files go
    # now; also run when nothing was left to erase, which finishes a run
    # killed between its commit and this expiry
    store.expire(keep_last=1)
    return removed
