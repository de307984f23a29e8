"""Right-to-be-forgotten (operators/forget.py): full erasure across
tiers, untouched partitions keep their files, lineage is recorded, and no
retained version or data file still holds an erased row."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest

from mintpy_spark.operators.forget import affected_parts, forget_keys
from mintpy_spark.plans.checkpoint import CheckpointTable
from mintpy_spark.plans.pipeline import run_pipeline
from mintpy_spark.sources.tables import TableStore


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    from mintpy_spark.datagen import gen_pages

    root = str(tmp_path_factory.mktemp("forget") / "store")
    pages = gen_pages(spark, num_urls=24)
    run_pipeline(spark, pages, root, buckets=8)
    return root


def test_forget_erases_everywhere_and_only_there(spark, built):
    store = TableStore(built)
    victim = [
        r.url for r in store.read(spark, "obs").select("url").distinct()
        .orderBy("url").limit(1).collect()
    ]
    parts = affected_parts(spark, victim, buckets=8)
    untouched = sorted(set(store.partitions("tier_1d")) - set(parts))
    def untouched_files():
        return [f for f in store.entry("tier_1d")["files"] if f["part_id"] in untouched]

    files_before = untouched_files()
    assert files_before
    ckpt = CheckpointTable(f"{built}/_checkpoint")
    removed = forget_keys(spark, store, victim, buckets=8, ckpt=ckpt)
    assert removed["obs"] > 0 and removed["tier_1d"] > 0
    for table, key_col in (
        ("obs", "url"), ("tier_1h", "url"), ("tier_1d", "url"),
        ("tier_30d", "url"), ("velocity", "url"), ("blocks", "key"),
    ):
        left = store.read(spark, table).where(
            F_col(key_col).isin(victim)
        ).count() if store.exists(table) else 0
        assert left == 0, f"{table} still holds the erased key"
    # partitions the key never hashed into keep their manifest entries
    # (the same immutable files, the same footer counts)
    assert untouched_files() == files_before
    # lineage: a 'forgotten' row exists for every touched partition
    log = ckpt.load().to_pylist()
    forgotten = {
        (r["stage"], r["part_id"])
        for r in log
        if r["status"] == "forgotten"
    }
    assert {("tier_1d", p) for p in parts} <= forgotten
    # ... carrying the partition's row count after erasure
    after = {
        r["part_id"]: r["count"]
        for r in store.read(spark, "obs").groupBy("part_id").count().collect()
    }
    assert all(
        r["row_count"] == after.get(r["part_id"], 0)
        for r in log
        if r["status"] == "forgotten" and r["stage"] == "obs"
    )


def F_col(name):
    from pyspark.sql import functions as F

    return F.col(name)


def test_forget_missing_key_is_noop(spark, built):
    store = TableStore(built)
    before = store.read(spark, "obs").count()
    removed = forget_keys(spark, store, ["https://no-such-url/"], buckets=8)
    assert all(v == 0 for v in removed.values())
    assert store.read(spark, "obs").count() == before


def test_forget_deletes_the_erased_rows_from_disk(spark, built, tmp_path):
    root = str(tmp_path / "store")
    shutil.copytree(built, root)
    store = TableStore(root)
    victim = [
        r.url for r in store.read(spark, "obs").select("url").distinct()
        .orderBy(F_col("url").desc()).limit(1).collect()
    ]
    before = store.latest()
    assert before is not None
    removed = forget_keys(spark, store, victim, buckets=8)
    assert removed["obs"] > 0
    # no version from before the erasure is retained, so none can be read
    assert store.versions() == [before + 1]
    with pytest.raises(FileNotFoundError):
        store.read_version(spark, "obs", before)
    # ... and no data file left anywhere under the store holds the key
    n_files = 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if not name.endswith(".parquet"):
                continue
            n_files += 1
            t = pq.read_table(os.path.join(dirpath, name))
            for col in ("url", "key"):
                if col in t.column_names:
                    assert not set(victim) & set(t.column(col).to_pylist()), (
                        f"{os.path.relpath(dirpath, root)}/{name} holds the erased key"
                    )
    assert n_files
