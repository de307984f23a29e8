"""Right-to-be-forgotten (operators/forget.py): full erasure across
tiers, untouched partitions stay byte-identical, lineage is recorded."""

from __future__ import annotations

import pytest

from mintpy_spark.operators.forget import affected_parts, forget_keys
from mintpy_spark.plans.checkpoint import CheckpointTable
from mintpy_spark.plans.pipeline import run_pipeline
from mintpy_spark.sources.tables import TableStore, input_fingerprint


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
    fp_before = {
        p: input_fingerprint(f"{built}/tier_1d/part_id={p}") for p in untouched
    }
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
    # partitions the key never hashed into are byte-identical
    for p, fp in fp_before.items():
        assert input_fingerprint(f"{built}/tier_1d/part_id={p}") == fp
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
