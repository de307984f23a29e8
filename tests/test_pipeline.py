"""Pipeline + checkpoint/resume tests — the run_or_skip analog
(utils/utils1.py:691) and the kill-mid-tier resume contract (north_rule)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mintpy_spark.plans.checkpoint import CheckpointTable
from mintpy_spark.plans.pipeline import run_pipeline
from mintpy_spark.sources.tables import TableStore, _data_files

STAGES = ("obs", "tier_1h", "tier_1d", "tier_30d", "blocks", "velocity")


def fingerprint(df, cols=None):
    cols = cols or [c for c in df.columns]
    return df.agg(
        F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("h"),
        F.count("*").alias("n"),
    ).collect()[0]


def assert_lineage_counts(spark, root, stages=STAGES):
    """The committed per-partition row counts (taken from the written
    files' Parquet footers) equal a count of the stored table."""
    ckpt = CheckpointTable(f"{root}/_checkpoint")
    store = TableStore(root)
    for stage in stages:
        stored = {
            r["part_id"]: r["count"]
            for r in store.read(spark, stage).groupBy("part_id").count().collect()
        }
        assert ckpt.stage_metrics(stage) == stored, stage


def test_pipeline_end_to_end(spark, pages, tmp_path):
    root = str(tmp_path / "pipe")
    out = run_pipeline(spark, pages, root, buckets=8)
    assert set(out) == {"obs", "tier_1h", "tier_1d", "tier_30d", "blocks", "velocity"}
    assert out["tier_30d"].count() > 0
    # lineage metrics recorded per partition with true row counts
    ckpt = CheckpointTable(f"{root}/_checkpoint")
    metrics = ckpt.stage_metrics("tier_1h")
    assert sum(metrics.values()) == out["tier_1h"].count()
    assert len(metrics) == 8
    assert_lineage_counts(spark, root)


def test_resume_skips_completed(spark, pages, tmp_path):
    root = str(tmp_path / "pipe2")
    out1 = run_pipeline(spark, pages, root, buckets=4)
    fp1 = fingerprint(out1["tier_1d"], ["url", "bucket_start", "cnt", "vsum"])
    ckpt = CheckpointTable(f"{root}/_checkpoint")
    n_entries = ckpt.load().num_rows
    # rerun: nothing recomputed, no new checkpoint entries, same results
    out2 = run_pipeline(spark, pages, root, buckets=4)
    assert ckpt.load().num_rows == n_entries
    fp2 = fingerprint(out2["tier_1d"], ["url", "bucket_start", "cnt", "vsum"])
    assert (fp1.h, fp1.n) == (fp2.h, fp2.n)


def test_resume_after_partial_failure(spark, pages, tmp_path):
    """Simulate a mid-tier crash: drop some completed partitions of tier_1h
    (as if their commit never happened) and their checkpoint rows; the rerun
    rebuilds exactly the missing partitions, carries the others' files
    over unchanged, and converges to identical output."""
    root = str(tmp_path / "pipe3")
    out1 = run_pipeline(spark, pages, root, buckets=4)
    full_fp = fingerprint(out1["tier_1h"], ["url", "bucket_start", "cnt", "vsum"])

    # crash simulation: a version without partitions 1 and 3, and without
    # their checkpoint rows
    store = TableStore(root)
    entry = store.entry("tier_1h")
    kept = [f for f in entry["files"] if f["part_id"] not in (1, 3)]
    store.commit({"tier_1h": {**entry, "files": kept}})
    assert store.partitions("tier_1h") == [0, 2]
    ckdir = f"{root}/_checkpoint"
    import pyarrow.parquet as pq

    for f in os.listdir(ckdir):
        path = os.path.join(ckdir, f)
        t = pq.read_table(path).to_pandas()
        keep = ~((t["stage"] == "tier_1h") & (t["part_id"].isin([1, 3])))
        if keep.all():
            continue
        os.remove(path)
        t = t[keep]
        if len(t):
            import pyarrow as pa

            from mintpy_spark.plans.checkpoint import SCHEMA

            pq.write_table(pa.Table.from_pandas(t, schema=SCHEMA), path)

    ckpt = CheckpointTable(ckdir)
    assert ckpt.complete_parts("tier_1h", "v1") == {0, 2}

    out2 = run_pipeline(spark, pages, root, buckets=4)
    fp2 = fingerprint(out2["tier_1h"], ["url", "bucket_start", "cnt", "vsum"])
    assert (full_fp.h, full_fp.n) == (fp2.h, fp2.n)
    assert ckpt.complete_parts("tier_1h", "v1") == {0, 1, 2, 3}
    assert_lineage_counts(spark, root)
    # the partitions that were not recomputed keep their files
    assert [f for f in store.entry("tier_1h")["files"] if f["part_id"] in (0, 2)] == kept


def _lone_url(obs):
    """A url that no other url shares a bucket with."""
    alone = obs.groupBy("part_id").agg(
        F.countDistinct("url").alias("n"), F.first("url").alias("url")
    ).where("n = 1").orderBy("part_id").first()
    assert alone is not None
    return alone["url"]


def test_rerun_drops_a_removed_url_from_every_stage(spark, tmp_path):
    """A rerun under a new config over input without one url replaces
    every partition it recomputes: the url is gone from every stage even
    where its bucket held no other url (a partition the recomputation
    leaves empty is dropped)."""
    from mintpy_spark.datagen import gen_pages

    pages = gen_pages(spark, num_urls=6).cache()
    root = str(tmp_path / "pipe_removed")
    out1 = run_pipeline(spark, pages, root, buckets=4, config_fp="v1")
    gone = _lone_url(out1["obs"])
    kept = pages.where(F.col("url") != gone)
    out2 = run_pipeline(spark, kept, root, buckets=4, config_fp="v2")
    assert out2["obs"].count() == kept.count()
    for stage in STAGES:
        key = "key" if stage == "blocks" else "url"
        assert out2[stage].where(F.col(key) == gone).count() == 0, stage
        assert out2[stage].count() > 0, stage
    # the lineage counts the emptied bucket as the store does: not at all
    assert_lineage_counts(spark, root)


def test_rerun_of_a_finished_pipeline_commits_nothing(spark, tmp_path):
    """Buckets without rows are recorded as computed: a second run of a
    finished pipeline recomputes no stage and commits no store version."""
    from mintpy_spark.datagen import gen_pages

    pages = gen_pages(spark, num_urls=6).cache()
    root = str(tmp_path / "pipe_empty_bucket")
    run_pipeline(spark, pages, root, buckets=8)
    store = TableStore(root)
    assert len(store.partitions("obs")) < 8  # a bucket holds no url
    assert_lineage_counts(spark, root)
    version = store.latest()
    n_entries = CheckpointTable(f"{root}/_checkpoint").load().num_rows
    run_pipeline(spark, pages, root, buckets=8)
    assert store.latest() == version
    assert CheckpointTable(f"{root}/_checkpoint").load().num_rows == n_entries


def test_null_url_is_a_named_error(spark, pages, tmp_path):
    """NULL url policy (plans/pipeline.py docstring): the blocks stage
    refuses a NULL key with the seam's named ValueError, not a JVM
    NullPointerException, and publishes nothing; the stages before it
    stay committed."""
    first = pages.select("url").orderBy("url").first()["url"]
    bad = pages.withColumn(
        "url", F.when(F.col("url") != first, F.col("url"))
    )
    root = str(tmp_path / "pipe_null")
    with pytest.raises(Exception, match="map_sorted_groups: NULL key in 'url'") as exc:
        run_pipeline(spark, bad, root, buckets=4)
    assert "NullPointerException" not in str(exc.value)
    store = TableStore(root)
    assert all(store.exists(t) for t in ("obs", "tier_1h", "tier_1d", "tier_30d"))
    assert not store.exists("blocks")
    # the failed write left no data file behind
    assert not _data_files(store.path("blocks"))


def test_config_change_invalidates(spark, pages, tmp_path):
    """A new fingerprint recomputes every part; returning to the first one
    (its config or input back) recomputes the parts the other one wrote
    since, rather than serving them as done."""
    from mintpy_spark.datagen import gen_pages

    root = str(tmp_path / "pipe4")
    out1 = run_pipeline(spark, pages, root, buckets=4, config_fp="a")
    want = {stage: fingerprint(out1[stage]) for stage in STAGES}
    ckpt = CheckpointTable(f"{root}/_checkpoint")
    n1 = ckpt.load().num_rows
    other = gen_pages(spark, num_urls=6, seed=2)
    run_pipeline(spark, other, root, buckets=4, config_fp="b")
    assert ckpt.load().num_rows == 2 * n1  # everything recomputed under new fp
    out3 = run_pipeline(spark, pages, root, buckets=4, config_fp="a")
    assert ckpt.load().num_rows == 3 * n1  # and again under the first
    assert {stage: fingerprint(out3[stage]) for stage in STAGES} == want
    assert_lineage_counts(spark, root)


def test_input_fingerprint_changes_on_data_change(spark, tmp_path):
    from mintpy_spark.sources.tables import input_fingerprint

    p = str(tmp_path / "in")
    spark.range(100).write.mode("overwrite").parquet(p)
    fp1 = input_fingerprint(p)
    assert fp1 == input_fingerprint(p)  # stable
    spark.range(50).write.mode("append").parquet(p)
    assert input_fingerprint(p) != fp1  # grown input -> new snapshot id
