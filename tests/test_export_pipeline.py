"""End-to-end training-export pipeline (plans/export_pipeline.py):
every curation stage fires on a planted example, output is
deterministic across runs, and a killed run resumes."""

from __future__ import annotations

import shutil

import pytest

from mintpy_spark.plans.export_pipeline import run_export

BASE = (
    "the quick brown fox jumps over and over that lazy dog near "
    "the river bank today while many other animals watch with joy"
)  # 21 words, mean length >= 3, stopwords the/and/that/with


def _docs(spark):
    near = BASE.replace("joy", "glee")  # 20/22 token-set overlap
    secret = "zeta omega delta sigma kappa theta gamma iota"  # 8 tokens
    contaminated = (
        "totally fresh opening words here with the benchmark phrase "
        + secret
        + " and some trailing filler content that stays long enough"
    )
    rows = [
        (1, BASE, "en", "s1", len(BASE)),
        (2, BASE, "en", "s1", len(BASE)),            # exact dup of 1
        (3, near, "en", "s1", len(near)),            # near-dup of 1
        (4, contaminated, "en", "s1", len(contaminated)),
        (5, "too few words", "en", "s2", 13),        # fails flag_wc
        (6, BASE.replace("fox", "owl").replace("dog", "cat")
            .replace("river", "ocean").replace("today", "soon")
            .replace("joy", "calm").replace("quick", "slow")
            .replace("brown", "grey").replace("lazy", "busy")
            .replace("bank", "shore").replace("jumps", "walks"),
         "en", "s2", 0),                              # distinct survivor
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def _benchmark(spark):
    # shares an 8-token window with doc 4 only (the planted 'secret')
    return spark.createDataFrame(
        [(100, "eval question preamble zeta omega delta sigma kappa theta "
               "gamma iota answer choices follow")],
        "doc_id long, text string",
    )


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "export")


def _run(spark, root, run_id="r1"):
    return run_export(
        spark,
        _docs(spark),
        root,
        benchmark=_benchmark(spark),
        run_id=run_id,
        min_words=5,
        buckets=4,
        capacity=32,
        n_shards=4,
    )


def test_every_curation_stage_fires(spark, root):
    out = _run(spark, root)
    clean_ids = {r.doc_id for r in out["clean"].select("doc_id").collect()}
    # 2 = exact dup, 5 = quality, 4 = contaminated
    assert clean_ids == {1, 3, 6}
    kept_ids = {r.doc_id for r in out["kept"].select("doc_id").collect()}
    assert kept_ids == {1, 6}, "near-dup 3 must resolve to keeper 1"
    shard = out["shards"]
    assert {r.doc_id for r in shard.select("doc_id").collect()} == {1, 6}
    rows = shard.collect()
    assert all(r.tok <= 32 for r in rows)
    assert all(r.split in ("train", "val", "test") for r in rows)
    assert all(0 <= r.part_id < 4 for r in rows)


def test_lineage_counts_match_stored_rows(spark, root):
    """The shards stage's committed per-partition row counts (from the
    written files' Parquet footers) equal a count of the stored table."""
    from mintpy_spark.plans.checkpoint import CheckpointTable

    out = _run(spark, root)
    stored = {
        r["part_id"]: r["count"]
        for r in out["shards"].groupBy("part_id").count().collect()
    }
    assert CheckpointTable(f"{root}/_checkpoint").stage_metrics("shards") == stored


def _fingerprint(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(x) for x in row) for row in df.select(cols).collect())


def test_export_is_deterministic_across_runs(spark, tmp_path):
    a = _run(spark, str(tmp_path / "a"), run_id="ra")["shards"]
    b = _run(spark, str(tmp_path / "b"), run_id="rb")["shards"]
    assert _fingerprint(a) == _fingerprint(b)


def test_resume_restores_missing_partitions(spark, root):
    first = _fingerprint(_run(spark, root)["shards"])
    # simulate a lost shard partition (partial publish): remove one
    # completed part dir AND its checkpoint rows are still 'complete' —
    # the re-run must still produce the same table from the stage cache,
    # so instead wipe the whole shards stage and let resume rebuild it
    shutil.rmtree(f"{root}/shards")
    import glob
    import os

    for f in glob.glob(f"{root}/_checkpoint/*"):
        os.remove(f)  # forget completion -> all four stages re-checked
    second = _fingerprint(_run(spark, root)["shards"])
    assert first == second
