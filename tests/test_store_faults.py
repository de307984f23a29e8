"""Fault injection for every writer of the table store (sources/tables.py).

Each writer is killed twice at its commit point: the manifest rename raises
(``before``), or it completes and the writer dies right after it
(``after``). For each kill:

* a DataFrame planned before the kill, and one planned after it, read
  exactly the old version or the new one, never a mix or a gap;
* a rerun (the pipeline) or a replay of the same batch id (the
  streaming folds) equals the crash-free result;
* after the rerun's expiry, no data file is left that no retained manifest
  lists, and no unfinished manifest;
* a streaming fold's lineage after the replay equals the crash-free
  fold's.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from mintpy_spark.sources.tables import TableStore, _data_files

WHEN = pytest.mark.parametrize("when", ["before", "after"])


class Killed(Exception):
    pass


def kill_commit(mp, when: str, at: int = 1) -> None:
    """Kill the ``at``-th manifest rename from now: it raises (``before``),
    or it completes and then raises (``after``)."""
    real = os.rename
    seen = [0]

    def rename(src, dst):
        if os.path.basename(os.path.dirname(dst)) != "_manifests":
            return real(src, dst)
        seen[0] += 1
        if seen[0] != at:
            return real(src, dst)
        if when == "after":
            real(src, dst)
        raise Killed(f"killed {when} the manifest rename")

    mp.setattr(os, "rename", rename)


def rows(df) -> list:
    """The frame's rows, sorted, doubles rounded: a comparable value."""
    out = [
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    ]
    return sorted(out, key=repr)


def lineage(fold) -> dict[str, dict[int, int]]:
    """{stage: {batch: rows}} of a streaming fold's lineage table."""
    stages = set(fold.metrics.load().column("stage").to_pylist())
    return {s: fold.metrics.stage_metrics(s) for s in stages}


def unreferenced(store: TableStore) -> set[str]:
    """Data files and unfinished manifests no retained version lists."""
    listed, tables = set(), set()
    for v in store.versions():
        for t, e in store.manifest(v)["tables"].items():
            tables.add(t)
            listed.update(f["path"] for f in e["files"])
    on_disk = {os.path.join(t, f) for t in tables for f in _data_files(store.path(t))}
    tmp = {n for n in os.listdir(store._manifests) if n.startswith(".tmp")}
    return (on_disk - listed) | tmp


# -- the pipeline -------------------------------------------------------------

STAGES = ("obs", "tier_1h", "tier_1d", "tier_30d", "blocks", "velocity")


@pytest.fixture(scope="module")
def small_pages(spark):
    from mintpy_spark.datagen import gen_pages

    return gen_pages(spark, num_urls=24).cache()


@pytest.fixture(scope="module")
def built(spark, small_pages, tmp_path_factory):
    """A committed pipeline store, copied by each test that mutates it."""
    from mintpy_spark.plans.pipeline import run_pipeline

    root = str(tmp_path_factory.mktemp("faults") / "built")
    run_pipeline(spark, small_pages, root, buckets=4, config_fp="a")
    return root


def _shifted(pages):
    # new version of every stage: every observation an hour later
    return pages.withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR"))


@pytest.fixture(scope="module")
def rerun_ref(spark, small_pages, built, tmp_path_factory):
    """Each stage after a crash-free run of the shifted pages over ``built``."""
    from mintpy_spark.plans.pipeline import run_pipeline

    root = str(tmp_path_factory.mktemp("faults") / "ref")
    shutil.copytree(built, root)
    out = run_pipeline(spark, _shifted(small_pages), root, buckets=4, config_fp="b")
    return {s: rows(out[s]) for s in STAGES}


@WHEN
def test_pipeline_stage_killed_at_commit(
    spark, small_pages, built, rerun_ref, tmp_path, monkeypatch, when
):
    from mintpy_spark.plans.pipeline import run_pipeline

    root = str(tmp_path / "store")
    shutil.copytree(built, root)
    store = TableStore(root)
    old, old_30d = (rows(store.read(spark, s)) for s in ("tier_1d", "tier_30d"))
    planned = store.read(spark, "tier_1d")
    with monkeypatch.context() as mp:
        kill_commit(mp, when, at=3)  # obs, tier_1h, then tier_1d
        with pytest.raises(Killed):
            run_pipeline(spark, _shifted(small_pages), root, buckets=4, config_fp="b")
    assert rows(planned) == old
    assert rerun_ref["tier_1d"] != old
    new = rerun_ref["tier_1d"] if when == "after" else old
    assert rows(store.read(spark, "tier_1d")) == new
    # a stage the run did not reach is still the old version
    assert rows(store.read(spark, "tier_30d")) == old_30d

    out = run_pipeline(spark, _shifted(small_pages), root, buckets=4, config_fp="b")
    assert {s: rows(out[s]) for s in STAGES} == rerun_ref
    assert not unreferenced(store)


# -- the tier fold ------------------------------------------------------------

OBS = "url string, warc_ts timestamp, text_length long"


def _obs(spark, day):
    return spark.createDataFrame(
        [(f"u{u}", dt.datetime(2023, 1, day, h, 10 * u), 10 * u + h + day)
         for u in range(4) for h in (1, 7, 13)],
        OBS,
    )


def _tiers(spark, m):
    return {t: rows(m.read_tier(spark, t)) for t in m.tiers}


@WHEN
def test_tier_fold_killed_at_commit(spark, tmp_path, monkeypatch, when):
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer

    ref = TierMaintainer(str(tmp_path / "ref"))
    ref.apply_delta(_obs(spark, 1), 0)
    ref.apply_delta(_obs(spark, 2), 1)

    m = TierMaintainer(str(tmp_path / "store"))
    m.apply_delta(_obs(spark, 1), 0)
    old = _tiers(spark, m)
    planned = {t: m.read_tier(spark, t) for t in m.tiers}
    with monkeypatch.context() as mp:
        kill_commit(mp, when)
        with pytest.raises(Killed):
            m.apply_delta(_obs(spark, 2), 1)
    assert {t: rows(df) for t, df in planned.items()} == old
    assert _tiers(spark, m) == (_tiers(spark, ref) if when == "after" else old)

    m.apply_delta(_obs(spark, 2), 1)  # foreachBatch replays the batch
    assert m.committed_version(spark) == 1
    assert _tiers(spark, m) == _tiers(spark, ref)
    assert not unreferenced(m.store)
    assert lineage(m) == lineage(ref)
    assert set(lineage(ref)["maintain_1h"]) == {0, 1}


# -- the sequential fold --------------------------------------------------------

SEQ = "user_id long, ts timestamp, value double"


def _seq(spark, start):
    return spark.createDataFrame(
        [(u, dt.datetime(2024, 1, 1, start + i), float(7 * u + i * i % 5))
         for u in (1, 2, 3) for i in range(6)],
        SEQ,
    )


def _seq_fold(root):
    from mintpy_spark.operators.kalman import LocalLevel
    from mintpy_spark.streaming.seqfold import SeqFold

    return SeqFold(LocalLevel(0.04, 1.0), f"{root}/state", f"{root}/out")


@WHEN
def test_seq_fold_killed_at_commit(spark, tmp_path, monkeypatch, when):
    from mintpy_spark.streaming.seqfold import STATE

    ref = _seq_fold(str(tmp_path / "ref"))
    ref.apply_delta(_seq(spark, 0), 0)
    ref.apply_delta(_seq(spark, 6), 1)
    want_out = rows(spark.read.parquet(ref.output))
    want_state = rows(ref.read_tier(spark, STATE))

    fold = _seq_fold(str(tmp_path / "store"))
    fold.apply_delta(_seq(spark, 0), 0)
    old_out = rows(spark.read.parquet(fold.output))
    old_state = rows(fold.read_tier(spark, STATE))
    planned_out = spark.read.parquet(fold.output)
    planned_state = fold.read_tier(spark, STATE)
    with monkeypatch.context() as mp:
        kill_commit(mp, when)
        with pytest.raises(Killed):
            fold.apply_delta(_seq(spark, 6), 1)
    assert rows(planned_out) == old_out
    assert rows(planned_state) == old_state
    # the output moves only after the commit, so it is still the old one
    assert rows(spark.read.parquet(fold.output)) == old_out
    state = rows(fold.read_tier(spark, STATE))
    assert state == (want_state if when == "after" else old_state)

    fold.apply_delta(_seq(spark, 6), 1)  # the replay finishes the move
    assert rows(spark.read.parquet(fold.output)) == want_out
    assert rows(fold.read_tier(spark, STATE)) == want_state
    assert not unreferenced(fold.store)
    assert lineage(fold) == lineage(ref)
    assert set(lineage(ref)["kalman_levels"]) == {0, 1}


# -- the dedup index ------------------------------------------------------------


def _docs(spark, lo, hi):
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    return spark.createDataFrame(
        [(i, " ".join(words[(i + j) % 10] for j in range(8)) + f" doc{i % 3}")
         for i in range(lo, hi)],
        "doc_id long, text string",
    )


@WHEN
def test_dedup_index_killed_at_commit(spark, tmp_path, monkeypatch, when):
    from mintpy_spark.streaming.dedup_stream import DedupIndexMaintainer

    ref = DedupIndexMaintainer(str(tmp_path / "ref"))
    ref.apply_batch(_docs(spark, 0, 12), 0)
    ref.apply_batch(_docs(spark, 12, 24), 1)
    want = rows(ref.emitted_pairs(spark)), rows(ref.stored_signatures(spark))

    m = DedupIndexMaintainer(str(tmp_path / "store"))
    m.apply_batch(_docs(spark, 0, 12), 0)
    old = rows(m.emitted_pairs(spark)), rows(m.stored_signatures(spark))
    planned = m.emitted_pairs(spark), m.stored_signatures(spark)
    with monkeypatch.context() as mp:
        kill_commit(mp, when)
        with pytest.raises(Killed):
            m.apply_batch(_docs(spark, 12, 24), 1)
    assert tuple(rows(df) for df in planned) == old
    now = rows(m.emitted_pairs(spark)), rows(m.stored_signatures(spark))
    assert now == (want if when == "after" else old)
    assert want != old

    replay = m.apply_batch(_docs(spark, 12, 24), 1)
    assert (replay is None) == (when == "after")
    assert (rows(m.emitted_pairs(spark)), rows(m.stored_signatures(spark))) == want
    assert not unreferenced(m.store)
    assert lineage(m) == lineage(ref)
    assert set(lineage(ref)["dedup_pairs"]) == {0, 1}
