"""Streaming maintenance over the table store: stored tiers, sketches and
the dedup index folded per micro-batch equal a batch rebuild, replays are
idempotent, reads see committed versions plus the unfolded tail, and raw
compaction drops only covered history."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def paths(tmp_path):
    return (
        str(tmp_path / "pages_in"),
        str(tmp_path / "tier_out"),
        str(tmp_path / "ckpt"),
    )


def test_streaming_tier_maintenance_equals_batch_rebuild(spark, paths):
    """Two AvailableNow maintenance passes (bootstrap + late fold) leave
    stored tiers equal to a from-scratch batch build over all input."""
    import pandas as pd

    from mintpy_spark.operators.rollup import build_tiers
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer, maintain_tiers

    inp, store_root, ckpt = paths
    sch = "url string, warc_ts timestamp, text_length long"

    def drop(day_lo, day_hi):
        rows = [
            (f"u{u}", dt.datetime(2023, 1, d, h), 100 + u * 10 + h)
            for u in range(4)
            for d in range(day_lo, day_hi)
            for h in (3, 9, 15)
        ]
        spark.createDataFrame(rows, sch).write.mode("append").parquet(inp)

    drop(1, 4)
    maintain_tiers(spark, inp, store_root, ckpt)
    drop(4, 6)   # new days
    drop(1, 2)   # AND late rows for day 1 (duplicate obs are new points)
    maintain_tiers(spark, inp, store_root, ckpt)

    m = TierMaintainer(store_root)
    full = build_tiers(spark.read.parquet(inp), "text_length")
    for t in ("1h", "1d", "30d"):
        got = m.read_tier(spark, t)
        want = full[t]
        j = got.alias("g").join(want.alias("w"), ["url", "bucket_start"], "full")
        assert j.where(F.col("g.cnt").isNull() | F.col("w.cnt").isNull()).count() == 0, t
        bad = j.where(
            (F.col("g.cnt") != F.col("w.cnt"))
            | (F.col("g.vmin") != F.col("w.vmin"))
            | (F.col("g.vmax") != F.col("w.vmax"))
            | (F.abs(F.col("g.vsum") - F.col("w.vsum")) > 1e-6)
        ).count()
        assert bad == 0, t


def test_tier_maintenance_replay_is_idempotent(spark, paths):
    """foreachBatch is at-least-once: re-applying an already-committed
    batch must be a no-op (the crash-replay window), and a crashed batch
    (tiers written, marker missing) must recompute cleanly."""
    inp, store_root, ckpt = paths
    sch = "url string, warc_ts timestamp, text_length long"
    rows = [("u1", dt.datetime(2023, 1, 1, h), 10 + h) for h in range(6)]
    delta = spark.createDataFrame(rows, sch)

    from mintpy_spark.streaming.tier_maintenance import TierMaintainer

    m = TierMaintainer(store_root)
    m.apply_delta(delta, batch_id=0)
    before = {t: m.read_tier(spark, t).collect() for t in m.tiers}
    # replay of the committed batch: must not double-fold
    m.apply_delta(delta, batch_id=0)
    after = {t: m.read_tier(spark, t).collect() for t in m.tiers}
    assert {t: sorted(map(tuple, v)) for t, v in before.items()} == {
        t: sorted(map(tuple, v)) for t, v in after.items()
    }
    # simulate a crashed batch 1: version dir written, no marker -> the
    # committed version stays 0 and a replay recomputes from it
    delta2 = spark.createDataFrame(
        [("u1", dt.datetime(2023, 1, 2, h), 50 + h) for h in range(3)], sch
    )
    assert m.committed_version(spark) == 0
    m.apply_delta(delta2, batch_id=1)
    assert m.committed_version(spark) == 1
    total = m.read_tier(spark, "1h").agg(F.sum("cnt")).first()[0]
    assert total == 9  # 6 + 3, no double counting anywhere


def test_read_realtime_and_time_travel(spark, paths):
    """read_realtime(committed tiers + unfolded tail) equals a batch
    rebuild over everything; read_tier(version=...) time-travels to the
    retained prior snapshot; unknown versions raise."""
    import pytest

    from mintpy_spark.operators.rollup import build_tiers
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer

    inp, store_root, ckpt = paths
    sch = "url string, warc_ts timestamp, text_length long"
    batch0 = spark.createDataFrame(
        [
            (f"u{u}", dt.datetime(2023, 1, d, h), 100 + u * 10 + h)
            for u in range(3)
            for d in (1, 2)
            for h in (4, 16)
        ],
        sch,
    )
    tail = spark.createDataFrame(
        [
            ("u0", dt.datetime(2023, 1, 2, 16, 30), 999),  # updates a live bucket
            ("u9", dt.datetime(2023, 1, 3, 5), 7),          # brand-new key/day
        ],
        sch,
    )
    m = TierMaintainer(store_root)
    m.apply_delta(batch0, batch_id=0)

    for t in m.tiers:
        rt = m.read_realtime(spark, t, tail)
        want = build_tiers(batch0.unionByName(tail), "text_length")[t]
        j = rt.alias("g").join(want.alias("w"), ["url", "bucket_start"], "full")
        assert j.where(F.col("g.cnt").isNull() | F.col("w.cnt").isNull()).count() == 0
        bad = j.where(
            (F.col("g.cnt") != F.col("w.cnt"))
            | (F.col("g.vmin") != F.col("w.vmin"))
            | (F.col("g.vmax") != F.col("w.vmax"))
            | (F.abs(F.col("g.vsum") - F.col("w.vsum")) > 1e-6)
        ).count()
        assert bad == 0, t

    # fold the tail as batch 1, then time-travel back to version 0
    m.apply_delta(tail, batch_id=1)
    assert m.versions(spark) == [0, 1]
    v0 = m.read_tier(spark, "1h", version=0)
    assert v0.where(F.col("url") == "u9").count() == 0
    assert m.read_tier(spark, "1h").where(F.col("url") == "u9").count() == 1
    with pytest.raises(FileNotFoundError):
        m.read_tier(spark, "1h", version=77)


def test_query_job_routes_store_plus_tail(spark, paths, tmp_path, capsys):
    """jobs/query_job.py: tiered range query over a maintained store plus
    an unfolded tail equals direct aggregation over all observations in
    the range."""
    import json

    from jobs.query_job import main as query_main
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer

    inp, store_root, ckpt = paths
    sch = "url string, warc_ts timestamp, text_length double"
    folded = spark.createDataFrame(
        [
            (f"u{u}", dt.datetime(2023, 1, d, h, 20), float(10 * u + d + h))
            for u in range(3)
            for d in range(1, 9)
            for h in (2, 8, 14, 20)
        ],
        sch,
    )
    tail_rows = [
        ("u0", dt.datetime(2023, 1, 5, 9, 5), 500.0),   # tier interior
        ("u7", dt.datetime(2023, 1, 2, 3, 40), 700.0),  # new key, fringe-ish
    ]
    tail = spark.createDataFrame(tail_rows, sch)
    m = TierMaintainer(store_root)
    m.apply_delta(folded, batch_id=0)
    tail_dir = str(tmp_path / "tail")
    tail.write.parquet(tail_dir)

    t0, t1 = "2023-01-02 03:30:00", "2023-01-08 14:10:00"
    out_dir = str(tmp_path / "result")
    query_main([
        "--store", store_root, "--from", t0, "--to", t1,
        "--tail", tail_dir, "--output", out_dir,
    ])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    everything = folded.unionByName(tail)
    want = (
        everything.where(
            (F.col("warc_ts") >= F.lit(t0).cast("timestamp"))
            & (F.col("warc_ts") < F.lit(t1).cast("timestamp"))
        )
        .groupBy("url")
        .agg(
            F.count("text_length").alias("cnt"),
            F.sum("text_length").alias("vsum"),
            F.min("text_length").alias("vmin"),
            F.max("text_length").alias("vmax"),
        )
    )
    got = spark.read.parquet(out_dir)
    w = {r["url"]: r for r in want.collect()}
    g = {r["url"]: r for r in got.collect()}
    assert set(w) == set(g) and "u7" in g
    for k in w:
        assert g[k]["cnt"] == w[k]["cnt"], k
        assert g[k]["vmin"] == w[k]["vmin"] and g[k]["vmax"] == w[k]["vmax"], k
        assert abs(g[k]["vsum"] - w[k]["vsum"]) < 1e-6, k
    assert rep["n_keys"] == len(w)
    assert rep["total_obs"] == sum(r["cnt"] for r in w.values())


def test_compact_raw_drops_covered_history_only(spark, paths, land_days):
    """Downsample-then-delete lifecycle: raw below an aligned cutoff is
    deleted once the committed 1h tier accounts for it; routed range
    queries over the compacted store still answer exactly; misaligned
    cutoffs and un-folded late data are refused."""
    import pytest

    from mintpy_spark.operators.retention import compact_raw
    from mintpy_spark.operators.rollup import route_range_agg
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer

    inp, store_root, _ = paths
    sch = "url string, warc_ts timestamp, text_length long"
    rows = [
        (f"u{u}", dt.datetime(2023, 1, d, h, 30), 100 + u * 10 + d + h)
        for u in range(3)
        for d in range(1, 8)
        for h in (3, 9, 15)
    ]
    land_days(inp, rows, sch)

    m = TierMaintainer(store_root)
    m.apply_delta(spark.read.parquet(inp), batch_id=0)

    t0, t1 = "2023-01-01 00:00:00", "2023-01-08 00:00:00"

    def routed():
        tiers = {t: m.read_tier(spark, t) for t in ("1h", "1d")}
        out = route_range_agg(
            spark.read.parquet(inp), tiers, t0, t1, "text_length"
        )
        return {r.url: (r.cnt, r.vsum, r.vmin, r.vmax) for r in out.collect()}

    before = routed()

    with pytest.raises(ValueError):  # misaligned cutoff
        compact_raw(spark, inp, "2023-01-04 00:30:00", m, tier="1h")

    res = compact_raw(spark, inp, "2023-01-04 00:00:00", m, tier="1h")
    assert res["dropped"] == 3 * 3 * 3 and res["kept"] == 3 * 4 * 3

    left = spark.read.parquet(inp)
    assert left.where(F.col("warc_ts") < "2023-01-04").count() == 0
    assert routed() == before  # tier-covered history still answers exactly

    # late data below the new horizon that was never folded: refused
    late = spark.createDataFrame(
        [("u0", dt.datetime(2023, 1, 5, 4, 30), 7)], sch
    )
    late.write.mode("append").parquet(inp)
    with pytest.raises(RuntimeError):
        compact_raw(spark, inp, "2023-01-06 00:00:00", m, tier="1h")
    # fold it, then the same compaction goes through
    m.apply_delta(late, batch_id=1)
    res2 = compact_raw(spark, inp, "2023-01-06 00:00:00", m, tier="1h")
    assert res2["dropped"] == 3 * 2 * 3 + 1


def test_compact_raw_late_row_in_compacted_bucket(spark, paths, land_days):
    """A late row that lands in an ALREADY-compacted bucket: refused while
    unfolded (ledger + raw > tier), dropped cleanly once folded (the
    ledger is what makes this exact — tier == ledger + raw again)."""
    import pytest

    from mintpy_spark.operators.retention import compact_raw
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer

    inp, store_root, _ = paths
    sch = "url string, warc_ts timestamp, text_length long"
    rows = [
        ("u0", dt.datetime(2023, 2, d, h), 10 * d + h)
        for d in range(1, 5)
        for h in (6, 18)
    ]
    land_days(inp, rows, sch)
    m = TierMaintainer(store_root)
    m.apply_delta(spark.read.parquet(inp), batch_id=0)
    compact_raw(spark, inp, "2023-02-03 00:00:00", m, tier="1h")

    # late arrival INTO the compacted span (day 1)
    late = spark.createDataFrame([("u0", dt.datetime(2023, 2, 1, 6), 99)], sch)
    late.write.mode("append").parquet(inp)
    with pytest.raises(RuntimeError):
        compact_raw(spark, inp, "2023-02-04 00:00:00", m, tier="1h")
    m.apply_delta(late, batch_id=1)
    res = compact_raw(spark, inp, "2023-02-04 00:00:00", m, tier="1h")
    # drops day 3 (2 rows) + the folded late day-1 row
    assert res["dropped"] == 3
    assert spark.read.parquet(inp).where(F.col("warc_ts") < "2023-02-04").count() == 0


def test_compaction_then_maintenance_does_not_refold(spark, paths, land_days):
    """Compaction deletes whole raw files and rewrites none, so the next
    maintenance pass sees no new file: the tiers still count each row
    once, equal a batch build over everything ingested, and the next
    compaction's gate passes."""
    from mintpy_spark.operators.retention import compact_raw
    from mintpy_spark.operators.rollup import build_tiers
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer, maintain_tiers

    inp, store_root, ckpt = paths
    sch = "url string, warc_ts timestamp, text_length long"
    rows = [
        (f"u{u}", dt.datetime(2023, 1, d, h, 30), 100 + u * 10 + d + h)
        for u in range(3)
        for d in range(1, 8)
        for h in (3, 9, 15)
    ]
    land_days(inp, rows, sch)
    maintain_tiers(spark, inp, store_root, ckpt)
    m = TierMaintainer(store_root)
    res = compact_raw(spark, inp, "2023-01-04 00:00:00", m, tier="1h")
    assert (res["dropped"], res["kept"]) == (27, 36)

    maintain_tiers(spark, inp, store_root, ckpt)
    cols = ["url", "bucket_start", "cnt", "vsum", "vmin", "vmax"]
    want = build_tiers(spark.createDataFrame(rows, sch), "text_length")
    for t in m.tiers:
        got = m.read_tier(spark, t).select(*cols)
        assert got.agg(F.sum("cnt")).first()[0] == 63, t
        assert got.exceptAll(want[t].select(*cols)).count() == 0, t
        assert want[t].select(*cols).exceptAll(got).count() == 0, t
    assert m.committed_version(spark) == 0  # nothing new was folded
    res2 = compact_raw(spark, inp, "2023-01-06 00:00:00", m, tier="1h")
    assert (res2["dropped"], res2["kept"]) == (18, 18)


def test_compact_raw_keeps_a_straddling_file_whole(spark, paths):
    """A raw file with rows on both sides of the cutoff is kept byte for
    byte, records nothing in the ledger, and its old rows keep counting as
    raw: the same compaction passes its gate again."""
    import os

    from mintpy_spark.operators.retention import compact_raw
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer

    inp, store_root, _ = paths
    sch = "url string, warc_ts timestamp, text_length long"
    rows = [("u0", dt.datetime(2023, 1, d, 6), 10 * d) for d in range(1, 5)]
    spark.createDataFrame(rows, sch).coalesce(1).write.parquet(inp)

    def listing():
        return {f: os.path.getsize(os.path.join(inp, f)) for f in os.listdir(inp)}

    m = TierMaintainer(store_root)
    m.apply_delta(spark.read.parquet(inp), batch_id=0)
    before = listing()
    for _ in range(2):
        res = compact_raw(spark, inp, "2023-01-03 00:00:00", m, tier="1h")
        assert (res["dropped"], res["kept"]) == (0, 4)
        assert listing() == before
    assert not os.path.exists(inp + ".__compaction_ledger")


def test_dedup_index_stream_equals_batch(spark, tmp_path):
    """Streaming MinHash-LSH index: pairs emitted across batches must
    equal the one-shot batch operator over everything ingested, each
    pair exactly once; replays of committed batches are no-ops."""
    from mintpy_spark.operators.dedup import minhash_near_dups
    from mintpy_spark.streaming.dedup_stream import DedupIndexMaintainer

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    b1 = docs.where(F.col("doc_id") % 3 == 0)
    b2 = docs.where(F.col("doc_id") % 3 == 1)
    b3 = docs.where(F.col("doc_id") % 3 == 2)

    m = DedupIndexMaintainer(str(tmp_path / "dedup_idx"), threshold=0.5)
    m.apply_batch(b1, 0)
    m.apply_batch(b2, 1)
    m.apply_batch(b3, 2)

    got = {
        (r.doc_a, r.doc_b, round(r.est_jaccard, 9))
        for r in m.emitted_pairs(spark).collect()
    }
    want = {
        (r.doc_a, r.doc_b, round(r.est_jaccard, 9))
        for r in minhash_near_dups(docs, threshold=0.5).collect()
    }
    assert got == want and len(got) > 0
    # exactly-once: no pair twice across batches
    total = m.emitted_pairs(spark).count()
    assert total == m.emitted_pairs(spark).select("doc_a", "doc_b").distinct().count()

    # replay of a committed batch: skipped, store unchanged
    assert m.apply_batch(b2, 1) is None
    assert m.emitted_pairs(spark).count() == total
    assert m.committed_version(spark) == 2


def test_dedup_index_runs_on_the_shared_stream_pass(spark, tmp_path):
    """The index's AvailableNow ``run`` folds each new document file once:
    two passes equal the batch operator over every document, and each
    batch's lineage rows count what it staged."""
    from mintpy_spark.operators.dedup import minhash_near_dups
    from mintpy_spark.streaming.dedup_stream import DedupIndexMaintainer

    sch = "doc_id long, text string"
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = [(i, " ".join(words[(i + j) % 10] for j in range(8)) + f" doc{i % 3}")
            for i in range(24)]
    inp, ckpt = str(tmp_path / "docs"), str(tmp_path / "ckpt")
    m = DedupIndexMaintainer(str(tmp_path / "idx"))
    for lo, hi in ((0, 12), (12, 24)):
        spark.createDataFrame(docs[lo:hi], sch).write.mode("append").parquet(inp)
        m.run(spark, inp, ckpt, sch)

    got = {(r.doc_a, r.doc_b) for r in m.emitted_pairs(spark).collect()}
    want = {(r.doc_a, r.doc_b) for r in minhash_near_dups(
        spark.createDataFrame(docs, sch), threshold=0.5).collect()}
    assert got == want and got
    assert m.committed_version(spark) == 1
    assert m.metrics.stage_metrics("dedup_sig") == {0: 12, 1: 12}
    assert sum(m.metrics.stage_metrics("dedup_pairs").values()) == len(got)


def test_compact_raw_keeps_null_ts_rows(spark, paths, land_days):
    """Review fix: a NULL-timestamp row belongs to no bucket and can never
    be tier-covered — compaction must keep it (a bare ts >= cut filter
    would silently drop it, unledgered)."""
    from mintpy_spark.operators.retention import compact_raw
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer

    inp, store_root, _ = paths
    sch = "url string, warc_ts timestamp, text_length long"
    rows = [
        ("u0", dt.datetime(2023, 1, d, h, 30), 10 + d + h)
        for d in range(1, 5)
        for h in (3, 9)
    ]
    land_days(inp, rows, sch)
    spark.createDataFrame([("bad", None, 99)], sch).write.mode("append").parquet(inp)

    m = TierMaintainer(store_root)
    # fold only the timestamped rows (NULL ts has no bucket to fold into)
    m.apply_delta(spark.read.parquet(inp).where(F.col("warc_ts").isNotNull()), 0)
    res = compact_raw(spark, inp, "2023-01-03 00:00:00", m, tier="1h")
    left = spark.read.parquet(inp)
    assert res["dropped"] == 2 * 2
    assert left.where(F.col("warc_ts").isNull()).count() == 1  # survived
    assert left.count() == 2 * 2 + 1


def test_committed_version_ignores_stray_commit_entries(spark, paths, tmp_path):
    """Review fix: a stray entry in the manifest directory (rename
    artifact, v6.bak, an unfinished .tmp manifest) must not crash every
    read/fold of the tier store or the dedup index, nor count as a
    version."""
    import os

    from mintpy_spark.streaming.dedup_stream import DedupIndexMaintainer
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer

    def litter(root):
        for name in ("v6.bak", "v6.json.bak", "v7x.json", ".tmp-1.json"):
            open(os.path.join(root, "_manifests", name), "w").write("")

    inp, store_root, _ = paths
    sch = "url string, warc_ts timestamp, text_length long"
    spark.createDataFrame(
        [("u", dt.datetime(2023, 1, 1, 1, 30), 10)], sch
    ).write.mode("overwrite").parquet(inp)
    m = TierMaintainer(store_root)
    m.apply_delta(spark.read.parquet(inp), batch_id=0)
    litter(store_root)
    assert m.committed_version(spark) == 0
    assert m.versions(spark) == [0]
    assert m.read_tier(spark, "1h").count() == 1

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog again")],
        "doc_id long, text string",
    )
    d = DedupIndexMaintainer(str(tmp_path / "dedup_idx"))
    d.apply_batch(docs, batch_id=0)
    litter(d.root)
    assert d.committed_version(spark) == 0
    assert d.apply_batch(docs, batch_id=0) is None  # a replay, still skipped
    assert d.stored_signatures(spark).count() == 2


def test_read_realtime_on_variance_capable_store(spark, paths):
    """Review fix: the realtime tail must carry vsumsq when the stored
    tier does (union previously failed on the missing column)."""
    from mintpy_spark.operators.rollup import rollup_from_obs
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer

    inp, store_root, _ = paths
    sch = "url string, warc_ts timestamp, text_length long"
    base = [("u", dt.datetime(2023, 1, 1, 1, 10), 10),
            ("u", dt.datetime(2023, 1, 1, 1, 40), 30)]
    spark.createDataFrame(base, sch).write.mode("overwrite").parquet(inp)
    m = TierMaintainer(store_root, with_sq=True)
    m.apply_delta(spark.read.parquet(inp), batch_id=0)

    tail = spark.createDataFrame(
        [("u", dt.datetime(2023, 1, 1, 1, 50), 50)], sch
    )
    rt = m.read_realtime(spark, "1h", tail).collect()[0]
    assert rt.cnt == 3 and rt.vsum == 90.0
    assert rt.vsumsq == 100.0 + 900.0 + 2500.0


def test_checkpoint_table_refuses_remote_roots():
    import pytest

    from mintpy_spark.plans.checkpoint import CheckpointTable

    with pytest.raises(NotImplementedError, match="remote root"):
        CheckpointTable("s3a://bucket/tiers/_maintenance_metrics")


def test_hdr_sketch_maintenance_equals_batch_and_replay_safe(spark, paths):
    """Streamed HDR sketch folds must equal hdr_tier over everything
    ingested, and — critically for an ADDITIVE sketch — a replayed
    committed batch must not double-count."""
    from mintpy_spark.operators.sketch import hdr_tier
    from mintpy_spark.streaming.sketch_stream import HdrSketchMaintainer

    inp, store_root, ckpt = paths
    sch = "url string, warc_ts timestamp, text_length long"

    def drop(day_lo, day_hi):
        rows = [
            (f"u{u}", dt.datetime(2023, 2, d, h), 90 + u * 13 + h * 7)
            for u in range(3)
            for d in range(day_lo, day_hi)
            for h in (2, 8, 14, 20)
        ]
        spark.createDataFrame(rows, sch).write.mode("append").parquet(inp)

    m = HdrSketchMaintainer(store_root)
    drop(1, 3)
    m.run(spark, inp, ckpt, sch)
    drop(3, 5)  # new days
    drop(1, 2)  # late rows for day 1
    m.run(spark, inp, ckpt, sch)

    got = {tuple(r) for r in m.read_sketch(spark).collect()}
    allobs = spark.read.parquet(inp).select(
        F.date_trunc("day", F.col("warc_ts")).alias("day"),
        F.col("text_length").cast("long").alias("_v"),
    )
    want = {tuple(r) for r in hdr_tier(allobs, "_v", key_cols=("day",)).collect()}
    assert got == want

    # replay of an already-committed batch: counters must NOT double
    delta = spark.createDataFrame(
        [("u9", dt.datetime(2023, 2, 1, 5), 111)], sch
    )
    last = m.committed_version(spark)
    m.apply_delta(delta, batch_id=last)  # same id -> skipped
    assert {tuple(r) for r in m.read_sketch(spark).collect()} == got
    m.apply_delta(delta, batch_id=last + 1)  # new id -> folds once
    total = m.read_sketch(spark).agg(F.sum("cnt")).first()[0]
    assert total == spark.read.parquet(inp).count() + 1
