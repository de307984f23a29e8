"""Round-3 batch j: bucketed interval-containment join and per-source
quota sampling — known-answer tests."""

from __future__ import annotations

import datetime as dt


def _ts(h, m=0, s=0):
    return dt.datetime(2024, 5, 1, h, m, s)


def test_interval_join_counts_known(spark):
    from mintpy_spark.operators.intervaljoin import interval_point_counts

    intervals = spark.createDataFrame(
        [
            ("a", _ts(1, 0), _ts(3, 30)),    # spans 3 hour-buckets
            ("b", _ts(5, 15), _ts(5, 15)),   # zero-length interval
            ("c", _ts(8, 0), _ts(9, 0)),     # empty interval
        ],
        "iv_id string, session_start timestamp, session_end timestamp",
    )
    points = spark.createDataFrame(
        [
            (0, _ts(0, 59)),   # just before a
            (1, _ts(1, 0)),    # inclusive start boundary of a
            (2, _ts(2, 30)),   # interior of a
            (3, _ts(3, 30)),   # inclusive end boundary of a
            (4, _ts(3, 31)),   # just after a
            (5, _ts(5, 15)),   # exactly the zero-length interval b
        ],
        "event_id long, ts timestamp",
    )
    out = {
        r["iv_id"]: r["n_inside"]
        for r in interval_point_counts(
            intervals, points, keys=("iv_id",), bucket_seconds=3600
        ).collect()
    }
    assert out == {"a": 3, "b": 1, "c": 0}


def test_interval_join_matches_once_across_buckets(spark):
    # an interval covering many buckets must count each point exactly
    # once (the point meets it only in the point's own bucket)
    from mintpy_spark.operators.intervaljoin import interval_point_counts

    intervals = spark.createDataFrame(
        [("w", _ts(0), dt.datetime(2024, 5, 2, 0))],
        "iv_id string, session_start timestamp, session_end timestamp",
    )
    points = spark.createDataFrame(
        [(i, _ts(i % 24, 30)) for i in range(24)],
        "event_id long, ts timestamp",
    )
    rows = interval_point_counts(
        intervals, points, keys=("iv_id",), bucket_seconds=3600
    ).collect()
    assert len(rows) == 1 and rows[0]["n_inside"] == 24


def test_quota_sample_caps_and_determinism(spark):
    from mintpy_spark.operators.sampling import quota_sample

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(60)], "doc_id long, source string"
    )
    a = quota_sample(docs, key="source", id_col="doc_id", k=5)
    rows = a.collect()
    per = {}
    for r in rows:
        per.setdefault(r["source"], []).append(r["doc_id"])
    assert set(per) == {"s0", "s1", "s2"}
    assert all(len(v) == 5 for v in per.values())
    # deterministic under re-evaluation and re-partitioning
    b = quota_sample(docs.repartition(7), key="source", id_col="doc_id", k=5)
    assert sorted((r["source"], r["doc_id"]) for r in b.collect()) == sorted(
        (r["source"], r["doc_id"]) for r in rows
    )


def test_quota_sample_small_groups_kept_whole(spark):
    from mintpy_spark.operators.sampling import quota_sample

    docs = spark.createDataFrame(
        [(1, "tiny"), (2, "tiny")], "doc_id long, source string"
    )
    rows = quota_sample(docs, key="source", id_col="doc_id", k=10).collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2]
    assert sorted(r["rk"] for r in rows) == [1, 2]


def test_quota_sample_independent_of_split_salt(spark):
    # the quota decision must not correlate with the train/test split
    # (distinct salts -> independent hashes)
    from mintpy_spark.operators.sampling import quota_sample, stable_bucket

    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, "s") for i in range(2000)], "doc_id long, source string"
    )
    kept = quota_sample(docs, key="source", id_col="doc_id", k=1000)
    split = docs.withColumn(
        "b", stable_bucket(F.col("doc_id"), buckets=2, salt="split")
    )
    j = kept.join(split, "doc_id").groupBy("b").count().collect()
    frac = {r["b"]: r["count"] for r in j}
    # each split half should hold ~50% of the quota sample (binomial,
    # 1000 draws -> 3-sigma ~ 47)
    assert abs(frac.get(0, 0) - 500) < 150
