"""Round-3 operators: continuous-aggregate range routing, mergeable
regression partials, integer-CUSUM changepoints, bounded-staleness as-of,
day-of-week variance decomposition."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# plan_range_cover (pure planning, no Spark)
# ---------------------------------------------------------------------------

def _iso(s):
    return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")


def _check_cover(t0, t1, tiers=("1h", "1d", "30d")):
    from mintpy_spark.functions.timefn import TIER_SECONDS
    from mintpy_spark.operators.rollup import plan_range_cover

    cover = plan_range_cover(t0, t1, tiers)
    # pieces are disjoint and their union is exactly [t0, t1)
    ivals = sorted((_iso(a), _iso(b)) for _, a, b in cover)
    assert ivals[0][0] == _iso(t0)
    assert ivals[-1][1] == _iso(t1)
    for (a1, b1), (a2, b2) in zip(ivals, ivals[1:]):
        assert b1 == a2, f"gap/overlap between {b1} and {a2}"
    # tier pieces are aligned to their width
    epoch = datetime(1970, 1, 1)
    for tier, a, b in cover:
        if tier == "raw":
            continue
        w = TIER_SECONDS[tier]
        for t in (a, b):
            assert int((_iso(t) - epoch).total_seconds()) % w == 0, (tier, t)
    return cover


def test_range_cover_generic():
    cover = _check_cover("2024-01-03 05:30:00", "2024-02-27 17:45:00")
    kinds = {t for t, _, _ in cover}
    assert "1d" in kinds and "1h" in kinds and "raw" in kinds


def test_range_cover_aligned_needs_no_raw():
    cover = _check_cover("2024-01-03 00:00:00", "2024-01-27 00:00:00")
    assert {t for t, _, _ in cover} == {"1d"}


def test_range_cover_subhour_all_raw():
    cover = _check_cover("2024-01-03 05:10:00", "2024-01-03 05:40:00")
    assert {t for t, _, _ in cover} == {"raw"}


def test_range_cover_prefers_coarse_interior():
    # a 90-day aligned span should use 30d buckets for the epoch-aligned
    # interior, not 90 one-day pieces
    from mintpy_spark.operators.rollup import plan_range_cover

    cover = plan_range_cover("2023-11-01 00:00:00", "2024-03-01 00:00:00")
    assert any(t == "30d" for t, _, _ in cover)


# ---------------------------------------------------------------------------
# route_range_agg == direct aggregation
# ---------------------------------------------------------------------------

def test_route_range_agg_matches_direct(spark, obs):
    from mintpy_spark.operators.rollup import build_tiers, route_range_agg

    t0, t1 = "2023-01-20 07:30:00", "2023-04-02 13:45:00"
    tiers = build_tiers(obs, "text_length")
    routed = route_range_agg(obs, tiers, t0, t1, "text_length").cache()
    direct = (
        obs.where(
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
    r = {x["url"]: x for x in routed.collect()}
    d = {x["url"]: x for x in direct.collect()}
    assert set(r) == set(d) and len(d) > 0
    for url, row in d.items():
        assert r[url]["cnt"] == row["cnt"]
        assert r[url]["vmin"] == row["vmin"]
        assert r[url]["vmax"] == row["vmax"]
        assert abs(r[url]["vsum"] - row["vsum"]) < 1e-6 * max(1.0, abs(row["vsum"]))


# ---------------------------------------------------------------------------
# velocity partials == single-pass closed form
# ---------------------------------------------------------------------------

def test_velocity_partials_match_linear(spark, obs):
    from mintpy_spark.operators.timefunc import (
        linear_velocity,
        merge_velocity_partials,
        velocity_from_partials,
        velocity_partials,
    )

    direct = {
        r["url"]: r
        for r in linear_velocity(obs, "text_length", ref_year=2023.0).collect()
    }
    p = velocity_partials(obs, "text_length", ref_year=2023.0)
    merged = velocity_from_partials(merge_velocity_partials(p))
    via = {r["url"]: r for r in merged.collect()}
    assert set(via) == set(direct)
    for url, row in direct.items():
        assert via[url]["num_obs"] == row["num_obs"]
        assert via[url]["velocity"] == pytest.approx(row["velocity"], rel=1e-9, abs=1e-9)
        assert via[url]["intercept"] == pytest.approx(row["intercept"], rel=1e-9, abs=1e-9)


def test_velocity_partials_incremental_fold(spark, obs):
    """Partials computed on two disjoint halves of time and merged give
    the same fit as partials over the whole — the incremental-update
    property that makes velocity tier-maintainable."""
    from mintpy_spark.operators.timefunc import (
        merge_velocity_partials,
        velocity_from_partials,
        velocity_partials,
    )

    cut = obs.agg(F.expr("percentile_approx(cast(warc_ts as long), 0.5)")).first()[0]
    early = obs.where(F.col("warc_ts").cast("long") <= cut)
    late = obs.where(F.col("warc_ts").cast("long") > cut)
    pe = velocity_partials(early, "text_length", ref_year=2023.0)
    pl = velocity_partials(late, "text_length", ref_year=2023.0)
    folded = velocity_from_partials(
        merge_velocity_partials(pe.unionByName(pl))
    )
    whole = velocity_from_partials(
        merge_velocity_partials(velocity_partials(obs, "text_length", ref_year=2023.0))
    )
    f = {r["url"]: r for r in folded.collect()}
    w = {r["url"]: r for r in whole.collect()}
    assert set(f) == set(w)
    for url in w:
        assert f[url]["num_obs"] == w[url]["num_obs"]
        assert f[url]["velocity"] == pytest.approx(w[url]["velocity"], rel=1e-9, abs=1e-9)


# ---------------------------------------------------------------------------
# integer CUSUM changepoint
# ---------------------------------------------------------------------------

def test_cusum_finds_planted_shift(spark):
    from mintpy_spark.operators.changepoint import cusum_changepoint

    base = datetime(2024, 1, 1)
    rows = []
    # key A: counts jump 5 -> 25 at day 20 of 40; CUSUM argmax = last
    # pre-shift bucket (day index 19)
    for i in range(40):
        rows.append(("A", base + timedelta(days=i), 5 if i < 20 else 25))
    # key B: flat counts -> every deviation is tiny; argmax tie broken to
    # the earliest bucket
    for i in range(10):
        rows.append(("B", base + timedelta(days=i), 7))
    df = spark.createDataFrame(rows, "url string, bucket_start timestamp, c long")
    out = {r["url"]: r for r in cusum_changepoint(df).collect()}
    assert out["A"]["cp_bucket"] == base + timedelta(days=19)
    # exact integer numerator: n=40, S_19=100, S_n=600 -> |40*100-20*600|=8000
    assert out["A"]["max_dev_n"] == 8000
    assert out["B"]["max_dev_n"] == 0
    assert out["B"]["cp_bucket"] == base  # earliest-bucket tie break


def test_cusum_daily_counts_pipeline(spark, obs):
    from mintpy_spark.operators.changepoint import cusum_changepoint, daily_counts

    out = cusum_changepoint(daily_counts(obs)).collect()
    assert len(out) == obs.select("url").distinct().count()
    for r in out:
        assert r["max_dev_n"] >= 0 and r["n_buckets"] > 0


# ---------------------------------------------------------------------------
# as-of with tolerance
# ---------------------------------------------------------------------------

def test_asof_tolerance_nulls_stale_matches(spark):
    from mintpy_spark.operators.asof import asof_join, asof_join_tolerance

    t = datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [("k", t)], "url string, warc_ts timestamp"
    )
    for gap_s, expect in [(3600, 17.0), (3601, None), (0, 17.0)]:
        right = spark.createDataFrame(
            [("k", t - timedelta(seconds=gap_s), 17.0)],
            "url string, warc_ts timestamp, v double",
        )
        out = asof_join_tolerance(
            left, right, key="url", ts="warc_ts", tolerance_seconds=3600
        ).collect()
        assert len(out) == 1  # probe always kept (left-join semantics)
        assert out[0]["v"] == expect, f"gap={gap_s}"
        if expect is None:
            assert out[0]["asof_ts"] is None
        # plain asof still matches regardless of gap
        plain = asof_join(left, right, key="url", ts="warc_ts").collect()
        assert plain[0]["v"] == 17.0


def test_asof_tolerance_subsecond_boundary(spark):
    """Gap of tol + 0.5s must NOT match: the gap test is microsecond-
    precise, not whole-second-truncated."""
    from mintpy_spark.operators.asof import asof_join_tolerance

    t = datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame([("k", t)], "url string, warc_ts timestamp")
    right = spark.createDataFrame(
        [("k", t - timedelta(seconds=3600, microseconds=500_000), 9.0)],
        "url string, warc_ts timestamp, v double",
    )
    out = asof_join_tolerance(
        left, right, key="url", ts="warc_ts", tolerance_seconds=3600
    ).collect()
    assert out[0]["v"] is None


# ---------------------------------------------------------------------------
# open/close tier
# ---------------------------------------------------------------------------

def test_openclose_tie_break_deterministic(spark):
    from mintpy_spark.operators.rollup import rollup_openclose

    t = datetime(2024, 1, 1, 8, 0, 0)
    rows = [("k", t, 9.0), ("k", t, 3.0), ("k", t + timedelta(hours=2), 5.0)]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, v double")
    out = rollup_openclose(df, "v", "1d").collect()[0]
    # equal-timestamp open resolves to the SMALLER value (struct order)
    assert out["open_v"] == 3.0 and out["close_v"] == 5.0
    assert out["cnt"] == 3


# ---------------------------------------------------------------------------
# time-weighted average / heartbeat gaps
# ---------------------------------------------------------------------------

def test_time_weighted_average_step_series(spark):
    from mintpy_spark.operators.stats import time_weighted_average

    t = datetime(2024, 1, 1)
    rows = [
        ("k", t, 10.0),                      # holds 1h at 10
        ("k", t + timedelta(hours=1), 30.0), # holds 3h at 30
        ("k", t + timedelta(hours=4), 0.0),  # last obs: no forward interval
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, v double")
    out = time_weighted_average(df, "v").collect()[0]
    assert out["twa"] == pytest.approx((10 * 1 + 30 * 3) / 4.0)
    assert out["num_obs"] == 3


def test_heartbeat_gaps_counts_dead_intervals(spark):
    from mintpy_spark.operators.stats import heartbeat_gaps

    t = datetime(2024, 1, 1)
    rows = [
        ("k", t),
        ("k", t + timedelta(hours=1)),
        ("k", t + timedelta(hours=9)),   # 8h gap (dead > 6h)
        ("k", t + timedelta(hours=10)),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp")
    out = heartbeat_gaps(df, dead_threshold_seconds=21600).collect()[0]
    assert out["max_gap_us"] == 8 * 3600 * 1_000_000
    assert out["n_dead_intervals"] == 1


# ---------------------------------------------------------------------------
# deterministic sampling / splitting
# ---------------------------------------------------------------------------

def test_split_is_stable_and_growth_invariant(spark):
    from mintpy_spark.operators.sampling import with_split

    small = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s = {r["doc_id"]: r["split"] for r in with_split(small).collect()}
    b = {r["doc_id"]: r["split"] for r in with_split(big).collect()}
    # corpus growth never moves an existing document between splits
    assert all(b[k] == v for k, v in s.items())
    from collections import Counter

    frac = Counter(b.values())
    assert 0.7 < frac["train"] / 2000 < 0.9
    assert 0.05 < frac["val"] / 2000 < 0.15


def test_stratified_sample_rates(spark):
    from mintpy_spark.operators.sampling import stratified_sample

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("sw").alias("lang"),
    )
    out = stratified_sample(df, rates_pct={"en": 10}).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("sampled").cast("int")).alias("kept"),
    )
    r = {x["lang"]: x for x in out.collect()}
    assert r["sw"]["kept"] == r["sw"]["n"]          # default 100%
    assert 0.05 < r["en"]["kept"] / r["en"]["n"] < 0.15


def test_stratified_sample_is_independent_of_split(spark):
    """Review fix: the sampling hash is SALTED so a downsampled stratum
    still contains val and test documents — a shared bucket would put a
    10% sample entirely inside the train range [0, 80)."""
    from mintpy_spark.operators.sampling import stratified_sample, with_split

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    out = (
        stratified_sample(with_split(df), rates_pct={"en": 10})
        .where(F.col("sampled"))
        .groupBy("split")
        .count()
    )
    by_split = {r["split"]: r["count"] for r in out.collect()}
    assert set(by_split) == {"train", "val", "test"}
    total = sum(by_split.values())
    assert 0.05 < total / 3000 < 0.15
    # proportions within the sample track 80/10/10 loosely
    assert by_split["train"] / total > 0.6
    assert by_split["val"] > 0 and by_split["test"] > 0


def test_route_range_agg_rejects_empty_range(spark):
    import pytest as _pytest

    from mintpy_spark.operators.rollup import route_range_agg

    obs = spark.createDataFrame(
        [("u", "2024-01-01 00:00:00", 1.0)],
        "url string, warc_ts string, v double",
    ).select("url", F.col("warc_ts").cast("timestamp").alias("warc_ts"), "v")
    with _pytest.raises(ValueError, match="empty time range"):
        route_range_agg(
            obs, {}, "2024-01-03 00:00:00", "2024-01-03 00:00:00", "v"
        )


def test_shingle_drift_zero_union_is_null(spark):
    """Two consecutive sub-n-word docs: jaccard undefined -> NULL (not a
    crash, not inf) and the row is still emitted with inter/union = 0."""
    from mintpy_spark.operators.drift import shingle_drift

    df = spark.createDataFrame(
        [("s", 1, "hi there"), ("s", 2, "ok")],
        "source string, doc_id long, text string",
    )
    rows = shingle_drift(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.inter == 0 and r.union_sz == 0 and r.jaccard is None


def test_seq_closure_ml_rejects_string_key(spark):
    import pytest as _pytest

    from mintpy_spark.operators.diff import seq_closure_ml

    obs = spark.createDataFrame(
        [("u", "2024-01-01 00:00:00", 1.0)],
        "url string, warc_ts string, value double",
    ).select("url", F.col("warc_ts").cast("timestamp").alias("warc_ts"), "value")
    with _pytest.raises(TypeError, match="NUMERIC key"):
        seq_closure_ml(obs, "value")
