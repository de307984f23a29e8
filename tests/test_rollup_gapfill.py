"""Golden-value tests: Spark rollup/gap-fill vs a NumPy oracle — the
reference's simulate-truth-recover pattern (tests/dem_error.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from mintpy_spark.operators.gapfill import gapfill
from mintpy_spark.operators.rollup import build_tiers, with_mean


def numpy_rollup(pdf: pd.DataFrame, width_sec: int) -> pd.DataFrame:
    """Single-process oracle: groupby (url, epoch-anchored bucket)."""
    sec = pdf["warc_ts"].astype("int64") // 10**9
    bucket = (sec - sec % width_sec) * 10**9
    g = pdf.assign(bucket_start=pd.to_datetime(bucket)).groupby(
        ["url", "bucket_start"], as_index=False
    )["text_length"]
    out = g.agg(["count", "sum", "min", "max"])
    out.columns = ["url", "bucket_start", "cnt", "vsum", "vmin", "vmax"]
    return out.sort_values(["url", "bucket_start"]).reset_index(drop=True)


def test_tiers_match_numpy_oracle(obs):
    pdf = obs.select("url", "warc_ts", "text_length").toPandas()
    tiers = build_tiers(obs, "text_length")
    for tier, width in [("1h", 3600), ("1d", 86400), ("30d", 30 * 86400)]:
        got = (
            tiers[tier]
            .toPandas()
            .sort_values(["url", "bucket_start"])
            .reset_index(drop=True)
        )
        want = numpy_rollup(pdf, width)
        pd.testing.assert_frame_equal(
            got.astype({"cnt": "int64", "vsum": "int64"}),
            want.astype({"cnt": "int64", "vsum": "int64"}),
            check_dtype=False,
        )


def test_tier_consistency_exact(obs):
    """30d partials must equal a direct 30d aggregation of raw obs —
    integer metric, so equality is exact (SURVEY.md §7.3)."""
    from mintpy_spark.operators.rollup import rollup_from_obs

    tiers = build_tiers(obs, "text_length")
    direct = rollup_from_obs(obs, "text_length", "30d")
    diff = (
        tiers["30d"]
        .alias("a")
        .join(direct.alias("b"), ["url", "bucket_start"], "full")
        .where(
            (F.col("a.cnt") != F.col("b.cnt"))
            | (F.col("a.vsum") != F.col("b.vsum"))
            | (F.col("a.vmin") != F.col("b.vmin"))
            | (F.col("a.vmax") != F.col("b.vmax"))
        )
    )
    assert diff.count() == 0


def test_gapfill_linear_matches_numpy(obs):
    got = (
        gapfill(obs, "text_length", tier="1d", mode="linear")
        .toPandas()
        .sort_values(["url", "bucket_start"])
        .reset_index(drop=True)
    )
    pdf = obs.select("url", "warc_ts", "text_length").toPandas()
    rows = []
    for url, g in pdf.groupby("url"):
        g = g.sort_values("warc_ts")
        # last obs per day
        day = g["warc_ts"].dt.floor("D")
        picked = g.groupby(day).tail(1)
        days = pd.date_range(picked["warc_ts"].dt.floor("D").min(),
                             picked["warc_ts"].dt.floor("D").max(), freq="D")
        t_obs = picked["warc_ts"].astype("int64").to_numpy() / 1e9
        v_obs = picked["text_length"].to_numpy(dtype=float)
        t_grid = days.astype("int64").to_numpy() / 1e9
        interp = np.interp(t_grid, t_obs, v_obs)  # flat extrapolation at edges
        by_day = {d: v for d, v in zip(picked["warc_ts"].dt.floor("D"), v_obs)}
        for d, v in zip(days, interp):
            if d in by_day:
                rows.append((url, d, float(by_day[d]), False))
            else:
                rows.append((url, d, float(v), True))
    want = pd.DataFrame(rows, columns=["url", "bucket_start", "value", "filled"]) \
        .sort_values(["url", "bucket_start"]).reset_index(drop=True)
    assert len(got) == len(want)
    np.testing.assert_allclose(got["value"].to_numpy(), want["value"].to_numpy(), rtol=1e-9)
    assert (got["filled"].to_numpy() == want["filled"].to_numpy()).all()


def test_gapfill_lastobs_steps(obs):
    """Forward-fill semantics: on filled rows value equals the previous
    observed day's value."""
    gf = gapfill(obs, "text_length", tier="1d", mode="last_obs")
    pdf = gf.orderBy("url", "bucket_start").toPandas()
    for url, g in pdf.groupby("url"):
        vals = g["value"].to_numpy()
        filled = g["filled"].to_numpy()
        prev = None
        for v, f in zip(vals, filled):
            if f:
                assert v == prev
            prev = v


def test_mean_derived_from_partials(obs):
    t = with_mean(build_tiers(obs, "text_length")["1d"])
    bad = t.where(F.abs(F.col("vmean") * F.col("cnt") - F.col("vsum")) > 1e-6)
    assert bad.count() == 0


def test_merge_tier_delta_equals_full_rebuild(spark, obs):
    """Folding a late slice into a stored tier partial-wise reproduces the
    from-scratch tier: cnt/min/max exactly, vsum within 1 ulp."""
    from pyspark.sql import functions as F

    from mintpy_spark.operators.rollup import merge_tier_delta, rollup_from_obs

    cut = obs.agg(F.percentile_approx("warc_ts", 0.7).alias("c")).first()["c"]
    base = rollup_from_obs(obs.where(F.col("warc_ts") < F.lit(cut)), "text_length")
    merged = merge_tier_delta(
        base, obs.where(F.col("warc_ts") >= F.lit(cut)), "text_length"
    )
    full = rollup_from_obs(obs, "text_length")
    j = merged.alias("m").join(full.alias("f"), ["url", "bucket_start"], "full")
    assert j.where(F.col("m.cnt").isNull() | F.col("f.cnt").isNull()).count() == 0
    bad = j.where(
        (F.col("m.cnt") != F.col("f.cnt"))
        | (F.col("m.vmin") != F.col("f.vmin"))
        | (F.col("m.vmax") != F.col("f.vmax"))
        | (F.abs(F.col("m.vsum") - F.col("f.vsum")) > 1e-6)
    ).count()
    assert bad == 0


def test_merge_tier_delta_empty_delta_is_identity(spark, obs):
    from pyspark.sql import functions as F

    from mintpy_spark.operators.rollup import merge_tier_delta, rollup_from_obs

    base = rollup_from_obs(obs, "text_length")
    merged = merge_tier_delta(base, obs.where(F.lit(False)), "text_length")
    assert merged.count() == base.count()
    j = merged.alias("m").join(base.alias("b"), ["url", "bucket_start"])
    assert j.where(F.col("m.cnt") != F.col("b.cnt")).count() == 0


def test_pick_tier_routing():
    from mintpy_spark.operators.rollup import parse_width, pick_tier

    assert pick_tier("6h") == "1h"     # 1d does not divide 6h
    assert pick_tier("7d") == "1d"     # coarsest divisor of 7d
    assert pick_tier("36h") == "1h"    # 24h does not divide 36h
    assert pick_tier("90d") == "30d"   # coarsest wins over 1d/1h
    assert parse_width("36h") == 36 * 3600
    import pytest

    with pytest.raises(ValueError):
        pick_tier("5h", available=("1d", "30d"))  # nothing divides


def test_rollup_to_width_matches_direct(spark, obs):
    from pyspark.sql import functions as F

    from mintpy_spark.operators.rollup import rollup_from_obs, rollup_to_width

    t1h = rollup_from_obs(obs, "text_length")
    via_tier = rollup_to_width(t1h, "6h")
    sec = F.col("warc_ts").cast("long")
    direct = (
        obs.groupBy(
            "url",
            F.timestamp_seconds(sec - F.pmod(sec, F.lit(21600))).alias("bucket_start"),
        )
        .agg(
            F.count("text_length").alias("cnt"),
            F.sum("text_length").alias("vsum"),
            F.min("text_length").alias("vmin"),
            F.max("text_length").alias("vmax"),
        )
    )
    j = via_tier.alias("a").join(direct.alias("b"), ["url", "bucket_start"], "full")
    assert j.where(F.col("a.cnt").isNull() | F.col("b.cnt").isNull()).count() == 0
    assert (
        j.where(
            (F.col("a.cnt") != F.col("b.cnt"))
            | (F.col("a.vmin") != F.col("b.vmin"))
            | (F.col("a.vmax") != F.col("b.vmax"))
            | (F.abs(F.col("a.vsum") - F.col("b.vsum")) > 1e-6)
        ).count()
        == 0
    )


def test_refresh_tiers_incremental_equals_full_rebuild(spark, obs):
    """Merging a late slice through all three tiers (one partial merge per
    tier) reproduces the from-scratch tier stack."""
    from pyspark.sql import functions as F

    from mintpy_spark.operators.rollup import build_tiers, merge_tier_delta

    cut = obs.agg(F.percentile_approx("warc_ts", 0.6).alias("c")).first()["c"]
    base_obs = obs.where(F.col("warc_ts") < F.lit(cut))
    late_obs = obs.where(F.col("warc_ts") >= F.lit(cut))
    stored = build_tiers(base_obs, "text_length")
    full = build_tiers(obs, "text_length")
    for t in ("1h", "1d", "30d"):
        refreshed = merge_tier_delta(stored[t], late_obs, "text_length", t)
        j = refreshed.alias("r").join(
            full[t].alias("f"), ["url", "bucket_start"], "full"
        )
        assert j.where(F.col("r.cnt").isNull() | F.col("f.cnt").isNull()).count() == 0, t
        bad = j.where(
            (F.col("r.cnt") != F.col("f.cnt"))
            | (F.col("r.vmin") != F.col("f.vmin"))
            | (F.col("r.vmax") != F.col("f.vmax"))
            | (F.abs(F.col("r.vsum") - F.col("f.vsum")) > 1e-6)
        ).count()
        assert bad == 0, t


def test_refresh_tiers_passes_untouched_cells_through(spark, obs):
    """Untouched cells must pass through IDENTICALLY (same values, bit for
    bit): a refresh with a delta touching a few cells leaves every other
    cell of every tier bit-identical to the stored tier."""
    from mintpy_spark.functions.timefn import bucket_start
    from mintpy_spark.operators.rollup import build_tiers, merge_tier_delta

    stored = build_tiers(obs, "text_length")
    one_day = obs.orderBy("warc_ts").limit(5)
    for t in ("1h", "1d", "30d"):
        refreshed = merge_tier_delta(stored[t], one_day, "text_length", t)
        dirty = one_day.select(
            "url", bucket_start(F.col("warc_ts"), t).alias("bucket_start")
        ).distinct()
        clean_ref = refreshed.join(dirty, ["url", "bucket_start"], "left_anti")
        clean_old = stored[t].join(dirty, ["url", "bucket_start"], "left_anti")
        assert clean_ref.exceptAll(clean_old).count() == 0, t
        assert clean_old.exceptAll(clean_ref).count() == 0, t
        assert clean_old.count() > 0, t


def test_variance_from_tier_partials(spark, obs):
    """std derived from (cnt, vsum, vsumsq) tier partials == direct
    stddev_pop over raw data, at the cascaded 1d tier."""
    from pyspark.sql import functions as F

    from mintpy_spark.operators.rollup import cascade, rollup_from_obs

    t1d = cascade(rollup_from_obs(obs, "text_length", with_sq=True), "1d")
    derived = t1d.select(
        "url", "bucket_start",
        F.sqrt(
            F.col("vsumsq") / F.col("cnt")
            - (F.col("vsum") / F.col("cnt")) ** 2
        ).alias("std_p"),
    )
    direct = (
        obs.groupBy("url", F.date_trunc("day", "warc_ts").alias("bucket_start"))
        .agg(F.stddev_pop("text_length").alias("std_d"))
    )
    j = derived.join(direct, ["url", "bucket_start"])
    bad = j.where(F.abs(F.col("std_p") - F.col("std_d")) > 1e-6).count()
    assert bad == 0 and j.count() > 0


def test_vsumsq_flows_through_incremental_merge(spark, obs):
    """The variance partial must survive merge_tier_delta (the seam
    extension): merged variance tier == from-scratch variance tier."""
    from pyspark.sql import functions as F

    from mintpy_spark.operators.rollup import merge_tier_delta, rollup_from_obs

    cut = obs.agg(F.percentile_approx("warc_ts", 0.7).alias("c")).first()["c"]
    base = rollup_from_obs(
        obs.where(F.col("warc_ts") < F.lit(cut)), "text_length", with_sq=True
    )
    merged = merge_tier_delta(
        base, obs.where(F.col("warc_ts") >= F.lit(cut)), "text_length"
    )
    assert "vsumsq" in merged.columns
    full = rollup_from_obs(obs, "text_length", with_sq=True)
    j = merged.alias("m").join(full.alias("f"), ["url", "bucket_start"], "full")
    bad = j.where(
        F.col("m.vsumsq").isNull()
        | F.col("f.vsumsq").isNull()
        | (F.abs(F.col("m.vsumsq") - F.col("f.vsumsq")) > 1e-4)
    ).count()
    assert bad == 0


def test_gapfill_null_valued_obs_are_no_data(spark):
    """Review fix (live-reproduced DIVIDE_BY_ZERO): a NULL-valued
    observation must not set a bucket's obs_ts — linear interpolation
    spans the surrounding REAL observations instead of crashing."""
    import datetime as dt

    rows = [
        ("k", dt.datetime(2023, 1, 1, 0, 30), 10.0),
        ("k", dt.datetime(2023, 1, 2, 1, 30), None),
        ("k", dt.datetime(2023, 1, 4, 3, 30), 40.0),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, v double")
    for mode in ("linear", "nearest", "last_obs"):
        out = {
            r.bucket_start: r.value
            for r in gapfill(df, "v", tier="1d", mode=mode).collect()
        }
        assert len(out) == 4  # days 1..4
        assert out[dt.datetime(2023, 1, 1)] == 10.0
        assert out[dt.datetime(2023, 1, 4)] == 40.0
    # linear: interpolation between the two REAL obs at their actual ts
    lin = {
        r.bucket_start: r.value
        for r in gapfill(df, "v", tier="1d", mode="linear").collect()
    }
    t0 = dt.datetime(2023, 1, 1, 0, 30).timestamp()
    t1 = dt.datetime(2023, 1, 4, 3, 30).timestamp()
    for day in (2, 3):
        tb = dt.datetime(2023, 1, day).timestamp()
        expect = 10.0 + 30.0 * (tb - t0) / (t1 - t0)
        assert abs(lin[dt.datetime(2023, 1, day)] - expect) < 1e-9


def test_gapfill_bucket_tie_is_deterministic(spark):
    """Two obs at the identical (key, bucket, ts): the struct max keeps
    the larger value on ts ties — stable across partitionings."""
    import datetime as dt

    from mintpy_spark.operators.gapfill import bucketize

    t = dt.datetime(2023, 1, 1, 5, 0)
    df = spark.createDataFrame(
        [("k", t, 3.0), ("k", t, 9.0)],
        "url string, warc_ts timestamp, v double",
    )
    r = bucketize(df, "v", "1d").collect()[0]
    assert r.value == 9.0 and r.obs_ts == t


def test_rollup_to_width_rejects_non_dividing_source(spark, obs):
    import pytest

    from mintpy_spark.operators.rollup import rollup_to_width

    tiers = build_tiers(obs, "text_length")
    with pytest.raises(ValueError, match="do not divide"):
        rollup_to_width(tiers["1d"], "36h", src_tier="1d")
