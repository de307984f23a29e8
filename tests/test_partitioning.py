"""Salting: skew-proof aggregation equals plain aggregation exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from mintpy_spark.operators.partitioning import salted_agg


def test_salted_agg_equals_plain(spark):
    df = spark.range(0, 20000).select(
        (F.col("id") % 3).cast("string").alias("k"),  # 3 hot keys
        (F.col("id") * 7 % 1000).cast("double").alias("v"),
    )
    plain = {
        r.k: r
        for r in df.groupBy("k")
        .agg(
            F.count("v").alias("cnt"),
            F.sum("v").alias("vsum"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
        )
        .collect()
    }
    salted = {
        r.k: r
        for r in salted_agg(
            df,
            "k",
            {
                "cnt": ("count", "v"),
                "vsum": ("sum", "v"),
                "vmin": ("min", "v"),
                "vmax": ("max", "v"),
            },
            salt=16,
        ).collect()
    }
    assert plain.keys() == salted.keys()
    for k in plain:
        assert plain[k].cnt == salted[k].cnt
        assert plain[k].vmin == salted[k].vmin
        assert plain[k].vmax == salted[k].vmax
        assert abs(plain[k].vsum - salted[k].vsum) < 1e-6
