from __future__ import annotations

import pytest

from mintpy_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    sp = get_spark(app_name="mintpy_spark_tests", master="local[8]")
    sp.sparkContext.setLogLevel("ERROR")
    yield sp
    sp.stop()


@pytest.fixture(scope="session")
def pages(spark):
    from mintpy_spark.datagen import gen_pages

    return gen_pages(spark, num_urls=80).cache()


@pytest.fixture(scope="session")
def obs(spark, pages):
    from mintpy_spark.operators.observe import pages_to_obs

    return pages_to_obs(pages).cache()


@pytest.fixture
def land_days(spark):
    """Append rows (key, ts, ...) to a parquet directory one file per day,
    in day order, as the production stream lands them: the unit raw
    compaction drops."""

    def land(path, rows, schema):
        by_day: dict = {}
        for r in rows:
            by_day.setdefault(r[1].date(), []).append(r)
        for day in sorted(by_day):
            spark.createDataFrame(by_day[day], schema).coalesce(1).write.mode(
                "append"
            ).parquet(path)

    return land
