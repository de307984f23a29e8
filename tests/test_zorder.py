"""Z-order values (operators/zorder.py): bit-interleave correctness against
a pure-Python reference."""

from __future__ import annotations

from mintpy_spark.operators.zorder import zvalue


def zvalue_py(x: int, y: int, bits: int = 6) -> int:
    """Pure-Python reference for ``zvalue``."""
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zvalue_matches_python_reference(spark):
    rows = [(x, y) for x in (0, 1, 5, 37, 63) for y in (0, 2, 33, 63)]
    df = spark.createDataFrame(rows, "x long, y long").withColumn(
        "z", zvalue("x", "y", 6)
    )
    for r in df.collect():
        assert r.z == zvalue_py(r.x, r.y, 6), (r.x, r.y)
