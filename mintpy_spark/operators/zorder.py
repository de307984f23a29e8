"""Z-order (Morton) values for multi-dimensional data skipping.

No MintPy analog — this is table-layout machinery: a 10^12-row table
queried by BOTH series key and time benefits from neither a pure key sort
(time filters touch every file) nor a pure time sort (key filters touch
every file). Interleaving the bits of the two dimensions into one sort key
bounds the number of files a 2-D box query touches: a range in either
dimension maps to O(sqrt) of the z-curve, so parquet row-group min/max
stats prune most of the table (the mechanism Delta/Iceberg `OPTIMIZE
ZORDER BY` uses). The registry's ``zorder_cell_stats`` certifies that
locality on the events table.

The z-value is built from pure integer arithmetic — ``(x div 2^i) % 2``
times a power-of-two weight — so the SAME formula evaluates identically
in Spark (``div``), DuckDB (``//``) and NumPy, making layouts and cell
statistics verifiable cross-engine. No shift operators: Spark SQL lacks
``<<`` and DuckDB lacks ``shiftleft``, but both share div/mod/multiply.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def zvalue_sql(x: str, y: str, bits: int = 6, *, duck: bool = False) -> str:
    """SQL text for the interleaved z-value of two ``bits``-bit ints:
    x occupies even bit positions, y odd. ``duck=True`` spells integer
    division as ``//`` (DuckDB), else ``div`` (Spark SQL). The expanded
    expression is 2*bits terms — bounded and codegen-friendly."""
    assert 0 < bits <= 31
    d = "//" if duck else "div"
    terms = []
    for i in range(bits):
        terms.append(f"((({x}) {d} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({y}) {d} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def zvalue(x: str, y: str, bits: int = 6) -> Column:
    """Spark Column for the z-value (see zvalue_sql)."""
    return F.expr(zvalue_sql(x, y, bits)).cast("long")
