"""Engine-portable exact money arithmetic.

``round(sum(double), 2)`` eventually straddles a half-cent across engines:
the two engines accumulate in different orders, the raw sums differ in the
last ulp, and a sum landing within an ulp of x.xx5 rounds apart (observed
on TPC-H Q10, 1 group of 312 at sf0.01; window frames are worse — DuckDB
evaluates them with segment trees, Spark with running adds, so the
summation *tree* differs, not just the order).

The fix: scale each row to exact integer ten-thousandths BEFORE the
aggregate (``floor(x*10000+0.5)`` cast BIGINT — source money values carry
at most 4 decimals: prices 2, discount×price 4). Integer sums are
accumulation-order-insensitive, so every aggregate/window/rank computed on
them is bit-identical across engines; divide back to dollars only at
output. Oracles spell the identical expression trees in DuckDB SQL, so
both engines run the same IEEE ops.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tt(expr: Column) -> Column:
    """Per-row exact integer ten-thousandths of a money expression."""
    return F.floor(expr * F.lit(10000.0) + F.lit(0.5)).cast("long")


def money(sum_tt: Column) -> Column:
    """BIGINT sum of ten-thousandths → 2-decimal dollars (portable)."""
    return F.floor(sum_tt / F.lit(10000.0) * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)
