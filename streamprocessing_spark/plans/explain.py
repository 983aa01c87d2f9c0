"""Physical-plan inspection — the scale-readiness feedback loop.

Correct results aren't enough: a plan that scans all columns, skips
pushdown, or shuffles twice where once suffices is wrong at 100 TB even
when it's right at sf0.01. These helpers turn ``explain("formatted")``
into assertable properties so plan quality is part of the test suite
(tests/test_plans.py), not a one-off eyeball.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators (broadcast exchanges excluded):
    the dominant cost driver at scale."""
    plan = formatted_plan(df)
    # formatted mode names nodes as "(N) Exchange" / "(N) BroadcastExchange"
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.MULTILINE))


def count_python_passes(df: DataFrame) -> int:
    """Number of MapInPandas operators: one Arrow round trip into Python
    each (one per RainStorm Python op, or one for a chained op1 → op2)."""
    return len(re.findall(r"^\(\d+\) MapInPandas\b", formatted_plan(df), flags=re.MULTILINE))


def has_pushed_filters(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan advertises a pushed filter containing
    ``fragment`` (shows as PushedFilters: [...] in the scan node)."""
    plan = formatted_plan(df)
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return any(fragment in filters for filters in m)


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each parquet scan (column pruning
    check: a 2-column projection must not scan 16 columns)."""
    plan = formatted_plan(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out
