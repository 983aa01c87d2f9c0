"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over streamprocessing_spark's query registry: every operator
from SURVEY.md §2.2 (plus the north-star LLM-pipeline extensions) registers
a PySpark implementation and, when SQL-expressible, a DuckDB oracle.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from streamprocessing_spark.registry import all_oracles, all_queries  # noqa: E402

_FLAGSHIP = "app2_pipeline"
_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    App2 end-to-end (the reference's demo category-count pipeline,
    SURVEY.md §5): equality filter → projection → keyed count.
    """
    return all_queries()[_FLAGSHIP](spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Order: the names in ``registry.GATE_FIRST`` (queries whose code
    changed since their last driver row) first, then every other query
    in registration order. The driver's oracle gate checks the first 50.
    """
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query; omitted entries get a rows-only check."""
    return all_oracles()
