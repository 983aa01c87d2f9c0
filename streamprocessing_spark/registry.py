"""Query registry.

Every operator the engine claims (SURVEY.md §2.2 + north-star extensions)
registers here as a ``QuerySpec``: a PySpark callable ``(spark, sf_dir) ->
DataFrame`` plus, when SQL-expressible, an equivalent DuckDB oracle SQL
string. The driver contract (__spark_entry__.py) exposes exactly this
registry.

Order: ``all_specs()`` (and so ``queries()``) yields the ``GATE_FIRST``
names first, in tuple order, then every other query in registration
order — ``_QUERY_MODULES`` order, then decorator order within a module.
The driver's oracle gate checks the first 50 names, so ``GATE_FIRST``
holds the queries whose code changed since their last driver row.

Column-name discipline: the Spark DataFrame and the oracle SQL must produce
identical column names (the driver sorts columns by name before hashing) —
every computed column is aliased on both sides.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL over the pre-registered views
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}

# Modules that register queries on import.
_QUERY_MODULES = (
    "streamprocessing_spark.queries.core",
    "streamprocessing_spark.queries.analytics",
    "streamprocessing_spark.queries.tpch_extra",
    "streamprocessing_spark.queries.curation",
    "streamprocessing_spark.queries.quality",
    "streamprocessing_spark.queries.timeseries",
    "streamprocessing_spark.queries.layout",
    "streamprocessing_spark.queries.graph",
    "streamprocessing_spark.queries.dedup",
    "streamprocessing_spark.queries.similarity",
    "streamprocessing_spark.queries.text",
    "streamprocessing_spark.queries.multimodal",
    "streamprocessing_spark.queries.streaming",
    "streamprocessing_spark.queries.rainstorm",
)

# Queries whose code changed after their last gate oracle row: the
# engine's op surfaces (mixed-contract ops collapse in one aggregate,
# ExecOp spreads its input over every core) and the query that keeps
# engine.tracked_persist. Keep each family contiguous so its shared
# views are built once, builder ahead of consumers, and reset the tuple
# to the queries a change touches.
GATE_FIRST = (
    "rainstorm_streaming_app1",
    "rainstorm_streaming_app2",
    "streaming_count_update",
    "streaming_append_sink",
    "streaming_dedup_by_id",
    "streaming_dedup_watermarked",
    "streaming_windowed_count",
    "streaming_session_window",
    "streaming_session_timeout",
    "streaming_dedup_then_window",
    "streaming_complete_topk",
    "streaming_left_outer_join",
    "streaming_hourly_daily_rollup",
    "streaming_sliding_window",
    "streaming_static_join",
    "streaming_interval_join",
    "streaming_stateful_alerts",
    "streaming_transition_pairs",
    "streaming_windowed_distinct_users",
    "streaming_malformed_json_quarantine",
    "streaming_ivf_pairs_ingest",
    "streaming_paragraph_dedup_ingest",
    "streaming_cdc_chunks_ingest",
    "streaming_containment_ingest",
)


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or "")
        return fn

    return deco


def _load() -> None:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    # Python-side operators (mapInPandas kernels) must serialize by value
    # so executors never need this package on their sys.path.
    from streamprocessing_spark.shipping import ensure_shippable

    ensure_shippable()


def all_specs() -> dict[str, QuerySpec]:
    """Every query in presentation order (see the module docstring)."""
    _load()
    # sort rather than trust insertion order: a query module imported
    # early (curation imports dedup mid-file) interleaves its names
    rest = sorted(_REGISTRY.values(), key=lambda s: _QUERY_MODULES.index(s.fn.__module__))
    return {name: _REGISTRY[name] for name in GATE_FIRST} | {s.name: s for s in rest}


def all_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def all_oracles() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None}
