"""The reference's two demo applications run END-TO-END through the
RainStormJob facade with the real plugin path (mapInPandas over the
stdout-contract callables) — oracle-checked like every other query.

The record stream is a TrafficSigns-shaped CSV line built from orders
(FIXTURES.md §1: the ops hardcode column positions 2,3 / 6,8)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamprocessing_spark import engine as E
from streamprocessing_spark.registry import register
from streamprocessing_spark.sources.readers import load_table

# 0-based CSV layout of the synthetic line (mirrors the demo dataset's
# semantic columns): 2=objectid, 3=sign_type, 6=sign_post, 8=category.
_LINE_COLS = (
    "o_orderkey",      # 0
    "'a'",             # 1 filler
    "o_orderkey",      # 2 objectid
    "o_orderpriority", # 3 sign_type (contains-filter target)
    "'sz'",            # 4 filler
    "'sup'",           # 5 filler
    "o_orderstatus",   # 6 sign_post (equality target)
    "'yr'",            # 7 filler
    "o_orderpriority", # 8 category (count key)
    "'note'",          # 9 filler
)

# COALESCE to '' keeps the line at its fixed 10-field arity when a data
# column is NULL (concat_ws would silently DROP the field, yielding
# ragged CSV that the batch parser rightly rejects — hostile-sweep find;
# Go's encoding/csv likewise renders a missing value as an empty field)
_SQL_LINE = " || ',' || ".join(
    c if c.startswith("'") else f"COALESCE(CAST({c} AS VARCHAR), '')" for c in _LINE_COLS
)


def _record_stream(spark: SparkSession, sf_dir: str, orders: DataFrame | None = None) -> DataFrame:
    """(key, value) records: key = 'orders:<orderkey>' (the reference's
    '<file>:<lineNo>' source key, server.go:439), value = the CSV line.
    Pass a streaming ``orders`` frame to build a streaming record source
    (the construction is a narrow projection either way)."""
    o = orders if orders is not None else load_table(spark, sf_dir, "orders")
    line = F.concat_ws(
        ",",
        *[
            F.expr(c) if c.startswith("'")
            else F.coalesce(F.col(c).cast("string"), F.lit(""))
            for c in _LINE_COLS
        ],
    )
    return o.select(
        F.concat(F.lit("orders:"), F.col("o_orderkey").cast("string")).alias("key"),
        line.alias("value"),
    )


_APP1_ORACLE = f"""
    SELECT CAST(o_orderkey AS VARCHAR) AS key,
           COALESCE(o_orderpriority, '') AS value
    FROM orders
    WHERE ({_SQL_LINE}) LIKE '%URGENT%'
    """

_APP2_ORACLE = """
    SELECT COALESCE(o_orderpriority, '') AS key,
           CAST(count(*) AS VARCHAR) AS value
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY 1
    """


@register(
    "rainstorm_plugin_app1",
    oracle=_APP1_ORACLE,
    tags=("reference", "engine", "plugin", "pandas-udf"),
)
def rainstorm_plugin_app1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """App1 (pattern grep → CSV projection) through the plugin path:
    RainStorm op1=app1op1 op2=app1op2 pattern='URGENT' (SURVEY.md §5)."""
    job = E.RainStormJob(
        op1=E.PluginOp.declared(E.app1_op1), op2=E.PluginOp.declared(E.app1_op2), pattern="URGENT"
    )
    return job.run(_record_stream(spark, sf_dir))


@register(
    "rainstorm_plugin_app2",
    oracle=_APP2_ORACLE,
    tags=("reference", "engine", "plugin", "pandas-udf"),
)
def rainstorm_plugin_app2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """App2 (equality filter → stateful category count) through the plugin
    path, including the 1-line count contract:
    RainStorm op1=app2op1 op2=app2op2 pattern='F'."""
    job = E.RainStormJob(
        op1=E.PluginOp.declared(E.app2_op1), op2=E.PluginOp.declared(E.app2_op2), pattern="F"
    )
    return job.run(_record_stream(spark, sf_dir))


@register(
    "rainstorm_streaming_app2",
    oracle=_APP2_ORACLE,
    tags=("reference", "engine", "plugin", "streaming"),
)
def rainstorm_streaming_app2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """App2 through the plugin facade on a TRUE stream — the reference's
    actual operating mode (a RainStorm job over a replayed file,
    server.go:411-448): readStream over orders, the same op callables
    with statically-narrowed contracts (emit → count), drained with
    AvailableNow into a complete-mode sink. End-of-stream counts must
    equal the batch oracle — the same correctness definition the
    reference's demo used (SURVEY.md §4.3.1)."""
    from streamprocessing_spark.streaming.replay import run_to_memory_sink, stream_table

    job = E.RainStormJob(
        op1=E.PluginOp.declared(E.app2_op1), op2=E.PluginOp.declared(E.app2_op2), pattern="F"
    )
    out = job.run(_record_stream(spark, sf_dir, orders=stream_table(spark, sf_dir, "orders")))
    return run_to_memory_sink(out, "complete")


@register(
    "rainstorm_streaming_app1",
    oracle=_APP1_ORACLE,
    tags=("reference", "engine", "plugin", "streaming"),
)
def rainstorm_streaming_app1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """App1 through the plugin facade on a TRUE stream — the stateless
    twin of rainstorm_streaming_app2: both ops are pure emit (filter /
    flatMap transform), so the job runs in APPEND output mode with no
    state store at all — each micro-batch's survivors flow straight to
    the sink, the streaming topology the reference's App1 actually has
    (filtered records appended to the HyDFS dest file, server.go:306-310).
    End-of-stream contents must equal the batch oracle."""
    from streamprocessing_spark.streaming.replay import run_to_memory_sink, stream_table

    job = E.RainStormJob(
        op1=E.PluginOp.declared(E.app1_op1), op2=E.PluginOp.declared(E.app1_op2), pattern="URGENT"
    )
    out = job.run(_record_stream(spark, sf_dir, orders=stream_table(spark, sf_dir, "orders")))
    return run_to_memory_sink(out, "append")


@register(
    "rainstorm_vectorized_app1",
    oracle=_APP1_ORACLE,
    tags=("reference", "engine", "plugin", "vectorized"),
)
def rainstorm_vectorized_app1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """App1 through the vectorized batch-plugin path (BatchPluginOp):
    identical contract and oracle as rainstorm_plugin_app1, with the hot
    loop as pandas column ops instead of per-record Python."""
    job = E.RainStormJob(
        op1=E.BatchPluginOp.declared(E.vec_app1_op1),
        op2=E.BatchPluginOp.declared(E.vec_app1_op2),
        pattern="URGENT",
    )
    return job.run(_record_stream(spark, sf_dir))


@register(
    "rainstorm_vectorized_app2",
    oracle=_APP2_ORACLE,
    tags=("reference", "engine", "plugin", "vectorized"),
)
def rainstorm_vectorized_app2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """App2 through the vectorized batch-plugin path: same oracle as the
    per-record plugin variant — the bench pair quantifying what
    vectorizing a plugin shape buys."""
    job = E.RainStormJob(
        op1=E.BatchPluginOp.declared(E.vec_app2_op1),
        op2=E.BatchPluginOp.declared(E.vec_app2_op2),
        pattern="F",
    )
    return job.run(_record_stream(spark, sf_dir))


_EXEC_APP2_ORACLE = """
    SELECT o_orderpriority AS key, CAST(count(*) AS VARCHAR) AS value
    FROM orders
    WHERE o_orderstatus = 'F' AND o_orderkey % 30 = 0
    GROUP BY o_orderpriority
    """


@register(
    "rainstorm_exec_app2",
    oracle=_EXEC_APP2_ORACLE,
    tags=("reference", "engine", "exec", "subprocess"),
)
def rainstorm_exec_app2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """App2 through engine.ExecOp — the reference's LITERAL operator
    surface: external executables invoked ``<exe> <key> <value> <pattern>``
    per record, stdout classified 0/1/N lines (rainstorm/server.go:320-361).
    The op scripts (streamprocessing_spark/ops/app2op*.py) are argv/stdout
    twins of the reference's Go binaries; a user's existing op executables
    run unchanged under this adapter.

    Runs on a 1-in-30 keyed slice of orders: fork/exec per record is the
    contract's inherent cost (~10^4x an Arrow batch, SURVEY.md §4.2) and
    the adapter exists for parity, not throughput — the bounded slice
    keeps the correctness gate cheap while exercising the full path. The
    forks run executor-side, in parallel across partitions (ExecOp
    spreads its input over every core)."""
    import os

    ops_dir = os.path.join(os.path.dirname(os.path.dirname(__file__)), "ops")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 30 == 0)
    job = E.RainStormJob(
        op1=E.ExecOp(os.path.join(ops_dir, "app2op1.py")),
        op2=E.ExecOp(os.path.join(ops_dir, "app2op2.py")),
        pattern="F",
    )
    return job.run(_record_stream(spark, sf_dir, orders=o))
