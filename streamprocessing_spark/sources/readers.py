"""Table sources.

The reference reads byte blobs from its own replicated DFS ("HyDFS",
/root/reference/dht/dht.go:253-398) and re-parses CSV inside each operator
executable (ops/app1op2/app1op2.go:11-17). Here storage is any
Hadoop-compatible FS and data is columnar parquet: schema is declared once
at the scan, Catalyst prunes columns and pushes filters into the reader.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ensure_confs(spark: SparkSession) -> None:
    """Make queries self-sufficient on ANY session (the driver builds its
    own, without session.py's settings): nanos parquet timestamps readable,
    deterministic UTC timestamp semantics. Both confs are runtime-settable
    and idempotent."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # On a local master still running Spark's untouched 200-partition
    # default, size shuffles to the machine (stateful streaming stages
    # run one task per partition — 200 tiny state-store tasks dominate
    # wall-clock locally). Deliberate non-default settings are respected;
    # cluster masters are never touched.
    try:
        if (
            spark.sparkContext.master.startswith("local")
            and spark.conf.get("spark.sql.shuffle.partitions") == "200"
        ):
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:  # noqa: BLE001 - conf introspection must never fail a read
        pass


# Tables whose LongType 'ts' is a legacy TIMESTAMP(NANOS) column read
# under nanosAsLong. Only events ever shipped that encoding; a future
# table with a genuine bigint ts (e.g. epoch millis) must NOT be
# silently rebuilt, so the rewrite is gated on the table name.
_NANOS_TS_TABLES = frozenset({"events"})


def normalize_timestamps(df: DataFrame, table: str | None = None) -> DataFrame:
    """Normalize timestamp encodings across testdata generations so every
    query sees session-TZ TIMESTAMP columns regardless of how the parquet
    was written:

    - ``events.ts`` as parquet TIMESTAMP(NANOS) reads as long under
      session.py's nanosAsLong — rebuild a micro-precision timestamp with
      integer division (truncation), matching DuckDB's nanos→micros cast.
      Applied only when ``table`` is a known nanos-legacy table (or is
      unknown/None, the permissive compatibility default for callers
      outside load_table).
    - Naive parquet timestamps (pyarrow ``timestamp[us]``,
      isAdjustedToUTC=false) read as TIMESTAMP_NTZ — cast to TIMESTAMP.

    Both rewrites (and driver-side collect() of TimestampType values)
    are only value-identical to DuckDB under a UTC session timezone, so
    it is enforced here rather than assumed from the caller."""
    from pyspark.sql import functions as F  # local import: keep module light
    from pyspark.sql import types as T

    df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
    for field in df.schema.fields:
        if (
            field.name == "ts"
            and isinstance(field.dataType, T.LongType)
            and (table is None or table in _NANOS_TS_TABLES)
        ):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


# Parquet schemas already inferred, keyed by (applicationId, path, st_ino,
# st_mtime_ns, st_size): a rewritten file changes the key, so its new
# schema is inferred again, and a new session infers afresh.
_SCHEMAS: dict[tuple, StructType] = {}


def table_schema(spark: SparkSession, path: str) -> StructType:
    """The parquet schema at ``path``, inferred once per file version.
    Inference runs a one-task footer job; a scan given the schema runs
    none. A path ``os.stat`` cannot see (an object store, HDFS) is
    inferred on every call."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path).schema
    key = (spark.sparkContext.applicationId, path, st.st_ino, st.st_mtime_ns, st.st_size)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table. Parquet scans get predicate pushdown, column
    pruning and (on a cluster) partition pruning for free."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _ensure_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(table_schema(spark, path)).parquet(path)
    return normalize_timestamps(df, table=name)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
