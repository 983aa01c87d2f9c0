"""Structured Streaming replay of the driver's bounded tables.

The reference's notion of a "stream" is a bounded replay of a DFS file
(rainstorm/server.go:411-448): records flow through the pipeline and the
job ends when the file is exhausted. The Structured Streaming equivalent
is a file source driven with Trigger.AvailableNow — the same incremental,
stateful, checkpointed execution a live stream gets, but terminating when
the backlog is drained. Results land in a memory sink so the caller gets
an ordinary DataFrame back; correctness is defined against the batch
oracle at end-of-stream (SURVEY.md §4.3.1/§5).

On a real deployment the source line is the only thing that changes
(readStream.format("kafka")...): every transformation, watermark and sink
below is production Structured Streaming.

Checkpoint I/O. Each micro-batch writes an offsets entry before it runs
and a commit entry after it; a stateful operator also writes one state
delta file per shuffle partition per batch. Every such file is written
under a temp name and renamed into place by the session's checkpoint
file manager, so a replay's checkpoint cost grows with triggers × state
partitions, not with rows. ``session.get_spark`` picks Spark's
FileSystem-based manager (one ``rename(2)`` per file on a local disk);
the default FileContext manager forks a ``readlink`` for every path stat
when libhadoop is absent. A caller's own session keeps its own choice.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from streamprocessing_spark.sources.readers import (
    TABLES,
    _ensure_confs,
    normalize_timestamps,
    table_schema,
)


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """readStream over one table with the same ts normalization as the
    batch loader (see readers.load_table). File stream sources need the
    schema declared; it comes from the loader's memo
    (readers.table_schema), so a session peeks each file version once."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _ensure_confs(spark)
    schema = table_schema(spark, f"{sf_dir}/{name}.parquet")
    # The file stream source lists a DIRECTORY; each table is a single
    # file, so stream the parent dir with a glob restricted to it.
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return normalize_timestamps(df, table=name)


def run_to_memory_sink(
    df: DataFrame,
    output_mode: str,
    query_name: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (AvailableNow) into a
    memory sink; return the sink contents as a DataFrame.

    Memory sinks are a test/driver harness device — production jobs write
    parquet/Kafka with the same trigger + checkpointLocation arguments.
    """
    q, name, cleanup = start_memory_sink(df, output_mode, query_name, checkpoint_dir)
    try:
        q.awaitTermination()
    finally:
        cleanup()
    return df.sparkSession.table(name)


def start_memory_sink(
    df: DataFrame,
    output_mode: str,
    query_name: str | None = None,
    checkpoint_dir: str | None = None,
):
    """Start (without awaiting) a streaming DataFrame into a memory sink.

    Returns ``(query, sink_name, cleanup)``; the caller awaits termination
    and calls ``cleanup()`` in a ``finally`` to drop the throwaway
    checkpoint, which a failed stream would otherwise leak. Splitting
    start from await lets independent replays run CONCURRENTLY — n bounded
    drains cost roughly the slowest one instead of the sum (each query is
    its own checkpointed Structured Streaming job; concurrency is the
    normal multi-query deployment shape, not a test trick)."""
    # The sink registers a temp view under its query name, so the view is
    # the result's only handle: shared_views.release_shared_views drops
    # every graft_sink_* and graft_sv_* view, and a rerun under a given
    # name replaces the previous run's view rather than pinning both.
    name = query_name or f"graft_sink_{uuid.uuid4().hex[:12]}"
    df.sparkSession.catalog.dropTempView(name)
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    own_ckpt = checkpoint_dir is None
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="sp_ckpt_")
    writer = writer.option("checkpointLocation", ckpt)
    q = writer.start()

    def cleanup() -> None:
        if own_ckpt:
            # the replay is complete and the result lives in the memory
            # sink; a throwaway checkpoint has no further use
            shutil.rmtree(ckpt, ignore_errors=True)

    return q, name, cleanup
