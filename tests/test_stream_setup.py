"""The streaming layer's shared setup: one table-schema memo
(readers.table_schema, behind both load_table and stream_table), one
stream source (replay.stream_table), one staged ingest drain
(queries.streaming._ingest_drain) and the session's checkpoint file
manager."""

from __future__ import annotations

import os
import tempfile
from collections import Counter

import pytest

from streamprocessing_spark.queries import streaming as S
from streamprocessing_spark.shared_views import (
    held_views,
    ingest_root,
    release_shared_views,
    view_name,
)
from streamprocessing_spark.sources import readers
from streamprocessing_spark.sources.readers import load_table
from streamprocessing_spark.streaming.ingest_dedup import (
    CdcIngestDedup,
    ContainmentIngestDedup,
    ParagraphIngestDedup,
)
from streamprocessing_spark.streaming.replay import run_to_memory_sink, stream_table


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_stream_table_rejects_unknown_table(spark, sf_dir):
    with pytest.raises(KeyError):
        stream_table(spark, sf_dir, "no_such_table")


def test_stream_table_peeks_schema_once_per_session(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(readers, "_SCHEMAS", {})
    first = _jobs_in_group(
        spark, "stream_table_peek_1", lambda: stream_table(spark, sf_dir, "orders")
    )
    second = _jobs_in_group(
        spark, "stream_table_peek_2", lambda: stream_table(spark, sf_dir, "orders")
    )
    assert len(first) >= 1
    assert second == []
    # the declared schema is the file's, normalized like load_table's
    assert (
        stream_table(spark, sf_dir, "orders").schema
        == load_table(spark, sf_dir, "orders").schema
    )


def _write_orders(sf, columns):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf, exist_ok=True)
    pq.write_table(pa.table({c: [1, 2, 3] for c in columns}), f"{sf}/orders.parquet")


def test_second_load_table_of_a_path_runs_no_job(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(readers, "_SCHEMAS", {})
    sf = str(tmp_path / "sf")
    _write_orders(sf, ["o_orderkey", "o_custkey"])
    first = _jobs_in_group(spark, "load_table_1", lambda: load_table(spark, sf, "orders"))
    second = _jobs_in_group(spark, "load_table_2", lambda: load_table(spark, sf, "orders"))
    assert len(first) >= 1
    assert second == []
    assert load_table(spark, sf, "orders").count() == 3


def test_rewritten_file_infers_its_new_schema(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(readers, "_SCHEMAS", {})
    sf = str(tmp_path / "sf")
    _write_orders(sf, ["o_orderkey"])
    assert load_table(spark, sf, "orders").columns == ["o_orderkey"]
    _write_orders(sf, ["o_orderkey", "o_totalprice"])
    assert load_table(spark, sf, "orders").columns == ["o_orderkey", "o_totalprice"]
    assert stream_table(spark, sf, "orders").columns == ["o_orderkey", "o_totalprice"]


def test_stream_table_and_load_table_share_one_memo(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(readers, "_SCHEMAS", {})
    loaded = _jobs_in_group(spark, "shared_memo_load", lambda: load_table(spark, sf_dir, "orders"))
    streamed = _jobs_in_group(
        spark, "shared_memo_stream", lambda: stream_table(spark, sf_dir, "orders")
    )
    assert len(loaded) >= 1
    assert streamed == []
    assert [k[1] for k in readers._SCHEMAS] == [f"{sf_dir}/orders.parquet"]


_TWINS = {
    "para": (ParagraphIngestDedup, S.streaming_paragraph_dedup_ingest),
    "cdc": (CdcIngestDedup, S.streaming_cdc_chunks_ingest),
    "cont": (ContainmentIngestDedup, S.streaming_containment_ingest),
}


@pytest.mark.slow
def test_ingest_drain_runs_once_per_session_and_rebuilds_without_done(
    spark, sf_dir, tmp_path, monkeypatch
):
    # a view over a store outside tmp_path has no _DONE marker here, so
    # the first round of calls drains afresh
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(tmp_path))
    # a drain is one streaming query from a fresh checkpoint: count the
    # queries by their first micro-batch
    starts: Counter = Counter()
    for tag, (cls, _) in _TWINS.items():

        def counted(self, batch, batch_id, _orig=cls.foreach_batch, _tag=tag):
            if batch_id == 0:
                starts[_tag] += 1
            return _orig(self, batch, batch_id)

        monkeypatch.setattr(cls, "foreach_batch", counted)

    def rows():
        return {t: sorted(fn(spark, sf_dir).collect()) for t, (_, fn) in _TWINS.items()}

    first = rows()
    assert rows() == first
    assert starts == Counter({t: 1 for t in _TWINS})

    root = ingest_root(spark)
    assert root.startswith(str(tmp_path))
    for tag in _TWINS:
        base = os.path.join(root, view_name(f"{tag}_ingest", sf_dir))
        assert sorted(os.listdir(f"{base}/src")) == ["c0.parquet", "c1.parquet", "c2.parquet"]
        os.remove(f"{base}/_DONE")

    assert rows() == first
    assert starts == Counter({t: 2 for t in _TWINS})
    release_shared_views(spark)
    assert not os.path.exists(root)


def test_release_drops_one_off_sinks_without_a_job(spark, sf_dir):
    """A one-off memory sink is a graft_sink_* view; release drops it
    and runs no Spark job, and a DataFrame read from the sink before
    the release still reads."""
    release_shared_views(spark)
    out = run_to_memory_sink(stream_table(spark, sf_dir, "orders").select("o_orderkey"), "append")
    n = out.count()
    [sink] = held_views(spark)
    assert sink.startswith("graft_sink_")
    assert _jobs_in_group(spark, "release_sinks", lambda: release_shared_views(spark)) == []
    assert held_views(spark) == []
    assert out.count() == n


def test_failed_stream_leaves_no_checkpoint(spark, sf_dir, tmp_path, monkeypatch):
    """run_to_memory_sink drops its throwaway checkpoint when the stream
    raises, not only when it completes."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    failing = stream_table(spark, sf_dir, "orders").select(F.raise_error(F.lit("op failed")))
    with pytest.raises(Exception, match="op failed"):
        run_to_memory_sink(failing, "append")
    assert [p.name for p in tmp_path.glob("sp_ckpt_*")] == []
    release_shared_views(spark)


@pytest.mark.slow
def test_release_leaves_no_view_store_or_job_and_calls_rebuild(spark, sf_dir):
    """After a one-off sink (rainstorm_streaming_app1), a drained query
    and an ingest twin, one release leaves no held view, no ingest store
    and runs no Spark job; repeating the calls rebuilds equal rows."""
    from streamprocessing_spark.registry import all_specs

    specs = all_specs()
    names = ("rainstorm_streaming_app1", "streaming_count_update", "streaming_cdc_chunks_ingest")

    def rows():
        return {n: sorted(specs[n].fn(spark, sf_dir).collect()) for n in names}

    release_shared_views(spark)
    first = rows()
    held = set(held_views(spark))
    assert any(v.startswith("graft_sink_") for v in held)
    assert view_name("streaming_count_update", sf_dir) in held
    assert view_name("cdc_ingest", sf_dir) in held
    assert os.path.isdir(ingest_root(spark))

    assert _jobs_in_group(spark, "release_all", lambda: release_shared_views(spark)) == []
    assert held_views(spark) == []
    assert not os.path.exists(ingest_root(spark))

    assert rows() == first
    release_shared_views(spark)


def test_get_spark_renames_checkpoints_through_the_filesystem(spark):
    """Streaming checkpoints commit through FileSystem.rename, which forks
    no `readlink` per rename on a local filesystem without libhadoop."""
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
