"""The streaming layer's shared setup: one table-schema memo
(readers.table_schema, behind both load_table and stream_table), one
stream source (replay.stream_table), one staged ingest drain
(queries.streaming._ingest_drain) and the session's checkpoint file
manager."""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import pytest

from streamprocessing_spark.queries import streaming as S
from streamprocessing_spark.sources import readers
from streamprocessing_spark.sources.readers import load_table
from streamprocessing_spark.streaming.ingest_dedup import (
    CdcIngestDedup,
    ContainmentIngestDedup,
    ParagraphIngestDedup,
)
from streamprocessing_spark.streaming.replay import stream_table


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
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(tmp_path))
    monkeypatch.setattr(S, "_INGEST", {})
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

    digest = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}".encode()
    ).hexdigest()[:12]
    for tag in _TWINS:
        base = tmp_path / f"graft_{tag}_ingest" / digest
        assert sorted(os.listdir(base / "src")) == ["c0.parquet", "c1.parquet", "c2.parquet"]
        os.remove(base / "_DONE")

    assert rows() == first
    assert starts == Counter({t: 2 for t in _TWINS})


def test_get_spark_renames_checkpoints_through_the_filesystem(spark):
    """Streaming checkpoints commit through FileSystem.rename, which forks
    no `readlink` per rename on a local filesystem without libhadoop."""
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
