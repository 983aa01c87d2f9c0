"""The streaming layer's shared setup: one stream source
(replay.stream_table) and one staged ingest drain
(queries.streaming._ingest_drain)."""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import pytest

from streamprocessing_spark.queries import streaming as S
from streamprocessing_spark.streaming import replay
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
    monkeypatch.setattr(replay, "_SCHEMA_CACHE", {})
    first = _jobs_in_group(
        spark, "stream_table_peek_1", lambda: stream_table(spark, sf_dir, "orders")
    )
    second = _jobs_in_group(
        spark, "stream_table_peek_2", lambda: stream_table(spark, sf_dir, "orders")
    )
    assert len(first) >= 1
    assert second == []
    # the declared schema is the file's, normalized like load_table's
    from streamprocessing_spark.sources.readers import load_table

    assert (
        stream_table(spark, sf_dir, "orders").schema
        == load_table(spark, sf_dir, "orders").schema
    )


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
