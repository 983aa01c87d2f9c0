"""File-sink fidelity — the reference's DFS append surface (D1/D2/D5,
dht/dht.go:253-398) re-expressed: streaming parquet append sink with
checkpoint, and concurrent multi-writer appends to one table directory."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from streamprocessing_spark.sources.readers import load_table
from streamprocessing_spark.streaming.replay import stream_table


def test_streaming_parquet_append_sink(spark, sf_dir):
    """O10/D2: stream → parquet append sink with checkpoint; the sink must
    contain exactly the source rows at end-of-stream (exactly-once via
    checkpoint + atomic file manifest, replacing the reference's
    ack+WAL+quorum machinery)."""
    base = tempfile.mkdtemp(prefix="sp_sink_")
    try:
        out = (
            stream_table(spark, sf_dir, "events")
            .where(F.col("event_type") == "signup")
            .select("event_id", "user_id")
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", f"{base}/data")
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        written = spark.read.parquet(f"{base}/data")
        expected = (
            load_table(spark, sf_dir, "events")
            .where(F.col("event_type") == "signup")
            .count()
        )
        assert written.count() == expected
        assert written.select("event_id").distinct().count() == expected
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_concurrent_multiwriter_append(spark, sf_dir):
    """D5 multiappend: several writers appending to one table directory —
    per-task files make this conflict-free in Spark (no quorum/merge
    protocol needed; that was 170 LoC of dht.go)."""
    base = tempfile.mkdtemp(prefix="sp_multi_")
    try:
        ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
        for t in ("click", "view", "purchase"):
            ev.where(F.col("event_type") == t).write.mode("append").parquet(f"{base}/t")
        merged = spark.read.parquet(f"{base}/t")
        expected = ev.where(F.col("event_type").isin("click", "view", "purchase"))
        assert merged.count() == expected.count()
        assert merged.select(F.sum(F.hash("event_id"))).first()[0] == \
               expected.select(F.sum(F.hash("event_id"))).first()[0]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_plugin_pipeline_on_stream(spark, sf_dir):
    """The RainStormJob plugin contract also runs ON A STREAM (the
    reference is a streaming op pipeline): stateless plugin stages apply
    per micro-batch; end-of-stream result equals the batch run."""
    from streamprocessing_spark import engine as E
    from streamprocessing_spark.streaming.replay import run_to_memory_sink

    def op_filter(key, value, pattern):
        return [(key, value)] if value.endswith("w") else None  # view/…w

    records_batch = load_table(spark, sf_dir, "events").select(
        F.col("event_id").cast("string").alias("key"),
        F.col("event_type").alias("value"),
    )
    batch_out = E.PluginOp(op_filter).apply(records_batch, None)

    records_stream = stream_table(spark, sf_dir, "events").select(
        F.col("event_id").cast("string").alias("key"),
        F.col("event_type").alias("value"),
    )
    # count path needs complete-mode aggregation; this op only emits, so
    # append mode suffices — but PluginOp's union includes an (empty)
    # aggregate branch, which streaming append mode rejects; apply the
    # kernel directly per micro-batch instead via the emit-only fast path.
    stream_out = run_to_memory_sink(
        records_stream.mapInPandas(
            _emit_kernel(op_filter), E.RECORD_SCHEMA
        ),
        "append",
    )
    assert sorted(map(tuple, stream_out.collect())) == sorted(map(tuple, batch_out.collect()))


def _emit_kernel(fn):
    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            keys, vals = [], []
            for k, v in zip(pdf["key"].tolist(), pdf["value"].tolist()):
                r = fn(k, v, None)
                if isinstance(r, list):
                    for nk, nv in r:
                        keys.append(nk)
                        vals.append(nv)
            yield pd.DataFrame({"key": keys, "value": vals})

    return kernel
