"""Streaming-only semantics the batch oracle can't express:

- update-mode emission per micro-batch (the reference emits a running
  count per input record — rainstorm/server.go:344-355);
- checkpoint recovery across a stop/restart (the Spark analogue of
  RainStormWithFail's kill-2-workers chaos test, main.go:223-243);
- a custom stateful operator via applyInPandasWithState (the pluggable
  stateful-op surface).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from streamprocessing_spark.sources.readers import load_table


def _extract_part_file(chunk_dir: str, dest_file: str) -> None:
    """The file stream source lists plain files (no recursion): flatten a
    one-part parquet dir into a single .parquet file."""
    part = next(f for f in os.listdir(chunk_dir) if f.endswith(".parquet"))
    shutil.copyfile(f"{chunk_dir}/{part}", dest_file)


@pytest.fixture()
def staged_events(spark, sf_dir):
    """events split into two single-file parquet 'chunks' in a temp dir, so
    tests can control micro-batch boundaries and simulate late files."""
    base = tempfile.mkdtemp(prefix="sp_stream_")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(f"{base}/chunk1_dir")
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(f"{base}/chunk2_dir")
    _extract_part_file(f"{base}/chunk1_dir", f"{base}/chunk1.parquet")
    _extract_part_file(f"{base}/chunk2_dir", f"{base}/chunk2.parquet")
    schema = ev.schema
    yield base, schema, ev
    shutil.rmtree(base, ignore_errors=True)


def _start_count_query(spark, src_dir, schema, ckpt, name):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    counts = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


@pytest.mark.slow
def test_rainstorm_plugin_jobs_on_true_stream(spark):
    """The reference's ACTUAL operating mode: both demo apps through the
    plugin facade over a real readStream, drained with AvailableNow —
    end-of-stream results must equal the batch run. Static op contracts
    ('emit'/'count') give the streaming planner clean append/complete
    semantics; the default mixed union is batch-only (it trips Spark's
    global-watermark correctness checker on streams)."""
    from streamprocessing_spark import engine as E
    from streamprocessing_spark.streaming.replay import run_to_memory_sink

    base = tempfile.mkdtemp(prefix="sp_rs_stream_")
    try:
        rows = [
            (
                f"f:{i}",
                f"{i},a,{i},URGENT-{i % 3},sz,sup,{'F' if i % 2 else 'O'},yr,PRI-{i % 3},note",
            )
            for i in range(100)
        ]
        batch_df = spark.createDataFrame(rows, E.RECORD_SCHEMA)
        batch_df.coalesce(1).write.parquet(f"{base}/src")
        make_stream = lambda: spark.readStream.schema(E.RECORD_SCHEMA).parquet(f"{base}/src")

        # App2: equality filter (emit) -> keyed count (count), complete mode
        job2 = E.RainStormJob(
            op1=E.PluginOp(E.app2_op1, contract="emit"),
            op2=E.PluginOp(E.app2_op2, contract="count"),
            pattern="F",
        )
        got2 = {
            (r.key, r.value)
            for r in run_to_memory_sink(job2.run(make_stream()), "complete").collect()
        }
        want2 = {(r.key, r.value) for r in job2.run(batch_df).collect()}
        assert got2 == want2 and got2

        # App1: substring filter -> CSV projection, both pure emit, append mode
        job1 = E.RainStormJob(
            op1=E.PluginOp(E.app1_op1, contract="emit"),
            op2=E.PluginOp(E.app1_op2, contract="emit"),
            pattern="URGENT-1",
        )
        got1 = {
            (r.key, r.value)
            for r in run_to_memory_sink(job1.run(make_stream()), "append").collect()
        }
        want1 = {(r.key, r.value) for r in job1.run(batch_df).collect()}
        assert got1 == want1 and got1
    finally:
        shutil.rmtree(base, ignore_errors=True)


@pytest.mark.slow
def test_left_outer_interval_join_emits_unmatched(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join: purchases joined to the
    same user's clicks in the preceding hour; a purchase with no click
    must be emitted with a NULL click once the watermark passes its join
    window. Watermark semantics to note: rows whose window the final
    watermark never passes stay in state — so assertions are restricted
    to the emittable region (ts ≤ max_ts - 2h), which is exactly what a
    live stream would have emitted by now."""
    from streamprocessing_spark.streaming.replay import run_to_memory_sink, stream_table

    def side(t, pre):
        return (
            stream_table(spark, sf_dir, "events")
            .where(F.col("event_type") == t)
            .select(
                F.col("user_id").alias(f"{pre}_user"),
                F.col("ts").alias(f"{pre}_ts"),
                F.col("event_id").alias(f"{pre}_id"),
            )
            .withWatermark(f"{pre}_ts", "1 hour")
        )

    p, c = side("purchase", "p"), side("click", "c")
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    ).select("p_id", "p_ts", "c_id")
    got = run_to_memory_sink(joined, "append").collect()

    ev = load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    import datetime

    cutoff = max_ts - datetime.timedelta(hours=2)
    emitted = {(r.p_id, r.c_id) for r in got if r.p_ts <= cutoff}

    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    batch = purchases.join(
        clicks,
        (F.col("user_id") == F.col("cu"))
        & (F.col("cts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("cts") <= F.col("ts")),
        "left_outer",
    )
    expected = {
        (r.event_id, r.cid)
        for r in batch.collect()
        if r.ts <= cutoff
    }
    assert emitted == expected
    # sanity: the emittable region must contain unmatched purchases,
    # otherwise the null-emission path wasn't exercised
    assert any(c is None for _p, c in expected)


@pytest.mark.slow
def test_checkpoint_recovery_across_restart(spark, staged_events):
    """Stop after chunk1, 'fail over', restart with the same checkpoint:
    the state store must resume (not recount chunk1) and converge to the
    batch totals — the reference achieves this with WAL replay
    (rainstorm/server.go:186-278)."""
    base, schema, ev = staged_events
    src = f"{base}/src"
    os.makedirs(src)
    shutil.copyfile(f"{base}/chunk1.parquet", f"{src}/c1.parquet")
    ckpt = f"{base}/ckpt"

    q1 = _start_count_query(spark, src, schema, ckpt, "recov_phase1")
    q1.awaitTermination()
    phase1 = {r.event_type: r.cnt for r in spark.table("recov_phase1").collect()}

    # new files arrive while "down"
    shutil.copyfile(f"{base}/chunk2.parquet", f"{src}/c2.parquet")
    q2 = _start_count_query(spark, src, schema, ckpt, "recov_phase2")
    q2.awaitTermination()
    phase2 = {r.event_type: r.cnt for r in spark.table("recov_phase2").collect()}

    expected = {r.event_type: r.cnt for r in
                ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert phase2 == expected
    assert sum(phase1.values()) < sum(expected.values())  # phase1 saw only chunk1


@pytest.mark.slow
def test_update_mode_emits_running_counts(spark, staged_events):
    """Update mode re-emits a key's count every micro-batch it changes in —
    the reference's per-input running-count emission, aggregated to
    micro-batch granularity (SURVEY.md §4.3.1)."""
    base, schema, ev = staged_events
    src = f"{base}/src_upd"
    os.makedirs(src)
    shutil.copyfile(f"{base}/chunk1.parquet", f"{src}/c1.parquet")
    shutil.copyfile(f"{base}/chunk2.parquet", f"{src}/c2.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    counts = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    name = f"upd_{uuid.uuid4().hex[:8]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sp_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emissions = spark.table(name).collect()
    final = {r.event_type: r.cnt for r in
             ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    # more emissions than keys → intermediate (running) counts were emitted
    assert len(emissions) > len(final)
    # the max emission per key is the final count
    maxes: dict[str, int] = {}
    for r in emissions:
        maxes[r.event_type] = max(maxes.get(r.event_type, 0), r.cnt)
    assert maxes == final


@pytest.mark.slow
def test_custom_stateful_running_count(spark, staged_events):
    """Custom keyed state via applyInPandasWithState: a hand-rolled running
    count (the reference framework's count path, rainstorm/server.go:39,
    344-355) — demonstrates the pluggable stateful-operator surface."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField

    base, schema, ev = staged_events
    src = f"{base}/src_state"
    os.makedirs(src)
    shutil.copyfile(f"{base}/chunk1.parquet", f"{src}/c1.parquet")
    shutil.copyfile(f"{base}/chunk2.parquet", f"{src}/c2.parquet")

    out_schema = StructType(
        [StructField("event_type", StringType()), StructField("cnt", LongType())]
    )
    state_schema = StructType([StructField("n", LongType())])

    def running_count(key, pdf_iter, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"event_type": [key[0]], "cnt": [n]})

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    counts = stream.groupBy("event_type").applyInPandasWithState(
        running_count, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    name = f"state_{uuid.uuid4().hex[:8]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sp_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emissions = spark.table(name).collect()
    final = {r.event_type: r.cnt for r in
             ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    maxes: dict[str, int] = {}
    for r in emissions:
        maxes[r.event_type] = max(maxes.get(r.event_type, 0), r.cnt)
    assert maxes == final


@pytest.mark.slow
def test_midrun_task_failure_exactly_once(spark, tmp_path):
    """The RainStormWithFail analogue (main.go:223-243,
    rainstorm/server.go:553-572): the reference kills 2 workers mid-job
    and recovers by WAL replay. Here a plugin kernel KILLS ITS OWN TASK
    on the first attempt, mid-micro-batch; Spark's task retry
    (local[n,2] — spark.task.maxFailures=2, see session.py) re-runs it,
    the failed attempt's partial output is discarded, and the
    end-of-stream counts must equal the clean batch run — exactly-once
    through a mid-run failure, no dups, no losses."""
    from streamprocessing_spark import engine as E
    from streamprocessing_spark.streaming.replay import run_to_memory_sink

    marker = str(tmp_path / "injected_failures.log")

    def flaky_app2_op1(key, value, pattern):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc is not None and tc.partitionId() == 0 and tc.attemptNumber() == 0:
            with open(marker, "a") as f:
                f.write(f"killed stage={tc.stageId()} attempt={tc.attemptNumber()}\n")
            raise RuntimeError("injected mid-run worker failure")
        return E.app2_op1(key, value, pattern)

    base = tempfile.mkdtemp(prefix="sp_fail_")
    try:
        rows = [
            (
                f"f:{i}",
                f"{i},a,{i},URGENT-{i % 3},sz,sup,{'F' if i % 2 else 'O'},yr,PRI-{i % 3},note",
            )
            for i in range(200)
        ]
        batch_df = spark.createDataFrame(rows, E.RECORD_SCHEMA)
        # two single-file chunks -> two micro-batches (failure + retry in each)
        batch_df.where(F.expr("CAST(split(value, ',')[0] AS INT) % 2 = 0")).coalesce(
            1
        ).write.parquet(f"{base}/c0")
        batch_df.where(F.expr("CAST(split(value, ',')[0] AS INT) % 2 = 1")).coalesce(
            1
        ).write.parquet(f"{base}/c1")
        src = f"{base}/src"
        os.makedirs(src)
        _extract_part_file(f"{base}/c0", f"{src}/c0.parquet")
        _extract_part_file(f"{base}/c1", f"{src}/c1.parquet")

        flaky_job = E.RainStormJob(
            op1=E.PluginOp(flaky_app2_op1, contract="emit"),
            op2=E.PluginOp(E.app2_op2, contract="count"),
            pattern="F",
        )
        stream = (
            spark.readStream.schema(E.RECORD_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        got = {
            (r.key, r.value)
            for r in run_to_memory_sink(flaky_job.run(stream), "complete").collect()
        }

        clean_job = E.RainStormJob(
            op1=E.PluginOp(E.app2_op1, contract="emit"),
            op2=E.PluginOp(E.app2_op2, contract="count"),
            pattern="F",
        )
        want = {(r.key, r.value) for r in clean_job.run(batch_df).collect()}
        assert got == want and got
        # the chaos must actually have fired: at least one task was killed
        with open(marker) as f:
            kills = f.read().splitlines()
        assert len(kills) >= 1, "failure injection never triggered"
    finally:
        shutil.rmtree(base, ignore_errors=True)


@pytest.mark.slow
def test_stateful_alerts_state_carries_across_batches(spark, sf_dir, tmp_path):
    """threshold_crossing_alerts holds its per-user accumulator in the
    state store ACROSS micro-batches: replaying events as two time-ordered
    files (one per trigger) must produce the same crossing sequence as the
    single-batch drain — a crossing whose straddle spans the batch
    boundary only exists if batch 2 resumed from batch 1's total."""
    import time as _time

    from streamprocessing_spark.sources.readers import load_table
    from streamprocessing_spark.streaming.replay import run_to_memory_sink
    from streamprocessing_spark.streaming.stateful import threshold_crossing_alerts

    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    mid = span.lo + (span.hi - span.lo) / 2
    base = str(tmp_path / "alerts_src")
    os.makedirs(base)
    early = ev.where(F.col("ts") <= F.lit(mid)).coalesce(1)
    late = ev.where(F.col("ts") > F.lit(mid)).coalesce(1)
    early.write.parquet(f"{base}/c0")
    late.write.parquet(f"{base}/c1")
    src = f"{base}/src"
    os.makedirs(src)
    _extract_part_file(f"{base}/c0", f"{src}/a_early.parquet")
    _extract_part_file(f"{base}/c1", f"{src}/b_late.parquet")
    # the file source processes oldest-modified first: force the order
    now = _time.time()
    os.utime(f"{src}/a_early.parquet", (now - 60, now - 60))
    os.utime(f"{src}/b_late.parquet", (now, now))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    got = {
        tuple(r)
        for r in run_to_memory_sink(threshold_crossing_alerts(stream), "append").collect()
    }

    single = {
        tuple(r)
        for r in run_to_memory_sink(
            threshold_crossing_alerts(
                spark.readStream.schema(ev.schema)
                .option("pathGlobFilter", "*.parquet")
                .parquet(src)
            ),
            "append",
        ).collect()
    }
    assert got == single and got
    # sanity: both batches contributed alerts (state straddled the boundary)
    n_early_alerts = sum(1 for (_, _, ts, _) in got if ts <= f"{mid}"[:19] + " UTC")
    assert 0 < n_early_alerts < len(got)


@pytest.mark.slow
def test_stateful_alerts_exactly_once_through_task_failure(spark, sf_dir, tmp_path):
    """Mid-batch task failure inside the applyInPandasWithState kernel:
    the first attempt of partition 0 kills itself AFTER folding rows into
    its (uncommitted) state; Spark's task retry (local[n,2]) re-runs it
    against the last committed state-store version, so the alert sequence
    must equal the clean run — no double-counted accumulator, no lost or
    duplicated alerts (the state-store analogue of the reference's WAL
    replay, rainstorm/server.go:553-572)."""
    from collections import Counter

    from pyspark.sql.streaming.state import GroupStateTimeout

    from streamprocessing_spark.streaming.replay import run_to_memory_sink, stream_table
    from streamprocessing_spark.streaming.stateful import (
        _OUT_SCHEMA,
        _STATE_SCHEMA,
        _crossings_kernel,
        threshold_crossing_alerts,
    )

    marker = str(tmp_path / "stateful_kills.log")

    def flaky_kernel(key, pdf_iter, state):
        from pyspark import TaskContext

        # fold the rows into (uncommitted) state FIRST, then die: the
        # retry only sees the last committed version or the replay is
        # corrupt. Every stateful task's first attempt fails — not just
        # partition 0, which may hold no key groups at tiny SF.
        out = list(_crossings_kernel(key, pdf_iter, state))
        tc = TaskContext.get()
        if tc is not None and tc.attemptNumber() == 0:
            with open(marker, "a") as f:
                f.write(f"killed partition={tc.partitionId()} attempt=0 key={key}\n")
            raise RuntimeError("injected stateful-op task failure")
        yield from out

    def flaky_pipeline():
        # the PRODUCTION source (stream_table: raw schema + ts
        # normalization) with only the kernel swapped — the plan under
        # test is threshold_crossing_alerts' plan, not a hand-rebuilt one
        ev = stream_table(spark, sf_dir, "events")
        return (
            ev.where(ev.event_type == "purchase")
            .select("user_id", "event_id", "ts", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                flaky_kernel, _OUT_SCHEMA, _STATE_SCHEMA, "append",
                GroupStateTimeout.NoTimeout,
            )
        )

    # Counter, not set: a retried batch re-emitting identical alert rows
    # is precisely the at-least-once violation this test exists to catch
    got = Counter(tuple(r) for r in run_to_memory_sink(flaky_pipeline(), "append").collect())
    want = Counter(
        tuple(r)
        for r in run_to_memory_sink(
            threshold_crossing_alerts(stream_table(spark, sf_dir, "events")), "append"
        ).collect()
    )
    assert got == want and got
    assert max(want.values()) == 1, "clean run itself emitted duplicates"
    with open(marker) as f:
        kills = f.read().splitlines()
    assert len(kills) >= 1, "failure injection never triggered"


@pytest.mark.slow
def test_watermark_drops_late_data_after_state_eviction(spark, tmp_path):
    """Event-time semantics proof, stated the way Spark actually
    guarantees it: the watermark promises INCLUSION of data within the
    delay, and drops a late row only once its window's state has been
    evicted (emitted in an earlier batch). Batch 1 closes window
    [9,10); batch 2's 9:30 straggler then hits evicted state and is
    dropped, while rows for still-open windows are admitted. The closed
    windows in the append sink expose exactly what survived."""
    import os
    import shutil
    from datetime import datetime

    from pyspark.sql import functions as F

    base = str(tmp_path / "late")
    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)

    def chunk(i, rows):
        d = f"{base}/c{i}"
        spark.createDataFrame(rows, "ts timestamp, user string").coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        shutil.copyfile(f"{d}/{part}", f"{src}/c{i}.parquet")

    t = lambda h, m: datetime(2030, 1, 1, h, m)
    chunk(0, [(t(9, 5), "a"), (t(10, 50), "b")])  # watermark becomes 10:40
    chunk(1, [(t(12, 30), "c")])  # batch 1 EVICTS+emits [9,10) (n=1);
    #                               watermark then advances to 12:20
    chunk(2, [
        (t(9, 30), "late"),   # [9,10) state evicted -> DROPPED for real
        (t(12, 40), "ok"),    # [12,13) still open -> admitted
        (t(14, 0), "flush"),  # advances watermark to 13:50, closing [12,13)
    ])

    stream = (
        spark.readStream.schema("ts timestamp, user string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    counts = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("window.start", "HH:mm").alias("w"), "n")
    )
    sink = "late_data_sink"
    q = (
        counts.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.w: r.n for r in spark.table(sink).collect()}
    # [9,10): only 9:05 — the 9:30 straggler was dropped (state evicted a
    # batch earlier); [10,11): 10:50; [12,13): 12:30 + admitted 12:40;
    # [14,15) never closes (absent). A straggler arriving in the SAME
    # batch that evicts its window would still be included — the
    # watermark's guarantee is inclusion-within-delay, eviction after.
    assert got == {"09:00": 1, "10:00": 1, "12:00": 2}, got


@pytest.mark.slow
def test_transition_pairs_state_carries_across_batches(spark, sf_dir, tmp_path):
    """event_transitions links each user's FIRST event of batch 2 to
    their LAST event of batch 1 via the state store: the two-trigger
    replay must produce the exact batch lead() pair set, and the pairs
    that straddle the time split can only come from carried state."""
    import time as _time

    from pyspark.sql import Window

    from streamprocessing_spark.sources.readers import load_table
    from streamprocessing_spark.streaming.replay import run_to_memory_sink
    from streamprocessing_spark.streaming.stateful import event_transitions

    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    mid = span.lo + (span.hi - span.lo) / 2
    base = str(tmp_path / "trans_src")
    os.makedirs(base)
    ev.where(F.col("ts") <= F.lit(mid)).coalesce(1).write.parquet(f"{base}/c0")
    ev.where(F.col("ts") > F.lit(mid)).coalesce(1).write.parquet(f"{base}/c1")
    src = f"{base}/src"
    os.makedirs(src)
    _extract_part_file(f"{base}/c0", f"{src}/a_early.parquet")
    _extract_part_file(f"{base}/c1", f"{src}/b_late.parquet")
    now = _time.time()
    os.utime(f"{src}/a_early.parquet", (now - 60, now - 60))
    os.utime(f"{src}/b_late.parquet", (now, now))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    got = {
        tuple(r)
        for r in run_to_memory_sink(event_transitions(stream), "append").collect()
    }

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        tuple(r)
        for r in ev.select(
            "user_id",
            F.col("event_id").alias("from_event_id"),
            F.lead("event_id").over(w).alias("to_event_id"),
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_event_id").isNotNull())
        .collect()
    }
    assert got == want and got
    # sanity: some pairs straddle the split (carried-state evidence)
    ts_of = {r.event_id: r.ts for r in ev.select("event_id", "ts").collect()}
    straddling = [
        1
        for (_, a, b, _, _) in got
        if ts_of[a] <= mid < ts_of[b]
    ]
    assert straddling, "split must cut through some user's stream"


@pytest.mark.slow
def test_timeout_sessions_state_and_timeouts_across_batches(spark, sf_dir, tmp_path):
    """timeout_sessions must (a) carry open-session state across
    micro-batches — a session straddling the chunk boundary merges, so
    the two-batch replay equals the single-batch drain — and (b) close
    silent keys via the EVENT-TIME TIMEOUT path: users whose last event
    is in chunk 0 and who stay silent in chunk 1 can only emit their
    final session through a hasTimedOut invocation (there is no later
    data row to trigger the in-kernel gap close)."""
    import time as _time

    from streamprocessing_spark.sources.readers import load_table
    from streamprocessing_spark.streaming.replay import run_to_memory_sink
    from streamprocessing_spark.streaming.stateful import timeout_sessions

    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    mid = span.lo + (span.hi - span.lo) / 2
    base = str(tmp_path / "sess_src")
    os.makedirs(base)
    ev.where(F.col("ts") <= F.lit(mid)).coalesce(1).write.parquet(f"{base}/c0")
    ev.where(F.col("ts") > F.lit(mid)).coalesce(1).write.parquet(f"{base}/c1")
    src = f"{base}/src"
    os.makedirs(src)
    _extract_part_file(f"{base}/c0", f"{src}/a_early.parquet")
    _extract_part_file(f"{base}/c1", f"{src}/b_late.parquet")
    now = _time.time()
    os.utime(f"{src}/a_early.parquet", (now - 60, now - 60))
    os.utime(f"{src}/b_late.parquet", (now, now))

    chunked = {
        tuple(r)
        for r in run_to_memory_sink(
            timeout_sessions(
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            ),
            "append",
        ).collect()
    }
    single = {
        tuple(r)
        for r in run_to_memory_sink(
            timeout_sessions(
                spark.readStream.schema(ev.schema)
                .option("pathGlobFilter", "*.parquet")
                .parquet(src)
            ),
            "append",
        ).collect()
    }
    assert chunked == single and chunked
    # (b): a user's FINAL session has no later event to trigger the
    # in-kernel gap close — if it was emitted, only a hasTimedOut
    # invocation (watermark past last_event + gap) can have done it.
    # Rebuild final sessions sequentially and find emitted ones.
    rows = sorted(
        ((r.user_id, r.ts, r.event_id) for r in ev.select("user_id", "ts", "event_id").collect()),
        key=lambda t: (t[0], t[1], t[2]),
    )
    finals = {}
    for u, ts, _ in rows:
        start, _last, n = finals.get(u, (None, None, 0))
        if start is None or (ts - _last).total_seconds() > 1800:
            finals[u] = (ts, ts, 1)
        else:
            finals[u] = (start, ts, n + 1)
    timeout_closed = [
        (u, start, n)
        for u, (start, _last, n) in finals.items()
        if (u, f"{start}"[:19] + " UTC", n) in chunked
    ]
    assert timeout_closed, "no final session was closed by the timeout path"


@pytest.mark.slow
def test_chained_stateful_recovery_across_restart(spark, sf_dir):
    """MULTI-STATEFUL checkpoint recovery: the dedup→window chain
    (dropDuplicatesWithinWatermark feeding a tumbling aggregation) must
    resume BOTH state stores from the checkpoint after a restart — the
    union of append-mode emissions across the two runs must equal a
    single uninterrupted drain, with no overlap (exactly-once across
    the failover) and no recount. Chunks split at the median timestamp
    so arrival order matches event time and the watermark advances
    monotonically across the restart."""
    import tempfile

    base = tempfile.mkdtemp(prefix="sp_chain_")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    med = ev.agg(F.expr("percentile(unix_micros(ts), 0.5)").alias("m")).first()[0]
    c1 = ev.where(F.expr(f"unix_micros(ts) < {int(med)}"))
    c2 = ev.where(F.expr(f"unix_micros(ts) >= {int(med)}"))
    c1.coalesce(1).write.parquet(f"{base}/chunk1_dir")
    c2.coalesce(1).write.parquet(f"{base}/chunk2_dir")
    _extract_part_file(f"{base}/chunk1_dir", f"{base}/chunk1.parquet")
    _extract_part_file(f"{base}/chunk2_dir", f"{base}/chunk2.parquet")
    schema = ev.schema

    def chain(src):
        stream = spark.readStream.schema(schema).parquet(src)
        return (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(
                F.col("window.start").alias("ws"), "event_type", "cnt"
            )
        )

    def drain(src, ckpt, out):
        # file sink: the fault-tolerant append sink that actually
        # supports checkpoint recovery (memory sinks do not)
        q = (
            chain(src)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (r.ws, r.event_type, r.cnt) for r in spark.read.parquet(out).collect()
        )

    src = f"{base}/src"
    os.makedirs(src)
    shutil.copyfile(f"{base}/chunk1.parquet", f"{src}/c1.parquet")
    ckpt, out = f"{base}/ckpt", f"{base}/out"
    rows1 = drain(src, ckpt, out)
    shutil.copyfile(f"{base}/chunk2.parquet", f"{src}/c2.parquet")
    rows2 = drain(src, ckpt, out)  # same checkpoint AND sink dir: resume

    src_all = f"{base}/src_all"
    os.makedirs(src_all)
    shutil.copyfile(f"{base}/chunk1.parquet", f"{src_all}/c1.parquet")
    shutil.copyfile(f"{base}/chunk2.parquet", f"{src_all}/c2.parquet")
    single = drain(src_all, f"{base}/ckpt_single", f"{base}/out_single")

    assert rows1 and len(rows2) > len(rows1)  # both phases emitted windows
    assert rows2 == single  # resumed run converges to the one-shot drain
    assert set(rows1) <= set(rows2)  # no retraction, no recount
    shutil.rmtree(base, ignore_errors=True)
