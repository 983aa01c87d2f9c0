"""RainStormJob facade: plugin contract semantics (the reference's
stdout-line classification), CSV quoting fidelity, native/plugin parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streamprocessing_spark import engine as E
from streamprocessing_spark.plans import explain as X


@pytest.fixture()
def records(spark):
    rows = [
        ("f:1", "10,a,1,Stop Sign,\"16\\\" X 42\\\"\",s,Punched Telespar,2010,Warning,n"),
        ("f:2", "11,a,2,\"Streetname, Mast Arm\",sz,s,Square Tube,2011,Regulatory,n"),
        ("f:3", "12,a,3,Yield,sz,s,Punched Telespar,2012,Warning,n"),
    ]
    return spark.createDataFrame(rows, E.RECORD_SCHEMA)


def test_csv_quoting_respected(spark, records):
    """Quoted fields with embedded commas must parse as ONE column
    (FIXTURES.md: the reference uses encoding/csv, not split(','))."""
    job = E.RainStormJob(op1=E.PluginOp(E.app1_op1), op2=E.PluginOp(E.app1_op2), pattern="Mast Arm")
    out = {(r.key, r.value) for r in job.run(records).collect()}
    assert out == {("2", "Streetname, Mast Arm")}


@pytest.mark.slow
def test_vectorized_equals_plugin(spark, records):
    """BatchPluginOp (pandas column ops) must reproduce the per-record
    PluginOp output exactly on both demo apps, including CSV quoting."""
    for ops_pr, ops_vec, pattern in [
        ((E.app1_op1, E.app1_op2), (E.vec_app1_op1, E.vec_app1_op2), "Mast Arm"),
        ((E.app2_op1, E.app2_op2), (E.vec_app2_op1, E.vec_app2_op2), "Punched Telespar"),
    ]:
        pr = E.RainStormJob(op1=E.PluginOp(ops_pr[0]), op2=E.PluginOp(ops_pr[1]), pattern=pattern)
        vec = E.RainStormJob(
            op1=E.BatchPluginOp(ops_vec[0]), op2=E.BatchPluginOp(ops_vec[1]), pattern=pattern
        )
        got_pr = {(r.key, r.value) for r in pr.run(records).collect()}
        got_vec = {(r.key, r.value) for r in vec.run(records).collect()}
        assert got_vec == got_pr, f"pattern={pattern}: {got_vec} != {got_pr}"


def test_batch_csv_parse_fails_loudly_on_malformed_input():
    """The per-record ops raise on empty/short CSV records; the batch
    parse must fail loudly too, never silently drop or NaN-pad
    (engine._parse_csv_batch). Pure-pandas unit test — no Spark."""
    import pandas as pd

    with pytest.raises(ValueError, match="empty CSV record"):
        E._parse_csv_batch(pd.Series(["a,b,c", ""]))
    with pytest.raises(ValueError, match="ragged CSV"):
        E._parse_csv_batch(pd.Series(["a,b,c", "x,y"]))
    ok = E._parse_csv_batch(pd.Series(["a,b,c", "x,y,z"]))
    assert ok.shape == (2, 3) and ok.iloc[1, 2] == "z"


def test_count_contract(spark, records):
    """op returning a bare string routes into the count path and the
    framework emits (key, running-total) — server.go:344-355."""
    job = E.RainStormJob(op1=E.PluginOp(E.app2_op1), op2=E.PluginOp(E.app2_op2), pattern="Punched Telespar")
    out = {(r.key, r.value) for r in job.run(records).collect()}
    assert out == {("Warning", "2")}


def test_emit_contract_fails_on_a_count_record(spark, records):
    """A PluginOp declared "emit" whose fn returns a count key fails the
    job instead of losing the record. (One input partition, as in
    test_chained_ops_keep_their_contract_checks: the contract is checked
    per batch, and no sibling task killed by the abort can become the
    reported cause.)"""
    op = E.PluginOp(lambda k, v, p: k, "emit")
    with pytest.raises(Exception, match="'count' record under contract 'emit'"):
        op.apply(records.coalesce(1), None).collect()


def test_batch_emit_contract_fails_on_count_rows(spark, records):
    """A BatchPluginOp declared "emit" that tags "count" rows fails the
    job instead of losing the rows. (One input partition: see
    test_emit_contract_fails_on_a_count_record.)"""
    op = E.BatchPluginOp(E.vec_app2_op2, "emit")
    with pytest.raises(Exception, match="'count' record under contract 'emit'"):
        op.apply(records.coalesce(1), None).collect()


def test_chaining_needs_an_emit_op1_and_no_routing(spark, records):
    """op1 → op2 run in one Python pass only when op1 declares "emit" and
    the job sets no num_tasks; a routed job or a mixed op1 keeps one
    kernel per op."""
    op1, op2 = E.PluginOp.declared(E.app2_op1), E.PluginOp.declared(E.app2_op2)
    chained = E.RainStormJob(op1, op2, "Punched Telespar")
    routed = E.RainStormJob(op1, op2, "Punched Telespar", num_tasks=3)
    mixed = E.RainStormJob(E.PluginOp(E.app2_op1), op2, "Punched Telespar")
    assert [X.count_python_passes(j.run(records)) for j in (chained, routed, mixed)] == [1, 2, 2]
    assert {tuple(r) for r in chained.run(records).collect()} == {("Warning", "2")}


def test_chained_ops_keep_their_contract_checks(spark, records):
    """Inside the chain a count record from an "emit" op1 still fails the
    task, and so does a wrong kind from either Python op2. (One input
    partition: the failing task is then the job's only task, so no
    sibling task killed by the abort can become its reported cause.)"""
    app1_op1 = E.PluginOp.declared(E.app1_op1)
    for op1, op2 in (
        (E.PluginOp(lambda k, v, p: k, "emit"), E.PluginOp.declared(E.app1_op2)),
        (app1_op1, E.PluginOp(E.app2_op2, "emit")),
        (app1_op1, E.BatchPluginOp(E.vec_app2_op2, "emit")),
    ):
        job = E.RainStormJob(op1, op2, "Sign")
        with pytest.raises(Exception, match="'count' record under contract 'emit'"):
            job.run(records.coalesce(1)).collect()


def test_chained_batch_op2_sees_key_value_columns(spark, records):
    """A chained BatchPluginFn op2 gets op1's records as a (key, value)
    batch, as it would after a stage boundary: no "kind" column."""
    import pandas as pd

    def columns(pdf, pattern):
        return pd.DataFrame({"kind": "emit", "key": pdf["key"], "value": ",".join(pdf.columns)})

    job = E.RainStormJob(E.BatchPluginOp.declared(E.vec_app1_op1), E.BatchPluginOp(columns, "emit"), "a")
    out = job.run(records)
    assert X.count_python_passes(out) == 1
    assert sorted(tuple(r) for r in out.collect()) == [
        ("f:1", "key,value"), ("f:2", "key,value"), ("f:3", "key,value")
    ]


def test_repeated_mixed_job_runs_its_own_kernel(spark, records, tmp_path):
    """Two runs of one mixed-contract job in a session, with no release in
    between, each run the op: the second must not read the first run's
    output (a non-deterministic op would replay it)."""
    src = tmp_path / "value"

    def current(key, value, pattern):
        return [(key, src.read_text())]

    job = E.RainStormJob(E.PluginOp(current), E.PluginOp(lambda k, v, p: [(k, v)]))
    seen = []
    for text in ("first", "second"):
        src.write_text(text)
        seen.append({r.value for r in job.run(records).collect()})
    assert seen == [{"first"}, {"second"}]


def test_shipped_ops_declare_their_contracts():
    assert {f.__name__: E.PluginOp.declared(f).contract for f in (
        E.app1_op1, E.app1_op2, E.app2_op1, E.app2_op2
    )} == {"app1_op1": "emit", "app1_op2": "emit", "app2_op1": "emit", "app2_op2": "count"}
    assert {f.__name__: E.BatchPluginOp.declared(f).contract for f in (
        E.vec_app1_op1, E.vec_app1_op2, E.vec_app2_op1, E.vec_app2_op2
    )} == {
        "vec_app1_op1": "emit", "vec_app1_op2": "emit",
        "vec_app2_op1": "emit", "vec_app2_op2": "count",
    }


def test_mixed_contract_single_op(spark, records):
    """One op may filter, count and flatMap per record in the same run —
    the classification is per record, as in the reference framework."""

    def chaotic(key, value, pattern):
        n = int(value.split(",")[0])
        if n == 10:
            return None  # filtered
        if n == 11:
            return "bucket"  # count path
        return [("a", "1"), ("b", "2")]  # flatMap

    job = E.RainStormJob(op1=E.PluginOp(chaotic), op2=E.PluginOp(lambda k, v, p: [(k, v)]))
    out = sorted((r.key, r.value) for r in job.run(records).collect())
    assert out == [("a", "1"), ("b", "2"), ("bucket", "1")]


def test_native_equals_plugin(spark, records):
    """The declarative fast path must agree with the plugin path."""
    native = E.RainStormJob(
        op1=E.NativeOp(lambda df, p: df.filter(F.col("value").contains(p))),
        op2=E.NativeOp(
            lambda df, p: df.select(
                F.split_part(F.col("value"), F.lit(","), F.lit(3)).alias("key"),
                F.split_part(F.col("value"), F.lit(","), F.lit(4)).alias("value"),
            )
        ),
        pattern="Yield",
    )
    plugin = E.RainStormJob(
        op1=E.PluginOp(E.app1_op1), op2=E.PluginOp(E.app1_op2), pattern="Yield"
    )
    n_out = {(r.key, r.value) for r in native.run(records).collect()}
    p_out = {(r.key, r.value) for r in plugin.run(records).collect()}
    assert n_out == p_out == {("3", "Yield")}


def test_num_tasks_repartition(spark, records):
    job = E.RainStormJob(
        op1=E.PluginOp(E.app1_op1),
        op2=E.PluginOp(lambda k, v, p: [(k, v)]),
        pattern="Sign",
        num_tasks=3,
    )
    assert job.run(records).count() == 1


def test_mixed_contract_runs_op_once_and_persists_nothing(spark, records):
    """A mixed-contract op collapses its emits and counts in one
    aggregate: the op runs once per input record (two union branches
    over an unpersisted stream would run it twice) and the job leaves no
    persisted RDD behind. Track RDD *ids*: other tests' localCheckpoint
    RDDs stay pinned until GC and may vanish between the two reads."""
    calls = spark.sparkContext.accumulator(0)

    def persisted_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    def mixed(key, value, pattern):
        calls.add(1)
        return "bucket" if key == "f:2" else [(key, "x")]

    baseline = persisted_ids()
    job = E.RainStormJob(E.PluginOp(mixed), E.NativeOp(lambda df, p: df))
    out = sorted(tuple(r) for r in job.run(records).collect())
    assert out == [("bucket", "1"), ("f:1", "x"), ("f:3", "x")]
    assert calls.value == 3
    assert not (persisted_ids() - baseline)


def test_mixed_contract_keeps_duplicate_emits(spark, records):
    """Each emit is its own group in the mixed aggregate: an op that
    emits the same record for every input returns one row per input."""
    job = E.RainStormJob(E.PluginOp(lambda k, v, p: [("same", "row")]), E.NativeOp(lambda df, p: df))
    assert [tuple(r) for r in job.run(records).collect()] == [("same", "row")] * 3


def test_mixed_contract_rejected_on_a_stream(spark):
    """A streaming aggregate would re-emit (update mode) or drop
    (complete mode) earlier micro-batches' emits, so a mixed op on a
    stream fails at plan time, naming the fix."""
    stream = spark.readStream.format("rate").load().select(
        F.col("value").cast("string").alias("key"), F.col("value").cast("string").alias("value")
    )
    with pytest.raises(ValueError, match='declare its contract "emit" or "count"'):
        E.PluginOp(lambda k, v, p: [(k, v)]).apply(stream, None)


def test_tracked_persist_bounded_and_pickles_empty(spark):
    """tracked_persist keeps at most KEEP intermediates live, evicting
    the oldest first, and its registry pickles empty: it ships with this
    module into every task and must not carry a DataFrame along."""
    import pickle

    E.release_plugin_caches(blocking=True)
    keep = E._PluginCacheRegistry.KEEP
    dfs = [E.tracked_persist(spark.range(i + 1)) for i in range(keep + 3)]
    assert [df.is_cached for df in dfs] == [False] * 3 + [True] * keep
    assert len(E._QUERY_CACHES.dfs) == keep
    assert pickle.loads(pickle.dumps(E._QUERY_CACHES)).dfs == []
    assert E.release_plugin_caches(blocking=True) == keep
    assert not any(df.is_cached for df in dfs)


def test_exec_op_spreads_input_over_default_parallelism(spark, records, tmp_path):
    """Fork latency is an ExecOp's cost, so its kernel runs on
    defaultParallelism partitions even when the input is one partition."""
    exe = tmp_path / "echo_op"
    exe.write_text('#!/bin/sh\nprintf "%s\\n%s\\n" "$1" "$2"\n')
    exe.chmod(0o755)
    out = E.ExecOp(str(exe), "emit").apply(records.coalesce(1), None)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(out.collect()) == sorted(records.collect())


@pytest.mark.slow
def test_exec_op_matches_plugin(spark, records):
    """ExecOp (argv/stdout subprocess contract, the reference's literal
    op surface) must agree record-for-record with the in-process plugin
    path on both demo apps."""
    import os

    ops_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "streamprocessing_spark",
        "ops",
    )
    exec_job = E.RainStormJob(
        op1=E.ExecOp(f"{ops_dir}/app2op1.py"),
        op2=E.ExecOp(f"{ops_dir}/app2op2.py"),
        pattern="Punched Telespar",
    )
    plugin_job = E.RainStormJob(
        op1=E.PluginOp(E.app2_op1),
        op2=E.PluginOp(E.app2_op2),
        pattern="Punched Telespar",
    )
    got = {(r.key, r.value) for r in exec_job.run(records).collect()}
    want = {(r.key, r.value) for r in plugin_job.run(records).collect()}
    assert got == want and got
