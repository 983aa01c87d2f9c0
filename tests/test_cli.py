"""CLI parity: the reference's `RainStorm op1 op2 src dest n [pattern]`
invocation (main.go:206-222) must run end-to-end through the engine, for
both built-in plugin ops and external executables."""

from __future__ import annotations

import csv
import glob
import os

import pytest

from streamprocessing_spark.cli import main

_LINES = [
    f"{i},a,{i},URGENT-{i % 3},sz,sup,{'F' if i % 2 else 'O'},yr,PRI-{i % 3},note"
    for i in range(60)
]


def _write_src(tmp_path) -> str:
    src = str(tmp_path / "input.csv")
    with open(src, "w") as f:
        f.write("\n".join(_LINES) + "\n")
    return src


def _read_out(dest: str) -> set[tuple[str, str]]:
    rows = set()
    for p in glob.glob(os.path.join(dest, "*.csv")):
        with open(p) as f:
            rd = csv.reader(f)
            header = next(rd, None)
            assert header == ["key", "value"]
            rows.update((k, v) for k, v in rd)
    return rows


@pytest.mark.slow
def test_cli_rainstorm_builtin_ops(spark, tmp_path):
    """App2 through built-in plugin ops: category counts of 'F' rows."""
    src = _write_src(tmp_path)
    dest = str(tmp_path / "out_builtin")
    rc = main(["rainstorm", "app2op1", "app2op2", src, dest, "4", "F"])
    assert rc == 0
    got = _read_out(dest)
    want = {("PRI-0", "10"), ("PRI-1", "10"), ("PRI-2", "10")}
    assert got == want


@pytest.mark.slow
def test_cli_rainstorm_exec_ops(spark, tmp_path):
    """The same job with the reference's argv/stdout contract: external
    executable ops produce identical output to the built-ins."""
    ops_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "streamprocessing_spark",
        "ops",
    )
    src = _write_src(tmp_path)
    dest = str(tmp_path / "out_exec")
    rc = main(
        ["rainstorm", f"{ops_dir}/app2op1.py", f"{ops_dir}/app2op2.py", src, dest, "4", "F"]
    )
    assert rc == 0
    assert _read_out(dest) == {("PRI-0", "10"), ("PRI-1", "10"), ("PRI-2", "10")}


@pytest.mark.slow
def test_cli_rainstorm_with_fail_exactly_once(spark, tmp_path):
    """--with-fail (the RainStormWithFail analogue): first-attempt tasks
    are killed mid-job; output must still equal the clean run exactly."""
    src = _write_src(tmp_path)
    dest = str(tmp_path / "out_chaos")
    rc = main(["rainstorm", "app2op1", "app2op2", src, dest, "4", "F", "--with-fail"])
    assert rc == 0
    assert _read_out(dest) == {("PRI-0", "10"), ("PRI-1", "10"), ("PRI-2", "10")}


def test_chaos_wrapped_exec_op_keeps_its_spread(spark, tmp_path):
    """--with-fail keeps ExecOp's spread over defaultParallelism: on a
    one-partition input the chaotic kernel runs on that many partitions,
    so the killed first attempts are two tasks of many, and the retried
    output is still exactly once."""
    from streamprocessing_spark import engine as E
    from streamprocessing_spark.cli import _chaos_wrap

    exe = tmp_path / "echo_op"
    exe.write_text('#!/bin/sh\nprintf "%s\\n%s\\n" "$1" "$2"\n')
    exe.chmod(0o755)
    records = spark.createDataFrame(
        [(f"f:{i}", f"v{i}") for i in range(40)], E.RECORD_SCHEMA
    ).coalesce(1)
    out = _chaos_wrap(E.ExecOp(str(exe), "emit")).apply(records, None)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(out.collect()) == sorted(records.collect())


def test_cli_explain_prints_plan(spark, capsys):
    """`explain <query>` prints the formatted physical plan with the
    scan and pushdown details visible."""
    from tests.conftest import SMOKE_SF

    rc = main(["explain", "app1_pipeline", "--sf", SMOKE_SF])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Physical Plan" in out
    assert "PushedFilters" in out


def test_cli_explain_unknown_query(spark):
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(["explain", "no_such_query"])


def test_cli_list_marks_fixed_scale_baselines(capsys):
    """VERDICT r04 item #7: the registry's quadratic oracle baselines
    must be visibly flagged so nobody runs an all-pairs tier blind on a
    100 TB corpus — `list` marks them, `run` warns on stderr."""
    from streamprocessing_spark.cli import FIXED_SCALE_TAG, main
    from streamprocessing_spark.registry import all_specs

    tagged = {n for n, s in all_specs().items() if FIXED_SCALE_TAG in s.tags}
    # the four quadratic tiers the round-4 verdict called out, plus the
    # SRP frozen-banding baselines
    assert {
        "dedup_ngram_jaccard", "dedup_char_ngram_jaccard",
        "embedding_cosine_pairs", "knn_label_audit",
    } <= tagged
    # round-6 (VERDICT r05 item #3): the previously-untagged superlinear
    # fixed-banding tiers now warn too (their scaled siblings shipped)
    assert {
        "dedup_minhash_lsh", "dedup_simhash", "minhash_jaccard_estimate_audit",
    } <= tagged
    # ...but the production tiers must NOT be tagged
    assert "dedup_minhash_lsh_scaled" not in tagged
    assert "semantic_dedup_keep" not in tagged

    main(["list"])
    out = capsys.readouterr()
    for name in tagged:
        line = next(ln for ln in out.out.splitlines() if ln.startswith(name + "\t"))
        assert "!!" in line, line
    ok_line = next(ln for ln in out.out.splitlines() if ln.startswith("q1_pricing_summary\t"))
    assert "!!" not in ok_line
    assert FIXED_SCALE_TAG in out.err
