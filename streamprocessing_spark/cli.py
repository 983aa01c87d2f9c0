"""Command-line driver — the reference's REPL surface as a batch CLI.

The reference's sole entry point is an interactive shell whose streaming
job command is ``RainStorm <op1_exe> <op2_exe> <src> <dest> <num_tasks>
[pattern]`` (main.go:206-222). This module maps that exact invocation
onto the Spark engine so a user of the reference can run the same jobs
unchanged:

    python -m streamprocessing_spark rainstorm ops/app2op1.py ops/app2op2.py \
        input.csv outdir 8 F

plus two conveniences the reference lacks:

    python -m streamprocessing_spark list                 # registered queries
    python -m streamprocessing_spark run q1_pricing_summary --sf /root/testdata/sf0.01

Op arguments resolve to engine operators:
- a path to an executable → ExecOp (the reference's literal argv/stdout
  contract; existing op binaries run unchanged),
- a built-in name (app1op1, app1op2, app2op1, app2op2) → PluginOp under
  the op's declared contract (engine.py; the same semantics in-process,
  ~10^4× cheaper than fork/exec).

The source file is read line-by-line like the reference's HyDFS replay
(rainstorm/server.go:411-448); keys are ``<basename>:<row id>`` — a
per-run-deterministic id rather than a global line number, which is also
the right call at scale (a global line-numbering pass is a barrier; see
operators/core.source_scan). Output goes to ``<dest>/`` as CSV and the
first rows echo to the console, mirroring the leader's console+DFS sink
(server.go:306-310).
"""

from __future__ import annotations

import argparse
import os
import sys
from dataclasses import dataclass

from streamprocessing_spark import engine as E

_BUILTIN_OPS = {
    "app1op1": E.app1_op1,
    "app1op2": E.app1_op2,
    "app2op1": E.app2_op1,
    "app2op2": E.app2_op2,
}


def _resolve_op(arg: str) -> E.Op:
    if arg in _BUILTIN_OPS:
        return E.PluginOp.declared(_BUILTIN_OPS[arg])
    if os.path.isfile(arg) and os.access(arg, os.X_OK):
        return E.ExecOp(os.path.abspath(arg))
    raise SystemExit(
        f"op {arg!r} is neither a built-in ({', '.join(sorted(_BUILTIN_OPS))}) "
        "nor an executable file"
    )


def _chaotic(fn: E.PluginFn) -> E.PluginFn:
    def chaotic(key: str, value: str, pattern: str | None):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc is not None and tc.partitionId() < 2 and tc.attemptNumber() == 0:
            raise RuntimeError("chaos: injected worker failure (RainStormWithFail)")
        return fn(key, value, pattern)

    return chaotic


@dataclass(frozen=True)
class _ChaosExecOp(E.ExecOp):
    """Keeps ExecOp's spread: the two killed tasks are two of many."""

    def record_fn(self) -> E.PluginFn:
        return _chaotic(super().record_fn())


def _chaos_wrap(op: E.Op) -> E.Op:
    """RainStormWithFail analogue (main.go:223-243, server.go:553-572):
    the reference kills 2 workers mid-job and recovers by WAL replay.
    Here the op's task kills ITSELF on its first attempt in partitions 0
    and 1; Spark's task retry (session.py runs local[n,2]) replays them
    and the job must still produce exactly-once output. Only PluginOp /
    ExecOp wrap (they run in tasks); NativeOp has no task-side hook."""
    if isinstance(op, E.PluginOp):
        return E.PluginOp(_chaotic(op.fn), contract=op.contract)
    if isinstance(op, E.ExecOp):
        return _ChaosExecOp(op.exe, op.contract)
    return op


def _cmd_rainstorm(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from streamprocessing_spark.session import get_spark

    spark = get_spark("rainstorm-cli")
    lines = spark.read.text(args.src)
    base = os.path.basename(args.src)
    records = lines.select(
        F.concat(F.lit(base), F.lit(":"), F.monotonically_increasing_id().cast("string")).alias(
            "key"
        ),
        F.col("value"),
    )
    op1, op2 = _resolve_op(args.op1), _resolve_op(args.op2)
    if args.with_fail:
        op1, op2 = _chaos_wrap(op1), _chaos_wrap(op2)
    job = E.RainStormJob(
        op1=op1,
        op2=op2,
        pattern=args.pattern,
        num_tasks=args.num_tasks,
    )
    # persist so the write, the console preview, and the count are one
    # compute pass, not three (the op kernels are the expensive part)
    out = job.run(records).persist()
    try:
        out.write.mode("overwrite").option("header", "true").csv(args.dest)
        rows = out.limit(20).collect()
        for r in rows:
            print(f"<{r.key}, {r.value}>")  # the leader's console format (types.go:75-81)
        n = out.count()
        print(f"rainstorm: {n} output records -> {args.dest}", file=sys.stderr)
    finally:
        out.unpersist()
    return 0


# Tag marking all-pairs / quadratic oracle baselines: correct at any
# scale but O(n²) by design — registered for oracle comparison, NOT for
# production corpora. Each one's docstring names its scalable sibling.
FIXED_SCALE_TAG = "baseline-fixed-scale"


def _fixed_scale_warning(name: str) -> str:
    return (
        f"WARNING: {name!r} is tagged {FIXED_SCALE_TAG}: an oracle "
        "baseline whose candidate volume grows superlinearly with the "
        "corpus (all-pairs join or frozen banding resolution). Use its "
        "scalable sibling for real data (see the query's docstring / "
        "`explain`)."
    )


def _cmd_list(_args: argparse.Namespace) -> int:
    from streamprocessing_spark.registry import all_specs

    n_fixed = 0
    for name, spec in all_specs().items():
        oracle = "oracled" if spec.oracle else "rows-only"
        mark = ""
        if FIXED_SCALE_TAG in spec.tags:
            mark = "\t!! fixed-scale baseline (superlinear candidates; not for production corpora)"
            n_fixed += 1
        print(f"{name}\t{oracle}\t{','.join(spec.tags)}{mark}")
    if n_fixed:
        print(
            f"\n{n_fixed} queries marked '!!' are {FIXED_SCALE_TAG} oracle "
            "baselines — each docstring names the scalable tier to use instead.",
            file=sys.stderr,
        )
    return 0


def _cmd_run(args: argparse.Namespace) -> int:
    from streamprocessing_spark.registry import all_specs
    from streamprocessing_spark.session import get_spark

    specs = all_specs()
    if args.query not in specs:
        raise SystemExit(f"unknown query {args.query!r}; see `list`")
    if FIXED_SCALE_TAG in specs[args.query].tags:
        print(_fixed_scale_warning(args.query), file=sys.stderr)
    spark = get_spark("query-cli")
    df = specs[args.query].fn(spark, args.sf)
    df.show(args.n, truncate=False)
    print(f"{args.query}: {df.count()} rows", file=sys.stderr)
    return 0


def _cmd_explain(args: argparse.Namespace) -> int:
    from streamprocessing_spark.plans.explain import formatted_plan
    from streamprocessing_spark.registry import all_specs
    from streamprocessing_spark.session import get_spark

    specs = all_specs()
    if args.query not in specs:
        raise SystemExit(f"unknown query {args.query!r}; see `list`")
    spark = get_spark("explain-cli")
    df = specs[args.query].fn(spark, args.sf)
    print(formatted_plan(df))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="streamprocessing_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    rs = sub.add_parser("rainstorm", help="run a RainStorm job (main.go:206-222 contract)")
    rs.add_argument("op1")
    rs.add_argument("op2")
    rs.add_argument("src")
    rs.add_argument("dest")
    rs.add_argument("num_tasks", type=int)
    rs.add_argument("pattern", nargs="?", default=None)
    rs.add_argument(
        "--with-fail",
        action="store_true",
        help="chaos mode: kill first-attempt tasks mid-job and recover via "
        "task retry (the reference's RainStormWithFail, main.go:223-243)",
    )
    rs.set_defaults(fn=_cmd_rainstorm)

    ls = sub.add_parser("list", help="list registered queries")
    ls.set_defaults(fn=_cmd_list)

    run = sub.add_parser("run", help="run a registered query")
    run.add_argument("query")
    run.add_argument("--sf", default="/root/testdata/sf0.01")
    run.add_argument("-n", type=int, default=20)
    run.set_defaults(fn=_cmd_run)

    ex = sub.add_parser(
        "explain",
        help="print a registered query's formatted physical plan "
        "(pushdown / pruning / broadcast / exchange structure)",
    )
    ex.add_argument("query")
    ex.add_argument("--sf", default="/root/testdata/sf0.01")
    ex.set_defaults(fn=_cmd_explain)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
