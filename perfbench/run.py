"""Layer-attributed benchmark for streamprocessing_spark.

Run from the repository root:

    python3 perfbench/run.py --workload rainstorm_apps --seed 1 --seconds 10 --trace 0

One closed-loop client calls a workload's registered queries one after
another on ``local[nproc]``. Each call is forced to completion (a noop
write; streaming queries drain with AvailableNow inside the call).

Inputs: the tables under ``perfbench/data`` (the sf0.01 fixture) are
rewritten with a seed-chosen row order. The rows stay the same, so every
DuckDB oracle still applies. Every pass, warm-up passes included, reads a
fresh hard-linked copy of those tables under a new path: stream memos,
ingest stores and shared views are all keyed by path, so a repeated path
would read memory sinks and cached views instead of doing the work.

A run with ``--trace 0``:

1. Set-up 1 starts at process start: Spark session, query registry, and a
   cold first pass that collects every call's output and checks it
   against its DuckDB oracle (``tools/check.py``). Set-ups 2 and 3
   restart the Spark session, reload the registry and run the workload's
   warm-up calls on a small copy of the input. ``setup_s`` is the median
   of the three.
2. Timed passes follow in the last session until ``--seconds`` have
   elapsed (at least two). ``pass_s`` is the fastest of them, each
   measured with the hypervisor's steal taken out (see
   ``probes.unstolen``; on a host that steals nothing it is the wall
   time). ``records_per_s`` is the records the calls consumed divided by
   ``pass_s``, and ``peak_rss_mb`` the highest RSS of this process, the
   JVM and the pyspark workers during the timed passes. Set-up times are
   measured the same way; the raw wall times are in the info line.

A run with ``--trace 1`` does set-up 1, then an untraced pass, two traced
passes and another untraced pass, and on rainstorm_apps a ``local[1]``
pass as the single-threaded baseline. It prints the per-layer metrics
(see ``workloads.LAYER_MAP``). The work counters of the two traced passes
are compared call by call.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. A call fails when it
raises, times out or disagrees with its oracle. The line before it
records the CPU count, the Spark version and every sample.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

from workloads import WORKLOADS, Workload, metric_unit  # noqa: E402

SETUPS = 3
# Passes keep getting faster for several passes (JIT), so the pass count,
# not the run's time, decides which point of that curve ``pass_s`` reports:
# both workloads' passes take long enough that ``--seconds`` adds none.
MIN_PASSES = 2
CALL_TIMEOUT_S = 60.0
WARM_MIN_ROWS = 200  # the warm-up input keeps small tables whole
HEAP = "2g"  # sf0.01 inputs need far less; a fixed heap keeps peak RSS steady
_MB = 1024 * 1024


def _isolate(work: Path, cpus: int) -> None:
    """Pin the session to the visible CPUs and keep every scratch file in ``work``.
    Must run before pyspark starts the JVM."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -Xms{HEAP}"),
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
            "pyspark-shell",
        ]
    )


def _seeded_tables(seed: int, dst: Path, warm_dst: Path) -> dict[str, tuple[int, float]]:
    """Write every fixture table to ``dst`` with a seed-chosen row order,
    and its first tenth (at least ``WARM_MIN_ROWS`` rows) to ``warm_dst``;
    return table -> (rows, MB on disk) of the full tables."""
    import numpy as np
    import pyarrow.parquet as pq

    dst.mkdir(parents=True)
    warm_dst.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    sizes = {}
    for src in sorted((HERE / "data").glob("*.parquet")):
        table = pq.read_table(src)
        table = table.take(rng.permutation(table.num_rows))
        out = dst / src.name
        pq.write_table(table, out)
        sizes[src.stem] = (table.num_rows, out.stat().st_size / _MB)
        warm_rows = max(table.num_rows // 10, min(table.num_rows, WARM_MIN_ROWS))
        pq.write_table(table.slice(0, warm_rows), warm_dst / src.name)
    return sizes


class Inputs:
    """Fresh paths over one set of seeded tables (hard links, no copies)."""

    def __init__(self, base: Path, root: Path) -> None:
        self.base = base
        self.root = root
        self.n = 0

    def fresh(self) -> str:
        self.n += 1
        path = self.root / f"in{self.n}"
        shutil.copytree(self.base, path, copy_function=os.link)
        return str(path)


class Client:
    """The closed-loop client: one Spark session, calls run one at a time."""

    def __init__(self, workload: Workload, check_mod) -> None:
        self.workload = workload
        self.check_mod = check_mod
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.specs = None

    def start(self, master: str | None = None) -> tuple[float, float]:
        """(Re)start the session and load the registry; return both times."""
        from streamprocessing_spark.registry import all_specs
        from streamprocessing_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=master)
        t1 = time.perf_counter()
        self.specs = all_specs()
        return t1 - t0, time.perf_counter() - t1

    def _call(self, query: str, group: str, body) -> float | None:
        """Run ``body`` under a job group with a watchdog; return its wall
        time, or None when it failed."""
        spark = self.spark
        sc = spark.sparkContext
        sc.setJobGroup(group, query, interruptOnCancel=True)
        timed_out = threading.Event()

        def cancel() -> None:
            timed_out.set()
            sc.cancelJobGroup(group)
            for q in spark.streams.active:
                q.stop()

        watchdog = threading.Timer(CALL_TIMEOUT_S, cancel)
        self.attempted += 1
        t0 = time.perf_counter()
        watchdog.start()
        try:
            problem = body()
        except Exception as exc:  # noqa: BLE001 - a failed call is a measured outcome
            problem = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
        finally:
            watchdog.cancel()
        wall = time.perf_counter() - t0
        if timed_out.is_set():
            problem = f"timed out after {CALL_TIMEOUT_S:.0f} s"
        if problem:
            self.failed += 1
            self.failures.append(f"{query}: {problem}")
            print(f"perfbench: call failed: {query}: {problem}", file=sys.stderr)
            return None
        return wall

    def run_pass(self, sf_dir: str, label: str, tracer=None, calls=None) -> tuple[dict, dict]:
        """Noop-write every call (or each of ``calls``) once; return (query
        -> wall time, None when the call failed; per-call trace records)."""
        from streamprocessing_spark.engine import release_plugin_caches
        from streamprocessing_spark.shared_views import release_shared_views

        walls, records = {}, {}
        views_before = tracer.views() if tracer else set()
        live_sum = live_mb_sum = live_peak = 0.0
        plugin_caches = 0
        for call in calls or self.workload.calls:
            fn = self.specs[call.query].fn
            spark = self.spark

            def body() -> None:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

            group = f"perfbench-{label}-{call.query}"
            wall = walls[call.query] = self._call(call.query, group, body)
            if tracer:
                rec = tracer.call_record(group, wall or 0.0)
                rec["wall_s"] = wall or 0.0
                _, live_n, live_mb = tracer.storage()
                live_sum += live_n
                live_mb_sum += live_mb
                live_peak = max(live_peak, live_mb)
                records[call.query] = rec
            plugin_caches += release_plugin_caches()
        if tracer:
            views_mb, _, _ = tracer.storage()
            records["_pass"] = {
                "shared_views.builds": float(len(tracer.views() - views_before)),
                "shared_views.cached_mb": views_mb,
                "materialize.live_rdds": live_sum,
                "materialize.live_mb": live_mb_sum,
                "materialize.peak_mb": live_peak,
                "engine.plugin_caches": float(plugin_caches),
            }
        release_shared_views(self.spark)
        return walls, records

    def check_pass(self, sf_dir: str) -> dict[str, str]:
        """Warm-up pass that collects every call's output and compares it
        with the call's DuckDB oracle on the same input."""
        from streamprocessing_spark.engine import release_plugin_caches
        from streamprocessing_spark.shared_views import release_shared_views

        con = self.check_mod.duck_connect(sf_dir)
        details = {}
        for call in self.workload.calls:
            spec = self.specs[call.query]
            spark = self.spark

            def body() -> str | None:
                res = self.check_mod.check_query(spark, con, call.query, spec, sf_dir)
                details[call.query] = res["detail"]
                return None if res["ok"] else res["detail"]

            self._call(call.query, f"perfbench-check-{call.query}", body)
            release_plugin_caches()
        con.close()
        release_shared_views(self.spark)
        return details

    def stop(self) -> None:
        """Stop Spark and wait for the JVM and its workers to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        from probes import tree_pids

        pids = [p for p in tree_pids() if p != os.getpid()]
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 20
        while pids and time.monotonic() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        for p in pids:
            try:
                os.kill(p, 9)
            except OSError:
                pass


def _scan_sources(client: Client, sf_dir: str, workload: Workload) -> float:
    """Scan the workload's input tables once to noop; return the time."""
    from streamprocessing_spark.sources.readers import load_table

    t0 = time.perf_counter()
    for table in workload.tables:
        load_table(client.spark, sf_dir, table).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _total(walls: dict) -> float:
    return sum(w or 0.0 for w in walls.values())


def _untraced(client: Client, inputs: Inputs, args, sizes, info) -> dict:
    import probes

    walls, passes, peaks = [], [], []
    t0 = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < args.seconds:
        cpu0 = probes.cpu_stat()
        with probes.RssSampler() as rss:
            calls, _ = client.run_pass(inputs.fresh(), f"pass{len(passes)}")
        walls.append(_total(calls))
        passes.append(probes.unstolen(walls[-1], cpu0))
        peaks.append(rss.peak_mb)
    info.update(pass_walls_s=walls, passes_s=passes, peak_rss_mb=peaks)
    pass_s = min(passes)
    records = sum(sizes[c.records_table][0] for c in client.workload.calls)
    return {
        "setup_s": (statistics.median(info["setups_s"]), "s"),
        "pass_s": (pass_s, "s"),
        "records_per_s": (records / pass_s, "1/s"),
        "peak_rss_mb": (max(peaks), "MB"),
    }


def _traced(client: Client, inputs: Inputs, args, sizes, info) -> dict:
    import probes

    wl = client.workload
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    untraced = [_total(client.run_pass(inputs.fresh(), "untraced0")[0])]
    tracer = probes.Tracer(client.spark)
    passes = []
    try:
        for k in range(2):
            sf_dir = inputs.fresh()
            cpu0 = probes.python_worker_cpu_s()
            scan_s = _scan_sources(client, sf_dir, wl)
            tracer.call_record("", 0.0)  # drop the scan's jobs
            runs0 = tracer.job_runs[0]
            walls, recs = client.run_pass(sf_dir, f"traced{k}", tracer)
            runs = tracer.job_runs[0] - runs0
            extra = recs.pop("_pass")
            m = probes.pass_metrics(recs, cpus)
            m.update(extra)
            m["python.cpu_s"] = probes.python_worker_cpu_s() - cpu0
            m["sources.scan_s"] = scan_s
            m["sources.input_rows"] = float(sum(sizes[t][0] for t in wl.tables))
            m["sources.input_mb"] = sum(sizes[t][1] for t in wl.tables)
            for surface in ("native", "plugin", "vectorized", "stream"):
                m[f"engine.{surface}_s"] = sum(
                    recs[c.query]["wall_s"] for c in wl.calls if c.surface == surface
                )
            engine_jobs = sum(recs[c.query]["jobs"] for c in wl.calls if c.surface
                              in ("plugin", "vectorized", "stream"))
            m["engine.jobs_per_run"] = engine_jobs / runs if runs else 0.0
            passes.append((_total(walls), m, recs))
    finally:
        tracer.close()
    untraced.append(_total(client.run_pass(inputs.fresh(), "untraced1")[0]))

    mismatches = []
    for call in wl.calls:
        a, b = passes[0][2][call.query], passes[1][2][call.query]
        for key in probes.WORK_COUNTERS:
            if a[key] != b[key]:
                mismatches.append(f"{call.query}.{key}: {a[key]} != {b[key]}")
    if mismatches:
        print("perfbench: work counters differ between traced passes: "
              + "; ".join(mismatches), file=sys.stderr)
    info["counter_mismatches"] = mismatches
    info["per_call"] = {
        c.query: {k: passes[0][2][c.query][k] for k in probes.WORK_COUNTERS + ("wall_s",)}
        for c in wl.calls
    }

    metrics = {
        k: statistics.median(p[1][k] for p in passes) for k in passes[0][1]
    }
    traced_s = statistics.median(p[0] for p in passes)
    metrics["trace.overhead_s"] = traced_s - statistics.median(untraced)
    metrics["trace.counter_mismatches"] = float(len(mismatches))
    metrics["session.start_s"] = info["session_start_s"]
    metrics["registry.load_s"] = info["registry_load_s"]
    metrics["baseline.local1_pass_s"] = 0.0
    if wl.name == "rainstorm_apps":
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        client.start(master="local[1]")
        client.run_pass(inputs.fresh(), "local1-warmup")
        walls, _ = client.run_pass(inputs.fresh(), "local1")
        metrics["baseline.local1_pass_s"] = _total(walls)
    return {k: (v, metric_unit(k)) for k, v in metrics.items()}


def _run(args, workload: Workload, work: Path) -> int:
    cpus = len(os.sched_getaffinity(0))
    _isolate(work, cpus)
    try:
        import pyspark
        import streamprocessing_spark  # noqa: F401
        from tools import check as check_mod
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2

    import probes

    cpu0 = probes.cpu_stat()
    sizes = _seeded_tables(args.seed, work / "seeded", work / "warm")
    inputs = Inputs(work / "seeded", work / "inputs")
    warm = Inputs(work / "warm", work / "warm-inputs")
    client = Client(workload, check_mod)
    info = {
        "workload": workload.name,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": cpus,
        "spark_version": pyspark.__version__,
    }
    try:
        start_s, load_s = client.start()
        info["session_start_s"], info["registry_load_s"] = start_s, load_s
        info["checks"] = client.check_pass(inputs.fresh())
        walls = [probes.process_age_s()]
        setups = [probes.unstolen(walls[0], cpu0)]
        for k in range(1, 1 if args.trace else SETUPS):
            t0, cpu0 = time.perf_counter(), probes.cpu_stat()
            client.start()
            client.run_pass(warm.fresh(), f"setup{k}", calls=workload.warmup_calls)
            walls.append(time.perf_counter() - t0)
            setups.append(probes.unstolen(walls[-1], cpu0))
        info["setup_walls_s"], info["setups_s"] = walls, setups
        if args.trace:
            metrics = _traced(client, inputs, args, sizes, info)
        else:
            metrics = _untraced(client, inputs, args, sizes, info)
    finally:
        client.stop()
    info["failures"] = client.failures
    print(json.dumps(info, sort_keys=True, default=str))
    result = {
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = ROOT / ".perfbench-work" / str(os.getpid())
    try:
        return _run(args, WORKLOADS[args.workload], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run still uses it
            pass


if __name__ == "__main__":
    sys.exit(main())
