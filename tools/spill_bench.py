"""Memory-pressure validation for the heavy queries (VERDICT r03 item #6).

local[32] with an 8 GiB heap never spills at sf0.1 — which means the
SCALE.md curves say nothing about whether the heavy plans SURVIVE the
memory regime a real 100 TB cluster runs in, where the LSH verify joins
and graph contractions will not fit execution memory and must spill.
This tool re-runs the top-10 heavy queries against the 10× proxy
(tools/scale_bench.py's .scalebench/sf1.0) inside a SQUEEZED session —
3 GiB heap, spark.memory.fraction=0.15, 8 concurrent tasks (~57 MiB of
execution+storage per task, several times tighter than any sane
cluster's memory-per-core) — and records per-query spill bytes from the
status-store REST API, plus row counts compared against the unsqueezed
SCALEBENCH run to show the plans produce the SAME results under
pressure.

Each query runs in its OWN worker subprocess: driver memory is a
JVM-launch-time setting (it cannot be changed on the harness session),
and per-query isolation means one OOM loses one measurement, not the
run. The first squeeze attempt at 32 concurrent tasks GC-thrashed the
JVM to death (GCLocker retry storms) — 8 tasks is the memory-per-task
regime the squeeze is meant to model, not a softer test: aggregate
execution memory is unchanged, each task just gets a provisioned slice.

Usage: python tools/spill_bench.py            # writes SPILLBENCH.json
       python tools/spill_bench.py --queries q1 q2   # subset
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

PROXY_DIR = str(REPO / ".scalebench" / "sf1.0")
SQUEEZE_MEM = "3g"
SQUEEZE_FRACTION = "0.15"
SQUEEZE_TASKS = 8

# The top-10 heavy bench/gate queries whose cost tables the proxy grows
# (documents/embeddings/lineitem/events — see scale_bench's exclusion
# notes for the dimension-driven ops that would measure nothing).
HEAVY = (
    "semantic_dedup_keep_ivf",
    "semantic_dedup_keep_srp_baseline",
    "triangle_count_copurchase",
    "kcore_parts",
    "sssp_weighted_parts",
    "ann_pq_adc_topk",
    "interpolate_hourly_linear",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_scaled",
    "dedup_keep_canonical",
    "curation_manifest_end2end",
)


def _rest_totals(base_url: str, app_id: str) -> dict[str, int]:
    """Spill/shuffle byte totals over all completed stages, with retry —
    under GC pressure the UI thread can lag its bind by seconds."""
    url = f"{base_url}/api/v1/applications/{app_id}/stages?status=complete"
    last_err: Exception | None = None
    for _ in range(5):
        try:
            with urllib.request.urlopen(url, timeout=30) as fh:
                stages = json.load(fh)
            break
        except Exception as e:  # noqa: BLE001
            last_err = e
            time.sleep(2)
    else:
        raise RuntimeError(f"status REST unreachable: {last_err}")
    tot = {"memoryBytesSpilled": 0, "diskBytesSpilled": 0,
           "shuffleWriteBytes": 0, "shuffleReadBytes": 0}
    for st in stages:
        for k in tot:
            tot[k] += int(st.get(k, 0) or 0)
    return tot


def worker(queries: list[str]) -> None:
    from pyspark.sql import SparkSession

    from streamprocessing_spark.session import scratch_root

    spark = (
        SparkSession.builder.appName("spill-bench")
        .master(f"local[{SQUEEZE_TASKS},2]")
        .config("spark.driver.memory", SQUEEZE_MEM)
        .config("spark.memory.fraction", SQUEEZE_FRACTION)
        # out of /tmp, which can be reaped mid-run (shuffle
        # FileNotFound cascades): the same root session.py uses
        .config("spark.local.dir", scratch_root())
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")  # float: read the bound port back
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.default.parallelism", "64")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .getOrCreate()
    )
    from streamprocessing_spark.registry import all_specs

    specs = all_specs()
    sc = spark.sparkContext
    base_url = sc.uiWebUrl  # e.g. http://host:4040 — whatever port bound
    app_id = sc.applicationId
    out: dict[str, dict] = {}
    prev = _rest_totals(base_url, app_id)
    for name in queries:
        t0 = time.time()
        try:
            n = specs[name].fn(spark, PROXY_DIR).count()
            ok = True
        except Exception as e:  # noqa: BLE001
            n, ok = -1, False
            out[name] = {"ok": False, "error": str(e)[:300]}
        secs = time.time() - t0
        cur = _rest_totals(base_url, app_id)
        delta = {k: cur[k] - prev[k] for k in cur}
        prev = cur
        if ok:
            out[name] = {
                "ok": True,
                "secs": round(secs, 2),
                "rows": n,
                "memory_spilled_mb": round(delta["memoryBytesSpilled"] / 1e6, 1),
                "disk_spilled_mb": round(delta["diskBytesSpilled"] / 1e6, 1),
                "shuffle_write_mb": round(delta["shuffleWriteBytes"] / 1e6, 1),
            }
        print(f"# {name}: {out[name]}", file=sys.stderr)
        # shared-view caches would hold memory ACROSS queries and blur
        # attribution; drop them between measurements
        spark.catalog.clearCache()
        try:
            from streamprocessing_spark import shared_views

            shared_views.release_shared_views(spark)
        except Exception:  # noqa: BLE001
            pass
    spark.stop()
    print(json.dumps(out))


def _parse_worker_stdout(stdout: str) -> dict | None:
    """Last PARSEABLE stdout line — a dying executor can interleave
    stack traces after (or instead of) the result line."""
    for line in reversed(stdout.strip().splitlines() or []):
        try:
            v = json.loads(line)
            if isinstance(v, dict):
                return v
        except json.JSONDecodeError:
            continue
    return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--queries", nargs="*", default=list(HEAVY))
    args = ap.parse_args()
    if args.worker:
        worker(args.queries)
        return

    if not os.path.isdir(f"{PROXY_DIR}/documents.parquet"):
        print("building 10x proxy via scale_bench...", file=sys.stderr)
        subprocess.run(
            [sys.executable, str(REPO / "tools" / "scale_bench.py"),
             "dedup_exact"],  # cheapest query forces the proxy build
            check=True, cwd=REPO,
        )

    # one subprocess per query: a worker-killing OOM loses exactly one
    # measurement (and IS the measurement — recorded as worker_died)
    per_query: dict[str, dict] = {}
    for name in args.queries:
        proc = subprocess.run(
            [sys.executable, __file__, "--worker", "--queries", name],
            capture_output=True, text=True, cwd=REPO,
        )
        sys.stderr.write(proc.stderr[-2000:])
        got = _parse_worker_stdout(proc.stdout)
        if got is None:
            per_query[name] = {
                "ok": False,
                "worker_died": True,
                "error": (proc.stderr.strip().splitlines() or ["no output"])[-1][:300],
            }
        else:
            per_query.update(got)
        print(f"## {name}: {per_query.get(name)}", file=sys.stderr)

    # pull the unsqueezed row counts for the survives-with-same-result
    # comparison where scale_bench measured them
    ref_rows = {}
    sb = REPO / "SCALEBENCH.json"
    if sb.is_file():
        data = json.loads(sb.read_text())
        for q, row in data.get("queries", {}).items():
            if "sf1.0_rows" in row:
                ref_rows[q] = row["sf1.0_rows"]
    for q, row in per_query.items():
        if row.get("ok") and q in ref_rows:
            row["rows_match_unsqueezed"] = row["rows"] == ref_rows[q]

    # every row self-describes the squeeze it was measured under
    # (ADVICE r07: the merge kept prior rows but overwrote the top-level
    # heap/concurrent_tasks with the latest run's values, silently
    # relabeling rows measured under a different squeeze config)
    squeeze = {
        "heap": SQUEEZE_MEM,
        "memory_fraction": SQUEEZE_FRACTION,
        "concurrent_tasks": SQUEEZE_TASKS,
    }
    for row in per_query.values():
        if isinstance(row, dict):
            row["squeeze"] = squeeze
    result = {
        "proxy": "10x of sf0.1 (scale_bench)",
        "heap": SQUEEZE_MEM,
        "memory_fraction": SQUEEZE_FRACTION,
        "concurrent_tasks": SQUEEZE_TASKS,
        "queries": per_query,
    }
    # merge with prior runs (same contract as SCALEBENCH100): a --queries
    # subset run must refresh its rows, not clobber the rest of the
    # artifact (the round-6 scaled-MinHash subset run silently dropped
    # the other nine heavy-query rows)
    out_path = REPO / "SPILLBENCH.json"
    if out_path.is_file():
        prior = json.loads(out_path.read_text())
        prior_squeeze = {
            "heap": prior.get("heap"),
            "memory_fraction": prior.get("memory_fraction"),
            "concurrent_tasks": prior.get("concurrent_tasks"),
        }
        merged = {}
        for q, row in prior.get("queries", {}).items():
            # legacy rows carry no per-row config: stamp them with the
            # artifact-level config they were actually measured under
            if isinstance(row, dict) and "squeeze" not in row:
                row = {**row, "squeeze": prior_squeeze}
            merged[q] = row
        merged.update(result["queries"])
        result["queries"] = merged
    out_path.write_text(json.dumps(result, indent=1) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
