"""Workload definitions and the layer -> end-to-end map.

A workload is an ordered list of registered queries that one closed-loop
client calls one after another. Each call is forced to completion (noop
write; streaming queries drain with AvailableNow inside the call).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Call:
    query: str
    records_table: str  # the input table whose rows the call consumes
    surface: str = ""  # engine op surface, for the engine.* metrics


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    calls: tuple[Call, ...]
    tables: tuple[str, ...]  # input tables the calls read
    # What a restarted session runs, on the small warm-up input, before it
    # is ready to time: enough to start the Python workers and each code
    # path's per-session state without repeating the whole pass.
    warmup: tuple[str, ...]

    @property
    def warmup_calls(self) -> tuple[Call, ...]:
        return tuple(c for c in self.calls if c.query in self.warmup)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="rainstorm_apps",
            why=(
                "the paper's App-1 and App-2 through every op surface: engine, "
                "Python workers and the streaming twins, no shared views or loops"
            ),
            calls=(
                Call("app1_pipeline", "documents", "native"),
                Call("app2_pipeline", "orders", "native"),
                Call("rainstorm_plugin_app1", "orders", "plugin"),
                Call("rainstorm_plugin_app2", "orders", "plugin"),
                Call("rainstorm_vectorized_app1", "orders", "vectorized"),
                Call("rainstorm_vectorized_app2", "orders", "vectorized"),
                Call("rainstorm_streaming_app1", "orders", "stream"),
                Call("rainstorm_streaming_app2", "orders", "stream"),
            ),
            tables=("documents", "orders"),
            warmup=(  # App-1 through each op surface
                "app1_pipeline",
                "rainstorm_plugin_app1",
                "rainstorm_vectorized_app1",
                "rainstorm_streaming_app1",
            ),
        ),
        Workload(
            name="graph_iterative",
            why=(
                "hand-written loops of many short jobs: k-core peeling over a shared "
                "graph view and the PQ Lloyd loop with its Python distance kernel"
            ),
            calls=(
                Call("kcore_parts", "lineitem"),
                Call("ann_pq_adc_topk", "embeddings"),
            ),
            tables=("lineitem", "embeddings"),
            warmup=("kcore_parts",),
        ),
    )
}

# Which end-to-end metric each per-layer metric should move, and where.
LAYER_MAP = {
    "session.start_s": "setup_s on every workload",
    "registry.load_s": "setup_s on every workload",
    "sources.scan_s": "pass_s on rainstorm_apps; small on graph_iterative",
    "sources.input_rows": "records_per_s on rainstorm_apps",
    "sources.input_mb": "pass_s on rainstorm_apps",
    "engine.native_s": "pass_s and records_per_s on rainstorm_apps only",
    "engine.plugin_s": "pass_s and records_per_s on rainstorm_apps only",
    "engine.vectorized_s": "pass_s and records_per_s on rainstorm_apps only",
    "engine.stream_s": "pass_s and records_per_s on rainstorm_apps only",
    "engine.jobs_per_run": "pass_s on rainstorm_apps only",
    "engine.plugin_caches": "peak_rss_mb and pass_s on rainstorm_apps only",
    "python.cpu_s": "pass_s on rainstorm_apps, and on graph_iterative via the PQ kernel",
    "jvm.run_s": "pass_s on graph_iterative",
    "jvm.cpu_s": "pass_s on graph_iterative",
    "jvm.gc_s": "pass_s on graph_iterative",
    "exec.slot_util": "pass_s where idle cores are a lever",
    "queries.jobs": "pass_s on graph_iterative; at most its share elsewhere",
    "queries.jobs_outside_group": "pass_s on rainstorm_apps (micro-batch jobs)",
    "queries.stages": "pass_s on graph_iterative",
    "queries.tasks": "pass_s on graph_iterative",
    "queries.stage_busy_s": "pass_s on every workload",
    "queries.driver_gap_s": "pass_s on graph_iterative",
    "queries.tasks_failed": "the failed count",
    "shuffle.read_mb": "pass_s on graph_iterative; flat on rainstorm_apps",
    "shuffle.write_mb": "pass_s on graph_iterative; flat on rainstorm_apps",
    "shuffle.spill_mb": "pass_s on graph_iterative; flat on rainstorm_apps",
    "shuffle.skew": "pass_s on graph_iterative; flat on rainstorm_apps",
    "shared_views.builds": "pass_s on graph_iterative, peak_rss_mb everywhere",
    "shared_views.cached_mb": "peak_rss_mb everywhere",
    "materialize.live_rdds": "peak_rss_mb",
    "materialize.live_mb": "peak_rss_mb",
    "materialize.peak_mb": "peak_rss_mb, and pass_s on graph_iterative",
    "streaming.triggers": "pass_s and records_per_s on rainstorm_apps",
    "streaming.trigger_ms_p50": "pass_s on rainstorm_apps",
    "streaming.trigger_ms_max": "pass_s on rainstorm_apps",
    "streaming.add_batch_ms": "pass_s on rainstorm_apps",
    "streaming.planning_ms": "pass_s on rainstorm_apps",
    "streaming.wal_commit_ms": "pass_s on rainstorm_apps",
    "streaming.latest_offset_ms": "pass_s on rainstorm_apps",
    "streaming.input_rows": "records_per_s on rainstorm_apps",
    "streaming.state_rows": "peak_rss_mb on rainstorm_apps",
    "streaming.state_mb": "peak_rss_mb on rainstorm_apps",
    "streaming.state_commit_ms": "pass_s on rainstorm_apps",
    "baseline.local1_pass_s": "none: the single-threaded reference for pass_s",
    "trace.overhead_s": "none: traced minus untraced pass_s",
    "trace.counter_mismatches": "none: must be 0 (work counters repeat exactly)",
}


def metric_unit(name: str) -> str:
    if "_ms" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("exec.slot_util", "shuffle.skew"):
        return "ratio"
    return "count"
