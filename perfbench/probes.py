"""Per-layer measurement from outside the program.

Everything here observes the program through public surfaces: Spark's
status store (jobs, stages, task summaries), ``getRDDStorageInfo``, the
catalog, a ``StreamingQueryListener``, ``/proc``, and thin wrappers around
public functions (``RainStormJob.run``). Nothing inside
``streamprocessing_spark`` is modified.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_MB = 1024 * 1024


# ---------------------------------------------------------------- /proc


def _proc_table() -> dict[int, tuple[int, str, int, int, int, int]]:
    """pid -> (ppid, comm, own cpu ticks, reaped-children cpu ticks, rss
    pages, virtual size)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed it
            continue
        close = stat.rindex(")")
        comm = stat[stat.index("(") + 1 : close]
        f = stat[close + 2 :].split()
        out[int(name)] = (
            int(f[1]),
            comm,
            int(f[11]) + int(f[12]),
            int(f[13]) + int(f[14]),
            int(f[21]),
            int(f[20]),
        )
    return out


def _descendants(table, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_pids() -> list[int]:
    """This process and everything it started (the JVM, pyspark workers)."""
    return _descendants(_proc_table(), os.getpid())


def python_worker_cpu_s() -> float:
    """CPU seconds of the pyspark worker processes under this process: their
    own time plus the time of workers they already reaped."""
    table = _proc_table()
    me = os.getpid()
    ticks = 0
    for pid in _descendants(table, me):
        _, comm, own, reaped, _, _ = table[pid]
        if pid != me and comm.startswith("python"):
            ticks += own + reaped
    return ticks / _TICK


def cpu_stat() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of this machine since boot, summed over
    its CPUs: time spent running anything, and time a CPU had work to run
    but the hypervisor ran something else."""
    with open("/proc/stat") as fh:
        user, nice, system, _, _, irq, softirq, steal = map(int, fh.readline().split()[1:9])
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK


def unstolen(wall_s: float, cpu0: tuple[float, float]) -> float:
    """``wall_s`` with the hypervisor's steal since ``cpu0`` taken out:
    scaled by the share of the machine's runnable CPU time that it was
    given. Equal to ``wall_s`` on a host that steals nothing."""
    busy, steal = (b - a for a, b in zip(cpu0, cpu_stat()))
    return wall_s * busy / (busy + steal) if busy + steal > 0 else wall_s


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK


class RssSampler:
    """Samples the RSS of this process tree (client, JVM, pyspark workers)
    in a background thread while started; ``peak_mb`` is the highest sum
    seen."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        table = _proc_table()
        pages = 0
        for pid in _descendants(table, os.getpid()):
            ppid, comm, _, _, rss, vsize = table[pid]
            parent = table.get(ppid)
            # A child that still shares its parent's address space (vfork
            # before exec, or a fork that has not mapped anything yet)
            # repeats the parent's RSS; count that memory once.
            if parent is not None and parent[1] == comm and parent[5] == vsize:
                continue
            pages += rss
        self.peak_mb = max(self.peak_mb, pages * _PAGE / _MB)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> RssSampler:
        self._stop.clear()
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


# ------------------------------------------------------------ streaming


class _ProgressListener(StreamingQueryListener):
    """Collects every trigger's progress; callbacks arrive on the py4j
    callback thread."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.events: list[dict] = []
        self.started = 0
        self.terminated = 0

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        row = {
            "query": str(p.id),
            "input_rows": int(p.numInputRows),
            "duration": {k: int(v) for k, v in (p.durationMs or {}).items()},
            "state_rows": sum(int(o.numRowsTotal) for o in ops),
            "state_bytes": sum(int(o.memoryUsedBytes) for o in ops),
            "state_commit_ms": sum(int(o.commitTimeMs) for o in ops),
        }
        with self.lock:
            self.events.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.terminated += 1

    def take(self, timeout_s: float = 10.0) -> list[dict]:
        """Wait until every started query has reported its termination
        (its progress events come first on the listener bus), then return
        and clear the collected events."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self.lock:
                if self.terminated >= self.started:
                    break
            time.sleep(0.02)
        with self.lock:
            events, self.events = self.events, []
            return events


def streaming_metrics(events: list[dict]) -> dict[str, float]:
    trig = [e["duration"].get("triggerExecution", 0) for e in events]
    last: dict[str, dict] = {}
    for e in events:
        last[e["query"]] = e

    def total(key: str) -> float:
        return float(sum(e["duration"].get(key, 0) for e in events))

    return {
        "streaming.triggers": float(len(events)),
        "streaming.trigger_ms_p50": float(statistics.median(trig)) if trig else 0.0,
        "streaming.trigger_ms_max": float(max(trig, default=0)),
        "streaming.add_batch_ms": total("addBatch"),
        "streaming.planning_ms": total("queryPlanning"),
        "streaming.wal_commit_ms": total("walCommit"),
        "streaming.latest_offset_ms": total("latestOffset"),
        "streaming.input_rows": float(sum(e["input_rows"] for e in events)),
        "streaming.state_rows": float(sum(e["state_rows"] for e in last.values())),
        "streaming.state_mb": sum(e["state_bytes"] for e in last.values()) / _MB,
        "streaming.state_commit_ms": float(sum(e["state_commit_ms"] for e in events)),
    }


# --------------------------------------------------------------- tracer


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


class Tracer:
    """Charges Spark jobs, stages, storage and stream progress to calls.

    A call owns every job submitted while it ran (micro-batch jobs run in
    the stream's own job group, so the caller's group alone would miss
    them); ``jobs_outside_group`` counts those. Stages are counted once,
    by id, the first time a job of a call lists them as run.
    """

    def __init__(self, spark) -> None:
        from streamprocessing_spark import engine

        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.last_job = -1
        self._new_jobs()  # jobs that ran before tracing belong to no call
        self.seen_stages: set[int] = set()
        self.listener = _ProgressListener()
        spark.streams.addListener(self.listener)
        self._engine = engine
        self._orig_run = engine.RainStormJob.run
        self.job_runs = [0]
        orig, runs = self._orig_run, self.job_runs

        def run(job, records):
            runs[0] += 1
            return orig(job, records)

        engine.RainStormJob.run = run

    def close(self) -> None:
        self._engine.RainStormJob.run = self._orig_run
        self.spark.streams.removeListener(self.listener)

    def _new_jobs(self) -> list:
        jobs = self.store.jobsList(None)
        new = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() > self.last_job:
                new.append(j)
        if new:
            self.last_job = max(j.jobId() for j in new)
        return new

    def _skew(self, stage) -> float:
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.store.taskSummary(stage.stageId(), stage.attemptId(), q)
        if not summary.isDefined():
            return 1.0
        read = summary.get().shuffleReadMetrics().readBytes()
        med, top = read.apply(0), read.apply(1)
        return top / med if med > 0 else 1.0

    def views(self) -> set[str]:
        names = {
            t.name for t in self.spark.catalog.listTables() if t.name.startswith("graft_sv_")
        }
        self._new_jobs()  # listing the catalog runs jobs; charge them to no call
        return names

    def storage(self) -> tuple[float, int, float]:
        """(shared-view MB, other live cached RDDs, their MB)."""
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        view_rdds = set()
        for name in self.views():
            cached = cm.lookupCachedData(self.spark.table(name)._jdf)
            if cached.isDefined():
                builder = cached.get().cachedRepresentation().cacheBuilder()
                view_rdds.add(builder.cachedColumnBuffers().id())
        view_b, live_n, live_b = 0, 0, 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            size = info.memSize() + info.diskSize()
            if info.id() in view_rdds:
                view_b += size
            elif size > 0:
                live_n += 1
                live_b += size
        self._new_jobs()
        return view_b / _MB, live_n, live_b / _MB

    def call_record(self, group: str, wall_s: float) -> dict:
        """Counters for the jobs submitted since the previous record."""
        rec = dict.fromkeys(
            (
                "jobs", "jobs_outside_group", "stages", "tasks", "tasks_failed",
                "run_s", "cpu_s", "gc_s", "read_b", "write_b", "spill_b",
            ),
            0,
        )
        rec["skew"] = 1.0
        spans = []
        for job in self._new_jobs():
            rec["jobs"] += 1
            grp = job.jobGroup()
            if not (grp.isDefined() and grp.get() == group):
                rec["jobs_outside_group"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in self.seen_stages:
                    continue
                st = self.store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                self.seen_stages.add(sid)
                rec["stages"] += 1
                rec["tasks"] += st.numTasks()
                rec["tasks_failed"] += st.numFailedTasks()
                rec["run_s"] += st.executorRunTime() / 1000.0
                rec["cpu_s"] += st.executorCpuTime() / 1e9
                rec["gc_s"] += st.jvmGcTime() / 1000.0
                rec["read_b"] += st.shuffleReadBytes()
                rec["write_b"] += st.shuffleWriteBytes()
                rec["spill_b"] += st.diskBytesSpilled()
                if st.shuffleReadBytes() > 0 and st.numTasks() > 1:
                    rec["skew"] = max(rec["skew"], self._skew(st))
                a, b = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
                if a is not None and b is not None:
                    spans.append((a, b))
        rec["busy_s"] = _union_s(spans)
        rec["gap_s"] = max(wall_s - rec["busy_s"], 0.0)
        events = self.listener.take()
        rec["triggers"] = len(events)
        rec["stream_rows"] = sum(e["input_rows"] for e in events)
        rec["events"] = events
        return rec


# Counters that must repeat exactly between two passes of the same code.
WORK_COUNTERS = ("jobs", "stages", "tasks", "read_b", "write_b", "triggers", "stream_rows")


def pass_metrics(records: dict[str, dict], cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass from its per-call records."""

    def total(key: str) -> float:
        return float(sum(r[key] for r in records.values()))

    busy = total("busy_s")
    run_s = total("run_s")
    events = [e for r in records.values() for e in r["events"]]
    out = {
        "jvm.run_s": run_s,
        "jvm.cpu_s": total("cpu_s"),
        "jvm.gc_s": total("gc_s"),
        "exec.slot_util": run_s / (busy * cores) if busy > 0 else 0.0,
        "queries.jobs": total("jobs"),
        "queries.jobs_outside_group": total("jobs_outside_group"),
        "queries.stages": total("stages"),
        "queries.tasks": total("tasks"),
        "queries.stage_busy_s": busy,
        "queries.driver_gap_s": total("gap_s"),
        "queries.tasks_failed": total("tasks_failed"),
        "shuffle.read_mb": total("read_b") / _MB,
        "shuffle.write_mb": total("write_b") / _MB,
        "shuffle.spill_mb": total("spill_b") / _MB,
        "shuffle.skew": max((r["skew"] for r in records.values()), default=1.0),
    }
    out.update(streaming_metrics(events))
    return out
