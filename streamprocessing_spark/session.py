"""SparkSession factory with scale-oriented defaults.

Tuned for the driver's local[32] harness but written for a real cluster:
AQE on (runtime coalescing + skew-join splitting), partition counts sized
from cores, Arrow enabled for the few Pandas-UDF paths, UTC session time
so timestamp semantics match the (naive-timestamp) parquet test data.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark import SparkConf
from pyspark.sql import SparkSession

# The Python worker daemon (``_daemon/graft_daemon.py``) and its directory.
# The directory has no ``__init__.py``: on the workers' path it exposes that
# one module, never this package, which workers must not import (ensure_shippable).
DAEMON_DIR = str(Path(__file__).resolve().parent / "_daemon")
DAEMON_MODULE = "graft_daemon"


def _cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        return 32


def scratch_root() -> str:
    """Root of every non-/tmp scratch file: ``$SPARK_GRAFT_LOCAL_DIR``,
    else ``<repo>/.spark-local``. Read at call time, and never from
    ``spark.local.dir``: a caller's own session may not set it."""
    return os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR",
        str(Path(__file__).resolve().parent.parent / ".spark-local"),
    )


def worker_daemon_confs(master: str, executor_path: str | None = None) -> dict[str, str]:
    """The confs that start ``master``'s Python workers on bytecode-cached
    pyspark: none unless ``master`` is local.

    Spark puts ``pyspark.zip`` first on a worker's path, and the zip holds
    no bytecode, so every daemon launch (each session's first Python task)
    compiles pyspark from source: ~0.8 s against ~0.2 s from an installed
    pyspark. ``graft_daemon`` moves the zips behind an installed pyspark
    of the same build, then runs the stock daemon. A local master's
    workers run on this machine, next to this checkout; a cluster's
    executors need not hold it, so they keep Spark's daemon (SCALE.md says
    how an executor image avoids the same cost). ``executor_path`` is any
    ``spark.executorEnv.PYTHONPATH`` already set; it stays behind the
    daemon's directory.
    """
    if not master.startswith("local"):
        return {}
    kept = [p for p in (executor_path or "").split(os.pathsep) if p and p != DAEMON_DIR]
    return {
        "spark.python.daemon.module": DAEMON_MODULE,
        "spark.executorEnv.PYTHONPATH": os.pathsep.join([DAEMON_DIR, *kept]),
    }


def codegen_compilations(spark: SparkSession) -> int:
    """Generated-code classes this JVM has compiled so far (Spark's
    ``CodegenMetrics``). A delta of 0 over a repeated pass means the
    codegen cache held the pass; a pass's first run counts its classes."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(app_name: str = "streamprocessing-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster, drop ``master`` and submit with spark-submit; every
    other setting below is cluster-safe:

    - ``spark.sql.adaptive.*``: AQE re-plans at runtime — coalesces tiny
      post-shuffle partitions and splits skewed ones, which is exactly what
      a 100 TB join with hot keys needs.
    - ``spark.sql.shuffle.partitions``: a static floor; AQE coalesces down
      from it. At cluster scale this should be ~2-3x total cores.
    - Arrow: vectorized Python<->JVM transfer for the Pandas-UDF operators
      (similarity search, multimodal decode) — the only places we leave the
      JVM.
    - ``spark.sql.codegen.cache.maxEntries``: compiled generated-code
      classes are cached for a whole pass's working set, so a repeated
      loop round or pass recompiles nothing. The conf is static and read
      once per JVM, when codegen first runs: it takes effect only if this
      is the JVM's first session. A JVM that first ran someone else's
      session (e.g. the driver's vanilla one) keeps Spark's 100 entries;
      a cluster sets it in ``spark-defaults.conf``.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.default.parallelism", str(max(cpus, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Legacy testdata generations wrote events.ts as TIMESTAMP(NANOS);
        # this conf makes those read as long (rebuilt into a micros
        # timestamp by sources.readers.normalize_timestamps). Current
        # generations write micros NTZ and ignore it.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # broadcast builds are collected THROUGH the driver and count
        # against maxResultSize (default 1g): a join side that AQE sizes
        # at ~100 MB on disk can serialize past 1 GB row-form, killing
        # the job even though the driver heap would hold it. 0 = bounded
        # by driver memory alone, the setting a real cluster uses when
        # the driver is sized for its broadcasts.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"),
        )
        # shuffle/blockmgr scratch OUT of /tmp: the harness box reaps /tmp
        # mid-run (observed twice: shuffle_*.data FileNotFound cascades
        # killing multi-minute jobs). A real cluster sets SPARK_LOCAL_DIRS
        # to provisioned scratch disks for the same reason.
        .config("spark.local.dir", scratch_root())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Every loop round and every pass re-plans the same operators, and
        # a plan's generated Java is recompiled (Janino, 8-11 ms a class)
        # unless Spark's JVM-wide LRU of compiled classes still holds it.
        # That LRU holds 100 by default, and a cyclic working set larger
        # than an LRU misses on almost every lookup. Measured per pass
        # (CodegenMetrics, 4 vCPUs): graph_iterative generates 122 classes
        # and recompiled 92-101 of them every warm pass (0 at 4096);
        # rainstorm_apps generates 33 (fits either way); the 176-query
        # bench headline at sf0.01 generates 2,736 and recompiled 4,205
        # (106 at 4096). Static, so see the docstring for who it reaches.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # ContextCleaner only reclaims dead localCheckpoint/persist
        # blocks after a JVM GC, and its default periodic GC is 30min —
        # longer than a whole multi-query session here, so dead blocks
        # accumulate (measured: one ~26 MB shingle checkpoint per pair
        # build). 5min bounds the leak for long sessions; bench.py
        # additionally pulses between timed queries.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # Streaming checkpoints (offsets, commits, state deltas) commit by
        # write-temp-then-rename. The default FileContext manager stats
        # each rename's paths through getFileLinkStatus, which without
        # libhadoop forks a `readlink` per call (236 process launches per
        # rainstorm_streaming_app2 replay, 60 with this manager). This one
        # renames with FileSystem.rename: rename(2) locally, an atomic
        # NameNode rename on HDFS. Trade-off: its no-overwrite rename is
        # check-then-rename, so a second writer racing on one checkpoint
        # file is not caught atomically (Spark already forbids two active
        # runs of one checkpoint). On object stores neither manager's
        # rename is atomic.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    if master is None and not os.environ.get("SPARK_MASTER"):
        # local[n, 2]: allow one task retry, like a real cluster
        # (spark.task.maxFailures defaults to 4 there but 1 in plain
        # local mode) — required for the mid-run failure-injection tests
        # (the RainStormWithFail analogue) and generally truer to the
        # deployment the engine targets.
        master = f"local[{cpus},2]"
    if master is not None:
        builder = builder.master(master)
        # Local workers start on bytecode-cached pyspark (worker_daemon_confs);
        # a master chosen outside (SPARK_MASTER) keeps Spark's daemon.
        # SparkConf() holds what a running JVM was launched with, so a
        # PYTHONPATH set there is kept; with no JVM yet it is empty.
        existing = SparkConf().get("spark.executorEnv.PYTHONPATH")
        for key, value in worker_daemon_confs(master, existing).items():
            builder = builder.config(key, value)
    return builder.getOrCreate()
