"""Custom Python Data Source WRITER: exactly-once keyed-line file sink.

The reference's sink operator appends ``<key>\\t<value>`` lines to a
HyDFS file and mirrors them to the console, flushing every 500 ms
(rainstorm/server.go:468-515; SURVEY.md §2.1 O10). Its exactly-once
story is a dedup set + WAL; Spark's native story for a FILE sink is the
two-phase task-commit protocol — each task writes a private temp file,
only the driver-side ``commit()`` publishes them, and a failed/retried
attempt's orphan is swept by ``abort()`` or ignored at publish time.

This module re-expresses the sink as a Spark 4 Python Data Source
writer (``format("keyed_lines")``): a minimal but REAL implementation
of that protocol —

- ``write(iterator)`` streams rows to ``<dir>/.tmp-<uuid>`` and returns
  the temp name + row count as its commit message (never touching the
  published namespace);
- ``commit(messages)`` renames exactly the temp files named in commit
  messages to ``part-<job-token>-<i>.txt`` (rename is the atomic
  publish; the per-job token keeps successive append jobs into the same
  directory from clobbering each other's parts; a retried
  task's SECOND attempt produces a second temp file, but only the
  attempt whose message Spark delivers gets published — the same
  "commit messages are the source of truth" contract FileCommitProtocol
  uses);
- ``abort(messages)`` deletes any temp litter.

The reference's console mirror is deliberately NOT reproduced (a
driver-side print is an anti-pattern at scale); the 500 ms flush cadence
belongs to the streaming trigger, not the sink. Exactly-once under task
retry is proven in tests/test_python_datasource.py by injecting a
first-attempt failure and counting published rows.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    WriterCommitMessage,
)

from streamprocessing_spark.shipping import guard_zip_caches


class _Committed(WriterCommitMessage):
    def __init__(self, tmp_name: str, n_rows: int) -> None:
        self.tmp_name = tmp_name
        self.n_rows = n_rows


class KeyedLinesWriter(DataSourceArrowWriter):
    def __init__(self, path: str, fail_first_attempt: bool) -> None:
        self.path = path
        self.fail_first_attempt = fail_first_attempt
        # Per-job token baked into published part names so a second
        # .mode("append").save() into the same directory can never
        # os.replace() over a previous job's parts (append semantics:
        # publishes accumulate across jobs, they don't overwrite).
        self.job_token = uuid.uuid4().hex[:12]

    def write(self, iterator: Iterator) -> _Committed:
        guard_zip_caches()
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if (
            self.fail_first_attempt
            and ctx is not None
            and ctx.partitionId() == 0
            and ctx.attemptNumber() == 0
        ):
            # fault-injection hook (tests only): the first attempt of
            # partition 0 dies AFTER writing temp litter — the retry
            # must be the only attempt that publishes
            tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write("LITTER\tnever-published\n")
            raise RuntimeError("injected first-attempt failure")
        tmp_name = f".tmp-{uuid.uuid4().hex}"
        n = 0
        # Arrow writer (round 10, guide §4): rows previously crossed the
        # JVM→Python boundary one pickled Row at a time and were
        # formatted with a per-row f-string; RecordBatches cross as
        # columnar buffers and the tab-join runs in Arrow's C kernel.
        # Same bytes on disk: cast-to-string of a string column is the
        # identity, and the sink's contract is two string columns.
        import pyarrow as pa
        import pyarrow.compute as pc

        with open(os.path.join(self.path, tmp_name), "w", encoding="utf-8") as fh:
            for batch in iterator:
                if batch.num_rows == 0:
                    continue
                k = pc.cast(batch.column(0), pa.string())
                v = pc.cast(batch.column(1), pa.string())
                lines = pc.binary_join_element_wise(k, v, "\t")
                fh.write("\n".join(lines.to_pylist()))
                fh.write("\n")
                n += batch.num_rows
        return _Committed(tmp_name, n)

    def commit(self, messages) -> None:
        published = 0
        for m in messages:
            if m is None:
                continue
            src = os.path.join(self.path, m.tmp_name)
            dst = os.path.join(
                self.path, f"part-{self.job_token}-{published:05d}.txt"
            )
            if os.path.exists(dst):  # uuid collision — refuse to clobber
                raise FileExistsError(dst)
            os.replace(src, dst)  # atomic publish
            published += 1
        # sweep litter from failed attempts — their temp names are in no
        # commit message, so they can never have been published
        for name in os.listdir(self.path):
            if name.startswith(".tmp-"):
                os.remove(os.path.join(self.path, name))

    def abort(self, messages) -> None:
        for name in os.listdir(self.path):
            if name.startswith(".tmp-"):
                os.remove(os.path.join(self.path, name))


class KeyedLinesSink(DataSource):
    """``spark.createDataFrame(...).write.format("keyed_lines")
    .option("path", dir).mode("append").save()`` — two string-able
    columns (key, value) to tab-separated published part files."""

    @classmethod
    def name(cls) -> str:
        return "keyed_lines"

    def writer(self, schema, overwrite: bool) -> KeyedLinesWriter:
        path = self.options["path"]
        os.makedirs(path, exist_ok=True)
        fail = str(self.options.get("failfirstattempt", "")).lower() == "true"
        return KeyedLinesWriter(path, fail)


def register_sink(spark) -> None:
    spark.dataSource.register(KeyedLinesSink)
