"""Custom Python Data Source: byte-offset-keyed line scan.

The reference's source operator reads a DFS file line-by-line and keys
each record ``<srcFile>:<lineNumber>`` (rainstorm/server.go:411-448,
key minted at server.go:439). Line NUMBERS require a serial scan — the
reference pays that because one task reads the whole file. The scale
form (SURVEY.md §7.4 "deterministic source keys at scale") keys each
line by its BYTE OFFSET instead: offsets are stable identifiers that
any byte-range split can compute locally, so a 100 TB text corpus scans
fully parallel with no coordination.

This module implements that source as a Spark 4 Python Data Source
(``pyspark.sql.datasource``) named ``offset_lines``:

- ``partitions()`` carves the file into N byte ranges;
- each range reader applies the classic Hadoop LineRecordReader split
  contract: a range ``[s, e)`` owns exactly the lines whose first byte
  lies in ``[s, e)``; for ``s > 0`` it seeks to ``s-1`` and discards
  one ``readline()`` — if byte ``s-1`` is a newline that discard
  consumes just the separator (a line starting exactly at ``s`` is
  kept), otherwise it consumes the partial line owned by the previous
  range; the tail line of a range is read PAST ``e`` (the next range
  discards it). Every line is therefore emitted exactly once, proven
  by the numPartitions-invariance test and by the DuckDB oracle (a
  window cumulative sum of octet lengths reconstructs every offset).

A streaming twin (``simpleStreamReader``) replays the same file a
bounded number of lines per micro-batch with the byte offset as the
stream offset — the reference's line-replay stream (server.go:434-441)
with Structured Streaming's offset-tracking/recovery contract instead
of an ad-hoc WAL.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from streamprocessing_spark.shipping import guard_zip_caches

SCHEMA = "byte_offset bigint, line string"


class ByteRange(InputPartition):
    def __init__(self, path: str, start: int, end: int) -> None:
        self.path = path
        self.start = start
        self.end = end


def read_lines_in_range(path: str, start: int, end: int) -> Iterator[tuple[int, str]]:
    """Yield (byte_offset, line) for every line whose first byte lies in
    [start, end). Pure function so the split contract is unit-testable
    without Spark."""
    with open(path, "rb") as f:
        if start == 0:
            pos = 0
        else:
            f.seek(start - 1)
            junk = f.readline()  # separator alone iff s-1 was a newline
            pos = start - 1 + len(junk)
        while pos < end:
            raw = f.readline()
            if not raw:
                break
            yield pos, raw.rstrip(b"\n").decode("utf-8")
            pos += len(raw)


def plan_ranges(path: str, n: int) -> list[tuple[int, int]]:
    size = os.path.getsize(path)
    n = max(1, n)
    step = max(1, (size + n - 1) // n)
    ranges = [(i * step, min(size, (i + 1) * step)) for i in range(n) if i * step < size]
    return ranges or [(0, 0)]


class OffsetLinesReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options["path"]
        self.n = int(options.get("numPartitions", "8"))

    def partitions(self) -> Sequence[InputPartition]:
        return [ByteRange(self.path, s, e) for s, e in plan_ranges(self.path, self.n)]

    def read(self, partition: ByteRange) -> Iterator[tuple[int, str]]:
        guard_zip_caches()
        return read_lines_in_range(partition.path, partition.start, partition.end)


class OffsetLinesStreamReader(SimpleDataSourceStreamReader):
    """Bounded line replay: each micro-batch serves up to
    ``maxLinesPerBatch`` lines starting at the committed byte offset.
    Offsets are byte positions, so ``readBetweenOffsets`` (crash replay)
    re-serves exactly the same rows — deterministic replay is what makes
    checkpoint recovery exactly-once."""

    def __init__(self, options: dict) -> None:
        self.path = options["path"]
        self.batch_lines = int(options.get("maxLinesPerBatch", "100"))

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple[int, str]], dict]:
        guard_zip_caches()
        size = os.path.getsize(self.path)
        rows: list[tuple[int, str]] = []
        pos = start["pos"]
        for off, line in read_lines_in_range(self.path, pos, size):
            rows.append((off, line))
            if len(rows) >= self.batch_lines:
                break
        nxt = (rows[-1][0] + len(rows[-1][1].encode()) + 1) if rows else pos
        return iter(rows), {"pos": nxt}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple[int, str]]:
        guard_zip_caches()
        return read_lines_in_range(self.path, start["pos"], end["pos"])


class OffsetLinesDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "offset_lines"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return OffsetLinesReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return OffsetLinesStreamReader(self.options)


def register_offset_lines(spark) -> None:
    """Idempotent registration of the offset_lines format."""
    from streamprocessing_spark.shipping import ensure_shippable

    ensure_shippable()
    spark.dataSource.register(OffsetLinesDataSource)
