"""RainStorm-compatible job facade: job spec → DataFrame graph.

The reference submits jobs as
``RainStorm <op1_exe> <op2_exe> <src> <dest> <num_tasks> [pattern]``
(main.go:206-222) where each op is an external executable forked once per
record; the framework classifies each invocation's stdout to pick the
operator semantics (rainstorm/server.go:334-361):

    0 lines  → record filtered out
    1 line   → stateful count: state[line] += 1, emit (line, count)
    ≥2 lines → flatMap: consecutive line pairs become (key, value) records

This module is the Spark-first re-expression. A job is two pluggable ops
over a keyed string-record DataFrame (columns ``key``, ``value`` — the
reference's Record model, rainstorm/types.go:53-57). Ops come in two
flavors:

- ``NativeOp``: a declarative DataFrame→DataFrame transform — the fast
  path; Catalyst optimizes through it (predicate pushdown, codegen).
- ``PluginOp``: an arbitrary Python callable ``(key, value, pattern) →
  None | str | list[(key, value)]`` mirroring the stdout contract
  (None=filtered, str=count-key, list=flatMap). Executed over Arrow
  batches via mapInPandas — one Python invocation per ~batch instead of
  the reference's fork/exec per record (SURVEY.md §4.2: ~10^4× cheaper).
  A single op may mix return kinds per record, exactly like the
  reference; count-keyed records are aggregated and re-emitted as
  (key, running-total-as-string) records.

Everything the reference's engine did besides the ops — task placement,
per-record RPC + ack + retry, WAL, dedup, failure recovery
(server.go:186-408) — is deliberately absent: Spark's scheduler, shuffle
and (in streaming) checkpointed state store provide those guarantees.
"""

from __future__ import annotations

import csv
import functools
import io
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from streamprocessing_spark.shipping import ensure_shippable, guard_zip_caches

PluginFn = Callable[[str, str, str | None], None | str | list[tuple[str, str]]]
# Vectorized plugin: whole pandas batch in, tagged batch out
# (columns kind/key/value, kind ∈ {"emit", "count"}).
BatchPluginFn = Callable[[pd.DataFrame, "str | None"], pd.DataFrame]

RECORD_SCHEMA = StructType(
    [StructField("key", StringType()), StructField("value", StringType())]
)
_TAGGED_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField("key", StringType()),
        StructField("value", StringType()),
    ]
)


@dataclass(frozen=True)
class NativeOp:
    """Declarative operator: any DataFrame→DataFrame transform over the
    (key, value) record model. Preferred whenever the op is expressible —
    stays inside whole-stage codegen."""

    transform: Callable[[DataFrame, str | None], DataFrame]

    def apply(self, records: DataFrame, pattern: str | None) -> DataFrame:
        return self.transform(records, pattern)


@dataclass(frozen=True)
class PluginOp:
    """Arbitrary-code operator under the reference's stdout contract.

    ``contract`` statically narrows the op's output kind:
    - "mixed" (default): records may be emits or counts — the general
      batch contract; the output unions both branches.
    - "emit": the op never returns count records → output is the emit
      stream only. Required for streaming append mode.
    - "count": the op only returns count keys → output is the keyed
      aggregate only. Required for streaming: the mixed union of an
      aggregate with a stateless branch trips Spark's global-watermark
      correctness checker (and genuinely mixes append/update semantics).
    The reference never needed the distinction because its sink printed
    whatever arrived; Spark's sink modes make the contract explicit.
    """

    fn: PluginFn
    contract: str = "mixed"

    def apply(self, records: DataFrame, pattern: str | None) -> DataFrame:
        ensure_shippable()
        fn = self.fn

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            guard_zip_caches()
            for pdf in batches:
                kinds: list[str] = []
                keys: list[str] = []
                vals: list[str] = []
                # tolist(): plain-list iteration is ~2× faster than
                # iterating pandas Series in this per-record hot loop
                for k, v in zip(pdf["key"].tolist(), pdf["value"].tolist()):
                    r = fn(k, v, pattern)
                    if r is None:
                        continue
                    if isinstance(r, str):
                        kinds.append("count")
                        keys.append(r)
                        vals.append("")
                    else:
                        for nk, nv in r:
                            kinds.append("emit")
                            keys.append(nk)
                            vals.append(nv)
                yield pd.DataFrame({"kind": kinds, "key": keys, "value": vals})

        tagged = records.mapInPandas(kernel, _TAGGED_SCHEMA)
        return _collapse_tagged(tagged, self.contract)


class _PluginCacheRegistry:
    """Mixed-contract tagged caches awaiting eviction, oldest first. The
    cache must outlive _collapse_tagged (the returned union is lazy — the
    caller materializes it later), so eviction is deferred: a long-lived
    session calls release_plugin_caches() between jobs, and the registry
    is bounded so even a caller that never releases pins at most a few
    jobs' worth of partitions.

    The registry is strictly driver-side state: it pickles as EMPTY
    (__reduce__), because this module ships by value to executors
    (shipping.ensure_shippable) and cached DataFrames hold a
    SparkContext, which must never ride along in a serialized task."""

    KEEP = 4  # jobs' caches kept live before oldest-first eviction

    def __init__(self, keep: int | None = None) -> None:
        self.dfs: list[DataFrame] = []
        if keep is not None:
            self.KEEP = keep

    def __reduce__(self):
        # preserve the instance's KEEP bound (ADVICE r09): reconstructing
        # with no args would silently reset _QUERY_CACHES to KEEP=4,
        # reintroducing the mid-flight eviction its keep=16 prevents —
        # only the cached DataFrames themselves must not ride along
        return (_PluginCacheRegistry, (self.KEEP,))

    def add(self, df: DataFrame) -> None:
        self.dfs.append(df)
        while len(self.dfs) > self.KEEP:
            old = self.dfs.pop(0)
            try:
                old.unpersist(False)
            except Exception:  # noqa: BLE001
                pass

    def release(self, blocking: bool = False) -> int:
        n = 0
        while self.dfs:
            df = self.dfs.pop()
            try:
                df.unpersist(blocking)
            except Exception:  # noqa: BLE001 - a stopped session has nothing to release
                pass
            n += 1
        return n


_PLUGIN_CACHES = _PluginCacheRegistry()

# Query-level persists live in their OWN registry (ADVICE r08):
# t_closeness_audit registers two intermediates, and sharing the
# plugin registry's KEEP=4 meant interleaved plugin ops could evict
# cust/scored before all their consumers ran — correct (deterministic
# recompute) but silently reintroducing the exact multi-consumer
# rebuild tracked_persist exists to avoid. A separate bound keeps the
# two lifetimes independent; KEEP=16 comfortably covers the deepest
# query (2 intermediates) times a bench session's interleaving.
_QUERY_CACHES = _PluginCacheRegistry(keep=16)


def release_plugin_caches(blocking: bool = False) -> int:
    """Unpersist every tagged cache left by mixed-contract plugin runs
    AND query-level tracked persists; returns how many were released.
    Safe at any time: an unpersisted result that is re-collected later
    just recomputes (correct for the deterministic ops this engine
    ships; a non-deterministic user fn should be released only after
    its output is materialized)."""
    return _PLUGIN_CACHES.release(blocking) + _QUERY_CACHES.release(blocking)


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() a multi-consumer intermediate and register it for the
    session's bounded eviction (release_plugin_caches / KEEP oldest-first,
    in a query-level registry separate from plugin caches so interleaved
    plugin ops can't evict a query's intermediates mid-flight).
    Preferred over eager localCheckpoint for small intermediates: persist
    is lazy (the first consumer's job pipelines the build instead of
    paying a blocking materialization up front) and measured ~2× faster
    with far less variance on a busy session (t_closeness_audit r07
    regression post-mortem). Recompute-after-eviction is correct for the
    deterministic queries this engine ships."""
    df = df.persist()
    _QUERY_CACHES.add(df)
    return df


def _collapse_tagged(tagged: DataFrame, contract: str = "mixed") -> DataFrame:
    """Tagged (kind, key, value) stream → the op's output records:
    'emit' rows pass through, 'count' rows aggregate to
    (key, total-as-string) — the framework half of the stdout contract
    (server.go:334-361). A static 'emit'/'count' contract drops the
    other branch entirely (see PluginOp.contract)."""
    if contract == "emit":
        return tagged.where(F.col("kind") == "emit").select("key", "value")
    if contract == "count":
        return (
            tagged.where(F.col("kind") == "count")
            .groupBy("key")
            .agg(F.count(F.lit(1)).cast("string").alias("value"))
        )
    # Both union branches consume `tagged`; without a persist each
    # branch re-executes the Python kernel over the full input (2× per
    # op, 4× for two chained PluginOps), and a non-deterministic user
    # fn could split records inconsistently between the branches.
    # Batch: persist the tagged output once; eviction is deferred via
    # _register_plugin_cache (the union is lazy). Streaming: persist is
    # not applicable — each micro-batch is evaluated once per sink anyway.
    if not tagged.isStreaming:
        tagged = tagged.persist()
        _PLUGIN_CACHES.add(tagged)
    emits = tagged.where(F.col("kind") == "emit").select("key", "value")
    counts = (
        tagged.where(F.col("kind") == "count")
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("string").alias("value"))
    )
    # Either side may be empty; the union keeps the mixed-contract
    # semantics of the reference framework.
    return emits.unionByName(counts)


_EMPTY_TAGGED = {
    "kind": pd.Series([], dtype=str),
    "key": pd.Series([], dtype=str),
    "value": pd.Series([], dtype=str),
}


@dataclass(frozen=True)
class BatchPluginOp:
    """Arrow-vectorized plugin: the op consumes a whole pandas batch of
    (key, value) records and returns a tagged (kind, key, value) batch —
    same contract semantics as PluginOp, minus the per-record Python loop.

    This is the translation layer for plugin shapes that ARE vectorizable
    (regex filters, CSV projections, passthrough counts): the hot loop
    becomes pandas column ops over Arrow batches while the RainStormJob
    facade, count aggregation, and mixed-contract union stay identical.
    Measured ~1.2× end-to-end at sf0.1 (150k rows, 4-core box, median
    of 5: 0.99 s vectorized vs 1.17 s plugin for App-2 — fixed job
    overhead dominates there); the eliminated cost is the per-record
    Python loop, which grows linearly with rows while the batch ops stay vectorized,
    so the gap widens with scale (bench pair: rainstorm_vectorized_app2
    vs rainstorm_plugin_app2)."""

    fn: BatchPluginFn
    contract: str = "mixed"  # same semantics as PluginOp.contract

    def apply(self, records: DataFrame, pattern: str | None) -> DataFrame:
        ensure_shippable()
        fn = self.fn

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            guard_zip_caches()
            for pdf in batches:
                out = fn(pdf, pattern)
                yield out[["kind", "key", "value"]]

        return _collapse_tagged(records.mapInPandas(kernel, _TAGGED_SCHEMA), self.contract)


def exec_op_record(exe: str, key: str, value: str, pattern: str | None):
    """Invoke one op executable for one record and classify its stdout
    under the reference contract (server.go:320-361): None = filtered,
    str = count key, list of (key, value) pairs = flatMap output. The
    single shared implementation behind ExecOp and the CLI's chaos
    wrapper — the contract must not fork."""
    import subprocess

    argv = [exe, key, value]
    if pattern is not None:
        argv.append(pattern)
    proc = subprocess.run(argv, capture_output=True, text=True)
    if proc.returncode != 0:
        # fail the task (Spark retries it) rather than silently dropping
        # the record — the reference logs and skips (server.go:327-331),
        # but a crashing op is a bug we surface
        raise RuntimeError(f"op {exe!r} exited {proc.returncode}: {proc.stderr[:500]}")
    lines = proc.stdout.splitlines()
    if not lines:
        return None
    if len(lines) == 1:
        return lines[0]
    return [(lines[i], lines[i + 1]) for i in range(0, len(lines) - 1, 2)]


@dataclass(frozen=True)
class ExecOp:
    """The reference's LITERAL operator contract: an external executable
    invoked as ``<exe> <key> <value> [pattern]`` once per record
    (rainstorm/server.go:320-331), its stdout classified by line count
    (server.go:334-361):

        0 lines  → record filtered out
        1 line   → count path: the framework counts that line as a key
        ≥2 lines → consecutive line pairs become (key, value) records

    This is the compatibility adapter for binary-only user ops — an
    existing op executable runs unchanged. It is deliberately the SLOW
    path: fork/exec per record costs ~10^4× more than an Arrow batch
    (SURVEY.md §4.2), which is why PluginOp (Python callable) and
    BatchPluginOp (vectorized) are the recommended surfaces; ExecOp
    exists so reference parity includes the argv contract itself.
    Forks happen executor-side inside mapInPandas partitions, so the
    cost parallelizes across cores/executors and nothing flows through
    the driver."""

    exe: str
    contract: str = "mixed"

    def apply(self, records: DataFrame, pattern: str | None) -> DataFrame:
        # the per-record contract lives in PluginOp's kernel alone
        return PluginOp(functools.partial(exec_op_record, self.exe), self.contract).apply(
            records, pattern
        )


Op = NativeOp | PluginOp | BatchPluginOp | ExecOp


@dataclass(frozen=True)
class RainStormJob:
    """The reference's job spec (rainstorm/types.go:8-25) minus placement:
    two ops, an optional pattern, and an optional inter-stage partition
    count.

    ``num_tasks`` mirrors ``Hash(key) % NumTasks`` routing
    (server.go:376-408). Leave it None in practice: an explicit
    repartition between stages is only worth its shuffle when the
    downstream op needs co-location; AQE picks partition counts
    otherwise.
    """

    op1: Op
    op2: Op
    pattern: str | None = None
    num_tasks: int | None = None

    def run(self, records: DataFrame) -> DataFrame:
        """records (key, value) → op1 → [repartition] → op2."""
        out = self.op1.apply(records, self.pattern)
        if self.num_tasks is not None:
            out = out.repartition(self.num_tasks, F.col("key"))
        return self.op2.apply(out, self.pattern)


# ---------------------------------------------------------------------------
# The four shipped operator executables, re-expressed as plugin callables
# (the plugin path exists to run arbitrary user code; these four are also
# trivially expressible as NativeOps).


def parse_csv_line(value: str) -> list[str]:
    """Real CSV semantics (quoted fields, embedded commas) — the reference
    ops parse with encoding/csv (ops/app1op2/app1op2.go:11-14), so naive
    split(',') would diverge on quoted input."""
    return next(csv.reader(io.StringIO(value)))


def app1_op1(key: str, value: str, pattern: str | None):
    """Substring filter (ops/app1op1/app1op1.go:9-18)."""
    return [(key, value)] if pattern is not None and pattern in value else None


def app1_op2(key: str, value: str, pattern: str | None):
    """CSV projection to (col2, col3) (ops/app1op2/app1op2.go:10-19)."""
    row = parse_csv_line(value)
    return [(row[2], row[3])]


def app2_op1(key: str, value: str, pattern: str | None):
    """Equality filter on col6, project (col8, "1")
    (ops/app2op1/app2op1.go:10-22)."""
    row = parse_csv_line(value)
    return [(row[8], "1")] if row[6] == pattern else None


def app2_op2(key: str, value: str, pattern: str | None):
    """Key passthrough → count path (ops/app2op2/app2op2.go:8-14)."""
    return key


# ---------------------------------------------------------------------------
# The same four ops as vectorized batch plugins. The batch CSV parse feeds
# the whole batch through one pandas read_csv (real quoting semantics, same
# as encoding/csv) — valid because source records are single lines by
# construction (the reference reads its stream line-by-line,
# server.go:411-448, so a value can never contain a newline).


def _parse_csv_batch(values: pd.Series) -> pd.DataFrame:
    """Batch CSV parse with the per-record contract's failure semantics:
    the per-record ops raise on empty/short records (csv.reader yields
    nothing / row[i] IndexErrors), so the batch path must fail loudly
    too. Built on the C csv module rather than pandas.read_csv because
    the latter cannot distinguish a missing trailing field from a
    present-but-empty one (both become ''), silently padding ragged rows;
    csv.reader preserves the exact field count per record."""
    rows = list(csv.reader(values.tolist()))
    if len(rows) != len(values):
        # a quoted field with an embedded newline spans records — violates
        # the single-line record precondition (see module comment)
        raise ValueError("CSV record count mismatch: embedded newline in a record?")
    if not rows:
        return pd.DataFrame()
    widths = {len(r) for r in rows}
    if 0 in widths:
        raise ValueError("empty CSV record in batch (per-record contract raises)")
    if len(widths) > 1:
        raise ValueError(f"ragged CSV batch: differing field counts {sorted(widths)}")
    # csv.reader yields str cells already — no astype copy needed
    return pd.DataFrame(rows, index=values.index)


def _tagged(kind: str, keys, vals) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "kind": pd.Series(kind, index=keys.index, dtype=str) if len(keys) else pd.Series([], dtype=str),
            "key": keys.astype(str),
            "value": vals if isinstance(vals, pd.Series) else pd.Series(vals, index=keys.index, dtype=str),
        }
    )


def vec_app1_op1(pdf: pd.DataFrame, pattern: str | None) -> pd.DataFrame:
    """Vectorized substring filter (app1op1): one str.contains over the
    batch."""
    if pattern is None or pdf.empty:
        return pd.DataFrame(_EMPTY_TAGGED)
    m = pdf["value"].str.contains(pattern, regex=False)
    kept = pdf.loc[m]
    return _tagged("emit", kept["key"], kept["value"])


def vec_app1_op2(pdf: pd.DataFrame, pattern: str | None) -> pd.DataFrame:
    """Vectorized CSV projection to (col2, col3) (app1op2)."""
    if pdf.empty:
        return pd.DataFrame(_EMPTY_TAGGED)
    cols = _parse_csv_batch(pdf["value"])
    return _tagged("emit", cols[2], cols[3])


def vec_app2_op1(pdf: pd.DataFrame, pattern: str | None) -> pd.DataFrame:
    """Vectorized equality filter on col6 → (col8, "1") (app2op1)."""
    if pdf.empty:
        return pd.DataFrame(_EMPTY_TAGGED)
    cols = _parse_csv_batch(pdf["value"])
    kept = cols.loc[cols[6] == pattern]
    return _tagged("emit", kept[8], "1")


def vec_app2_op2(pdf: pd.DataFrame, pattern: str | None) -> pd.DataFrame:
    """Vectorized key passthrough → count path (app2op2)."""
    if pdf.empty:
        return pd.DataFrame(_EMPTY_TAGGED)
    return _tagged("count", pdf["key"], "")
