"""Custom stateful streaming operator via applyInPandasWithState.

The reference's op contract is an arbitrary per-record program holding
per-key state in the worker's memory map, replayed from the WAL on
failure (rainstorm/server.go:344-361; SURVEY.md §2.1 O6/O11). Spark's
built-in streaming aggregates cover the reference's only stateful op
(count), but a USER-DEFINED state machine — state that resets, emits
conditionally, or tracks arbitrary structure — needs the escape hatch:
``groupBy(key).applyInPandasWithState``. The state store plays the WAL's
role (checkpointed, restored on recovery), and the kernel is
Arrow-batched pandas, never per-row Python.

Operator implemented here: per-user THRESHOLD-CROSSING ALERTS. Each
user's purchases accumulate; whenever the running total crosses a new
multiple of the threshold, emit one alert row carrying the crossing
ordinal. This is the canonical "emit on condition, keep running state"
shape (fraud/budget alerting) that windowed aggregation cannot express:
output rows are data-dependent events, not per-window summaries.

Determinism contract (what makes an exact SQL oracle possible):
- money is scaled to int64 tenths-of-basis-points (``floor(v*1e4+0.5)``)
  so accumulation is exact integer arithmetic — no float-order drift
  between Spark, pandas, and DuckDB;
- within a micro-batch each user's rows are sorted by (ts, event_id),
  and the bounded replay delivers batches in file order, so the
  crossing sequence equals the batch ``SUM() OVER (ORDER BY ts,
  event_id)`` — the oracle in queries/streaming.py.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

from pyspark.sql import DataFrame

from streamprocessing_spark.shipping import guard_zip_caches

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

# Alert every 500.00 of cumulative purchase value, in scaled int units.
ALERT_THRESHOLD_SCALED = 500 * 10_000

_OUT_SCHEMA = "user_id long, event_id long, ts string, crossing_n long"
_STATE_SCHEMA = "cum long"


def _crossings_kernel(key, pdf_iter: Iterator["pd.DataFrame"], state):
    """Kernel: fold this batch's rows for one user into the running
    total; emit a row per threshold crossing; persist the new total.

    State is a single int64 per user — at 100 TB that is one long per
    distinct key in the state store, the minimum any stateful op can
    hold. The per-group sort is local to one Arrow batch."""
    guard_zip_caches()
    import numpy as np
    import pandas as pd

    (user_id,) = key
    cum = state.get[0] if state.exists else 0

    rows = pd.concat(list(pdf_iter), ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
    scaled = np.floor(rows["value"].to_numpy(dtype="float64") * 10_000.0 + 0.5).astype(
        "int64"
    )
    cums = cum + np.cumsum(scaled)
    prevs = np.concatenate(([cum], cums[:-1]))
    k = np.floor_divide(cums, ALERT_THRESHOLD_SCALED)
    k_prev = np.floor_divide(prevs, ALERT_THRESHOLD_SCALED)
    mask = k > k_prev

    state.update((int(cums[-1]) if len(cums) else cum,))

    hit = rows[mask]
    out = pd.DataFrame(
        {
            "user_id": np.full(len(hit), user_id, dtype="int64"),
            "event_id": hit["event_id"].to_numpy(dtype="int64"),
            "ts": hit["ts"].dt.strftime("%Y-%m-%d %H:%M:%S") + " UTC",
            "crossing_n": k[mask].astype("int64"),
        }
    )
    yield out


def threshold_crossing_alerts(events: DataFrame) -> DataFrame:
    """Apply the per-user threshold-crossing state machine to a streaming
    (or batch-replayed) events DataFrame. Shuffles once on user_id — the
    same key the state store partitions by, so every micro-batch routes a
    user's rows to the executor already holding that user's state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        # NULL purchase values carry no amount: excluded before the fold
        # (a NaN would corrupt the int64 running total in the kernel;
        # the SQL oracle's sum/comparison semantics drop them the same
        # way — hostile-sweep find)
        events.where(
            (events.event_type == "purchase") & events.value.isNotNull()
        )
        .select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _crossings_kernel,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --- per-user event-transition state machine -------------------------------

_TRANS_OUT_SCHEMA = (
    "user_id long, from_event_id long, to_event_id long, "
    "from_type string, to_type string"
)
_TRANS_STATE_SCHEMA = "last_id long, last_type string"


def _transitions_kernel(key, pdf_iter: Iterator["pd.DataFrame"], state):
    """Kernel: link each user's events into (previous → current)
    transition pairs ACROSS micro-batches — the state is the user's
    last seen event (one long + one string per key, minimal), so the
    first event of batch N+1 correctly chains to the last event of
    batch N. The streaming form of the batch lead() window: same
    (ts, event_id) order within a batch, batches delivered in time
    order by the bounded replay (streaming/replay.py contract, shared
    with _crossings_kernel)."""
    guard_zip_caches()
    import numpy as np
    import pandas as pd

    (user_id,) = key
    last_id, last_type = (state.get if state.exists else (None, None))

    rows = pd.concat(list(pdf_iter), ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
    ids = rows["event_id"].to_numpy(dtype="int64")
    types = rows["event_type"].to_numpy(dtype=object)

    # build pairs: (prev state row if any) + consecutive in-batch pairs
    f_ids, f_types, t_ids, t_types = [], [], [], []
    if last_id is not None and len(ids):
        f_ids.append(last_id)
        f_types.append(last_type)
        t_ids.append(int(ids[0]))
        t_types.append(types[0])
    for i in range(len(ids) - 1):
        f_ids.append(int(ids[i]))
        f_types.append(types[i])
        t_ids.append(int(ids[i + 1]))
        t_types.append(types[i + 1])

    if len(ids):
        state.update((int(ids[-1]), str(types[-1])))

    yield pd.DataFrame(
        {
            "user_id": np.full(len(f_ids), user_id, dtype="int64"),
            "from_event_id": np.array(f_ids, dtype="int64"),
            "to_event_id": np.array(t_ids, dtype="int64"),
            "from_type": f_types,
            "to_type": t_types,
        }
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """Apply the per-user transition-linking state machine: emits one
    row per consecutive event pair in each user's stream, chaining
    across micro-batches via the (last_id, last_type) state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.select("user_id", "event_id", "ts", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _transitions_kernel,
            outputStructType=_TRANS_OUT_SCHEMA,
            stateStructType=_TRANS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --- per-user event-time-timeout sessionization ----------------------------

SESSION_GAP_MS = 30 * 60 * 1000          # 30-min inactivity closes a session
SESSION_WATERMARK_DELAY_MS = 3600 * 1000  # 1-hour late-data allowance

_SESS_OUT_SCHEMA = "user_id long, session_start string, n_events long"
_SESS_STATE_SCHEMA = "start_ms long, last_ms long, n long"


def _session_timeout_kernel(key, pdf_iter: Iterator["pd.DataFrame"], state):
    """Kernel: event-time-timeout sessionization — the state machine shape
    the built-in session_window cannot express when the per-session
    emission is custom (here: emit AT CLOSE, carrying the session start
    and size; production variants emit alerts, write audit rows, call
    out). Two close paths:

    - DATA close: a new event arrives > gap after the open session's
      last event — the kernel emits the closed session and opens a new
      one (works even when both sessions arrive in one batch);
    - TIMEOUT close: the user goes silent and the WATERMARK passes
      last_event + gap — Spark invokes this kernel with no rows and
      state.hasTimedOut, the streaming-native way to close sessions for
      keys that never speak again (a pure batch fold can't do this; the
      state store + watermark do).

    Sessions still open when the stream ends never emit — exactly the
    deliverable-now contract streaming sinks live with, and exactly what
    the SQL oracle states (queries/streaming.py)."""
    guard_zip_caches()
    import numpy as np
    import pandas as pd

    (user_id,) = key

    if state.hasTimedOut:
        start_ms, last_ms, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": np.array([user_id], dtype="int64"),
                "session_start": [
                    pd.Timestamp(start_ms, unit="ms").strftime("%Y-%m-%d %H:%M:%S")
                    + " UTC"
                ],
                "n_events": np.array([n], dtype="int64"),
            }
        )
        return

    rows = pd.concat(list(pdf_iter), ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
    ts_ms = (rows["ts"].to_numpy(dtype="datetime64[ns]").astype("int64") // 1_000_000)

    start_ms, last_ms, n = state.get if state.exists else (None, None, 0)
    out_users, out_starts, out_ns = [], [], []
    for t in ts_ms:
        t = int(t)
        if start_ms is None:
            start_ms, last_ms, n = t, t, 1
        elif t - last_ms > SESSION_GAP_MS:
            out_users.append(user_id)
            out_starts.append(
                pd.Timestamp(start_ms, unit="ms").strftime("%Y-%m-%d %H:%M:%S") + " UTC"
            )
            out_ns.append(n)
            start_ms, last_ms, n = t, t, 1
        else:
            last_ms, n = t, n + 1

    state.update((int(start_ms), int(last_ms), int(n)))
    state.setTimeoutTimestamp(int(last_ms) + SESSION_GAP_MS)

    yield pd.DataFrame(
        {
            "user_id": np.full(len(out_users), user_id, dtype="int64"),
            "session_start": out_starts,
            "n_events": np.array(out_ns, dtype="int64"),
        }
    )


def timeout_sessions(events: DataFrame) -> DataFrame:
    """Apply the event-time-timeout session machine. Requires a watermark
    on ts (EventTimeTimeout is driven by it); shuffles once on user_id —
    the state-store partitioning key."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", "1 hour")
        .select("user_id", "event_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_timeout_kernel,
            outputStructType=_SESS_OUT_SCHEMA,
            stateStructType=_SESS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
