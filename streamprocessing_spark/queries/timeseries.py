"""Time-series and order-statistics operators.

The reference has no notion of event time at all (SURVEY.md §2.1: keys
carry no time; ordering is processing-order), yet every real stream the
RainStorm design targets is a time-series. This module adds the standard
time-series toolkit a warehouse user expects, each as a pure Catalyst
plan with a DuckDB oracle:

- ``forward_fill_last_value`` — gap-fill nulls with the last observation
  (``last(ignorenulls)`` over an ordered frame);
- ``time_bucket_gapfill`` — dense daily buckets with zero-fill (dimension
  generation via ``sequence`` + broadcast grid join);
- ``merge_overlapping_intervals`` — interval union per key
  (gaps-and-islands via running max, one shuffle);
- ``regression_value_by_hour`` — least-squares slope + Pearson r from
  EXACT integer moment sums (the functions/money.py discipline extended
  to second moments);
- ``mode_event_type_per_user`` — statistical mode with a deterministic
  tiebreak;
- ``skyline_orders`` — Pareto frontier in O(n log n) via a running-max
  window, oracled against the O(n²) NOT-EXISTS dominance definition.

Determinism rules follow the house style (queries/analytics.py): unique
tiebreak columns in every ordering, exact integer accumulation for any
float that crosses an aggregation, identical column aliases both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streamprocessing_spark.registry import register
from streamprocessing_spark.sources.readers import load_table
from streamprocessing_spark.shipping import guard_zip_caches


@register(
    "forward_fill_last_value",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_id, user_id,
           LAST_VALUE(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM base
    """,
    tags=("timeseries", "window"),
)
def forward_fill_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (LOCF) per user: null out 'click' readings, then carry
    the last non-null value down an ordered frame. One shuffle on user_id;
    the raw double is copied, never accumulated, so parity is bit-exact.
    Rows before a user's first observation stay NULL — both engines agree.
    """
    ev = load_table(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "click", F.lit(None).cast("double")).otherwise(
        F.col("value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.last(v, ignorenulls=True).over(w).alias("filled_value"),
    )


@register(
    "time_bucket_gapfill",
    oracle="""
    WITH ev AS (SELECT CAST(ts AS DATE) AS day, event_type FROM events),
    b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
    days AS (
      SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM b
    ),
    types AS (SELECT DISTINCT event_type FROM ev),
    counts AS (SELECT day, event_type, count(*) AS n_events FROM ev GROUP BY 1, 2)
    SELECT d.day, ty.event_type, COALESCE(c.n_events, 0) AS n_events
    FROM days d
    CROSS JOIN types ty
    LEFT JOIN counts c ON c.day = d.day AND c.event_type = ty.event_type
    """,
    tags=("timeseries", "join"),
)
def time_bucket_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily counts per event type with zero-filled gaps.

    The (day × type) grid is generated, not scanned: ``sequence(min, max,
    interval 1 day)`` exploded against the distinct types, then a LEFT
    join onto the real counts. At 100 TB the grid stays tiny (days ×
    types), so it broadcasts; the only real shuffle is the count itself.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type"
    )
    days = ev.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day")
    )
    types = ev.select("event_type").distinct()
    counts = ev.groupBy("day", "event_type").agg(F.count(F.lit(1)).alias("n_events"))
    grid = days.crossJoin(types)
    return grid.join(counts, ["day", "event_type"], "left").select(
        "day", "event_type", F.coalesce("n_events", F.lit(0)).alias("n_events")
    )


@register(
    "merge_overlapping_intervals",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS s_us,
             epoch_us(ts) + (60 + event_id % 240) * 1000000 AS e_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, s_us, e_us,
             CASE WHEN max(e_us) OVER (
                    PARTITION BY user_id ORDER BY s_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= s_us
                  THEN 0 ELSE 1 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s_us, e_us,
             sum(new_island) OVER (
               PARTITION BY user_id ORDER BY s_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    )
    SELECT user_id,
           make_timestamp(min(s_us)) AS interval_start,
           make_timestamp(max(e_us)) AS interval_end,
           count(*) AS n_merged
    FROM islands
    GROUP BY user_id, island
    """,
    tags=("timeseries", "window"),
)
def merge_overlapping_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union (gaps-and-islands): each event opens an interval of
    60 + (event_id % 240) seconds; overlapping or touching intervals per
    user merge into one row (start, end, member count).

    All comparisons run on integer epoch-micros (no timestamp arithmetic
    divergence between engines); a new island starts when the running max
    of prior interval ends is strictly before the current start. One
    shuffle on user_id; both window passes share the same sort.
    """
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + (60 + F.col("event_id") % 240) * F.lit(1000000)).alias(
            "e_us"
        ),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "event_id",
        "s_us",
        "e_us",
        F.when(F.max("e_us").over(w_prev) >= F.col("s_us"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("new_island"),
    )
    # both windows order by the UNIQUE (s_us, event_id) key: with a tied
    # sort key, a running sum's per-row value depends on peer order, which
    # neither engine defines — the unique tiebreak is what makes the
    # island ids reproducible (house determinism rule).
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.select(
        "user_id", "s_us", "e_us", F.sum("new_island").over(w_run).alias("island")
    )
    return islands.groupBy("user_id", "island").agg(
        F.timestamp_micros(F.min("s_us")).alias("interval_start"),
        F.timestamp_micros(F.max("e_us")).alias("interval_end"),
        F.count(F.lit(1)).alias("n_merged"),
    ).drop("island")


@register(
    "regression_value_by_hour",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             CAST(hour(ts) AS BIGINT) AS x,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS y
      FROM events
      WHERE value IS NOT NULL
    ),
    mom AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM pts GROUP BY event_type
    )
    SELECT event_type, n AS n_points,
           floor((n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0 * 1000000.0 + 0.5)
             / 1000000.0 AS slope,
           floor((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                 * 1000000.0 + 0.5) / 1000000.0 AS corr_r
    FROM mom
    """,
    tags=("timeseries", "aggregate"),
)
def regression_value_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of value (per hour-of-day) and Pearson r per
    event type — ``regr_slope``/``corr`` semantics, but deterministic.

    Spark's and DuckDB's native regr_/corr aggregates accumulate doubles
    in partition order, so their last bits differ run-to-run. Here every
    moment (Σx, Σy, Σxy, Σx², Σy²) is an EXACT integer sum (value scaled
    to cents: max 56k cents → y² ≈ 3e9 per row, ~3e15 per million rows,
    far inside BIGINT), and only the final closed-form combination runs in
    float — an identical IEEE expression tree in both engines, rounded to
    6 dp. Map-side partial aggregation applies; one shuffle."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pts = ev.select(
        "event_type",
        F.hour("ts").cast("long").alias("x"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("y"),
    )
    mom = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov_n = n * sxy - sx * sy
    var_x_n = n * sxx - sx * sx
    var_y_n = n * syy - sy * sy
    r6 = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    # try_divide: a single-point or constant-x group has zero variance
    # (legal data — the hostile fixture's solo-event user), which DuckDB
    # folds to NULL while `/` raises under ANSI. NULL slope/r for a
    # degenerate group is the right answer on both engines.
    return mom.select(
        "event_type",
        n.alias("n_points"),
        r6(F.try_divide(cov_n, var_x_n) / F.lit(100.0)).alias("slope"),
        r6(F.try_divide(cov_n, F.sqrt(var_x_n * var_y_n))).alias("corr_r"),
    )


@register(
    "mode_event_type_per_user",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT user_id, event_type, n_events,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY n_events DESC, event_type) AS rn
      FROM c
    )
    SELECT user_id, event_type AS modal_type, n_events FROM r WHERE rn = 1
    """,
    tags=("timeseries", "aggregate", "window"),
)
def mode_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group with a deterministic tiebreak
    (alphabetically first among equally-frequent types). Spark's native
    ``F.mode`` is non-deterministic on ties, so the mode is derived as
    count → row_number — two window-free shuffles collapse to one because
    the groupBy and the window share the user_id partitioning."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"), "event_type")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"), "n_events")
    )


@register(
    "skyline_orders",
    oracle="""
    WITH o2 AS (SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
                WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL)
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM o2 o
    WHERE NOT EXISTS (
      SELECT 1 FROM o2 d
      WHERE d.o_totalprice <= o.o_totalprice
        AND d.o_orderdate >= o.o_orderdate
        AND (d.o_totalprice < o.o_totalprice OR d.o_orderdate > o.o_orderdate)
    )
    """,
    tags=("analytics", "window"),
)
def skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline): orders not dominated on (price ↓,
    date ↑). An order is dominated iff some other order is no more
    expensive AND no older, strictly better on at least one axis.

    The oracle states the O(n²) NOT-EXISTS definition; the Spark plan is
    the O(n log n) sweep: collapse to one row per distinct price (max
    date), run a running max of date over strictly-cheaper prices, then
    keep rows where (a) no cheaper order has an equal-or-later date and
    (b) no same-price order has a strictly later date. Distinct prices
    are ~order-count-sized (a total price is a near-unique lineitem
    sum), so the sweep runs through ranking.global_running_max_prev —
    range-partitioned intra-slice maxima stitched by a P-row carry
    window, never a single-task WindowExec (round-5 re-plan, the
    global-window audit's one data-sized finding)."""
    # parquet stores o_orderdate unadjusted-to-UTC → Spark infers NTZ; the
    # session runs UTC so the cast to (LTZ) timestamp is value-identity and
    # matches the oracle's TIMESTAMP type.
    # an order with an unknown price or date is incomparable on the
    # dominance axes: excluded on BOTH engines (NOT EXISTS would
    # vacuously keep it in SQL; a NULL price would also corrupt the
    # running-max sweep, which orders NULLs first in Spark only)
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice").isNotNull() & F.col("o_orderdate").isNotNull())
        .select(
            "o_orderkey", "o_totalprice", F.col("o_orderdate").cast("timestamp").alias("o_orderdate")
        )
    )
    from streamprocessing_spark.operators.ranking import global_running_max_prev

    byprice = o.groupBy("o_totalprice").agg(F.max("o_orderdate").alias("pmax"))
    run = global_running_max_prev(
        byprice, [F.col("o_totalprice")], "pmax", "run_lt"
    )
    return (
        o.join(run, "o_totalprice")
        .filter(
            (F.col("run_lt").isNull() | (F.col("run_lt") < F.col("o_orderdate")))
            & (F.col("o_orderdate") == F.col("pmax"))
        )
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )


@register(
    "cohort_retention",
    oracle="""
    WITH activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    cohorts AS (
      SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id
    )
    SELECT c.cohort_day,
           CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT) AS day_offset,
           count(*) AS n_active
    FROM activity a JOIN cohorts c USING (user_id)
    GROUP BY 1, 2
    """,
    tags=("timeseries", "aggregate", "join"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-active day; for
    every (cohort, day-offset) cell, how many are active. Pure distinct
    counts — no floats anywhere, so parity is trivial; the rate is left to
    the consumer (cell ÷ offset-0 cell).

    Scale: the distinct (user, day) activity set is the only big
    intermediate — one shuffle to dedup, one to the per-user min (both
    partial-aggregated), and the cohort map joins back keyed on user_id,
    re-using the activity partitioning."""
    ev = load_table(spark, sf_dir, "events")
    activity = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        activity.join(cohorts, "user_id")
        .groupBy(
            "cohort_day",
            F.date_diff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "event_path_trigrams",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type AS t1,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t2,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t3
      FROM events
    )
    SELECT t1, t2, t3, count(*) AS n
    FROM s WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    GROUP BY 1, 2, 3
    """,
    tags=("timeseries", "analytics", "sequence"),
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: counts of consecutive event-type trigrams
    per user journey ("view→click→purchase appears 214 times") — the
    sequence-pattern primitive behind funnel discovery and next-action
    models. Expressed as two leads over the (user, time) window instead
    of collecting arrays: no per-user materialization, state is two rows
    deep, and the trigram alphabet keeps the final aggregate tiny.
    Ordering is total (ts, event_id tiebreak) so both engines see
    identical sequences. One shuffle on user_id, one bounded aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        s.where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "rolling_user_activity_1h",
    oracle="""
    SELECT user_id, event_id,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT)) OVER w
                AS BIGINT) AS value_1h_x10k
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    tags=("timeseries", "window", "feature-engineering"),
)
def rolling_user_activity_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1-hour activity features per event: how many events (and
    how much scaled value) the same user generated in the hour ending at
    this event — the RANGE-frame (time-interval) window, the standard
    feature-engineering primitive for fraud/abuse/engagement models.
    A RANGE frame is value-based: all rows whose timestamp falls in the
    interval count, including equal-timestamp peers, so the result is
    deterministic under ties without a tiebreak column.

    Both engines order by exact integer epoch-MICROSECONDS (unix_micros /
    epoch_us) so the frame boundary is bit-identical; money is scaled to
    int64 before summing. One shuffle on user_id; the frame scan is a
    sliding two-pointer over each partition's sort, O(n) amortized."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    scaled = F.floor(F.col("value") * 10000.0 + 0.5).cast("long")
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(scaled).over(w).alias("value_1h_x10k"),
    )


HOUR_US = 3_600_000_000


@register(
    "interpolate_hourly_linear",
    oracle=f"""
    WITH obs0 AS (
      SELECT user_id, epoch_us(ts) AS t,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id, epoch_us(ts)
                                ORDER BY event_id DESC) AS rn
      FROM events),
    obs AS (SELECT user_id, t, cents FROM obs0 WHERE rn = 1),
    bounds AS (
      SELECT user_id,
             ((min(t) + {HOUR_US - 1}) // {HOUR_US}) * {HOUR_US} AS lo,
             (max(t) // {HOUR_US}) * {HOUR_US} AS hi
      FROM obs GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, {HOUR_US})) AS t
      FROM bounds WHERE hi >= lo),
    un AS (
      SELECT user_id, t, cents, 1 AS is_obs FROM obs
      UNION ALL
      SELECT user_id, t, NULL AS cents, 0 AS is_obs FROM grid),
    w AS (
      SELECT user_id, t, is_obs,
        last_value(cents IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t, is_obs DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_c,
        last_value(CASE WHEN is_obs = 1 THEN t END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t, is_obs DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
        first_value(cents IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t, is_obs DESC
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_c,
        first_value(CASE WHEN is_obs = 1 THEN t END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t, is_obs DESC
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_t
      FROM un)
    SELECT user_id, make_timestamp(t) AS hour_ts,
           CAST(CASE WHEN next_t IS NOT NULL
                THEN (prev_c * (next_t - t) + next_c * (t - prev_t))
                     // (next_t - prev_t)
                ELSE prev_c END AS BIGINT) AS interp_cents
    FROM w WHERE is_obs = 0
    """,
    tags=("timeseries", "window"),
)
def interpolate_hourly_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation onto an hourly grid per user: for every whole
    hour between a user's first and last event, the value linearly
    interpolated between the surrounding observations (LOCF past the
    last observation — unreachable by construction except when the last
    event falls exactly on the hour). The resampling op every
    sensor/metrics pipeline needs, done with EXACT integer arithmetic:
    cents × micro-second gaps in BIGINT, one integer division — all
    operands positive, so DuckDB's floor-div and Spark's truncating div
    agree, and no float accumulates anywhere.

    Shape: observations dedup to one row per (user, microsecond) (unique
    tiebreak on event_id); the hour grid is GENERATED per user from its
    (min, max) bounds, unioned with the observations, and one
    partitioned sort gives both the backward (last obs ≤ t) and forward
    (first obs > t) neighbors via frame-bounded ignore-null windows —
    the asof-join-without-a-join pattern. Everything shuffles once on
    user_id; grid size is span-hours per user, independent of event
    density. At 100 TB the window state is one user's timeline, never
    the corpus."""
    ev = load_table(spark, sf_dir, "events")
    obs = (
        ev.select(
            "user_id",
            F.unix_micros("ts").alias("t"),
            F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
            "event_id",
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "t").orderBy(F.col("event_id").desc())
            ),
        )
        .where(F.col("rn") == 1)
        .select("user_id", "t", "cents")
    )
    # bounds don't need the dedup window (min/max of t are unaffected by
    # dropping same-microsecond ties) — aggregate the raw projection and
    # save a second sort+window pass over the events scan
    bounds = ev.select("user_id", F.unix_micros("ts").alias("t")).groupBy(
        "user_id"
    ).agg(
        (F.floor((F.min("t") + (HOUR_US - 1)) / HOUR_US) * HOUR_US).cast("long").alias("lo"),
        (F.floor(F.max("t") / HOUR_US) * HOUR_US).cast("long").alias("hi"),
    )
    grid = bounds.where(F.col("hi") >= F.col("lo")).select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.lit(HOUR_US).cast("long"))).alias("t"),
    )
    un = obs.withColumn("is_obs", F.lit(1)).unionByName(
        grid.select(
            "user_id", "t", F.lit(None).cast("long").alias("cents"), F.lit(0).alias("is_obs")
        )
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t").asc(), F.col("is_obs").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The forward neighbor as a REVERSE-ordered growing frame, not
    # first(...) over [1 FOLLOWING, UNBOUNDED FOLLOWING]: Spark's
    # UnboundedFollowing frame processor rescans from each row to the
    # partition end (O(n²) per user timeline — measured 3.1 s -> 0.9 s
    # at sf0.1 on this query), while an UNBOUNDED PRECEDING frame is
    # incremental. last(x) over the strict-past frame of the reversed
    # sort is row-for-row the same value as first(x) over the
    # strict-future frame of the forward sort.
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t").desc(), F.col("is_obs").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    obs_t = F.when(F.col("is_obs") == 1, F.col("t"))
    scored = un.select(
        "user_id",
        "t",
        "is_obs",
        F.last("cents", ignorenulls=True).over(w_prev).alias("prev_c"),
        F.last(obs_t, ignorenulls=True).over(w_prev).alias("prev_t"),
        F.last("cents", ignorenulls=True).over(w_next).alias("next_c"),
        F.last(obs_t, ignorenulls=True).over(w_next).alias("next_t"),
    )
    interp = F.when(
        F.col("next_t").isNotNull(),
        F.expr(
            "(prev_c * (next_t - t) + next_c * (t - prev_t)) div (next_t - prev_t)"
        ),
    ).otherwise(F.col("prev_c"))
    return scored.where(F.col("is_obs") == 0).select(
        "user_id",
        F.timestamp_micros("t").alias("hour_ts"),
        interp.cast("long").alias("interp_cents"),
    )


BOOT_B = 32  # bootstrap replicates (deterministic hash-resampled)


@register(
    "bootstrap_ci_value_by_type",
    oracle=f"""
    WITH v AS MATERIALIZED (
      SELECT event_type,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1
               AS idx,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    draws AS MATERIALIZED (
      SELECT event_type, n, r.r,
             CAST(('0x' || substr(md5('bs:' || r.r || ':' || event_type || ':'
                                      || idx), 1, 8)) AS BIGINT) % n AS tgt
      FROM v, (SELECT unnest(generate_series(0, {BOOT_B - 1})) AS r) r),
    means AS MATERIALIZED (
      SELECT d.event_type, d.r,
             CAST(sum(v.cents) // d.n AS BIGINT) AS mean_cents_r
      FROM draws d
      JOIN v ON v.event_type = d.event_type AND v.idx = d.tgt
      GROUP BY d.event_type, d.r, d.n),
    ranked AS (
      SELECT event_type, mean_cents_r,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY mean_cents_r, r) AS rk
      FROM means),
    pt AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_obs,
             CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents
      FROM v GROUP BY event_type)
    SELECT p.event_type, p.n_obs, p.mean_cents,
           max(CASE WHEN rk = 2 THEN mean_cents_r END) AS ci_lo_cents,
           max(CASE WHEN rk = {BOOT_B - 1} THEN mean_cents_r END) AS ci_hi_cents
    FROM pt p JOIN ranked k ON k.event_type = p.event_type
    GROUP BY p.event_type, p.n_obs, p.mean_cents
    """,
    tags=("timeseries", "aggregate", "statistics"),
)
def bootstrap_ci_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean event value per type —
    uncertainty quantification as a first-class distributed operator,
    made DETERMINISTIC: replicate r's resample draws index
    h32('bs:r:type:d') mod n for every draw position d (a fixed
    multinomial realization both engines replay), so the 32 replicate
    means — and the (2nd, 31st)-ranked ≈95% interval they induce — are
    bit-identical everywhere. The textbook RNG bootstrap can't be
    oracle-checked at all; the hash bootstrap has the same distributional
    properties (md5 bytes are uniform) and is reproducible run-to-run,
    which production significance monitoring needs anyway.

    Shape: one window to index rows within each type, a B-way explode of
    (position → drawn index) pairs, one co-partitioned join back to
    values (the 'resample' — no data copied B times, just 8-byte draw
    rows), and two bounded aggregations. All arithmetic exact integer
    cents (mean as floor-div); at 100 TB the B× draw explosion is the
    cost knob, and the per-partition Poisson approximation is the
    documented relaxation when B×n must not materialize."""
    ev = load_table(spark, sf_dir, "events")
    w_idx = Window.partitionBy("event_type").orderBy("event_id")
    v = ev.select(
        "event_type",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
        (F.row_number().over(w_idx) - 1).alias("idx"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
        "event_id",
    )
    draws = v.select(
        "event_type",
        "n",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("r"),
        "idx",
    ).select(
        "event_type",
        "n",
        "r",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("bs:"),
                            F.col("r"),
                            F.lit(":"),
                            F.col("event_type"),
                            F.lit(":"),
                            F.col("idx"),
                        ).cast("binary")
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.col("n")
        ).alias("tgt"),
    )
    vals = v.select("event_type", F.col("idx").alias("tgt"), "cents")
    means = (
        draws.join(vals, ["event_type", "tgt"])
        .groupBy("event_type", "r", "n")
        .agg(F.expr("CAST(sum(cents) div n AS BIGINT)").alias("mean_cents_r"))
        .select("event_type", "r", "mean_cents_r")
    )
    w_rk = Window.partitionBy("event_type").orderBy("mean_cents_r", "r")
    ranked = means.withColumn("rk", F.row_number().over(w_rk))
    pt = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.expr("CAST(sum(cents) div count(*) AS BIGINT)").alias("mean_cents"),
    )
    ci = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rk") == 2, F.col("mean_cents_r"))).alias("ci_lo_cents"),
        F.max(F.when(F.col("rk") == BOOT_B - 1, F.col("mean_cents_r"))).alias(
            "ci_hi_cents"
        ),
    )
    return pt.join(ci, "event_type").select(
        "event_type", "n_obs", "mean_cents", "ci_lo_cents", "ci_hi_cents"
    )


SLIDE_DAYS = 7  # trailing window width (days)


@register(
    "sliding_distinct_users_7d",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    b AS (SELECT min(day) AS lo, max(day) AS hi FROM act),
    grid AS (
      SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM b)
    SELECT g.day,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active_users
    FROM grid g
    LEFT JOIN act a
      ON a.day <= g.day AND a.day >= g.day - {SLIDE_DAYS - 1}
    GROUP BY g.day
    """,
    tags=("timeseries", "window", "aggregate"),
)
def sliding_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-7-day distinct active users for every day — the
    sliding-window COUNT DISTINCT that naive engines recompute from
    scratch per window (7× re-aggregation) and sketches only
    approximate. Decomposition makes it one pass: a user counts in
    window D iff D falls in the union of [a, a+6] intervals over their
    activity days; merge those per user (gaps-and-islands — a new
    island when the gap exceeds the window), emit +1/−1 boundary deltas
    per island, and one running sum over the day grid yields every
    window's exact count. Work is O(activity days + islands), not
    O(days × window).

    Shuffles: the (user, day) dedup, the per-user island window, one
    bounded delta aggregation; the final running sum runs over the DAY
    GRID — dozens of rows, the tiny-by-construction global window the
    layout queries also use. The oracle is the quadratic
    day × activity containment join."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w_prev = Window.partitionBy("user_id").orderBy("day")
    flagged = act.withColumn(
        "new_island",
        F.when(
            F.datediff(F.col("day"), F.lag("day").over(w_prev)) > SLIDE_DAYS - 1,
            F.lit(1),
        )
        .when(F.lag("day").over(w_prev).isNull(), F.lit(1))
        .otherwise(F.lit(0)),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
    spans = islands.groupBy("user_id", "island").agg(
        F.min("day").alias("start"),
        F.date_add(F.max("day"), SLIDE_DAYS).alias("end_excl"),
    )
    deltas = spans.select(F.col("start").alias("day"), F.lit(1).alias("d")).unionByName(
        spans.select(F.col("end_excl").alias("day"), F.lit(-1).alias("d"))
    )
    day_deltas = deltas.groupBy("day").agg(F.sum("d").alias("delta"))
    bounds = act.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day")
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        grid.join(day_deltas, "day", "left")
        .select("day", F.coalesce("delta", F.lit(0)).alias("delta"))
        .select("day", F.sum("delta").over(w_cum).cast("long").alias("n_active_users"))
    )


CUSUM_K_NUM = 5  # flag when |S_d| > (K_NUM/K_DEN)·total·n_days — 5‰ trips
CUSUM_K_DEN = 1000  # on real fluctuation at every fixture scale (measured
# max scaled ratio 97.5/18.1/7.5 per mille at sf0.001/0.01/0.1), so BOTH
# flag branches stay populated


@register(
    "cusum_changepoint_daily",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT event_type, sum(c) AS total, count(*) AS n_days
      FROM daily GROUP BY event_type),
    s AS (
      SELECT d.event_type, d.day,
             sum(d.c * t.n_days - t.total) OVER (
               PARTITION BY d.event_type ORDER BY d.day) AS s_scaled,
             t.total, t.n_days
      FROM daily d JOIN tot t ON t.event_type = d.event_type)
    SELECT event_type, day,
           CAST(s_scaled AS BIGINT) AS cusum_scaled,
           CAST(abs(s_scaled) > ({CUSUM_K_NUM} * total * n_days) / {CUSUM_K_DEN}
                AS BIGINT) AS drift_flag
    FROM s
    """,
    tags=("timeseries", "window", "statistics"),
)
def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection over the daily event-rate series per type:
    the running sum of deviations from the series mean, the classic
    change-point statistic (a persistent rate shift accumulates
    linearly; noise cancels). INTEGER-EXACT throughout: instead of
    c_i − total/n (a fraction), accumulate the ×n_days-scaled residual
    c_i·n − total, whose running sum is a BIGINT both engines agree on;
    the drift flag compares |S| against a scaled threshold with integer
    cross-multiplication. The monitoring op that catches 'this source's
    volume shifted on day X' in a 100 TB ingest.

    One bounded daily aggregation, a broadcast of per-type totals, one
    running-sum window per type (state = one day's row). The oracle
    replays the identical scaled arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    s = daily.join(F.broadcast(tot), "event_type").withColumn(
        "s_scaled",
        F.sum(F.col("c") * F.col("n_days") - F.col("total")).over(w),
    )
    return s.select(
        "event_type",
        "day",
        F.col("s_scaled").cast("long").alias("cusum_scaled"),
        (
            F.abs(F.col("s_scaled"))
            > (CUSUM_K_NUM * F.col("total") * F.col("n_days")) / CUSUM_K_DEN
        )
        .cast("long")
        .alias("drift_flag"),
    )


@register(
    "clamped_running_balance",
    oracle="""
    WITH flows AS (
      SELECT user_id, ts, event_id,
             CASE event_type
               WHEN 'purchase' THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
               WHEN 'error' THEN -CAST(floor(value * 100.0 + 0.5) AS BIGINT)
             END AS flow
      FROM events WHERE event_type IN ('purchase', 'error')),
    r AS (
      SELECT user_id, ts, event_id, flow,
             sum(flow) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run
      FROM flows),
    s AS (
      SELECT user_id, ts, event_id, flow, run,
             min(run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_min
      FROM r)
    SELECT event_id, user_id, flow,
           CAST(run - least(CAST(0 AS BIGINT), run_min) AS BIGINT)
             AS balance_cents
    FROM s
    """,
    tags=("timeseries", "window", "statistics"),
)
def clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-clamped running balance (credits from purchases, debits from
    errors, balance never below zero) — the inventory/wallet semantics
    that LOOKS non-associative (each step depends on the clamped prior
    state, the textbook excuse for a sequential UDF loop) but has the
    exact closed form B_i = S_i − min(0, min_{j≤i} S_j): whatever the
    clamp absorbed is exactly the most negative prefix. Two stacked
    windows over ONE (user, time) sort — fully distributed, integer
    cents, bit-exact in both engines; no mapPartitions, no Python.

    The general lesson this operator documents: before reaching for a
    stateful kernel, check whether the recurrence has a prefix-scan
    closed form — this one, running max/min, and exponential decay with
    constant rate all do."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    flows = ev.where(F.col("event_type").isin("purchase", "error")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", cents).otherwise(-cents).alias("flow"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = flows.withColumn("run", F.sum("flow").over(w)).withColumn(
        "run_min", F.min("run").over(w_cum)
    )
    return s.select(
        "event_id",
        "user_id",
        "flow",
        (F.col("run") - F.least(F.lit(0).cast("long"), F.col("run_min")))
        .cast("long")
        .alias("balance_cents"),
    )


ATTR_WINDOW_US = 7 * 86_400 * 1_000_000  # 7-day lookback
_DAY_US = 86_400 * 1_000_000


@register(
    "attribution_linear_multi_touch",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS purchase_event_id, user_id,
             epoch_us(ts) AS pus,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT event_id AS click_event_id, user_id, epoch_us(ts) AS cus
      FROM events WHERE event_type = 'click'),
    touch AS (
      SELECT p.purchase_event_id, p.user_id, p.cents, c.click_event_id,
             row_number() OVER (PARTITION BY p.purchase_event_id
                                ORDER BY c.cus, c.click_event_id) AS rn,
             count(*) OVER (PARTITION BY p.purchase_event_id) AS n_touches
      FROM p JOIN c ON c.user_id = p.user_id
       AND c.cus >= p.pus - CAST({ATTR_WINDOW_US} AS BIGINT)
       AND c.cus < p.pus)
    SELECT purchase_event_id, click_event_id, user_id,
           CAST(n_touches AS BIGINT) AS n_touches,
           CAST(cents // n_touches
                + CASE WHEN rn <= cents % n_touches THEN 1 ELSE 0 END
                AS BIGINT) AS attributed_cents
    FROM touch
    """,
    tags=("timeseries", "join", "range-join", "exact-money"),
)
def attribution_linear_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's revenue is split
    evenly across every click by the same user in the prior 7 days —
    the marketing-analytics primitive behind channel ROI reports. The
    split is EXACT integer cents via the largest-remainder method:
    every touch gets ``cents div n``, and the ``cents mod n`` leftover
    pennies go to the earliest touches (deterministic (ts, event_id)
    order), so the per-purchase shares always sum back to the purchase
    amount — asserted in tests, and impossible with float division.

    Scale: the range join never runs as a quadratic per-user product —
    purchases explode to the ≤8 day buckets their 7-day window covers
    and join clicks on (user, day-bucket) equality before the exact
    range filter, so candidate volume is O(purchases × 8 × clicks per
    user-day) — Databricks' range-join binning, hand-built from
    ``sequence`` + ``explode``. The oracle is the unbanded inequality
    join, proving the banding lossless (a click matches at most one of
    a purchase's buckets: its own)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.unix_micros("ts").alias("pus"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.unix_micros("ts").alias("cus"),
    )
    p_band = p.withColumn(
        "day_bucket",
        F.explode(
            F.sequence(
                ((F.col("pus") - F.lit(ATTR_WINDOW_US)) / F.lit(_DAY_US)).cast("long"),
                (F.col("pus") / F.lit(_DAY_US)).cast("long"),
            )
        ),
    )
    c_band = c.withColumn("c_day_bucket", (F.col("cus") / F.lit(_DAY_US)).cast("long"))
    touch = p_band.join(
        c_band,
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("day_bucket") == F.col("c_day_bucket"))
        & (F.col("cus") >= F.col("pus") - F.lit(ATTR_WINDOW_US))
        & (F.col("cus") < F.col("pus")),
    )
    w_rn = Window.partitionBy("purchase_event_id").orderBy("cus", "click_event_id")
    w_n = Window.partitionBy("purchase_event_id")
    ranked = touch.select(
        "purchase_event_id",
        "user_id",
        "cents",
        "click_event_id",
        F.row_number().over(w_rn).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n_touches"),
    )
    return ranked.select(
        "purchase_event_id",
        "click_event_id",
        "user_id",
        F.col("n_touches").cast("long").alias("n_touches"),
        (
            F.expr("cents div n_touches")
            + F.when(F.col("rn") <= F.col("cents") % F.col("n_touches"), 1).otherwise(0)
        )
        .cast("long")
        .alias("attributed_cents"),
    )


@register(
    "time_weighted_avg_value",
    oracle="""
    WITH seg AS (
      SELECT user_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id)
               - epoch_us(ts) AS dur_us
      FROM events)
    SELECT user_id,
           CAST(sum(cents * dur_us) AS BIGINT) AS twa_num,
           CAST(sum(dur_us) AS BIGINT) AS dur_us_total,
           CAST(sum(cents * dur_us) // sum(dur_us) AS BIGINT) AS twa_cents
    FROM seg WHERE dur_us IS NOT NULL
    GROUP BY user_id
    """,
    tags=("timeseries", "aggregate", "exact-money"),
)
def time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-WEIGHTED average value per user: each observation holds
    until the next one, so its weight is the duration it was current —
    the correct mean for irregularly-sampled state (balances, prices,
    sensor readings), where the naive row mean over-weights bursts.

    Exactness: weights are exact epoch-microsecond durations
    (``lead(unix_micros)`` over the (ts, event_id) total order), values
    exact cents; the weighted sum Σ cents·μs stays within BIGINT
    (≤ 5.6e4 cents × 2.6e12 μs of month span ⇒ ≤ 1.5e17 per user). Both
    the exact rational (num, denom) and the floor quotient are emitted;
    all operands positive, so DuckDB ``//`` and Spark ``div`` agree.

    Scale: one partitioned sort per user (the same sort serves the lead
    and the group-by), map-side-combinable sums — no driver loop, no
    state kernel; the LOCF-segment construction is shared with
    forward_fill_last_value."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    seg = ev.select(
        "user_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias("dur_us"),
    ).where(F.col("dur_us").isNotNull())
    return seg.groupBy("user_id").agg(
        F.sum(F.col("cents") * F.col("dur_us")).cast("long").alias("twa_num"),
        F.sum("dur_us").cast("long").alias("dur_us_total"),
        F.expr("sum(cents * dur_us) div sum(dur_us)").cast("long").alias("twa_cents"),
    )


@register(
    "seasonal_hour_baseline_anomaly",
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(extract(hour FROM ts) AS INTEGER) AS hour
      FROM events),
    days AS (SELECT DISTINCT day FROM e),
    types AS (SELECT DISTINCT event_type FROM e),
    nd AS (SELECT count(*) AS n_days FROM days),
    grid AS (
      SELECT t.event_type, d.day, CAST(h.range AS INTEGER) AS hour
      FROM types t, days d, range(24) h),
    cells AS (
      SELECT event_type, day, hour, count(*) AS c
      FROM e GROUP BY event_type, day, hour),
    prof AS (
      SELECT event_type, hour, sum(c) AS n_th
      FROM cells GROUP BY event_type, hour)
    SELECT g.event_type, g.day, g.hour,
           CAST(coalesce(cells.c, 0) AS BIGINT) AS cnt,
           CAST(prof.n_th AS BIGINT) AS hour_total,
           CAST(nd.n_days AS BIGINT) AS n_days,
           CASE WHEN coalesce(cells.c, 0) * nd.n_days > 2 * prof.n_th
                THEN 'high' ELSE 'low' END AS flag
    FROM grid g
    JOIN prof ON prof.event_type = g.event_type AND prof.hour = g.hour
    CROSS JOIN nd
    LEFT JOIN cells ON cells.event_type = g.event_type
                   AND cells.day = g.day AND cells.hour = g.hour
    WHERE coalesce(cells.c, 0) * nd.n_days > 2 * prof.n_th
       OR 2 * coalesce(cells.c, 0) * nd.n_days < prof.n_th
    """,
    tags=("timeseries", "anomaly", "aggregate"),
)
def seasonal_hour_baseline_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly map: each (event type, day, hour-of-
    day) cell is compared against that type's average count for the
    SAME hour across all days — the hour-of-day seasonal profile — and
    flagged when it exceeds 2× the baseline or falls below half of it.
    The complement to cusum_changepoint_daily: CUSUM finds sustained
    level shifts in sequence; this finds cells that break their own
    diurnal rhythm (including SILENT cells — the dense type×day×hour
    grid is generated, so an hour with zero events where the profile
    expects traffic is flagged 'low', the outage shape a
    present-rows-only scan can never see).

    Exactness: the threshold c > 2·(n_th/n_days) is evaluated as the
    integer cross-multiplication c·n_days > 2·n_th (and 2·c·n_days <
    n_th for 'low') — no division anywhere.

    Scale: the fact scan collapses to per-cell counts first (map-side
    combine; ≤ types×days×24 rows regardless of event volume); the
    grid, profile, and day count are all dimension-sized and broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.hour("ts").cast("int").alias("hour"),
    )
    cells = e.groupBy("event_type", "day", "hour").agg(F.count(F.lit(1)).alias("c"))
    days = e.select("day").distinct()
    types = e.select("event_type").distinct()
    nd = days.agg(F.count(F.lit(1)).alias("n_days"))
    hours = spark.range(24).select(F.col("id").cast("int").alias("hour"))
    grid = types.crossJoin(F.broadcast(days)).crossJoin(F.broadcast(hours))
    prof = cells.groupBy("event_type", "hour").agg(F.sum("c").alias("n_th"))
    out = (
        grid.join(F.broadcast(prof), ["event_type", "hour"])
        .crossJoin(F.broadcast(nd))
        .join(F.broadcast(cells), ["event_type", "day", "hour"], "left")
        .withColumn("cnt", F.coalesce(F.col("c"), F.lit(0)))
    )
    flagged = out.where(
        (F.col("cnt") * F.col("n_days") > 2 * F.col("n_th"))
        | (2 * F.col("cnt") * F.col("n_days") < F.col("n_th"))
    )
    return flagged.select(
        "event_type",
        "day",
        "hour",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("n_th").cast("long").alias("hour_total"),
        F.col("n_days").cast("long").alias("n_days"),
        F.when(F.col("cnt") * F.col("n_days") > 2 * F.col("n_th"), "high")
        .otherwise("low")
        .alias("flag"),
    )


@register(
    "regression_two_factor_cramer",
    oracle="""
    WITH obs AS (
      SELECT CAST(extract(hour FROM ts) AS BIGINT) AS x1,
             CAST(extract(dow FROM ts) AS BIGINT) AS x2,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS y
      FROM events),
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x1) AS HUGEINT) AS sx1, CAST(sum(x2) AS HUGEINT) AS sx2,
             CAST(sum(x1*x1) AS HUGEINT) AS sx11, CAST(sum(x1*x2) AS HUGEINT) AS sx12,
             CAST(sum(x2*x2) AS HUGEINT) AS sx22,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x1*y) AS HUGEINT) AS sx1y, CAST(sum(x2*y) AS HUGEINT) AS sx2y
      FROM obs),
    d AS (
      SELECT
        n*(sx11*sx22 - sx12*sx12) - sx1*(sx1*sx22 - sx12*sx2)
          + sx2*(sx1*sx12 - sx11*sx2) AS det,
        sy*(sx11*sx22 - sx12*sx12) - sx1*(sx1y*sx22 - sx12*sx2y)
          + sx2*(sx1y*sx12 - sx11*sx2y) AS det0,
        n*(sx1y*sx22 - sx12*sx2y) - sy*(sx1*sx22 - sx12*sx2)
          + sx2*(sx1*sx2y - sx1y*sx2) AS det1,
        n*(sx11*sx2y - sx1y*sx12) - sx1*(sx1*sx2y - sx1y*sx2)
          + sy*(sx1*sx12 - sx11*sx2) AS det2
      FROM s)
    SELECT CAST(CAST(CASE WHEN det < 0 THEN -det0 ELSE det0 END AS HUGEINT) AS VARCHAR) AS intercept_num,
           CAST(CAST(CASE WHEN det < 0 THEN -det1 ELSE det1 END AS HUGEINT) AS VARCHAR) AS slope_hour_num,
           CAST(CAST(CASE WHEN det < 0 THEN -det2 ELSE det2 END AS HUGEINT) AS VARCHAR) AS slope_dow_num,
           CAST(CAST(abs(det) AS HUGEINT) AS VARCHAR) AS det_den
    FROM d
    """,
    tags=("timeseries", "statistics", "exact"),
)
def regression_two_factor_cramer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-factor least squares (value-cents ~ hour-of-day + day-of-
    week) solved EXACTLY: the 3×3 normal equations by Cramer's rule
    over arbitrary-precision integers — Spark DECIMAL(38,0), DuckDB
    HUGEINT — extending regression_value_by_hour's exact-moment
    discipline from one regressor to a design matrix. The coefficients
    are emitted as exact rationals (numerator, shared positive
    denominator |det|, both sign-normalized) rendered as digit strings,
    so the comparison is bit-exact with no float division anywhere.

    Why this shape scales: the fact scan reduces to NINE map-side-
    combinable BIGINT moment sums (each bounded: Σx₁y ≤ 23·5.6e4·n —
    within int64 through sf well past 1.0); only the final 3×3
    determinant arithmetic — nine numbers, one row — needs 38-digit
    width. A 100 TB fit is one aggregate; the linear algebra is O(1).
    DOW parity: DuckDB's extract(dow) is 0=Sunday; Spark's dayofweek()
    is 1=Sunday, so the portable expression is dayofweek(ts)-1."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        F.hour("ts").cast("long").alias("x1"),
        (F.dayofweek("ts") - F.lit(1)).cast("long").alias("x2"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("y"),
    )
    s = obs.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x1").cast("decimal(38,0)").alias("sx1"),
        F.sum("x2").cast("decimal(38,0)").alias("sx2"),
        F.sum(F.col("x1") * F.col("x1")).cast("decimal(38,0)").alias("sx11"),
        F.sum(F.col("x1") * F.col("x2")).cast("decimal(38,0)").alias("sx12"),
        F.sum(F.col("x2") * F.col("x2")).cast("decimal(38,0)").alias("sx22"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("decimal(38,0)").alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).cast("decimal(38,0)").alias("sx2y"),
    )
    d = s.select(
        F.expr(
            "n*(sx11*sx22 - sx12*sx12) - sx1*(sx1*sx22 - sx12*sx2)"
            " + sx2*(sx1*sx12 - sx11*sx2)"
        ).alias("det"),
        F.expr(
            "sy*(sx11*sx22 - sx12*sx12) - sx1*(sx1y*sx22 - sx12*sx2y)"
            " + sx2*(sx1y*sx12 - sx11*sx2y)"
        ).alias("det0"),
        F.expr(
            "n*(sx1y*sx22 - sx12*sx2y) - sy*(sx1*sx22 - sx12*sx2)"
            " + sx2*(sx1*sx2y - sx1y*sx2)"
        ).alias("det1"),
        F.expr(
            "n*(sx11*sx2y - sx1y*sx12) - sx1*(sx1*sx2y - sx1y*sx2)"
            " + sy*(sx1*sx12 - sx11*sx2)"
        ).alias("det2"),
    )
    sign = F.when(F.col("det") < 0, F.lit(-1)).otherwise(F.lit(1))
    return d.select(
        (sign * F.col("det0")).cast("decimal(38,0)").cast("string").alias("intercept_num"),
        (sign * F.col("det1")).cast("decimal(38,0)").cast("string").alias("slope_hour_num"),
        (sign * F.col("det2")).cast("decimal(38,0)").cast("string").alias("slope_dow_num"),
        F.abs(F.col("det")).cast("decimal(38,0)").cast("string").alias("det_den"),
    )


@register(
    "rle_event_runs",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rnt
      FROM events)
    SELECT user_id, event_type,
           min(ts) AS run_start, max(ts) AS run_end,
           CAST(count(*) AS BIGINT) AS run_len
    FROM o
    GROUP BY user_id, event_type, rn - rnt
    """,
    tags=("timeseries", "window"),
)
def rle_event_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of each user's event stream: collapse
    CONSECUTIVE events of the same type into one (start, end, length)
    run — the classic gaps-and-islands identity (overall row_number
    minus per-type row_number is constant exactly within a run). The
    sensor/clickstream compression primitive: "user did 14 scrolls,
    then 1 purchase, then 3 errors", also the de-bounce step before
    path mining (event_path_trigrams sees runs, not repeats).

    Tiebreak (ts, event_id) makes the sequence — and therefore every
    run boundary — deterministic in both engines. One partitioned sort
    serves both row_numbers (same window ordering), then one hash
    aggregate: two shuffles total, no self-join, O(events) state."""
    ev = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            (F.row_number().over(w_all) - F.row_number().over(w_typ)).alias("grp"),
        )
        .groupBy("user_id", "event_type", "grp")
        .agg(
            F.min("ts").alias("run_start"),
            F.max("ts").alias("run_end"),
            F.count(F.lit(1)).cast("long").alias("run_len"),
        )
        .drop("grp")
    )


_TREND_BASE_S = 1_704_067_200  # 2024-01-01 00:00:00 UTC (events fixture epoch)


@register(
    "user_value_trend_slopes",
    oracle=f"""
    WITH pts AS (
      SELECT user_id,
             (epoch_us(ts) // 3600000000) - ({_TREND_BASE_S} // 3600) AS x,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL),
    mom AS (
      SELECT user_id, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM pts GROUP BY user_id)
    SELECT user_id, CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den
    FROM mom
    """,
    tags=("timeseries", "statistics"),
)
def user_value_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED model fitting: an independent least-squares trend line per
    user (is this account's spend drifting up?) — thousands of tiny
    models from ONE aggregation pass, the map-side-combinable moment
    trick of regression_value_by_hour applied per key. x is the hour
    index since the fixture epoch (integer), y exact cents; the slope
    is emitted as the exact rational (slope_num, slope_den) — cents per
    hour = num/den — so no integral division runs at all and there is
    no quotient rounding convention to audit (measured: both engines
    truncate toward zero on negatives — they agree — but emitting the
    rational sidesteps the question entirely).

    slope_den = n·Σx² − (Σx)² ≥ 0 by Cauchy-Schwarz; it is 0 exactly
    when a user's events all land in one hour (slope undefined — the
    consumer's NULL case, kept explicit rather than masked). Magnitudes:
    hour-granularity x keeps every moment within BIGINT through sf1000;
    a 100 TB deployment with billions of rows per user switches the two
    closing products to DECIMAL(38,0) (chisq_independence shows the
    pattern). One shuffle, map-side partials, output one row per user."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    pts = ev.select(
        "user_id",
        (F.expr("unix_micros(ts) div 3600000000") - F.lit(_TREND_BASE_S // 3600)).alias("x"),
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("y"),
    )
    mom = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return mom.select(
        "user_id",
        F.col("n").cast("long").alias("n"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("long").alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("long").alias("slope_den"),
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    c AS (SELECT event_type AS from_type, nxt AS to_type, count(*) AS n
          FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT from_type, sum(n) AS row_total FROM c GROUP BY 1)
    SELECT c.from_type, c.to_type,
           CAST(c.n AS BIGINT) AS n,
           CAST(t.row_total AS BIGINT) AS row_total,
           CAST((1000000 * c.n) // t.row_total AS BIGINT) AS p_micro
    FROM c JOIN t ON t.from_type = c.from_type
    """,
    tags=("timeseries", "statistics", "window"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: P(next
    event type | current event type) estimated over every consecutive
    pair in every user's (ts, event_id)-ordered stream — the model
    behind next-action prediction, anomaly scoring ("this transition
    has probability 3e-4"), and the stationary-flow analyses
    event_path_trigrams samples at depth 3. Counts exact, probability
    as the integer micro floor-div with (n, row_total) alongside so the
    consumer can re-derive the exact rational.

    One partitioned sort produces every (state, next) pair via lead()
    — no self-join — then two tiny aggregates at the |types|² and
    |types| dimensions; the matrix is dimension-sized however large
    the corpus."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).where(F.col("nxt").isNotNull())
    # the |types|² count matrix feeds the row totals and the output:
    # materialize once or the events sort+lead runs twice (non-CSE)
    c = s.groupBy(
        F.col("event_type").alias("from_type"), F.col("nxt").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    t = c.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return c.join(F.broadcast(t), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        F.col("row_total").cast("long").alias("row_total"),
        F.expr("CAST((1000000 * n) div row_total AS BIGINT)").alias("p_micro"),
    )


@register(
    "welch_t2_by_event_type",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS HUGEINT) AS s,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                      * CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS HUGEINT) AS q
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type HAVING count(*) >= 2)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           CAST(CASE WHEN a.s * b.n > b.s * a.n THEN 1
                     WHEN a.s * b.n < b.s * a.n THEN -1 ELSE 0 END AS BIGINT) AS mean_diff_sign,
           CAST((1000 * (a.s * b.n - b.s * a.n) * (a.s * b.n - b.s * a.n)
                  * (a.n - 1) * (b.n - 1))
                // ((a.n * a.q - a.s * a.s) * b.n * b.n * (b.n - 1)
                    + (b.n * b.q - b.s * b.s) * a.n * a.n * (a.n - 1)) AS BIGINT) AS t2_milli
    FROM pts a JOIN pts b ON a.event_type < b.event_type
    WHERE (a.n * a.q - a.s * a.s) + (b.n * b.q - b.s * b.s) > 0
    """,
    tags=("timeseries", "statistics"),
)
def welch_t2_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between every pair of event
    types, EXACT: t² emitted as the scaled integral quotient
    floor(1000·N/D) where the (n₁n₂)² factor cancels algebraically —
    N = (s₁n₂ − s₂n₁)²(n₁−1)(n₂−1),
    D = (n₁q₁ − s₁²)n₂²(n₂−1) + (n₂q₂ − s₂²)n₁²(n₁−1) —
    so "is the mean spend of purchases different from errors?" gets a
    reproducible answer with no float ever aggregated (the A/B-test
    primitive behind every experimentation platform, the two-sample
    sibling of chisq_independence's contingency test). mean_diff_sign
    carries the direction the squared statistic erases.

    Intermediates reach ~1e38 around sf1 (same band as
    chisq_independence): both engines compute in 38-digit integers
    (DECIMAL(38,0) div / HUGEINT //; every operand of the final
    division is non-negative, so floor == trunc). Beyond that, the
    moment sums — already map-side-combinable BIGINTs — would feed a
    float statistic instead; the exact form is the fixture-scale
    correctness anchor. One scan → |types| moment rows → |types|²/2
    broadcast-joined outputs."""
    dec = "DECIMAL(38,0)"
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    pts = (
        ev.select("event_type", cents.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("s"),
            F.sum(F.col("y") * F.col("y")).alias("q"),
        )
        .where(F.col("n") >= 2)
        .select(
            "event_type",
            F.expr(f"CAST(n AS {dec})").alias("n"),
            F.expr(f"CAST(s AS {dec})").alias("s"),
            F.expr(f"CAST(q AS {dec})").alias("q"),
        )
        # both join sides read the same |types|-row moment table:
        # materialize once or the events scan runs twice (non-CSE)
        .localCheckpoint(eager=True)
    )
    a = pts.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("q").alias("qa"),
    )
    b = pts.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"), F.col("s").alias("sb"), F.col("q").alias("qb"),
    )
    # Degenerate-but-legal guard: the pooled denominator is zero iff BOTH
    # groups have zero variance (each nq−s² ≥ 0 and n ≥ 2). On that input
    # DuckDB '//' raises division-by-zero while Spark 'div' yields NULL —
    # the pair is excluded identically on both sides instead (the test is
    # undefined there anyway: no within-group variation to test against).
    j = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b")).where(
        F.expr("(na * qa - sa * sa) + (nb * qb - sb * sb) > 0")
    )
    return j.select(
        "type_a",
        "type_b",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.expr(
            "CAST(CASE WHEN sa * nb > sb * na THEN 1"
            " WHEN sa * nb < sb * na THEN -1 ELSE 0 END AS BIGINT)"
        ).alias("mean_diff_sign"),
        F.expr(
            "CAST((1000 * (sa * nb - sb * na) * (sa * nb - sb * na)"
            " * (na - 1) * (nb - 1))"
            " div ((na * qa - sa * sa) * nb * nb * (nb - 1)"
            " + (nb * qb - sb * sb) * na * na * (na - 1)) AS BIGINT)"
        ).alias("t2_milli"),
    )


@register(
    "daily_revenue_wow_change",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1),
    w AS (
      SELECT day, cents,
             lag(cents, 7) OVER (ORDER BY day) AS prev_cents
      FROM daily)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(cents AS BIGINT) AS cents,
           CAST(prev_cents AS BIGINT) AS prev_cents,
           CAST(cents - prev_cents AS BIGINT) AS delta_cents
    FROM w
    """,
    tags=("timeseries", "window", "analytics"),
)
def daily_revenue_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue delta — the period-over-period BI staple:
    daily purchase revenue in exact cents next to the value 7 rows
    (days) earlier and the exact delta, NULL for the first week (both
    engines agree on the NULL frame). The lag runs over the DAILY
    aggregate — |days| rows, dimension-sized — so the unpartitioned
    window is a deliberate non-issue (the skyline/layout precedent),
    while the corpus-sized work is one map-side-combinable aggregate.

    Exact integer cents end-to-end: a float sum here would make the
    deltas (differences of large nearly-equal numbers) maximally
    sensitive to accumulation order — the op where the money.py
    discipline pays off most visibly."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")).alias("cents")
    )
    w = Window.orderBy("day")
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("cents").cast("long").alias("cents"),
        F.lag("cents", 7).over(w).cast("long").alias("prev_cents"),
        (F.col("cents") - F.lag("cents", 7).over(w)).cast("long").alias("delta_cents"),
    )


@register(
    "daily_revenue_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1),
    c AS (
      SELECT day, cents,
             sum(cents) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum
      FROM daily),
    p AS (
      SELECT day, cents, cum,
             max(cum) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS peak
      FROM c)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(cum AS BIGINT) AS cum_cents,
           CAST(peak AS BIGINT) AS peak_cents,
           CAST(peak - cum AS BIGINT) AS drawdown_cents
    FROM p
    """,
    tags=("timeseries", "window", "analytics"),
)
def daily_revenue_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak drawdown of the cumulative daily revenue curve — the
    finance risk primitive (max drawdown = max over days of
    peak-to-date − value), here over exact integer cents so the
    subtraction of near-equal cumulative sums is exact: two stacked
    running windows (cumulative sum, then running max) over the
    dimension-sized daily series — the same prefix-scan family as
    clamped_running_balance, with max∘sum instead of the clamp
    recurrence. The corpus-sized work is one map-side-combinable daily
    aggregate; the windows run over |days| rows."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")).alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = daily.select("day", "cents", F.sum("cents").over(w).alias("cum"))
    p = c.select("day", "cents", "cum", F.max("cum").over(w).alias("peak"))
    return p.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("cum").cast("long").alias("cum_cents"),
        F.col("peak").cast("long").alias("peak_cents"),
        (F.col("peak") - F.col("cum")).cast("long").alias("drawdown_cents"),
    )


EWMA_LAGS = 16  # truncated exponential window: weights 2^15 .. 2^0


@register(
    "ewma_truncated_user_value",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, ts,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL),
    l AS (
      SELECT user_id, event_id,
             row_number() OVER w AS rn,
             {" + ".join(f"COALESCE(lag(y, {k}) OVER w, 0) * {1 << (EWMA_LAGS - 1 - k)}" for k in range(EWMA_LAGS))} AS num
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, event_id,
           CAST(num AS BIGINT) AS ewma_num,
           CAST({1 << EWMA_LAGS} - (CAST(1 AS BIGINT) << CAST({EWMA_LAGS} - least(rn, {EWMA_LAGS}) AS INTEGER)) AS BIGINT) AS ewma_den
    FROM l
    """,
    tags=("timeseries", "window", "statistics"),
)
def ewma_truncated_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α = 1/2), EXACT: the
    infinite recurrence is truncated at EWMA_LAGS lags (the tail weight
    below 2⁻¹⁶ — under the cent), which turns the "inherently
    sequential" EWMA into a FIXED weighted window: numerator
    Σ lag_k(cents)·2^(15−k) in pure BIGINTs, denominator 2¹⁶ − 2^(16−m)
    from the row number (m = available lags, so the series head is
    exact too, not zero-padded). Emitted as the exact rational
    (num, den) — the smoothing primitive behind anomaly baselines and
    monitoring dashboards, here with bit-reproducibility no float EWMA
    has. One partitioned sort serves all 16 lags and the row number
    (same window); recurrence-free ⇒ no driver loop, no state."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    y = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    s = ev.select("user_id", "event_id", "ts", y.alias("y"))
    num = None
    for k in range(EWMA_LAGS):
        term = F.coalesce(F.lag("y", k).over(w), F.lit(0)) * F.lit(1 << (EWMA_LAGS - 1 - k))
        num = term if num is None else num + term
    rn = F.row_number().over(w)
    return s.select(
        "user_id",
        "event_id",
        num.cast("long").alias("ewma_num"),
        rn.alias("rn"),
    ).select(
        "user_id",
        "event_id",
        "ewma_num",
        (
            F.lit(1 << EWMA_LAGS).cast("long")
            - F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({EWMA_LAGS} - least(rn, {EWMA_LAGS}) AS INT))"
            )
        ).alias("ewma_den"),
    )


HYST_HI = 90  # alarm turns ON when value crosses above
HYST_LO = 30  # ...and OFF only when it falls below (two-level hysteresis)


@register(
    "hysteresis_alert_state",
    oracle=f"""
    WITH m AS (
      SELECT user_id, event_id, ts,
             CASE WHEN value > {HYST_HI} THEN 'on'
                  WHEN value < {HYST_LO} THEN 'off'
                  ELSE NULL END AS marker
      FROM events WHERE value IS NOT NULL)
    SELECT user_id, event_id,
           COALESCE(
             LAST_VALUE(marker IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             'off') AS alert_state
    FROM m
    """,
    tags=("timeseries", "window", "statistics"),
)
def hysteresis_alert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-threshold HYSTERESIS alerting (alarm ON above HYST_HI, OFF
    only below HYST_LO — the debounce that stops threshold-flapping in
    every monitoring system): the state machine LOOKS inherently
    sequential (state depends on the entire history), but because the
    state only changes at boundary-crossing events, it collapses to the
    LOCF identity — state(t) = last non-null crossing marker — one
    ignore-nulls window, no recurrence, no driver loop, no Python
    state (clamped_running_balance's trick applied to a two-level
    automaton; mid-band rows inherit whichever threshold fired last,
    which IS hysteresis semantics). Rows before any crossing default
    'off'. One partitioned sort; scan-shaped otherwise."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    marker = (
        F.when(F.col("value") > HYST_HI, F.lit("on"))
        .when(F.col("value") < HYST_LO, F.lit("off"))
        .otherwise(F.lit(None))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.coalesce(F.last(marker, ignorenulls=True).over(w), F.lit("off")).alias("alert_state"),
    )


CEP_WINDOW_US = 600 * 1_000_000  # pattern window: click within 10 min


@register(
    "cep_click_error_no_purchase",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             LAST_VALUE(CASE WHEN event_type = 'click'
                             THEN epoch_us(ts) END IGNORE NULLS) OVER w AS lc,
             LAST_VALUE(CASE WHEN event_type = 'purchase'
                             THEN epoch_us(ts) END IGNORE NULLS) OVER w AS lp
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT user_id, event_id, CAST(us - lc AS BIGINT) AS gap_us
    FROM s
    WHERE event_type = 'error' AND lc IS NOT NULL
      AND us - lc <= {CEP_WINDOW_US}
      AND (lp IS NULL OR lp < lc)
    """,
    tags=("timeseries", "window", "cep"),
)
def cep_click_error_no_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern matching — "click, then error
    within 10 minutes, with NO purchase in between" (the rage-click /
    broken-checkout detector) — the MATCH_RECOGNIZE shape Spark has no
    SQL surface for, expressed as pure window algebra: two conditional
    LOCF columns over ONE sort (last click time, last purchase time,
    frame ending 1 PRECEDING so the current row never matches itself)
    turn the sequence predicate into row-local arithmetic: the
    "nothing between" clause is just lp < lc. No self-join, no
    per-event range probe — O(events) after one partitioned sort, where
    the naive encoding is two range joins. Negative patterns
    ("without X between") are exactly what join-based encodings get
    wrong or quadratic; the LOCF form gets them for free."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lc = F.last(
        F.when(F.col("event_type") == "click", F.unix_micros("ts")), ignorenulls=True
    ).over(w)
    lp = F.last(
        F.when(F.col("event_type") == "purchase", F.unix_micros("ts")), ignorenulls=True
    ).over(w)
    s = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        lc.alias("lc"),
        lp.alias("lp"),
    )
    return (
        s.where(
            (F.col("event_type") == "error")
            & F.col("lc").isNotNull()
            & (F.col("us") - F.col("lc") <= CEP_WINDOW_US)
            & (F.col("lp").isNull() | (F.col("lp") < F.col("lc")))
        )
        .select("user_id", "event_id", (F.col("us") - F.col("lc")).cast("long").alias("gap_us"))
    )


@register(
    "anova_f_value_by_type",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS HUGEINT) AS s,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                      * CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS HUGEINT) AS q
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type),
    t AS (
      SELECT count(*) AS k, sum(n) AS nt, sum(s) AS st, sum(q) AS qt,
             sum((s * s) // n) AS ssb_part
      FROM g)
    SELECT CAST(k AS BIGINT) AS k, CAST(nt AS BIGINT) AS n_total,
           CAST(ssb_part - (st * st) // nt AS BIGINT) AS ssb_floor,
           CAST(qt - ssb_part AS BIGINT) AS ssw_ceil,
           CAST((1000 * (ssb_part - (st * st) // nt) * (nt - k))
                // ((qt - ssb_part) * (k - 1)) AS BIGINT) AS f_milli
    FROM t
    WHERE (qt - ssb_part) * (k - 1) > 0
    """,
    tags=("timeseries", "statistics"),
)
def anova_f_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across event types — does ANY type
    differ in mean value? (the k-group generalization of
    welch_t2_by_event_type's pairwise test, the other half of the
    experimentation toolkit). Between-group and within-group sums of
    squares from the same integer moments as every exact statistic
    here: SSB = Σ sᵢ²/nᵢ − S²/N, SSW = Q − Σ sᵢ²/nᵢ, F = (SSB/(k−1)) /
    (SSW/(N−k)) — with the per-group sᵢ²/nᵢ terms floor-divided
    IDENTICALLY in both engines before summing (the floor residue <1
    per group is far below the statistic's milli precision, and
    determinism — not unfloored purity — is the contract, so the floors
    ARE the spec). One |types|-row aggregate, one final row."""
    dec = "DECIMAL(38,0)"
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    y = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    g = (
        ev.select("event_type", y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("s"),
            F.sum(F.col("y") * F.col("y")).alias("q"),
        )
        .select(
            F.expr(f"CAST(n AS {dec})").alias("n"),
            F.expr(f"CAST(s AS {dec})").alias("s"),
            F.expr(f"CAST(q AS {dec})").alias("q"),
        )
    )
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.sum("q").alias("qt"),
        F.sum(F.expr("(s * s) div n")).alias("ssb_part"),
    )
    # Degenerate-but-legal guard (same contract as welch_t2): the F
    # denominator is zero iff k == 1 or every group has zero within-group
    # variance (qt == ssb_part; each q − s²/n ≥ 0). DuckDB '//' errors on
    # /0 where Spark 'div' yields NULL — emit no row identically instead.
    t = t.where(F.expr("(qt - ssb_part) * (k - 1) > 0"))
    return t.select(
        F.col("k").cast("long").alias("k"),
        F.col("nt").cast("long").alias("n_total"),
        F.expr("CAST(ssb_part - (st * st) div nt AS BIGINT)").alias("ssb_floor"),
        F.expr("CAST(qt - ssb_part AS BIGINT)").alias("ssw_ceil"),
        F.expr(
            "CAST((1000 * (ssb_part - (st * st) div nt) * (nt - k))"
            " div ((qt - ssb_part) * (k - 1)) AS BIGINT)"
        ).alias("f_milli"),
    )


@register(
    "cohort_ltv_curve",
    oracle="""
    WITH first_day AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    rev AS (
      SELECT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS age_days,
             CAST(floor(e.value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events e
      JOIN first_day f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'),
    wk AS (
      SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
             age_days // 7 AS age_week,
             sum(cents) AS cents,
             count(DISTINCT user_id) AS buyers
      FROM rev GROUP BY 1, 2)
    SELECT cohort_day, CAST(age_week AS BIGINT) AS age_week,
           CAST(cents AS BIGINT) AS week_cents,
           CAST(sum(cents) OVER (PARTITION BY cohort_day ORDER BY age_week
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
           CAST(buyers AS BIGINT) AS buyers
    FROM wk
    """,
    tags=("timeseries", "window", "analytics"),
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — cumulative purchase revenue by
    (signup cohort, weeks since signup), the revenue companion to
    cohort_retention's count triangle and the payback-period input
    every growth model reads ("week-4 LTV of the Jan-08 cohort").
    Cohort = first-PURCHASE day (first activity degenerates to one
    cohort on this always-on fixture — first conversion is also the
    metric real LTV curves cohort on); age = whole weeks since; exact cents
    with the cumulative window running over the cohort×age grid —
    dimension-sized, never the fact table. Monotonicity of cum_cents
    per cohort and the telescoping to per-cohort totals are asserted
    in tests. Two shuffles: the first-purchase aggregate (user) and
    the cohort-grid aggregate (cohort, week)."""
    ev = load_table(spark, sf_dir, "events")
    first = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("cohort_day"))
    )
    rev = (
        ev.where(F.col("event_type") == "purchase")
        .join(first, "user_id")
        .select(
            "user_id",
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("cohort_day")) / 7
            ).cast("long").alias("age_week"),
            F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
        )
    )
    wk = rev.groupBy("cohort_day", "age_week").agg(
        F.sum("cents").alias("cents"),
        F.countDistinct("user_id").alias("buyers"),
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return wk.select(
        "cohort_day",
        F.col("age_week").cast("long").alias("age_week"),
        F.col("cents").cast("long").alias("week_cents"),
        F.sum("cents").over(w).cast("long").alias("cum_cents"),
        F.col("buyers").cast("long").alias("buyers"),
    )


HUBER_DELTA = 500.0  # cents; residuals beyond this get down-weighted
HUBER_ITERS = 12


def _huber_bucket_kernel(pdf):
    """Per-BUCKET grouped-map kernel: loop the bucket's users through
    the per-user IRLS fit inside ONE Python invocation. Grouping the
    Spark side by a coarse bucket instead of the raw user key is the
    cogroup_asof_enrich lesson applied to the grouped map: per-user
    groups paid one Arrow round-trip + kernel call per user (measured
    4.4 s at sf0.1 for ~15k users; bucketed: 2.3 s), while the
    per-user numpy arithmetic — and hence every emitted float — is
    UNCHANGED (the pure-Python IRLS equality test still passes
    bit-for-bit).

    Round-10 optimization (guide §4.2 — batch the Python-side work):
    the per-user pandas machinery (groupby sub-frame + per-user
    sort_values + a one-row DataFrame per user + a 15k-frame concat)
    dominated the kernel, not the IRLS. One global mergesort on
    (user_id, x, event_id) yields every user's rows contiguously in
    EXACTLY the order the per-user sort produced, so the fit runs on
    numpy slices of two float64 arrays converted once; outputs collect
    into plain lists and one DataFrame per bucket. Elementwise int→
    float64 conversion and numpy's pairwise summation depend only on
    the values and their order, so every emitted float is bit-identical
    to the old path's."""
    guard_zip_caches()
    import numpy as np
    import pandas as pd

    if pdf.empty:
        return pd.DataFrame(
            {
                "user_id": pd.Series(dtype="int64"),
                "n": pd.Series(dtype="int64"),
                "slope_milli": pd.Series(dtype="float64"),
                "intercept_cents": pd.Series(dtype="float64"),
            }
        )
    pdf = pdf.sort_values(["user_id", "x", "event_id"], kind="mergesort")
    u = pdf["user_id"].to_numpy()
    x_all = pdf["x"].to_numpy(dtype="float64")
    y_all = pdf["y"].to_numpy(dtype="float64")
    bounds = np.flatnonzero(np.r_[True, u[1:] != u[:-1], True])
    uids, ns, slopes, intercepts = [], [], [], []
    for s, e in zip(bounds[:-1], bounds[1:]):
        slope, intercept = _huber_fit_arrays(x_all[s:e], y_all[s:e])
        uids.append(int(u[s]))
        ns.append(int(e - s))
        slopes.append(slope)
        intercepts.append(intercept)
    return pd.DataFrame(
        {
            "user_id": uids,
            "n": ns,
            "slope_milli": slopes,
            "intercept_cents": intercepts,
        }
    )


def _huber_fit_arrays(x, y):
    """Per-user robust trend fit: IRLS with Huber weights on
    (hour-index, cents). numpy float64 end to end — deterministic for a
    given input set (the caller presorts), verified against a pure-
    Python replication in tests. Returns (slope_milli, intercept_cents)
    — None/None when the fit is undefined (n < 2 or constant x)."""
    import numpy as np

    n = len(x)
    if n < 2 or np.all(x == x[0]):
        return None, None
    w = np.ones(n)
    a = b = 0.0  # y ≈ a + b·x
    for _ in range(HUBER_ITERS):
        sw = w.sum()
        sx, sy = (w * x).sum(), (w * y).sum()
        sxx, sxy = (w * x * x).sum(), (w * x * y).sum()
        den = sw * sxx - sx * sx
        if den == 0:
            break
        b = (sw * sxy - sx * sy) / den
        a = (sy - b * sx) / sw
        r = y - a - b * x
        ar = np.abs(r)
        w = np.where(ar <= HUBER_DELTA, 1.0, HUBER_DELTA / ar)
    return float(np.floor(b * 1000.0 + 0.5)), float(np.floor(a + 0.5))


@register(
    "huber_trend_slopes_grouped",
    # rows-only by design: IRLS is an iterative float fit with no
    # SQL-expressible closed form; tests replay the identical IRLS in
    # pure Python (same float64 ops => equal) and assert the robustness
    # property OLS lacks.
    tags=("timeseries", "statistics", "custom-operator", "approx"),
)
def huber_trend_slopes_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST per-user trend (Huber IRLS) via grouped-map
    ``groupBy().applyInPandas`` — the batch Pandas API family the rest
    of the registry hadn't needed (mapInPandas kernels, pandas UDAFs,
    and the streaming applyInPandasWithState machines cover the
    others): each user's points arrive as ONE pandas frame, numpy runs
    an arbitrary iterative fit, one summary row returns. This is the
    "thousands of small models, each too procedural for SQL" shape —
    user_value_trend_slopes' exact-OLS sibling for data with outliers
    (a single fat-finger purchase swings OLS; Huber's re-weighting
    shrugs it off — the robustness delta is asserted in tests).

    Scale: one shuffle on a COARSE bucket of the user key — the kernel
    loops the bucket's users through the same numpy fit, so Python pays
    256 invocations instead of one per user (the cogroup_asof_enrich
    invocation-overhead lesson; 4.4→2.3 s at sf0.1, floats
    unchanged). Each bucket must fit one worker's memory; raise
    ASOF_COGROUP_BUCKETS-style the bucket count at larger scale.
    Arrow-batched both directions; no state, no driver loop."""
    # null user_id rows are DROPPED up front (ADVICE r10): the old
    # per-user pandas groupby silently dropped NaN keys, but the
    # vectorized kernel's int(u[s]) would crash on a NaN key — with any
    # null user_id Arrow delivers the column as float64. The filter
    # preserves the original drop semantics instead of failing the query.
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    pts = ev.select(
        F.expr("user_id % 256").alias("bkt"),
        "user_id",
        "event_id",
        (F.expr("unix_micros(ts) div 3600000000") - F.lit(_TREND_BASE_S // 3600)).alias("x"),
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("y"),
    )
    return pts.groupBy("bkt").applyInPandas(
        _huber_bucket_kernel,
        "user_id bigint, n bigint, slope_milli double, intercept_cents double",
    )


ASOF_COGROUP_BUCKETS = 256


def _asof_cogroup_kernel(evs, ords):
    """Per-BUCKET pandas merge_asof with ``by="user_id"``: one C-speed
    library call handles every user in the bucket. Grouping by a coarse
    bucket instead of the raw user key is deliberate: a cogrouped map
    pays one Python kernel invocation PER GROUP, and per-user groups
    made that invocation overhead the dominant cost (measured 21.5 s at
    sf0.1 for ~15k users — and FASTER on 10× data purely because AQE
    happened to keep more partitions). 256 buckets → 256 kernel calls
    at any corpus size; merge_asof's ``by`` argument does the per-user
    as-of internally. Either side may be empty."""
    guard_zip_caches()
    import pandas as pd

    if evs.empty:
        return pd.DataFrame(
            columns=["event_id", "user_id", "day", "order_key", "order_day"]
        )
    evs = evs.sort_values(["day", "event_id"])
    if ords.empty:
        out = evs[["event_id", "user_id", "day"]].copy()
        out["order_key"] = pd.Series([None] * len(out), dtype="Int64")
        out["order_day"] = pd.Series([None] * len(out), dtype="Int64")
        return out[["event_id", "user_id", "day", "order_key", "order_day"]]
    # sort by (day, orderkey): merge_asof takes the LAST row at an equal
    # key within a by-group, making max-orderkey the deterministic
    # same-day tiebreak — the same rule the SQL oracle spells with
    # ORDER BY oday DESC, key DESC
    ords = ords.sort_values(["oday", "o_orderkey"]).rename(
        columns={"o_custkey": "user_id"}
    )
    merged = pd.merge_asof(
        evs,
        ords,
        left_on="day",
        right_on="oday",
        by="user_id",
        direction="backward",
    )
    return pd.DataFrame(
        {
            "event_id": merged["event_id"],
            "user_id": merged["user_id"],
            "day": merged["day"],
            "order_key": merged["o_orderkey"].astype("Int64"),
            "order_day": merged["oday"].astype("Int64"),
        }
    )


@register(
    "cogroup_asof_enrich",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day
      FROM events),
    o AS (
      SELECT o_custkey, o_orderkey,
             CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS oday
      FROM orders),
    m AS (
      SELECT e.event_id, e.user_id, e.day, o.o_orderkey, o.oday,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.oday DESC NULLS LAST,
                                         o.o_orderkey DESC NULLS LAST) AS rn
      FROM e LEFT JOIN o ON o.o_custkey = e.user_id AND o.oday <= e.day)
    SELECT event_id, user_id, day,
           o_orderkey AS order_key, oday AS order_day
    FROM m WHERE rn = 1
    """,
    tags=("timeseries", "join", "pandas-api", "asof"),
)
def cogroup_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of enrichment through the COGROUPED-MAP Pandas API
    (groupBy().cogroup().applyInPandas) — the third and last member of
    the Pandas API family next to mapInPandas (multimodal kernels) and
    the grouped map (huber_trend_slopes_grouped): each event picks the
    user's latest order on or before the event's day via
    pandas.merge_asof, per user, with both inputs delivered
    co-partitioned by the cogroup shuffle.

    The window-based as-of joins in this registry (asof_join_latest_order
    and kin) are the preferred PURE-CATALYST spelling; this operator
    exists for the case they can't express — when the per-key merge
    logic is an existing pandas/numpy library routine (backtesting
    engines, feature-store point-in-time code) that would be rewritten
    at high risk. The SQL oracle pins merge_asof's exact semantics
    including the same-day max-orderkey tiebreak and unmatched-event
    NULLs, so the library path is held to the declarative spec.

    Scale shape: ONE co-partitioning shuffle of both inputs on a COARSE
    bucket of the user key (ids and days only — 3 narrow columns a
    side); the kernel runs merge_asof(by="user_id") once per bucket, so
    the per-group Python invocation count is fixed at 256 instead of
    growing with the user dimension (per-user groups measured 21.5 s of
    pure invocation overhead at sf0.1 — see the kernel docstring).
    Output is event-sized. A skewed BUCKET is the caveat, shared with
    every grouped map — raise ASOF_COGROUP_BUCKETS at larger scale."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"user_id % {ASOF_COGROUP_BUCKETS}").alias("bkt"),
        "event_id",
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.expr(f"o_custkey % {ASOF_COGROUP_BUCKETS}").alias("bkt"),
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("oday"),
    )
    return (
        ev.groupBy("bkt")
        .cogroup(o.groupBy("bkt"))
        .applyInPandas(
            _asof_cogroup_kernel,
            "event_id bigint, user_id bigint, day bigint, "
            "order_key bigint, order_day bigint",
        )
    )


@register(
    "session_window_batch_agg",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sidx
      FROM ordered)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') || ' UTC' AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') || ' UTC'
             AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sidx
    """,
    tags=("timeseries", "session", "sql-surface", "window"),
)
def session_window_batch_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window aggregation in BATCH mode, proven
    equivalent to the gaps-and-islands closed form: one
    ``groupBy(session_window(ts, '30 minutes'), user)`` replaces the
    lag → flag → running-sum → group chain (sessionize_events spells
    that form; streaming_session_window runs the same operator on a
    stream). The oracle IS the islands spelling — including Spark's
    session-end convention (last event + gap), so the operator's exact
    window semantics are pinned, not just row counts. One shuffle on
    the session-window grouping; the merge of overlapping per-row
    windows happens inside the aggregation operator."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.concat(
                F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss"),
                F.lit(" UTC"),
            ).alias("session_start"),
            F.concat(
                F.date_format(F.col("session_window.end"), "yyyy-MM-dd HH:mm:ss"),
                F.lit(" UTC"),
            ).alias("session_end"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    )


def _pava_kernel(pdf):
    """Pool-Adjacent-Violators over one group's (hour, w, s) cells, in
    EXACT integer arithmetic: blocks carry (Σw, Σs); a violation is the
    cross-multiplied rational comparison s_prev·w_next > s_next·w_prev
    (no float means ever); the fitted value per cell is the block mean
    floored to micro units with Python's // — the same floor DuckDB's
    // applies in the minimax oracle, so floors commute with the
    min/max envelope and oracle equality is exact."""
    guard_zip_caches()
    import pandas as pd

    pdf = pdf.sort_values("hour")
    blocks: list[list] = []  # [w, s, [hour, ...]]
    for hour, w, s in zip(pdf["hour"], pdf["w"], pdf["s"]):
        blocks.append([int(w), int(s), [int(hour)]])
        while (
            len(blocks) >= 2
            and blocks[-2][1] * blocks[-1][0] > blocks[-1][1] * blocks[-2][0]
        ):
            w2, s2, h2 = blocks.pop()
            blocks[-1][0] += w2
            blocks[-1][1] += s2
            blocks[-1][2].extend(h2)
    et = pdf["event_type"].iloc[0]
    out = {"event_type": [], "hour": [], "n": [], "fitted_micro": []}
    wmap = dict(zip(pdf["hour"], pdf["w"]))
    for w, s, hours in blocks:
        for h in hours:
            out["event_type"].append(et)
            out["hour"].append(h)
            out["n"].append(int(wmap[h]))
            out["fitted_micro"].append(s // w)
    return pd.DataFrame(out)


@register(
    "isotonic_hourly_value",
    oracle="""
    WITH cells AS (
      SELECT event_type AS et, CAST(hour(ts) AS BIGINT) AS hour,
             CAST(count(*) AS BIGINT) AS w,
             CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    rs AS (
      SELECT a.et, a.hour AS j, b.hour AS k,
             (SELECT sum(c.s) FROM cells c
              WHERE c.et = a.et AND c.hour BETWEEN a.hour AND b.hour) AS ss,
             (SELECT sum(c.w) FROM cells c
              WHERE c.et = a.et AND c.hour BETWEEN a.hour AND b.hour) AS ww
      FROM cells a JOIN cells b ON b.et = a.et AND b.hour >= a.hour),
    inner_min AS (
      SELECT i.et, i.hour, r.j, min(r.ss // r.ww) AS mn
      FROM cells i
      JOIN rs r ON r.et = i.et AND r.j <= i.hour AND r.k >= i.hour
      GROUP BY 1, 2, 3),
    mm AS (SELECT et, hour, max(mn) AS f FROM inner_min GROUP BY 1, 2)
    SELECT c.et AS event_type, c.hour, c.w AS n,
           CAST(m.f AS BIGINT) AS fitted_micro
    FROM cells c JOIN mm m ON m.et = c.et AND m.hour = c.hour
    """,
    tags=("timeseries", "statistics", "custom-operator", "pandas-udf"),
)
def isotonic_hourly_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC (monotone non-decreasing) regression of event value on
    hour-of-day per event type, via Pool-Adjacent-Violators — the
    order-constrained fit behind score calibration (isotonic
    calibration), dose-response and monotone-feature curves; a class no
    window/aggregate combination expresses.

    The oracle is the MINIMAX THEOREM (Robertson & Wright: the isotonic
    fit at i equals max_{j≤i} min_{k≥i} avg(y[j..k])) evaluated
    directly in SQL over the hour cells — so the sequential PAVA and
    the closed form must agree on every cell, exercising the theorem
    rather than replaying the algorithm. Exactness: cells carry integer
    (Σw, Σs); PAVA compares block means by cross-multiplication; both
    sides floor the final mean to micro units, and floor commutes with
    the min/max envelope (monotone), so equality is bit-exact. The
    oracle's O(cells³) enumeration is affordable because the cell
    domain is bounded (≤ 24 hours per type) — the same bounded-domain
    reasoning as the AUC histogram.

    Scale shape: ONE map-side-combinable aggregate collapses the fact
    table to ≤ 24·|types| cells; the grouped-map kernel then runs on
    the dimension-sized table (one pandas invocation per type). At
    100 TB nothing but the first aggregate touches the corpus."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cells = ev.groupBy(
        F.col("event_type"), F.hour("ts").cast("long").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("w"),
        F.sum(F.floor(F.col("value") * 1000000.0 + F.lit(0.5)).cast("long")).alias("s"),
    )
    return cells.groupBy("event_type").applyInPandas(
        _pava_kernel, "event_type string, hour bigint, n bigint, fitted_micro bigint"
    )


LIS_BUCKETS = 256


def _lis_arrow_kernel(table):
    """Patience-sorting LIS per user over one BUCKET's (user, day, cnt)
    rows — RAW ARROW in and out (no pandas materialization; the grouped
    sibling of multimodal_phash_arrow's mapInArrow). Strictly-increasing
    LIS via bisect on the tails array — O(n log n), the algorithm; the
    oracle proves the same number by max-plus path algebra instead."""
    guard_zip_caches()
    import bisect

    import pyarrow as pa

    users = table.column("user_id").to_pylist()
    days = table.column("d").to_pylist()
    cnts = table.column("c").to_pylist()
    rows = sorted(zip(users, days, cnts))
    out_u: list[int] = []
    out_n: list[int] = []
    out_l: list[int] = []
    i = 0
    while i < len(rows):
        j = i
        tails: list[int] = []
        while j < len(rows) and rows[j][0] == rows[i][0]:
            c = rows[j][2]
            pos = bisect.bisect_left(tails, c)
            if pos == len(tails):
                tails.append(c)
            else:
                tails[pos] = c
            j += 1
        out_u.append(rows[i][0])
        out_n.append(j - i)
        out_l.append(len(tails))
        i = j
    return pa.table(
        {
            "user_id": pa.array(out_u, pa.int64()),
            "n_days": pa.array(out_n, pa.int64()),
            "lis_len": pa.array(out_l, pa.int64()),
        }
    )


def _sql_maxplus_round(prev: str, out: str) -> str:
    """One max-plus 'squaring' of the increasing-pair edge relation:
    longest path doubles in reach per round, so ⌈log2(31)⌉ = 5 rounds
    cover any one-month daily sequence."""
    return f"""
    {out} AS (
      SELECT user_id, s, t, max(len) AS len FROM (
        SELECT user_id, s, t, len FROM {prev}
        UNION ALL
        SELECT x.user_id, x.s, y.t, x.len + y.len
        FROM {prev} x JOIN {prev} y ON y.user_id = x.user_id AND y.s = x.t
      ) GROUP BY 1, 2, 3)"""


def _sql_lis() -> str:
    rounds = "".join(
        "," + _sql_maxplus_round(f"e{i}", f"e{i + 1}") for i in range(5)
    )
    return f"""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    nd AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1),
    e0 AS (
      SELECT a.user_id, a.d AS s, b.d AS t, 1 AS len
      FROM daily a
      JOIN daily b ON b.user_id = a.user_id AND b.d > a.d AND b.c > a.c)
    {rounds}
    SELECT nd.user_id, nd.n_days,
           CAST(1 + coalesce(mx.len, 0) AS BIGINT) AS lis_len
    FROM nd
    LEFT JOIN (SELECT user_id, max(len) AS len FROM e5 GROUP BY 1) mx
      ON mx.user_id = nd.user_id
    """


@register(
    "user_lis_engagement",
    oracle=_sql_lis(),
    tags=("timeseries", "custom-operator", "statistics", "iterative"),
)
def user_lis_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest strictly-INCREASING subsequence of each user's daily
    event counts — the "streak-quality" engagement metric (how long a
    run of ever-better days does the user have, allowing gaps), and the
    canonical procedural algorithm no window/aggregate expresses: LIS
    needs either sequential DP or patience sorting.

    Algorithm vs algebra, twice over: Spark runs PATIENCE SORTING
    (bisect on tails, O(n log n)) inside a grouped ``applyInArrow``
    kernel — raw Arrow both directions, completing the Python-batch 2×2
    the registry claims as engine surface (mapInPandas ×
    multimodal_features, mapInArrow × phash_arrow, applyInPandas ×
    huber, applyInArrow × this); the DuckDB oracle computes the SAME
    number by MAX-PLUS PATH ALGEBRA — increasing (day, count) pairs as
    a DAG edge relation, longest path via 5 unrolled max-plus squarings
    (reach doubles per round; 2⁵ ≥ 31 covers the one-month day domain),
    LIS = longest path + 1. Two unrelated formulations agreeing
    bit-for-bit is the check.

    Scale shape: the fact table collapses to ≤ 31 rows per user before
    anything procedural runs; the kernel groups on a 256-way bucket and
    loops its users in sorted order (one Python invocation per bucket,
    not per user — the cogroup_asof_enrich lesson). The oracle's O(n²)
    edge relation exists only on the DuckDB side."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("c"))
    return (
        daily.withColumn("bkt", F.expr(f"user_id % {LIS_BUCKETS}"))
        .groupBy("bkt")
        .applyInArrow(
            _lis_arrow_kernel, "user_id bigint, n_days bigint, lis_len bigint"
        )
    )


KS_C2_MILLI = 1844  # c(0.05)^2 = 1.358^2, milli-scaled — the 5% critical factor


@register(
    "ks_two_sample_value",
    oracle=f"""
    WITH v AS (
      SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s1,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS s2
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
    hist AS (
      SELECT cents, CAST(sum(s1) AS BIGINT) AS c1, CAST(sum(s2) AS BIGINT) AS c2
      FROM v GROUP BY 1),
    tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM hist),
    cum AS (
      SELECT sum(c1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS f1,
             sum(c2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS f2
      FROM hist),
    d AS (
      SELECT max(abs(CAST(f1 AS HUGEINT) * t.n2 - CAST(f2 AS HUGEINT) * t.n1))
               AS d_num
      FROM cum CROSS JOIN tot t)
    SELECT CAST(t.n1 AS BIGINT) AS n1,
           CAST(t.n2 AS BIGINT) AS n2,
           CAST(d.d_num AS BIGINT) AS d_num,
           CAST((1000000 * d.d_num) // (t.n1 * t.n2) AS BIGINT) AS ks_micro,
           CAST(CASE WHEN 1000 * d.d_num * d.d_num
                       > {KS_C2_MILLI} * (t.n1 + t.n2) * t.n1 * t.n2
                THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct
    FROM d CROSS JOIN tot t
    """,
    tags=("timeseries", "statistics", "quality"),
)
def ks_two_sample_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV test — do purchases and clicks draw
    their values from the same distribution? The classical distribution-
    shift detector (the drift monitor's nonparametric sibling:
    embedding_drift_chi2_by_dim bins, KS compares whole CDFs), EXACT
    and rank-free: collapse both samples to one cents-value histogram,
    one cumulative window over the DISTINCT-VALUE dimension (bounded by
    the price domain, never by row count), and the KS distance is the
    integer max |F₁·n₂ − F₂·n₁| — sup-norm CDF distance with no
    division until the final floored micro. Even the 5% decision is an
    integer comparison: D > c(α)·√((n₁+n₂)/(n₁n₂)) cross-multiplies to
    1000·d² > c²_milli·(n₁+n₂)·n₁·n₂ in 128-bit integers — no sqrt, no
    float, both engines agree bit-for-bit.

    Scale shape: one map-side-combinable aggregate builds the
    histogram; everything after is value-dimension-sized. The sup over
    distinct values equals the sup over all reals because empirical
    CDFs only step at observed values."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isin("purchase", "click")
    )
    v = ev.select(
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("s1"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("s2"),
    )
    hist = (
        v.groupBy("cents")
        .agg(F.sum("s1").alias("c1"), F.sum("s2").alias("c2"))
        .localCheckpoint(eager=True)  # feeds totals AND the cumulative pass
    )
    tot = hist.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    from pyspark.sql.window import Window as W

    w_cum = W.orderBy("cents").rowsBetween(W.unboundedPreceding, W.currentRow)
    dec = "DECIMAL(38,0)"
    cum = hist.select(
        F.sum("c1").over(w_cum).alias("f1"), F.sum("c2").over(w_cum).alias("f2")
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.expr(f"abs(CAST(f1 AS {dec}) * n2 - CAST(f2 AS {dec}) * n1)").alias("ad")
        )
        .agg(F.max("ad").alias("d_num"))
    )
    return d.crossJoin(F.broadcast(tot)).select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("d_num").cast("long").alias("d_num"),
        F.expr("CAST((1000000 * d_num) div (n1 * n2) AS BIGINT)").alias("ks_micro"),
        F.expr(
            f"CAST(CASE WHEN 1000 * d_num * d_num"
            f" > {KS_C2_MILLI} * (CAST(n1 AS {dec}) + n2) * n1 * n2"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_5pct"),
    )


def _sql_kaplan_meier() -> str:
    from streamprocessing_spark.functions.text import sql_mlog2

    return f"""
    WITH last_day AS (
      SELECT user_id,
             CAST(max(CAST(ts AS DATE)) - (SELECT min(CAST(ts AS DATE)) FROM events)
                  AS BIGINT) AS day
      FROM events GROUP BY 1),
    di AS (SELECT day, CAST(count(*) AS BIGINT) AS d FROM last_day GROUP BY 1),
    ni AS (
      SELECT day, d,
             CAST(sum(d) OVER (ORDER BY day DESC ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS n
      FROM di),
    km AS (
      SELECT day, d, n,
             sum({sql_mlog2('n - d')} - {sql_mlog2('n')})
               OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS lg
      FROM ni WHERE day < (SELECT max(day) FROM di))
    SELECT day, n AS n_at_risk, d AS n_events,
           CAST(lg AS BIGINT) AS km_log2_milli
    FROM km
    """


@register(
    "kaplan_meier_activity",
    oracle=_sql_kaplan_meier(),
    tags=("timeseries", "statistics", "llm-pipeline"),
)
def kaplan_meier_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER product-limit survival of user activity — "what
    fraction of users are still active after day d?" with death = the
    user's last active day: the churn curve read as a proper survival
    estimator rather than raw cohort counts (cohort_retention gives the
    count matrix; this gives the estimator survival analysis builds
    CIs on). S(d) = Π_{i≤d} (1 − dᵢ/nᵢ) over event days, where nᵢ (at
    risk) folds from the death histogram by a REVERSED cumulative sum —
    no per-user window anywhere.

    Exactness: the product becomes the mlog2 telescoping sum
    Σ (mlog2(nᵢ−dᵢ) − mlog2(nᵢ)) in milli-log2 units — every factor a
    ratio of integers quantized once, the running product an integer
    cumulative sum over the ≤31-row day dimension. The terminal day
    (where survival reaches exactly 0 and log₂ is undefined) is
    excluded by contract — S>0 rows only, both engines identically.
    Scale: the fact table collapses to per-user last-day (one shuffle),
    then a day-dimension histogram; everything after is ≤31 rows."""
    from streamprocessing_spark.functions import text as T

    ev = load_table(spark, sf_dir, "events")
    mn = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    last = (
        ev.groupBy("user_id")
        .agg(F.max(F.to_date("ts")).alias("ld"))
        .crossJoin(F.broadcast(mn))
        .select(F.datediff("ld", "d0").cast("long").alias("day"))
    )
    di = last.groupBy("day").agg(F.count(F.lit(1)).alias("d")).localCheckpoint(
        eager=True  # feeds the at-risk fold, the max-day bound, and the output
    )
    from pyspark.sql.window import Window as W

    w_rev = W.orderBy(F.desc("day")).rowsBetween(W.unboundedPreceding, W.currentRow)
    ni = di.select("day", "d", F.sum("d").over(w_rev).alias("n"))
    mx = di.agg(F.max("day").alias("mx"))
    w_fwd = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    km = (
        ni.crossJoin(F.broadcast(mx))
        .where(F.col("day") < F.col("mx"))
        .select(
            "day",
            "d",
            "n",
            F.sum(T.mlog2(F.col("n") - F.col("d")) - T.mlog2(F.col("n")))
            .over(w_fwd)
            .alias("lg"),
        )
    )
    return km.select(
        "day",
        F.col("n").cast("long").alias("n_at_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.col("lg").cast("long").alias("km_log2_milli"),
    )


def _sql_theil_sen() -> str:
    return """
    WITH daily AS (
      SELECT user_id, CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    pairs AS (
      SELECT a.user_id,
             b.y - a.y AS num,
             b.d - a.d AS den
      FROM daily a JOIN daily b ON b.user_id = a.user_id AND b.d > a.d),
    keyed AS (
      SELECT user_id, num, den,
             CASE WHEN num >= 0 THEN (1000000 * num) // den
                  ELSE -((1000000 * (-num)) // den) END AS qm
      FROM pairs),
    ranked AS (
      SELECT user_id, qm, num, den,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY qm, num, den) AS rn,
             count(*) OVER (PARTITION BY user_id) AS np
      FROM keyed)
    SELECT user_id, CAST(np AS BIGINT) AS n_pairs,
           CAST(qm AS BIGINT) AS slope_micro_cents_per_day,
           CAST(num AS BIGINT) AS med_num, CAST(den AS BIGINT) AS med_den
    FROM ranked WHERE rn = (np + 1) // 2
    """


@register(
    "theil_sen_user_slopes",
    oracle=_sql_theil_sen(),
    tags=("timeseries", "statistics", "custom-operator"),
)
def theil_sen_user_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN robust trend per user — the median of all pairwise
    daily-value slopes, completing the regression family's robustness
    ladder (user_value_trend_slopes = exact OLS, breakdown point 0;
    huber_trend_slopes_grouped = IRLS, ~soft; Theil-Sen tolerates ~29%
    arbitrary corruption). Exact where the textbook is float: each
    pairwise slope is the RATIONAL (Δcents, Δdays>0), totally ordered
    by the sign-split micro quantization (Spark div truncates, DuckDB
    // floors — positive-magnitude division on both engines) with
    (num, den) as the deterministic tie tail, and the median is the
    rank-⌈k/2⌉ element of that order — emitted as both the quantized
    micro slope AND the exact rational.

    Scale shape: the fact table collapses to per-(user, day) cents
    first, so the pair self-join and the ranking window are bounded at
    C(31,2) = 465 rows per user regardless of corpus size, partitioned
    by user — no global anything. The same bounded-domain argument as
    isotonic's 24-hour cells."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")).alias("y")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id")) & (F.col("b.d") > F.col("a.d")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        (F.col("b.y") - F.col("a.y")).alias("num"),
        (F.col("b.d") - F.col("a.d")).alias("den"),
    )
    keyed = pairs.withColumn(
        "qm",
        F.expr(
            "CASE WHEN num >= 0 THEN (1000000 * num) div den"
            " ELSE -((1000000 * (-num)) div den) END"
        ),
    )
    w_rank = Window.partitionBy("user_id").orderBy("qm", "num", "den")
    w_cnt = Window.partitionBy("user_id")
    ranked = keyed.select(
        "user_id",
        "qm",
        "num",
        "den",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_cnt).alias("np"),
    )
    return ranked.where(F.col("rn") == F.expr("(np + 1) div 2")).select(
        "user_id",
        F.col("np").cast("long").alias("n_pairs"),
        F.col("qm").cast("long").alias("slope_micro_cents_per_day"),
        F.col("num").cast("long").alias("med_num"),
        F.col("den").cast("long").alias("med_den"),
    )


# --- Interval algebra over derived sessions ---------------------------------

_HR_US = 3_600_000_000
_DAY_US = 86_400_000_000

_SQL_SESSIONS = """
    ev AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    ordered AS (
      SELECT user_id, us, event_id,
             CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    sess_rows AS (
      SELECT user_id, us,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
             min(us) AS s_start_us, max(us) AS s_end_us
      FROM sess_rows GROUP BY user_id, session_idx
    )"""


def _sessions_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, session_idx, s_start_us, s_end_us): the 30-min-gap
    sessionization shared by the interval-algebra queries — identical
    machinery to sessionize_events, bounds kept as exact epoch micros."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0).alias("new_sess"),
    )
    sess = flagged.select(
        "user_id",
        "us",
        F.sum("new_sess")
        .over(
            Window.partitionBy("user_id")
            .orderBy("us", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("session_idx"),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.min("us").alias("s_start_us"), F.max("us").alias("s_end_us")
    )


@register(
    "interval_overlap_peak_sessions",
    oracle=f"""
    WITH {_SQL_SESSIONS},
    hrs AS (SELECT us // {_HR_US} AS hr, count(*) AS cnt FROM ev GROUP BY 1),
    tot AS (SELECT count(*) AS n_hours, sum(cnt) AS total FROM hrs),
    peak AS (SELECT hr FROM hrs, tot WHERE cnt * n_hours > total),
    pord AS (SELECT hr, CASE WHEN lag(hr) OVER (ORDER BY hr) IS NULL
                               OR hr - lag(hr) OVER (ORDER BY hr) > 1
                             THEN 1 ELSE 0 END AS new_isl FROM peak),
    pisl AS (SELECT hr, sum(new_isl) OVER (ORDER BY hr ROWS UNBOUNDED PRECEDING) AS isl
             FROM pord),
    islands AS (SELECT min(hr) AS island_hr,
                       min(hr) * {_HR_US} AS i_start_us,
                       (max(hr) + 1) * {_HR_US} AS i_end_us
                FROM pisl GROUP BY isl)
    SELECT s.user_id, s.session_idx,
           CAST(i.island_hr AS BIGINT) AS island_hr,
           CAST(least(s.s_end_us, i.i_end_us)
                - greatest(s.s_start_us, i.i_start_us) AS BIGINT) AS overlap_us
    FROM sessions s
    JOIN islands i
      ON s.s_start_us < i.i_end_us AND i.i_start_us <= s.s_end_us
    """,
    tags=("timeseries", "join", "session", "interval"),
)
def interval_overlap_peak_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval OVERLAP join: every user session (30-min-gap islands)
    against every corpus-wide PEAK-LOAD window (maximal runs of hours
    whose event count is strictly above the observed-hour average) —
    "which sessions ran during peak, and for how long", the capacity-
    planning / incident-correlation query shape.

    Plan choice, stated for the 100 TB case: an interval join is a theta
    join, but the build side here is DIMENSION-BOUNDED (islands ≤ #hours
    in the corpus — 8,760/year regardless of row count), so the right
    physical plan is a BROADCAST nested-loop against the fact-sized
    session table, not a shuffle. The islands pipeline's global windows
    run over the hour HISTOGRAM (already dimension-sized), never over
    facts. For fact×fact interval joins (both sides unbounded) the
    day-bucket banding pattern applies instead — that shape's
    de-globalized machinery is max_concurrent_sessions_daily's sweep.
    Session bounds are closed, islands half-open [start, end); a session
    touching an island boundary instant overlaps with overlap_us = 0.
    All arithmetic is exact epoch-microsecond integers."""
    sessions = _sessions_df(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    hrs = (
        # integer div, not /: float division of epoch micros is a double
        # whose rounding can cross an hour boundary (hostile-sweep class)
        ev.select(F.expr(f"unix_micros(ts) div {_HR_US}").alias("hr"))
        .groupBy("hr")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # hour histogram is dimension-sized and feeds TWO consumers
        # (total + peak filter) — checkpoint or the events scan runs twice
        .localCheckpoint(eager=True)
    )
    tot = hrs.agg(
        F.count(F.lit(1)).alias("n_hours"), F.sum("cnt").alias("total")
    )
    peak = hrs.join(F.broadcast(tot)).where(
        F.col("cnt") * F.col("n_hours") > F.col("total")
    )
    w_hr = Window.orderBy("hr")  # histogram-sized: <= hours in the corpus
    pisl = peak.select(
        "hr",
        F.sum(
            F.when(
                F.lag("hr").over(w_hr).isNull()
                | (F.col("hr") - F.lag("hr").over(w_hr) > 1),
                1,
            ).otherwise(0)
        )
        .over(w_hr.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("isl"),
    )
    islands = pisl.groupBy("isl").agg(
        F.min("hr").alias("island_hr"),
        (F.min("hr") * _HR_US).alias("i_start_us"),
        ((F.max("hr") + 1) * _HR_US).alias("i_end_us"),
    )
    return (
        sessions.join(
            F.broadcast(islands),
            (F.col("s_start_us") < F.col("i_end_us"))
            & (F.col("i_start_us") <= F.col("s_end_us")),
        )
        .select(
            "user_id",
            "session_idx",
            F.col("island_hr").cast("long").alias("island_hr"),
            (
                F.least("s_end_us", "i_end_us")
                - F.greatest("s_start_us", "i_start_us")
            )
            .cast("long")
            .alias("overlap_us"),
        )
    )


@register(
    "max_concurrent_sessions_daily",
    oracle=f"""
    WITH {_SQL_SESSIONS},
    pts AS (
      SELECT p, sum(delta) AS delta FROM (
        SELECT s_start_us AS p, 1 AS delta FROM sessions
        UNION ALL
        SELECT s_end_us + 1 AS p, -1 AS delta FROM sessions
      ) GROUP BY p
    ),
    run AS (SELECT p, sum(delta) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) AS conc
            FROM pts),
    days AS (
      SELECT DISTINCT s.user_id, s.session_idx, d.d
      FROM sessions s,
           LATERAL (SELECT unnest(range(s.s_start_us // {_DAY_US},
                                        s.s_end_us // {_DAY_US} + 1)) AS d) d
    ),
    day_list AS (SELECT DISTINCT d FROM days),
    day_pts AS (SELECT p // {_DAY_US} AS d, max(conc) AS mx
                FROM run GROUP BY 1),
    carry AS (
      SELECT dl.d, count(s.user_id) AS c
      FROM day_list dl
      LEFT JOIN sessions s
        ON s.s_start_us < dl.d * {_DAY_US} AND s.s_end_us >= dl.d * {_DAY_US}
      GROUP BY dl.d
    )
    SELECT CAST(c.d AS BIGINT) AS day_idx,
           CAST(greatest(c.c, COALESCE(dp.mx, 0)) AS BIGINT) AS max_concurrent
    FROM carry c
    LEFT JOIN day_pts dp ON dp.d = c.d AND dp.d IN (SELECT d FROM day_list)
    """,
    tags=("timeseries", "window", "session", "interval"),
)
def max_concurrent_sessions_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak CONCURRENCY per day — the classic sweep-line over session
    intervals (+1 at start, −1 just after end, running max of the prefix
    sum), the sizing number behind "how many simultaneous sessions must
    this system hold?".

    De-globalized by construction (the sequence_gap_audit discipline): a
    naive sweep is one fact-sized globally-ordered running sum — the
    scale-killer window. Here the sweep is PARTITIONED BY DAY: within a
    day the prefix sum runs over that day's delta points only, and the
    cross-midnight state is recovered exactly as a day-keyed CARRY-IN
    (count of sessions straddling the day boundary — one join against
    the day list, which is dimension-sized). max(day) =
    max(carry_in, carry_in + max prefix). Sessions spanning a whole day
    with no points inside still surface via the carry (the hostile-
    fixture lesson: boundary cases carry the bugs). The DuckDB oracle
    computes the same answer from the OPPOSITE construction — one global
    sweep — so the decomposition identity is re-proven on every run."""
    sessions = _sessions_df(spark, sf_dir).localCheckpoint()
    starts = sessions.select(F.col("s_start_us").alias("p"), F.lit(1).alias("delta"))
    # An end delta lands at p = s_end_us + 1. When that p is EXACTLY a
    # day boundary (p % DAY == 0) the session ended at the last
    # microsecond of the previous day: it is inactive throughout day
    # p div DAY AND absent from that day's carry (carry requires
    # s_end_us >= d*DAY), so its -1 must not enter that day's prefix —
    # it would deflate the baseline by 1 per boundary-ending session.
    ends = sessions.select(
        (F.col("s_end_us") + 1).alias("p"), F.lit(-1).alias("delta")
    ).where((F.col("p") % _DAY_US) != 0)
    pts = (
        starts.unionAll(ends)
        .groupBy("p")
        .agg(F.sum("delta").alias("delta"))
        .withColumn("d", F.expr(f"p div {_DAY_US}"))
    )
    w_day = (
        Window.partitionBy("d")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    day_prefix_max = (
        pts.withColumn("pref", F.sum("delta").over(w_day))
        .groupBy("d")
        .agg(F.max("pref").alias("mx_pref"))
    )
    day_list = (
        sessions.select(
            F.explode(
                F.sequence(
                    F.expr(f"s_start_us div {_DAY_US}"),
                    F.expr(f"s_end_us div {_DAY_US}"),
                )
            ).alias("d")
        )
        .distinct()
    )
    carry = (
        day_list.join(
            sessions,
            (F.col("s_start_us") < F.col("d") * _DAY_US)
            & (F.col("s_end_us") >= F.col("d") * _DAY_US),
            "left",
        )
        .groupBy("d")
        .agg(F.count("user_id").alias("c"))
    )
    return (
        carry.join(day_prefix_max, "d", "left")
        .select(
            F.col("d").cast("long").alias("day_idx"),
            F.greatest(
                F.col("c"), F.col("c") + F.coalesce(F.col("mx_pref"), F.lit(0))
            )
            .cast("long")
            .alias("max_concurrent"),
        )
    )


_GAPS_MIN = (5, 15, 30, 60)


@register(
    "sessionization_gap_sensitivity",
    oracle=f"""
    WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    gaps AS (
      SELECT us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap_us
      FROM ev
    ),
    g AS (SELECT unnest([{", ".join(str(g) for g in _GAPS_MIN)}]) AS gap_minutes),
    agg AS (
      SELECT g.gap_minutes,
             sum(CASE WHEN gaps.gap_us IS NULL
                       OR gaps.gap_us > CAST(g.gap_minutes AS BIGINT) * 60000000
                      THEN 1 ELSE 0 END) AS n_sessions,
             count(*) AS n_events
      FROM gaps, g GROUP BY g.gap_minutes
    )
    SELECT CAST(gap_minutes AS BIGINT) AS gap_minutes,
           CAST(n_sessions AS BIGINT) AS n_sessions,
           CAST(CASE WHEN n_sessions > 0
                THEN (1000 * n_events) // n_sessions END AS BIGINT)
             AS avg_events_per_session_milli
    FROM agg
    """,
    tags=("timeseries", "session", "observability"),
)
def sessionization_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap SENSITIVITY for sessionization — the table the
    30-minute constant should be chosen from, not assumed: session
    count and mean session size at gap ∈ {5, 15, 30, 60} min, all from
    ONE window pass (per-user lag once; each gap threshold is a
    conditional sum over the same gap column — a knee in n_sessions(gap)
    marks the natural inactivity scale of the data). Exact integers:
    epoch-microsecond gaps, milli-scaled integer mean with a guarded
    division. One shuffle on user_id; the gap grid is a 4-row generated
    dimension crossed AFTER the window, so the fact table is scanned and
    sorted exactly once regardless of grid size."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = ev.select(
        F.unix_micros("ts").alias("us"), "user_id", "event_id"
    ).select((F.col("us") - F.lag("us").over(w)).alias("gap_us"))
    # long literals: 60 min * 60e6 us overflows int32 under ANSI
    grid = F.array(*[F.lit(g).cast("long") for g in _GAPS_MIN])
    crossed = gaps.select(
        "gap_us", F.explode(grid).alias("gap_minutes")
    )
    agg = crossed.groupBy("gap_minutes").agg(
        F.sum(
            F.when(
                F.col("gap_us").isNull()
                | (F.col("gap_us") > F.col("gap_minutes") * 60_000_000),
                1,
            ).otherwise(0)
        ).alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        F.col("gap_minutes").cast("long").alias("gap_minutes"),
        F.col("n_sessions").cast("long").alias("n_sessions"),
        F.when(
            F.col("n_sessions") > 0,
            F.expr("(1000 * n_events) div n_sessions"),
        )
        .cast("long")
        .alias("avg_events_per_session_milli"),
    )


@register(
    "late_arrival_audit",
    oracle="""
    WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    runs AS (
      SELECT user_id, us,
             max(us) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM ev
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN us < prev_max THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(max(CASE WHEN us < prev_max THEN prev_max - us END) AS BIGINT)
             AS max_lateness_us
    FROM runs GROUP BY user_id
    """,
    tags=("timeseries", "observability", "streaming"),
)
def late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUT-OF-ORDER arrival audit — the batch query that sizes a
    streaming WATERMARK before the stream exists: per user, how many
    events arrived (arrival order ≈ event_id, the monotone ingest key)
    with an event time EARLIER than the running maximum already seen,
    and the worst such lateness. max(max_lateness_us) over users is the
    smallest watermark delay that would have dropped nothing; the
    n_late/n_events ratio is the data loss a tighter delay buys.
    NULL max_lateness (not fake 0) for users with no late events — the
    hostile-fixture convention. One user-keyed window over the ingest
    order, one aggregate; exact epoch-microsecond integers throughout."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runs = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.max(F.unix_micros("ts")).over(w).alias("prev_max"),
    )
    return runs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("us") < F.col("prev_max"), 1).otherwise(0))
        .cast("long")
        .alias("n_late"),
        F.max(
            F.when(F.col("us") < F.col("prev_max"), F.col("prev_max") - F.col("us"))
        )
        .cast("long")
        .alias("max_lateness_us"),
    )


PSI_BUCKETS = 16          # fixed-width value histogram cells
PSI_BUCKET_CENTS = 2048   # cell width in exact cents


def _sql_psi() -> str:
    from streamprocessing_spark.functions.text import sql_mlog2

    return f"""
    WITH ev AS (
      SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             least(CAST(floor(value * 100.0 + 0.5) AS BIGINT) // {PSI_BUCKET_CENTS},
                   {PSI_BUCKETS - 1}) AS bucket
      FROM events WHERE value IS NOT NULL),
    bounds AS (SELECT (min(day) + max(day) + 1) // 2 AS cutoff FROM ev),
    hist AS (
      SELECT bucket,
             sum(CASE WHEN day <  cutoff THEN 1 ELSE 0 END) AS a,
             sum(CASE WHEN day >= cutoff THEN 1 ELSE 0 END) AS b
      FROM ev CROSS JOIN bounds GROUP BY 1),
    grid AS (
      SELECT g.bucket, COALESCE(h.a, 0) + 1 AS a1, COALESCE(h.b, 0) + 1 AS b1
      FROM (SELECT unnest(range({PSI_BUCKETS})) AS bucket) g
      LEFT JOIN hist h ON h.bucket = g.bucket),
    tot AS (SELECT sum(a1) AS ta, sum(b1) AS tb FROM grid),
    contrib AS (
      SELECT bucket, a1, b1,
             (CAST(a1 AS HUGEINT) * tb - CAST(b1 AS HUGEINT) * ta)
               * ({sql_mlog2('a1 * tb')} - {sql_mlog2('b1 * ta')}) AS q
      FROM grid CROSS JOIN tot),
    psi AS (SELECT sum(q) AS qs FROM contrib)
    SELECT CAST(c.bucket AS BIGINT) AS bucket,
           CAST(c.a1 - 1 AS BIGINT) AS n_early,
           CAST(c.b1 - 1 AS BIGINT) AS n_late,
           CAST(c.q AS BIGINT) AS contrib_q,
           CAST(p.qs // (t.ta * t.tb) AS BIGINT) AS psi_milli_bits
    FROM contrib c CROSS JOIN psi p CROSS JOIN tot t
    """


@register(
    "psi_value_drift",
    oracle=_sql_psi(),
    tags=("timeseries", "statistics", "quality", "llm-pipeline"),
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift monitor over the event value
    distribution — early half vs late half of the time range (cutoff =
    midpoint calendar day), the standard model-monitoring statistic
    (PSI = Σ (p_b − q_b)·log(p_b/q_b); the industry rule of thumb reads
    > 0.2 as actionable drift). KS (ks_two_sample_value) compares CDFs
    of two TYPES; PSI compares the SAME measure across TIME on a fixed
    bucket grid — the shape a daily ingest monitor actually runs.

    Exact integers end to end: cents → fixed {PSI_BUCKETS}-cell grid
    (generated, so empty cells exist on both engines), add-1 smoothing
    makes every cell positive, and each cell's contribution
    q = (a₁·B − b₁·A)·(mlog2(a₁·B) − mlog2(b₁·A)) is a product of
    SAME-SIGN factors — q ≥ 0 always, like the true PSI. The corpus
    statistic psi_milli_bits = Σq div (A·B) is 1000·PSI in bits (log2,
    not ln — divide by ln2·1000 for the classical scale). First factor
    in 38-digit integers (a₁·B reaches n² — past BIGINT at ~3e9 rows
    per side); mlog2 args are bucket-grid-sized scalars, the same
    portability argument as the chi-square/MI dimension products.

    Scale shape: one pass for the date bounds (min/max only), one
    map-side-combinable histogram aggregate; everything after is
    {PSI_BUCKETS}-row broadcast arithmetic. The histogram never carries
    more than {PSI_BUCKETS} rows regardless of corpus size."""
    from streamprocessing_spark.functions import text as T

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("day"),
            F.least(
                F.expr(f"CAST(floor(value * 100.0 + 0.5) AS BIGINT) div {PSI_BUCKET_CENTS}"),
                F.lit(PSI_BUCKETS - 1),
            ).alias("bucket"),
        )
    )
    bounds = ev.agg(
        F.expr("CAST((min(day) + max(day) + 1) div 2 AS INT)").alias("cutoff")
    )
    hist = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("day") < F.col("cutoff"), 1).otherwise(0)).alias("a"),
            F.sum(F.when(F.col("day") >= F.col("cutoff"), 1).otherwise(0)).alias("b"),
        )
    )
    grid = (
        spark.range(PSI_BUCKETS)
        .select(F.col("id").cast("long").alias("bucket"))
        .join(hist, "bucket", "left")
        .select(
            "bucket",
            (F.coalesce("a", F.lit(0)) + 1).alias("a1"),
            (F.coalesce("b", F.lit(0)) + 1).alias("b1"),
        )
        .localCheckpoint(eager=True)  # 16 rows; feeds totals and contributions
    )
    tot = grid.agg(F.sum("a1").alias("ta"), F.sum("b1").alias("tb"))
    dec = "DECIMAL(38,0)"
    contrib = (
        grid.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "a1",
            "b1",
            "ta",
            "tb",
            (
                F.expr(f"CAST(a1 AS {dec}) * tb - CAST(b1 AS {dec}) * ta")
                * (T.mlog2(F.col("a1") * F.col("tb")) - T.mlog2(F.col("b1") * F.col("ta")))
            ).alias("q"),
        )
        .localCheckpoint(eager=True)  # 16 rows; feeds the PSI total and output
    )
    psi = contrib.agg(F.sum("q").alias("qs"))
    return contrib.crossJoin(F.broadcast(psi)).select(
        F.col("bucket").cast("long").alias("bucket"),
        (F.col("a1") - 1).cast("long").alias("n_early"),
        (F.col("b1") - 1).cast("long").alias("n_late"),
        F.col("q").cast("long").alias("contrib_q"),
        F.expr(f"CAST(qs div (CAST(ta AS {dec}) * tb) AS BIGINT)").alias("psi_milli_bits"),
    )


ACF_MAX_LAG = 7  # weekly seasonality shows as a spike at lag 7


@register(
    "daily_value_autocorrelation",
    oracle=f"""
    WITH o AS (
      SELECT datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders),
    agg AS (SELECT day, sum(cents) AS x FROM o GROUP BY 1),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM agg),
    grid AS (SELECT unnest(range(lo, hi + 1)) AS day FROM bounds),
    series AS (
      SELECT g.day, COALESCE(a.x, 0) AS x
      FROM grid g LEFT JOIN agg a ON a.day = g.day),
    stats AS (SELECT count(*) AS n, sum(x) AS s FROM series),
    ys AS (
      SELECT day, CAST(n AS HUGEINT) * x - s AS y
      FROM series CROSS JOIN stats),
    den AS (SELECT sum(y * y) AS d, count(*) AS n_days FROM ys),
    lags AS (SELECT unnest(range(1, {ACF_MAX_LAG} + 1)) AS lag),
    num AS (
      SELECT l.lag, count(*) AS n_terms, sum(a.y * b.y) AS nm
      FROM ys a CROSS JOIN lags l JOIN ys b ON b.day = a.day + l.lag
      GROUP BY 1)
    SELECT CAST(num.lag AS BIGINT) AS lag,
           CAST(den.n_days AS BIGINT) AS n_days,
           CAST(num.n_terms AS BIGINT) AS n_terms,
           CAST(CASE WHEN den.d <> 0
                THEN (1000000 * num.nm) // den.d END AS BIGINT) AS acf_micro
    FROM num CROSS JOIN den
    """,
    tags=("timeseries", "statistics"),
)
def daily_value_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily-revenue series at lags
    1..{ACF_MAX_LAG} — the seasonality detector run before choosing a
    forecasting baseline (a lag-7 spike ⇒ weekly cycle; all-lags decay ⇒
    trend): r_L = Σ(x_t−x̄)(x_{{t+L}}−x̄) / Σ(x_t−x̄)² over the DENSE
    calendar grid (zero-revenue days are real observations, so the grid
    is generated, never scanned — the time_bucket_gapfill discipline).

    Exact integers end to end: with n days and S = Σx, the centered
    series n·(x_t−x̄) = n·x_t−S needs no division, so r_L =
    Σ y_t·y_{{t+L}} / Σ y_t² in 38-digit integers (y ~ n·x reaches
    ~2.5e16 at 100 TB ⇒ y² ~ 6e32 — past BIGINT, inside DECIMAL(38)/
    HUGEINT) with ONE truncating division to micro units at the end —
    both engines truncate, so the row hash-matches bit-for-bit.
    Degenerate constant series (den = 0) reports NULL, not 0/0.

    Scale shape: orders collapse to a |days|-sized series in one
    map-side-combinable aggregate; every later step (grid join, the
    lag-shifted self-join ON b.day = a.day + lag, the lag×1 reductions)
    is calendar-dimension-sized — deliberately a broadcast self-join
    instead of a global lead() window, so NO single task ever holds the
    whole series and nothing here entered the global-window allowlist."""
    o = load_table(spark, sf_dir, "orders").select(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")).alias("day"),
        F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
    )
    agg = o.groupBy("day").agg(F.sum("cents").alias("x"))
    grid = agg.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    series = grid.join(agg, "day", "left").select(
        "day", F.coalesce("x", F.lit(0)).alias("x")
    )
    stats = series.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    dec = "DECIMAL(38,0)"
    ys = (
        series.crossJoin(F.broadcast(stats))
        .select("day", F.expr(f"CAST(n AS {dec}) * x - s").alias("y"))
        .localCheckpoint(eager=True)  # |days| rows; feeds den AND the lag join
    )
    den = ys.agg(F.sum(F.expr("y * y")).alias("d"), F.count(F.lit(1)).alias("n_days"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    b = ys.select(F.col("day").alias("bday"), F.col("y").alias("by"))
    num = (
        ys.crossJoin(F.broadcast(lags))
        .join(F.broadcast(b), F.col("bday") == F.col("day") + F.col("lag"))
        .groupBy("lag")
        .agg(F.count(F.lit(1)).alias("n_terms"), F.sum(F.expr("y * by")).alias("nm"))
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n_days").cast("long").alias("n_days"),
        F.col("n_terms").cast("long").alias("n_terms"),
        F.expr(
            "CAST(CASE WHEN d <> 0 THEN (1000000 * nm) div d END AS BIGINT)"
        ).alias("acf_micro"),
    )


@register(
    "emd_value_distributions",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s1,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS s2
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
    hist AS (
      SELECT cents, CAST(sum(s1) AS BIGINT) AS c1, CAST(sum(s2) AS BIGINT) AS c2
      FROM v GROUP BY 1),
    tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM hist),
    cum AS (
      SELECT cents,
             sum(c1) OVER w AS f1,
             sum(c2) OVER w AS f2,
             lead(cents) OVER (ORDER BY cents) AS next_cents
      FROM hist
      WINDOW w AS (ORDER BY cents ROWS UNBOUNDED PRECEDING)),
    d AS (
      SELECT sum(abs(CAST(f1 AS HUGEINT) * t.n2 - CAST(f2 AS HUGEINT) * t.n1)
                 * (next_cents - cents)) AS emd_num
      FROM cum CROSS JOIN tot t WHERE next_cents IS NOT NULL)
    SELECT CAST(t.n1 AS BIGINT) AS n1,
           CAST(t.n2 AS BIGINT) AS n2,
           CAST(d.emd_num AS BIGINT) AS emd_num,
           CAST(CASE WHEN t.n1 * t.n2 <> 0
                THEN (1000 * d.emd_num) // (t.n1 * t.n2) END AS BIGINT)
             AS emd_milli_cents
    FROM d CROSS JOIN tot t
    """,
    tags=("timeseries", "statistics", "quality"),
)
def emd_value_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earth-Mover (Wasserstein-1) distance between the purchase and
    click value distributions — completing the distribution-shift
    instrument set: KS (ks_two_sample_value) is the sup-norm CDF gap,
    PSI (psi_value_drift) the binned divergence, EMD the INTEGRAL
    transport cost in actual cents — the only one of the three with
    units a product owner can read ("the distributions are 47.3 cents
    of movement apart").

    Exact via the 1-D closed form W₁ = ∫|F₁ − F₂| dx = Σ over distinct
    cents values |F₁·n₂ − F₂·n₁|·(next − cur) / (n₁·n₂): cumulative
    integer counts on the distinct-value histogram, cross-multiplied to
    avoid fractions (HUGEINT/DECIMAL38 — F·n reaches n² past BIGINT at
    ~3e9 per side), ONE truncating division to milli-cents at the end.
    Both-sides-empty reports NULL, not 0/0.

    Scale shape identical to the KS tier: one map-side-combinable
    histogram aggregate; the cumulative + lead window runs over the
    DISTINCT-VALUE dimension (bounded by the price domain, ≤1e6-ish
    values at any corpus size — the allowlisted KS frame, one more
    consumer)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isin("purchase", "click")
    )
    v = ev.select(
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("s1"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("s2"),
    )
    hist = (
        v.groupBy("cents")
        .agg(F.sum("s1").alias("c1"), F.sum("s2").alias("c2"))
        .localCheckpoint(eager=True)  # feeds totals AND the cumulative pass
    )
    tot = hist.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    from pyspark.sql.window import Window as W

    w_cum = W.orderBy("cents").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_lead = W.orderBy("cents")
    dec = "DECIMAL(38,0)"
    cum = hist.select(
        "cents",
        F.sum("c1").over(w_cum).alias("f1"),
        F.sum("c2").over(w_cum).alias("f2"),
        F.lead("cents").over(w_lead).alias("next_cents"),
    )
    d = (
        cum.where(F.col("next_cents").isNotNull())
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                f"abs(CAST(f1 AS {dec}) * n2 - CAST(f2 AS {dec}) * n1)"
                " * (next_cents - cents)"
            ).alias("term")
        )
        .agg(F.sum("term").alias("emd_num"))
    )
    return d.crossJoin(F.broadcast(tot)).select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("emd_num").cast("long").alias("emd_num"),
        F.expr(
            "CAST(CASE WHEN n1 * n2 <> 0 THEN (1000 * emd_num) div (n1 * n2) END AS BIGINT)"
        ).alias("emd_milli_cents"),
    )


HILL_K = 100  # tail order statistics used by the Hill estimator


def _sql_hill() -> str:
    from streamprocessing_spark.functions.text import sql_mlog2

    return f"""
    WITH v AS (
      SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents, event_id
      FROM events WHERE value IS NOT NULL
        AND CAST(floor(value * 100.0 + 0.5) AS BIGINT) > 0),
    top AS (
      SELECT cents FROM v ORDER BY cents DESC, event_id LIMIT {HILL_K + 1}),
    agg AS (
      SELECT count(*) AS n_top, min(cents) AS xk1,
             sum({sql_mlog2('cents')}) AS sum_ml
      FROM top)
    SELECT CAST(n_top - 1 AS BIGINT) AS k,
           CAST(xk1 AS BIGINT) AS xk1_cents,
           CAST(CASE WHEN n_top > 1 THEN
                (sum_ml - n_top * {sql_mlog2('xk1')}) // (n_top - 1)
                END AS BIGINT) AS hill_milli_bits
    FROM agg WHERE n_top > 0
    """


@register(
    "hill_tail_index_value",
    oracle=_sql_hill(),
    tags=("timeseries", "statistics", "quality"),
)
def hill_tail_index_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the event-value tail index (Hill 1975) — the
    heavy-tail audit run before trusting means/CIs on a value column:
    H = (1/k)·Σ_{{i≤k}} log(x_(i)/x_(k+1)) over the top-k order
    statistics; tail index α = 1/H_nats (finite variance needs α > 2;
    H in bits ⇒ α = 1000/(ln2 · hill_milli_bits/1000)). Fat-tailed
    revenue data makes z-score outlier rules and bootstrap CIs lie —
    this measures whether they can be trusted.

    Exact integers via mlog2: Σ mlog2(x_i) − k·mlog2(x_(k+1)) over the
    top-(k+1) cents values, one truncating div by k. The top-(k+1) set
    is ORDER BY cents DESC with an event_id tiebreak — deterministic,
    and since mlog2 depends only on cents, boundary TIES cannot change
    the statistic regardless of which tied row the cut keeps (the
    Σ−min(one-row) algebra makes the tie-break value-invariant).
    Zero/negative cents are excluded on both engines (log undefined);
    an empty tail yields zero rows, a single value yields NULL H.

    Scale shape: top-(k+1) is a distributed TakeOrdered (each partition
    ships at most k+1 rows, no global sort); everything after is a
    (k+1)-row aggregate. k = {HILL_K} is the estimator's own parameter,
    not a data bound."""
    from streamprocessing_spark.functions import text as T

    v = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
            "event_id",
        )
        .where(F.col("cents") > 0)
    )
    top = v.orderBy(F.desc("cents"), F.asc("event_id")).limit(HILL_K + 1).select("cents")
    agg = top.agg(
        F.count(F.lit(1)).alias("n_top"),
        F.min("cents").alias("xk1"),
        F.sum(T.mlog2(F.col("cents"))).alias("sum_ml"),
    )
    return agg.where(F.col("n_top") > 0).select(
        (F.col("n_top") - 1).cast("long").alias("k"),
        F.col("xk1").cast("long").alias("xk1_cents"),
        F.expr(
            "CAST(CASE WHEN n_top > 1 THEN "
            "(sum_ml - n_top * CAST(floor(1000*log2(xk1)+0.5) AS BIGINT)) div (n_top - 1) "
            "END AS BIGINT)"
        ).alias("hill_milli_bits"),
    )


@register(
    "gini_value_inequality",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL),
    hist AS (SELECT cents, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1),
    cum AS (
      SELECT cents, c,
             COALESCE(sum(c) OVER w, 0) AS f_prev,
             COALESCE(sum(cents * c) OVER w, 0) AS s_prev
      FROM hist
      WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    p AS (
      SELECT sum(CAST(cents AS HUGEINT) * c * f_prev - CAST(c AS HUGEINT) * s_prev)
               AS pair_gap
      FROM cum),
    tot AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(cents) AS HUGEINT) AS t
            FROM v)
    SELECT CAST(tot.n AS BIGINT) AS n_events,
           CAST(tot.t AS BIGINT) AS total_cents,
           CAST(p.pair_gap AS BIGINT) AS pair_gap_cents,
           CAST(CASE WHEN tot.n * tot.t <> 0
                THEN (1000000 * p.pair_gap) // (tot.n * tot.t) END AS BIGINT)
             AS gini_micro
    FROM p CROSS JOIN tot
    """,
    tags=("timeseries", "statistics", "quality"),
)
def gini_value_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the event-value distribution — the inequality
    datasheet stat (0 = perfectly equal, →1 = one event carries all the
    value) a pipeline reads before choosing between mean-based and
    quantile-based normalizations, next to the Hill tail index (Hill
    asks "how heavy is the tail", Gini "how concentrated is the mass").

    Exact closed form from the distinct-value histogram: with sorted
    distinct cents v_j (count c_j, strictly-preceding cumulative count
    F and sum S), Σ_{i<j}(v_j−v_i)c_i c_j = Σ_j (v_j·c_j·F_j − c_j·S_j)
    — so G = pair_gap/(n·T) with ONE truncating micro division (the
    mean-difference identity G = Σ|x_i−x_j| / (2n²x̄) folded). 38-digit
    integers: v·c·F reaches value·n² past BIGINT at ~2e9 events. Empty
    input or zero total reports NULL, not 0/0.

    Scale shape: one map-side-combinable histogram aggregate; the
    strictly-preceding cumulative window runs over the DISTINCT-VALUE
    dimension (price domain — the allowlisted KS/EMD frame, one more
    consumer); everything after is one row."""
    v = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("cents"))
    )
    hist = (
        v.groupBy("cents")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # feeds the cumulative pass AND totals
    )
    from pyspark.sql.window import Window as W

    w_prev = W.orderBy("cents").rowsBetween(W.unboundedPreceding, -1)
    dec = "DECIMAL(38,0)"
    cum = hist.select(
        "cents",
        "c",
        F.coalesce(F.sum("c").over(w_prev), F.lit(0)).alias("f_prev"),
        F.coalesce(F.sum(F.col("cents") * F.col("c")).over(w_prev), F.lit(0)).alias("s_prev"),
    )
    p = cum.agg(
        F.sum(
            F.expr(f"CAST(cents AS {dec}) * c * f_prev - CAST(c AS {dec}) * s_prev")
        ).alias("pair_gap")
    )
    tot = hist.agg(
        # coalesce: the oracle's COUNT(*) over an empty table is 0 where
        # Spark's SUM over the empty histogram is NULL; the total stays
        # NULL on both (SUM semantics agree there)
        F.expr(f"COALESCE(CAST(sum(c) AS {dec}), 0)").alias("n"),
        F.expr(f"CAST(sum(cents * c) AS {dec})").alias("t"),
    )
    return p.crossJoin(F.broadcast(tot)).select(
        F.col("n").cast("long").alias("n_events"),
        F.col("t").cast("long").alias("total_cents"),
        F.col("pair_gap").cast("long").alias("pair_gap_cents"),
        F.expr(
            "CAST(CASE WHEN n * t <> 0 THEN (1000000 * pair_gap) div (n * t) END AS BIGINT)"
        ).alias("gini_micro"),
    )


@register(
    "kendall_tau_revenue_volume",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS rev,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT CASE WHEN (a.rev - b.rev) * (a.cnt - b.cnt) > 0 THEN 1 ELSE 0 END AS conc,
             CASE WHEN (a.rev - b.rev) * (a.cnt - b.cnt) < 0 THEN 1 ELSE 0 END AS disc,
             CASE WHEN a.rev = b.rev THEN 1 ELSE 0 END AS tie_rev,
             CASE WHEN a.cnt = b.cnt THEN 1 ELSE 0 END AS tie_cnt
      FROM daily a JOIN daily b ON a.day < b.day),
    agg AS (
      SELECT CAST(sum(conc) AS BIGINT) AS c, CAST(sum(disc) AS BIGINT) AS d,
             CAST(sum(tie_rev) AS BIGINT) AS t_rev,
             CAST(sum(tie_cnt) AS BIGINT) AS t_cnt,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs)
    SELECT c AS concordant, d AS discordant,
           t_rev AS ties_rev, t_cnt AS ties_cnt,
           n_pairs,
           CAST(CASE WHEN n_pairs <> 0
                THEN (1000000 * (c - d)) // n_pairs END AS BIGINT) AS tau_a_micro
    FROM agg WHERE n_pairs IS NOT NULL
    """,
    tags=("timeseries", "statistics"),
)
def kendall_tau_revenue_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall rank correlation (τ-a) between daily revenue and daily
    order volume — 'are high-revenue days just high-volume days, or does
    basket value drive them?': concordant/discordant day pairs counted
    exactly, τ-a = (C−D)/(n(n−1)/2) with the tie counts emitted
    alongside so a reader can derive τ-b if they care. The rank-based
    companion to regression_value_by_hour's Pearson machinery — τ is
    outlier-robust where moment-based correlation is not (one whale
    order can't flip it).

    All exact integers: the concordance sign is a product of BIGINT
    differences, τ·10⁶ is one truncating div (C−D may be negative; both
    engines truncate). Scale shape: orders collapse to the calendar-day
    dimension in one map-side-combinable aggregate; the pair self-join
    is |days|² — dimension-sized at any corpus size (×100 data = same
    day count), the same bound class as the gap-fill grid."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")).alias("rev"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .localCheckpoint(eager=True)  # |days| rows; both join sides
    )
    a = daily.select(F.col("day").alias("da"), F.col("rev").alias("ra"), F.col("cnt").alias("ca"))
    b = daily.select(F.col("day").alias("db"), F.col("rev").alias("rb"), F.col("cnt").alias("cb"))
    pairs = a.join(F.broadcast(b), F.col("da") < F.col("db")).select(
        F.when((F.col("ra") - F.col("rb")) * (F.col("ca") - F.col("cb")) > 0, 1)
        .otherwise(0)
        .alias("conc"),
        F.when((F.col("ra") - F.col("rb")) * (F.col("ca") - F.col("cb")) < 0, 1)
        .otherwise(0)
        .alias("disc"),
        F.when(F.col("ra") == F.col("rb"), 1).otherwise(0).alias("tie_rev"),
        F.when(F.col("ca") == F.col("cb"), 1).otherwise(0).alias("tie_cnt"),
    )
    agg = pairs.agg(
        F.sum("conc").alias("c"),
        F.sum("disc").alias("d"),
        F.sum("tie_rev").alias("t_rev"),
        F.sum("tie_cnt").alias("t_cnt"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    return agg.where(F.col("n_pairs").isNotNull()).select(
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        F.col("t_rev").cast("long").alias("ties_rev"),
        F.col("t_cnt").cast("long").alias("ties_cnt"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.expr(
            "CAST(CASE WHEN n_pairs <> 0 THEN (1000000 * (c - d)) div n_pairs END AS BIGINT)"
        ).alias("tau_a_micro"),
    )


def _sql_markov_entropy() -> str:
    from streamprocessing_spark.functions.text import sql_mlog2

    return f"""
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    c AS (SELECT event_type AS from_type, nxt AS to_type, count(*) AS n
          FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT from_type, sum(n) AS row_total,
                 sum(n * {sql_mlog2('n')}) AS sum_nml
          FROM c GROUP BY 1),
    hrow AS (
      SELECT from_type, row_total,
             row_total * {sql_mlog2('row_total')} - sum_nml AS h_num
      FROM t),
    tot AS (SELECT sum(row_total) AS nn, sum(h_num) AS hh FROM hrow)
    SELECT hrow.from_type,
           CAST(hrow.row_total AS BIGINT) AS row_total,
           CAST(hrow.h_num // hrow.row_total AS BIGINT) AS h_cond_milli_bits,
           CAST(tot.hh // tot.nn AS BIGINT) AS entropy_rate_milli_bits
    FROM hrow CROSS JOIN tot
    """


@register(
    "markov_entropy_rate",
    oracle=_sql_markov_entropy(),
    tags=("timeseries", "statistics", "llm-pipeline"),
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy RATE of the first-order behavioral Markov chain — per
    state H(next | state) and the stationary-weighted rate
    Σ p̂(s)·H(·|s) in exact milli-bits: the information-theoretic
    answer to "how predictable is user behavior" (bot traffic shows a
    collapsed rate; the transition MATRIX says what follows what, the
    RATE compresses it to one comparable number — the sequence-level
    sibling of char_entropy_filter's per-document score, and the
    sequence-mining prior behind event_path_trigrams).

    Exact via the entropy-of-counts identity: H(·|s)·n_s = n_s·mlog2(n_s)
    − Σ_t n_st·mlog2(n_st) (every term a BIGINT; the same algebra as the
    l-diversity and char-entropy tiers), one truncating div per state
    and one for the rate — the empirical-visit weighting p̂(s) = n_s/N
    folds into Σ h_num div N with no intermediate fraction. Scale
    shape: one user-partitioned lead() pass (the transition matrix's
    shuffle), then type²-sized everything."""
    from streamprocessing_spark.functions import text as T

    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select("user_id", "event_type", F.lead("event_type").over(w).alias("nxt"))
    c = (
        s.where(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), F.col("nxt").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.groupBy("from_type").agg(
        F.sum("n").alias("row_total"),
        F.sum(F.col("n") * T.mlog2(F.col("n"))).alias("sum_nml"),
    )
    hrow = t.select(
        "from_type",
        "row_total",
        (F.col("row_total") * T.mlog2(F.col("row_total")) - F.col("sum_nml")).alias("h_num"),
    ).localCheckpoint(eager=True)  # type-sized; feeds the rate and output
    tot = hrow.agg(F.sum("row_total").alias("nn"), F.sum("h_num").alias("hh"))
    return hrow.crossJoin(F.broadcast(tot)).select(
        "from_type",
        F.col("row_total").cast("long").alias("row_total"),
        F.expr("CAST(h_num div row_total AS BIGINT)").alias("h_cond_milli_bits"),
        F.expr("CAST(hh div nn AS BIGINT)").alias("entropy_rate_milli_bits"),
    )


@register(
    "fano_burstiness_by_type",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    bounds AS (
      SELECT CAST(min(CAST(ts AS DATE)) AS DATE) AS lo,
             CAST(max(CAST(ts AS DATE)) AS DATE) AS hi,
             CAST(datediff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) + 1
                  AS BIGINT) AS n_days
      FROM events),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_active,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(c * c) AS BIGINT) AS s2
      FROM daily GROUP BY 1)
    SELECT a.event_type,
           b.n_days,
           a.s AS n_events,
           CAST(CASE WHEN a.s > 0 THEN
                (1000000 * (b.n_days * a.s2 - a.s * a.s)) // (b.n_days * a.s)
                END AS BIGINT) AS fano_micro
    FROM agg a CROSS JOIN bounds b
    """,
    tags=("timeseries", "statistics", "quality"),
)
def fano_burstiness_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance/mean of daily counts) per event type over
    the DENSE calendar range — the burstiness index: a Poisson-like
    arrival process scores ≈ 1e6 micro, bursty/bot-like traffic ≫ 1,
    metronomic scripted traffic ≪ 1. The dispersion companion to
    bot_rate_flags (which ranks users) — this classifies TYPES of
    traffic, the triage view an abuse pipeline reads first.

    Zero-filled days are real observations: with n_days from the corpus
    range and per-type daily counts c (absent day ⇒ 0), Fano =
    Var/mean = (D·Σc² − (Σc)²)/(D·Σc) — the zero days contribute
    nothing to Σc/Σc² but inflate D, so the GRID NEVER MATERIALIZES
    (the gap-fill identity folded into the moments: the dense-grid
    variance falls out of sparse sums and the day count). One
    truncating micro div; all moments exact BIGINTs. Scale: one
    map-side-combinable (type, day) aggregate, then type-sized rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = ev.agg(
        F.expr(
            "CAST(datediff(max(CAST(ts AS DATE)), min(CAST(ts AS DATE))) + 1 AS BIGINT)"
        ).alias("n_days")
    )
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    return agg.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        "n_days",
        F.col("s").cast("long").alias("n_events"),
        F.expr(
            "CAST(CASE WHEN s > 0 THEN"
            " (1000000 * (n_days * s2 - s * s)) div (n_days * s) END AS BIGINT)"
        ).alias("fano_micro"),
    )


_POS_CREDIT = """
    CASE WHEN n_touches = 1 THEN cents
         WHEN n_touches = 2 THEN
           CASE WHEN rn = 1 THEN (cents + 1) {div} 2 ELSE cents {div} 2 END
         ELSE
           CASE WHEN rn = 1 THEN (40 * cents) {div} 100
                WHEN rn = n_touches THEN (40 * cents) {div} 100
                ELSE (cents - 2 * ((40 * cents) {div} 100)) {div} (n_touches - 2)
                     + CASE WHEN rn - 1 <=
                         (cents - 2 * ((40 * cents) {div} 100)) % (n_touches - 2)
                       THEN 1 ELSE 0 END
           END
    END"""


@register(
    "attribution_position_based",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS purchase_event_id, user_id,
             epoch_us(ts) AS pus,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT event_id AS click_event_id, user_id, epoch_us(ts) AS cus
      FROM events WHERE event_type = 'click'),
    touch AS (
      SELECT p.purchase_event_id, p.user_id, p.cents, c.click_event_id,
             row_number() OVER (PARTITION BY p.purchase_event_id
                                ORDER BY c.cus, c.click_event_id) AS rn,
             count(*) OVER (PARTITION BY p.purchase_event_id) AS n_touches
      FROM p JOIN c ON c.user_id = p.user_id
       AND c.cus >= p.pus - CAST({ATTR_WINDOW_US} AS BIGINT)
       AND c.cus < p.pus)
    SELECT purchase_event_id, click_event_id, user_id,
           CAST(n_touches AS BIGINT) AS n_touches,
           CAST(rn AS BIGINT) AS touch_rank,
           CAST({_POS_CREDIT.format(div='//')} AS BIGINT) AS attributed_cents
    FROM touch
    """,
    tags=("timeseries", "join", "range-join", "exact-money"),
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITION-BASED (U-shaped 40/20/40) multi-touch attribution — the
    scheme marketing teams actually default to when linear feels too
    egalitarian: the FIRST touch (discovery) and LAST touch (closer) get
    40% each, the middle touches split the remaining 20%. Same banded
    7-day touch machinery as attribution_linear_multi_touch (purchases
    explode to day buckets, equality join, exact range filter — the
    lossless range-join binning), different credit curve.

    Exact integer cents, conservation by construction: the two 40%
    shares are floors, the middle pool is the exact REMAINDER
    cents − 2·floor(40%·cents) (so pool ≈ 20% plus both flooring
    residues — nothing is lost), split largest-remainder among middles
    with pennies to the earliest; n=1 takes everything, n=2 splits
    ((cents+1) div 2, cents div 2). Σ credits == purchase cents for
    every n — asserted in tests and impossible with float percentages.
    Precondition: cents >= 0 (holds here — events.value > 0 on every
    fixture, hostile included). For a negative
    pool, truncating div + ``pool % (n-2)`` would under-distribute (the
    largest-remainder +1 never fires on a negative remainder), so the
    conservation claim is scoped to non-negative purchase values; both
    engines still agree bit-for-bit either way. Scale shape identical to
    the linear tier."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.unix_micros("ts").alias("pus"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.unix_micros("ts").alias("cus"),
    )
    p_band = p.withColumn(
        "day_bucket",
        F.explode(
            F.sequence(
                ((F.col("pus") - F.lit(ATTR_WINDOW_US)) / F.lit(_DAY_US)).cast("long"),
                (F.col("pus") / F.lit(_DAY_US)).cast("long"),
            )
        ),
    )
    c_band = c.withColumn("c_day_bucket", (F.col("cus") / F.lit(_DAY_US)).cast("long"))
    touch = p_band.join(
        c_band,
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("day_bucket") == F.col("c_day_bucket"))
        & (F.col("cus") >= F.col("pus") - F.lit(ATTR_WINDOW_US))
        & (F.col("cus") < F.col("pus")),
    )
    w_rn = Window.partitionBy("purchase_event_id").orderBy("cus", "click_event_id")
    w_n = Window.partitionBy("purchase_event_id")
    ranked = touch.select(
        "purchase_event_id",
        "user_id",
        "cents",
        "click_event_id",
        F.row_number().over(w_rn).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n_touches"),
    )
    return ranked.select(
        "purchase_event_id",
        "click_event_id",
        "user_id",
        F.col("n_touches").cast("long").alias("n_touches"),
        F.col("rn").cast("long").alias("touch_rank"),
        F.expr(f"CAST({_POS_CREDIT.format(div='div')} AS BIGINT)").alias(
            "attributed_cents"
        ),
    )
