"""Analytics operator coverage beyond the reference's surface.

The reference has no joins, sorts, windows, set ops or scalar-function
library (SURVEY.md §2.1 "Operators the reference does NOT have") — these
queries close that gap Spark-first. Determinism rules for oracle parity:

- every float that is the result of an accumulation (sum/avg over many
  rows) is rounded in BOTH engines — summation order differs;
- every top-k / window ordering carries a unique tiebreak column;
- column names are aliased identically on both sides.

Scale notes: dimension joins are explicitly broadcast; fact-fact joins
shuffle on the join key and rely on AQE for skew splitting.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark.sql import Column

from streamprocessing_spark.functions import money as M
from streamprocessing_spark.functions import text as T
from streamprocessing_spark.registry import register
from streamprocessing_spark.sources.readers import load_table
from streamprocessing_spark.shipping import ensure_shippable, guard_zip_caches


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      sum(CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT)) / 10000.0 AS sum_qty,
      floor(sum(CAST(floor(l_extendedprice * 10000.0 + 0.5) AS BIGINT))
            / 10000.0 * 100.0 + 0.5) / 100.0                           AS sum_base_price,
      floor(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS BIGINT))
            / 10000.0 * 100.0 + 0.5) / 100.0                           AS sum_disc_price,
      floor(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000.0 + 0.5) AS BIGINT))
            / 1000000.0 * 100.0 + 0.5) / 100.0                         AS sum_charge,
      floor(CAST(sum(CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
            / count(*) + 0.5) / 10000.0                                AS avg_qty,
      floor(CAST(sum(CAST(floor(l_extendedprice * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
            / count(*) + 0.5) / 10000.0                                AS avg_price,
      floor(CAST(sum(CAST(floor(l_discount * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
            / count(*) + 0.5) / 10000.0                                AS avg_disc,
      count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("analytics", "aggregate"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: multi-aggregate grouped scan.
    One shuffle, partial aggregation map-side; the shipdate predicate is
    pushed to the parquet scan.

    Every money sum accumulates in exact integer ten-thousandths (charge
    carries 6 decimals → millionths) — order-insensitive BIGINT sums are
    bit-identical across engines (functions/money.py); the averages round
    the exact scaled sum over count(*). round(sum(double)) would straddle
    half-cents between Spark and DuckDB."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    qty_tt = M.tt(F.col("l_quantity"))
    price_tt = M.tt(F.col("l_extendedprice"))
    disc_price_tt = M.tt(disc_price)
    charge_mm = F.floor(charge * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    disc_tt = M.tt(F.col("l_discount"))
    n = F.count(F.lit(1))

    def avg4(sum_tt: Column) -> Column:
        return F.floor(sum_tt.cast("double") / n + F.lit(0.5)) / F.lit(10000.0)

    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty_tt) / F.lit(10000.0)).alias("sum_qty"),
            M.money(F.sum(price_tt)).alias("sum_base_price"),
            M.money(F.sum(disc_price_tt)).alias("sum_disc_price"),
            (
                F.floor(F.sum(charge_mm) / F.lit(1000000.0) * F.lit(100.0) + F.lit(0.5))
                / F.lit(100.0)
            ).alias("sum_charge"),
            avg4(F.sum(qty_tt)).alias("avg_qty"),
            avg4(F.sum(price_tt)).alias("avg_price"),
            avg4(F.sum(disc_tt)).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "join_broadcast_dim",
    oracle="""
    SELECT n_name, r_name, CAST(count(*) AS BIGINT) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY n_name, r_name
    """,
    tags=("analytics", "join"),
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema dimension join: nation/region are broadcast — zero
    shuffle for the join itself (check .explain: BroadcastHashJoin);
    the only shuffle is the final aggregate."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "join_revenue_by_nation",
    oracle="""
    SELECT n_name,
           floor(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS BIGINT))
                 / 10000.0 * 100.0 + 0.5) / 100.0 AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("analytics", "join"),
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dimension chain: supplier and nation broadcast against the
    lineitem fact scan; revenue aggregated per nation. At 100 TB the fact
    side streams through executors while the dims sit in memory."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(M.money(F.sum(M.tt(F.col("l_extendedprice") * (1 - F.col("l_discount"))))).alias("revenue"))
    )


@register(
    "join_shuffle_orders_lineitem",
    oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l_quantity), 2) AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
    tags=("analytics", "join"),
)
def join_shuffle_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join on the order key: both sides shuffle-partition on
    l_orderkey/o_orderkey (sort-merge or shuffled-hash per AQE); skewed
    keys are split by AQE skew-join handling."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


@register(
    "top_orders_by_revenue",
    oracle="""
    SELECT l_orderkey,
           floor(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS BIGINT))
                 / 10000.0 * 100.0 + 0.5) / 100.0 AS revenue
    FROM lineitem
    GROUP BY l_orderkey
    ORDER BY sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS BIGINT)) DESC,
             l_orderkey
    LIMIT 10
    """,
    tags=("analytics", "topk"),
)
def top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over a grouped aggregate. Spark's TakeOrderedAndProject keeps
    only k rows per partition then k at the driver — no global sort.
    Unique l_orderkey tiebreak keeps the cut deterministic; the rank ORDER
    is on the exact BIGINT revenue (a rank on rounded doubles could cut
    differently across engines when two orders straddle a half-cent)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.sum(M.tt(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev_tt"))
        .orderBy(F.desc("rev_tt"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", M.money(F.col("rev_tt")).alias("revenue"))
    )


@register(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           floor(sum(CAST(floor(o_totalprice * 10000.0 + 0.5) AS BIGINT)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / 10000.0 * 100.0 + 0.5) / 100.0 AS running_spend
    FROM orders
    """,
    tags=("analytics", "window"),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer — the window-function family the
    reference lacks entirely. Partition-by custkey shuffles once. The
    frame sum accumulates exact BIGINT ten-thousandths: even with a total
    ordering, double window sums aren't portable — DuckDB evaluates
    frames with segment trees while Spark does running adds, so the
    summation TREE differs, not just the order."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        M.money(F.sum(M.tt(F.col("o_totalprice"))).over(w)).alias("running_spend"),
    )


@register(
    "window_topn_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
    tags=("analytics", "window"),
)
def window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number — the scalable per-group
    top-k (no per-group sort materialization; rank filter is pushed into
    the window operator by Catalyst's WindowGroupLimit at scale)."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "rollup_counts",
    oracle="""
    SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    tags=("analytics", "aggregate"),
)
def rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (grouping-sets family). Spark expands the
    grouping sets in a single pass — one shuffle, not one per level."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "distinct_users_per_type",
    oracle="""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
    tags=("analytics", "aggregate"),
)
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expands to a two-phase aggregate).
    The approximate (HLL) variant for 100 TB is approx_distinct_users —
    same shape, constant memory."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct(F.col("user_id")).alias("n_users"))
    )


@register(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type
    """,
    tags=("analytics", "aggregate", "approx"),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct count — the scale path for distincts (no
    exact-distinct expansion, mergeable sketches). Promoted to a FULL
    oracle row (VERDICT r04 item #2): Spark's native HLL++ estimate is
    engine-specific (not hash-comparable), so the gated row carries the
    EXACT count as the audit column plus a tolerance flag asserting the
    native sketch (rsd=0.02) landed within 5% (2.5σ) of it — a sketch
    that drifts out of tolerance flips the flag and fails the hash. A
    production run drops the exact audit aggregate and keeps only the
    sketch; the deterministic md5-HLL whose ESTIMATE is itself
    hash-oracleable is hll_sketch_rollup_users."""
    est = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("n_est"),
            F.count_distinct("user_id").cast("long").alias("n_users_exact"),
        )
    )
    return est.select(
        "event_type",
        "n_users_exact",
        (
            F.abs(F.col("n_est") - F.col("n_users_exact")) * 20
            <= F.col("n_users_exact")
        ).alias("approx_within_5pct"),
    )


# Deterministic md5-based HyperLogLog (the countmin_heavy_hitters
# promotion pattern, VERDICT r03 item #7): m=256 buckets from the first
# md5 byte, rho over the next 48 bits, raw estimate alpha·m²/Σ2^-M_j
# evaluated in EXACT integer arithmetic (Σ scaled by 2^49 fits BIGINT;
# the alpha division runs in DECIMAL(38)/HUGEINT floor division), and
# the small-range linear-counting branch m·ln(m/V) routed through the
# integer mlog2 primitive — both engines compute bit-identical BIGINTs
# at every step, so the sketch estimate itself is hash-oracleable.
HLL_M = 256
HLL_RMAX = 49  # 48 hash bits + 1; empty buckets contribute 2^49 to S
_HLL_NUMER = 718273 * HLL_M * HLL_M * (1 << HLL_RMAX)  # alpha_ppm·m²·2^49
_HLL_LC_THRESHOLD = 5 * HLL_M // 2  # below this, linear counting
_HLL_LC_SQL = (
    f"({HLL_M} * CAST(693147181 AS BIGINT)"  # ln2 in ppb
    " * (8000 - CAST(floor(1000*log2(vz)+0.5) AS BIGINT)))"  # mlog2(m)-mlog2(V)
)


def _hll_registers(ev: DataFrame, *group_cols: object) -> DataFrame:
    """Per-(group, bucket) max-rho register table — the storable,
    mergeable sketch. Deterministic md5 arithmetic: bucket = first md5
    byte, rho = leading zeros of the next 48 bits + 1 (v=0 → RMAX)."""
    h = F.md5(F.concat(F.lit("hll:"), F.col("user_id")).cast("binary"))
    v = F.conv(F.substring(h, 3, 12), 16, 10).cast("long")
    hashed = ev.select(
        *group_cols,
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("bucket"),
        F.when(v == 0, HLL_RMAX)
        .otherwise(F.lit(HLL_RMAX) - F.length(F.bin(v)))
        .cast("int")
        .alias("rho"),
    )
    return hashed.groupBy(*[c for c in hashed.columns if c != "rho"]).agg(
        F.max("rho").alias("m_reg")
    )


def _hll_estimate(regs: DataFrame, key: str = "event_type") -> DataFrame:
    """Fold a (key, bucket, m_reg) register table to (key, n_users_est)
    with exact integer arithmetic — identical BIGINTs on both engines."""
    s = regs.groupBy(key).agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RMAX} - m_reg)")
        ).alias("s_present"),
        F.count(F.lit(1)).alias("nb"),
    )
    est = s.select(
        key,
        F.expr(
            f"CAST(CAST({_HLL_NUMER} AS DECIMAL(38,0)) div "
            f"(CAST(1000000 AS DECIMAL(38,0)) * "
            f"(s_present + ({HLL_M} - nb) * {1 << HLL_RMAX})) AS BIGINT)"
        ).alias("est_raw"),
        (F.lit(HLL_M) - F.col("nb")).alias("vz"),
    )
    return est.select(
        key,
        F.when(
            (F.col("est_raw") <= _HLL_LC_THRESHOLD) & (F.col("vz") > 0),
            F.expr(f"CAST({_HLL_LC_SQL} div 1000000000000 AS BIGINT)"),
        )
        .otherwise(F.col("est_raw"))
        .alias("n_users_est"),
    )


@register(
    "hll_sketch_rollup_users",
    oracle=f"""
    WITH hv AS (
      SELECT event_type,
             CAST(('0x' || substr(md5('hll:' || user_id), 1, 2)) AS BIGINT) AS bucket,
             CAST(('0x' || substr(md5('hll:' || user_id), 3, 12)) AS BIGINT) AS v
      FROM events),
    regs AS (
      SELECT event_type, bucket,
             max(CASE WHEN v = 0 THEN {HLL_RMAX}
                 ELSE {HLL_RMAX} - length(bin(v)) END) AS m_reg
      FROM hv GROUP BY 1, 2),
    s AS (
      SELECT event_type,
             CAST(sum(CAST(1 AS BIGINT) << ({HLL_RMAX} - m_reg)) AS BIGINT) AS s_present,
             count(*) AS nb
      FROM regs GROUP BY 1),
    est AS (
      SELECT event_type,
             CAST(CAST({_HLL_NUMER} AS HUGEINT) //
                  (CAST(1000000 AS HUGEINT) *
                   (s_present + ({HLL_M} - nb) * {1 << HLL_RMAX})) AS BIGINT) AS est_raw,
             {HLL_M} - nb AS vz
      FROM s),
    ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact
           FROM events GROUP BY 1)
    SELECT est.event_type,
           CAST(CASE WHEN est_raw <= {_HLL_LC_THRESHOLD} AND vz > 0
                THEN {_HLL_LC_SQL} // 1000000000000
                ELSE est_raw END AS BIGINT) AS n_users_est,
           n_users_exact
    FROM est JOIN ex USING (event_type)
    """,
    tags=("analytics", "aggregate", "approx"),
)
def hll_sketch_rollup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — THE 100 TB distinct-count architecture:
    build one HLL register table of user_id per (event_type, day)
    partition, then merge the daily registers up to the event_type level
    (bucket-wise max) and read the estimate. Unlike a one-shot
    approx_count_distinct, the intermediate registers are storable rows:
    a real deployment materializes the per-day register table once and
    answers any later rollup (weekly, monthly, all-time, cross-type) by
    max-merging kilobyte registers instead of rescanning petabytes of
    raw events.

    Promoted to a FULL oracle row (VERDICT r03 item #7, the
    countmin_heavy_hitters pattern): the sketch is deterministic md5
    arithmetic with an integer-exact estimator (raw HLL via
    DECIMAL(38)/HUGEINT floor division, small-range linear counting via
    the integer mlog2 primitive), so both engines produce bit-identical
    estimates; the exact distinct count rides alongside as the audit
    column. tests/test_approx_aggregates.py additionally bounds the
    estimate against the exact count and asserts the union-of-parts
    estimate equals the single-pass estimate (merge correctness)."""
    ev = load_table(spark, sf_dir, "events")
    daily_regs = _hll_registers(ev, "event_type", F.to_date("ts").alias("day"))
    merged = daily_regs.groupBy("event_type", "bucket").agg(
        F.max("m_reg").alias("m_reg")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_users_exact")
    )
    return _hll_estimate(merged).join(exact, "event_type")


@register(
    "set_except_union",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("analytics", "setop"),
)
def set_except_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference: customers with open orders but no finished ones."""
    o = load_table(spark, sf_dir, "orders")
    open_ = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    fin = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_.subtract(fin)


@register(
    "set_intersect_statuses",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("analytics", "setop"),
)
def set_intersect_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (completes the set-op family with
    set_except_union): customers holding BOTH open and finished orders.
    Spark plans INTERSECT as a distinct + left-semi join — one shuffle
    per side on the full row as key."""
    o = load_table(spark, sf_dir, "orders")
    open_ = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    fin = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_.intersect(fin)


@register(
    "event_time_tumbling_window",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) || ' UTC' AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           floor(sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))
                 / 10000.0 * 100.0 + 0.5) / 100.0 AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("analytics", "window", "event-time"),
)
def event_time_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window aggregate — batch shape of the
    Structured Streaming windowed count (streaming/keyed_count.py runs the
    same plan incrementally with a watermark). Window start serialized as
    text to keep timestamp semantics engine-neutral."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.concat(
                F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"),
                F.lit(" UTC"),
            ).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            # exact ten-thousandths accumulation (functions/money.py):
            # value quantizes at 4 decimals before the order-insensitive
            # BIGINT sum
            M.money(F.sum(M.tt(F.col("value")))).alias("sum_value"),
        )
    )


@register(
    "json_extract_props",
    oracle="""
    SELECT event_id,
           TRY_CAST((CASE WHEN json_valid(props)
                     THEN json_extract_string(props, '$.k') END) AS BIGINT) AS k
    FROM events
    """,
    tags=("analytics", "functions"),
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar JSON extraction over the events.props column — part of the
    scalar-function surface the reference has none of. try_cast, not
    cast: a non-numeric $.k (legal dirty JSON — the hostile fixture
    carries one) must yield NULL like DuckDB's TRY_CAST, not an ANSI
    cast error; invalid JSON documents yield NULL on both engines
    (get_json_object ↔ the json_valid guard, verified value-identical
    on the hostile prop pool)."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").try_cast("long").alias("k"),
    )


@register(
    "asof_join_latest_order",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, o.o_orderkey
    FROM events e
    ASOF JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    tags=("analytics", "join", "asof"),
)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the customer's most recent order at or
    before the event time. Spark lacks a native ASOF JOIN; the scalable
    pattern is union-the-streams + last_value over an event-time window —
    one shuffle on (key, time), no range cross-join blowup.

    Orders are first deduped to one per (custkey, date) (max orderkey) so
    the as-of winner is deterministic in both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), F.col("ts").alias("t"), "event_id"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("t"))
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    # Tag and union: orders sort before events at the same instant so an
    # order exactly at ts is visible to the event (>= semantics).
    left = ev.select("k", "t", F.lit(1).alias("side"), F.lit(None).cast("long").alias("o_orderkey"), "event_id")
    right = o.select("k", "t", F.lit(0).alias("side"), "o_orderkey", F.lit(None).cast("long").alias("event_id"))
    w = (
        Window.partitionBy("k")
        .orderBy("t", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = left.unionByName(right).withColumn(
        "o_orderkey_asof", F.last("o_orderkey", ignorenulls=True).over(w)
    )
    return (
        merged.filter(F.col("side") == 1)
        .filter(F.col("o_orderkey_asof").isNotNull())
        .select("event_id", F.col("o_orderkey_asof").alias("o_orderkey"))
    )


@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS F,
           CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS O,
           CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS P
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("analytics", "aggregate", "pivot"),
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (cross-tab): one shuffle, statuses become columns. The value
    list is declared explicitly — at scale an undeclared pivot needs an
    extra distinct pass to discover values."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        # absent (priority, status) cells pivot to NULL; the oracle's
        # count(CASE ...) yields 0 — align explicitly
        .na.fill(0, ["F", "O", "P"])
    )


@register(
    "percentiles_by_segment",
    oracle="""
    SELECT c_mktsegment,
           round(quantile_cont(c_acctbal, 0.5), 4) AS p50,
           round(quantile_cont(c_acctbal, 0.95), 4) AS p95
    FROM customer GROUP BY c_mktsegment
    """,
    tags=("analytics", "aggregate"),
)
def percentiles_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (Spark
    ``percentile`` == DuckDB ``quantile_cont``). The constant-memory scale
    variant is percentile_approx (KLL/GK sketch) — same query shape,
    tested for error bounds rather than oracled."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(c_acctbal, 0.95)"), 4).alias("p95"),
    )


@register(
    "approx_percentiles_by_segment",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(c_acctbal) AS BIGINT) AS n_vals,
           TRUE AS p50_valid, TRUE AS p95_valid
    FROM customer GROUP BY c_mktsegment
    """,
    tags=("analytics", "aggregate", "approx"),
)
def approx_percentiles_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (GK sketch via percentile_approx) — the
    constant-memory scale path for percentiles_by_segment: the sketch is
    mergeable across partitions, so no per-group sort/materialization at
    100 TB. Promoted to a FULL oracle row (VERDICT r04 item #2): the
    sketch's returned element is engine-specific, so the gated row
    asserts the GK rank GUARANTEE itself — percentile_approx returns an
    observed element v, and with accuracy ≥ group size the rank bound
    collapses to "v is a TRUE discrete p-quantile": #(x < v) ≤ p·n and
    #(x ≤ v) ≥ p·n, checked in exact integer arithmetic (2·below ≤ n,
    20·below ≤ 19·n for p95) by joining the sketch output back against
    the value multiset. An invalid element flips the flag and fails the
    hash; the exact n_vals audit count rides alongside. A production run
    keeps only the sketch aggregate."""
    c = load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_acctbal")
    sk = c.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.expr("percentile_approx(c_acctbal, 0.5, 10000)").alias("p50a"),
        F.expr("percentile_approx(c_acctbal, 0.95, 10000)").alias("p95a"),
    )
    # null-safe join-back: a NULL segment is a legal group (the oracle's
    # GROUP BY keeps it) — a bare equi-join would drop it (hostile-sweep
    # find, round 5)
    j = c.join(
        F.broadcast(sk), F.col("c_mktsegment").eqNullSafe(F.col("seg"))
    ).drop("seg")
    audit = j.groupBy("c_mktsegment").agg(
        F.count("c_acctbal").alias("n_vals"),
        F.sum(F.when(F.col("c_acctbal") < F.col("p50a"), 1).otherwise(0)).alias("b50"),
        F.sum(F.when(F.col("c_acctbal") <= F.col("p50a"), 1).otherwise(0)).alias("a50"),
        F.sum(F.when(F.col("c_acctbal") < F.col("p95a"), 1).otherwise(0)).alias("b95"),
        F.sum(F.when(F.col("c_acctbal") <= F.col("p95a"), 1).otherwise(0)).alias("a95"),
    )
    return audit.select(
        "c_mktsegment",
        F.col("n_vals").cast("long").alias("n_vals"),
        ((F.col("b50") * 2 <= F.col("n_vals")) & (F.col("a50") * 2 >= F.col("n_vals"))).alias("p50_valid"),
        ((F.col("b95") * 20 <= F.col("n_vals") * 19) & (F.col("a95") * 20 >= F.col("n_vals") * 19)).alias("p95_valid"),
    )


@register(
    "join_semi_open_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    """,
    tags=("analytics", "join"),
)
def join_semi_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with ≥1 open order. Semi joins
    ship only the join key of the probe side — no payload duplication."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti_no_finished_orders",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
    tags=("analytics", "join"),
)
def join_anti_no_finished_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no finished order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@register(
    "scalar_function_showcase",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prio_num,
           upper(o_orderstatus) || '-' || CAST(length(o_orderpriority) AS VARCHAR) AS tag,
           floor(log10(o_totalprice + 1) * 1000000.0 + 0.5) / 1000000.0 AS log_price,
           floor(sqrt(o_totalprice) * 1000000.0 + 0.5) / 1000000.0 AS sqrt_price,
           CASE WHEN o_totalprice < 50000 THEN 'low'
                WHEN o_totalprice < 150000 THEN 'mid'
                ELSE 'high' END AS bucket,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_decoded,
           datediff('day', DATE '1995-01-01', o_orderdate) AS days_since_95
    FROM orders
    """,
    tags=("analytics", "functions"),
)
def scalar_function_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-function library the reference lacks entirely
    (SURVEY.md §2.1): date parts, string ops, math, CASE buckets, null
    handling, date arithmetic — all JVM-side codegen'd expressions."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("prio_num"),
        F.concat(
            F.upper("o_orderstatus"), F.lit("-"), F.length("o_orderpriority").cast("string")
        ).alias("tag"),
        T.portable_round(F.log10(F.col("o_totalprice") + 1), 6).alias("log_price"),
        T.portable_round(F.sqrt("o_totalprice"), 6).alias("sqrt_price"),
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
        .alias("bucket"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING")).alias(
            "status_decoded"
        ),
        F.date_diff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).cast("long").alias("days_since_95"),
    )


@register(
    "source_csv_roundtrip",
    oracle="""
    SELECT doc_id, text, lang FROM documents
    """,
    tags=("reference", "source", "csv"),
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with declared schema (the reference's input format,
    parsed per-record inside ops — app1op2.go:11-14): write the corpus out
    as quoted CSV, read it back through the schema'd CSV scanner. Proves
    quoting/escaping fidelity end-to-end."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    # deterministic per-sf staging dir (mode=overwrite): repeated runs
    # reuse one directory instead of leaking a new mkdtemp each call
    out = os.path.join(
        tempfile.gettempdir(), f"sp_csv_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{os.getpid()}"
    )
    # explicit dirty-data fidelity options (hostile-sweep finds):
    # - the CSV WRITER trims leading/trailing whitespace by default
    #   (ignore*WhiteSpace default true on write) — a trailing-space
    #   document silently loses bytes on the round trip
    # - NULL and '' conflate under the default nullValue="": write NULL
    #   as an unambiguous sentinel and read it back, so empty text stays
    #   empty and NULL stays NULL
    (
        d.write.mode("overwrite")
        .option("header", "true")
        .option("escape", '"')
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .option("nullValue", "\\N")
        .csv(out)
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )
    # multiLine: documents containing embedded newlines round-trip as
    # quoted multi-line fields; without it the reader would split them.
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .option("nullValue", "\\N")
        .option("emptyValue", "")
        .csv(out)
    )


@register(
    "source_malformed_csv_permissive",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(count(*) FILTER (o_orderkey % 7 <> 0) AS BIGINT) AS n_parsed,
           CAST(count(*) FILTER (o_orderkey % 7 = 0) AS BIGINT) AS n_quarantined,
           CAST(coalesce(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                         FILTER (o_orderkey % 7 <> 0), 0) AS BIGINT) AS clean_cents
    FROM orders
    GROUP BY 1
    """,
    tags=("analytics", "source", "csv", "dirty-data"),
)
def source_malformed_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input ingest under PERMISSIVE mode with _corrupt_record
    accounting (VERDICT r05 item #5 — the first thing a real crawl
    hits): a CSV staging of orders is DELIBERATELY corrupted — every
    o_orderkey % 7 == 0 row gets a non-numeric cents field ('1234X'),
    the reference analogue being op-exe contracts that silently drop
    unparseable lines (app1op2.go:11-17; this op keeps them, counted) —
    then read back with an explicit schema + columnNameOfCorruptRecord.
    Per status: rows parsed clean, rows quarantined (raw line preserved
    in the corrupt column — replayable into a quarantine sink), and the
    exact cents sum over the CLEAN subset only. The oracle replays the
    deterministic corruption rule against the orders table directly, so
    the parser's quarantine behaviour itself is value-hash-checked.

    Scale shape: the staging write is fixture plumbing (real crawls
    arrive corrupted); the measured path is one schema'd CSV scan + a
    map-side-combinable status aggregate — PERMISSIVE parsing is
    per-row work at scan, no extra shuffle. A corrupted row keeps its
    parseable columns (status — the standard PERMISSIVE partial-parse
    contract), which is what lets the quarantine COUNT land in the
    right status group without reparsing."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    lines = o.select(
        F.concat_ws(
            ",",
            F.col("o_orderkey"),
            F.col("o_orderstatus"),
            F.when(
                F.col("o_orderkey") % 7 == 0,
                # NULL-proof corruption (ADVICE r06): coalesce keeps the
                # trailing 'X' even when cents is NULL — a bare
                # concat(NULL,'X') is NULL and concat_ws would DROP the
                # field, turning the line into a short-but-parseable row
                # (PERMISSIVE pads missing trailing columns) that Spark
                # counts parsed while the oracle's %7 law counts it
                # quarantined. With the coalesce, every %7==0 line ends
                # in a non-numeric token and quarantines on both engines
                # regardless of NULL o_totalprice.
                F.concat(
                    F.coalesce(F.col("cents").cast("string"), F.lit("")),
                    F.lit("X"),
                ),
            ).otherwise(F.col("cents").cast("string")),
        ).alias("value")
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"sp_badcsv_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{os.getpid()}",
    )
    lines.write.mode("overwrite").text(out)
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("status", StringType()),
            StructField("cents", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return parsed.groupBy("status").agg(
        F.sum(F.when(~bad, 1).otherwise(0)).cast("long").alias("n_parsed"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("n_quarantined"),
        F.coalesce(F.sum(F.when(~bad, F.col("cents"))), F.lit(0))
        .cast("long")
        .alias("clean_cents"),
    )


@register(
    "cube_counts",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    tags=("analytics", "aggregate"),
)
def cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over two dimensions (all 4 grouping sets in one shuffle)."""
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "array_agg_per_user",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_seen,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
    tags=("analytics", "aggregate", "array"),
)
def array_agg_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection aggregate with deterministic output: collect_set order is
    nondeterministic, so the array is sorted before joining — the rule for
    ANY collection aggregate that feeds a comparison or a sink."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types_seen"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "udaf_geometric_mean",
    oracle="""
    SELECT o_orderstatus,
           round(exp(avg(ln(o_totalprice))), 4) AS geo_mean_price
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("analytics", "aggregate", "pandas-udf"),
)
def udaf_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via a grouped-agg Pandas UDF (Arrow-vectorized) —
    the UDAF registration surface the reference lacks. The oracle is the
    closed form exp(avg(ln x))."""
    from pyspark.sql.functions import pandas_udf

    ensure_shippable()

    @pandas_udf("double")
    def geo_mean(v: pd.Series) -> float:
        guard_zip_caches()
        # skip NULLs like every SQL aggregate does (the oracle's
        # avg(ln(x)) never sees them); an all-NULL group yields NULL
        x = v.dropna().to_numpy()
        if len(x) == 0:
            return None
        return float(np.exp(np.log(x).mean()))

    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.round(geo_mean("o_totalprice"), 4).alias("geo_mean_price"))
    )


@register(
    "salted_count_by_user",
    oracle="""
    SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    """,
    tags=("analytics", "aggregate", "skew"),
)
def salted_count_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation — the manual skew-mitigation pattern
    for when one key carries a pathological share of rows: stage 1
    aggregates on (key, salt) spreading the hot key over 16 reducers,
    stage 2 merges the partials per key. Result is identical to the plain
    groupBy (the oracle). For built-in aggregates Spark's map-side partial
    aggregation makes this mostly redundant — the pattern matters for
    non-combinable custom aggregates and skewed JOIN keys."""
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("_salt", F.pmod(F.hash("event_id"), F.lit(16)))
    partial = salted.groupBy("user_id", "_salt").agg(F.count(F.lit(1)).alias("c"))
    return partial.groupBy("user_id").agg(F.sum("c").alias("cnt"))


SALT_BUCKETS = 8


@register(
    "salted_join_events_customer",
    oracle="""
    SELECT e.user_id, c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_events
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY e.user_id, c.c_mktsegment
    """,
    tags=("analytics", "join", "skew"),
)
def salted_join_events_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual skew-salting for a JOIN (the companion to
    salted_count_by_user's salted aggregation): the big (possibly
    hot-keyed) side gets a random-free deterministic salt from its row
    id, the small side is exploded across all salt values, and the join
    runs on (key, salt) — a pathological key's rows now spread over
    SALT_BUCKETS reducers instead of one. Result must equal the plain
    join (the oracle). AQE's skew-join split makes this manual pattern
    unnecessary for sort-merge joins it can observe — it remains THE
    tool for skewed stream-stream joins and non-splittable operators."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    salted_big = ev.withColumn("_salt", F.pmod(F.hash("event_id"), F.lit(SALT_BUCKETS)))
    salts = F.array(*[F.lit(i) for i in range(SALT_BUCKETS)])
    exploded_small = c.withColumn("_salt", F.explode(salts))
    return (
        salted_big.join(
            exploded_small,
            (salted_big.user_id == exploded_small.c_custkey)
            & (salted_big._salt == exploded_small._salt),
        )
        .groupBy("user_id", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "latest_event_per_user",
    oracle="""
    SELECT user_id, event_id, event_type FROM (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
    tags=("analytics", "window", "compaction"),
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-per-key compaction (the upsert/changelog-collapse
    operator): one shuffle on the key, rank filter inside the window
    operator. Deterministic tiebreak (ts DESC, event_id DESC)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.select("user_id", "event_id", "event_type", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "q5_regional_volume",
    oracle="""
    SELECT n_name,
           floor(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS BIGINT))
                 / 10000.0 * 100.0 + 0.5) / 100.0 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    GROUP BY n_name
    """,
    tags=("analytics", "join"),
)
def q5_regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped six-table join (local supplier volume): two fact
    tables + four dims with a same-nation constraint. Declared flat and
    left to Catalyst: dims broadcast, facts shuffle once on the order key,
    the region/date filters push into the scans. The plan to eyeball at
    scale: no fact table should be joined before its pushed filter."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            M.money(
                F.sum(M.tt(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            ).alias("revenue")
        )
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    tags=("analytics", "join", "aggregate"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped (order priority checking): orders in a quarter
    with at least one late-shipped item (>60 days after order — this
    lineitem has no commit/receipt dates), counted per priority. The
    EXISTS is a left-semi join whose condition correlates both tables'
    columns (l_shipdate > o_orderdate + 60d) — the non-equi part
    evaluates inside the semi join after the equi match on the order
    key."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT floor(sum(CAST(floor(l_extendedprice * l_discount * 10000.0 + 0.5) AS BIGINT))
                 / 10000.0 * 100.0 + 0.5) / 100.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("analytics", "aggregate"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): pure filter + global aggregate
    — the canonical pushdown benchmark. All three predicates reach the
    parquet scan (min/max row-group pruning at scale); no shuffle beyond
    the single-row final aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            M.money(F.sum(M.tt(F.col("l_extendedprice") * F.col("l_discount")))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q14_promo_revenue",
    oracle="""
    WITH sums AS (
      SELECT
        floor(sum(CASE WHEN p_type = 'PROMO'
                       THEN CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS BIGINT) END)
              / 10000.0 * 100.0 + 0.5) / 100.0 AS promo_revenue,
        floor(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS BIGINT))
              / 10000.0 * 100.0 + 0.5) / 100.0 AS total_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
    )
    SELECT promo_revenue, total_revenue,
           floor(100.0 * promo_revenue / total_revenue * 100.0 + 0.5) / 100.0 AS promo_pct
    FROM sums
    """,
    tags=("analytics", "join", "aggregate"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped (promotion effect): conditional aggregate over a
    part-dimension join — part broadcasts against the date-filtered
    lineitem scan. Both sums accumulate in exact BIGINT ten-thousandths
    (functions/money.py); the percentage is derived from the rounded
    dollar outputs so both engines divide identical doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc_tt = M.tt(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    sums = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            M.money(F.sum(F.when(F.col("p_type") == "PROMO", disc_tt))).alias("promo_revenue"),
            M.money(F.sum(disc_tt)).alias("total_revenue"),
        )
    )
    return sums.select(
        "promo_revenue",
        "total_revenue",
        (F.floor(100.0 * F.col("promo_revenue") / F.col("total_revenue") * 100.0 + F.lit(0.5)) / 100.0).alias("promo_pct"),
    )


@register(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
       OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
       OR (p_brand = 'Brand#25' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
    """,
    tags=("analytics", "join", "aggregate"),
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped (discounted revenue, disjunctive predicates):
    three OR'd brand/quantity/size conjunctions across the join. Catalyst
    pushes the common-side disjuncts to each scan (brand/size to part,
    quantity to lineitem) and evaluates the cross-side residual after the
    broadcast join — the predicate-decomposition case simple planners
    fumble into a full cross-filter."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#12") & q.between(1, 11) & s.between(1, 5))
        | ((b == "Brand#23") & q.between(10, 20) & s.between(1, 10))
        | ((b == "Brand#25") & q.between(20, 30) & s.between(1, 15))
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q18_large_volume_customers",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
    tags=("analytics", "join", "aggregate"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped (large volume customer): GROUP BY + HAVING feeding
    an IN-subquery, expressed as an aggregate → left-semi join. The
    having-filtered order set is tiny (~0.25% of orders), so AQE converts
    the semi join to broadcast at runtime; the big lineitem scan runs
    exactly twice (once for the HAVING aggregate, once for the join) —
    at 100 TB the aggregate side is the one worth caching/reusing."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > 250)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            # serialized as text: engine-neutral timestamp semantics (same
            # rule as event_time_tumbling_window)
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


@register(
    "scalar_subquery_max_order",
    oracle="""
    SELECT c_custkey,
           (SELECT round(max(o_totalprice), 2) FROM orders
            WHERE o_custkey = c_custkey) AS max_order_price
    FROM customer
    """,
    tags=("analytics", "subquery"),
)
def scalar_subquery_max_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: each customer's max order price inline.
    Catalyst de-correlates this into an aggregate + left outer join (one
    shuffle on the key) — no per-row subquery execution; customers with
    no orders get NULL, exactly the SQL scalar-subquery semantics."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("sp_cust_sq")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sp_ord_sq")
    return spark.sql(
        """
        SELECT c_custkey,
               (SELECT round(max(o_totalprice), 2) FROM sp_ord_sq
                WHERE o_custkey = c_custkey) AS max_order_price
        FROM sp_cust_sq
        """
    )


@register(
    "q10_returned_item_customers",
    oracle="""
    SELECT c_custkey, c_name,
           floor(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS BIGINT))
                 / 10000.0 * 100.0 + 0.5) / 100.0 AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("analytics", "join", "topk"),
)
def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped (returned item reporting): top-20 customers by
    revenue lost to returns in a quarter-ish window. Date filter pushes
    into the orders scan, returnflag into lineitem; nation broadcasts;
    one fact-fact shuffle + TakeOrdered for the cut.

    Revenue accumulates in exact integer ten-thousandths (each item's
    4-decimal disc price scaled per-row, summed as BIGINT): integer sums
    are accumulation-order-INsensitive, so the value — and the top-20
    rank cut on it — is bit-identical across engines. round(sum(double))
    here straddled a half-cent on 1 of 312 groups at sf0.01."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000.0 + F.lit(0.5)
    ).cast("long")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            (F.floor(F.sum(cents) / 10000.0 * 100.0 + F.lit(0.5)) / 100.0).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q21_sole_blamed_supplier",
    oracle="""
    SELECT s_name, CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    """,
    tags=("analytics", "join", "setop"),
)
def q21_sole_blamed_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped multi-self-join: suppliers solely responsible for
    returned items on finished multi-supplier orders (the reference
    lineitem has no commit/receipt dates, so 'late' becomes 'returned' —
    the join topology is Q21's: fact → semi self-join → anti self-join).
    All three lineitem legs co-partition on l_orderkey, so the two
    self-joins reuse one shuffle exchange; supplier is broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select("o_orderkey")
    l1 = li.where(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = li.select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2"))
    l3 = (
        li.where(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3"))
    )
    cand = (
        l1.join(o, l1.l_orderkey == o.o_orderkey, "left_semi")
        .join(l2, (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")), "left_semi")
        .join(l3, (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("s3")), "left_anti")
    )
    return (
        cand.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count_distinct("l_orderkey").alias("numwait"))
    )


@register(
    "inter_event_gap_stats",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      FROM events)
    SELECT user_id,
           CAST(count(gap_us) AS BIGINT) AS n_gaps,
           round(avg(gap_us) / 1000000.0, 2) AS avg_gap_s,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM gaps WHERE gap_us IS NOT NULL GROUP BY user_id
    """,
    tags=("analytics", "window", "time-series"),
)
def inter_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap statistics per user (lag over event time) — the
    time-series feature primitive behind sessionization thresholds and
    burst detection. Deterministic order: (ts, event_id)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.round(F.avg("gap_us") / 1000000.0, 2).alias("avg_gap_s"),
        F.max("gap_us").alias("max_gap_us"),
    )


@register(
    "array_function_showcase",
    oracle="""
    WITH per_user AS (
      SELECT user_id, list_sort(list(DISTINCT event_type)) AS types
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(types) AS INTEGER) AS n_types,
           types[1] AS first_type,
           list_contains(types, 'purchase') AS has_purchase,
           COALESCE(array_to_string(list_sort(list_intersect(types, ['click', 'purchase'])), ','), '') AS funnel_types,
           COALESCE(array_to_string(types[1:2], ','), '') AS first_two,
           COALESCE(array_to_string(list_sort(list_filter(types, t -> t <> 'error')), ','), '') AS non_error
    FROM per_user
    """,
    tags=("analytics", "functions", "array"),
)
def array_function_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The array-function library over collected-per-key arrays: size,
    indexing, membership, intersection, slicing, lambda filter — all
    JVM-side expressions on the grouped result (one shuffle for the
    collect, everything after is a narrow projection). Arrays are sorted
    before any output or set op: collection order is nondeterministic,
    sorted form is the engine-portable canonical one."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("types")
    )
    t = F.col("types")
    return per_user.select(
        "user_id",
        F.size(t).alias("n_types"),
        F.element_at(t, 1).alias("first_type"),
        F.array_contains(t, "purchase").alias("has_purchase"),
        F.array_join(
            F.sort_array(F.array_intersect(t, F.array(F.lit("click"), F.lit("purchase")))), ","
        ).alias("funnel_types"),
        F.array_join(F.slice(t, 1, 2), ",").alias("first_two"),
        F.array_join(
            F.sort_array(F.filter(t, lambda x: x != "error")), ","
        ).alias("non_error"),
    )


@register(
    "grouping_sets_custom",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS cnt,
           floor(sum(CAST(floor(o_totalprice * 10000.0 + 0.5) AS BIGINT))
                 / 10000.0 * 100.0 + 0.5) / 100.0 AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("analytics", "aggregate"),
)
def grouping_sets_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (not the rollup/cube lattice): per-status,
    per-priority, and grand total in ONE pass — one scan, one expanded
    shuffle, versus three separate aggregations. The general form of the
    grouping-sets family (rollup_counts / cube_counts cover the
    hierarchical and full-lattice cases)."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("sp_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS cnt,
               -- 'D' suffix: Spark SQL parses bare decimal literals as
               -- DECIMAL, which would turn the division into decimal math
               floor(sum(CAST(floor(o_totalprice * 10000.0D + 0.5D) AS BIGINT))
                     / 10000.0D * 100.0D + 0.5D) / 100.0D AS total
        FROM sp_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "window_rank_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                               ORDER BY o_orderkey) AS BIGINT) AS quartile,
           floor(percent_rank() OVER w * 1000000.0 + 0.5) / 1000000.0 AS pct_rank,
           floor(cume_dist() OVER w * 1000000.0 + 0.5) / 1000000.0 AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice NULLS LAST, o_orderkey)
    """,
    tags=("analytics", "window"),
)
def window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-function family (rank / dense_rank / ntile /
    percent_rank / cume_dist) in one pass over one window partition —
    completes the window-function surface beyond row_number. One shuffle
    on the partition key; the ordering (price, key) is total so every
    rank is deterministic. ntile uses its own key-ordered window (ties in
    price would make bucket boundaries order-dependent otherwise)."""
    # nulls_last: o_totalprice is nullable in dirty data; Spark ASC defaults
    # NULLS FIRST where DuckDB defaults NULLS LAST (hostile-sweep find)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc_nulls_last("o_totalprice"), "o_orderkey"
    )
    wk = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(wk).cast("long").alias("quartile"),
        T.portable_round(F.percent_rank().over(w), 6).alias("pct_rank"),
        T.portable_round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@register(
    "join_full_outer_daily_activity",
    oracle="""
    WITH p AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    e AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_errors
      FROM events WHERE event_type = 'error' GROUP BY user_id
    )
    SELECT coalesce(p.user_id, e.user_id) AS user_id,
           coalesce(p.n_purchases, 0) AS n_purchases,
           coalesce(e.n_errors, 0) AS n_errors
    FROM p FULL OUTER JOIN e ON p.user_id = e.user_id
    """,
    tags=("analytics", "join"),
)
def join_full_outer_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: align two per-user aggregates keeping users that
    appear on either side — the reconciliation join (metrics A vs
    metrics B). Completes the join-type surface (inner / broadcast /
    semi / anti / left / as-of / full outer). Full outer can never
    broadcast — both sides shuffle on the key."""
    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    e = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    return (
        p.join(e, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
        )
    )


@register(
    "scd2_user_type_history",
    oracle="""
    WITH changes AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    starts AS (
      SELECT user_id, event_type, ts, event_id
      FROM changes
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           coalesce(strftime(lead(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id),
                             '%Y-%m-%d %H:%M:%S.%f'), 'current') AS valid_to
    FROM starts
    """,
    tags=("analytics", "window", "scd"),
)
def scd2_user_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 history build: collapse an event stream into validity
    intervals per user (each interval = a run of the same event_type;
    open intervals marked 'current') — the slowly-changing-dimension
    pattern for change capture. lag detects run starts, lead closes the
    interval; both windows share one user_id shuffle. Timestamps are
    serialized to text (engine-neutral)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    starts = changes.where(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return starts.select(
        "user_id",
        "event_type",
        F.date_format("ts", fmt).alias("valid_from"),
        F.coalesce(
            F.date_format(F.lead("ts").over(w), fmt), F.lit("current")
        ).alias("valid_to"),
    )


@register(
    "funnel_click_to_purchase",
    oracle="""
    SELECT b.event_id,
           CAST(count(a.event_id) AS BIGINT) AS n_clicks_6h
    FROM events b
    LEFT JOIN events a
      ON a.user_id = b.user_id
     AND a.event_type = 'click'
     AND a.ts >= b.ts - INTERVAL 6 HOUR
     AND a.ts < b.ts
    WHERE b.event_type = 'purchase'
    GROUP BY b.event_id
    """,
    tags=("analytics", "join", "range", "time-series"),
)
def funnel_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel attribution via an equi+range self-join: for every purchase,
    the number of clicks by the same user in the preceding 6 hours. The
    equi key (user_id) bounds the join — both sides shuffle once on the
    user and the range predicate evaluates inside each user's partition,
    so there is no cross-join blowup (the trap of pure range joins). For
    a keyless range join the scale pattern is time-bucketing: join on
    floor(ts/width) ± 1 buckets, then apply the exact range filter."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    joined = purchases.join(
        clicks,
        (F.col("pu") == F.col("cu"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 6 HOURS"))
        & (F.col("cts") < F.col("pts")),
        "left",
    )
    return joined.groupBy("event_id").agg(F.count("cts").alias("n_clicks_6h"))


@register(
    "unpivot_lineitem_metrics",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
    tags=("analytics", "reshape"),
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide metric columns → long (metric, value) rows —
    the inverse of pivot and the feed shape for generic metric pipelines.
    Spark's unpivot is a zero-shuffle narrow op (each row fans out to 4
    in place); values pass through unchanged so no rounding is needed."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )


@register(
    "sessionize_events",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM ordered
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           floor((max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0 * 100.0 + 0.5) / 100.0 AS duration_s
    FROM sess GROUP BY user_id, session_idx
    """,
    tags=("analytics", "window", "time-series", "session"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap): the classic
    lag → new-session flag → running-sum session index, then per-session
    stats. One shuffle on user_id shared by both window passes and the
    final aggregate (same partitioning — Catalyst reuses the exchange).
    The streaming twin is streaming_session_window (native session
    window + watermark); this shape is for backfills over stored data."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0).alias("new_sess"),
    )
    sess = flagged.select(
        "user_id",
        "ts",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("session_idx"),
    )
    # portable_round, not round(): max/min of exact integer micros are
    # bit-identical across engines, so this is the per-row-ratio case
    # where Spark's HALF_UP and DuckDB's scaled-float round() diverge on
    # decimal halfway values (e.g. 2345000us -> 2.345s).
    from streamprocessing_spark.functions.text import portable_round

    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        portable_round(
            (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))) / 1_000_000.0, 2
        ).alias("duration_s"),
    )


@register(
    "source_jsonl_roundtrip",
    oracle="""
    SELECT event_id, event_type, round(value, 6) AS value FROM events
    """,
    tags=("reference", "source", "json"),
)
def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source with declared schema: write events as JSONL, read
    back through the schema'd JSON scanner (float round-trips via JSON
    text are exact for doubles printed with enough digits; rounded here
    only to keep the oracle comparison canonical)."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = os.path.join(
        tempfile.gettempdir(), f"sp_jsonl_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{os.getpid()}"
    )
    ev.write.mode("overwrite").json(out)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    rd = spark.read.schema(schema).json(out)
    return rd.select("event_id", "event_type", F.round("value", 6).alias("value"))


@register(
    "source_malformed_jsonl_permissive",
    oracle="""
    SELECT CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END AS event_type,
           CAST(count(*) FILTER (event_id % 11 <> 0) AS BIGINT) AS n_parsed,
           CAST(count(*) FILTER (event_id % 11 = 0) AS BIGINT) AS n_quarantined,
           CAST(coalesce(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                         FILTER (event_id % 11 <> 0), 0) AS BIGINT) AS clean_cents
    FROM events
    GROUP BY 1
    """,
    tags=("analytics", "source", "json", "dirty-data"),
)
def source_malformed_jsonl_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JSONL twin of source_malformed_csv_permissive — and the
    structurally different failure mode: a malformed JSON LINE loses the
    WHOLE row (every schema field NULL, raw text in the corrupt column),
    where malformed CSV keeps its parseable prefix fields. Every
    event_id % 11 == 0 line gets a garbage byte PREPENDED (trailing
    garbage after the root object is tolerated by the Jackson parser —
    measured, not assumed; the prefix fails at the first token on every
    parser); read back under PERMISSIVE with
    columnNameOfCorruptRecord, quarantined rows therefore land in the
    NULL event_type group (the partial-parse asymmetry this query
    exists to pin down), parsed rows keep exact clean-subset cents. The
    oracle replays the corruption rule with the same NULL-group law."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    js = ev.select(
        F.when(
            F.col("event_id") % 11 == 0,
            F.concat(F.lit("x"), F.to_json(F.struct("event_id", "event_type", "value"))),
        )
        .otherwise(F.to_json(F.struct("event_id", "event_type", "value")))
        .alias("value")
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"sp_badjsonl_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{os.getpid()}",
    )
    js.write.mode("overwrite").text(out)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return parsed.groupBy("event_type").agg(
        F.sum(F.when(~bad, 1).otherwise(0)).cast("long").alias("n_parsed"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("n_quarantined"),
        F.coalesce(
            F.sum(
                F.when(
                    ~bad, F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("clean_cents"),
    )


@register(
    "map_lookup_enrich",
    oracle="""
    SELECT o_orderkey,
           CASE o_orderstatus WHEN 'F' THEN 'finished'
                              WHEN 'O' THEN 'open'
                              WHEN 'P' THEN 'pending'
                              ELSE 'unknown' END AS status_label
    FROM orders
    """,
    tags=("analytics", "functions", "map"),
)
def map_lookup_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal-map dimension decode (create_map + element_at): the tiny
    lookup-table enrichment that needs no join at all — the map literal is
    part of the plan and ships inside the task binary."""
    status_map = F.create_map(
        F.lit("F"), F.lit("finished"),
        F.lit("O"), F.lit("open"),
        F.lit("P"), F.lit("pending"),
    )
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(
            F.element_at(status_map, F.col("o_orderstatus")), F.lit("unknown")
        ).alias("status_label"),
    )


@register(
    "data_quality_audit",
    oracle="""
    SELECT
      CAST(count(*) AS BIGINT)                                   AS n_rows,
      CAST(count(*) - count(o_custkey) AS BIGINT)                AS null_custkey,
      CAST(count(DISTINCT o_orderstatus) AS BIGINT)              AS n_statuses,
      round(min(o_totalprice), 2)                                AS min_price,
      round(max(o_totalprice), 2)                                AS max_price,
      CAST(count(CASE WHEN o_totalprice <= 0 THEN 1 END) AS BIGINT) AS nonpositive_prices,
      CAST(count(CASE WHEN o_orderdate > TIMESTAMP '2026-01-01 00:00:00' THEN 1 END) AS BIGINT) AS future_dates
    FROM orders
    """,
    tags=("analytics", "llm-pipeline", "quality"),
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-quality audit (null/violation/range profile) — the
    validation gate a curation pipeline runs before training jobs; all
    checks fold into one scan + one 1-row aggregate."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("null_custkey"),
        F.count_distinct("o_orderstatus").alias("n_statuses"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("nonpositive_prices"),
        F.count(
            F.when(F.col("o_orderdate") > F.lit("2026-01-01 00:00:00").cast("timestamp"), 1)
        ).alias("future_dates"),
    )


@register(
    "window_moving_spend_30d",
    oracle="""
    SELECT o_orderkey,
           floor(sum(CAST(floor(o_totalprice * 10000.0 + 0.5) AS BIGINT)) OVER (
             PARTITION BY o_custkey
             ORDER BY datediff('day', DATE '1990-01-01', o_orderdate)
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
             / 10000.0 * 100.0 + 0.5) / 100.0 AS spend_30d
    FROM orders
    """,
    tags=("analytics", "window", "time-series"),
)
def window_moving_spend_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per-customer trailing-30-day spend. Unlike ROWS
    frames, the RANGE frame is defined on the VALUE of the ordering column
    (days), so ties and gaps behave correctly — the moving-aggregate
    primitive for time-series features."""
    o = load_table(spark, sf_dir, "orders")
    days = F.date_diff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date")).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(days)
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        M.money(F.sum(M.tt(F.col("o_totalprice"))).over(w)).alias("spend_30d"),
    )


@register(
    "source_orc_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
    FROM orders
    """,
    tags=("reference", "source", "orc"),
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source: write orders out as ORC, read it back. Together with
    the CSV/JSONL roundtrips this covers Spark's three built-in
    file-source families beyond parquet (avro needs the external
    spark-avro package — gated out here). Types survive the roundtrip:
    the timestamp is cast to session-TZ (UTC, value-identity) so the
    read-back schema matches the oracle's TIMESTAMP."""
    import hashlib
    import os
    import tempfile

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"sp_orc_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{os.getpid()}",
    )
    o.write.mode("overwrite").orc(out)
    return spark.read.orc(out).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
    )


# Forward-as-of fixture alignment: events span 2024-01-01..01-30 while
# o_orderdate spans 1995..2001 (driver testdata, all SFs), so a forward
# join on the raw dates can never match. The order TIME is therefore
# synthesized into the events window with key-derived arithmetic —
# identical integer expressions both engines, deterministic, collision-
# grouped — so the tolerance/window logic is exercised on real matches.
_ASOF_BASE_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in micros
_ASOF_SPAN_US = 30 * 86_400 * 1_000_000  # the 30-day events window
_ASOF_MIX = 2_654_435_761  # Knuth multiplicative-hash constant


@register(
    "asof_join_next_order_7d",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey AS k,
             make_timestamp({_ASOF_BASE_US} + (o_orderkey * {_ASOF_MIX}) % {_ASOF_SPAN_US}) AS t,
             max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY 1, 2
    ),
    -- MATERIALIZED: stops the tolerance predicate folding into the ASOF
    -- join (DuckDB allows exactly one inequality there)
    j AS MATERIALIZED (
      SELECT e.event_id, e.ts AS e_t, o.t AS o_t, o.o_orderkey
      FROM events e
      ASOF JOIN o ON e.user_id = o.k AND e.ts < o.t
    )
    SELECT event_id, o_orderkey
    FROM j
    WHERE o_t <= e_t + INTERVAL 7 DAY
    """,
    tags=("analytics", "join", "asof"),
)
def asof_join_next_order_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with tolerance: for each event, the customer's
    next order strictly after the event, kept only if within 7 days —
    the attribution-window shape ("did a purchase follow this click?").

    Same union + ordered-window pattern as the backward as-of
    (asof_join_latest_order), mirrored: events sort AFTER orders at the
    same instant (side tag), and each event takes the FIRST order in the
    forward frame — strictly-later semantics fall out of the sort order,
    no range cross-join. The tolerance is applied to the picked
    candidate in integer epoch-micros, identical in both engines.

    Order times are synthesized into the events month (see _ASOF_BASE_US
    above): the fixture's raw o_orderdate range (1995-2001) never
    overlaps events (2024-01), which would make every run vacuously
    empty."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), F.col("ts").alias("t"), "event_id"
    )
    synth_t = F.timestamp_micros(
        F.lit(_ASOF_BASE_US) + (F.col("o_orderkey") * F.lit(_ASOF_MIX)) % F.lit(_ASOF_SPAN_US)
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"), synth_t.alias("t"))
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    # side: orders 0, events 1 — an order at the exact event instant sorts
    # BEFORE the event, so the event's forward frame excludes it (strict >).
    left = ev.select(
        "k", "t", F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp").alias("o_t"),
        "event_id",
    )
    right = o.select(
        "k", "t", F.lit(0).alias("side"), "o_orderkey",
        F.col("t").alias("o_t"),
        F.lit(None).cast("long").alias("event_id"),
    )
    # Forward scan as a REVERSE-ordered growing frame: first(...) over
    # [CURRENT ROW, UNBOUNDED FOLLOWING] makes Spark rescan to the
    # partition end per row (quadratic in a hot key's timeline); last()
    # over the reversed sort's unbounded-preceding frame is the same
    # value computed incrementally (round 10 — see
    # interpolate_hourly_linear for the measured sibling).
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t").desc(), F.col("side").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    picked = F.last(
        F.when(F.col("side") == 0, F.struct("o_t", "o_orderkey")), ignorenulls=True
    ).over(w)
    merged = left.unionByName(right).withColumn("nxt", picked)
    return (
        merged.filter(F.col("side") == 1)
        .filter(F.col("nxt").isNotNull())
        .filter(
            F.unix_micros(F.col("nxt.o_t"))
            <= F.unix_micros(F.col("t")) + F.lit(7 * 86400 * 1000000)
        )
        .select("event_id", F.col("nxt.o_orderkey").alias("o_orderkey"))
    )


@register(
    "schema_evolution_union",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderpriority END
             AS o_orderpriority,
           o_totalprice
    FROM orders
    """,
    tags=("analytics", "source", "schema-evolution"),
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations: generation 1 (even keys)
    was written BEFORE the o_orderpriority column existed; generation 2
    (odd keys) has it. One mergeSchema read reconciles both — old rows
    surface NULL for the added column. This is how a 100 TB table ingests
    a schema change without rewriting history; at cluster scale the merged
    schema comes from the metastore rather than footer-sampling every
    file (mergeSchema's cost grows with file count)."""
    import hashlib
    import os
    import tempfile

    o = load_table(spark, sf_dir, "orders")
    base = os.path.join(
        tempfile.gettempdir(),
        f"sp_evo_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{os.getpid()}",
    )
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(f"{base}/gen=1")
    o.filter(F.col("o_orderkey") % 2 != 0).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    ).write.mode("overwrite").parquet(f"{base}/gen=2")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(base)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )


@register(
    "lateral_top2_customers_per_nation",
    oracle="""
    SELECT n.n_name, c.c_name, c.c_acctbal
    FROM nation n,
         LATERAL (SELECT c_name, c_acctbal FROM customer
                  WHERE c_nationkey = n.n_nationkey
                  ORDER BY c_acctbal DESC, c_name NULLS LAST LIMIT 2) c
    """,
    tags=("join", "lateral", "analytics"),
)
def lateral_top2_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated-subquery join: per nation, its top-2 customers
    by account balance — the SQL-standard per-row-subquery shape (TPC-DS
    and modern ELT SQL use it heavily; the reference has no join at
    all). Catalyst DECORRELATES it: the plan rewrites to a window top-k
    over the customer side joined back to nation — verify with
    .explain() that no nested-loop-per-nation survives — so the
    execution cost is one shuffle on c_nationkey, identical to the
    window formulation a user would hand-write, while keeping the
    LATERAL surface available. c_acctbal is a per-row value (never
    accumulated), so float parity is exact; the (balance, name) ordering
    is a deterministic total order."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("sp_nation_lat")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("sp_cust_lat")
    return spark.sql(
        """
        SELECT n.n_name, c.c_name, c.c_acctbal
        FROM sp_nation_lat n,
             LATERAL (SELECT c_name, c_acctbal FROM sp_cust_lat
                      WHERE c_nationkey = n.n_nationkey
                      ORDER BY c_acctbal DESC, c_name NULLS LAST LIMIT 2) c
        """
    )


@register(
    "cdc_apply_changes",
    oracle="""
    WITH chg AS (
      SELECT user_id AS c_custkey,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS new_cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_changes
      FROM events),
    last AS (SELECT c_custkey, op, new_cents, n_changes FROM chg WHERE rn = 1),
    base AS (SELECT c_custkey,
                    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS base_cents
             FROM customer)
    SELECT coalesce(b.c_custkey, l.c_custkey) AS c_custkey,
           CASE WHEN l.op = 'U' THEN l.new_cents ELSE b.base_cents END
             AS balance_cents,
           CASE WHEN l.c_custkey IS NULL THEN 'unchanged'
                WHEN b.c_custkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS status,
           CAST(coalesce(l.n_changes, 0) AS BIGINT) AS n_changes
    FROM base b FULL OUTER JOIN last l ON b.c_custkey = l.c_custkey
    WHERE l.op IS NULL OR l.op <> 'D'
    """,
    tags=("analytics", "join", "cdc"),
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO / CDC changelog apply: the events stream is read as a
    change feed against the customer table (key = user_id → c_custkey,
    'error' events are DELETEs, everything else UPSERTs the balance to
    the event's value in cents). Output is the post-merge table state:
    unchanged base rows, updated rows (last change wins), inserted keys
    absent from the base, and deleted keys dropped — the Delta/Iceberg
    MERGE semantics every warehouse sync job needs, computed as one
    declarative query (the batch analogue of the foreachBatch upsert
    sink in tests/test_upsert_sink.py).

    Last-change-wins is a row_number window over the UNIQUE (ts,
    event_id) order (house determinism rule). Scale shape: the window
    shuffles the changelog once on the merge key; the full-outer join
    co-shuffles base and last-change on that same key (at 100 TB both
    sides hash-partition; no broadcast assumption). Balances are exact
    integer cents via the money discipline."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    chg = ev.select(
        F.col("user_id").alias("c_custkey"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("new_cents"),
        "ts",
        "event_id",
    )
    last = (
        chg.withColumn("rn", F.row_number().over(w))
        .withColumn("n_changes", F.count(F.lit(1)).over(Window.partitionBy("c_custkey")))
        .where(F.col("rn") == 1)
        .select("c_custkey", "op", "new_cents", "n_changes")
    )
    base = cust.select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("long").alias("base_cents"),
    )
    b, l = base.alias("b"), last.alias("l")
    merged = b.join(l, F.col("b.c_custkey") == F.col("l.c_custkey"), "full_outer")
    return merged.where(
        F.col("l.op").isNull() | (F.col("l.op") != "D")
    ).select(
        F.coalesce(F.col("b.c_custkey"), F.col("l.c_custkey")).alias("c_custkey"),
        F.when(F.col("l.op") == "U", F.col("l.new_cents"))
        .otherwise(F.col("b.base_cents"))
        .alias("balance_cents"),
        F.when(F.col("l.c_custkey").isNull(), F.lit("unchanged"))
        .when(F.col("b.c_custkey").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
        .alias("status"),
        F.coalesce(F.col("l.n_changes"), F.lit(0)).cast("long").alias("n_changes"),
    )


@register(
    "incremental_agg_merge",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(min(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS min_cents,
           CAST(max(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS max_cents
    FROM events GROUP BY event_type
    """,
    tags=("analytics", "aggregate", "incremental"),
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the aggregate state is
    NOT recomputed from scratch — yesterday's partial state (event_id %
    10 < 8) and today's batch (the rest) are aggregated independently
    and MERGED algebraically (counts add, sums add, mins/maxes fold).
    The oracle is the single-pass GROUP BY over everything, so a pass
    certifies the merge law itself: merge(agg(A), agg(B)) == agg(A∪B).

    This is the pattern that maintains a 100 TB rollup with one
    batch-sized aggregation per ingest instead of a corpus rescan (the
    batch analogue of the HLL sketch rollup, here for the algebraic
    aggregates). All money in exact integer cents — the sum is
    order-insensitive, which is precisely what makes it mergeable."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s"),
            F.min("cents").alias("mn"),
            F.max("cents").alias("mx"),
        )

    state = partial(ev.where(F.col("event_id") % 10 < 8)).alias("a")
    batch = partial(ev.where(F.col("event_id") % 10 >= 8)).alias("b")
    merged = state.join(
        batch, F.col("a.event_type") == F.col("b.event_type"), "full_outer"
    )
    z = F.lit(0).cast("long")
    return merged.select(
        F.coalesce(F.col("a.event_type"), F.col("b.event_type")).alias("event_type"),
        (F.coalesce(F.col("a.n"), z) + F.coalesce(F.col("b.n"), z)).alias("n_events"),
        (F.coalesce(F.col("a.s"), z) + F.coalesce(F.col("b.s"), z)).alias("sum_cents"),
        F.least(
            F.coalesce(F.col("a.mn"), F.col("b.mn")),
            F.coalesce(F.col("b.mn"), F.col("a.mn")),
        ).alias("min_cents"),
        F.greatest(
            F.coalesce(F.col("a.mx"), F.col("b.mx")),
            F.coalesce(F.col("b.mx"), F.col("a.mx")),
        ).alias("max_cents"),
    )


BLOOM_M = 1 << 16   # bits
BLOOM_K = 4         # hash functions
BLOOM_W = 32        # bits per word (sign-safe shifts in both engines)


def _bloom_pos_duck(i: int, key: str) -> str:
    return (
        f"(CAST(('0x' || substr(md5('bf{i}:' || CAST({key} AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % {BLOOM_M})"
    )


def _bloom_pos_spark(i: int, key: str) -> str:
    return (
        f"(cast(conv(substring(md5(cast(concat('bf{i}:', cast({key} as string)) "
        f"as binary)), 1, 8), 16, 10) as bigint) % {BLOOM_M})"
    )


@register(
    "bloom_prefilter_join",
    oracle=f"""
    WITH build AS MATERIALIZED (
      SELECT o_orderkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'),
    bits AS MATERIALIZED (
      SELECT p // {BLOOM_W} AS word, CAST(1 AS BIGINT) << CAST(p % {BLOOM_W} AS INTEGER) AS m
      FROM (
        {" UNION ALL ".join(f"SELECT {_bloom_pos_duck(i, 'k')} AS p FROM build" for i in range(BLOOM_K))}
      )),
    words AS MATERIALIZED (SELECT word, bit_or(m) AS bits FROM bits GROUP BY word),
    probe AS MATERIALIZED (
      SELECT l_orderkey AS k,
             {", ".join(f"{_bloom_pos_duck(i, 'l_orderkey')} AS p{i}" for i in range(BLOOM_K))}
      FROM lineitem),
    passed AS MATERIALIZED (
      SELECT pr.k
      FROM probe pr
      {" ".join(f"JOIN words w{i} ON w{i}.word = pr.p{i} // {BLOOM_W} AND (w{i}.bits & (CAST(1 AS BIGINT) << CAST(pr.p{i} % {BLOOM_W} AS INTEGER))) <> 0" for i in range(BLOOM_K))})
    SELECT CAST((SELECT count(*) FROM passed) AS BIGINT) AS n_pass_rows,
           CAST((SELECT count(*) FROM passed p JOIN build b ON b.k = p.k)
                AS BIGINT) AS n_match_rows,
           CAST((SELECT count(*) FROM passed) -
                (SELECT count(*) FROM passed p JOIN build b ON b.k = p.k)
                AS BIGINT) AS n_fp_rows
    """,
    tags=("analytics", "join", "approx"),
)
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning, built first-class: a 2^16-bit / 4-hash
    Bloom filter over the urgent-order keys is OR-aggregated into 32-bit
    words, broadcast as one map literal, and probed MAP-SIDE by every
    lineitem row — rows failing any bit never reach the join. Output is
    the filter's scorecard: rows passing the bloom, rows truly matching,
    and the false positives the residual exact join discards.

    The 100 TB pattern this makes explicit (Spark's runtime bloom
    pushdown): the fact scan is pre-filtered by a kilobyte broadcast
    structure, so the join shuffle carries only probable matches, and
    correctness survives because Bloom filters have no false negatives
    (asserted in tests). Every bit position is md5-derived — both
    engines build the identical filter, so even the false-positive
    count is deterministic and oracle-checked. The probe itself is pure
    whole-stage-codegen expression work: no explode, no extra shuffle;
    the only aggregations are the word OR-fold (≤2048 rows) and the
    final scorecard."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    build = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("k")
    )
    bits = None
    for i in range(BLOOM_K):
        p = build.select(F.expr(_bloom_pos_spark(i, "k")).alias("p"))
        bits = p if bits is None else bits.unionAll(p)
    words = (
        bits.select(
            F.expr(f"p div {BLOOM_W}").alias("word"),
            F.expr(f"shiftleft(cast(1 as bigint), cast(p % {BLOOM_W} as int))").alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("bits"))
    )
    bloom_map = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("bm")
    )
    probe = li.select(F.col("l_orderkey").alias("k")).crossJoin(F.broadcast(bloom_map))
    cond = F.lit(True)
    for i in range(BLOOM_K):
        p = _bloom_pos_spark(i, "k")
        test = (
            f"(coalesce(element_at(bm, {p} div {BLOOM_W}), cast(0 as bigint)) & "
            f"shiftleft(cast(1 as bigint), cast({p} % {BLOOM_W} as int))) != 0"
        )
        cond = cond & F.expr(test)
    passed = probe.where(cond).select("k")
    flagged = passed.join(
        F.broadcast(build.withColumn("hit", F.lit(1))), "k", "left"
    )
    # coalesce AFTER the aggregate too: with an empty build side (no
    # urgent orders — legal data) nothing passes the bloom, and SUM over
    # zero rows is NULL where the oracle's scalar count(*) is 0
    n_match = F.coalesce(F.sum(F.coalesce(F.col("hit"), F.lit(0))), F.lit(0))
    return flagged.agg(
        F.count(F.lit(1)).alias("n_pass_rows"),
        n_match.cast("long").alias("n_match_rows"),
        (F.count(F.lit(1)) - n_match).cast("long").alias("n_fp_rows"),
    )


@register(
    "snapshot_diff_changelog",
    oracle="""
    WITH v1 AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
      FROM customer),
    v2 AS (
      SELECT k, CASE WHEN k % 10 = 1 THEN cents + 10000 ELSE cents END AS cents
      FROM v1 WHERE k % 10 <> 0
      UNION ALL
      SELECT s_suppkey + 1000000 AS k,
             CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
      FROM supplier)
    SELECT coalesce(a.k, b.k) AS c_custkey,
           CASE WHEN a.k IS NULL THEN 'I'
                WHEN b.k IS NULL THEN 'D'
                ELSE 'U' END AS op,
           a.cents AS old_cents, b.cents AS new_cents
    FROM v1 a FULL OUTER JOIN v2 b ON a.k = b.k
    WHERE a.k IS NULL OR b.k IS NULL OR a.cents <> b.cents
    """,
    tags=("analytics", "join", "cdc"),
)
def snapshot_diff_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed GENERATION — the inverse of cdc_apply_changes:
    given two table snapshots (v1 = customer; v2 = a derived version
    with deterministic deletes, balance updates, and supplier-derived
    inserts), emit the minimal changelog (key, I/U/D, old, new) that
    transforms v1 into v2, suppressing unchanged rows. This is the
    snapshot-diff every replication/audit pipeline runs when the source
    has no native change feed.

    One co-partitioned full-outer join on the key; the change predicate
    is a per-row comparison, so the output is change-sized, not
    table-sized. Balances in exact integer cents."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    v1 = cust.select(
        F.col("c_custkey").alias("k"),
        F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    v2 = v1.where(F.col("k") % 10 != 0).select(
        "k",
        F.when(F.col("k") % 10 == 1, F.col("cents") + 10000)
        .otherwise(F.col("cents"))
        .alias("cents"),
    ).unionByName(
        supp.select(
            (F.col("s_suppkey") + 1000000).alias("k"),
            F.floor(F.col("s_acctbal") * 100.0 + 0.5).cast("long").alias("cents"),
        )
    )
    a, b = v1.alias("a"), v2.alias("b")
    d = a.join(b, F.col("a.k") == F.col("b.k"), "full_outer")
    return d.where(
        F.col("a.k").isNull()
        | F.col("b.k").isNull()
        | (F.col("a.cents") != F.col("b.cents"))
    ).select(
        F.coalesce(F.col("a.k"), F.col("b.k")).alias("c_custkey"),
        F.when(F.col("a.k").isNull(), F.lit("I"))
        .when(F.col("b.k").isNull(), F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("a.cents").alias("old_cents"),
        F.col("b.cents").alias("new_cents"),
    )


DUP_CHARGE_TOL = 50  # cents tolerance for a suspected duplicate charge
DUP_CHARGE_BAND = 50  # band width == tolerance: candidates in band ±1


@register(
    "duplicate_charge_candidates",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase')
    SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
           a.cents AS cents_a, b.cents AS cents_b,
           abs(a.cents - b.cents) AS diff_cents
    FROM e a JOIN e b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
    WHERE abs(a.cents - b.cents) <= {DUP_CHARGE_TOL}
    """,
    tags=("analytics", "join", "theta-join"),
)
def duplicate_charge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate transaction detection (the fraud/duplicate-charge
    audit): purchase pairs by the same user whose amounts differ by ≤ 50
    cents. The predicate is a THETA join (|a−b| ≤ t) that hash joins
    cannot express — the scale pattern is VALUE BANDING: each row lands
    in bucket floor(cents/w) and probes buckets {{b−1, b, b+1}} (w = t,
    so any qualifying pair shares or neighbors a band — lossless), the
    equi-join runs on (user, band), and only banded candidates pay the
    exact |diff| filter. The oracle states the quadratic per-user
    self-join; a pass proves the banding dropped no pair.

    At 100 TB: the shuffle keys on (user, band) so a user's huge history
    splits across value bands instead of one reducer, and candidate
    volume is Σ band-bucket products, not Σ per-user n² — the same
    bucketing argument as the LSH tiers, here for a numeric metric."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    probe = e.select(
        "user_id",
        "event_id",
        "cents",
        F.explode(
            F.array(
                F.expr(f"cents div {DUP_CHARGE_BAND} - 1"),
                F.expr(f"cents div {DUP_CHARGE_BAND}"),
                F.expr(f"cents div {DUP_CHARGE_BAND} + 1"),
            )
        ).alias("band"),
    )
    home = e.select(
        "user_id",
        F.col("event_id").alias("id_b"),
        F.col("cents").alias("cents_b"),
        F.expr(f"cents div {DUP_CHARGE_BAND}").alias("band"),
    )
    return (
        probe.join(home, ["user_id", "band"])
        .where(
            (F.col("event_id") < F.col("id_b"))
            & (F.abs(F.col("cents") - F.col("cents_b")) <= DUP_CHARGE_TOL)
        )
        .select(
            "user_id",
            F.col("event_id").alias("id_a"),
            "id_b",
            F.col("cents").alias("cents_a"),
            "cents_b",
            F.abs(F.col("cents") - F.col("cents_b")).alias("diff_cents"),
        )
        .distinct()
    )


@register(
    "pit_join_profile_history",
    oracle="""
    WITH un AS (
      SELECT user_id, ts, event_id, 0 AS tag, event_type AS ptype
      FROM events WHERE event_id % 7 = 0
      UNION ALL
      SELECT user_id, ts, event_id, 1 AS tag, NULL AS ptype
      FROM events WHERE event_type = 'purchase'),
    w AS (
      SELECT user_id, ts, event_id, tag,
             last_value(ptype IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, tag, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pit_type,
             last_value(CASE WHEN tag = 0 THEN ts END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, tag, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pit_since
      FROM un)
    SELECT event_id, user_id,
           coalesce(pit_type, 'unknown') AS pit_type,
           coalesce(strftime(pit_since, '%Y-%m-%d %H:%M:%S.%f'), 'never')
             AS pit_since
    FROM w WHERE tag = 1
    """,
    tags=("analytics", "join", "asof", "llm-pipeline"),
)
def pit_join_profile_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join — the feature-store primitive that prevents
    training-data leakage: every purchase (fact) is joined to the
    profile state that was valid AT ITS TIMESTAMP, taken from a sparse
    change feed (events with event_id % 7 == 0 stand in for the
    dimension's change stream), never to a later state. Facts before a
    user's first change get the explicit 'unknown' sentinel.

    Executed as the union + ordered-window as-of pattern (no join at
    all): one shuffle on the entity key, changes sorted before facts at
    equal timestamps (a change effective exactly at the fact's time IS
    visible to it), ignore-null last_value carries state forward. At
    100 TB this beats the naive interval join (which must range-probe
    every fact against every historical version) — the window reads
    each row once in one sort."""
    ev = load_table(spark, sf_dir, "events")
    changes = ev.where(F.col("event_id") % 7 == 0).select(
        "user_id", "ts", "event_id", F.lit(0).alias("tag"), F.col("event_type").alias("ptype")
    )
    facts = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("tag"),
        F.lit(None).cast("string").alias("ptype"),
    )
    un = changes.unionByName(facts)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    change_ts = F.when(F.col("tag") == 0, F.col("ts"))
    scored = un.select(
        "event_id",
        "user_id",
        "tag",
        F.last("ptype", ignorenulls=True).over(w).alias("pit_type"),
        F.last(change_ts, ignorenulls=True).over(w).alias("pit_since"),
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return scored.where(F.col("tag") == 1).select(
        "event_id",
        "user_id",
        F.coalesce(F.col("pit_type"), F.lit("unknown")).alias("pit_type"),
        F.coalesce(F.date_format("pit_since", fmt), F.lit("never")).alias("pit_since"),
    )


AMS_D = 8    # estimator rows (median taken over these)
AMS_W = 256  # buckets per row


def _ams_pos(i: int, key: str, duck: bool) -> str:
    if duck:
        return (
            f"(CAST(('0x' || substr(md5('ams{i}:' || CAST({key} AS VARCHAR)), 1, 8)) "
            f"AS BIGINT) % {AMS_W})"
        )
    return (
        f"(cast(conv(substring(md5(cast(concat('ams{i}:', cast({key} as string)) "
        f"as binary)), 1, 8), 16, 10) as bigint) % {AMS_W})"
    )


def _ams_sign(i: int, key: str, duck: bool) -> str:
    if duck:
        return (
            f"(CASE WHEN (CAST(('0x' || substr(md5('sgn{i}:' || CAST({key} AS VARCHAR)), 1, 8)) "
            f"AS BIGINT) % 2) = 0 THEN 1 ELSE -1 END)"
        )
    return (
        f"(CASE WHEN (cast(conv(substring(md5(cast(concat('sgn{i}:', cast({key} as string)) "
        f"as binary)), 1, 8), 16, 10) as bigint) % 2) = 0 THEN 1 ELSE -1 END)"
    )


def _ams_side_sql(table: str, key: str) -> str:
    return " UNION ALL ".join(
        f"SELECT {i} AS i, {_ams_pos(i, key, True)} AS bucket, "
        f"CAST(sum({_ams_sign(i, key, True)}) AS BIGINT) AS c FROM {table} "
        f"GROUP BY {_ams_pos(i, key, True)}"
        for i in range(AMS_D)
    )


@register(
    "join_size_sketch_estimate",
    oracle=f"""
    WITH sa AS MATERIALIZED ({_ams_side_sql('orders', 'o_custkey')}),
    sb AS MATERIALIZED ({_ams_side_sql('customer', 'c_custkey')}),
    prods AS MATERIALIZED (
      SELECT sa.i, CAST(sum(sa.c * sb.c) AS BIGINT) AS est
      FROM sa JOIN sb ON sa.i = sb.i AND sa.bucket = sb.bucket
      GROUP BY sa.i),
    med AS (
      SELECT est FROM (
        SELECT est, row_number() OVER (ORDER BY est, i) AS rn FROM prods)
      WHERE rn = {AMS_D // 2}),
    truth AS (
      SELECT CAST(count(*) AS BIGINT) AS true_rows
      FROM orders JOIN customer ON o_custkey = c_custkey)
    SELECT med.est AS est_rows, truth.true_rows,
           CAST(abs(med.est - truth.true_rows) AS BIGINT) AS abs_err
    FROM med, truth
    """,
    tags=("analytics", "approx", "join"),
)
def join_size_sketch_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from AMS sketches (Alon-Matias-
    Szegedy): |A ⋈ B| = Σ_k cntA(k)·cntB(k) is estimated by the inner
    product of SIGNED random-projection counters — each side summarizes
    its key distribution into D×W cells (cell = Σ ±cnt(k), md5-derived
    signs) from its own scan, cross terms cancel in expectation, and
    the lower median over D=8 independent rows is the classic unbiased
    estimator (measured 0.3% off the true size on this fixture, vs 6.7×
    over for the unsigned count-min inner product). This is the
    query-PLANNING primitive: a join's output size, estimated before
    paying the join, from kilobyte summaries mergeable across
    partitions; the true size rides along as the audit column.

    Deterministic buckets AND signs ⇒ identical sketches in both
    engines — the estimate itself is oracled, not just bounded. Cost:
    two map-side-combinable scans, a 2048-cell join, one 8-row median."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def sketch(df: DataFrame, key: str) -> DataFrame:
        # ONE scan per side: each row fans out to its D (row, bucket,
        # sign) cells inside the scan stage and one (i, bucket)-keyed
        # map-combined aggregate builds all 8 sketch rows — the
        # union-of-8-groupBys first draft executed 8 separate scans and
        # 8 shuffles per side (non-CSE; caught by the duplicate-scan
        # audit). Cell sums are identical either way.
        cells = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.expr(_ams_pos(i, key, False)).alias("bucket"),
                        F.expr(_ams_sign(i, key, False)).alias("sgn"),
                    )
                    for i in range(AMS_D)
                ]
            )
        )
        return (
            df.select(cells.alias("r"))
            .groupBy(F.col("r.i").alias("i"), F.col("r.bucket").alias("bucket"))
            .agg(F.sum("r.sgn").alias("c"))
        )

    sa = sketch(o, "o_custkey")
    sb = sketch(c, "c_custkey")
    prods = (
        sa.join(sb.withColumnRenamed("c", "cb"), ["i", "bucket"])
        .groupBy("i")
        .agg(F.sum(F.col("c") * F.col("cb")).cast("long").alias("est"))
    )
    w = Window.orderBy("est", "i")
    med = (
        prods.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == AMS_D // 2)
        .select("est")
    )
    truth = o.join(c, o.o_custkey == c.c_custkey).agg(
        F.count(F.lit(1)).cast("long").alias("true_rows")
    )
    return med.crossJoin(F.broadcast(truth)).select(
        F.col("est").alias("est_rows"),
        "true_rows",
        F.abs(F.col("est") - F.col("true_rows")).cast("long").alias("abs_err"),
    )


@register(
    "source_python_datasource",
    oracle="""
    WITH t AS (
      SELECT doc_id, replace(text, chr(10), ' ') AS line FROM documents
      WHERE text IS NOT NULL),
    w AS (
      SELECT doc_id, line,
             octet_length(encode(line)) + 1 AS step
      FROM t)
    SELECT CAST(coalesce(sum(step) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS byte_offset,
           line
    FROM w
    """,
    tags=("source", "python-datasource", "reference-op"),
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's line source (rainstorm/server.go:411-448) as a
    CUSTOM Spark 4 Python Data Source with BYTE-OFFSET keys — the scale
    answer SURVEY §7.4 prescribed for deterministic source identity:
    line numbers need a serial scan, byte offsets are computable inside
    any byte-range split with zero coordination. The corpus is staged
    as one text file in doc_id order, then read back through
    ``format("offset_lines")`` with 8 byte-range partitions; the Hadoop
    LineRecordReader split contract (sources/linesource.py) guarantees
    each line is owned by exactly one range even when a boundary lands
    mid-line. The oracle reconstructs every byte offset as a window
    cumulative sum of octet lengths — so a single straddled or dropped
    line anywhere in the file breaks the hash match."""
    import glob
    import hashlib
    import os
    import tempfile

    from streamprocessing_spark.sources.linesource import register_offset_lines

    # a line source has no NULL lines: NULL-text documents contribute no
    # record (both engines); encode(), not CAST AS BLOB, in the oracle —
    # DuckDB's STRING->BLOB cast rejects non-ASCII bytes
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.regexp_replace("text", "\n", " ").alias("line"))
    )
    stage = os.path.join(
        tempfile.gettempdir(),
        f"sp_lines_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{os.getpid()}",
    )
    (
        docs.repartition(1)
        .sortWithinPartitions("doc_id")
        .select("line")
        .write.mode("overwrite")
        .text(stage)
    )
    (part,) = glob.glob(os.path.join(stage, "part-*"))
    register_offset_lines(spark)
    return (
        spark.read.format("offset_lines")
        .option("path", part)
        .option("numPartitions", "8")
        .load()
    )


# One SQL text, two engines: the recursive CTE below runs VERBATIM on
# Spark 4 (WITH RECURSIVE, UNION ALL form) and on DuckDB. Integer-cents
# state; the only float op is balance/100.0 (1% interest), identical
# IEEE arithmetic in both engines. Spark's recursion guards
# (cteRecursionLevelLimit=100 default) stay clear of the period < 90
# bound; payment size caps the real depth near 30.
RECURSIVE_AMORTIZATION_SQL = """
    WITH RECURSIVE pay AS (
      SELECT c_custkey, 0 AS period,
             CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS balance_cents
      FROM customer WHERE c_acctbal > 0
      UNION ALL
      SELECT c_custkey, period + 1 AS period,
             CASE WHEN balance_cents
                       + CAST(floor(balance_cents / 100.0) AS BIGINT)
                       - 50000 < 0
                  THEN CAST(0 AS BIGINT)
                  ELSE balance_cents
                       + CAST(floor(balance_cents / 100.0) AS BIGINT)
                       - 50000 END AS balance_cents
      FROM pay
      WHERE balance_cents > 0 AND period < 90
    )
    SELECT c_custkey, CAST(period AS BIGINT) AS period, balance_cents FROM pay
"""


@register(
    "recursive_cte_amortization",
    oracle=RECURSIVE_AMORTIZATION_SQL,
    tags=("sql-surface", "recursive", "iterative", "exact-money"),
)
def recursive_cte_amortization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE on Spark 4 — the SQL-surface parity item: the
    EXACT SAME query text runs on Spark and on the DuckDB oracle
    (module constant RECURSIVE_AMORTIZATION_SQL, passed verbatim to
    both), so a user's recursive CTEs port unchanged. The workload is a
    loan amortization schedule — every customer's positive balance
    accrues 1% per period and amortizes a fixed 500.00 payment until
    payoff — a genuinely recursive multiplicative recurrence (each row
    derives from the previous period's row, branching factor 1, no
    window-function rewrite exists for the clamp-at-zero payoff step).

    Dialect notes that make verbatim sharing possible: UNION ALL only
    (Spark 4.1 rejects UNION DISTINCT in recursion), aliases repeated in
    the recursive branch, interest as floor(balance/100.0) — positive
    IEEE doubles, bit-identical in both engines. Depth is bounded by the
    payment size (~30 periods) well under Spark's
    cteRecursionLevelLimit=100; each iteration is a full DataFrame
    micro-plan, so at 100 TB depth stays the knob that matters, not
    width — branching-1 recursions scale linearly."""
    for t in ("customer",):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(RECURSIVE_AMORTIZATION_SQL)


@register(
    "set_except_all_multiset",
    oracle="""
    SELECT user_id, event_type
    FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-16'
    EXCEPT ALL
    SELECT user_id, event_type
    FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-16'
    """,
    tags=("set-ops", "bag-semantics"),
)
def set_except_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — BAG difference, completing the set-operation family
    (set_except_union covers the DISTINCT forms): per (user, event
    type), occurrences in the first half of the month minus occurrences
    in the second half, WITH multiplicity — the activity-regression
    question 'which interactions did a user do more often early than
    late, and how many more times?' A distinct EXCEPT collapses that to
    membership and answers a different question. Both engines implement
    multiset difference natively (Spark ``exceptAll`` compiles to an
    aggregate of signed counts + generate — one shuffle, no join
    explosion)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    first = ev.where(day < F.lit("2024-01-16").cast("date")).select("user_id", "event_type")
    second = ev.where(day >= F.lit("2024-01-16").cast("date")).select("user_id", "event_type")
    return first.exceptAll(second)


@register(
    "variant_props_rollup",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
      WHERE json_valid(props) AND value IS NOT NULL AND event_type IS NOT NULL)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(sum(k) AS BIGINT) AS sum_k,
           'OBJECT<c: BIGINT, p: OBJECT<k: BIGINT>, t: STRING>' AS variant_schema
    FROM e GROUP BY event_type
    """,
    tags=("sql-surface", "variant", "json", "spark4"),
)
def variant_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's VARIANT type as the semi-structured ingestion path:
    each event is serialized to one nested JSON document (its typed
    fields plus the raw ``props`` object nested inside), parsed ONCE
    with ``parse_json`` into a VARIANT, and every downstream field —
    including the group-by key — comes from typed ``variant_get`` path
    extraction, never from the original columns. The aggregate also
    emits ``schema_of_variant`` (constant across rows, enforced via
    min()==literal in the oracle), so a drifting document shape breaks
    the match. VARIANT is the scale answer for JSON at 100 TB: the
    binary encoding is parsed once at ingest and fields are extracted
    without per-query string re-parsing (and shreds to columnar storage
    where supported); the oracle computes the same rollup relationally,
    proving the string→variant→typed path lossless.

    Exactness: money enters the document as integer cents, so the JSON
    round-trip carries no float text formatting at all.

    Dirty-data contract: rows whose props is not valid JSON, or whose
    value/event_type is NULL, are excluded BEFORE document assembly on
    both engines (try_parse_json ↔ json_valid — verified to agree on
    the hostile prop pool, including the 1e309 overflow document). Note
    the schema_of_variant drift column is Spark-side introspection: on a
    corpus whose props SHAPES genuinely vary (the hostile fixture), it
    correctly reports the drift the oracle's clean-corpus constant
    cannot mirror — the documented hostile-sweep exclusion."""
    ev = load_table(spark, sf_dir, "events").where(
        F.expr("try_parse_json(props) IS NOT NULL")
        & F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
    )
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    doc = F.concat(
        F.lit('{"t":"'),
        F.col("event_type"),
        F.lit('","c":'),
        cents.cast("string"),
        F.lit(',"p":'),
        F.col("props"),
        F.lit("}"),
    )
    v = F.parse_json(doc).alias("v")
    e = ev.select(v)
    return (
        e.groupBy(
            F.expr("variant_get(v, '$.t', 'string')").alias("event_type")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.expr("variant_get(v, '$.c', 'bigint')")).cast("long").alias("sum_cents"),
            # try_variant_get: a non-numeric $.k in an otherwise-valid
            # document NULLs out instead of failing the typed extraction
            F.sum(F.expr("try_variant_get(v, '$.p.k', 'bigint')")).cast("long").alias("sum_k"),
            F.min(F.expr("schema_of_variant(v)")).alias("variant_schema"),
        )
    )


@register(
    "sql_udf_pricing",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS gross_cents,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5)
                         AS BIGINT)) AS BIGINT) AS net_tt
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("sql-surface", "udf", "spark4", "exact-money"),
)
def sql_udf_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-body scalar UDFs (CREATE TEMPORARY FUNCTION … RETURN expr,
    Spark 4): the user-extensibility surface that needs NO Python — the
    function body is a Catalyst expression, inlined at plan time, so it
    keeps whole-stage codegen and costs nothing at 100 TB (contrast the
    reference's fork-per-record op executables, server.go:325, and this
    repo's ExecOp adapter that reproduces them). Two UDFs from the
    functions/money.py discipline — cents(x) and net_tt(price, disc) —
    are declared in SQL and used in an aggregate; the oracle inlines
    the same expressions, so the UDF indirection must be semantically
    invisible."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION cents(x DOUBLE) RETURNS BIGINT"
        " RETURN CAST(floor(x * 100.0 + 0.5) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_tt(price DOUBLE, disc DOUBLE)"
        " RETURNS BIGINT"
        " RETURN CAST(floor(price * (1.0 - disc) * 10000.0 + 0.5) AS BIGINT)"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(sum(cents(l_extendedprice)) AS BIGINT) AS gross_cents,
               CAST(sum(net_tt(l_extendedprice, l_discount)) AS BIGINT) AS net_tt
        FROM lineitem GROUP BY l_returnflag
        """
    )


@register(
    "collation_case_insensitive_stats",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN p_partkey % 2 = 0 THEN lower(p_type) ELSE p_type END AS t
      FROM part)
    SELECT CAST(count(DISTINCT t) AS BIGINT) AS n_distinct_binary,
           CAST(count(DISTINCT lower(t)) AS BIGINT) AS n_distinct_ci,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM s
    """,
    tags=("sql-surface", "collation", "spark4"),
)
def collation_case_insensitive_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4): distinct-counting a mixed-case
    column under the binary collation vs UTF8_LCASE — the
    case-insensitive count uses ``COLLATE UTF8_LCASE`` (comparison
    semantics change, the data does not; the engine can use collation
    keys instead of materializing lower() copies). The fixture has no
    mixed-case strings, so the query manufactures them
    deterministically (lower() on even part keys — p_type ships
    uppercase) and the oracle
    expresses case-insensitivity the pre-collation way (lower()) — the
    two must agree exactly: binary distinct ≈ 2× the CI distinct."""
    p = load_table(spark, sf_dir, "part")
    s = p.select(
        F.when(F.col("p_partkey") % 2 == 0, F.lower("p_type"))
        .otherwise(F.col("p_type"))
        .alias("t")
    )
    return s.agg(
        F.countDistinct("t").cast("long").alias("n_distinct_binary"),
        F.countDistinct(F.expr("t COLLATE UTF8_LCASE")).cast("long").alias("n_distinct_ci"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


@register(
    "source_xml_roundtrip",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus,
           CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_cents,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date
    FROM orders
    """,
    tags=("reference", "source", "xml"),
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source (Spark 4 native, the spark-xml library folded into
    core): write orders out as XML documents, read them back with a
    declared schema — completing the file-source family next to
    CSV/JSONL/ORC/parquet/binaryFile/offset_lines. Money crosses the
    text format as integer cents and the date as an ISO string, so the
    roundtrip is type-lossless and the oracle is simply the original
    projection (roundtrip identity == source fidelity).

    At scale XML is the legacy-feed ingest path (finance/healthcare
    B2B): the reader splits by rowTag across executors like any text
    source; schema declaration avoids the two-pass inference scan."""
    import hashlib
    import os
    import tempfile

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long").alias("price_cents"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"sp_xml_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{os.getpid()}",
    )
    o.write.mode("overwrite").option("rowTag", "order").format("xml").save(out)
    return (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey bigint, o_orderstatus string, price_cents bigint, o_date string")
        .load(out)
    )


@register(
    "try_arith_safety_showcase",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN NULL
                ELSE floor(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                           / CAST(o_orderkey % 3 AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
           END AS safe_div,
           TRY_CAST(CASE WHEN o_orderkey % 2 = 0 THEN '123'
                         ELSE o_orderstatus END AS INTEGER) AS safe_cast,
           [10, 20, 30][CAST(1 + o_orderkey % 5 AS INTEGER)] AS safe_elem
    FROM orders
    """,
    tags=("analytics", "sql-surface", "scalar"),
)
def try_arith_safety_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safety function family (try_divide / try_cast /
    try_element_at): the error-as-NULL arithmetic that lets a 100 TB
    batch job survive the one malformed row in partition 8,391 instead
    of dying eight hours in — division by a data-dependent zero, casts
    of mixed-validity strings, out-of-bounds array access, each
    yielding NULL exactly where DuckDB's native NULL-on-miss semantics
    (TRY_CAST, list indexing) land. The division result is
    portable-rounded; all three NULL patterns are data-dependent so
    both branches of each are populated at every fixture scale."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
    return o.select(
        "o_orderkey",
        (
            F.floor(
                F.try_divide(cents, (F.col("o_orderkey") % 3).cast("double")) * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("safe_div"),
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("123"))
        .otherwise(F.col("o_orderstatus"))
        .try_cast("int")
        .alias("safe_cast"),
        F.try_element_at(
            F.array(F.lit(10), F.lit(20), F.lit(30)),
            (F.lit(1) + F.col("o_orderkey") % 5).cast("int"),
        ).alias("safe_elem"),
    )


@register(
    "nest_order_lineitems",
    oracle="""
    WITH items AS (
      SELECT l_orderkey,
             l_linenumber,
             l_partkey,
             CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM lineitem),
    o AS (
      SELECT l_orderkey, l_linenumber, l_partkey, cents,
             row_number() OVER (PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_partkey, cents) AS ra,
             row_number() OVER (PARTITION BY l_orderkey
               ORDER BY l_linenumber DESC, l_partkey DESC, cents DESC) AS rd
      FROM items)
    SELECT l_orderkey,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(min(l_linenumber) AS BIGINT) AS first_line,
           CAST(max(CASE WHEN ra = 1 THEN l_partkey END) AS BIGINT) AS first_part,
           CAST(max(CASE WHEN rd = 1 THEN l_partkey END) AS BIGINT) AS last_part,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM o GROUP BY l_orderkey
    """,
    tags=("analytics", "nested", "llm-pipeline"),
)
def nest_order_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denormalization to nested records — the document-assembly step
    that turns relational tables into the array<struct> training/API
    records a document store or LLM-data pipeline consumes: each
    order's lineitems collected into ONE ordered array of structs
    (sort_array over (linenumber, part, cents) structs — collect_list
    alone is order-nondeterministic, the classic trap), then the
    nested value is PROVEN correct by re-deriving scalars from the
    array itself (size, first/last element fields, fold-summed total)
    that the oracle computes relationally with arg_min/arg_max.

    One shuffle on the order key; the array stays executor-side (only
    the derived scalars come back). At 100 TB this is the standard
    "records for the trainer" export shape — nested parquet written
    directly from the arrays built here."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("long")
    nested = (
        li.select(
            "l_orderkey",
            F.struct(
                F.col("l_linenumber").cast("long").alias("line"),
                F.col("l_partkey").cast("long").alias("part"),
                cents.alias("cents"),
            ).alias("item"),
        )
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("item")).alias("items"))
    )
    return nested.select(
        "l_orderkey",
        F.size("items").cast("long").alias("n_items"),
        F.col("items")[0]["line"].alias("first_line"),
        F.col("items")[0]["part"].alias("first_part"),
        F.element_at(F.col("items"), -1)["part"].alias("last_part"),
        F.aggregate(
            F.col("items"), F.lit(0).cast("long"), lambda acc, x: acc + x["cents"]
        ).alias("total_cents"),
    )


BITMAP_WORD = 32  # user-ids per bitmap word (BIGINT-safe, no sign bit)


@register(
    "daily_active_user_bitmap",
    oracle=f"""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(user_id // {BITMAP_WORD} AS BIGINT) AS word,
           CAST(bit_or(CAST(1 AS BIGINT)
                       << CAST(user_id % {BITMAP_WORD} AS INTEGER)) AS BIGINT) AS bits,
           CAST(bit_count(bit_or(CAST(1 AS BIGINT)
                       << CAST(user_id % {BITMAP_WORD} AS INTEGER))) AS BIGINT) AS n_active
    FROM events
    GROUP BY 1, 2
    """,
    tags=("analytics", "bitmap", "llm-pipeline"),
)
def daily_active_user_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index building block (the Roaring-bitmap pattern behind
    fast DAU/retention engines): per day, the active-user set encoded
    as fixed-width bitmap WORDS — word = user_id div 32, bits =
    bit_or(1 << user_id mod 32) — so set algebra becomes integer
    algebra: |actives| is Σ popcount, day-over-day retention is
    popcount(AND) of aligned words, churn is AND NOT — each a
    word-aligned join instead of a distinct-count shuffle (the
    retention law is asserted in tests). Exactly how ClickHouse
    groupBitmap / Druid bitmap indexes answer these queries.

    Scale shape: one aggregate keyed (day, word) with map-side bit_or
    combine — output is |days| × |users|/32 words regardless of event
    volume; a day's bitmap streams as words, never as a user list. The
    sign bit is left unused (32 < 63) so the words compare identically
    as signed BIGINTs in both engines."""
    ev = load_table(spark, sf_dir, "events")
    word = F.expr(f"user_id div {BITMAP_WORD}").cast("long")
    bit = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(user_id % {BITMAP_WORD} AS INT))")
    agg = (
        ev.select(
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
            word.alias("word"),
            bit.alias("b"),
        )
        .groupBy("day", "word")
        .agg(F.expr("bit_or(b)").alias("bits"))
    )
    return agg.select(
        "day", "word", F.col("bits").cast("long").alias("bits"),
        F.bit_count("bits").cast("long").alias("n_active"),
    )


@register(
    "rfm_customer_segments",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS freq,
             sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS monet
      FROM orders GROUP BY 1),
    scored AS (
      SELECT o_custkey,
             ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r,
             ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f,
             ntile(4) OVER (ORDER BY monet DESC, o_custkey) AS m
      FROM base)
    SELECT o_custkey,
           CAST(r AS BIGINT) AS r,
           CAST(f AS BIGINT) AS f,
           CAST(m AS BIGINT) AS m,
           CAST(r * 100 + f * 10 + m AS BIGINT) AS segment
    FROM scored
    """,
    tags=("analytics", "window", "segmentation"),
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (Recency / Frequency / Monetary quartiles) — the
    marketing-analytics workhorse: per customer, the last order date,
    order count, and exact-cents lifetime value, each quartiled with
    ntile(4) under a deterministic (metric, custkey) ordering (bare
    ntile over a non-unique metric is run-dependent — the tiebreak IS
    the determinism fix), composed into the 111..444 segment code.

    Scale shape: the customer dimension is 10⁸–10⁹ at 100 TB, so a
    literal ``ntile OVER (ORDER BY metric)`` — a single-task global
    sort — is the one window shape this repo bans over entities. Each
    quartile instead comes from operators/ranking.global_row_number
    (range-exchange → per-slice row_number → broadcast offset stitch)
    fed into the closed-form ntile_from_rank, which reproduces SQL
    ntile's front-loaded-remainder bucket sizes exactly — the oracle's
    plain ntile(4) stays the spec and the outputs are bit-identical.
    Three ranked metrics → three range exchanges + three dimension
    joins, every task touching only its slice."""
    from streamprocessing_spark.operators.ranking import (
        global_row_number,
        ntile_from_rank,
    )

    o = load_table(spark, sf_dir, "orders")
    # base feeds FOUR consumers (the count + three quartile rankings):
    # materialize the customer-dimension aggregate once or the orders
    # scan executes per consumer (non-CSE; nine scans measured)
    base = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")).alias("monet"),
    ).localCheckpoint(eager=True)
    nt = base.agg(F.count(F.lit(1)).alias("nu"))

    def quartile(metric: str, out: str) -> DataFrame:
        ranked = global_row_number(
            base.select("o_custkey", metric),
            [F.desc(metric), F.asc("o_custkey")],
            out="rk",
        )
        return ranked.crossJoin(F.broadcast(nt)).select(
            "o_custkey", ntile_from_rank(F.col("rk"), F.col("nu"), 4).alias(out)
        )

    scored = (
        quartile("last_order", "r")
        .join(quartile("freq", "f"), "o_custkey")
        .join(quartile("monet", "m"), "o_custkey")
    )
    return scored.select(
        "o_custkey", "r", "f", "m",
        (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).cast("long").alias("segment"),
    )


@register(
    "null_safe_bucket_join",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN event_type = 'error' THEN NULL
                  ELSE CAST(floor(value / 10.0) AS BIGINT) END AS bucket,
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 'h1' ELSE 'h2' END AS half
      FROM events),
    h1 AS (SELECT bucket, count(*) AS n1 FROM b WHERE half = 'h1' GROUP BY 1),
    h2 AS (SELECT bucket, count(*) AS n2 FROM b WHERE half = 'h2' GROUP BY 1)
    SELECT h1.bucket, CAST(h1.n1 AS BIGINT) AS n1, CAST(h2.n2 AS BIGINT) AS n2
    FROM h1 JOIN h2 ON h1.bucket IS NOT DISTINCT FROM h2.bucket
    """,
    tags=("analytics", "join", "sql-surface"),
)
def null_safe_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (Spark `<=>` / eqNullSafe vs SQL's IS NOT
    DISTINCT FROM): month-half activity histograms joined per value
    bucket where one bucket is deliberately NULL (error events carry no
    value) — a plain equi-join silently DROPS the NULL↔NULL row, the
    classic missing-row bug in reconciliation joins; the null-safe
    operator keeps it, and the output's NULL-bucket row is the proof
    (asserted non-vacuous in tests). Same hash-join plan and cost as
    the ordinary join — NULL-safe equality still hash-partitions (NULL
    hashes to a bucket like any value), unlike inequality predicates."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.when(F.col("event_type") == "error", F.lit(None).cast("long")).otherwise(
        F.floor(F.col("value") / 10.0).cast("long")
    )
    half = F.when(
        F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), F.lit("h1")
    ).otherwise(F.lit("h2"))
    b = ev.select(bucket.alias("bucket"), half.alias("half"))
    h1 = b.where(F.col("half") == "h1").groupBy("bucket").agg(F.count(F.lit(1)).alias("n1"))
    h2 = b.where(F.col("half") == "h2").groupBy("bucket").agg(F.count(F.lit(1)).alias("n2"))
    return (
        h1.join(h2, h1["bucket"].eqNullSafe(h2["bucket"]))
        .select(h1["bucket"].alias("bucket"), F.col("n1").cast("long").alias("n1"), F.col("n2").cast("long").alias("n2"))
    )


@register(
    "partition_key_advisor",
    oracle="""
    WITH cand AS (
      SELECT 'day' AS key_col, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS k FROM events
      UNION ALL
      SELECT 'event_type', event_type FROM events
      UNION ALL
      SELECT 'user_bucket', CAST(user_id % 16 AS VARCHAR) FROM events),
    per AS (
      SELECT key_col, k, count(*) AS n FROM cand GROUP BY 1, 2)
    SELECT key_col,
           CAST(count(*) AS BIGINT) AS n_partitions,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(max(n) AS BIGINT) AS max_rows,
           CAST(min(n) AS BIGINT) AS min_rows,
           CAST((1000 * count(*) * max(n)) // sum(n) AS BIGINT) AS skew_milli
    FROM per GROUP BY key_col
    """,
    tags=("analytics", "layout", "statistics"),
)
def partition_key_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-key advisor — the datasheet behind `PARTITIONED BY`
    decisions: for each candidate key (day, event type, 16-way user
    bucket) the partition count, row balance, and the skew factor
    max/mean scaled to milli (floor-div exact) — too many partitions
    ⇒ small-file problem, skew ≫ 1000 ⇒ one hot partition serializes
    every reader. Complements the physical-layout family (Z-order key,
    exact range boundaries, compaction bin-packing) with the step that
    comes FIRST in a lakehouse design review.

    Scale shape: one union of per-row key projections, one
    (candidate, key)-level aggregate, one |candidates|-row rollup —
    map-side-combinable throughout; candidate cardinalities are the
    only memory term."""
    ev = load_table(spark, sf_dir, "events")
    cand = (
        ev.select(F.lit("day").alias("key_col"), F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("k"))
        .unionByName(ev.select(F.lit("event_type").alias("key_col"), F.col("event_type").alias("k")))
        .unionByName(ev.select(F.lit("user_bucket").alias("key_col"), (F.col("user_id") % 16).cast("string").alias("k")))
    )
    per = cand.groupBy("key_col", "k").agg(F.count(F.lit(1)).alias("n"))
    return per.groupBy("key_col").agg(
        F.count(F.lit(1)).cast("long").alias("n_partitions"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_rows"),
        F.min("n").cast("long").alias("min_rows"),
        F.expr("CAST((1000 * count(1) * max(n)) div sum(n) AS BIGINT)").alias("skew_milli"),
    )


@register(
    "rollup_grouping_id_disambiguation",
    oracle="""
    SELECT CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS et,
           CAST(GROUPING(CASE WHEN event_type = 'error' THEN NULL ELSE event_type END)
                AS BIGINT) AS is_subtotal,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY ROLLUP(1)
    """,
    tags=("analytics", "aggregation", "sql-surface"),
)
def rollup_grouping_id_disambiguation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUPING() disambiguation trap, demonstrated on data that
    triggers it: a rollup over a key that itself contains NULLs (error
    events mapped to NULL) produces TWO rows with et = NULL — the real
    NULL-key group and the grand-total subtotal — indistinguishable
    without GROUPING(), which is exactly the bug in every hand-rolled
    "WHERE x IS NULL means total" report. The output carries the flag,
    so (NULL, 0, n_errors) and (NULL, 1, n_total) coexist, both
    populated at every fixture scale. Cost identity: same single-pass
    rollup aggregate as rollup_counts."""
    ev = load_table(spark, sf_dir, "events")
    et = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("event_type"))
    return (
        ev.select(et.alias("et"))
        .rollup("et")
        .agg(
            F.grouping("et").cast("long").alias("is_subtotal"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .select("et", "is_subtotal", "n")
    )


@register(
    "table_content_fingerprint",
    oracle="""
    WITH canon AS (
      SELECT coalesce(CAST(o_orderkey AS VARCHAR), chr(1)) || '|'
             || coalesce(o_orderstatus, chr(1)) || '|'
             || coalesce(CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS VARCHAR), chr(1))
             || '|' || coalesce(strftime(o_orderdate, '%Y-%m-%d'), chr(1)) AS c
      FROM orders)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(CAST(('0x' || substr(md5(c), 1, 12)) AS BIGINT) AS HUGEINT))
                % 281474976710656 AS BIGINT) AS fingerprint
    FROM canon
    """,
    tags=("analytics", "quality", "statistics"),
)
def table_content_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-INSENSITIVE table content fingerprint — the dataset-
    versioning primitive ("is this copy byte-identical to that one?")
    that never sorts: each row renders to a canonical text form
    (integers + ISO date — no float-to-text, whose rendering differs
    across engines), hashes to a 48-bit integer, and the fingerprint is
    the SUM MODULO 2^48 (accumulated in 38-digit decimals — a plain
    BIGINT sum overflows ANSI arithmetic past ~100k rows) — commutative and mergeable, so per-partition partial
    sums combine map-side and two tables compare with two scans and no
    shuffle of actual rows. A differing row changes the sum with
    probability 1 − 2⁻⁴⁸ per difference; the companion row count
    catches compensating-pair edge cases cheaply. The 100 TB use:
    cross-region replica validation without a distributed sort-merge.
    Every field is coalesced to a 0x01 sentinel in BOTH spellings —
    concat_ws silently SKIPS a NULL argument while '||' nulls the whole
    row out of the sum, so un-coalesced canonicalization diverges (and
    worse, loses the NULL-vs-absent distinction) the moment a profiled
    column admits NULLs."""
    o = load_table(spark, sf_dir, "orders")
    canon_sql = (
        "concat_ws('|', coalesce(CAST(o_orderkey AS STRING), char(1)), "
        "coalesce(o_orderstatus, char(1)), "
        "coalesce(CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS STRING), char(1)), "
        "coalesce(date_format(o_orderdate, 'yyyy-MM-dd'), char(1)))"
    )
    return o.select(
        F.expr(
            "CAST(conv(substring(md5(" + canon_sql + "), 1, 12), 16, 10) AS DECIMAL(38,0))"
        ).alias("h")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.expr("CAST(sum(h) % 281474976710656 AS BIGINT)").alias("fingerprint"),
    )


@register(
    "vwap_part_monthly",
    oracle="""
    WITH l AS (
      SELECT l_partkey,
             strftime(l_shipdate, '%Y-%m') AS ship_month,
             CAST(l_quantity AS BIGINT) AS q,
             CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM lineitem)
    SELECT l_partkey, ship_month,
           CAST(sum(q) AS BIGINT) AS total_qty,
           CAST(sum(q * cents) AS BIGINT) AS vwap_num,
           CAST(sum(q) AS BIGINT) AS vwap_den
    FROM l GROUP BY 1, 2
    """,
    tags=("analytics", "aggregation", "statistics"),
)
def vwap_part_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per part per ship month — the
    trading/pricing VWAP aggregate as an exact rational: numerator
    Σ qty·cents and denominator Σ qty in BIGINTs (the quotient is the
    VWAP; no division runs, so no rounding-mode portability question
    ever arises — the weighted-mean discipline shared with
    time_weighted_avg_value, which weights by duration instead of
    volume). One map-side-combinable aggregate keyed (part, month);
    group count is parts × months regardless of fact volume."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("long")
    l = li.select(
        "l_partkey",
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        F.col("l_quantity").cast("long").alias("q"),
        cents.alias("cents"),
    )
    return l.groupBy("l_partkey", "ship_month").agg(
        F.sum("q").cast("long").alias("total_qty"),
        F.sum(F.col("q") * F.col("cents")).cast("long").alias("vwap_num"),
        F.sum("q").cast("long").alias("vwap_den"),
    )


@register(
    "category_share_shift",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS cat,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00' THEN 'p1' ELSE 'p2' END AS per,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders),
    agg AS (SELECT cat, per, sum(cents) AS c FROM b GROUP BY 1, 2),
    tot AS (SELECT per, sum(c) AS t FROM agg GROUP BY 1),
    j AS (
      SELECT a1.cat,
             a1.c AS c1, t1.t AS t1,
             a2.c AS c2, t2.t AS t2
      FROM agg a1 JOIN tot t1 ON t1.per = 'p1' AND a1.per = 'p1'
      JOIN agg a2 ON a2.cat = a1.cat AND a2.per = 'p2'
      JOIN tot t2 ON t2.per = 'p2')
    SELECT cat,
           CAST(c1 AS BIGINT) AS cents_p1, CAST(t1 AS BIGINT) AS total_p1,
           CAST(c2 AS BIGINT) AS cents_p2, CAST(t2 AS BIGINT) AS total_p2,
           CAST(CASE WHEN CAST(c2 AS HUGEINT) * t1 > CAST(c1 AS HUGEINT) * t2 THEN 1
                     WHEN CAST(c2 AS HUGEINT) * t1 < CAST(c1 AS HUGEINT) * t2 THEN -1
                     ELSE 0 END AS BIGINT) AS share_shift_sign,
           CAST((1000000 * (CAST(c2 AS HUGEINT) * t1 - CAST(c1 AS HUGEINT) * t2))
                // (CAST(t1 AS HUGEINT) * t2) AS BIGINT) AS share_delta_micro
    FROM j
    """,
    tags=("analytics", "statistics", "aggregation"),
)
def category_share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-shift analysis — did a category's SHARE of revenue grow,
    independent of overall growth? Shares are ratios, so the comparison
    c2/t2 vs c1/t1 runs as the cross-multiplication c2·t1 vs c1·t2 in
    128-bit integers — exact sign, no division — and the share delta is
    emitted as one integral division in micro units; the numerator goes
    negative for shrinking categories, and both engines TRUNCATE toward
    zero there (verified: −7 div 2 == −7 // 2 == −3 for Spark DECIMAL
    div and DuckDB //), so quotients agree on every sign — the one
    integral-division family where truncation-vs-floor matters and the
    engines happen to share truncation. The four raw sums ride along so
    consumers re-derive anything. Scale: two map-side aggregates at the
    category and period dimensions, broadcast joins after."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
    per = F.when(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"), F.lit("p1")
    ).otherwise(F.lit("p2"))
    b = o.select(F.col("o_orderpriority").alias("cat"), per.alias("per"), cents.alias("cents"))
    # the cat×period aggregate feeds four consumers (a1/a2 directly,
    # t1/t2 via tot): materialize the dimension-sized table once or the
    # orders scan executes four times (non-CSE)
    agg = b.groupBy("cat", "per").agg(F.sum("cents").alias("c")).localCheckpoint(
        eager=True
    )
    tot = agg.groupBy("per").agg(F.sum("c").alias("t"))
    a1 = agg.where(F.col("per") == "p1").select("cat", F.col("c").alias("c1"))
    a2 = agg.where(F.col("per") == "p2").select("cat", F.col("c").alias("c2"))
    t1 = tot.where(F.col("per") == "p1").select(F.col("t").alias("t1"))
    t2 = tot.where(F.col("per") == "p2").select(F.col("t").alias("t2"))
    dec = "DECIMAL(38,0)"
    j = a1.join(a2, "cat").crossJoin(F.broadcast(t1)).crossJoin(F.broadcast(t2))
    return j.select(
        "cat",
        F.col("c1").cast("long").alias("cents_p1"),
        F.col("t1").cast("long").alias("total_p1"),
        F.col("c2").cast("long").alias("cents_p2"),
        F.col("t2").cast("long").alias("total_p2"),
        F.expr(
            f"CAST(CASE WHEN CAST(c2 AS {dec}) * t1 > CAST(c1 AS {dec}) * t2 THEN 1"
            f" WHEN CAST(c2 AS {dec}) * t1 < CAST(c1 AS {dec}) * t2 THEN -1 ELSE 0 END AS BIGINT)"
        ).alias("share_shift_sign"),
        F.expr(
            f"CAST((1000000 * (CAST(c2 AS {dec}) * t1 - CAST(c1 AS {dec}) * t2))"
            f" div (CAST(t1 AS {dec}) * t2) AS BIGINT)"
        ).alias("share_delta_micro"),
    )


@register(
    "pipe_syntax_showcase",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    tags=("analytics", "sql-surface"),
)
def pipe_syntax_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4's `|>` operators, from Google's SQL
    Pipes paper): the same filter→aggregate query written as a linear
    pipeline — `FROM orders |> WHERE … |> AGGREGATE … GROUP BY …` —
    the surface that reads in execution order instead of inside-out.
    Strictly a parser feature: the resolved plan is identical to the
    classic form (same scan pushdown, same single-shuffle aggregate),
    which is exactly what the plain-SQL oracle demonstrates by
    matching bit-for-bit."""
    import hashlib

    v = f"orders_pipe_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(v)
    return spark.sql(
        f"""
        FROM {v}
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
                     CAST(sum(CAST(floor(o_totalprice * 100.0D + 0.5D) AS BIGINT)) AS BIGINT) AS cents
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n_orders, cents
        """
    )


@register(
    "identifier_clause_showcase",
    oracle="""
    SELECT o_orderstatus,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS metric_cents
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("analytics", "sql-surface"),
)
def identifier_clause_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized identifiers (IDENTIFIER() clause + named query
    parameters): the metric COLUMN and source VIEW arrive as runtime
    parameters, bound injection-safely — the templating surface every
    metrics platform needs (one query text, N metric columns) that
    string interpolation gets wrong the first time a name needs
    quoting. The parameter binds at analysis time, so the resolved
    plan, pushdown and all, is identical to the literal spelling the
    oracle uses."""
    import hashlib

    v = f"orders_id_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(v)
    return spark.sql(
        """
        SELECT o_orderstatus,
               CAST(sum(CAST(floor(IDENTIFIER(:metric) * 100.0D + 0.5D) AS BIGINT)) AS BIGINT) AS metric_cents
        FROM IDENTIFIER(:src)
        GROUP BY o_orderstatus
        """,
        args={"metric": "o_totalprice", "src": v},
    )


@register(
    "fifo_match_returns",
    oracle="""
    WITH s AS (
      SELECT l_partkey, l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS q,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS hi
      FROM lineitem WHERE l_returnflag <> 'R'),
    d AS (
      SELECT l_partkey, l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS q,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS hi
      FROM lineitem WHERE l_returnflag = 'R')
    SELECT s.l_partkey,
           s.l_orderkey AS supply_order, CAST(s.l_linenumber AS BIGINT) AS supply_line,
           d.l_orderkey AS return_order, CAST(d.l_linenumber AS BIGINT) AS return_line,
           CAST(least(s.hi, d.hi) - greatest(s.hi - s.q, d.hi - d.q) AS BIGINT) AS matched_qty
    FROM s JOIN d
      ON s.l_partkey = d.l_partkey
     AND s.hi - s.q < d.hi AND d.hi - d.q < s.hi
    """,
    tags=("analytics", "join", "window"),
)
def fifo_match_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO matching — returns consumed against shipments in
    first-in-first-out order per part (the cost-basis / inventory-lot
    accounting primitive, also how exchanges match orders). Looks
    inherently iterative ("pop the oldest remaining lot"), but has a
    closed form: put supplies and demands on their own CUMULATIVE
    quantity axes (one partitioned running sum each) and FIFO matches
    are exactly the interval OVERLAPS between the two axes —
    matched_qty = min(hi_s, hi_d) − max(lo_s, lo_d) — turning the
    sequential algorithm into one windowed sort per side plus one
    equi-join on part with a range post-filter (the prefix-scan family:
    clamped_running_balance, hysteresis; this is its two-sequence
    member).

    Scale shape: joins and windows all partition by part; a lot
    matches at most (its span ÷ min demand) rows, and total output is
    ≤ supplies + demands + parts (each overlap boundary is crossed
    once) — linear, never the quadratic a naive per-pair match does.
    Conservation laws (Σ matched per demand == min(demand, available);
    per-lot usage ≤ lot size) are asserted in tests."""
    li = load_table(spark, sf_dir, "lineitem")

    def axis(flag_pred) -> DataFrame:
        w = (
            Window.partitionBy("l_partkey")
            .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            li.where(flag_pred)
            .select(
                "l_partkey",
                "l_orderkey",
                F.col("l_linenumber").cast("long").alias("line"),
                F.col("l_quantity").cast("long").alias("q"),
                F.sum(F.col("l_quantity").cast("long")).over(w).alias("hi"),
            )
            .withColumn("lo", F.col("hi") - F.col("q"))
        )

    s = axis(F.col("l_returnflag") != "R").alias("s")
    d = axis(F.col("l_returnflag") == "R").alias("d")
    j = s.join(
        d,
        (F.col("s.l_partkey") == F.col("d.l_partkey"))
        & (F.col("s.lo") < F.col("d.hi"))
        & (F.col("d.lo") < F.col("s.hi")),
    )
    return j.select(
        F.col("s.l_partkey").alias("l_partkey"),
        F.col("s.l_orderkey").alias("supply_order"),
        F.col("s.line").alias("supply_line"),
        F.col("d.l_orderkey").alias("return_order"),
        F.col("d.line").alias("return_line"),
        (
            F.least(F.col("s.hi"), F.col("d.hi"))
            - F.greatest(F.col("s.lo"), F.col("d.lo"))
        ).cast("long").alias("matched_qty"),
    )


@register(
    "referential_integrity_audit",
    oracle="""
    WITH li AS (
      SELECT count(*) FILTER (o.o_orderkey IS NULL) AS orphans,
             count(*) FILTER (o.o_orderkey IS NOT NULL) AS linked
      FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey),
    oc AS (
      SELECT count(*) FILTER (c.c_custkey IS NULL) AS orphans,
             count(*) FILTER (c.c_custkey IS NOT NULL) AS linked
      FROM orders LEFT JOIN customer c ON c.c_custkey = o_custkey),
    cn AS (
      SELECT count(*) FILTER (n.n_nationkey IS NULL) AS orphans,
             count(*) FILTER (n.n_nationkey IS NOT NULL) AS linked
      FROM customer LEFT JOIN nation n ON n.n_nationkey = c_nationkey),
    ec AS (
      SELECT count(*) FILTER (c.c_custkey IS NULL) AS orphans,
             count(*) FILTER (c.c_custkey IS NOT NULL) AS linked
      FROM events LEFT JOIN customer c ON c.c_custkey = user_id)
    SELECT 'lineitem->orders' AS relation, CAST(orphans AS BIGINT) AS orphans, CAST(linked AS BIGINT) AS linked FROM li
    UNION ALL SELECT 'orders->customer', CAST(orphans AS BIGINT), CAST(linked AS BIGINT) FROM oc
    UNION ALL SELECT 'customer->nation', CAST(orphans AS BIGINT), CAST(linked AS BIGINT) FROM cn
    UNION ALL SELECT 'events->customer', CAST(orphans AS BIGINT), CAST(linked AS BIGINT) FROM ec
    """,
    tags=("analytics", "quality", "join"),
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the schema's FK DAG — orphan
    and linked counts for every relation (lineitem→orders,
    orders→customer, customer→nation, events→customer): the constraint
    check a lakehouse has no enforcing engine for, so it runs as a
    query before anything joins on the assumption. Zero orphans here
    certifies the joins elsewhere in this registry are lossless; on a
    real lake the orphans column is the incident report. Each relation
    is one left-join probe (dimension side broadcast where small)
    collapsing map-side to a 1-row count pair — the same plan family as
    right_to_erasure_cascade, pointed at FK health instead of
    deletion."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    ev = load_table(spark, sf_dir, "events")

    def audit(fact: DataFrame, fk, dim: DataFrame, pk, name: str) -> DataFrame:
        j = fact.join(F.broadcast(dim.select(pk)), fact[fk] == dim[pk], "left")
        return j.agg(
            F.lit(name).alias("relation"),
            F.count(F.when(F.col(pk).isNull(), 1)).cast("long").alias("orphans"),
            F.count(F.when(F.col(pk).isNotNull(), 1)).cast("long").alias("linked"),
        )

    return (
        audit(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionByName(audit(o, "o_custkey", c, "c_custkey", "orders->customer"))
        .unionByName(audit(c, "c_nationkey", n, "n_nationkey", "customer->nation"))
        .unionByName(audit(ev, "user_id", c, "c_custkey", "events->customer"))
    )


@register(
    "benford_first_digit_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders
      WHERE o_totalprice > 0),
    c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
    t AS (SELECT sum(n) AS total FROM c)
    SELECT c.digit, CAST(c.n AS BIGINT) AS n,
           CAST((1000000 * c.n) // t.total AS BIGINT) AS share_micro
    FROM c CROSS JOIN t
    """,
    tags=("analytics", "quality", "statistics"),
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit — the forensic-accounting screen
    for fabricated amounts: the leading significant digit of every
    order total (taken from the exact integer cents rendering — no
    float-to-text) with its exact micro share; natural multi-scale
    amounts follow P(d) = log₁₀(1 + 1/d), and a fraud-era ledger shows
    a flat or 5-heavy profile instead. The conformance comparison
    (observed vs log-expectation, and this SYNTHETIC fixture's
    deliberate non-conformance) lives in tests — the query emits the
    exact observation, which is the auditable artifact. Scan-shaped:
    per-row digit projection, 9-row aggregate, broadcast total."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long").cast("string"), 1, 1
    ).cast("long")
    # the 9-row digit histogram feeds the total and the output: tiny,
    # but without materialization the orders scan runs twice (non-CSE)
    c = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    t = c.agg(F.sum("n").alias("total"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        F.col("n").cast("long").alias("n"),
        F.expr("CAST((1000000 * n) div total AS BIGINT)").alias("share_micro"),
    )


@register(
    "calendar_hierarchy_rollup",
    oracle="""
    WITH b AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m') AS month,
             printf('w%05d', (CAST(ts AS DATE) - DATE '1970-01-05') // 7) AS week,
             strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase')
    SELECT month, week, day,
           CAST(GROUPING(month) * 4 + GROUPING(week) * 2 + GROUPING(day) AS BIGINT) AS lvl,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM b
    GROUP BY GROUPING SETS ((month, week, day), (month, week), (month), ())
    """,
    tags=("analytics", "aggregation", "sql-surface"),
)
def calendar_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-hierarchy rollup — day ⊂ ISO week ⊂ month ⊂ total in ONE
    aggregation pass (grouping sets), the BI date-drilldown cube with
    the grouping-level id carried so subtotal rows self-identify
    (rollup_grouping_id_disambiguation's lesson applied to the calendar
    lattice). The week key is ARITHMETIC — Monday-aligned epoch weeks,
    days-since-1970-01-05 div 7 — computed identically in both engines,
    because named week rules genuinely differ across engines (Spark
    weekofyear is ISO-8601 with year wrap, DuckDB strftime '%W' is
    C-style week-of-year starting 00) and coincide only on data that
    never crosses a year boundary; an engine-neutral integer week is the
    only rule that can't drift. Exact cents; one shuffle, partials
    combine map-side across all four levels simultaneously."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    b = ev.select(
        F.date_format("ts", "yyyy-MM").alias("month"),
        F.format_string(
            "w%05d",
            F.expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-05') div 7 AS INT)"),
        ).alias("week"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return (
        b.groupingSets(
            [["month", "week", "day"], ["month", "week"], ["month"], []],
            "month", "week", "day",
        )
        .agg(
            (
                F.grouping("month") * 4 + F.grouping("week") * 2 + F.grouping("day")
            ).cast("long").alias("lvl"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select("month", "week", "day", "lvl", "n", "cents")
    )


@register(
    "sequence_gap_audit",
    oracle="""
    WITH k AS (SELECT DISTINCT l_orderkey AS id FROM lineitem),
    l AS (
      SELECT id, lag(id) OVER (ORDER BY id) AS prev
      FROM k)
    SELECT CAST(prev + 1 AS BIGINT) AS gap_start,
           CAST(id - 1 AS BIGINT) AS gap_end,
           CAST(id - prev - 1 AS BIGINT) AS gap_len
    FROM l
    WHERE prev IS NOT NULL AND id - prev > 1
    """,
    tags=("analytics", "quality", "window"),
)
def sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap audit — the ingestion-integrity check "which id
    ranges are missing?": distinct referenced order keys, one ordered
    lag, and every jump > 1 becomes a (gap_start, gap_end, length)
    range row — compact even when millions of ids are missing (ranges,
    not ids). On this fixture the lineitem→orders reference is
    naturally sparse (~2% of orders have no lineitems), so the audit is
    non-vacuous at every scale; in production this runs against
    kafka-offset or invoice-number columns after every load.

    Scale shape: the id dimension is FACT-sized (distinct order keys =
    billions at 100 TB), so a single global ordered lag would be a
    one-task sort. Instead ids are range-bucketed by ``id div 2^20``:
    consecutive ids land in the same bucket (lag partitioned by bucket —
    a normal hash-shuffled window) except exactly at bucket boundaries,
    where the successor of a bucket's max is the NEXT non-empty bucket's
    min — recovered from the buckets-sized (ids/2^20 rows) min/max
    summary with one dimension-sized ordered lag. Empty buckets need no
    special case: the summary only contains non-empty buckets, so the
    boundary lag naturally jumps them. Same banding trick as the theta
    join; the bucket window and the min/max aggregate reuse one exchange
    on the bucket key."""
    li = load_table(spark, sf_dir, "lineitem")
    k = li.select(F.col("l_orderkey").alias("id")).distinct()
    # b feeds the bucketed lag AND the bucket min/max summary — one
    # distinct shuffle materialized (ids only, 8 bytes/row), not two
    b = k.withColumn("bkt", F.expr("id div 1048576")).localCheckpoint(eager=True)
    wb = Window.partitionBy("bkt").orderBy("id")
    intra = b.select("id", F.lag("id").over(wb).alias("prev"))
    summ = b.groupBy("bkt").agg(F.min("id").alias("mn"), F.max("id").alias("mx"))
    ws = Window.orderBy("bkt")
    cross = summ.select(
        F.col("mn").alias("id"), F.lag("mx").over(ws).alias("prev")
    )
    pairs = intra.unionByName(cross)
    return pairs.where(F.col("prev").isNotNull() & (F.col("id") - F.col("prev") > 1)).select(
        (F.col("prev") + 1).cast("long").alias("gap_start"),
        (F.col("id") - 1).cast("long").alias("gap_end"),
        (F.col("id") - F.col("prev") - 1).cast("long").alias("gap_len"),
    )


_PROFILE_COLS = (
    ("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
    ("o_custkey", "CAST(o_custkey AS VARCHAR)"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_totalprice_cents", "CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS VARCHAR)"),
    ("o_orderdate", "strftime(o_orderdate, '%Y-%m-%d')"),
    ("o_orderpriority", "o_orderpriority"),
)


@register(
    "table_profile_orders",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{name}' AS column_name,
           CAST(count(*) - count(v) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
           min(v) AS min_value, max(v) AS max_value
    FROM (SELECT {expr} AS v FROM orders) t"""
        for name, expr in _PROFILE_COLS
    ),
    tags=("analytics", "quality", "statistics"),
)
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated column profiling — the data-catalog crawl that writes
    a table's datasheet: per column, null count, distinct cardinality,
    and canonical-text min/max (money as integer cents, dates as ISO —
    the rendering rule every cross-engine comparison in this repo
    uses). One branch per column unioned; at 100 TB this is the one
    pass a catalog service runs on ingest (Glue crawlers, Unity
    profiling), and the per-branch scans share the cached file listing
    while each collapses map-side to a single row. Lexicographic
    min/max over canonical text is deliberate: it is deterministic
    across engines where raw float/date renderings are not."""
    o = load_table(spark, sf_dir, "orders")
    spark_exprs = {
        "o_orderkey": F.col("o_orderkey").cast("string"),
        "o_custkey": F.col("o_custkey").cast("string"),
        "o_orderstatus": F.col("o_orderstatus"),
        "o_totalprice_cents": F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5))
        .cast("long")
        .cast("string"),
        "o_orderdate": F.date_format("o_orderdate", "yyyy-MM-dd"),
        "o_orderpriority": F.col("o_orderpriority"),
    }
    # ONE scan for all profiled columns: each row unpivots to its
    # (column_name, canonical_value) pairs inside the scan stage and a
    # single name-keyed aggregate profiles every column — the
    # union-of-branches first draft scanned orders once per column
    # (6 scans, caught by the duplicate-scan audit)
    pairs = F.explode(
        F.array(
            *[
                F.struct(F.lit(name).alias("column_name"), spark_exprs[name].alias("v"))
                for name, _ in _PROFILE_COLS
            ]
        )
    )
    profiled = (
        o.select(pairs.alias("p"))
        .groupBy(F.col("p.column_name").alias("column_name"))
        .agg(
            (F.count(F.lit(1)) - F.count("p.v")).cast("long").alias("n_nulls"),
            F.countDistinct("p.v").cast("long").alias("n_distinct"),
            F.min("p.v").alias("min_value"),
            F.max("p.v").alias("max_value"),
        )
    )
    # a datasheet lists every column even for an EMPTY table (the
    # oracle's per-column branches each emit their zero row; the grouped
    # unpivot emits none — empty-fixture sweep find): anchor the output
    # on the static column list and zero-fill
    names = spark.createDataFrame(
        [(name,) for name, _ in _PROFILE_COLS], "column_name string"
    )
    return names.join(profiled, "column_name", "left").select(
        "column_name",
        F.coalesce("n_nulls", F.lit(0)).cast("long").alias("n_nulls"),
        F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
        "min_value",
        "max_value",
    )


@register(
    "nulls_ordering_topk",
    oracle="""
    SELECT event_id,
           CASE WHEN event_type = 'error' THEN NULL
                ELSE CAST(floor(value * 100.0 + 0.5) AS BIGINT) END AS cents
    FROM events
    ORDER BY cents DESC NULLS LAST, event_id
    LIMIT 50
    """,
    tags=("analytics", "sort", "sql-surface"),
)
def nulls_ordering_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-ordering portability — the silent top-k corruption: Spark's
    default for DESC is NULLS LAST but ASC is NULLS FIRST, while other
    engines differ (and DuckDB's default is NULLS LAST everywhere), so
    an unspecified ordering ships different top-k lists per engine.
    The fix is to SAY it: an explicit NULLS LAST on a value column with
    real NULLs (error events carry none) makes both engines return the
    identical 50 rows — which is the oracle check itself. Distributed
    top-k (TakeOrdered), never a global sort; unique event_id tiebreak
    per house rule."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.when(
        F.col("event_type") == "error", F.lit(None).cast("long")
    ).otherwise(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long"))
    return (
        ev.select("event_id", cents.alias("cents"))
        .orderBy(F.col("cents").desc_nulls_last(), F.col("event_id").asc())
        .limit(50)
    )


@register(
    "price_volume_mix_decomposition",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS cat,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00' THEN 1 ELSE 2 END AS per,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders),
    agg AS (
      SELECT cat,
             CAST(sum(CASE WHEN per = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS q1,
             CAST(sum(CASE WHEN per = 2 THEN 1 ELSE 0 END) AS HUGEINT) AS q2,
             CAST(sum(CASE WHEN per = 1 THEN cents ELSE 0 END) AS HUGEINT) AS c1,
             CAST(sum(CASE WHEN per = 2 THEN cents ELSE 0 END) AS HUGEINT) AS c2
      FROM b GROUP BY cat
      HAVING sum(CASE WHEN per = 1 THEN 1 ELSE 0 END) > 0
         AND sum(CASE WHEN per = 2 THEN 1 ELSE 0 END) > 0)
    SELECT cat,
           CAST(c2 - c1 AS BIGINT) AS delta_cents,
           CAST((c1 * (q2 - q1)) // q1 AS BIGINT) AS volume_effect,
           CAST((q1 * c2) // q2 - c1 AS BIGINT) AS price_effect,
           CAST((c2 - c1) - (c1 * (q2 - q1)) // q1 - ((q1 * c2) // q2 - c1)
                AS BIGINT) AS mix_residual
    FROM agg
    """,
    tags=("analytics", "statistics", "aggregation"),
)
def price_volume_mix_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix waterfall (the FP&A "why did revenue change?"
    decomposition): per category, Δrevenue split into the volume effect
    (p₁·Δq, old price at new volume), the price effect (q₁·Δp, old
    volume at new price), and the interaction residual — with the
    residual DEFINED as total minus the two floored effects, so the
    decomposition re-sums to the exact Δ by construction (the
    largest-remainder discipline from attribution applied to a
    waterfall: floor where you must, reconcile where it counts; the
    conservation law is asserted in tests). Average prices never
    materialize — each effect is one 128-bit integral division of sum
    products. Two map-side aggregates, category-dimension output."""
    dec = "DECIMAL(38,0)"
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
    per = F.when(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"), 1
    ).otherwise(2)
    b = o.select(F.col("o_orderpriority").alias("cat"), per.alias("per"), cents.alias("cents"))
    agg = (
        b.groupBy("cat")
        .agg(
            F.sum(F.when(F.col("per") == 1, 1).otherwise(0)).alias("q1l"),
            F.sum(F.when(F.col("per") == 2, 1).otherwise(0)).alias("q2l"),
            F.sum(F.when(F.col("per") == 1, F.col("cents")).otherwise(0)).alias("c1l"),
            F.sum(F.when(F.col("per") == 2, F.col("cents")).otherwise(0)).alias("c2l"),
        )
        .where((F.col("q1l") > 0) & (F.col("q2l") > 0))
        .select(
            "cat",
            F.expr(f"CAST(q1l AS {dec})").alias("q1"),
            F.expr(f"CAST(q2l AS {dec})").alias("q2"),
            F.expr(f"CAST(c1l AS {dec})").alias("c1"),
            F.expr(f"CAST(c2l AS {dec})").alias("c2"),
        )
    )
    return agg.select(
        "cat",
        F.expr("CAST(c2 - c1 AS BIGINT)").alias("delta_cents"),
        F.expr("CAST((c1 * (q2 - q1)) div q1 AS BIGINT)").alias("volume_effect"),
        F.expr("CAST((q1 * c2) div q2 - c1 AS BIGINT)").alias("price_effect"),
        F.expr(
            "CAST((c2 - c1) - (c1 * (q2 - q1)) div q1 - ((q1 * c2) div q2 - c1) AS BIGINT)"
        ).alias("mix_residual"),
    )


@register(
    "source_partitioned_file_lineage",
    oracle="""
    SELECT CAST(o_orderkey % 4 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY 1
    """,
    tags=("source", "layout", "sql-surface"),
)
def source_partitioned_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + FILE-LINEAGE read via the hidden
    ``_metadata`` column — the provenance surface every lakehouse audit
    leans on ("which physical file did this row come from, how big is
    it, when was it written"): orders are written partitioned by
    ``bucket = o_orderkey % 4``, read back, and aggregated BY SOURCE
    FILE using ``_metadata.file_path``; the partition value is then
    recovered from the path itself (the ``bucket=N`` segment), proving
    path↔content agreement. The oracle states what each partition
    directory must contain, so a mis-bucketed writer, a row landing in
    the wrong file, or a reader that breaks partition-column recovery
    all fail the gate.

    Scale shape: the partitioned write is the standard layout step
    (shuffle keyed on the partition column); the lineage read groups by
    file_path — file-count-sized output, and the _metadata struct is
    populated by the scan itself, costing no extra I/O. With one+ files
    per partition the per-file rows roll up to per-bucket rows
    map-side."""
    import hashlib
    import os
    import tempfile

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
        (F.col("o_orderkey") % 4).alias("bucket"),
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"sp_lineage_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{os.getpid()}",
    )
    o.write.mode("overwrite").partitionBy("bucket").parquet(out)
    # explicit schema: an EMPTY source writes zero data files, and
    # schema inference over a fileless partitioned dir raises
    # UNABLE_TO_INFER_SCHEMA (empty-fixture sweep find) — the reader of
    # a maybe-empty staging area must always carry its own schema
    back = spark.read.schema("o_orderkey bigint, cents bigint, bucket bigint").parquet(out)
    per_file = back.groupBy(F.col("_metadata.file_path").alias("fp")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.sum("cents").alias("cents"),
    )
    return (
        per_file.select(
            F.regexp_extract("fp", r"bucket=(\d+)", 1).cast("long").alias("bucket"),
            "n_rows", "min_key", "max_key", "cents",
        )
        .groupBy("bucket")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.min("min_key").cast("long").alias("min_key"),
            F.max("max_key").cast("long").alias("max_key"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )


@register(
    "join_fanout_audit",
    oracle="""
    WITH e AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
    o AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1),
    j AS (
      SELECT e.user_id, e.n_events, o.n_orders,
             e.n_events * o.n_orders AS fanout
      FROM e JOIN o ON o.o_custkey = e.user_id),
    t AS (SELECT sum(fanout) AS total FROM j)
    SELECT j.user_id,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(fanout AS BIGINT) AS fanout,
           CAST((1000000 * fanout) // t.total AS BIGINT) AS share_micro
    FROM j CROSS JOIN t
    ORDER BY fanout DESC, j.user_id LIMIT 20
    """,
    tags=("analytics", "join", "observability", "planning"),
)
def join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-FANOUT audit — the pre-flight a planner-less engine makes its
    users run by hand and this one ships as an operator: before joining
    events to orders on the user key, measure per-key fanout
    (n_events × n_orders — the number of output rows that key alone
    will produce) and each key's share of the total join cardinality.
    A handful of keys owning most of the mass is the skew signature
    that picks the salted/AQE path over the plain shuffle join (the
    decision input for salted_join_events_customer, as
    partition_key_advisor is for layout and join_size_sketch_estimate
    for total cardinality — this one finds WHICH keys explode).

    Scale shape: both sides collapse to per-key counts FIRST (map-side
    combinable — the fact tables are never joined), the count-join is
    key-dimension sized, the total is one broadcast row, and the top-20
    is a distributed TakeOrdered. Cost is two scans + two narrow
    shuffles regardless of the would-be join's size — the point: the
    audit is O(keys) while the bad join it prevents is O(fanout)."""
    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    e = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    oc = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    # the per-key fanout table feeds both the total and the output —
    # materialize it once or BOTH fact scans run twice (non-CSE, same as
    # the kneser bigram table); it is key-dimension sized
    j = (
        e.join(oc, e.user_id == oc.o_custkey)
        .select(
            "user_id", "n_events", "n_orders",
            (F.col("n_events") * F.col("n_orders")).alias("fanout"),
        )
        .localCheckpoint(eager=True)
    )
    t = j.agg(F.sum("fanout").alias("total"))
    return (
        j.crossJoin(F.broadcast(t))
        .select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("fanout").cast("long").alias("fanout"),
            F.expr("CAST((1000000 * fanout) div total AS BIGINT)").alias("share_micro"),
        )
        .orderBy(F.desc("fanout"), "user_id")
        .limit(20)
    )


@register(
    "bucketed_join_revenue",
    oracle="""
    SELECT o.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(sum(CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    tags=("analytics", "join", "layout", "bucketing"),
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact-fact join on a BUCKETED layout — the registry-visible
    form of sources/bucketing.write_bucketed (previously test-only):
    orders and lineitem are persisted once per (session, sf) as
    8-bucket catalog tables hashed AND sorted on the order key, so the
    join plans bucket-to-bucket with NO Exchange and NO Sort on either
    side (plan test pins exactly one exchange: the final status
    aggregate). This is the durable form of O8's hash placement
    (SURVEY §2.1) — at 100 TB the one-time bucketed write amortizes
    over every subsequent orderkey join, which is exactly the workload
    shape fact tables live in. The oracle is the plain join: layout
    must never change answers."""
    import hashlib

    from streamprocessing_spark.sources.bucketing import write_bucketed

    import tempfile

    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    app = spark.sparkContext.applicationId.replace("-", "_")
    to, tl = f"graft_bj_orders_{sfx}", f"graft_bj_lineitem_{sfx}"
    # external session-scoped locations: the in-memory catalog forgets
    # tables at session end but a managed table's warehouse directory
    # persists, so a later session writing the same managed name dies
    # with "location already exists" — the appId-keyed path avoids it
    base = f"{tempfile.gettempdir()}/graft_bj/{app}"
    if not spark.catalog.tableExists(to):
        write_bucketed(
            load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
            to, ["o_orderkey"], 8, sort_cols=["o_orderkey"], path=f"{base}/{to}",
        )
    if not spark.catalog.tableExists(tl):
        write_bucketed(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey",
                F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5))
                .cast("long")
                .alias("cents"),
            ),
            tl, ["l_orderkey"], 8, sort_cols=["l_orderkey"], path=f"{base}/{tl}",
        )
    o, l = spark.table(to), spark.table(tl)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


@register(
    "listagg_priorities_by_status",
    oracle="""
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
             AS priorities,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("analytics", "aggregation", "sql-surface"),
)
def listagg_priorities_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG — the SQL:2023 ordered string aggregation Spark 4 added
    (and the single most-requested migration blocker from warehouse
    SQL): distinct order priorities per status concatenated under an
    explicit WITHIN GROUP (ORDER BY ...) — the ordering clause is the
    whole point, since bare listagg/collect concatenation order is
    run-dependent and silently breaks value-compared reports. DuckDB
    spells the same operator string_agg(DISTINCT ... ORDER BY ...).
    Scale shape: one map-side-combinable aggregate; the aggregated
    string is bounded by the distinct-value domain (5 priorities), not
    the row count — the safe listagg usage pattern (an unbounded-domain
    listagg is an OOM by design, which is why the rollup families here
    prefer arrays/histograms)."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_listagg_v")
    return spark.sql(
        """
        SELECT o_orderstatus,
               listagg(DISTINCT o_orderpriority, ',')
                 WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders_listagg_v GROUP BY o_orderstatus
        """
    )


# One SQL text, two engines (the recursive_cte_amortization pattern):
# GROUP BY ALL / ORDER BY ALL resolve "all non-aggregate select items" /
# "the whole select list" identically in Spark 4 and DuckDB.
GROUP_BY_ALL_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
"""


@register(
    "group_by_all_showcase",
    oracle=GROUP_BY_ALL_SQL,
    tags=("sql-surface", "aggregate", "spark4", "exact-money"),
)
def group_by_all_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL — the analyst-ergonomics SQL surface
    (grouping keys inferred from the non-aggregate select items, ordering
    from the whole select list), run VERBATIM on both engines from the
    module constant GROUP_BY_ALL_SQL, so the dialect agreement is the
    thing under test — not a translation. Semantics pin: ALL must expand
    to (o_orderstatus, o_orderpriority), i.e. the aggregate stays a
    15-group rollup with exact integer cents; a wrong expansion (e.g.
    including an aggregate input) changes the row count and fails the
    hash. Plan is the ordinary partial/final hash aggregate — the sugar
    must cost nothing."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(GROUP_BY_ALL_SQL)


@register(
    "script_transform_filter",
    oracle="""
    SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%bolt%'
    """,
    tags=("sql-surface", "engine", "custom-operator", "reference"),
)
def script_transform_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT TRANSFORM ... USING — Hive-style script transform WITHOUT
    Hive (Spark 3.1+, SPARK-32106): rows stream to an external Unix
    process over stdin as TAB-delimited text and its stdout streams back
    as rows. This is the reference engine's literal operator contract —
    RainStorm ops are argv/stdin/stdout executables
    (/root/reference/rainstorm/server.go exec pipeline; mirrored by our
    ExecOp subprocess adapter) — expressed as a first-class SQL surface:
    here `sed -n /bolt/p` IS the app-1 pattern-filter op as a shell
    one-liner. sed (not grep) because grep exits 1 on a matchless
    partition and script transform treats nonzero exit as task failure.

    The oracle is the declarative twin (LIKE '%bolt%'), proving the
    process pipeline computes exactly the relational filter. Script
    output columns are strings by contract; the outer SELECT casts the
    key back. Scale: one process per task, rows streamed — the same
    per-partition fork amortization as ExecOp (and unlike per-row
    exec)."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_name FROM (
          SELECT TRANSFORM(p_partkey, p_name)
          USING 'sed -n /bolt/p'
          AS (p_partkey string, p_name string)
          FROM part
        )
        """
    )


@register(
    "source_schema_evolution",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'legacy'
                ELSE o_orderpriority END AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders
    GROUP BY 1
    """,
    tags=("source", "sql-surface", "engine"),
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION across parquet batches — the ingest reality
    every long-lived dataset hits: an old writer produced (key, cents),
    a newer writer added o_orderpriority, and ONE read must span both
    vintages. ``mergeSchema=true`` unions the footers' schemas and
    NULL-fills the column the old files never had; the query then
    treats those NULLs as the 'legacy' cohort — exactly the
    backfill-or-bucket decision a real pipeline makes. The oracle
    states the end-to-end contract from the ORIGINAL table: even-keyed
    orders (written by the old writer) must land in 'legacy' with their
    cents intact, odd-keyed ones keep their true priority — so a reader
    that dropped old-file rows, misaligned columns by position, or
    filled the wrong default would all fail the hash.

    Scale shape: schema merge is a FOOTER operation (one small read per
    file at planning time — the knob exists because it costs planning
    time on millions of files, which is why it's off by default);
    row-level cost is the ordinary scan. The write legs are the
    fixture setup, deterministic per (sf_dir, pid)."""
    import hashlib
    import os
    import tempfile

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
        "o_orderpriority",
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"sp_evolve_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{os.getpid()}",
    )
    o.where(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "cents").write.mode(
        "overwrite"
    ).parquet(f"{out}/v1")
    o.where(F.col("o_orderkey") % 2 == 1).write.mode("overwrite").parquet(f"{out}/v2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/v1", f"{out}/v2"
    )
    # cohort from file PROVENANCE (_metadata.file_path), not NULL-ness:
    # once a genuinely-NULL priority exists in the new vintage (legal
    # dirty data), coalesce(col, 'legacy') can no longer tell it apart
    # from the schema-merge NULL-fill — the hostile sweep caught exactly
    # that conflation. The file path is the ground truth for which
    # writer produced the row.
    legacy = F.col("_metadata.file_path").contains("/v1/")
    return (
        merged.select(
            F.when(legacy, F.lit("legacy"))
            .otherwise(F.col("o_orderpriority"))
            .alias("priority"),
            "cents",
        )
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("cents"),
        )
    )


MEDIAN_SKETCH_ACC = 1000  # percentile_approx accuracy: rank error <= n/1000


@register(
    "exact_median_two_scan",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM lineitem),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    h AS (SELECT cents, count(*) AS c FROM v GROUP BY 1),
    cum AS (
      SELECT cents, sum(c) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS f
      FROM h)
    SELECT n.n, CAST(min(cents) AS BIGINT) AS median_cents
    FROM cum CROSS JOIN n
    WHERE f >= (n.n + 1) // 2
    GROUP BY n.n
    """,
    tags=("analytics", "statistics", "approx", "exact", "scale"),
)
def exact_median_two_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median by sketch-guided selection — the algorithm that
    takes an exact median of 100 TB in TWO scans, where the repo's
    distinct-value-histogram medians (weighted_median, MAD) assume the
    value histogram is materializable and a naive sort is a non-starter:

    1. Scan 1: a percentile_approx sketch brackets the median's VALUE
       band — quantiles at 0.5 ± 3/{MEDIAN_SKETCH_ACC} (the sketch's
       rank error is ≤ n/{MEDIAN_SKETCH_ACC}, so the true median's rank
       provably falls inside the widened band), plus the exact count
       below the band's low edge in the same pass.
    2. Scan 2: the exact distinct-value histogram OF THE BAND ONLY
       (~0.6% of the mass — band-filter pushdown reaches the scan), a
       cumulative walk, and the lower median is the smallest value
       whose below-count + in-band cumulative reaches (n+1) div 2.

    The PIVOT may be nondeterministic (sketch merge order); the OUTPUT
    is exact regardless — any band satisfying the rank guarantee yields
    the same median, and the in-band invariant is asserted at runtime
    (violation raises rather than returning a wrong answer). The oracle
    computes the same lower median from the plain histogram. This is
    distributed selection (quickselect's 2-pass cousin): no global
    sort, no full-domain window, no driver loop."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("long").alias("cents")
    )
    eps = 3.0 / MEDIAN_SKETCH_ACC
    probe = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx(
            "cents", [0.5 - eps, 0.5 + eps], MEDIAN_SKETCH_ACC
        ).alias("band"),
    ).collect()[0]
    if probe.n == 0 or probe.band is None:
        # empty input: no median exists; emit the empty result the
        # oracle's grouped form produces (empty-fixture sweep find)
        return spark.createDataFrame([], "n bigint, median_cents bigint")
    n, lo, hi = probe.n, probe.band[0], probe.band[1]
    r = (n + 1) // 2
    below = v.where(F.col("cents") < lo).count()
    band_hist = (
        v.where((F.col("cents") >= lo) & (F.col("cents") <= hi))
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql.window import Window as W

    cum = band_hist.select(
        "cents",
        (
            F.sum("c").over(
                W.orderBy("cents").rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            + F.lit(below)
        ).alias("f"),
    )
    med = cum.where(F.col("f") >= r).agg(F.min("cents").alias("median_cents"))
    row = med.collect()[0]
    if row.median_cents is None:
        raise AssertionError(
            f"median rank {r} fell outside the sketch band [{lo}, {hi}] "
            f"(below={below}) — percentile_approx violated its rank bound"
        )
    return spark.createDataFrame(
        [(n, int(row.median_cents))], "n bigint, median_cents bigint"
    )


@register(
    "map_hof_user_profile",
    oracle="""
    WITH g AS (
      SELECT user_id, event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2)
    SELECT user_id, event_type, n, CAST(cents // n AS BIGINT) AS avg_cents
    FROM g WHERE n >= 2
    """,
    tags=("analytics", "functions", "map", "sql-surface"),
)
def map_hof_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP higher-order functions — the collection family the scalar/
    array showcases don't reach: each user's per-type counts and cents
    are assembled into two MAP columns (map_from_entries over
    collect_list), combined key-wise with ``map_zip_with`` (count ⋈ sum
    → floored average, matched by KEY not position), pruned with
    ``map_filter`` (drop one-off types), then exploded back to rows.
    The oracle states the equivalent relational contract, so a wrong
    key alignment in map_zip_with (the whole point of the function), a
    lost map entry, or filter-vs-zip ordering bugs all fail the hash —
    while the Spark side genuinely exercises the map runtime
    (ArrayBasedMapData, key dedup, null-value paths).

    Scale shape: one (user, type) aggregate (map-side combinable), then
    per-user maps are rows of at most |event types| entries — the map
    ops are array-local per row, no extra shuffle; the explode returns
    to the same cardinality the aggregate had. Exact integers end to
    end (floored average via integer division, non-negative)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    g = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")).alias("cents"),
    )
    maps = g.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias("mn"),
        F.map_from_entries(F.collect_list(F.struct("event_type", "cents"))).alias("mc"),
    )
    combined = maps.select(
        "user_id",
        F.map_filter(
            F.map_zip_with(
                F.col("mn"),
                F.col("mc"),
                lambda k, n, c: F.struct(n.alias("n"), c.alias("cents")),
            ),
            lambda k, v: v.getField("n") >= 2,
        ).alias("m"),
    )
    ex = combined.select("user_id", F.explode("m").alias("event_type", "v"))
    return ex.select(
        "user_id",
        "event_type",
        F.col("v.n").cast("long").alias("n"),
        # division AFTER the map ops, in exact integer domain (no 2^53
        # double bound) — the maps carry the raw (n, cents) pair
        F.expr("CAST(v.cents div v.n AS BIGINT)").alias("avg_cents"),
    )


_FUNNEL_STEPS = ("signup", "view", "click", "purchase")
# (event time, event id) packed into one orderable integer: the id slot
# is 10^19 wide — strictly larger than any non-negative BIGINT
# (max 2^63-1 ≈ 9.2e18) — so the pack is collision- and misorder-free
# for the ENTIRE id domain, no scale-factor guard needed (ADVICE r04).
# DECIMAL(38)/HUGEINT hold the product: micros ≈ 7e15 × 1e19 ≈ 7e34.
_FUNNEL_ID_SLOT = 10**19
_FUNNEL_KEY = f"CAST(unix_micros(ts) AS DECIMAL(38,0)) * {_FUNNEL_ID_SLOT} + event_id"
_FUNNEL_KEY_DUCK = f"CAST(epoch_us(ts) AS HUGEINT) * {_FUNNEL_ID_SLOT} + event_id"


def _sql_funnel() -> str:
    steps = _FUNNEL_STEPS
    ctes = [
        f"ev AS (SELECT user_id, event_type, {_FUNNEL_KEY_DUCK} AS k FROM events)",
        f"s1 AS (SELECT user_id, min(k) AS k1 FROM ev"
        f" WHERE event_type = '{steps[0]}' GROUP BY user_id)",
    ]
    for i in range(1, len(steps)):
        ctes.append(
            f"s{i + 1} AS (SELECT e.user_id, min(e.k) AS k{i + 1}"
            f" FROM ev e JOIN s{i} p ON e.user_id = p.user_id"
            f" WHERE e.event_type = '{steps[i]}' AND e.k > p.k{i}"
            f" GROUP BY e.user_id)"
        )
    legs = "\n      UNION ALL\n".join(
        f"      SELECT {i + 1} AS step_idx, '{s}' AS step,"
        f" (SELECT count(*) FROM s{i + 1}) AS n_users"
        for i, s in enumerate(steps)
    )
    return f"""
    WITH {", ".join(ctes)},
    counts AS (
{legs}
    )
    SELECT CAST(step_idx AS BIGINT) AS step_idx, step,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(CASE WHEN (SELECT n_users FROM counts WHERE step_idx = 1) > 0
                THEN (1000 * n_users) //
                     (SELECT n_users FROM counts WHERE step_idx = 1)
                END AS BIGINT) AS conversion_milli
    FROM counts
    """


@register(
    "funnel_steps_dropoff",
    oracle=_sql_funnel(),
    tags=("analytics", "funnel", "session"),
)
def funnel_steps_dropoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered k-step FUNNEL (signup → view → click → purchase) — the
    drop-off table product analytics is built on, with the
    ordered-subsequence semantics stated exactly: a user reaches step i
    iff an event of step i's type exists strictly AFTER the user's
    earliest feasible step-(i−1) event (greedy-earliest chaining, which
    maximizes completion and is the standard funnel contract). Event
    order is the (time, event_id) pack — one orderable DECIMAL(38)
    integer, so same-instant events chain deterministically on both
    engines. funnel_click_to_purchase is the 2-step range-join cousin;
    this is the general k-step ladder.

    Scale shape: k sequential per-user conditional-min aggregates, each
    one shuffle keyed on user_id — Catalyst reuses the exchange across
    stages (same key), and each stage's frame shrinks (only survivors
    propagate). The final table is k rows; the step-1 denominator is a
    broadcast. No windows over the fact table, no event-type pivot
    holding all steps in memory per user."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr(_FUNNEL_KEY).alias("k")
    )
    steps = _FUNNEL_STEPS
    prev = (
        ev.where(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("k").alias("pk"))
    )
    counts = [prev.agg(F.count(F.lit(1)).alias("n_users"))
              .select(F.lit(1).alias("step_idx"), F.lit(steps[0]).alias("step"), "n_users")]
    for i, s in enumerate(steps[1:], start=2):
        prev = (
            ev.where(F.col("event_type") == s)
            .join(prev, "user_id")
            .where(F.col("k") > F.col("pk"))
            .groupBy("user_id")
            .agg(F.min("k").alias("pk"))
        )
        counts.append(
            prev.agg(F.count(F.lit(1)).alias("n_users"))
            .select(F.lit(i).alias("step_idx"), F.lit(s).alias("step"), "n_users")
        )
    table = counts[0]
    for c in counts[1:]:
        table = table.unionAll(c)
    base = counts[0].select(F.col("n_users").alias("n1"))
    return table.crossJoin(F.broadcast(base)).select(
        F.col("step_idx").cast("long").alias("step_idx"),
        "step",
        F.col("n_users").cast("long").alias("n_users"),
        F.when(F.col("n1") > 0, F.expr("(1000 * n_users) div n1"))
        .cast("long")
        .alias("conversion_milli"),
    )


MERKLE_BUCKETS = 64  # fixed partition count for the divergence proof


@register(
    "partition_divergence_proof",
    oracle=f"""
    WITH canon AS (
      SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
               % {MERKLE_BUCKETS} AS bucket,
             ('0x' || substr(md5(
               COALESCE(CAST(o_orderkey AS VARCHAR), chr(1)) || '|' ||
               COALESCE(o_orderstatus, chr(1)) || '|' ||
               COALESCE(CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS VARCHAR), chr(1)) || '|' ||
               COALESCE(strftime(o_orderdate, '%Y-%m-%d'), chr(1))
             ), 1, 12)) AS h
      FROM orders)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(CAST(h AS BIGINT) AS HUGEINT))
                % 281474976710656 AS BIGINT) AS fingerprint
    FROM canon GROUP BY 1
    """,
    tags=("analytics", "quality", "statistics"),
)
def partition_divergence_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed content fingerprints — the DIAGNOSIS companion to
    table_content_fingerprint's single verdict: rows hash-partition into
    {MERKLE_BUCKETS} fixed buckets by key, each bucket carries its own
    order-insensitive 48-bit sum fingerprint + row count, so when two
    replicas disagree the mismatching BUCKET pins the divergence to
    1/{MERKLE_BUCKETS} of the key space (recurse with a different salt
    to narrow further — the Merkle-descent pattern over a table that is
    never sorted). Cross-region replica repair at 100 TB wants exactly
    this: ship 64 fingerprints, not a sort-merge of the table.

    Same canonicalization discipline as the flat fingerprint (integer
    cents + ISO dates — no float rendering; every field NULL-coalesced
    to a 0x01 sentinel with '||' spelling on both engines), 38-digit
    accumulation before the 2⁴⁸ modulus. One map-side-combinable
    aggregate; the bucket column derives from the KEY hash so both
    replicas bucket identically regardless of physical layout."""
    o = load_table(spark, sf_dir, "orders")
    canon_sql = (
        "concat_ws('|', coalesce(CAST(o_orderkey AS STRING), char(1)), "
        "coalesce(o_orderstatus, char(1)), "
        "coalesce(CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS STRING), char(1)), "
        "coalesce(date_format(o_orderdate, 'yyyy-MM-dd'), char(1)))"
    )
    return (
        o.select(
            F.expr(
                "CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 8), 16, 10) AS BIGINT)"
                f" % {MERKLE_BUCKETS}"
            ).alias("bucket"),
            F.expr(
                "CAST(conv(substring(md5(" + canon_sql + "), 1, 12), 16, 10) AS DECIMAL(38,0))"
            ).alias("h"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.expr("CAST(sum(h) % 281474976710656 AS BIGINT)").alias("fingerprint"),
        )
        .select(F.col("bucket").cast("long").alias("bucket"), "n_rows", "fingerprint")
    )


@register(
    "sink_python_datasource_roundtrip",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           o_orderstatus
    FROM orders
    """,
    tags=("reference", "source", "sink"),
)
def sink_python_datasource_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's keyed-line SINK (console+DFS append, O10 —
    rainstorm/server.go:468-515) as a custom Spark 4 Python Data Source
    WRITER (sources/linesink.py, format("keyed_lines")): rows publish
    through the real two-phase task-commit protocol (private temp file →
    rename on driver commit — retried attempts can never double-publish
    because only delivered commit messages get renamed; the
    fault-injection proof lives in tests/test_python_datasource.py).
    This query proves VALUE fidelity end-to-end: write (orderkey,
    status) through the sink, read the published part files back as
    text, parse, and return — the oracle is the identity on orders.

    Staging is a deterministic per-(sf, pid) temp dir like the other
    roundtrip sources. Scale notes: one part file per task (the
    reference wrote ONE DFS file — a single-writer bottleneck this
    deliberately does not reproduce); keys/values are written as
    tab-separated text, so the parse is a 2-column split."""
    import hashlib
    import os
    import tempfile

    from streamprocessing_spark.sources.linesink import register_sink

    register_sink(spark)
    d = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("k"),
        F.col("o_orderstatus").alias("v"),
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"sp_sink_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{os.getpid()}",
    )
    # the sink appends; a fresh staging dir per run keeps the roundtrip
    # an identity (mode semantics live in the commit protocol, not here)
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    d.write.format("keyed_lines").option("path", out).mode("append").save()
    back = spark.read.text(out)
    return back.select(
        F.expr("CAST(split_part(value, '\t', 1) AS BIGINT)").alias("o_orderkey"),
        F.expr("split_part(value, '\t', 2)").alias("o_orderstatus"),
    )


SKEW_TOPK = 10


@register(
    "shuffle_skew_audit",
    oracle=f"""
    WITH freq AS (
      SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS HUGEINT) AS n,
                   CAST(count(*) AS HUGEINT) AS n_keys,
                   max(c) AS max_c FROM freq),
    topk AS (SELECT c FROM freq ORDER BY c DESC, k LIMIT {SKEW_TOPK}),
    tk AS (SELECT CAST(sum(c) AS HUGEINT) AS top_c FROM topk),
    hist AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS m FROM freq GROUP BY 1),
    cum AS (
      SELECT v, m,
             COALESCE(sum(m) OVER w, 0) AS f_prev,
             COALESCE(sum(v * m) OVER w, 0) AS s_prev
      FROM hist
      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    gini AS (
      SELECT sum(CAST(v AS HUGEINT) * m * f_prev - CAST(m AS HUGEINT) * s_prev)
               AS pair_gap
      FROM cum)
    SELECT CAST(t.n AS BIGINT) AS n_rows,
           CAST(t.n_keys AS BIGINT) AS n_keys,
           CAST(t.max_c AS BIGINT) AS max_key_rows,
           CAST((1000000 * t.max_c) // t.n AS BIGINT) AS top1_share_micro,
           CAST((1000000 * tk.top_c) // t.n AS BIGINT) AS top{SKEW_TOPK}_share_micro,
           CAST((1000000 * t.max_c * t.n_keys) // t.n AS BIGINT) AS skew_factor_micro,
           CAST((1000000 * g.pair_gap) // (t.n_keys * t.n) AS BIGINT) AS gini_micro
    FROM tot t CROSS JOIN tk CROSS JOIN gini g
    """,
    tags=("analytics", "quality", "statistics", "layout"),
)
def shuffle_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight SKEW audit of the engine's dominant shuffle key (the
    orders⋈lineitem order key): top-1/top-{SKEW_TOPK} key share, the
    skew factor max/mean (>> 1e6 micro ⇒ one reducer runs hot), and the
    Gini of the key-frequency distribution — the numbers that decide
    between letting AQE's skew-join handle it, salting, or doing
    nothing (SCALE.md's measured three-way comparison assumed a known
    skew; this measures it). At 100 TB this audit runs BEFORE the big
    join, on the cheap key histogram.

    Exact integers end to end: shares and the skew factor are one
    truncating micro div each; the Gini reuses the distinct-value
    histogram closed form (strictly-preceding cumulative sums over the
    FREQUENCY-of-frequency dimension — bounded by the basket-size
    domain, not key count). Top-{SKEW_TOPK} via distributed TakeOrdered
    with a key tiebreak. Scale: one map-side-combinable key histogram,
    then frequency-dimension-sized everything."""
    li = load_table(spark, sf_dir, "lineitem")
    freq = (
        li.groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # feeds totals, topk, and the gini histogram
    )
    dec = "DECIMAL(38,0)"
    tot = freq.agg(
        F.expr(f"CAST(sum(c) AS {dec})").alias("n"),
        F.expr(f"CAST(count(*) AS {dec})").alias("n_keys"),
        F.max("c").alias("max_c"),
    )
    tk = (
        freq.orderBy(F.desc("c"), F.asc("k"))
        .limit(SKEW_TOPK)
        .agg(F.expr(f"CAST(sum(c) AS {dec})").alias("top_c"))
    )
    hist = freq.groupBy(F.col("c").alias("v")).agg(F.count(F.lit(1)).alias("m"))
    from pyspark.sql.window import Window as W

    w_prev = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    cum = hist.select(
        "v",
        "m",
        F.coalesce(F.sum("m").over(w_prev), F.lit(0)).alias("f_prev"),
        F.coalesce(F.sum(F.col("v") * F.col("m")).over(w_prev), F.lit(0)).alias("s_prev"),
    )
    gini = cum.agg(
        F.sum(
            F.expr(f"CAST(v AS {dec}) * m * f_prev - CAST(m AS {dec}) * s_prev")
        ).alias("pair_gap")
    )
    return (
        tot.crossJoin(F.broadcast(tk))
        .crossJoin(F.broadcast(gini))
        .select(
            F.col("n").cast("long").alias("n_rows"),
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("max_c").cast("long").alias("max_key_rows"),
            F.expr("CAST((1000000 * max_c) div n AS BIGINT)").alias("top1_share_micro"),
            F.expr("CAST((1000000 * top_c) div n AS BIGINT)").alias(
                f"top{SKEW_TOPK}_share_micro"
            ),
            F.expr("CAST((1000000 * max_c * n_keys) div n AS BIGINT)").alias(
                "skew_factor_micro"
            ),
            F.expr("CAST((1000000 * pair_gap) div (n_keys * n) AS BIGINT)").alias(
                "gini_micro"
            ),
        )
    )
