"""Graph / market-basket operators over the order-item relation.

The co-purchase graph (parts appearing in the same order) exercises two
shapes the reference engine cannot express at all: association-rule
mining (self-join + exact ratio aggregates) and iterative graph traversal
(driver-side loop of distributed frontier joins, recursive-CTE oracle —
the same pattern as operators/dedup.connected_components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamprocessing_spark.partitioning import fan_out
from streamprocessing_spark.registry import register
from streamprocessing_spark.shared_views import shared_view
from streamprocessing_spark.sources.readers import load_table

MIN_SUPPORT = 2  # co-occurrence count threshold (both SF scales non-empty)
MAX_HOPS = 3


def _op_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct (l_orderkey, l_partkey) relation every graph operator
    starts from, materialized ONCE per (session, sf_dir) — "build the
    graph once, query it many times", the production layout for a graph
    workload (and at bench time the nine graph queries stop paying the
    same distinct-shuffle nine times). Cache/staleness/eviction contract
    lives in shared_views (this module pioneered the pattern in round 2;
    the dedup cascade now shares the same machinery).

    Round 10: the build fans the single-split scan out on l_orderkey
    BEFORE the distinct — the orderkey hash partitioning satisfies the
    (l_orderkey, l_partkey) grouping (subset rule), so the distinct adds
    no second exchange, and every consumer that joins on l_orderkey
    (the pair-support build, the Apriori 3-leg join) reads a cache that
    is ALREADY partitioned on its join key — zero exchanges on the big
    side of the basket self-join."""
    return shared_view(
        spark,
        "graphop",
        sf_dir,
        lambda: fan_out(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_partkey"
            ),
            "l_orderkey",
        ).distinct(),
    )


def _pair_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase PAIR-SUPPORT relation (s < d canonical part pair,
    n = number of shared orders) — the second tier of the shared graph
    cascade (round 10). Every graph operator's first real step is the
    same O(orders · basket²) basket self-join over ``graphop``; before
    this view each of the ten operators re-ran it per invocation
    (Catalyst never CSEs across queries). All their edge relations are
    algebraic slices of this one table:

    - distinct canonical edges   = SELECT s, d
    - symmetric / <> edge forms  = canonical UNION flipped (same n)
    - support-thresholded graphs = WHERE n >= K
    - copurchase_lift's pairs    = WHERE n >= MIN_SUPPORT (with n)

    so sharing it changes no query's output, only where the self-join
    cost is paid (priced to copurchase_lift's bench row, the first
    headline consumer — same discipline as mhpairs/bitext/ivfpairs)."""

    def build() -> DataFrame:
        op = _op_view(spark, sf_dir)
        a, b = op.alias("a"), op.alias("b")
        return (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .groupBy(
                F.col("a.l_partkey").alias("s"), F.col("b.l_partkey").alias("d")
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )

    return shared_view(spark, "copairs", sf_dir, build)


@register(
    "copurchase_lift",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM op),
    pc AS (SELECT l_partkey, count(*) AS n_p FROM op GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS p_a, b.l_partkey AS p_b, count(*) AS n_ab
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p_a, p_b, n_ab,
           floor(CAST(n_ab AS DOUBLE) * t.n_orders / (ca.n_p * cb.n_p)
                 * 1000000.0 + 0.5) / 1000000.0 AS lift
    FROM pairs
    JOIN pc ca ON ca.l_partkey = p_a
    JOIN pc cb ON cb.l_partkey = p_b
    CROSS JOIN tot t
    WHERE n_ab >= {MIN_SUPPORT}
    """,
    tags=("graph", "analytics", "join"),
)
def copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association: part pairs co-occurring in ≥2 orders,
    with lift = P(a,b) / (P(a)·P(b)) = n_ab·N / (n_a·n_b).

    All inputs to the lift are exact integers; the single double division
    is the same IEEE expression in both engines, rounded to 6 dp. The
    pair self-join keys on the order — each order contributes C(items,2)
    pairs, so the shuffle is O(orders · basket²), not O(parts²); the
    per-part counts are a broadcast-sized dimension joined back after
    aggregation."""
    # the pair aggregation is the shared copairs view (round 10) — this
    # query's bench row prices its build; the filter below is the only
    # marginal pair work. Per-part counts and the order total still read
    # the op view. (A basket-collect + combination-explode formulation
    # measured within 5% of the self-join at sf0.1.)
    op = _op_view(spark, sf_dir)
    tot = op.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    pc = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_p"))
    pairs = _pair_view(spark, sf_dir).select(
        F.col("s").alias("p_a"),
        F.col("d").alias("p_b"),
        F.col("n").alias("n_ab"),
    ).filter(F.col("n_ab") >= MIN_SUPPORT)
    ca = pc.select(F.col("l_partkey").alias("p_a"), F.col("n_p").alias("n_a"))
    cb = pc.select(F.col("l_partkey").alias("p_b"), F.col("n_p").alias("n_b"))
    return (
        pairs.join(F.broadcast(ca), "p_a")
        .join(F.broadcast(cb), "p_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "p_a",
            "p_b",
            "n_ab",
            (
                F.floor(
                    F.col("n_ab").cast("double")
                    * F.col("n_orders")
                    / (F.col("n_a") * F.col("n_b"))
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("lift"),
        )
    )


@register(
    "basket_bfs_part_hops",
    oracle=f"""
    WITH RECURSIVE op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    seed AS (SELECT min(l_partkey) AS id FROM op),
    walk AS (
      SELECT id, 0 AS hops FROM seed
      UNION
      SELECT e.dst AS id, w.hops + 1 AS hops
      FROM walk w JOIN edges e ON e.src = w.id
      WHERE w.hops < {MAX_HOPS}
    )
    SELECT id AS l_partkey, CAST(min(hops) AS BIGINT) AS hops
    FROM walk GROUP BY id
    """,
    tags=("graph", "iterative"),
)
def basket_bfs_part_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS over the co-purchase graph: minimum hop count (≤ 3)
    from the lowest part key to every reachable part.

    Iterative frontier expansion as in connected_components: each round
    joins the frontier to the edge list, anti-joins the visited set, and
    localCheckpoints to truncate lineage. Every round is a distributed
    shuffle join — only the frontier-empty check touches the driver. The
    recursive-CTE oracle enumerates (node, hops) pairs with UNION
    dedup, so both engines compute the same min-hop map."""
    op = _op_view(spark, sf_dir)
    # the <> edge set is the symmetric closure of the shared canonical
    # pair view (distinct by construction — s < d on one side, d > s on
    # the other), so the basket self-join is never re-run here
    pv = _pair_view(spark, sf_dir)
    edges = (
        pv.select(F.col("s").alias("src"), F.col("d").alias("dst"))
        .unionByName(pv.select(F.col("d").alias("src"), F.col("s").alias("dst")))
        .localCheckpoint(eager=True)
    )
    frontier = op.agg(F.min("l_partkey").alias("id")).withColumn("hops", F.lit(0))
    visited = frontier.localCheckpoint(eager=True)
    # per-round checkpoints are LAZY (round 10): eager ran an internal
    # count job on top of the loop's own materializing action, doubling
    # driver jobs per round. Round 11 (VERDICT r10 item #4): the
    # emptiness probe is count()==0, NOT isEmpty() — isEmpty (take(1))
    # computed only partition 0 of the lazy checkpoint, so the next
    # round's anti-join re-ran the frontier expansion for the remaining
    # partitions (the "double materialization"); count() is the same
    # single driver action but materializes every partition of the
    # round checkpoint exactly once. And the visited set is now a plain
    # UNION of the per-round checkpointed frontiers instead of being
    # re-checkpointed each round — re-persisting the growing union
    # copied every prior frontier's rows again per round, while the
    # union's inputs are already persisted blocks (the anti-join and
    # the final projection just read them).
    for h in range(1, MAX_HOPS + 1):
        nxt = (
            edges.join(frontier, edges.src == frontier.id)
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .withColumn("hops", F.lit(h))
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited.select(
        F.col("id").alias("l_partkey"), F.col("hops").cast("long").alias("hops")
    )


PR_ITERS = 3
PR_SCALE = 1_000_000_000  # initial rank mass per node, scaled integer


def _sql_pr_round(prev: str, out: str) -> str:
    """One PageRank round in DuckDB SQL over CTEs `edges`/`deg`: integer
    contributions (rank div out-degree), damping 7/8 as exact integer
    shifts — identical arithmetic to the Spark loop."""
    return f"""
    c_{out} AS (
      SELECT e.dst AS id, CAST(sum({prev}.r // deg.d) AS BIGINT) AS c
      FROM edges e
      JOIN {prev} ON e.src = {prev}.id
      JOIN deg ON deg.src = e.src
      GROUP BY e.dst),
    {out} AS (
      SELECT {prev}.id,
             CAST({PR_SCALE} // 8 + (7 * coalesce(c_{out}.c, 0)) // 8 AS BIGINT) AS r
      FROM {prev} LEFT JOIN c_{out} ON {prev}.id = c_{out}.id)"""


@register(
    "pagerank_copurchase",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    r0 AS (SELECT DISTINCT src AS id, CAST({PR_SCALE} AS BIGINT) AS r FROM edges),
    {_sql_pr_round('r0', 'r1')},
    {_sql_pr_round('r1', 'r2')},
    {_sql_pr_round('r2', 'r3')}
    SELECT id AS l_partkey, r AS pr_scaled FROM r3
    """,
    tags=("graph", "iterative", "analytics"),
)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase graph, PR_ITERS (3) fixed iterations —
    the canonical iterative-join workload (the popularity/centrality
    signal for recommendation and curation ranking).

    ENGINE-EXACT arithmetic: ranks are scaled BIGINTs, per-edge
    contributions use integer division by out-degree, and the damping
    factor is 7/8 applied as integer multiply-then-floor-divide — no
    float ever crosses an aggregate, so both engines produce identical
    ranks (the standard float PageRank is accumulation-order-dependent
    and cannot be oracled exactly). The co-purchase graph is symmetric,
    so there are no dangling nodes and the rank mass stays put.

    Scale shape: each round is one shuffle join (edges × ranks on src)
    plus one aggregation on dst — the partitioning on src is REUSED
    across all rounds; localCheckpoint truncates lineage per
    round exactly as in connected_components. Edge count is
    O(orders · basket²), the same bound as copurchase_lift; driver sees
    nothing but the loop counter (no convergence collect needed for a
    fixed-iteration rank)."""
    # symmetric closure of the shared canonical pair view (round 10) —
    # the basket self-join is paid once per session, not per query
    pv = _pair_view(spark, sf_dir)
    edges = (
        pv.select(F.col("s").alias("src"), F.col("d").alias("dst"))
        .unionByName(pv.select(F.col("d").alias("src"), F.col("s").alias("dst")))
        # reuse one src partitioning for the degree agg and every round's
        # rank join: one shuffle up front instead of one per consumer
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    # attach the out-degree to the edge list ONCE — the loop then pays a
    # single join + aggregation per round instead of two joins
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    edges = edges.join(deg, "src").localCheckpoint(eager=True)
    # node set — fixed across rounds (the rank table's key set never
    # changes under the left-join update), materialized once
    nodes = edges.select(F.col("src").alias("id")).distinct().localCheckpoint(
        eager=True
    )
    ranks = nodes.select("id", F.lit(PR_SCALE).cast("long").alias("r"))
    for _ in range(PR_ITERS):
        # Round 11 (guide §2.4, VERDICT r10 item #4): the old round was
        # contrib-aggregate THEN ranks LEFT JOIN contrib — ranks had TWO
        # consumers per round (the edge join and the left join) and the
        # round paid two exchanges (groupBy dst + join) plus the
        # coalesce-to-0 for contribution-less nodes. Union one explicit
        # 0-contribution row per node instead and fold everything into
        # ONE aggregate: sum(cb) over (contributions ∪ zeros) equals
        # coalesce(sum(cb), 0) over contributions alone, keys stay
        # exactly the node set, and the damping arithmetic is the same
        # integer expression — identical ranks, one join + one
        # aggregate per round, ranks consumed once.
        contrib = (
            edges.join(ranks, edges.src == ranks.id)
            .select("dst", F.expr("r div d").alias("cb"))
        )
        ranks = (
            nodes.select(F.col("id").alias("dst"), F.lit(0).cast("long").alias("cb"))
            .unionByName(contrib)
            .groupBy("dst")
            .agg(
                (F.lit(PR_SCALE // 8) + F.expr("(7 * sum(cb)) div 8"))
                .cast("long")
                .alias("r")
            )
            .select(F.col("dst").alias("id"), "r")
            # lazy (round 10): the next round's single job materializes
            # the round checkpoint — see basket_bfs note. 3.96→3.66 s.
            .localCheckpoint(eager=False)
        )
    return ranks.select(F.col("id").alias("l_partkey"), F.col("r").alias("pr_scaled"))


# Orientation key for triangle counting: one BIGINT packing (degree, id) —
# edges point from the lexicographically smaller (deg, id) endpoint to the
# larger, the node-iterator++ trick that bounds wedge generation by the
# graph's arboricity (a hub of degree D no longer emits D² wedges; its
# edges mostly point INTO it). Degrees here are < 10^9 and part keys
# < 10^9, so the packing is collision-free and fits a BIGINT exactly in
# both engines.
_OK = 1_000_000_000


@register(
    "triangle_count_copurchase",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    und AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY src),
    okey AS (SELECT id, d * {_OK} + id AS ok FROM deg),
    oe AS (
      SELECT e.src AS u, e.dst AS v, ks.ok AS oku, kd.ok AS okv
      FROM und e
      JOIN okey ks ON ks.id = e.src
      JOIN okey kd ON kd.id = e.dst
      WHERE ks.ok < kd.ok),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM oe e1
      JOIN oe e2 ON e2.u = e1.u AND e1.okv < e2.okv
      JOIN oe e3 ON e3.u = e1.v AND e3.v = e2.v),
    nodes AS (
      SELECT a AS l_partkey FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri)
    SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY l_partkey
    """,
    tags=("graph", "analytics", "join"),
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts in the co-purchase graph (parts that
    co-occur in an order are adjacent) — the clustering-structure
    primitive under community detection and local clustering
    coefficients.

    Degree-oriented node-iterator++: every undirected edge is directed
    from its smaller (degree, id) endpoint to the larger (packed into one
    BIGINT key), wedges are generated only at each edge's SMALL end, and
    a wedge (u→v, u→w) closes into a triangle iff the oriented edge v→w
    exists. Each triangle is found exactly once. At 100 TB this is the
    standard MapReduce triangle algorithm: wedge volume is bounded by
    O(m^1.5) regardless of degree skew — a degree-D hub emits no D²
    wedge blow-up because its edges point into it. All arithmetic is
    integer; both engines compute the identical oriented edge set, so
    the count is exact, not sampled."""
    _, counts = _copurchase_triangles(_pair_view(spark, sf_dir))
    return counts


def _copurchase_triangles(pv: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(canonical src<dst edge list, per-node triangle counts) for the
    co-purchase graph — shared by triangle_count_copurchase and
    clustering_coefficient_parts.

    Edges are CANONICAL (src < dst) — exactly the shared pair-support
    view's key set (round 10: the basket self-join is no longer re-run
    here) — and the degree orientation is a per-edge conditional FLIP
    instead of a filter, so no edge is materialized twice anywhere."""
    und = pv.select(
        F.col("s").alias("src"), F.col("d").alias("dst")
    ).localCheckpoint(eager=True)  # three consumers: deg + two okey joins
    okey = (
        und.select(F.explode(F.array("src", "dst")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
        .select("id", (F.col("d") * _OK + F.col("id")).cast("long").alias("ok"))
    )
    ks = okey.select(F.col("id").alias("src"), F.col("ok").alias("oks"))
    kd = okey.select(F.col("id").alias("dst"), F.col("ok").alias("okd"))
    flip = F.col("oks") > F.col("okd")
    oe = (
        und.join(ks, "src")
        .join(kd, "dst")
        .select(
            F.when(flip, F.col("dst")).otherwise(F.col("src")).alias("u"),
            F.when(flip, F.col("src")).otherwise(F.col("dst")).alias("v"),
            F.greatest("oks", "okd").alias("okv"),
        )
        .localCheckpoint(eager=True)  # consumed by e1, e2, e3
    )
    # Wedge-join closure. An adjacency-array alternative (per-node sorted
    # out-neighbor arrays, triangles per edge = array_intersect(N+(u),
    # N+(v))) was measured SLOWER here (9 s vs 6 s at sf0.1): per-row
    # hash-set intersection over avg-degree-60 arrays costs more than
    # shuffling the 41M wedge rows through the codegen'd hash join. The
    # wedge join also composes with AQE partition coalescing; keep it.
    # The closure joins on ONE packed bigint (b·10⁹ + c, injective for
    # ids < 10⁹ — the same domain bound _OK already relies on) instead
    # of the (b_, c_) two-column key: sorting the 41M-row wedge side by
    # a single long instead of two measured 4.9 s -> 1.6 s at sf0.1
    # (round 10; a shuffled-hash hint on either key shape was slower).
    e1 = oe.select(F.col("u"), F.col("v").alias("b_"), F.col("okv").alias("ok1"))
    e2 = oe.select(F.col("u"), F.col("v").alias("c_"), F.col("okv").alias("ok2"))
    wedges = e1.join(e2, "u").where(F.col("ok1") < F.col("ok2"))
    pack = lambda x, y: (F.col(x) * _OK + F.col(y)).cast("long")  # noqa: E731
    closer = oe.select(pack("u", "v").alias("bc"))
    tri = wedges.select(
        F.col("u").alias("a_"), "b_", "c_", pack("b_", "c_").alias("bc")
    ).join(closer, "bc")
    counts = (
        tri.select(
            F.explode(F.array(F.col("a_"), F.col("b_"), F.col("c_"))).alias("l_partkey")
        )
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return und, counts


# shared CTE prefix: identical text in both graph-triangle oracles
_TRI_CTES = f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    und AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY src),
    okey AS (SELECT id, d * {_OK} + id AS ok FROM deg),
    oe AS (
      SELECT e.src AS u, e.dst AS v, ks.ok AS oku, kd.ok AS okv
      FROM und e
      JOIN okey ks ON ks.id = e.src
      JOIN okey kd ON kd.id = e.dst
      WHERE ks.ok < kd.ok),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM oe e1
      JOIN oe e2 ON e2.u = e1.u AND e1.okv < e2.okv
      JOIN oe e3 ON e3.u = e1.v AND e3.v = e2.v),
    nodes AS (
      SELECT a AS l_partkey FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri),
    tcnt AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_triangles
             FROM nodes GROUP BY l_partkey)"""


@register(
    "clustering_coefficient_parts",
    oracle=f"""{_TRI_CTES}
    SELECT deg.id AS l_partkey, deg.d AS degree,
           CAST(coalesce(tcnt.n_triangles, 0) AS BIGINT) AS n_triangles,
           floor(2.0 * coalesce(tcnt.n_triangles, 0) / (deg.d * (deg.d - 1))
                 * 1000000.0 + 0.5) / 1000000.0 AS lcc
    FROM deg LEFT JOIN tcnt ON tcnt.l_partkey = deg.id
    WHERE deg.d >= 2
    """,
    tags=("graph", "analytics"),
)
def clustering_coefficient_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per part: lcc = 2·T / (d·(d−1)) — how
    close each node's neighborhood is to a clique, the per-node community
    signal on top of the exact triangle counts. Nodes of degree < 2 have
    no defined coefficient and are excluded; triangle-free nodes get 0.

    T and d are the same exact integers both engines derive; the single
    double division is the identical IEEE expression, rounded to 6 dp —
    the copurchase_lift discipline. Cost is the triangle pipeline plus
    one broadcast-sized left join of the degree table against the
    triangle counts."""
    und, counts = _copurchase_triangles(_pair_view(spark, sf_dir))
    # canonical (src < dst) edges: a node's degree counts it at EITHER end
    deg = (
        und.select(F.explode(F.array("src", "dst")).alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    from streamprocessing_spark.functions.text import portable_round

    t = F.coalesce(F.col("n_triangles"), F.lit(0))
    return (
        deg.where(F.col("degree") >= 2)
        .join(counts, "l_partkey", "left")
        .select(
            "l_partkey",
            "degree",
            t.cast("long").alias("n_triangles"),
            portable_round(
                F.lit(2.0) * t / (F.col("degree") * (F.col("degree") - 1)), 6
            ).alias("lcc"),
        )
    )


KCORE_K = 64     # peel threshold: below every SF's median co-purchase degree
KCORE_ROUNDS = 5  # fixpoint observed in <= 3 rounds at sf0.001/0.01/0.1


def _sql_kcore_round(prev: str, out: str) -> str:
    """One peeling round in DuckDB SQL: recompute degrees over the
    surviving canonical edge set, keep nodes with degree >= K, keep edges
    whose BOTH endpoints survive. MATERIALIZED is load-bearing: each
    round's CTE is referenced three times and DuckDB would otherwise
    inline it per reference (2^rounds blowup)."""
    return f"""
    deg_{out} AS MATERIALIZED (
      SELECT id, count(*) AS d
      FROM (SELECT src AS id FROM {prev} UNION ALL SELECT dst FROM {prev}) t
      GROUP BY id),
    keep_{out} AS MATERIALIZED (SELECT id FROM deg_{out} WHERE d >= {KCORE_K}),
    {out} AS MATERIALIZED (
      SELECT e.src, e.dst FROM {prev} e
      JOIN keep_{out} a ON a.id = e.src
      JOIN keep_{out} b ON b.id = e.dst)"""


@register(
    "kcore_parts",
    oracle=f"""
    WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    {_sql_kcore_round('e0', 'e1')},
    {_sql_kcore_round('e1', 'e2')},
    {_sql_kcore_round('e2', 'e3')},
    {_sql_kcore_round('e3', 'e4')},
    {_sql_kcore_round('e4', 'e5')}
    SELECT id AS l_partkey, CAST(d AS BIGINT) AS core_degree
    FROM (SELECT id, count(*) AS d
          FROM (SELECT src AS id FROM e5 UNION ALL SELECT dst FROM e5) t
          GROUP BY id)
    WHERE d >= {KCORE_K}
    """,
    tags=("graph", "iterative"),
)
def kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core (K=KCORE_K=64) decomposition of the co-purchase graph: iteratively
    peel nodes of degree < K until a fixpoint; output the surviving
    (dense-community) nodes with their within-core degree. The k-core is
    the standard "dense backbone" primitive for community detection and
    graph cleaning — and the canonical ITERATIVE-UNTIL-FIXPOINT workload
    (vs PageRank's fixed iterations and BFS's bounded hops).

    Parity under early exit: the Spark loop runs at most KCORE_ROUNDS
    peels, stopping as soon as a round removes no edge; the oracle
    unrolls exactly KCORE_ROUNDS. Once stable, further peels are no-ops,
    so both engines reach the identical edge set whether or not the loop
    exits early — equality holds even if the fixpoint needed MORE rounds
    (both engines would stop at the same non-fixpoint round).

    Scale shape per round: one degree aggregation (explode both ends,
    hash agg) + one double semi-join of edges against survivors — all
    shuffles on the node id, partitioning reused round to round;
    localCheckpoint truncates lineage exactly as in the other iterative
    ops. The per-round edge-count collect is the 1-row convergence check
    the driver is allowed (house rule). A degree-D hub costs D rows in
    the degree agg, never D² — no skew blowup."""
    # canonical edges = the shared pair view's key set (round 10)
    edges = _pair_view(spark, sf_dir).select(
        F.col("s").alias("src"), F.col("d").alias("dst")
    ).localCheckpoint(eager=True)
    n_edges = edges.count()
    for _ in range(KCORE_ROUNDS):
        if n_edges == 0:
            break
        deg = (
            edges.select(F.explode(F.array("src", "dst")).alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.where(F.col("d") >= KCORE_K).select("id")
        pruned = (
            edges.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select("src", "dst")
            # lazy (round 10): the convergence count() right below is
            # the materializing action — eager ran a second, internal
            # count job per peel. See basket_bfs note.
            .localCheckpoint(eager=False)
        )
        n_pruned = pruned.count()
        edges = pruned
        if n_pruned == n_edges:  # fixpoint: a peel removed nothing
            break
        n_edges = n_pruned
    final_deg = (
        edges.select(F.explode(F.array("src", "dst")).alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .where(F.col("core_degree") >= KCORE_K)
    )
    return final_deg


LP_SUPPORT = 2  # sparsify: keep co-purchase edges with >= 2 shared orders
LP_ROUNDS = 3   # fixed synchronous rounds (deterministic, oracle-unrolled)


def _sql_lp_round(prev: str, out: str) -> str:
    """One synchronous label-propagation round in DuckDB SQL over CTE
    `ed` (symmetric edges): each node adopts the most frequent label
    among its neighbors, ties broken by the SMALLEST label — the same
    (count DESC, label ASC) row_number the Spark loop runs."""
    return f"""
    {out} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT e.dst AS node, l.label, count(*) AS c,
               row_number() OVER (PARTITION BY e.dst
                                  ORDER BY count(*) DESC, l.label) AS rn
        FROM ed e JOIN {prev} l ON l.node = e.src
        GROUP BY e.dst, l.label)
      WHERE rn = 1)"""


# The label-propagation CTE chain (sparsified edges e/ed + unrolled
# rounds, final labels in l{LP_ROUNDS}) is shared with the modularity
# audit's oracle.
_LP_CTES = f"""op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    sup AS MATERIALIZED (
      SELECT a.l_partkey AS s, b.l_partkey AS d, count(*) AS n
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    e AS MATERIALIZED (SELECT s, d FROM sup WHERE n >= {LP_SUPPORT}),
    ed AS MATERIALIZED (SELECT s AS src, d AS dst FROM e
                        UNION ALL SELECT d, s FROM e),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM ed),
    {",".join(_sql_lp_round(f'l{r}', f'l{r + 1}') for r in range(LP_ROUNDS))}"""


@register(
    "label_prop_communities",
    oracle=f"""
    WITH {_LP_CTES}
    SELECT node AS l_partkey, CAST(label AS BIGINT) AS community
    FROM l{LP_ROUNDS}
    """,
    tags=("graph", "iterative"),
)
def label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    support-sparsified co-purchase graph (edges = part pairs sharing ≥
    LP_SUPPORT orders — raw co-purchase is near-complete and would
    collapse to one community). Labels start as node ids; each of
    LP_ROUNDS rounds every node adopts its neighborhood's most frequent
    label with the (count DESC, label ASC) deterministic tiebreak —
    classic LPA (Raghavan et al. 2007) made reproducible, where the
    textbook random-order variant isn't.

    Shape per round: one join of the (symmetric) edge list against the
    label table on the source node + one two-level aggregation — the
    PageRank cost profile, partitioning on the node id reused across
    rounds, lineage truncated per round. Fixed rounds ⇒ no convergence
    collect at all; the oracle unrolls the identical rounds."""
    # support-thresholded slice of the shared pair view (round 10)
    e = _pair_view(spark, sf_dir).where(F.col("n") >= LP_SUPPORT).select("s", "d")
    ed = (
        e.select(F.col("s").alias("src"), F.col("d").alias("dst"))
        .unionByName(e.select(F.col("d").alias("src"), F.col("s").alias("dst")))
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    lab = ed.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(LP_ROUNDS):
        # round 11 (guide §2.4): the adopt step is an ARGMAX, not a
        # ranking — max_by(label, struct(c, -label)) picks the label
        # with the highest count, smallest label on ties, exactly the
        # (count DESC, label ASC) row_number()=1 the window computed
        # ((c, -label) is unique per node since (node, label) is the
        # first aggregation's key). The window's per-round full sort of
        # the (node, label, c) relation is replaced by a hash aggregate
        # with map-side partial max_by, and the rn filter disappears.
        lab = (
            ed.join(lab, ed.src == lab.node, "inner")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("node")
            .agg(F.expr("max_by(label, struct(c, -label))").alias("label"))
            # lazy (round 10) — see basket_bfs note. 2.05→1.81 s.
            .localCheckpoint(eager=False)
        )
    return lab.select(
        F.col("node").alias("l_partkey"), F.col("label").cast("long").alias("community")
    )


SSSP_ROUNDS = 4  # Bellman-Ford relaxation rounds (paths of <= 4 edges)


def _sql_sssp_round(prev: str, out: str) -> str:
    """One Bellman-Ford relaxation round in DuckDB SQL over CTE `ed`
    (symmetric weighted edges): keep the old distance, add every
    one-edge extension, take the min per node — exactly the Spark
    round's union + min-aggregate."""
    return f"""
    {out} AS MATERIALIZED (
      SELECT id, min(dist) AS dist FROM (
        SELECT id, dist FROM {prev}
        UNION ALL
        SELECT e.dst AS id, p.dist + e.w AS dist
        FROM {prev} p JOIN ed e ON e.src = p.id)
      GROUP BY id)"""


@register(
    "sssp_weighted_parts",
    oracle=f"""
    WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    ed AS MATERIALIZED (
      SELECT s AS src, d AS dst, 1 + (s + d) % 9 AS w FROM e
      UNION ALL
      SELECT d, s, 1 + (s + d) % 9 FROM e),
    d0 AS MATERIALIZED (SELECT min(l_partkey) AS id, 0 AS dist FROM op),
    {",".join(_sql_sssp_round(f'd{r}', f'd{r + 1}') for r in range(SSSP_ROUNDS))}
    SELECT id AS l_partkey, CAST(dist AS BIGINT) AS dist
    FROM d{SSSP_ROUNDS}
    """,
    tags=("graph", "iterative"),
)
def sssp_weighted_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest path over the WEIGHTED co-purchase graph:
    SSSP_ROUNDS synchronous Bellman-Ford relaxations from the lowest
    part key — min cost over paths of <= SSSP_ROUNDS edges, the Pregel
    SSSP workload (vs BFS's unweighted min-HOP in basket_bfs_part_hops).
    Edge weights are deterministic integers 1 + (src + dst) % 9,
    symmetric by construction, so both engines build the identical graph.

    Fixed rounds keep the result well-defined whether or not the true
    shortest paths have converged (kcore_parts' parity argument); the
    oracle unrolls the same rounds. Shape per round: one shuffle join of
    the tentative-distance table against the edge list on the node id +
    one min-aggregate — O(edges) per round, partitioning reused, no
    driver collect at all, lineage truncated per round. Unlike BFS's
    visited-set anti-join, relaxation must REVISIT nodes (a longer-hop
    path may be cheaper), which is why the union + min shape is the
    correct primitive."""
    op = _op_view(spark, sf_dir)
    # canonical distinct pairs = the shared pair view's keys (round 10)
    e = _pair_view(spark, sf_dir).select("s", "d")
    w = F.lit(1) + (F.col("s") + F.col("d")) % F.lit(9)
    # Round 11 (guide §1.2, VERDICT r10 item #4): zero-weight SELF-LOOPS
    # on every node fold the old per-round ``dist ∪ relax(dist)`` union
    # into the relaxation join itself — min(dist(v), min_u dist(u)+w) is
    # exactly the min over the self-loop-extended edge set, integer min
    # being associative. The payoff is that each round's distance table
    # now has ONE consumer (the next round's join) instead of two (the
    # join AND the union), so nothing is evaluated twice between
    # checkpoints and each round is one join + one aggregate, not one
    # join + one union + one aggregate. Self-loops are node-sized
    # against an edge-sized relation; built once into the same eager
    # checkpoint the loop already paid for.
    ed = (
        e.select(F.col("s").alias("src"), F.col("d").alias("dst"), w.alias("w"))
        .unionByName(e.select(F.col("d").alias("src"), F.col("s").alias("dst"), w.alias("w")))
        .unionByName(
            op.select(F.col("l_partkey").alias("src"))
            .distinct()
            .select("src", F.col("src").alias("dst"), F.lit(0).alias("w"))
        )
        # the SEED's own self-loop, as a separate 1-row union branch: on
        # an EMPTY graph the seed aggregate is (NULL, 0) — the row the
        # old union formulation carried through every round — and only
        # a (NULL, NULL, 0) loop row plus the null-safe join below keeps
        # it alive. On non-empty data this duplicates one node
        # self-loop, which the min-aggregate ignores.
        .unionByName(
            op.agg(F.min("l_partkey").alias("src")).select(
                "src", F.col("src").alias("dst"), F.lit(0).alias("w")
            )
        )
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    dist = op.agg(F.min("l_partkey").alias("id")).withColumn("dist", F.lit(0))
    for _ in range(SSSP_ROUNDS):
        dist = (
            ed.join(dist, ed.src.eqNullSafe(dist.id))
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            # lazy (round 10) — see basket_bfs note. 5.83→5.36 s.
            .localCheckpoint(eager=False)
        )
    return dist.select(
        F.col("id").alias("l_partkey"), F.col("dist").cast("long").alias("dist")
    )


KNN_EDGES = 8  # per-node strongest co-purchase edges kept (kNN graph)


@register(
    "link_prediction_jaccard",
    oracle=f"""
    WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    sup AS MATERIALIZED (
      SELECT a.l_partkey AS s, b.l_partkey AS d, count(*) AS n
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2),
    knn AS MATERIALIZED (
      SELECT s, d FROM (
        SELECT s, d, row_number() OVER (PARTITION BY s ORDER BY n DESC, d) AS rk
        FROM sup)
      WHERE rk <= {KNN_EDGES}),
    e AS MATERIALIZED (
      SELECT DISTINCT least(s, d) AS s, greatest(s, d) AS d FROM knn),
    ed AS MATERIALIZED (SELECT s AS src, d AS dst FROM e
                        UNION ALL SELECT d, s FROM e),
    deg AS (SELECT src AS id, count(*) AS dg FROM ed GROUP BY 1),
    wedge AS (
      SELECT a.dst AS u, b.dst AS v, count(*) AS common
      FROM ed a JOIN ed b ON a.src = b.src AND a.dst < b.dst
      GROUP BY 1, 2),
    nonedge AS (
      SELECT w.u, w.v, w.common FROM wedge w
      LEFT JOIN e ON e.s = w.u AND e.d = w.v
      WHERE e.s IS NULL)
    SELECT ne.u AS part_a, ne.v AS part_b,
           CAST(ne.common AS BIGINT) AS n_common,
           CAST(da.dg + db.dg - ne.common AS BIGINT) AS n_union,
           CAST((1000000 * ne.common) // (da.dg + db.dg - ne.common) AS BIGINT) AS jaccard_micro
    FROM nonedge ne
    JOIN deg da ON da.id = ne.u
    JOIN deg db ON db.id = ne.v
    WHERE ne.common >= 2
    """,
    tags=("graph", "statistics", "llm-pipeline"),
)
def link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard (Liben-Nowell & Kleinberg
    2003) over the kNN-SPARSIFIED co-purchase graph: each part keeps
    its KNN_EDGES strongest co-purchase neighbors (per-node top-k — a
    PARTITIONED window, and the degree-bounded graph every similarity-
    graph system builds; an absolute support threshold saturates as
    data grows — measured: the support>=2 graph leaves ZERO non-edge
    candidates at sf0.1), then scores unconnected pairs sharing >= 2
    neighbors with exact |N(a) cap N(b)| / |N(a) cup N(b)| — the
    recommendation-candidate generator. Wedge self-join through the
    shared neighbor bounds candidates exactly like triangle counting;
    the anti-join removes existing edges so the output is genuinely
    predictive; degrees broadcast back for the union term."""
    # the <> support relation is the symmetric closure of the shared
    # canonical pair view — counts are direction-independent (round 10)
    pv = _pair_view(spark, sf_dir)
    sup = pv.unionByName(
        pv.select(F.col("d").alias("s"), F.col("s").alias("d"), "n")
    )
    # Round 11 (guide §2.4, VERDICT r10 item #5): the kNN cut is a
    # per-source TOP-K, not a ranking — the row_number window paid one
    # exchange on s plus a FULL sort of the symmetric support relation
    # (the query's dominant cost, builder-measured in round 10). One
    # hash aggregate collects each source's neighbors and slices the 8
    # smallest (-n, d) structs: ascending struct order is exactly the
    # window's (n DESC, d ASC), and (s, d) is unique so the cut is
    # deterministic — the kept (s, d) set is identical. Hub sources
    # hold their neighbor list in one array during the aggregate; at
    # 100 TB a degree-D hub costs one D-element array per aggregation
    # task (bounded by per-task memory exactly like the window's
    # per-partition sort run, minus the disk-spill path — split hub
    # sources into hash ranges first if a single neighbor list
    # outgrows a task).
    knn = (
        sup.select(
            "s", F.struct((-F.col("n")).alias("nn"), F.col("d").alias("d")).alias("t")
        )
        .groupBy("s")
        .agg(
            F.slice(F.array_sort(F.collect_list("t")), 1, KNN_EDGES).alias("top")
        )
        .select("s", F.explode("top").alias("t"))
        .select("s", F.col("t.d").alias("d"))
    )
    e = (
        knn.select(
            F.least("s", "d").alias("s"), F.greatest("s", "d").alias("d")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    ed = e.select(F.col("s").alias("src"), F.col("d").alias("dst")).unionByName(
        e.select(F.col("d").alias("src"), F.col("s").alias("dst"))
    )
    deg = ed.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("dg"))
    wa, wb = ed.alias("wa"), ed.alias("wb")
    wedge = (
        wa.join(
            wb,
            (F.col("wa.src") == F.col("wb.src")) & (F.col("wa.dst") < F.col("wb.dst")),
        )
        .groupBy(F.col("wa.dst").alias("u"), F.col("wb.dst").alias("v"))
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= 2)
    )
    nonedge = wedge.join(
        e, (e.s == wedge.u) & (e.d == wedge.v), "left_anti"
    )
    da = deg.select(F.col("id").alias("u"), F.col("dg").alias("da"))
    db = deg.select(F.col("id").alias("v"), F.col("dg").alias("db"))
    return (
        nonedge.join(F.broadcast(da), "u")
        .join(F.broadcast(db), "v")
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            F.col("common").cast("long").alias("n_common"),
            (F.col("da") + F.col("db") - F.col("common")).cast("long").alias("n_union"),
            F.expr("CAST((1000000 * common) div (da + db - common) AS BIGINT)").alias("jaccard_micro"),
        )
    )


@register(
    "degree_assortativity_parts",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS p_a, b.l_partkey AS p_b
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {MIN_SUPPORT}),
    dir_e AS (
      SELECT p_a AS u, p_b AS v FROM pairs
      UNION ALL
      SELECT p_b AS u, p_a AS v FROM pairs),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM dir_e GROUP BY 1),
    inst AS (
      SELECT du.d AS x, dv.d AS y
      FROM dir_e e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS m2,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(x * y) AS HUGEINT) AS sxy,
             CAST(sum(x * x) AS HUGEINT) AS sxx
      FROM inst)
    SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
           CAST(CASE WHEN m2 * sxy - sx * sx >= 0
                THEN (1000 * (m2 * sxy - sx * sx)) // (m2 * sxx - sx * sx)
                ELSE -((1000 * (sx * sx - m2 * sxy)) // (m2 * sxx - sx * sx))
                END AS BIGINT) AS assortativity_milli
    FROM s WHERE m2 * sxx - sx * sx > 0
    """,
    tags=("graph", "statistics", "analytics"),
)
def degree_assortativity_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree ASSORTATIVITY of the co-purchase support graph (Newman
    2002): the Pearson correlation of endpoint degrees over all edge
    instances (each undirected edge counted in both directions, making
    Σx = Σy and collapsing the formula to (M·Σxy − Σx²ᵀ)/(M·Σx² − Σxᵀ²)).
    Positive ⇒ hub parts co-purchase with other hubs (bundle cores);
    negative ⇒ hub-and-spoke catalogs — the one-row topology datasheet
    read next to the triangle count and k-core numbers before picking
    graph-partitioning strategy.

    Exact end to end: degrees and all four moments are integer sums
    (HUGEINT/DECIMAL38 products), with the single signed division
    truncation-split exactly as zipf_law_audit. Scale shape: the edge
    build is the shared-view support join every graph query pays; the
    degree join keys on node (vertex-dimension); the moments fold in one
    map-side-combinable aggregate. No windows, no collects."""
    # support-thresholded slice of the shared pair view (round 10) —
    # three consumers (degree build, both instance-join sides) read the
    # session cache, so no checkpoint copy is needed
    pairs = (
        _pair_view(spark, sf_dir)
        .filter(F.col("n") >= MIN_SUPPORT)
        .select(F.col("s").alias("p_a"), F.col("d").alias("p_b"))
    )
    dir_e = pairs.select(F.col("p_a").alias("u"), F.col("p_b").alias("v")).unionAll(
        pairs.select(F.col("p_b").alias("u"), F.col("p_a").alias("v"))
    )
    deg = dir_e.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    inst = (
        dir_e.join(deg.select(F.col("node").alias("u"), F.col("d").alias("x")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("y")), "v")
        .select("x", "y")
    )
    dec = "DECIMAL(38,0)"
    s = inst.agg(
        F.expr(f"CAST(count(*) AS {dec})").alias("m2"),
        F.expr(f"CAST(sum(x) AS {dec})").alias("sx"),
        F.expr(f"CAST(sum(x * y) AS {dec})").alias("sxy"),
        F.expr(f"CAST(sum(x * x) AS {dec})").alias("sxx"),
    )
    return s.where(F.expr("m2 * sxx - sx * sx > 0")).select(
        F.expr("CAST(m2 div 2 AS BIGINT)").alias("n_edges"),
        F.expr(
            "CAST(CASE WHEN m2 * sxy - sx * sx >= 0"
            " THEN (1000 * (m2 * sxy - sx * sx)) div (m2 * sxx - sx * sx)"
            " ELSE -((1000 * (sx * sx - m2 * sxy)) div (m2 * sxx - sx * sx))"
            " END AS BIGINT)"
        ).alias("assortativity_milli"),
    )


@register(
    "modularity_communities",
    oracle=f"""
    WITH {_LP_CTES},
    lab AS (SELECT node, label FROM l{LP_ROUNDS}),
    m AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e),
    inn AS (
      SELECT la.label AS community, count(*) AS in_edges
      FROM e JOIN lab la ON la.node = e.s
             JOIN lab lb ON lb.node = e.d
      WHERE la.label = lb.label GROUP BY 1),
    deg AS (SELECT src AS node, count(*) AS d FROM ed GROUP BY 1),
    tot AS (
      SELECT lab.label AS community,
             count(*) AS n_nodes,
             CAST(sum(deg.d) AS HUGEINT) AS tot_deg
      FROM lab JOIN deg ON deg.node = lab.node GROUP BY 1),
    contrib AS (
      SELECT t.community, t.n_nodes,
             COALESCE(i.in_edges, 0) AS in_edges, t.tot_deg,
             4 * m.m * COALESCE(i.in_edges, 0) - t.tot_deg * t.tot_deg AS c
      FROM tot t LEFT JOIN inn i ON i.community = t.community CROSS JOIN m),
    q AS (SELECT sum(c) AS cs FROM contrib)
    SELECT contrib.community, CAST(contrib.n_nodes AS BIGINT) AS n_nodes,
           CAST(contrib.in_edges AS BIGINT) AS in_edges,
           CAST(contrib.tot_deg AS BIGINT) AS tot_deg,
           CAST(contrib.c AS BIGINT) AS contrib_4m2,
           CAST((1000000 * q.cs) // (4 * m.m * m.m) AS BIGINT) AS q_micro
    FROM contrib CROSS JOIN q CROSS JOIN m
    """,
    tags=("graph", "statistics"),
)
def modularity_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the label-propagation partition on the
    same LP_SUPPORT-sparsified co-purchase graph — the standard "is this
    community structure better than chance" audit (Q > 0.3 reads as
    strong structure; ≈ 0 means LPA found nothing): per community the
    internal edge count and total degree, plus
    Q = Σ_c [in_c/m − (tot_c/2m)²] as one exact integer.

    Exactness: multiply through by 4m² — contrib_4m2 = 4m·in_c − tot_c²
    and q_micro = (10⁶·Σ contribs) div (4m²), so no fraction ever forms
    (q_micro can be negative for anti-community partitions; both
    engines truncate identically). 38-digit integers since tot_c² and
    4m² reach ~4m² past BIGINT once m > ~1.5e9 edges. The labels are
    the REGISTERED label_prop_communities result (shared unrolled-CTE
    chain on the oracle side, shared Spark loop on this side), so this
    audit certifies the partition the user actually gets.

    Scale shape: beyond the LPA rounds themselves, two label joins on
    the edge list (partitioned by node id like every LPA round) and
    community-sized everything after — the m scalar broadcasts."""
    # support-thresholded slice of the shared pair view (round 10);
    # feeds m, in-edges AND degrees — all straight off the session cache
    e = _pair_view(spark, sf_dir).where(F.col("n") >= LP_SUPPORT).select("s", "d")
    lab = label_prop_communities(spark, sf_dir).select(
        F.col("l_partkey").alias("node"), F.col("community").alias("label")
    ).localCheckpoint(eager=True)  # node-sized; joined three times
    dec = "DECIMAL(38,0)"
    m = e.agg(F.expr(f"CAST(count(*) AS {dec})").alias("m"))
    la = lab.select(F.col("node").alias("s"), F.col("label").alias("la"))
    lb = lab.select(F.col("node").alias("d"), F.col("label").alias("lb"))
    inn = (
        e.join(la, "s")
        .join(lb, "d")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count(F.lit(1)).alias("in_edges"))
    )
    ed = e.select(F.col("s").alias("node")).unionByName(
        e.select(F.col("d").alias("node"))
    )
    deg = ed.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    tot = (
        lab.join(deg, "node")
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.expr(f"CAST(sum(d) AS {dec})").alias("tot_deg"),
        )
    )
    contrib = (
        tot.join(inn, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            F.coalesce("in_edges", F.lit(0)).alias("in_edges"),
            "tot_deg",
            F.expr(
                "4 * m * COALESCE(in_edges, 0) - tot_deg * tot_deg"
            ).alias("c"),
            "m",
        )
        .localCheckpoint(eager=True)  # community-sized; feeds Q and output
    )
    q = contrib.agg(F.sum("c").alias("cs"))
    return contrib.crossJoin(F.broadcast(q)).select(
        F.col("community").cast("long").alias("community"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("in_edges").cast("long").alias("in_edges"),
        F.col("tot_deg").cast("long").alias("tot_deg"),
        F.col("c").cast("long").alias("contrib_4m2"),
        F.expr("CAST((1000000 * cs) div (4 * m * m) AS BIGINT)").alias("q_micro"),
    )


HITS_TOP = 20  # authorities reported


@register(
    "hits_part_authorities",
    oracle=f"""
    WITH cp AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    h1 AS (SELECT c, CAST(count(*) AS HUGEINT) AS h FROM cp GROUP BY 1),
    a1 AS (SELECT cp.p, sum(h1.h) AS a FROM cp JOIN h1 USING (c) GROUP BY 1),
    h2 AS (SELECT cp.c, sum(a1.a) AS h FROM cp JOIN a1 USING (p) GROUP BY 1),
    a2 AS (SELECT cp.p, sum(h2.h) AS a FROM cp JOIN h2 USING (c) GROUP BY 1)
    SELECT a2.p AS l_partkey,
           CAST(a1.a AS BIGINT) AS auth_round1,
           CAST(a2.a AS BIGINT) AS auth_round2
    FROM a2 JOIN a1 USING (p)
    ORDER BY a2.a DESC, a2.p LIMIT {HITS_TOP}
    """,
    tags=("graph", "iterative", "ranking"),
)
def hits_part_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) on the bipartite
    customer→part purchase graph: hubs are customers (broad buyers),
    authorities are parts (bought by strong hubs) — the mutual-
    reinforcement ranking PageRank can't express on a bipartite
    relation. Two unrolled iterations h=Σa, a=Σh from a₀=1, reported
    UNNORMALIZED: skipping the classical per-round norm keeps every
    score an exact integer (normalization only rescales, so the RANKING
    is identical) — the same trick as the integer-exact PageRank. Both
    rounds emitted so the audit shows rank movement between degree
    ordering (round 1 ≈ weighted degree) and the converged order.

    Scale shape: each half-round is one join of the edge list against a
    node-sized score table + one map-side-combinable sum — the PageRank
    cost profile on alternating sides of the bipartition. Scores in
    38-digit integers (a₂ ~ degree³ products overflow BIGINT on
    power-law graphs at ~1e6 degrees). Top-{HITS_TOP} via
    TakeOrdered (no global sort), unique-key tiebreak."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        # repartition BEFORE the distinct (round 11, the graphop subset
        # rule): hash partitioning on c satisfies the (c, p) grouping,
        # so the distinct adds no second exchange — the old
        # distinct-then-repartition shape shuffled the edge relation
        # twice ((c, p) exchange, then c exchange). Same set either way.
        .repartition("c")
        .distinct()
        .localCheckpoint(eager=True)  # the graph: four traversals below
    )
    dec = "DECIMAL(38,0)"
    h1 = cp.groupBy("c").agg(F.expr(f"CAST(count(*) AS {dec})").alias("h"))
    a1 = (
        cp.join(h1, "c")
        .groupBy("p")
        .agg(F.sum("h").alias("a"))
        .localCheckpoint(eager=True)  # part-sized; feeds h2 AND the output join
    )
    h2 = cp.join(a1, "p").groupBy("c").agg(F.sum("a").alias("h"))
    a2 = cp.join(h2, "c").groupBy("p").agg(F.sum("h").alias("a2"))
    return (
        a2.join(a1.select("p", F.col("a").alias("a1")), "p")
        .select(
            F.col("p").alias("l_partkey"),
            F.col("a1").cast("long").alias("auth_round1"),
            F.col("a2").cast("long").alias("auth_round2"),
        )
        .orderBy(F.desc("auth_round2"), F.asc("l_partkey"))
        .limit(HITS_TOP)
    )


TRIPLE_SUPPORT = 2  # orders containing all three parts


@register(
    "frequent_triples_apriori",
    oracle=f"""
    WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    fp AS MATERIALIZED (
      SELECT a.l_partkey AS x, b.l_partkey AS y
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {TRIPLE_SUPPORT}),
    tri AS (
      SELECT a.l_partkey AS p_a, b.l_partkey AS p_b, c.l_partkey AS p_c,
             count(*) AS n_abc
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      JOIN op c ON a.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
      JOIN fp ab ON ab.x = a.l_partkey AND ab.y = b.l_partkey
      JOIN fp bc ON bc.x = b.l_partkey AND bc.y = c.l_partkey
      JOIN fp ac ON ac.x = a.l_partkey AND ac.y = c.l_partkey
      GROUP BY 1, 2, 3)
    SELECT p_a, p_b, p_c, CAST(n_abc AS BIGINT) AS n_abc
    FROM tri WHERE n_abc >= {TRIPLE_SUPPORT}
    """,
    tags=("graph", "analytics", "join"),
)
def frequent_triples_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part TRIPLES (support ≥ {TRIPLE_SUPPORT} orders) with the
    Apriori anti-monotone prune (Agrawal-Srikant 1994): a triple can only
    be frequent if ALL THREE of its pairs are, so the size-3 candidate
    join runs against the frequent-PAIR table, not the raw basket
    expansion — the prune that makes level-wise itemset mining survive
    scale (the unpruned 3-way self-join is O(orders·basket³); the pruned
    form touches only extensions of already-frequent pairs, and frequent
    pairs are the heavy-tail sliver of all pairs).

    All exact integer counts. The three pair-membership probes are
    semijoin-shaped (broadcast-able: the frequent-pair table is the
    sliver) on top of the same order-keyed basket self-join every graph
    operator here uses; the canonical a<b<c ordering emits each triple
    once. Scale shape: one orderkey-partitioned 3-leg join (legs share
    the exchange), then a map-side-combinable count over (a,b,c)."""
    op = _op_view(spark, sf_dir)
    a, b, c = op.alias("a"), op.alias("b"), op.alias("c")
    # frequent-pair sliver = support-thresholded shared pair view
    # (round 10); probed three times straight off the session cache
    fp = (
        _pair_view(spark, sf_dir)
        .where(F.col("n") >= TRIPLE_SUPPORT)
        .select(F.col("s").alias("x"), F.col("d").alias("y"))
    )
    tri = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("b.l_partkey") < F.col("c.l_partkey")),
        )
        .join(
            F.broadcast(fp.select(F.col("x").alias("ab_x"), F.col("y").alias("ab_y"))),
            (F.col("a.l_partkey") == F.col("ab_x")) & (F.col("b.l_partkey") == F.col("ab_y")),
        )
        .join(
            F.broadcast(fp.select(F.col("x").alias("bc_x"), F.col("y").alias("bc_y"))),
            (F.col("b.l_partkey") == F.col("bc_x")) & (F.col("c.l_partkey") == F.col("bc_y")),
        )
        .join(
            F.broadcast(fp.select(F.col("x").alias("ac_x"), F.col("y").alias("ac_y"))),
            (F.col("a.l_partkey") == F.col("ac_x")) & (F.col("c.l_partkey") == F.col("ac_y")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p_a"),
            F.col("b.l_partkey").alias("p_b"),
            F.col("c.l_partkey").alias("p_c"),
        )
        .agg(F.count(F.lit(1)).alias("n_abc"))
        .where(F.col("n_abc") >= TRIPLE_SUPPORT)
    )
    return tri.select("p_a", "p_b", "p_c", F.col("n_abc").cast("long").alias("n_abc"))
