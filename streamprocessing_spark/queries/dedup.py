"""Deduplication queries over the documents table (north-star extension).

The sf0.01 corpus has ~25 injected near-duplicate pairs (word-3-gram
Jaccard ≥ 0.9) over a ~0.02 background — thresholds below cut cleanly
between the two populations, so the LSH tiers' verified output equals the
brute-force oracles exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamprocessing_spark.functions import text as T
from streamprocessing_spark.operators import dedup as D
from streamprocessing_spark.registry import register
from streamprocessing_spark.shared_views import shared_view
from streamprocessing_spark.sources.readers import load_table

JACCARD_THRESHOLD = 0.8


def _pairs_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified MinHash-LSH pair set (id_a, id_b, jaccard) over the
    full corpus, materialized once per (session, sf_dir) — six registered
    queries compose this exact relation (the pair tier itself, the
    canonical keep-set, leakage/tier-agreement audits, the cluster
    histogram, the end-to-end manifest) and Catalyst does not CSE across
    query invocations, so sharing it turns five cascade re-runs into one
    build (measured ~35 s → ~8 s of the sf0.01 gate).

    Round 7 (VERDICT r06 item #1): the builder is the COUNT-SCALED
    candidate stage (shingle → r(n)·b(r) minhashes → scaled band buckets
    → bucket self-join → exact verify; operators/dedup.py
    minhash_lsh_pairs_scaled) — so every cascade consumer inherits the
    ~linear candidate law (SCALEBENCH fitted exponent 0.644 over two
    decades) instead of the frozen 16×4 tier's ×20.4-at-10× growth. The
    metadata count that derives (r, b) runs once per (session, sf_dir),
    amortized inside this memoized build. Every consumer oracle embeds
    sql_minhash_lsh_scaled, which re-derives the same (r, b) from its
    own count — bit-exact at every corpus size. The frozen tier remains
    registered standalone (dedup_minhash_lsh) as the measured baseline.
    See shared_views for the cache/staleness contract."""

    def _build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        return D.minhash_lsh_pairs_scaled(
            d, "doc_id", "text", JACCARD_THRESHOLD, d.count()
        )

    return shared_view(spark, "mhpairs", sf_dir, _build)


def _simhash_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming≤3 pair set, shared by the simhash tier and the
    cross-tier agreement audit."""
    return shared_view(
        spark,
        "shpairs",
        sf_dir,
        lambda: D.simhash_pairs(
            load_table(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3
        ),
    )


def _components_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the MinHash pair graph — the dup-cluster
    map (id, component) shared by the keep-set, the cluster histogram and
    the curation manifest. Builds from the shared pair view, so the
    star-contraction rounds and the pair pipeline each run once per
    (session, sf_dir)."""
    return shared_view(
        spark,
        "mhcomp",
        sf_dir,
        lambda: D.connected_components(_pairs_view(spark, sf_dir)),
    )


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           min(doc_id) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    tags=("dedup", "llm-pipeline"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by normalized-content fingerprint, keep the
    smallest doc_id. The shuffle key is the 16-byte md5, not the document —
    at 100 TB the text never moves, only (fp, id) pairs."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(T.fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "dedup_ngram_jaccard",
    oracle=D.sql_exact_jaccard(JACCARD_THRESHOLD),
    tags=("dedup", "llm-pipeline", "baseline-fixed-scale"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs word-3-gram Jaccard ≥ 0.8 — the near-dup
    correctness baseline (quadratic in shingle-bucket size; LSH below is
    the scale path)."""
    d = load_table(spark, sf_dir, "documents")
    return D.exact_jaccard_pairs(d, "doc_id", "text", JACCARD_THRESHOLD)


@register(
    "dedup_minhash_lsh",
    oracle=D.sql_minhash_lsh(JACCARD_THRESHOLD),
    tags=("dedup", "llm-pipeline", "lsh", "baseline-fixed-scale"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(16×4) near-dup pairs, exact-Jaccard-verified.
    The oracle replicates the identical portable hash arithmetic in SQL,
    so this approximate operator is still bit-for-bit checked.

    FROZEN 16×4 banding: candidate volume grows superlinearly with the
    corpus (SCALEBENCH ×20.4 at the 10× proxy) — superseded by
    dedup_minhash_lsh_scaled (count-scaled r(n), recall-held b(r)) for
    production corpora; this tier stays registered as the comparison
    baseline the scale curves are measured against. Since round 7 the
    shared cascade view is the SCALED stage, so this baseline builds its
    own (un-shared) pipeline."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, "doc_id", "text", JACCARD_THRESHOLD)


@register(
    "dedup_minhash_lsh_scaled",
    oracle=D.sql_minhash_lsh_scaled(JACCARD_THRESHOLD),
    tags=("dedup", "llm-pipeline", "lsh", "scale-tier"),
)
def dedup_minhash_lsh_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with CORPUS-SCALED banding — the
    production tier superseding dedup_minhash_lsh's frozen 16×4: r(n) =
    clamp(ceil(log2 n) − 7, 4, 8) minhashes per band (one more per
    corpus doubling, bounding bucket occupancy so candidates stay
    ~linear in n) and b(r) = {4:16, 5:22, 6:28, 7:36, 8:46} bands
    holding the fixed tier's 1−(1−t⁴)¹⁶ ≈ 0.9998 detection probability
    at t = 0.8. (r, b) derive from a metadata count on both engines —
    the oracle replays the identical md5-portable hash arithmetic at the
    identical coefficient indices (i·8+j), so the scaled tier stays
    bit-for-bit checked like every other LSH tier. Exact-Jaccard verify
    makes precision exact at every (r, b). Cf. the SRP analogue
    srp_lsh_cosine_pairs_recall_held (operators/similarity.py).

    Incremental-ingest interaction (dedup_incremental_batch probes a
    PERSISTED band table): count-scaled banding re-derives (r, b) only
    when ⌈log₂ n⌉ steps — once per corpus DOUBLING — so the policy at
    scale is: between steps, signature new batches at the persisted
    table's recorded (r, b) and probe it as is, and rebuild the band
    table at each doubling — an amortized O(1) rebuilds per lifetime of
    any given corpus size, the same cadence LSM trees pay for level
    compaction. A band sig is one xxhash64 bigint over the band's r
    minhashes, so it cannot be prefix-truncated: a table signatured at
    one r is never probed with sigs hashed at another.

    Serves the shared cascade view (_pairs_view) since round 7 — first
    consumer in a session builds the scaled pipeline, the other six
    cascade queries reuse it."""
    return _pairs_view(spark, sf_dir)


@register(
    "dedup_simhash",
    oracle=D.sql_simhash_pairs(3),
    tags=("dedup", "llm-pipeline", "lsh", "baseline-fixed-scale"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60-bit) pairs within hamming distance 3. Spark runs the
    banded plan (4×15-bit chunks — exact by pigeonhole for d≤3); the
    oracle brute-forces all pairs. Both must agree exactly. Serves the
    shared simhash view (reused by dedup_tier_agreement).

    FROZEN 4×15-bit banding (SCALEBENCH ×25.4 at the 10× proxy): the
    exact-pigeonhole guarantee pins (chunks, bits) to the hamming budget,
    so this tier cannot scale its banding without giving up exactness —
    at crawl scale use dedup_minhash_lsh_scaled (count-scaled banding) or
    pre-shard by simhash prefix; this tier stays as the exact-recall
    hamming baseline."""
    return _simhash_view(spark, sf_dir)


@register(
    "dedup_cluster_components",
    oracle=D.sql_connected_components(D.sql_exact_jaccard(JACCARD_THRESHOLD)),
    tags=("dedup", "llm-pipeline", "iterative"),
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERING: connected components over the Jaccard≥0.8
    pair graph (large-star/small-star contraction; recursive-CTE oracle).
    The component id is the canonical keeper for each dup group."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.exact_jaccard_pairs(d, "doc_id", "text", JACCARD_THRESHOLD)
    return D.connected_components(pairs)


@register(
    "dedup_char_ngram_jaccard",
    oracle=D.sql_char_jaccard(0.75, k=5),
    tags=("dedup", "llm-pipeline", "baseline-fixed-scale"),
)
def dedup_char_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 5-gram Jaccard ≥ 0.75 — the shingle variant for short or
    low-vocabulary texts where word 3-grams are too coarse. Shares the
    candidate/verify machinery with the word tier."""
    d = load_table(spark, sf_dir, "documents")
    return D.exact_jaccard_pairs(
        d, "doc_id", "text", 0.75, shingler=lambda df, i, t: D.char_shingle_df(df, i, t, k=5)
    )


@register(
    "dedup_keep_canonical",
    oracle=f"""
    WITH RECURSIVE pair_t AS MATERIALIZED ({D.sql_minhash_lsh_scaled(JACCARD_THRESHOLD)}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pair_t
      UNION
      SELECT id_b AS src, id_a AS dst FROM pair_t
    ),
    reach AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT e.src AS id, reach.r AS r
      FROM edges e JOIN reach ON e.dst = reach.id
    ),
    comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
    SELECT d.doc_id
    FROM documents d
    LEFT JOIN comp c ON d.doc_id = c.id AND c.component <> c.id
    WHERE c.id IS NULL
    """,
    tags=("dedup", "llm-pipeline", "lsh", "iterative"),
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED deduplicated corpus — the full production near-dup
    pipeline composed end-to-end: MinHash+LSH candidates → exact-Jaccard
    verify → connected components → anti-join, keeping exactly one
    document per duplicate cluster (the min doc_id, i.e. the component
    label) plus every singleton. This is the operator a training-data
    pipeline actually ships: its output IS the training corpus.

    Scale shape: every stage is the already-audited scale path (banded
    LSH self-join, O(log² n) star-contraction components on the tiny pair graph),
    and the final step is a LEFT ANTI join of the corpus against the
    non-canonical member ids — a broadcast anti-join in practice, since
    dup-cluster members are a sliver of the corpus."""
    d = load_table(spark, sf_dir, "documents")
    comp = _components_view(spark, sf_dir)
    losers = comp.where(F.col("component") != F.col("id")).select(F.col("id").alias("doc_id"))
    return d.select("doc_id").join(F.broadcast(losers), "doc_id", "left_anti")


@register(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH RECURSIVE pair_t AS MATERIALIZED ({D.sql_minhash_lsh_scaled(JACCARD_THRESHOLD)}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pair_t
      UNION
      SELECT id_b AS src, id_a AS dst FROM pair_t
    ),
    reach AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT e.src AS id, reach.r AS r
      FROM edges e JOIN reach ON e.dst = reach.id
    ),
    comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
    tok AS (SELECT doc_id, len({T.SQL_TOKENS}) AS n_tokens FROM documents),
    best AS (SELECT doc_id FROM (
       SELECT c.id AS doc_id,
              row_number() OVER (PARTITION BY c.component
                                 ORDER BY t.n_tokens DESC, c.id) AS rn
       FROM comp c JOIN tok t ON t.doc_id = c.id) WHERE rn = 1),
    losers AS (SELECT c.id AS doc_id FROM comp c
               WHERE c.id NOT IN (SELECT doc_id FROM best)),
    sizes AS (SELECT component, count(*) AS n_members FROM comp GROUP BY 1)
    SELECT t.doc_id,
           coalesce(c.component, t.doc_id) AS cluster_id,
           CAST(coalesce(s.n_members, 1) AS BIGINT) AS n_members,
           CAST(t.n_tokens AS BIGINT) AS n_tokens
    FROM tok t
    LEFT JOIN comp c ON c.id = t.doc_id
    LEFT JOIN sizes s ON s.component = c.component
    WHERE t.doc_id NOT IN (SELECT doc_id FROM losers)
    """,
    tags=("dedup", "llm-pipeline", "lsh", "iterative", "quality"),
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-PRIORITY canonical selection — the keep law production
    pipelines actually want: within each near-dup cluster keep the
    HIGHEST-QUALITY member (here the deterministic proxy: most tokens,
    ties to the smallest doc_id), not the smallest id.
    dedup_keep_canonical's min-id law is the textbook one; real crawls
    prefer the longest/cleanest copy of a page (CCNet keeps the best-
    perplexity shard member; Dolma keeps the longest) because truncated
    mirrors and boilerplate-stripped syndications share a cluster with
    their fuller original. Output: one row per KEPT document with its
    cluster provenance (cluster_id, n_members, n_tokens) — singletons
    keep themselves with n_members = 1.

    Scale shape: the argmax runs on the PAIR-GRAPH SLIVER only (cluster
    members joined to a token count, one window partitioned by
    component — cluster-sized partitions, never a corpus window); the
    corpus pays one broadcast anti-join against the loser sliver, same
    as dedup_keep_canonical."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", T.token_count(F.col("text")).alias("n_tokens"))
    comp = _components_view(spark, sf_dir)
    memb = comp.join(tok, comp["id"] == tok["doc_id"]).select(
        tok["doc_id"], "component", "n_tokens"
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("component").orderBy(F.desc("n_tokens"), F.asc("doc_id"))
    ranked = memb.withColumn("rn", F.row_number().over(w))
    losers = ranked.where(F.col("rn") > 1).select("doc_id")
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    kept = tok.join(F.broadcast(losers), "doc_id", "left_anti")
    return (
        kept.join(comp.select(F.col("id").alias("doc_id"), "component"), "doc_id", "left")
        .join(sizes, "component", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).cast("long").alias("cluster_id"),
            F.coalesce(F.col("n_members"), F.lit(1)).cast("long").alias("n_members"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
        )
    )


SPAN_GRAM = 8  # exact-substring dedup granularity (tokens)


_SQL_SPAN_COVERAGE = f"""
    WITH toks AS (
      SELECT doc_id, {T.SQL_TOKENS} AS t, len({T.SQL_TOKENS}) AS n
      FROM documents),
    grams AS (
      SELECT doc_id, n, CAST(unnest(range(0, n - {SPAN_GRAM} + 1)) AS BIGINT) AS pos,
             array_to_string(list_slice(t, unnest(range(0, n - {SPAN_GRAM} + 1)) + 1,
                                        unnest(range(0, n - {SPAN_GRAM} + 1)) + {SPAN_GRAM}),
                             ' ') AS gram
      FROM toks WHERE n >= {SPAN_GRAM}),
    gcnt AS (SELECT gram, count(*) AS c FROM grams GROUP BY gram),
    dup AS (
      SELECT g.doc_id, g.pos
      FROM grams g JOIN gcnt ON gcnt.gram = g.gram
      WHERE gcnt.c >= 2),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > coalesce(
                    max(pos + {SPAN_GRAM} - 1) OVER (
                      PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_island
      FROM dup),
    isl2 AS (
      SELECT doc_id, pos,
             sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM isl),
    cov AS (
      SELECT doc_id, sum(max_pos - min_pos + {SPAN_GRAM}) AS covered
      FROM (SELECT doc_id, island, min(pos) AS min_pos, max(pos) AS max_pos
            FROM isl2 GROUP BY doc_id, island)
      GROUP BY doc_id)
    SELECT toks.doc_id, CAST(toks.n AS BIGINT) AS n_tokens,
           CAST(coalesce(cov.covered, 0) AS BIGINT) AS dup_covered_tokens
    FROM toks LEFT JOIN cov ON cov.doc_id = toks.doc_id
    WHERE toks.n > 0
    """


@register(
    "duplicate_span_coverage",
    oracle=_SQL_SPAN_COVERAGE,
    tags=("dedup", "llm-pipeline", "quality"),
)
def duplicate_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication coverage: for every document, how many
    of its token positions sit inside an 8-gram that occurs ≥ 2 times
    anywhere in the corpus — the per-document metric behind
    exact-substring dedup (remove or down-weight documents whose text is
    largely boilerplate shared with other documents). Complements the
    document-LEVEL MinHash tier: MinHash finds near-identical DOCUMENTS;
    this finds duplicated SPANS inside otherwise-distinct documents.

    Every duplicated 8-gram start covers positions [pos, pos+7]; the
    covered-token count is the length of the UNION of those intervals,
    computed with the gaps-and-islands window (new island when a start
    clears the running max end — same integer logic as
    merge_value_intervals). All counts are exact integers.

    Scale: the gram shuffle is O(total tokens) rows keyed by the gram
    text (at 100 TB the key becomes an 8-byte hash — the
    decontaminate_hashed trick, which that operator measures at ~1.5×
    shuffle-width win); the island window partitions by document, so no
    global sort anywhere."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", T.tokens(F.col("text")).alias("t"), T.token_count(F.col("text")).alias("n")
    )
    grams = (
        toks.where(F.col("n") >= SPAN_GRAM)
        .select(
            "doc_id",
            F.explode(
                F.expr(f"sequence(CAST(0 AS BIGINT), n - {SPAN_GRAM})")
            ).alias("pos"),
            "t",
        )
        .select(
            "doc_id",
            "pos",
            F.array_join(
                F.expr(f"slice(t, CAST(pos + 1 AS INT), {SPAN_GRAM})"), " "
            ).alias("gram"),
        )
    )
    gcnt = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    dup = grams.join(gcnt.where(F.col("c") >= 2), "gram").select("doc_id", "pos")
    from pyspark.sql.window import Window

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = dup.select(
        "doc_id",
        "pos",
        F.when(
            F.col("pos")
            > F.coalesce(F.max(F.col("pos") + SPAN_GRAM - 1).over(w_prev), F.lit(-1)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    ).select("doc_id", "pos", F.sum("new_island").over(w_run).alias("island"))
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("min_pos"), F.max("pos").alias("max_pos")
    )
    cov = spans.groupBy("doc_id").agg(
        F.sum(F.col("max_pos") - F.col("min_pos") + SPAN_GRAM).alias("covered")
    )
    return (
        toks.where(F.col("n") > 0)
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            F.coalesce(F.col("covered"), F.lit(0)).cast("long").alias("dup_covered_tokens"),
        )
    )


_SQL_LONGEST_SPAN = _SQL_SPAN_COVERAGE.replace(
    f"""cov AS (
      SELECT doc_id, sum(max_pos - min_pos + {SPAN_GRAM}) AS covered
      FROM (SELECT doc_id, island, min(pos) AS min_pos, max(pos) AS max_pos
            FROM isl2 GROUP BY doc_id, island)
      GROUP BY doc_id)
    SELECT toks.doc_id, CAST(toks.n AS BIGINT) AS n_tokens,
           CAST(coalesce(cov.covered, 0) AS BIGINT) AS dup_covered_tokens""",
    f"""cov AS (
      SELECT doc_id, max(max_pos - min_pos + {SPAN_GRAM}) AS longest
      FROM (SELECT doc_id, island, min(pos) AS min_pos, max(pos) AS max_pos
            FROM isl2 GROUP BY doc_id, island)
      GROUP BY doc_id)
    SELECT toks.doc_id, CAST(toks.n AS BIGINT) AS n_tokens,
           CAST(coalesce(cov.longest, 0) AS BIGINT) AS longest_dup_span_tokens""",
)
assert "longest_dup_span_tokens" in _SQL_LONGEST_SPAN  # replace() must have hit


@register(
    "longest_duplicated_span",
    oracle=_SQL_LONGEST_SPAN,
    tags=("dedup", "llm-pipeline", "quality", "observability"),
)
def longest_duplicated_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest corpus-repeated SPAN per document (in tokens) — the
    memorization-risk metric from Lee et al.'s exact-substring dedup:
    duplicate_span_coverage answers "how MUCH of this doc is
    boilerplate", this answers "how LONG is the worst verbatim block" —
    the number that decides between down-weighting (short scattered
    spans) and hard removal (one 500-token verbatim quote a model will
    memorize). Same machinery end-to-end: duplicated 8-gram start
    positions, gaps-and-islands merge of overlapping [pos, pos+7]
    intervals, then MAX island length instead of the coverage SUM.
    Docs with no duplicated grams report 0 (a true measured zero, not
    absence). Scale shape identical to duplicate_span_coverage: one
    gram-keyed shuffle, doc-partitioned windows, no global sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        T.tokens(F.col("text")).alias("t"),
        T.token_count(F.col("text")).alias("n"),
    )
    grams = (
        toks.where(F.col("n") >= SPAN_GRAM)
        .select(
            "doc_id",
            F.explode(
                F.expr(f"sequence(CAST(0 AS BIGINT), n - {SPAN_GRAM})")
            ).alias("pos"),
            "t",
        )
        .select(
            "doc_id",
            "pos",
            F.array_join(
                F.expr(f"slice(t, CAST(pos + 1 AS INT), {SPAN_GRAM})"), " "
            ).alias("gram"),
        )
    )
    gcnt = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    dup = grams.join(gcnt.where(F.col("c") >= 2), "gram").select("doc_id", "pos")
    from pyspark.sql.window import Window

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = dup.select(
        "doc_id",
        "pos",
        F.when(
            F.col("pos")
            > F.coalesce(F.max(F.col("pos") + SPAN_GRAM - 1).over(w_prev), F.lit(-1)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    ).select("doc_id", "pos", F.sum("new_island").over(w_run).alias("island"))
    longest = (
        isl.groupBy("doc_id", "island")
        .agg(F.min("pos").alias("min_pos"), F.max("pos").alias("max_pos"))
        .groupBy("doc_id")
        .agg(F.max(F.col("max_pos") - F.col("min_pos") + SPAN_GRAM).alias("longest"))
    )
    return (
        toks.where(F.col("n") > 0)
        .join(longest, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            F.coalesce(F.col("longest"), F.lit(0))
            .cast("long")
            .alias("longest_dup_span_tokens"),
        )
    )


_SQL_SUBSTRING_KEEP = f"""
    WITH toks AS (
      SELECT doc_id, {T.SQL_TOKENS} AS t, len({T.SQL_TOKENS}) AS n
      FROM documents),
    grams AS (
      SELECT doc_id, CAST(unnest(range(0, n - {SPAN_GRAM} + 1)) AS BIGINT) AS pos,
             array_to_string(list_slice(t, unnest(range(0, n - {SPAN_GRAM} + 1)) + 1,
                                        unnest(range(0, n - {SPAN_GRAM} + 1)) + {SPAN_GRAM}),
                             ' ') AS gram
      FROM toks WHERE n >= {SPAN_GRAM}),
    gcnt AS (SELECT gram, count(*) AS c FROM grams GROUP BY gram),
    dup AS (
      SELECT g.doc_id, g.pos
      FROM grams g JOIN gcnt ON gcnt.gram = g.gram
      WHERE gcnt.c >= 2),
    cov AS (
      SELECT DISTINCT doc_id, pos + u.d AS p
      FROM dup CROSS JOIN (SELECT unnest(range(0, {SPAN_GRAM})) AS d) u),
    poss AS (
      SELECT doc_id, CAST(unnest(range(0, n)) AS BIGINT) AS p,
             t[unnest(range(0, n)) + 1] AS tok
      FROM toks WHERE n > 0),
    kept AS (
      SELECT poss.doc_id, poss.p, poss.tok
      FROM poss LEFT JOIN cov ON cov.doc_id = poss.doc_id AND cov.p = poss.p
      WHERE cov.doc_id IS NULL),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY p) AS kept_text
      FROM kept GROUP BY doc_id)
    SELECT toks.doc_id, CAST(toks.n AS BIGINT) AS n_tokens,
           CAST(toks.n - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(agg.kept_text, '') AS kept_text
    FROM toks LEFT JOIN agg ON agg.doc_id = toks.doc_id
    WHERE toks.n > 0
    """


@register(
    "dedup_substring_keep",
    oracle=_SQL_SUBSTRING_KEEP,
    tags=("dedup", "llm-pipeline", "quality", "scale-tier"),
)
def dedup_substring_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr EMIT path (Lee et al. 2022 "Deduplicating Training
    Data Makes Language Models Better", §ExactSubstr): the cleaned corpus
    with corpus-REPEATED SPANS excised from every document — every token
    position inside an 8-gram that occurs ≥ 2 times anywhere in the
    corpus is removed, and the survivors re-join in order.
    duplicate_span_coverage is the per-doc METRIC over exactly this
    position set; this emits the artifact (the span-granularity sibling
    of dedup_paragraph_keep: paragraphs drop whole boilerplate windows,
    this surgically removes verbatim blocks a model would memorize).
    Docs whose every position is covered survive as empty strings — the
    row must keep its fate visible to downstream joins.

    Law (identical on both engines): covered(doc) = ∪ [pos, pos+7] over
    duplicated-gram starts; kept positions = all − covered, in order.
    Conservation: n_removed == duplicate_span_coverage's
    dup_covered_tokens and token_count(kept_text) == n_tokens −
    n_removed (pinned in tests/test_round10_ops.py).

    Scale shape: one gram-keyed shuffle O(total tokens) — the same
    shuffle the coverage metric already pays (at 100 TB the gram key
    becomes an 8-byte hash, the decontaminate_hashed trick) — then the
    dup-start SLIVER groups per doc (cost concentrates on duplicated
    text by construction), and the excision itself is per-row array
    arithmetic: array_except of two position arrays, no window, no
    token-level shuffle of clean documents. The final join of starts
    onto the corpus is doc-keyed with AQE runtime stats (the starts side
    came through a shuffle, so no static-estimate broadcast cliff)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        T.tokens(F.col("text")).alias("t"),
        T.token_count(F.col("text")).alias("n"),
    )
    grams = (
        toks.where(F.col("n") >= SPAN_GRAM)
        .select(
            "doc_id",
            F.explode(
                F.expr(f"sequence(CAST(0 AS BIGINT), n - {SPAN_GRAM})")
            ).alias("pos"),
            "t",
        )
        .select(
            "doc_id",
            "pos",
            F.array_join(
                F.expr(f"slice(t, CAST(pos + 1 AS INT), {SPAN_GRAM})"), " "
            ).alias("gram"),
        )
    )
    gcnt = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    dup = grams.join(gcnt.where(F.col("c") >= 2), "gram").select("doc_id", "pos")
    starts = dup.groupBy("doc_id").agg(F.collect_list("pos").alias("starts"))
    excised = (
        toks.where(F.col("n") > 0)
        .join(starts, "doc_id", "left")
        .select(
            "doc_id",
            "n",
            "t",
            F.expr(
                # union of [q, q+7] over dup starts, as a distinct set;
                # array_except keeps the LEFT order, so positions stay sorted
                f"array_except(sequence(CAST(0 AS BIGINT), n - 1),"
                f" flatten(transform(coalesce(starts, array()),"
                f" q -> sequence(q, q + {SPAN_GRAM - 1}))))"
            ).alias("kept_pos"),
        )
    )
    return excised.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        (F.col("n") - F.size("kept_pos")).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.col("kept_pos"), lambda p: F.element_at("t", (p + 1).cast("int"))
            ),
            " ",
        ).alias("kept_text"),
    )


# The "new batch" of the incremental-ingest scenario: a deterministic 10%
# slice of the corpus (doc_id ending in 7) arriving against the other 90%.
_NEW_PRED = "{id} % 10 = 7"


@register(
    "dedup_incremental_batch",
    oracle=D.sql_minhash_incremental(JACCARD_THRESHOLD, _NEW_PRED),
    tags=("dedup", "llm-pipeline", "lsh"),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup — the production shape MinHash actually
    runs in: a NEW batch (here the deterministic 10% of docs with
    doc_id ≡ 7 mod 10, standing in for today's crawl) is deduplicated
    against the EXISTING corpus (the other 90%) by probing the corpus
    band-bucket table with only the new batch's signatures. Work per
    ingest is O(batch × bands) probes, independent of corpus size when
    the bucket table is persisted bucketed-by-(band, sig); the full
    corpus is never re-paired. Emits (id_a=new doc, id_b=existing dup,
    exact verified Jaccard) — the rows a pipeline would use to drop or
    link today's duplicates before appending the batch."""
    d = load_table(spark, sf_dir, "documents")
    new_df = d.where(F.col("doc_id") % 10 == 7)
    old_df = d.where(F.col("doc_id") % 10 != 7)
    return D.minhash_incremental_pairs(new_df, old_df, "doc_id", "text", JACCARD_THRESHOLD)


@register(
    "dedup_jaccard_prefix_filter",
    oracle=D.sql_exact_jaccard(JACCARD_THRESHOLD),
    tags=("dedup", "llm-pipeline"),
)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup join ≥ 0.8 via prefix filtering (PPJoin family) —
    lossless candidate pruning under a rarest-first global shingle
    order, for pipelines that cannot accept LSH's probabilistic recall.
    Shares the brute-force oracle VERBATIM: a pass proves the prefix
    filter dropped no true pair (the no-false-negative theorem,
    exercised rather than assumed). See
    operators/dedup.prefix_filter_jaccard_pairs."""
    d = load_table(spark, sf_dir, "documents")
    return D.prefix_filter_jaccard_pairs(d, "doc_id", "text", JACCARD_THRESHOLD)


@register(
    "minhash_jaccard_estimate_audit",
    oracle=D.sql_minhash_estimate_audit(),
    tags=("dedup", "llm-pipeline", "lsh", "statistics", "baseline-fixed-scale"),
)
def minhash_jaccard_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for the MinHash tier: for every LSH
    candidate pair, the signature-agreement ESTIMATE (matching
    positions out of NUM_HASHES — E[match/64] = true Jaccard) next to
    the exact ingredients (|A∩B|, |A∪B|) — the one-query answer to "how
    wrong is my 64-hash sketch on MY corpus?", which fixes the (bands,
    rows) parameters before a 100 TB run. All integers, so even the
    estimator's sampling error is bit-oracled; the estimate-vs-exact
    residual bound lives in tests (where the statistical claim belongs).

    Scale shape: identical to dedup_minhash_lsh through candidates
    (band-bucket self-join, never all-pairs); the estimate adds one
    signature join (64 bigints per doc), the exact side reuses the
    shingle-intersection verify already paid by the LSH tier. Inherits
    the fixed tier's FROZEN 16×4 banding (SCALEBENCH ×36.5 at the 10×
    proxy — hence baseline-fixed-scale): the audit exists to size (r, b)
    BEFORE a production run, so it deliberately measures the fixed
    sketch; run it on a sample, not the full crawl."""
    return _estimate_audit_view(spark, sf_dir)


def _estimate_audit_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (id_a, id_b, match_64, n_inter, n_union) estimate-audit frame,
    memoized per (session, sf_dir): the calibration audits (AUC-style and
    ECE) consume the same rows, so the shingle/signature/candidate
    pipeline runs once, not once per consumer."""
    return shared_view(spark, "mhaudit", sf_dir, lambda: _estimate_audit_build(spark, sf_dir))


def _estimate_audit_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # the shingle set feeds the signature pass, the sizes aggregate and
    # both exact-intersection join sides; the signature relation feeds
    # the band buckets and both estimate join sides — checkpoint each
    # once (lazy) instead of re-running the tokenize/shingle/minhash
    # chain per consumer
    sh = D.shingle_df(d, "doc_id", "text").localCheckpoint(eager=False)
    sig = D.minhash_signature_df(sh).localCheckpoint(eager=False)
    cand = D.lsh_candidate_pairs(sig)
    sa = sig.select(F.col("id").alias("id_a"), F.col("mh").alias("ma"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("mh").alias("mb"))
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(
                F.filter(
                    F.zip_with(F.col("ma"), F.col("mb"), lambda x, y: x == y),
                    lambda v: v,
                )
            )
            .cast("long")
            .alias("match_64"),
        )
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    common = (
        cand.join(sh.select(F.col("id").alias("id_a"), "sh"), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), "sh"), ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        est.join(common, ["id_a", "id_b"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
        .join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            "match_64",
            F.col("c").cast("long").alias("n_inter"),
            (F.col("na") + F.col("nb") - F.col("c")).cast("long").alias("n_union"),
        )
    )


@register(
    "calibration_ece_audit",
    oracle=f"""
    WITH pairs AS ({{audit_sql}}),
    lab AS (
      SELECT match_64,
             CASE WHEN 10 * n_inter >= {int(JACCARD_THRESHOLD * 10)} * n_union
                  THEN 1 ELSE 0 END AS pos
      FROM pairs),
    bins AS (
      SELECT least(match_64 // 8, 7) AS bin,
             count(*) AS n_pairs,
             sum(pos) AS n_pos,
             sum(match_64) AS sum_match_64
      FROM lab GROUP BY 1),
    tot AS (SELECT sum(n_pairs) AS n_all,
                   sum(abs(64 * n_pos - sum_match_64)) AS gap_all
            FROM bins)
    SELECT CAST(b.bin AS BIGINT) AS bin,
           CAST(b.n_pairs AS BIGINT) AS n_pairs,
           CAST(b.n_pos AS BIGINT) AS n_pos,
           CAST(b.sum_match_64 AS BIGINT) AS sum_match_64,
           CAST(abs(64 * b.n_pos - b.sum_match_64) AS BIGINT) AS abs_gap_64n,
           CAST((1000 * t.gap_all) // (64 * t.n_all) AS BIGINT) AS ece_milli
    FROM bins b, tot t
    """.format(audit_sql=D.sql_minhash_estimate_audit()),
    tags=("dedup", "llm-pipeline", "quality", "statistics"),
)
def calibration_ece_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected-Calibration-Error audit of the MinHash sketch as a
    duplicate-probability PREDICTOR — the reliability-diagram companion
    to dedup_signal_auc (AUC measures ranking; ECE measures whether the
    predicted probabilities MEAN what they say): for every LSH candidate
    pair, confidence = match_64/64 (E[match/64] = true Jaccard) and
    label = exact Jaccard ≥ {JACCARD_THRESHOLD}. Eight equal-width
    confidence bins; per bin the accuracy-vs-confidence gap, plus the
    corpus ECE. The audit a curation pipeline runs before using sketch
    scores as sampling weights or threshold inputs rather than ranks.

    Exact integers end to end: per-bin gap·n_b·64 = |64·pos_b − Σmatch|
    and ECE·64·N·1000 is an integer before one floor division — no
    float ever forms, so the reliability table hash-matches bit-for-bit
    (the countmin/HLL promotion discipline). Scale shape: identical to
    the LSH tier through candidates (band buckets, never all-pairs),
    then an 8-row aggregate; ECE rides every row as a constant column
    via a broadcast of the 1-row total."""
    audit = minhash_jaccard_estimate_audit(spark, sf_dir)
    lab = audit.select(
        "match_64",
        F.when(
            F.col("n_inter") * 10 >= F.lit(int(JACCARD_THRESHOLD * 10)) * F.col("n_union"),
            1,
        )
        .otherwise(0)
        .alias("pos"),
    )
    bins = (
        lab.groupBy(F.least(F.expr("match_64 div 8"), F.lit(7)).alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("pos").alias("n_pos"),
            F.sum("match_64").alias("sum_match_64"),
        )
        .localCheckpoint(eager=True)  # 8 rows, two consumers
    )
    tot = bins.agg(
        F.sum("n_pairs").alias("n_all"),
        F.sum(F.abs(F.lit(64) * F.col("n_pos") - F.col("sum_match_64"))).alias("gap_all"),
    )
    return bins.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("sum_match_64").cast("long").alias("sum_match_64"),
        F.abs(F.lit(64) * F.col("n_pos") - F.col("sum_match_64"))
        .cast("long")
        .alias("abs_gap_64n"),
        F.expr("CAST((1000 * gap_all) div (64 * n_all) AS BIGINT)").alias("ece_milli"),
    )


_SQL_SPLIT = """
    SELECT doc_id,
           CASE WHEN h < 80 THEN 'train'
                WHEN h < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS h
          FROM documents)"""


@register(
    "split_leakage_audit",
    oracle=f"""
    WITH pairs AS ({D.sql_minhash_lsh_scaled(JACCARD_THRESHOLD)}),
    sp AS ({_SQL_SPLIT})
    SELECT least(a.split, b.split) AS split_a,
           greatest(a.split, b.split) AS split_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs p
    JOIN sp a ON a.doc_id = p.id_a
    JOIN sp b ON b.doc_id = p.id_b
    GROUP BY 1, 2
    """,
    tags=("dedup", "llm-pipeline", "lsh", "quality"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: near-duplicate pairs (the verified
    MinHash-LSH tier) bucketed by which splits of the deterministic
    80/10/10 assignment the two sides landed in. Off-diagonal rows —
    especially (test, train) — are memorization leaks: a test document
    whose near-twin is trained on. This is the audit (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" §5) that
    motivates deduplicating BEFORE splitting; this fixture shows real
    (test, train) rows at every scale.

    Composition: the LSH pair pipeline (band buckets, never all-pairs)
    + two broadcast-sized joins against the md5 split map, collapsing
    to a ≤6-row split×split matrix. The fix it motivates is also in the
    registry: curation_manifest_end2end splits AFTER the dedup keep."""
    d = load_table(spark, sf_dir, "documents")
    pairs = _pairs_view(spark, sf_dir)
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 100
    sp = d.select(
        "doc_id",
        F.when(h < 80, F.lit("train")).when(h < 90, F.lit("valid")).otherwise(F.lit("test")).alias("split"),
    )
    sa = sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("spl_a"))
    sb = sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("spl_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(
            F.least("spl_a", "spl_b").alias("split_a"),
            F.greatest("spl_a", "spl_b").alias("split_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


@register(
    "dedup_tier_agreement",
    oracle=f"""
    WITH mh AS ({D.sql_minhash_lsh_scaled(JACCARD_THRESHOLD)}),
    sh_p AS ({D.sql_simhash_pairs(3)}),
    mhp AS (SELECT id_a, id_b FROM mh),
    shp AS (SELECT id_a, id_b FROM sh_p),
    u AS (
      SELECT COALESCE(m.id_a, s.id_a) AS id_a,
             COALESCE(m.id_b, s.id_b) AS id_b,
             CASE WHEN m.id_a IS NULL THEN 0 ELSE 1 END AS in_minhash,
             CASE WHEN s.id_a IS NULL THEN 0 ELSE 1 END AS in_simhash
      FROM mhp m
      FULL OUTER JOIN shp s ON m.id_a = s.id_a AND m.id_b = s.id_b)
    SELECT CAST(in_minhash AS BIGINT) AS in_minhash,
           CAST(in_simhash AS BIGINT) AS in_simhash,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM u GROUP BY 1, 2
    """,
    tags=("dedup", "llm-pipeline", "lsh", "quality"),
)
def dedup_tier_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tier agreement audit for the near-dup detectors: the FULL
    OUTER join of the verified MinHash-LSH pair set (Jaccard ≥ 0.8 on
    word shingles) against the SimHash pair set (hamming ≤ 3), bucketed
    by membership — the "which detector finds what" matrix a curation
    team reads before picking a production tier (the two detectors
    measure DIFFERENT similarity geometries, so disagreement is signal,
    not error; both-tier pairs are the high-confidence core). Same
    composition shape as split_leakage_audit: two already-scaled pair
    pipelines + one pair-keyed outer join collapsing to a ≤3-row
    matrix.

    The whole audit — both LSH pipelines included — stays bit-oracled
    because both tiers use engine-portable hash arithmetic; the oracle
    replays the two pipelines verbatim (shared SQL builders) and only
    adds the outer join."""
    mh = _pairs_view(spark, sf_dir).select("id_a", "id_b")
    sh = _simhash_view(spark, sf_dir).select("id_a", "id_b")
    u = (
        mh.withColumn("in_minhash", F.lit(1))
        .join(
            sh.withColumn("in_simhash", F.lit(1)),
            ["id_a", "id_b"],
            "full_outer",
        )
        .select(
            F.coalesce(F.col("in_minhash"), F.lit(0)).cast("long").alias("in_minhash"),
            F.coalesce(F.col("in_simhash"), F.lit(0)).cast("long").alias("in_simhash"),
        )
    )
    return u.groupBy("in_minhash", "in_simhash").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


@register(
    "dedup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE pair_t AS MATERIALIZED ({D.sql_minhash_lsh_scaled(JACCARD_THRESHOLD)}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pair_t
      UNION
      SELECT id_b AS src, id_a AS dst FROM pair_t
    ),
    reach AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT e.src AS id, reach.r AS r
      FROM edges e JOIN reach ON e.dst = reach.id
    ),
    comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
    sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY 1),
    hist AS (SELECT sz, count(*) AS n FROM sizes GROUP BY 1),
    singles AS (
      SELECT (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp) AS n1)
    SELECT CAST(sz AS BIGINT) AS cluster_size, CAST(n AS BIGINT) AS n_clusters
    FROM hist
    UNION ALL
    SELECT 1, CAST(n1 AS BIGINT) FROM singles WHERE n1 > 0
    """,
    tags=("dedup", "llm-pipeline", "iterative", "observability"),
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup OBSERVABILITY: the cluster-size distribution of the MinHash
    near-dup graph — the datasheet read before shipping a dedup run
    ("mostly pairs, or a few mega-clusters?"): a heavy tail means an
    over-aggressive threshold or template spam about to delete real
    content, and the overall dup rate falls out as Σ(size−1)·n /
    corpus. Sizes come from the same verified-pair → star-contraction
    components cascade as dedup_cluster_components; documents in no
    pair appear as the size-1 row (corpus count minus graph nodes —
    a broadcast single-row subtraction, never a giant anti-join).
    Every pair-graph component has size ≥ 2, so the union cannot
    collide with a histogram row. Output is ≤ max-cluster-size rows."""
    d = load_table(spark, sf_dir, "documents")
    comp = _components_view(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    hist = sizes.groupBy("sz").agg(F.count(F.lit(1)).alias("n")).select(
        F.col("sz").cast("long").alias("cluster_size"),
        F.col("n").cast("long").alias("n_clusters"),
    )
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    ng = comp.agg(F.count(F.lit(1)).alias("n_nodes"))
    singles = (
        nd.crossJoin(F.broadcast(ng))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("n_docs") - F.col("n_nodes")).cast("long").alias("n_clusters"),
        )
        .where(F.col("n_clusters") > 0)
    )
    return hist.unionByName(singles)


@register(
    "dedup_signal_auc",
    oracle=f"""
    WITH pair_t AS MATERIALIZED ({D.sql_minhash_lsh_scaled(JACCARD_THRESHOLD)}),
    members AS (
      SELECT id_a AS doc_id FROM pair_t UNION SELECT id_b FROM pair_t),
    span AS ({_SQL_SPAN_COVERAGE}),
    sc AS (
      SELECT s.doc_id,
             (1000000 * s.dup_covered_tokens) // s.n_tokens AS s,
             CASE WHEN m.doc_id IS NULL THEN 0 ELSE 1 END AS y
      FROM span s LEFT JOIN members m ON m.doc_id = s.doc_id),
    hist AS (
      SELECT s, sum(y) AS np, sum(1 - y) AS nn FROM sc GROUP BY 1),
    cum AS (
      SELECT s, np, nn,
             coalesce(sum(nn) OVER (ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cnb
      FROM hist)
    SELECT CAST(sum(np) AS BIGINT) AS n_pos,
           CAST(sum(nn) AS BIGINT) AS n_neg,
           CAST(sum(np * (2 * cnb + nn)) AS BIGINT) AS u2,
           CAST((1000000 * sum(np * (2 * cnb + nn)))
                // (2 * sum(np) * sum(nn)) AS BIGINT) AS auc_micro
    FROM cum
    HAVING sum(np) > 0 AND sum(nn) > 0
    """,
    tags=("dedup", "llm-pipeline", "quality", "statistics"),
)
def dedup_signal_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact AUC (Mann-Whitney U) of a cheap per-document
    signal against the expensive detector's verdict — the calibration
    audit run before replacing a full near-dup pass with a scan-cheap
    prefilter: score = duplicate-span coverage fraction (micro), label =
    document participates in a verified MinHash near-dup pair. AUC ≈ 1
    says the span signal ranks dup-involved documents above clean ones
    and can gate which documents even enter the LSH tier.

    The AUC is computed WITHOUT any per-row ranking: collapse to the
    score-value histogram (np, nn per distinct micro-score — the domain
    is bounded by construction, ≤ 1e6+1 values at ANY corpus size, so
    the cumulative window runs over a bounded value dimension, never
    over documents — the de-globalized rank pattern), then the
    tie-aware Mann-Whitney count U2 = Σ np(s)·(2·cum_nn(<s) + nn(s))
    counts (pos, neg) pairs with neg below pos, ties half (×2 keeps it
    integral). auc_micro = ⌊1e6·U2 / (2·P·N)⌋ — exact integers end to
    end. Composition: the span pipeline (one gram shuffle) + the shared
    memoized pair view for labels + one bounded histogram."""
    span = duplicate_span_coverage(spark, sf_dir)
    members = (
        _pairs_view(spark, sf_dir)
        .select(F.col("id_a").alias("doc_id"))
        .unionByName(_pairs_view(spark, sf_dir).select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("y1", F.lit(1))
    )
    sc = span.join(F.broadcast(members), "doc_id", "left").select(
        F.expr("(1000000 * dup_covered_tokens) div n_tokens").alias("s"),
        F.coalesce(F.col("y1"), F.lit(0)).alias("y"),
    )
    hist = sc.groupBy("s").agg(
        F.sum("y").alias("np"), F.sum(1 - F.col("y")).alias("nn")
    )
    from pyspark.sql.window import Window as W

    w_prev = W.orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    cum = hist.select(
        "np", "nn", F.coalesce(F.sum("nn").over(w_prev), F.lit(0)).alias("cnb")
    )
    return cum.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(F.col("np") * (2 * F.col("cnb") + F.col("nn"))).cast("long").alias("u2"),
        F.expr(
            "CAST((1000000 * sum(np * (2 * cnb + nn)))"
            " div (2 * sum(np) * sum(nn)) AS BIGINT)"
        ).alias("auc_micro"),
        # one-class corpora have no AUC: drop the row on BOTH sides
        # rather than diverge (Spark div→NULL, DuckDB //→error — the
        # welch_t2 zero-variance lesson)
    ).where((F.col("n_pos") > 0) & (F.col("n_neg") > 0))


@register(
    "dedup_containment_join",
    oracle=D.sql_containment_pairs(),
    tags=("dedup", "llm-pipeline", "join"),
)
def dedup_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment join C(A→B) = |A∩B|/|A| ≥ 0.9 — catches the
    quote-farm / boilerplate-wrapper contamination Jaccard structurally
    misses (a short doc verbatim inside a long one has J ≈ |A|/|B| → 0
    but C = 1). Exact via the asymmetric prefix filter (A's rarest-first
    prefix probes B's full shingle set — lossless by pigeonhole); shares
    the brute-force oracle so every run re-proves no-false-negatives.
    All threshold compares cross-multiplied integers. See
    operators/dedup.containment_prefix_pairs for the 100 TB posture."""
    d = load_table(spark, sf_dir, "documents")
    return D.containment_prefix_pairs(d, "doc_id", "text")


def _sql_recall_curve() -> str:
    h = D.sql_h32("sh")
    mins = ",\n           ".join(
        f"min(({a} * {h} + {b}) % {D.MOD32}) AS mh_{j}"
        for j, (a, b) in enumerate(D.COEFFS)
    )
    band_rows = "\n      UNION ALL\n".join(
        "      SELECT id, {b} AS band, {sig} AS sig FROM sig_t".format(
            b=b,
            sig=" || '-' || ".join(
                f"CAST(mh_{b * D.ROWS_PER_BAND + r} AS VARCHAR)"
                for r in range(D.ROWS_PER_BAND)
            ),
        )
        for b in range(D.BANDS)
    )
    return f"""
    WITH {D.sql_shingles()},
    sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
    sig_t AS (SELECT id,
           {mins}
           FROM sh GROUP BY id),
    buckets AS (
{band_rows}
    ),
    cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
             FROM buckets a
             JOIN buckets b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
    common AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
               FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
               GROUP BY 1, 2),
    exact AS (
      SELECT co.id_a, co.id_b,
             CAST(floor((co.c * 1.0 / (sa.n + sb.n - co.c)) * 10000.0 + 0.5)
                  AS BIGINT) AS j4
      FROM common co
      JOIN sizes sa ON co.id_a = sa.id
      JOIN sizes sb ON co.id_b = sb.id
      WHERE 2 * co.c >= sa.n + sb.n - co.c),
    bucketed AS (
      SELECT e.j4 // 500 AS bucket,
             count(*) AS n_pairs,
             sum(CASE WHEN cd.id_a IS NOT NULL THEN 1 ELSE 0 END) AS n_detected
      FROM exact e
      LEFT JOIN cand cd ON cd.id_a = e.id_a AND cd.id_b = e.id_b
      GROUP BY 1)
    SELECT CAST(bucket * 500 AS BIGINT) AS jaccard_lo_m4,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_detected AS BIGINT) AS n_detected,
           CAST((1000 * n_detected) // n_pairs AS BIGINT) AS detection_milli
    FROM bucketed
    """


@register(
    "dedup_minhash_recall_curve",
    oracle=_sql_recall_curve(),
    tags=("dedup", "llm-pipeline", "lsh", "observability", "statistics"),
)
def dedup_minhash_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EMPIRICAL MinHash detection S-curve on THIS corpus — the
    measured companion to the analytic 1−(1−s^r)^b banding law: every
    true pair with Jaccard ≥ 0.5 (exact shared-shingle join) bucketed
    by similarity (0.05-wide bins on the integer-quantized jaccard, no
    float bucket boundaries) with the fraction the 16×4 band-bucket
    candidate stage actually catches. The curve a pipeline reads before
    trusting the LSH tier at a new threshold: detection must be 1000
    milli in every bucket ≥ 0.8 (the no-false-negative region the
    lsh==exact test pins) and the sub-threshold roll-off is the recall
    a cheaper threshold would trade away.

    Scale shape: the candidate side is the audited banded self-join;
    the exact side is the shared-shingle pair join at threshold 0.5 —
    a CORRECTNESS-AUDIT cost (same family as the estimate audit), run
    on a sample at 100 TB, not the whole corpus. Every compare is
    cross-multiplied or quantized-integer arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    # (round-10 note: checkpointing the shingle set here was tried and
    # reverted — unlike the pair builds, this query's cost is the exact
    # shared-shingle self-join, and the checkpoint's write cost exactly
    # cancelled the saved head recomputes: 2.60 → 2.58 s at sf0.1.)
    sh = D.shingle_df(d, "doc_id", "text")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("id").alias("id_a"), "sh")
    sb = sh.select(F.col("id").alias("id_b"), "sh")
    common = (
        sa.join(sb, ["sh"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    exact = (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .where(2 * F.col("c") >= F.col("na") + F.col("nb") - F.col("c"))
        .select(
            "id_a",
            "id_b",
            F.floor(
                (F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
                * 10000.0
                + F.lit(0.5)
            )
            .cast("long")
            .alias("j4"),
        )
    )
    cand = D.lsh_candidate_pairs(D.minhash_signature_df(sh)).withColumn(
        "hit", F.lit(1)
    )
    bucketed = (
        exact.join(cand, ["id_a", "id_b"], "left")
        .groupBy(F.expr("j4 div 500").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_detected"),
        )
    )
    return bucketed.select(
        (F.col("bucket") * 500).cast("long").alias("jaccard_lo_m4"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_detected").cast("long").alias("n_detected"),
        F.expr("(1000 * n_detected) div n_pairs").cast("long").alias("detection_milli"),
    )


@register(
    "dedup_aware_split",
    oracle=f"""
    WITH RECURSIVE pair_t AS MATERIALIZED ({D.sql_minhash_lsh_scaled(JACCARD_THRESHOLD)}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pair_t
      UNION
      SELECT id_b AS src, id_a AS dst FROM pair_t
    ),
    reach AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT e.src AS id, reach.r AS r
      FROM edges e JOIN reach ON e.dst = reach.id
    ),
    comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
    keyed AS (
      SELECT d.doc_id,
             CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
    SELECT doc_id, cluster_id,
           CASE WHEN h < 80 THEN 'train'
                WHEN h < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, cluster_id,
                 CAST(('0x' || substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 100 AS h
          FROM keyed)
    """,
    tags=("dedup", "llm-pipeline", "sampling", "iterative"),
)
def dedup_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-AWARE train/valid/test split — the leak-proof version of
    train_test_split: the hash key is the document's near-dup CLUSTER id
    (MinHash-LSH → exact verify → connected components; singletons key
    on their own id), so every member of a duplicate cluster lands in
    the SAME split by construction. This closes the evaluation leak
    split_leakage_audit measures: an id-hashed split scatters near-
    identical documents across train and test, inflating eval scores —
    the canonical LLM-benchmark bug. Same deterministic md5 80/10/10
    law as train_test_split, salted with 'split:' so cluster-keyed and
    id-keyed assignments are independent hash draws.

    Scale shape: rides the shared pair/component views (one LSH+
    star-contraction build per session, already audited), then a LEFT
    broadcast join of the component sliver onto the corpus and a
    per-row hash — scan-speed beyond the dedup pass itself. The
    invariant (no cluster straddles splits) is re-derived in tests."""
    from streamprocessing_spark.operators.dedup import _h32

    d = load_table(spark, sf_dir, "documents")
    comp = _components_view(spark, sf_dir).select(
        F.col("id").alias("doc_id"), "component"
    )
    keyed = d.select("doc_id").join(F.broadcast(comp), "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).cast("long").alias("cluster_id"),
    )
    h = _h32(F.concat(F.lit("split:"), F.col("cluster_id").cast("string"))) % 100
    return keyed.select(
        "doc_id",
        "cluster_id",
        F.when(h < 80, "train").when(h < 90, "valid").otherwise("test").alias("split"),
    )


_SQL_PARA_PAIRS = D.sql_minhash_lsh_scaled(
    JACCARD_THRESHOLD, table="paras", id_col="pid", pre=D.sql_paras()
)


def _para_pairs_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared paragraph near-dup pair set (id_a, id_b, jaccard)
    — the count-scaled MinHash tier over the paragraph relation,
    materialized once per (session, sf_dir) like _pairs_view: the
    duplication-profile query and the keep/emit query (round 9) compose
    this exact relation, and Catalyst does not CSE across query
    invocations."""

    def _build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        # merge hint (round 9, found at the ×100 proxy): Catalyst's
        # STATIC size estimate for the explode-derived paragraph
        # relation collapses (default 20-byte string width for the
        # derived ptext vs the parquet-anchored width of the source
        # scan), so every downstream join — including the band-bucket
        # SELF-join — planned BroadcastHashJoin and collected the whole
        # bucket relation to the driver (maxResultSize abort at ×100;
        # a real cluster driver would OOM). Every relation derived from
        # paragraphs is corpus-sized by construction, never a dimension:
        # force shuffle joins. With the hint the ×100 plan is 5
        # SortMergeJoins, zero broadcasts — the 100 TB-correct shape.
        paras = D.paragraph_df(d, "doc_id", "text")
        # count the UNHINTED relation (ADVICE r09): a hint on a plan
        # with no join makes Spark log 'hint not part of a join
        # relation' on every build, obscuring whether the load-bearing
        # anti-broadcast hint below attached
        n_paras = paras.count()
        return D.minhash_lsh_pairs_scaled(
            paras, "pid", "ptext", JACCARD_THRESHOLD, n_paras, merge_hint=True
        )

    return shared_view(spark, "parapairs", sf_dir, _build)


# The per-document paragraph-duplication profile over the parapairs
# relation — shared verbatim by the streaming ingest twin
# (streaming_paragraph_dedup_ingest), whose end state must equal this
# batch profile bit-for-bit.
SQL_PARA_PROFILE = f"""
    WITH pair_t AS ({_SQL_PARA_PAIRS}),
    {D.sql_paras()}
    counts AS (SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY doc_id),
    dups AS (SELECT DISTINCT id_b AS pid FROM pair_t),
    dd AS (SELECT pid // {D.PARA_ID_STRIDE} AS doc_id,
                  count(*) AS n_dup_paras
           FROM dups GROUP BY 1)
    SELECT c.doc_id,
           CAST(c.n_paras AS BIGINT) AS n_paras,
           CAST(d.n_dup_paras AS BIGINT) AS n_dup_paras,
           floor((d.n_dup_paras * 1.0 / c.n_paras) * 10000.0 + 0.5) / 10000.0
             AS dup_fraction
    FROM counts c JOIN dd d USING (doc_id)
    """


@register(
    "dedup_paragraph_minhash",
    oracle=SQL_PARA_PROFILE,
    tags=("dedup", "llm-pipeline", "lsh", "scale-tier"),
)
def dedup_paragraph_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAGRAPH-level MinHash dedup — CCNet's unit of near-duplication
    (Wenzek et al. 2020 §3.2: web-crawl boilerplate repeats per
    paragraph, not per page). Documents explode into deterministic
    PARA_TOKENS-token windows (the newline-free fixture's splitter
    fallback; operators/dedup.py paragraph_df), and the COUNT-SCALED
    MinHash tier (r(n)·b(r) banding, exact-Jaccard verify) runs
    unchanged over the paragraph relation — the (r, b) law derives from
    the PARAGRAPH count on both engines, so resolution follows the unit
    of dedup. A paragraph is a duplicate if it pairs at Jaccard ≥ 0.8
    with any LOWER pid (keep-first, the same canonical law as
    dedup_keep_canonical); output is the per-document duplication
    profile — the signal CCNet thresholds to drop boilerplate-heavy
    pages.

    Scale shape: the explode multiplies rows by ~tokens/25 but SHRINKS
    per-row text, so total shingle volume is unchanged; the scaled
    banding keeps candidates ~linear in paragraph count (inherited
    SCALEBENCH law, exponent ≤ the document tier's 0.644); everything
    downstream of the pair set is doc-count-sized.

    Serves the shared ``parapairs`` view — the keep/emit query
    (dedup_paragraph_keep) reuses the same pair build per session."""
    d = load_table(spark, sf_dir, "documents")
    paras = D.paragraph_df(d, "doc_id", "text")
    pairs = _para_pairs_view(spark, sf_dir)
    # merge hint: both sides are corpus-sized at 100 TB (one row per
    # doc), and the explode-derived stats undercount — see
    # _para_pairs_view's note on the ×100 broadcast cliff
    per_doc = paras.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras")
    ).hint("merge")
    dup_doc = (
        pairs.select(F.col("id_b").alias("pid"))
        .distinct()
        # integer division, not floor(double/): exact for all BIGINT
        # pids, where the double path loses exactness above ~2^53
        .groupBy(F.expr(f"pid div {D.PARA_ID_STRIDE}").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_paras"))
    )
    return per_doc.join(dup_doc, "doc_id").select(
        "doc_id",
        "n_paras",
        "n_dup_paras",
        T.portable_round(F.col("n_dup_paras") / F.col("n_paras"), 4).alias(
            "dup_fraction"
        ),
    )


@register(
    "contamination_matrix",
    oracle=f"""
    WITH pair_t AS ({D.sql_minhash_lsh_scaled(JACCARD_THRESHOLD)}),
    sp AS ({_SQL_SPLIT}),
    edges AS (SELECT id_a AS a, id_b AS b FROM pair_t
              UNION ALL
              SELECT id_b AS a, id_a AS b FROM pair_t),
    cont AS (SELECT DISTINCT f.split AS split_from, t.split AS split_to, e.b AS doc_to
             FROM edges e
             JOIN sp f ON f.doc_id = e.a
             JOIN sp t ON t.doc_id = e.b),
    cells AS (SELECT split_from, split_to, count(*) AS n FROM cont GROUP BY 1, 2),
    grid AS (SELECT f.s AS split_from, t.s AS split_to
             FROM (VALUES ('train'), ('valid'), ('test')) f(s),
                  (VALUES ('train'), ('valid'), ('test')) t(s)),
    sizes AS (SELECT split, count(*) AS sz FROM sp GROUP BY 1)
    SELECT g.split_from, g.split_to,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_contaminated,
           CAST(coalesce(s.sz, 0) AS BIGINT) AS split_size,
           floor((coalesce(c.n, 0) * 1.0 / nullif(s.sz, 0)) * 1000000.0 + 0.5)
             / 1000000.0 AS contamination_rate
    FROM grid g
    LEFT JOIN cells c ON c.split_from = g.split_from AND c.split_to = g.split_to
    LEFT JOIN sizes s ON s.split = g.split_to
    """,
    tags=("dedup", "llm-pipeline", "lsh", "quality"),
)
def contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SPLIT CONTAMINATION MATRIX — the dense directional 3×3
    generalization of split_leakage_audit: for every ordered
    (split_from, split_to) cell, the number of DISTINCT documents in
    split_to with a verified near-twin (MinHash-LSH ≥ 0.8, the shared
    cascade pair view) in split_from, that split's size, and the
    contamination RATE. The (train → test) cell is benchmark
    contamination (a test doc whose twin is trained on — the number an
    eval card must report); the diagonal is within-split duplication.
    All 9 cells are always present (zero-filled grid), so the matrix is
    non-vacuous at every fixture scale and downstream tooling can rely
    on its shape.

    Scale shape: rides the shared count-scaled pair view (one LSH build
    per session); directional edges double a doc-pair-sized relation;
    the two split joins are broadcast-sized maps (md5 of doc_id — no
    shuffle of the corpus); output is a fixed 9-row grid."""
    d = load_table(spark, sf_dir, "documents")
    pairs = _pairs_view(spark, sf_dir)
    from streamprocessing_spark.operators.dedup import _h32

    h = _h32(F.col("doc_id").cast("string")) % 100
    sp = d.select(
        "doc_id",
        F.when(h < 80, "train").when(h < 90, "valid").otherwise("test").alias("split"),
    )
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")).unionAll(
        pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b"))
    )
    cont = (
        edges.join(
            sp.select(F.col("doc_id").alias("a"), F.col("split").alias("split_from")),
            "a",
        )
        .join(
            sp.select(F.col("doc_id").alias("b"), F.col("split").alias("split_to")),
            "b",
        )
        .select("split_from", "split_to", F.col("b").alias("doc_to"))
        .distinct()
    )
    cells = cont.groupBy("split_from", "split_to").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    splits = ["train", "valid", "test"]
    grid = spark.createDataFrame(
        [(a, b) for a in splits for b in splits], "split_from string, split_to string"
    )
    sizes = sp.groupBy(F.col("split").alias("split_to")).agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return (
        grid.join(cells, ["split_from", "split_to"], "left")
        .join(sizes, "split_to", "left")
        .select(
            "split_from",
            "split_to",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_contaminated"),
            F.coalesce(F.col("sz"), F.lit(0)).cast("long").alias("split_size"),
            T.portable_round(
                F.coalesce(F.col("n"), F.lit(0))
                / F.nullif(F.col("sz"), F.lit(0)),
                6,
            ).alias("contamination_rate"),
        )
    )


# The full containment pair relation — shared verbatim by the batch
# profile op and the streaming ingest twin (streaming_containment_ingest),
# whose end state must equal this batch relation bit-for-bit.
SQL_CONTAINMENT_PAIRS = f"""
    WITH ptoks AS (SELECT doc_id AS id, {T.SQL_TOKENS} AS t FROM documents),
    pos AS (SELECT id, i - 1 AS i, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
            FROM (SELECT id, t, unnest(range(1, len(t) - 1)) AS i
                  FROM ptoks WHERE len(t) >= 3)),
    sizes AS (SELECT id, count(*) AS n FROM pos GROUP BY id),
    m AS (SELECT a.id AS id_inner, b.id AS id_outer, b.i - a.i AS o,
                 count(*) AS matched
          FROM pos a JOIN pos b ON a.sh = b.sh AND a.id <> b.id
          GROUP BY 1, 2, 3)
    SELECT m.id_inner, m.id_outer,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(s.n AS BIGINT) AS n_shingles
    FROM m JOIN sizes s ON s.id = m.id_inner
    WHERE m.matched = s.n
    GROUP BY m.id_inner, m.id_outer, s.n
    """


@register(
    "dedup_substring_containment",
    oracle=SQL_CONTAINMENT_PAIRS,
    tags=("dedup", "llm-pipeline", "exact-tier"),
)
def dedup_substring_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring-containment dedup — the suffix-array law (Lee et
    al. 2022, ExactSubstr) expressed as a window over sorted positional
    (shingle, doc, pos) runs: document A's full token stream occurs
    CONTIGUOUSLY inside document B iff some offset o aligns every one
    of A's positional 3-shingles with an equal shingle in B (matched
    count at offset o == A's shingle count — each A-position contributes
    at most one match per offset, so equality is exact containment, not
    a bag overlap). Sits between the 8-gram span tiers
    (duplicate_span_coverage) and whole-doc fingerprints (dedup_exact):
    it catches truncations/quotations that set-Jaccard dilutes and exact
    hashing misses. Output is directional: (id_inner contained-in
    id_outer) with the occurrence count and A's shingle count; exact
    duplicates appear in both directions by construction.

    Scale shape: the positional self-join groups by shingle VALUE — the
    distributed form of a suffix array's sorted runs. Non-duplicated
    content has bounded shingle frequency (max 25 at sf0.1; join volume
    sum f² = 2.8M rows), so the join scales ~linearly with the corpus;
    frequency concentrates exactly on duplicated spans — the signal
    being mined. At 100 TB: pre-bucket pos by shingle hash, cap
    ultra-hot boilerplate shingles by frequency (they are dropped by
    ExactSubstr's implementations for the same reason), and the
    group-by-offset verify stays per-(pair) local."""
    return _containment_view(spark, sf_dir)


def _containment_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared directional containment pair set (id_inner,
    id_outer, n_occurrences, n_shingles) — the detection relation
    composed by both the profile query (dedup_substring_containment)
    and the keep/emit decision (dedup_containment_keep); Catalyst does
    not CSE across query invocations, so the positional-shingle
    self-join builds once per (session, sf_dir)."""
    return shared_view(
        spark,
        "contain",
        sf_dir,
        lambda: D.substring_containment_pairs(
            load_table(spark, sf_dir, "documents"), "doc_id", "text"
        ),
    )


# The containment CTE chain shared textually by the profile oracle above
# and the keep oracle below: cont(id_inner, id_outer) is the exact
# directional containment relation.
_SQL_CONT_CTES = f"""
    ptoks AS (SELECT doc_id AS id, {T.SQL_TOKENS} AS t FROM documents),
    pos AS (SELECT id, i - 1 AS i, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
            FROM (SELECT id, t, unnest(range(1, len(t) - 1)) AS i
                  FROM ptoks WHERE len(t) >= 3)),
    sizes AS (SELECT id, count(*) AS n FROM pos GROUP BY id),
    m AS (SELECT a.id AS id_inner, b.id AS id_outer, b.i - a.i AS o,
                 count(*) AS matched
          FROM pos a JOIN pos b ON a.sh = b.sh AND a.id <> b.id
          GROUP BY 1, 2, 3),
    cont AS (SELECT m.id_inner, m.id_outer
             FROM m JOIN sizes s ON s.id = m.id_inner
             WHERE m.matched = s.n
             GROUP BY m.id_inner, m.id_outer)"""


@register(
    "dedup_containment_keep",
    oracle=f"""
    WITH {_SQL_CONT_CTES},
    dropped AS (
      SELECT DISTINCT c.id_inner AS doc_id
      FROM cont c
      LEFT JOIN cont r ON r.id_inner = c.id_outer AND r.id_outer = c.id_inner
      WHERE r.id_inner IS NULL OR c.id_outer < c.id_inner),
    nc AS (SELECT id_inner AS doc_id, count(DISTINCT id_outer) AS n_containers
           FROM cont GROUP BY 1)
    SELECT d.doc_id,
           CAST(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept,
           CAST(coalesce(nc.n_containers, 0) AS BIGINT) AS n_containers
    FROM documents d
    LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
    LEFT JOIN nc ON nc.doc_id = d.doc_id
    """,
    tags=("dedup", "llm-pipeline", "exact-tier"),
)
def dedup_containment_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The containment EMIT decision — ExactSubstr's whole-document drop
    law (Lee et al. 2022 drop docs that occur verbatim inside another):
    a document is DROPPED iff it is contained in a STRICTLY larger
    document (containment one way only — mutual containment of token
    streams forces identical streams, since equal shingle counts plus a
    full per-offset alignment leave no slack), or in an identical twin
    with a smaller doc_id (the keep-lowest exact-dup tie-break every
    keep tier here uses). Content preservation is a theorem of the
    all-pairs relation: a dropped doc's container chain (strict
    containment raises length, mutual ties descend ids) terminates at a
    kept doc, and transitivity of contiguous occurrence puts that
    terminal pair in the relation itself — pinned by a law test. Output
    is one row per corpus document (doc_id, kept, n_containers), the
    manifest a curation pipeline anti-joins its corpus against.

    Scale shape: detection is the shared containment view (join volume
    Σf² concentrated on duplicated spans); the drop law adds one
    self-join of the PAIR SLIVER against itself on reversed keys plus a
    broadcast anti-probe of the corpus — the corpus text never moves."""
    d = load_table(spark, sf_dir, "documents")
    pairs = _containment_view(spark, sf_dir).select("id_inner", "id_outer")
    rev = pairs.select(
        F.col("id_inner").alias("r_inner"), F.col("id_outer").alias("r_outer")
    )
    dropped = (
        pairs.join(
            rev,
            (F.col("r_inner") == F.col("id_outer"))
            & (F.col("r_outer") == F.col("id_inner")),
            "left",
        )
        .where(F.col("r_inner").isNull() | (F.col("id_outer") < F.col("id_inner")))
        .select(F.col("id_inner").alias("doc_id"))
        .distinct()
    )
    nc = (
        pairs.groupBy(F.col("id_inner").alias("doc_id"))
        .agg(F.countDistinct("id_outer").cast("long").alias("n_containers"))
    )
    return (
        d.select("doc_id")
        .join(F.broadcast(dropped.withColumn("is_dropped", F.lit(1))), "doc_id", "left")
        .join(F.broadcast(nc), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_dropped").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("kept"),
            F.coalesce(F.col("n_containers"), F.lit(0)).cast("long").alias("n_containers"),
        )
    )


@register(
    "dedup_paragraph_keep",
    oracle=f"""
    WITH pair_t AS ({_SQL_PARA_PAIRS}),
    {D.sql_paras()}
    dups AS (SELECT DISTINCT id_b AS pid FROM pair_t),
    kept AS (SELECT p.doc_id, p.pid, p.text FROM paras p
             LEFT JOIN dups d ON d.pid = p.pid WHERE d.pid IS NULL),
    counts AS (SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY 1),
    agg AS (SELECT doc_id, count(*) AS n_kept,
                   string_agg(text, ' ' ORDER BY pid) AS kept_text
            FROM kept GROUP BY 1)
    SELECT c.doc_id,
           CAST(c.n_paras AS BIGINT) AS n_paras,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(a.kept_text, '') AS kept_text
    FROM counts c LEFT JOIN agg a USING (doc_id)
    """,
    tags=("dedup", "llm-pipeline", "lsh", "scale-tier"),
)
def dedup_paragraph_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet EMIT path (round 9): the cleaned corpus after
    paragraph-level dedup — every document re-assembled from only its
    KEPT paragraphs (keep-first law: a paragraph is dropped iff it
    pairs at Jaccard ≥ 0.8 with any LOWER pid, the shared ``parapairs``
    view), in window order, space-joined. dedup_paragraph_minhash is
    the per-doc duplication PROFILE; this is the artifact a training
    pipeline actually writes — documents whose boilerplate paragraphs
    were removed, including fully-deduplicated docs as empty strings
    (the row must survive so downstream joins see the doc's fate).

    Scale shape: one left-anti join of the paragraph relation against
    the pid-sized dup sliver, then a per-doc sort-aggregate over ~2
    paragraphs/doc — scan-speed beyond the shared pair build. At 100 TB
    the emit writes straight back out partitioned however the corpus
    was (the reconstruction never shuffles more than the corpus text
    once)."""
    d = load_table(spark, sf_dir, "documents")
    paras = D.paragraph_df(d, "doc_id", "text")
    dups = _para_pairs_view(spark, sf_dir).select(
        F.col("id_b").alias("pid")
    ).distinct()
    kept = paras.join(dups, "pid", "left_anti")
    counts = paras.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras")
    )
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pid", "ptext"))),
                lambda s: s.ptext,
            ),
            " ",
        ).alias("kept_text"),
    )
    # merge hint: counts and agg are both one-row-per-doc (corpus-sized
    # at 100 TB — never broadcastable); the anti-join above is left
    # unhinted so the pid-sized dup sliver broadcasts as it should
    return counts.hint("merge").join(agg, "doc_id", "left").select(
        "doc_id",
        "n_paras",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
    )


@register(
    "dedup_paragraph_keep_best",
    oracle=f"""
    WITH RECURSIVE pair_t AS MATERIALIZED ({_SQL_PARA_PAIRS}),
    {D.sql_paras()}
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pair_t
      UNION
      SELECT id_b AS src, id_a AS dst FROM pair_t
    ),
    reach AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT e.src AS id, reach.r AS r
      FROM edges e JOIN reach ON e.dst = reach.id
    ),
    comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
    tok AS (SELECT doc_id, len({T.SQL_TOKENS}) AS n_tokens FROM documents),
    memb AS (SELECT c.id AS pid, c.component, t.n_tokens
             FROM comp c
             JOIN paras p ON p.pid = c.id
             JOIN tok t ON t.doc_id = p.doc_id),
    losers AS (SELECT pid FROM (
       SELECT pid, row_number() OVER (PARTITION BY component
                                      ORDER BY n_tokens DESC, pid) AS rn
       FROM memb) WHERE rn > 1),
    kept AS (SELECT p.doc_id, p.pid, p.text FROM paras p
             LEFT JOIN losers l ON l.pid = p.pid WHERE l.pid IS NULL),
    counts AS (SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY 1),
    agg AS (SELECT doc_id, count(*) AS n_kept,
                   string_agg(text, ' ' ORDER BY pid) AS kept_text
            FROM kept GROUP BY 1)
    SELECT c.doc_id,
           CAST(c.n_paras AS BIGINT) AS n_paras,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(a.kept_text, '') AS kept_text
    FROM counts c LEFT JOIN agg a USING (doc_id)
    """,
    tags=("dedup", "llm-pipeline", "lsh", "iterative", "quality", "scale-tier"),
)
def dedup_paragraph_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-PRIORITY paragraph emit — dedup_paragraph_keep's keep-first
    law replaced by the law production crawls actually want (the
    paragraph-granularity sibling of dedup_keep_best_quality): within
    each paragraph near-dup CLUSTER (connected components of the shared
    ``parapairs`` relation — pairwise keep-first under-merges chains,
    the same reason the doc tier clusters first) keep the instance
    whose CONTAINING DOCUMENT has the most tokens (ties to the smallest
    pid) — boilerplate shared between a full page and its truncated
    mirror survives in the fuller page, so reassembled documents
    degrade from the worst copies first. Output contract matches
    dedup_paragraph_keep exactly: (doc_id, n_paras, n_kept, kept_text),
    fully-deduplicated docs surviving as empty strings.

    Scale shape: components + the argmax window run on the PAIR-GRAPH
    SLIVER only (cluster members joined to a doc-keyed token count;
    cluster-sized window partitions); the corpus pays the shared pair
    build, one broadcast anti-join against the loser sliver, and the
    per-doc reassembly sort-aggregate. Corpus-sized relations never
    broadcast (the paragraph merge-hint discipline, round 9)."""
    d = load_table(spark, sf_dir, "documents")
    paras = D.paragraph_df(d, "doc_id", "text")
    tok = d.select("doc_id", T.token_count(F.col("text")).alias("n_tokens"))
    comp = D.connected_components(_para_pairs_view(spark, sf_dir))
    # comp is the pair-graph sliver: broadcast it against the corpus-
    # sized paragraph relation (never the reverse — the round-9 cliff);
    # tok is corpus-sized too, so that join is forced to sort-merge
    memb = (
        F.broadcast(comp)
        .join(paras, comp["id"] == paras["pid"])
        .select("pid", "component", "doc_id")
        .join(tok.hint("merge"), "doc_id")
        .select("pid", "component", "n_tokens")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("component").orderBy(F.desc("n_tokens"), F.asc("pid"))
    losers = (
        memb.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .select("pid")
    )
    kept = paras.join(losers, "pid", "left_anti")
    counts = paras.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras")
    )
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pid", "ptext"))),
                lambda s: s.ptext,
            ),
            " ",
        ).alias("kept_text"),
    )
    # merge hint: counts and agg are both one-row-per-doc (corpus-sized
    # at 100 TB); the anti-join above broadcasts only the pid sliver
    return counts.hint("merge").join(agg, "doc_id", "left").select(
        "doc_id",
        "n_paras",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
    )


CDC_DIVISOR = 8  # expected content-defined chunk length (tokens)


# The per-document CDC duplication profile — shared verbatim by the
# batch tier (dedup_cdc_chunks) and the streaming ingest twin
# (streaming_cdc_chunks_ingest), whose end state must equal this batch
# profile bit-for-bit.
SQL_CDC_PROFILE = f"""
    WITH ptoks AS (SELECT doc_id, {T.SQL_TOKENS} AS t FROM documents),
    pos AS (SELECT doc_id,
                   CAST(unnest(range(1, len(t) + 1)) AS BIGINT) AS pos,
                   t[unnest(range(1, len(t) + 1))] AS tok
            FROM ptoks WHERE len(t) > 0),
    fl AS (SELECT doc_id, pos, tok,
                  CASE WHEN {D.sql_h32('tok')} % {CDC_DIVISOR} = 0
                       THEN 1 ELSE 0 END AS b
           FROM pos),
    ch AS (SELECT doc_id, pos, tok,
                  coalesce(sum(b) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
           FROM fl),
    chunks AS (SELECT doc_id, chunk_idx,
                      md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
               FROM ch GROUP BY 1, 2),
    marked AS (SELECT doc_id, chunk_idx,
                      row_number() OVER (PARTITION BY fp
                                         ORDER BY doc_id, chunk_idx) AS rn
               FROM chunks)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           floor((sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 1.0 / count(*))
                 * 10000.0 + 0.5) / 10000.0 AS dup_fraction
    FROM marked GROUP BY doc_id
    """


@register(
    "dedup_cdc_chunks",
    oracle=SQL_CDC_PROFILE,
    tags=("dedup", "llm-pipeline", "exact-tier"),
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING dedup — the storage-dedup law (Muthitacharoen
    et al. 2001, LBFS; the technique behind restic/borg/ZFS dedup and
    several crawl-pipeline chunk stores): a chunk boundary falls AFTER
    token i iff h32(token_i) % {CDC_DIVISOR} == 0 (plus end-of-doc), so
    boundaries are a pure function of LOCAL content — inserting a
    sentence reshapes only the chunk it lands in, where the fixed
    25-token windows of the paragraph tier shift EVERY downstream
    window (the shift-resistance that makes CDC the right unit for
    mirror/revision dedup). A chunk instance is a duplicate iff an
    earlier instance (smaller (doc_id, chunk_idx)) of the same
    fingerprint exists anywhere — keep-first, so
    Σ n_dup_chunks == total chunks − distinct fingerprints (the exact
    bytes a chunk store saves; conservation-tested). Output is the
    per-document profile (n_chunks, n_dup_chunks, dup_fraction).

    Scale shape: one posexplode (token-sized, skinny rows), a
    doc-partitioned running-sum window (no global sort), a doc-keyed
    sort-aggregate into ~n/{CDC_DIVISOR} chunks, then one
    fingerprint-keyed window over the CHUNK relation (16-byte keys —
    the text never shuffles twice). All integer/hash arithmetic, exact
    on both engines. Chunking law shared with the emit tier and the
    streaming ingest twin via operators.dedup.cdc_chunk_df."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    chunks = D.cdc_chunk_df(d, "doc_id", "text").withColumn(
        "fp", F.md5(F.col("ctext").cast("binary"))
    )
    w_fp = Window.partitionBy("fp").orderBy("doc_id", "chunk_idx")
    marked = chunks.withColumn("rn", F.row_number().over(w_fp))
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum((F.col("rn") > 1).cast("int")).cast("long").alias("n_dup_chunks"),
        T.portable_round(
            F.sum((F.col("rn") > 1).cast("int")) / F.count(F.lit(1)), 4
        ).alias("dup_fraction"),
    )


@register(
    "dedup_cdc_keep",
    oracle=f"""
    WITH ptoks AS (SELECT doc_id, {T.SQL_TOKENS} AS t FROM documents),
    pos AS (SELECT doc_id,
                   CAST(unnest(range(1, len(t) + 1)) AS BIGINT) AS pos,
                   t[unnest(range(1, len(t) + 1))] AS tok
            FROM ptoks WHERE len(t) > 0),
    fl AS (SELECT doc_id, pos, tok,
                  CASE WHEN {D.sql_h32('tok')} % {{CDC}} = 0
                       THEN 1 ELSE 0 END AS b
           FROM pos),
    ch AS (SELECT doc_id, pos, tok,
                  coalesce(sum(b) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
           FROM fl),
    chunks AS (SELECT doc_id, chunk_idx,
                      string_agg(tok, ' ' ORDER BY pos) AS ctext
               FROM ch GROUP BY 1, 2),
    marked AS (SELECT doc_id, chunk_idx, ctext,
                      row_number() OVER (PARTITION BY md5(ctext)
                                         ORDER BY doc_id, chunk_idx) AS rn
               FROM chunks),
    counts AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY 1),
    keptagg AS (SELECT doc_id, count(*) AS n_kept,
                       string_agg(ctext, ' ' ORDER BY chunk_idx) AS kept_text
                FROM marked WHERE rn = 1 GROUP BY doc_id)
    SELECT c.doc_id,
           CAST(c.n_chunks AS BIGINT) AS n_chunks,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(k.kept_text, '') AS kept_text
    FROM counts c LEFT JOIN keptagg k ON k.doc_id = c.doc_id
    """.replace("{CDC}", str(CDC_DIVISOR)),
    tags=("dedup", "llm-pipeline", "exact-tier"),
)
def dedup_cdc_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC EMIT path — completing the profile+emit pairing at every
    dedup granularity (document → dedup_keep_canonical/_best_quality,
    paragraph → dedup_paragraph_keep, span → dedup_substring_keep,
    chunk → this): every document re-assembled from only its KEPT
    content-defined chunks (keep-first: a chunk instance is dropped iff
    an earlier instance of the same fingerprint exists anywhere), in
    chunk order; fully-deduplicated docs survive as empty strings. This
    is the chunk-store materialization law — what survives IS the
    deduplicated storage; dedup_cdc_chunks is its accounting.

    Scale shape identical to the profile op (the chunks relation is
    shared machinery): token-sized running-sum window, doc-keyed chunk
    aggregate, 16-byte fp-keyed chunk window, then a doc-keyed
    reassembly sort-aggregate over ~n/{CDC_DIVISOR} chunks."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    chunks = D.cdc_chunk_df(d, "doc_id", "text")
    w_fp = Window.partitionBy(F.md5(F.col("ctext").cast("binary"))).orderBy(
        "doc_id", "chunk_idx"
    )
    marked = chunks.withColumn("rn", F.row_number().over(w_fp))
    counts = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks")
    )
    keptagg = (
        marked.where(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "ctext"))),
                    lambda s: s.ctext,
                ),
                " ",
            ).alias("kept_text"),
        )
    )
    return counts.join(keptagg, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
    )


@register(
    "decontaminate_substring",
    oracle=f"""
    WITH {_SQL_CONT_CTES},
    contn AS (SELECT m.id_inner, m.id_outer,
                     CAST(count(*) AS BIGINT) AS n_occurrences,
                     CAST(s.n AS BIGINT) AS n_shingles
              FROM m JOIN sizes s ON s.id = m.id_inner
              WHERE m.matched = s.n
              GROUP BY m.id_inner, m.id_outer, s.n),
    sp AS ({_SQL_SPLIT})
    SELECT c.id_outer AS train_id, c.id_inner AS eval_id,
           se.split AS eval_split, c.n_occurrences, c.n_shingles
    FROM contn c
    JOIN sp st ON st.doc_id = c.id_outer AND st.split = 'train'
    JOIN sp se ON se.doc_id = c.id_inner AND se.split IN ('valid', 'test')
    """,
    tags=("dedup", "llm-pipeline", "exact-tier", "quality"),
)
def decontaminate_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING decontamination — the strictest tier of the
    decontamination family (lexical n-gram hashing →
    decontaminate_hashed, paraphrase embeddings → decontaminate_semantic,
    translation → decontaminate_crosslingual, and now verbatim
    quotation): an eval document whose ENTIRE token stream occurs
    contiguously inside a training document is memorization risk in its
    purest form (Lee et al. 2022's motivating case — benchmark items
    quoted wholesale inside crawled pages; n-gram-overlap tiers dilute
    this signal across thresholds, containment states it exactly).
    Emits oriented evidence rows (train_id, eval_id, eval_split,
    n_occurrences, n_shingles) — drop/flag train_id, cite eval_id —
    from the SHARED containment view filtered through the hash-split
    map: detection cost is paid once per session across the three
    containment consumers (profile, keep, decon).

    Scale shape: the containment view's Σf² law, then two broadcast
    probes of the corpus-keyed split map against the pair SLIVER."""
    from streamprocessing_spark.operators.dedup import _h32

    d = load_table(spark, sf_dir, "documents")
    h = _h32(F.col("doc_id").cast("string")) % 100
    sp = d.select(
        "doc_id",
        F.when(h < 80, "train").when(h < 90, "valid").otherwise("test").alias("split"),
    )
    pairs = _containment_view(spark, sf_dir)
    tr = sp.where(F.col("split") == "train").select(F.col("doc_id").alias("t_id"))
    ev = sp.where(F.col("split") != "train").select(
        F.col("doc_id").alias("e_id"), F.col("split").alias("eval_split")
    )
    return (
        pairs.join(tr, pairs.id_outer == tr.t_id)
        .join(ev, pairs.id_inner == ev.e_id)
        .select(
            F.col("id_outer").alias("train_id"),
            F.col("id_inner").alias("eval_id"),
            "eval_split",
            "n_occurrences",
            "n_shingles",
        )
    )
