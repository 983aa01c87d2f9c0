"""Text-analysis queries over the documents table (north-star extension:
the text side of a training-data pipeline). All pure Catalyst expressions;
oracles re-express the identical arithmetic in DuckDB SQL."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streamprocessing_spark.functions import text as T
from streamprocessing_spark.registry import register
from streamprocessing_spark.sources.readers import load_table
from streamprocessing_spark.shipping import ensure_shippable, guard_zip_caches

_SQL_TOKENS = T.SQL_TOKENS


def _sql_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
    return f"len(list_filter({_SQL_TOKENS}, t -> list_contains([{words}], t)))"


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id, CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens
    FROM documents
    """,
    tags=("text", "llm-pipeline"),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace/punct-agnostic word regex) — the basic
    sizing op for corpus curation."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.token_count(F.col("text")).alias("n_tokens"))


@register(
    "text_lang_id",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, text,
             {_sql_hits('en')} AS en, {_sql_hits('de')} AS de,
             {_sql_hits('fr')} AS fr, {_sql_hits('es')} AS es
      FROM documents
    )
    SELECT doc_id,
      CASE
        WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
        WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        WHEN fr >= es AND fr > 0 THEN 'fr'
        WHEN es > 0 THEN 'es'
        ELSE 'und'
      END AS lang_pred
    FROM h
    """,
    tags=("text", "llm-pipeline"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language stopword hit counts, fixed-order
    argmax, CJK short-circuit. Pure expressions — runs at scan speed. The
    token array and hit counts are materialized in staged projections so
    the tokenizer runs once per row, not once per CASE comparison."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("doc_id", "text", T.tokens(F.col("text")).alias("t"))
    hit_cols = {
        lang: T.stopword_hits(F.col("t"), lang).alias(f"hits_{lang}") for lang in T.STOPWORDS
    }
    scored = toked.select("doc_id", "text", *hit_cols.values())
    hits = {lang: F.col(f"hits_{lang}") for lang in T.STOPWORDS}
    return scored.select("doc_id", T.lang_pick(hits, F.col("text")).alias("lang_pred"))


@register(
    "text_quality_score",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, text,
             len({_SQL_TOKENS}) AS n_tok,
             {_sql_hits('en')} AS stop_hits
      FROM documents
    )
    SELECT doc_id,
      floor((
        0.4 * least(1.0, n_tok / 100.0)
        + 0.4 * least(1.0, (CASE WHEN n_tok > 0 THEN stop_hits / CAST(n_tok AS DOUBLE) ELSE 0.0 END) / 0.4)
        + 0.2 * (CASE WHEN length(text) > 0
                      THEN length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) / CAST(length(text) AS DOUBLE)
                      ELSE 0.0 END)
      ) * 10000.0 + 0.5) / 10000.0 AS quality
    FROM s
    """,
    tags=("text", "llm-pipeline"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface-statistics quality scoring (length / stopword ratio / alpha
    ratio composite) — the cheap pre-filter before expensive model-based
    scoring in a curation pipeline. Stats materialized once per row."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("doc_id", "text", T.tokens(F.col("text")).alias("t"))
    stats = toked.select(
        "doc_id",
        F.size(F.col("t")).alias("n_tok"),
        T.stopword_hits(F.col("t"), "en").alias("stop_hits"),
        F.length(F.col("text")).alias("n_chars"),
        T.alpha_count(F.col("text")).alias("n_alpha"),
    )
    return stats.select(
        "doc_id",
        T.quality_from_stats(
            F.col("n_tok"), F.col("stop_hits"), F.col("n_chars"), F.col("n_alpha")
        ).alias("quality"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
    tags=("text", "llm-pipeline", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical md5 fingerprint of normalized text — the exact-dedup key
    (group on fp instead of the full text: shuffle carries 16 bytes/row)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


@register(
    "udtf_bigrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    )
    SELECT doc_id,
           t[i] || ' ' || t[i+1] AS bigram,
           CAST(i - 1 AS INTEGER) AS pos
    FROM toks, unnest(range(1, greatest(len(t), 1))) AS u(i)
    WHERE len(t) >= 2
    """,
    tags=("text", "llm-pipeline", "udtf"),
)
def udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) emitting positional bigrams per
    document — the UDTF surface the reference lacks; used via a lateral
    join. (The same result is expressible declaratively with
    transform+explode; the point here is the arbitrary-code table-function
    contract.)"""
    from pyspark.sql.functions import lit, udtf

    ensure_shippable()

    @udtf(returnType="bigram: string, pos: int")
    class Bigrams:
        def __init__(self) -> None:
            guard_zip_caches()

        def eval(self, doc_id: int, text: str):
            import re

            toks = re.findall(r"[a-z0-9]+", (text or "").lower())
            for i in range(len(toks) - 1):
                yield f"{toks[i]} {toks[i + 1]}", i

    spark.udtf.register("sp_bigrams", Bigrams)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("sp_docs_udtf")
    return spark.sql(
        "SELECT d.doc_id, b.bigram, b.pos "
        "FROM sp_docs_udtf d, LATERAL sp_bigrams(d.doc_id, d.text) b"
    )


@register(
    "vocabulary_topk",
    oracle=f"""
    SELECT word, cnt FROM (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt,
             row_number() OVER (ORDER BY count(*) DESC, word) AS rn
      FROM (SELECT unnest({_SQL_TOKENS}) AS word FROM documents)
      GROUP BY word
    ) WHERE rn <= 50
    """,
    tags=("text", "llm-pipeline", "topk"),
)
def vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 tokens by frequency (tokenizer-training /
    BPE-prep primitive). Explode → count → TakeOrdered; deterministic
    tiebreak on the word."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(T.tokens(F.col("text"))).alias("word"))
    return (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(50)
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             floor(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)) * 10000.0 + 0.5) / 10000.0 AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, CAST(rn AS BIGINT) AS rank FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rn
      FROM scored)
    WHERE rn <= 3
    """,
    tags=("text", "llm-pipeline", "aggregate"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (idf = ln((N+1)/(df+1))) — the
    keyword-extraction / relevance-weighting primitive. Two aggregations
    (doc×term counts, then per-term doc frequency) + one join on term;
    at scale the df table is vocabulary-sized — usually broadcastable,
    left to AQE here. The window's ORDER BY uses the ROUNDED score so
    the rank cut is engine-portable (ties resolve on the term)."""
    from streamprocessing_spark.partitioning import fan_out

    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    # fan the single-split scan out: tokenize + explode run before the
    # first aggregation's shuffle, i.e. at scan parallelism
    toks = fan_out(d, "doc_id").select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_, "term").select(
        "doc_id",
        "term",
        T.portable_round(
            F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)), 4
        ).alias("tfidf"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.select(
            "doc_id", "term", "tfidf", F.row_number().over(w).cast("long").alias("rank")
        ).where(F.col("rank") <= 3)
    )


@register(
    "train_test_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN h < 80 THEN 'train'
                WHEN h < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS h
          FROM documents)
    """,
    tags=("text", "llm-pipeline", "sampling"),
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test assignment by hashing the
    document id (md5 → bucket 0-99) — the reproducible-split primitive
    for training pipelines: no RNG, no seed files, stable under
    re-partitioning and re-runs, and any engine recomputes the identical
    assignment (the property random() splits lose). Pure per-row
    expression — scan-speed at any scale."""
    from streamprocessing_spark.operators.dedup import _h32

    d = load_table(spark, sf_dir, "documents")
    h = _h32(F.col("doc_id").cast("string")) % 100
    return d.select(
        "doc_id",
        F.when(h < 80, "train").when(h < 90, "valid").otherwise("test").alias("split"),
    )


@register(
    "doc_length_histogram",
    oracle=f"""
    SELECT CAST(least(len({_SQL_TOKENS}) // 10, 9) AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1
    """,
    tags=("text", "llm-pipeline", "aggregate"),
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (10-token buckets, capped at bucket 9) —
    the curation dashboard primitive."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.least(F.floor(T.token_count(F.col("text")) / 10), F.lit(9)).cast("int")
    return d.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "pii_redact_docs",
    oracle="""
    WITH enriched AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                  || ' ref ' || CAST(doc_id * 7919 AS VARCHAR) AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                + len(regexp_extract_all(t, '\\+?[0-9][0-9()\\s.-]{6,}[0-9]'))
                AS BIGINT) AS n_redactions,
           regexp_replace(
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                            '<EMAIL>', 'g'),
             '\\+?[0-9][0-9()\\s.-]{6,}[0-9]', '<PHONE>', 'g') AS redacted
    FROM enriched
    """,
    tags=("text", "llm-pipeline"),
)
def pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails + phone-like digit runs → placeholder
    tokens) with a per-doc redaction count — the scrub step every
    training-data pipeline runs before release. The corpus has no PII,
    so deterministic synthetic contact strings are appended first (same
    construction in both engines); the patterns use only regex syntax
    shared by Java and RE2. Pure codegen'd projections, zero shuffle.

    Order matters: emails are redacted FIRST so the phone pattern can't
    eat the digits inside an address's local part."""
    d = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        F.lit(" ref "),
        (F.col("doc_id") * 7919).cast("string"),
    )
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+?[0-9][0-9()\s.-]{6,}[0-9]"
    enriched = d.select("doc_id", t.alias("t"))
    return enriched.select(
        "doc_id",
        (F.regexp_count("t", F.lit(email)) + F.regexp_count("t", F.lit(phone)))
        .cast("long")
        .alias("n_redactions"),
        F.regexp_replace(
            F.regexp_replace("t", email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("redacted"),
    )


RARE_FREQ_CUTOFF = 3  # corpus frequency below which a token counts as rare


@register(
    "token_rarity_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({T.SQL_TOKENS}) AS tok FROM documents
    ),
    cf AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(c) AS BIGINT) AS sum_freq,
           CAST(sum(CASE WHEN c < {RARE_FREQ_CUTOFF} THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
           floor(CAST(sum(CASE WHEN c < {RARE_FREQ_CUTOFF} THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) * 1000000.0 + 0.5) / 1000000.0 AS rare_frac
    FROM toks t JOIN cf USING (tok)
    GROUP BY t.doc_id
    """,
    tags=("text", "llm-pipeline", "quality"),
)
def token_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency quality signal per document — the integer-exact
    stand-in for unigram-LM perplexity scoring (CCNet-style): documents
    dominated by tokens the corpus has never seen (OCR noise, boilerplate
    hashes, mojibake) surface as a high rare-token fraction, and
    sum_freq/n_tokens is the mean token commonness. All aggregates are
    exact integer sums — fully engine-portable, unlike log-prob sums
    whose float accumulation is order-dependent.

    Two passes over the token stream, both linear: (1) corpus term
    frequencies (groupBy token — map-side combined, shuffle carries the
    vocabulary, Zipf-small relative to the corpus); (2) tokens join the
    frequency table (vocabulary is the broadcast-or-AQE small side) and
    re-aggregate per document. At 100 TB the frequency table is the only
    shared state and it's orders of magnitude smaller than the text."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
    cf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        toks.join(cf, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("c").alias("sum_freq"),
            F.sum(F.when(F.col("c") < RARE_FREQ_CUTOFF, 1).otherwise(0)).alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_freq",
            "n_rare",
            (
                F.floor(
                    F.col("n_rare").cast("double") / F.col("n_tokens") * 1000000.0 + 0.5
                )
                / 1000000.0
            ).alias("rare_frac"),
        )
    )


COOC_VOCAB = 100  # top-N document-frequency vocabulary for co-occurrence
COOC_MIN_SUPPORT = 5


@register(
    "token_cooccurrence_lift",
    oracle=f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, unnest({T.SQL_TOKENS}) AS tok FROM documents
    ),
    df_t AS (SELECT tok, count(*) AS n FROM dt GROUP BY tok),
    vocab AS (
      SELECT tok, n FROM (
        SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS r FROM df_t)
      WHERE r <= {COOC_VOCAB}
    ),
    dv AS (SELECT dt.doc_id, dt.tok FROM dt JOIN vocab USING (tok)),
    tot AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_ab
      FROM dv a JOIN dv b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2
    )
    SELECT tok_a, tok_b, n_ab,
           floor(CAST(n_ab AS DOUBLE) * t.n_docs / (va.n * vb.n)
                 * 1000000.0 + 0.5) / 1000000.0 AS lift
    FROM pairs
    JOIN vocab va ON va.tok = tok_a
    JOIN vocab vb ON vb.tok = tok_b
    CROSS JOIN tot t
    WHERE n_ab >= {COOC_MIN_SUPPORT}
    """,
    tags=("text", "llm-pipeline", "graph"),
)
def token_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence association over the top-{COOC_VOCAB}
    document-frequency vocabulary: lift = P(a,b)/(P(a)P(b)) per token
    pair at document granularity — exp(PMI) over exact integer counts,
    the topic/collocation-mining primitive (PMI itself is ln(lift); the
    exponentiated form keeps the arithmetic to one portable IEEE
    division instead of engine-specific ln rounding).

    Scale: the vocabulary cap bounds the pair join — per-doc work is
    O(min(v_doc, V)²) with V = {COOC_VOCAB} broadcast to the scan, so
    the shuffle carries doc×vocab hits, never raw text or unbounded
    token pairs. Same skeleton as copurchase_lift (order-keyed pair
    self-join, broadcast marginals)."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    # three consumers (vocab aggregate, both pair-join sides) — materialize
    # the tokenize+distinct projection once instead of re-scanning and
    # re-tokenizing the corpus per consumer (same pattern as
    # graph.copurchase_lift's order/part projection)
    # (round-10 note: a fan_out on the tokenize head was tried and
    # REVERTED — repartitioning the full text before the explode cost
    # more than the single-core explode saved, 1.37 → 1.87 s at sf0.1;
    # the distinct's own shuffle already parallelizes everything after
    # the head.)
    dt = (
        d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    df_t = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    # top-K vocab as orderBy+limit (TakeOrdered: per-partition partial
    # top-K merged on the driver) — the vocabulary is Heaps-law-unbounded,
    # so the global row_number window this replaced was a vocab-sized
    # single task (round-5 global-window audit)
    vocab = df_t.orderBy(F.desc("n"), F.asc("tok")).limit(COOC_VOCAB).select("tok", "n")
    dv = dt.join(F.broadcast(vocab.select("tok")), "tok").select("doc_id", "tok")
    tot = d.select(F.countDistinct("doc_id").alias("n_docs"))
    a = dv.select(F.col("doc_id").alias("d"), F.col("tok").alias("tok_a"))
    b = dv.select(F.col("doc_id").alias("d"), F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, (F.col("tok_a") < F.col("tok_b")) & (a.d == b.d))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= COOC_MIN_SUPPORT)
    )
    va = vocab.select(F.col("tok").alias("tok_a"), F.col("n").alias("na"))
    vb = vocab.select(F.col("tok").alias("tok_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(va), "tok_a")
        .join(F.broadcast(vb), "tok_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            (
                F.floor(
                    F.col("n_ab").cast("double")
                    * F.col("n_docs")
                    / (F.col("na") * F.col("nb"))
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("lift"),
        )
    )


BM25_TERMS = ("hash", "join", "filter")
BM25_TOP = 20

# Both the oracle's IN-list and its fixed-order term sum are GENERATED
# from BM25_TERMS so the constant stays the single source of truth —
# the Spark aggregate below folds the same tuple in the same order.
_BM25_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)
_BM25_SQL_SUM = "\n             + ".join(
    f"coalesce(max(CASE WHEN tok = '{t}' THEN sc END), 0.0)" for t in BM25_TERMS
)


# The BM25 scoring CTE chain (through `tot` = (doc_id, raw score s)) is
# shared between the standalone ranking and the RRF fusion oracle.
_BM25_CTES = f"""toks AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM toks WHERE tok IN ({_BM25_IN}) GROUP BY 1, 2),
    df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    per AS (
      SELECT tf.doc_id, tf.tok,
             ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
                                 / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))) AS sc
      FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats s),
    tot AS (
      SELECT doc_id,
             {_BM25_SQL_SUM} AS s
      FROM per GROUP BY doc_id)"""


@register(
    "bm25_rank_docs",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT doc_id, round(s, 4) AS score
    FROM tot ORDER BY round(s, 4) DESC, doc_id LIMIT {BM25_TOP}
    """,
    tags=("text", "llm-pipeline", "ranking"),
)
def bm25_rank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance ranking (k1 = 1.2, b = 0.75) of the corpus against
    the fixed BM25_TERMS query (hash, join, filter) — the lexical-retrieval
    primitive for RAG / retrieval-pipeline curation.

    Determinism: tf, df, dl, N are exact integers; every float step is
    the same literal IEEE expression in both engines. The per-term
    scores are summed in a FIXED order (one conditional aggregate per
    query term, added left-to-right) because a float SUM() across terms
    would be accumulation-order-dependent. ln() appears on only
    len(terms) distinct rational inputs — engine libm agreement on
    those specific values is asserted by the oracle comparison itself.

    Shape: one explode+count pass for tf and dl (shared scan), df and
    the corpus stats are broadcast single-row/handful tables, the final
    top-BM25_TOP (20) is orderBy+limit (distributed TakeOrdered, no global
    sort)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        toks.where(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    sc = (
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        * F.col("tf")
        * 2.2
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / avgdl))
    )
    per = (
        tf.join(F.broadcast(df_t), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "tok", sc.alias("sc"))
    )

    def term(t: str):
        return F.coalesce(
            F.max(F.when(F.col("tok") == t, F.col("sc"))), F.lit(0.0)
        )

    total = term(BM25_TERMS[0])
    for t in BM25_TERMS[1:]:
        total = total + term(t)
    tot = per.groupBy("doc_id").agg(total.alias("s"))
    return (
        tot.select("doc_id", F.round(F.col("s"), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(BM25_TOP)
    )


BPE_TOP_PAIRS = 20


@register(
    "bpe_merge_pair_counts",
    oracle=f"""
    WITH words AS (
      SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_SQL_TOKENS}) AS tok FROM documents)
      GROUP BY tok),
    pairs AS (
      SELECT substr(word, i, 2) AS pair, cnt
      FROM words, unnest(range(1, length(word))) AS u(i)
      WHERE length(word) >= 2)
    SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT {BPE_TOP_PAIRS}
    """,
    tags=("text", "llm-pipeline", "tokenizer"),
)
def bpe_merge_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge step of tokenizer training: corpus-weighted
    counts of adjacent character pairs, top-BPE_TOP_PAIRS (20) — the pair
    with the max count is the first merge a byte-pair encoder learns.

    Scale shape: the heavy text scan collapses to the DISTINCT word
    vocabulary with counts FIRST (one shuffle of (word, count) — the
    vocabulary is tiny relative to the corpus), then the char-pair
    explosion runs over vocabulary entries only, weighted by the counts:
    the classic word-count-then-symbol-statistics factoring every BPE
    trainer uses. All integers; deterministic (count, pair) ordering."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.length("word") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_TOP_PAIRS)
    )


CHUNK_W = 32  # tokens per training chunk
CHUNK_S = 24  # stride (8-token overlap between adjacent chunks)


@register(
    "chunk_documents_windows",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS} AS t, len({_SQL_TOKENS}) AS n
      FROM documents),
    starts AS (
      SELECT doc_id, t, n, CAST(unnest(range(0, n, {CHUNK_S})) AS BIGINT) AS start
      FROM toks WHERE n > 0)
    SELECT doc_id,
           CAST(start // {CHUNK_S} AS BIGINT) AS chunk_id,
           start AS start_tok,
           CAST(least(n - start, {CHUNK_W}) AS BIGINT) AS chunk_tokens,
           array_to_string(list_slice(t, start + 1, start + {CHUNK_W}), ' ')
             AS chunk_text
    FROM starts
    """,
    tags=("text", "llm-pipeline", "flatmap"),
)
def chunk_documents_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunker: split every document into 32-token
    windows with stride 24 (adjacent chunks overlap by 8 tokens so
    no training span straddles a hard cut) — the standard pre-tokenizer
    step between curation and sequence packing. Output one row per
    (doc, chunk) with its position, length, and re-joined text.

    Pure flatMap shape: tokens are materialized ONCE per row, the start
    offsets come from an in-row `sequence`, and the chunk text is an
    array_slice + join — all Catalyst expressions, no Python, no
    shuffle at all (narrow transform of the scan; at 100 TB this runs at
    I/O speed and composes with pack_documents_greedy downstream, which
    packs the resulting chunks per shard). Byte-exact oracle: both
    engines slice the same canonical token array."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", T.tokens(F.col("text")).alias("t"), T.token_count(F.col("text")).alias("n")
    ).where(F.col("n") > 0)
    return toks.select(
        "doc_id",
        F.explode(F.expr(f"sequence(CAST(0 AS BIGINT), n - 1, {CHUNK_S})")).alias("start"),
        F.col("t"),
        F.col("n"),
    ).select(
        "doc_id",
        F.expr(f"start div {CHUNK_S}").cast("long").alias("chunk_id"),
        F.col("start").alias("start_tok"),
        F.least(F.col("n") - F.col("start"), F.lit(CHUNK_W)).cast("long").alias("chunk_tokens"),
        F.array_join(F.expr(f"slice(t, CAST(start + 1 AS INT), {CHUNK_W})"), " ").alias(
            "chunk_text"
        ),
    )


@register(
    "lang_id_confusion",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang, text,
             {_sql_hits('en')} AS en, {_sql_hits('de')} AS de,
             {_sql_hits('fr')} AS fr, {_sql_hits('es')} AS es
      FROM documents
    ),
    pred AS (
      SELECT lang,
        CASE
          WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
          WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
          WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
          WHEN fr >= es AND fr > 0 THEN 'fr'
          WHEN es > 0 THEN 'es'
          ELSE 'und'
        END AS lang_pred
      FROM h)
    SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY lang, lang_pred
    """,
    tags=("text", "llm-pipeline", "quality", "aggregate"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval primitive: the confusion matrix of the stopword
    language-ID heuristic against the corpus's labeled lang column —
    (label, prediction, count). The per-class error profile a pipeline
    inspects before trusting a cheap filter model at 100 TB; the same
    shape evaluates any row-level classifier (quality gates, toxicity
    filters) against a labeled sample. One scan + one groups-sized
    aggregation."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("lang", "text", T.tokens(F.col("text")).alias("t"))
    hit_cols = {
        lang: T.stopword_hits(F.col("t"), lang).alias(f"hits_{lang}") for lang in T.STOPWORDS
    }
    scored = toked.select("lang", "text", *hit_cols.values())
    hits = {lang: F.col(f"hits_{lang}") for lang in T.STOPWORDS}
    return (
        scored.select("lang", T.lang_pick(hits, F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


@register(
    "annotator_agreement_kappa",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang, text,
             {_sql_hits('en')} AS en, {_sql_hits('de')} AS de,
             {_sql_hits('fr')} AS fr, {_sql_hits('es')} AS es
      FROM documents
    ),
    pred AS (
      SELECT lang,
        CASE
          WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
          WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
          WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
          WHEN fr >= es AND fr > 0 THEN 'fr'
          WHEN es > 0 THEN 'es'
          ELSE 'und'
        END AS lang_pred
      FROM h),
    conf AS (SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY 1, 2),
    tot AS (SELECT sum(n) AS n_docs,
                   sum(CASE WHEN lang IS NOT DISTINCT FROM lang_pred
                            THEN n ELSE 0 END) AS n_agree
            FROM conf),
    rowm AS (SELECT lang AS cls, sum(n) AS rn FROM conf GROUP BY 1),
    colm AS (SELECT lang_pred AS cls, sum(n) AS cn FROM conf GROUP BY 1),
    pe AS (SELECT sum(COALESCE(r.rn, 0) * COALESCE(c.cn, 0)) AS pe_num
           FROM rowm r FULL JOIN colm c ON r.cls IS NOT DISTINCT FROM c.cls)
    SELECT CAST(t.n_docs AS BIGINT) AS n_docs,
           CAST(t.n_agree AS BIGINT) AS n_agree,
           CAST((1000 * t.n_agree) // t.n_docs AS BIGINT) AS po_milli,
           CAST((1000 * p.pe_num) // (t.n_docs * t.n_docs) AS BIGINT) AS pe_milli,
           CAST(CASE WHEN t.n_docs * t.n_docs <> p.pe_num
                THEN (1000 * (t.n_docs * t.n_agree - p.pe_num))
                     // (t.n_docs * t.n_docs - p.pe_num) END AS BIGINT)
             AS kappa_milli
    FROM tot t, pe p
    """,
    tags=("text", "llm-pipeline", "quality", "statistics"),
)
def annotator_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ between two 'annotators' of the corpus — the declared
    ``lang`` column vs the stopword language-ID heuristic — the
    inter-annotator-agreement audit every labeling/preference-data
    pipeline runs before trusting its raters (κ corrects raw agreement
    for the agreement two raters would reach by CHANCE from their
    marginal label rates; Landis-Koch reads ≥0.61 as substantial).

    Exact integer arithmetic throughout: with N docs, A agreements and
    pe_num = Σ_k row_k·col_k, κ·1000 = 1000·(N·A − pe_num) div
    (N² − pe_num) — no float ever forms, so the row hash-matches
    bit-for-bit. NULL labels are a legal rater output: they group as
    their own class (null-safe marginal join), and NULL ≠ anything means
    they never count as agreement on either engine. Scale shape: one
    corpus scan → class²-sized confusion matrix → class-sized marginals;
    everything after the first aggregate is dimension-sized. Degenerate
    guard: pe = 1 (single-class raters) yields NULL κ rather than 0/0."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("lang", "text", T.tokens(F.col("text")).alias("t"))
    hits = {
        lang: T.stopword_hits(F.col("t"), lang).alias(f"hits_{lang}")
        for lang in T.STOPWORDS
    }
    scored = toked.select("lang", "text", *hits.values())
    hit_cols = {lang: F.col(f"hits_{lang}") for lang in T.STOPWORDS}
    conf = (
        scored.select("lang", T.lang_pick(hit_cols, F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # class²-sized; three consumers
    )
    tot = conf.agg(
        F.sum("n").alias("n_docs"),
        F.sum(
            F.when(F.col("lang").eqNullSafe(F.col("lang_pred")), F.col("n")).otherwise(0)
        ).alias("n_agree"),
    )
    rowm = conf.groupBy(F.col("lang").alias("cls")).agg(F.sum("n").alias("rn"))
    colm = conf.groupBy(F.col("lang_pred").alias("cls2")).agg(F.sum("n").alias("cn"))
    pe = (
        rowm.join(colm, F.col("cls").eqNullSafe(F.col("cls2")), "full")
        .agg(
            F.sum(
                F.coalesce(F.col("rn"), F.lit(0)) * F.coalesce(F.col("cn"), F.lit(0))
            ).alias("pe_num")
        )
    )
    return (
        tot.crossJoin(F.broadcast(pe))
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_agree").cast("long").alias("n_agree"),
            F.expr("CAST((1000 * n_agree) div n_docs AS BIGINT)").alias("po_milli"),
            F.expr("CAST((1000 * pe_num) div (n_docs * n_docs) AS BIGINT)").alias("pe_milli"),
            F.expr(
                "CAST(CASE WHEN n_docs * n_docs <> pe_num THEN "
                "(1000 * (n_docs * n_agree - pe_num)) div (n_docs * n_docs - pe_num) "
                "END AS BIGINT)"
            ).alias("kappa_milli"),
        )
    )


# --- count-min sketch heavy hitters -----------------------------------
CM_D = 4          # hash rows
CM_W = 256        # buckets per row: ~961 distinct bigrams -> real collisions
CM_PHI_INV = 1000  # report keys with estimate >= ceil(N / CM_PHI_INV)

_SQL_BIGRAMS = (
    "list_transform(generate_series(1, len(t) - 1), "
    "i -> t[i] || ' ' || t[i + 1])"
)


@register(
    "countmin_heavy_hitters",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
    ),
    big AS MATERIALIZED (
      SELECT unnest({_SQL_BIGRAMS}) AS bigram
      FROM toks WHERE len(t) >= 2
    ),
    cnt AS MATERIALIZED (
      SELECT bigram, CAST(count(*) AS BIGINT) AS n_exact FROM big GROUP BY bigram
    ),
    tot AS MATERIALIZED (SELECT sum(n_exact) AS n FROM cnt),
    cells AS MATERIALIZED (
      SELECT i, CAST(('0x' || substr(md5('cm' || i || ':' || bigram), 1, 8))
                     AS BIGINT) % {CM_W} AS bucket,
             bigram, n_exact
      FROM cnt, (SELECT unnest(generate_series(0, {CM_D} - 1)) AS i) r
    ),
    sketch AS MATERIALIZED (
      SELECT i, bucket, sum(n_exact) AS cell FROM cells GROUP BY i, bucket
    ),
    est AS MATERIALIZED (
      SELECT c.bigram, max(c.n_exact) AS n_exact,
             CAST(min(s.cell) AS BIGINT) AS cm_est
      FROM cells c JOIN sketch s ON s.i = c.i AND s.bucket = c.bucket
      GROUP BY c.bigram
    )
    SELECT bigram, n_exact, cm_est
    FROM est, tot
    WHERE cm_est >= ceil(1.0 * tot.n / {CM_PHI_INV})
    """,
    tags=("text", "llm-pipeline", "approx", "aggregate"),
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over document bigrams: a D×W
    (4×256) sketch of deterministic md5-derived bucket hashes, queried
    for every candidate bigram; report those whose ESTIMATE clears the
    φ=1/1000 frequency threshold, alongside the exact count so the
    one-sided error (cm_est ≥ n_exact, excess bounded by collisions) is
    visible in the output.

    Why a sketch when the exact group-by exists: the sketch is the
    MERGEABLE summary — per-shard sketches sum cell-wise into the global
    sketch (asserted in tests), so a 1000-executor corpus scan needs one
    2048-cell reduce instead of a full shuffle of every distinct key;
    the exact counts here are the audit baseline, exactly as the HLL
    rollup pairs with the exact distinct count. Everything is
    deterministic md5 arithmetic — both engines build bit-identical
    sketches, so the oracle comparison is exact, not error-bounded.

    Plan shape: explode bigrams → one hash agg for exact counts (the
    candidate set) → sketch derived from the counts (cell sums are
    increment-order-free) → broadcast the 2048-row sketch back onto the
    candidates' (row, bucket) pairs. No shuffle ever carries more than
    the distinct-bigram table."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select(T.tokens(F.col("text")).alias("t")).where(F.size("t") >= 2)
    bigrams = toked.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), (F.size("t") - 1).cast("int")),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("t", i.cast("int")),
                    F.element_at("t", (i + 1).cast("int")),
                ),
            )
        ).alias("bigram")
    )
    cnt = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    cnt = cnt.localCheckpoint(eager=True)  # consumed by cells, total
    tot = cnt.agg(F.sum("n_exact").alias("n"))
    rows = F.array(*[F.lit(i) for i in range(CM_D)])
    cells = cnt.select(
        "bigram",
        "n_exact",
        F.explode(rows).alias("i"),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cm"), F.col("i"), F.lit(":"), F.col("bigram")).cast("binary")),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % CM_W,
    )
    sketch = cells.groupBy("i", "bucket").agg(F.sum("n_exact").alias("cell"))
    est = (
        cells.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("bigram")
        .agg(
            F.max("n_exact").alias("n_exact"),
            F.min("cell").cast("long").alias("cm_est"),
        )
    )
    return est.crossJoin(F.broadcast(tot)).where(
        F.col("cm_est") >= F.ceil(F.lit(1.0) * F.col("n") / CM_PHI_INV)
    ).select("bigram", "n_exact", "cm_est")


@register(
    "inverted_index_postings",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2)
    SELECT token,
           CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS tf_total,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM tf GROUP BY token
    """,
    tags=("text", "llm-pipeline", "aggregate"),
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token → (document frequency, total term
    frequency, sorted posting list) — the search-index primitive behind
    BM25 serving, and the exact-match complement of the MinHash tiers.
    Posting lists are emitted as comma-joined sorted id strings so both
    engines compare byte-for-byte.

    Shape: explode tokens (stays in the scan stage), one (doc, token)
    pre-aggregation (map-side combinable), one per-token aggregation
    whose collect_list is bounded by the posting length. At 100 TB the
    posting lists for corpus-stopword terms are the skew: production
    splits them into blocks (the doc_id div B trick available from this
    same pipeline); at fixture vocabulary (31 terms) the single-level
    build is the honest demonstration."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("tf_total"),
        F.array_join(F.array_sort(F.collect_list(F.col("doc_id"))), ",").alias(
            "postings"
        ),
    )


BPE_MERGES = 8  # full training rounds for bpe_train_segmentation


def _sql_bpe_round(prev: str, out: str) -> str:
    """One BPE training round in DuckDB SQL: corpus-weighted adjacent
    symbol-pair counts over the current segmentation, argmax with the
    (count DESC, pair ASC) tiebreak, then the merge applied as a
    boundary-anchored string replace — left-to-right non-overlapping in
    both engines, which IS greedy BPE merge semantics."""
    return f"""
    t_{out} AS MATERIALIZED (
      SELECT (SELECT pair FROM (
        SELECT s[i] || ' ' || s[i + 1] AS pair, sum(cnt) AS n
        FROM (SELECT cnt, string_split(trim(sym), ' ') AS s FROM {prev}),
             unnest(range(1, len(s))) AS u(i)
        GROUP BY s[i] || ' ' || s[i + 1]
        ORDER BY n DESC, pair LIMIT 1)) AS pair),
    {out} AS MATERIALIZED (
      SELECT word, cnt,
             CASE WHEN t.pair IS NULL THEN sym
                  ELSE replace(sym, ' ' || t.pair || ' ',
                               ' ' || replace(t.pair, ' ', '') || ' ')
             END AS sym
      FROM {prev} CROSS JOIN t_{out} t)"""


def _bpe_segmented_vocab(d):
    """The BPE train loop shared by bpe_train_segmentation (which
    returns it directly) and tokenizer_fertility_by_source (which joins
    it back to per-source token counts): (word, cnt, sym) after
    BPE_MERGES rounds. See bpe_train_segmentation for the full design
    notes; factored so the fertility audit provably runs the SAME
    trained tokenizer."""
    vocab = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    words = vocab.select(
        "word",
        "cnt",
        F.concat(
            F.lit(" "),
            F.array_join(
                F.expr(
                    "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
                ),
                " ",
            ),
            F.lit(" "),
        ).alias("sym"),
    ).localCheckpoint(eager=True)
    for _ in range(BPE_MERGES):
        syms = words.select(
            "cnt", F.split(F.trim(F.col("sym")), " ").alias("s")
        ).where(F.size("s") >= 2)
        pairs = syms.select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(s) - 1), "
                    "i -> concat(element_at(s, i), ' ', element_at(s, i + 1)))"
                )
            ).alias("pair"),
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
            .agg(F.first("pair").alias("pair"))  # exactly 1 row, NULL if no pairs
        )
        words = (
            words.crossJoin(F.broadcast(top))
            .select(
                "word",
                "cnt",
                F.when(F.col("pair").isNull(), F.col("sym"))
                .otherwise(
                    F.expr(
                        "replace(sym, concat(' ', pair, ' '), "
                        "concat(' ', replace(pair, ' ', ''), ' '))"
                    )
                )
                .alias("sym"),
            )
            .localCheckpoint(eager=True)
        )
    return words


@register(
    "bpe_train_segmentation",
    oracle=f"""
    WITH vocab AS MATERIALIZED (
      SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_SQL_TOKENS}) AS tok FROM documents)
      GROUP BY tok),
    w0 AS MATERIALIZED (
      SELECT word, cnt,
             ' ' || array_to_string(
               list_transform(range(1, length(word) + 1),
                              i -> substr(word, i, 1)), ' ') || ' ' AS sym
      FROM vocab),
    {",".join(_sql_bpe_round(f'w{r}', f'w{r + 1}') for r in range(BPE_MERGES))}
    SELECT word, cnt, trim(sym) AS encoded,
           CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n_pieces
    FROM w{BPE_MERGES}
    """,
    tags=("text", "llm-pipeline", "tokenizer", "iterative"),
)
def bpe_train_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL BPE tokenizer training (Sennrich et al. 2016), BPE_MERGES
    rounds, and the resulting segmentation of every vocabulary word —
    not just the first pair statistics (bpe_merge_pair_counts) but the
    whole train loop: each round counts corpus-weighted adjacent symbol
    pairs over the CURRENT segmentation, merges the argmax pair
    everywhere (greedy left-to-right, the real BPE application rule),
    and repeats. Output: (word, corpus count, learned segmentation,
    piece count).

    Entirely distributed AND driver-collect-free: the per-round argmax
    is a 1-row aggregate broadcast back over the vocabulary (an empty
    pair table degrades to a no-op round identically in both engines);
    the merge applies as a boundary-anchored string replace, whose
    left-to-right non-overlap semantics equal greedy BPE and agree
    across engines. The oracle unrolls the identical rounds.

    Scale: the classic BPE factoring — the corpus collapses ONCE to
    (word, count) vocabulary (the only corpus-sized shuffle); every
    training round then runs on vocabulary rows, which for real corpora
    is ~10^6 rows independent of corpus bytes. localCheckpoint per
    round keeps the plan flat. 31-word fixture vocabulary makes the
    rounds small, not different."""
    d = load_table(spark, sf_dir, "documents")
    words = _bpe_segmented_vocab(d)
    return words.select(
        "word",
        "cnt",
        F.trim(F.col("sym")).alias("encoded"),
        F.size(F.split(F.trim(F.col("sym")), " ")).cast("long").alias("n_pieces"),
    )


@register(
    "source_vocab_overlap",
    oracle=f"""
    WITH tv AS (
      SELECT DISTINCT source, t AS token
      FROM documents, unnest({T.SQL_TOKENS}) AS u(t)),
    sz AS (SELECT source, count(*) AS n FROM tv GROUP BY 1),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS ni
      FROM tv a JOIN tv b
        ON a.token = b.token AND a.source < b.source
      GROUP BY 1, 2)
    SELECT i.source_a, i.source_b,
           CAST(i.ni AS BIGINT) AS n_inter,
           CAST(sa.n + sb.n - i.ni AS BIGINT) AS n_union,
           CAST((1000000 * i.ni) // (sa.n + sb.n - i.ni) AS BIGINT) AS jaccard_micro
    FROM inter i
    JOIN sz sa ON sa.source = i.source_a
    JOIN sz sb ON sb.source = i.source_b
    """,
    tags=("text", "llm-pipeline"),
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between corpus sources: |V_a ∩ V_b|,
    |V_a ∪ V_b|, and the integer micro-Jaccard — the corpus-drift /
    cross-source-contamination audit run before mixing crawl snapshots
    (did the new source add vocabulary, or is it the old one re-crawled?).

    Scale shape: the scan collapses to the DISTINCT (source, token)
    table first — one explode + distinct shuffle keyed on token — then
    the pairwise intersection joins token-to-token, so a token shared
    by s sources costs s² rows ONLY at the sources dimension (s is
    single digits), never docs². Per-source sizes broadcast back onto
    the |sources|²-row result. Jaccard as integer floor-div: exact in
    both engines."""
    d = load_table(spark, sf_dir, "documents")
    tv = (
        d.select("source", F.explode(T.tokens(F.col("text"))).alias("token"))
        .distinct()
    )
    sz = tv.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = tv.select(F.col("source").alias("source_a"), "token")
    b = tv.select(F.col("source").alias("source_b"), "token")
    inter = (
        a.join(b, ["token"])
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    return (
        inter.join(F.broadcast(sz.select(F.col("source").alias("source_a"), F.col("n").alias("na"))), "source_a")
        .join(F.broadcast(sz.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("ni").cast("long").alias("n_inter"),
            (F.col("na") + F.col("nb") - F.col("ni")).cast("long").alias("n_union"),
            F.expr("CAST((1000000 * ni) div (na + nb - ni) AS BIGINT)").alias("jaccard_micro"),
        )
    )


@register(
    "tokenizer_fertility_by_source",
    oracle=f"""
    WITH vocab AS MATERIALIZED (
      SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_SQL_TOKENS}) AS tok FROM documents)
      GROUP BY tok),
    w0 AS MATERIALIZED (
      SELECT word, cnt,
             ' ' || array_to_string(
               list_transform(range(1, length(word) + 1),
                              i -> substr(word, i, 1)), ' ') || ' ' AS sym
      FROM vocab),
    {",".join(_sql_bpe_round(f'w{r}', f'w{r + 1}') for r in range(BPE_MERGES))},
    pieces AS MATERIALIZED (
      SELECT word, CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS p
      FROM w{BPE_MERGES}),
    sw AS (
      SELECT source, tok AS word, count(*) AS c
      FROM (SELECT source, unnest({_SQL_TOKENS}) AS tok FROM documents)
      GROUP BY 1, 2)
    SELECT sw.source,
           CAST(sum(sw.c) AS BIGINT) AS n_tokens,
           CAST(sum(sw.c * p.p) AS BIGINT) AS n_pieces,
           CAST(sum(sw.c * length(sw.word)) AS BIGINT) AS n_chars,
           CAST((1000000 * sum(sw.c * p.p)) // sum(sw.c) AS BIGINT) AS fertility_micro,
           CAST((1000000 * sum(sw.c * length(sw.word))) // sum(sw.c * p.p) AS BIGINT) AS chars_per_piece_micro
    FROM sw JOIN pieces p ON p.word = sw.word
    GROUP BY sw.source
    """,
    tags=("text", "llm-pipeline", "tokenizer", "iterative"),
)
def tokenizer_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY audit per corpus source: pieces-per-token and
    chars-per-piece under the BPE tokenizer trained by
    bpe_train_segmentation (the SAME train loop — shared helper), the
    datasheet every LLM team reads before fixing a tokenizer: a source
    whose fertility is high (many pieces per word) is underserved by
    the vocabulary and will cost proportionally more sequence length at
    training time.

    Composition shape: train on the global (word, cnt) vocabulary
    (corpus collapses once — the BPE factoring), then join the learned
    (word → piece count) table back to per-(source, word) counts: one
    extra corpus-collapse aggregate + one vocabulary-sized join.
    Ratios emitted as integer micro floor-divs; the oracle replays
    training AND the join in one CTE chain."""
    d = load_table(spark, sf_dir, "documents")
    words = _bpe_segmented_vocab(d)
    pieces = words.select(
        "word", F.size(F.split(F.trim(F.col("sym")), " ")).cast("long").alias("p")
    )
    sw = (
        d.select("source", F.explode(T.tokens(F.col("text"))).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = (
        sw.join(pieces, "word")
        .groupBy("source")
        .agg(
            F.sum("c").alias("nt"),
            F.sum(F.col("c") * F.col("p")).alias("np"),
            F.sum(F.col("c") * F.length("word")).alias("nc"),
        )
    )
    return agg.select(
        "source",
        F.col("nt").cast("long").alias("n_tokens"),
        F.col("np").cast("long").alias("n_pieces"),
        F.col("nc").cast("long").alias("n_chars"),
        F.expr("CAST((1000000 * np) div nt AS BIGINT)").alias("fertility_micro"),
        F.expr("CAST((1000000 * nc) div np AS BIGINT)").alias("chars_per_piece_micro"),
    )


@register(
    "explode_outer_long_tokens",
    oracle=f"""
    WITH l AS (
      SELECT doc_id,
             list_filter({_SQL_TOKENS}, t -> length(t) >= 8) AS toks
      FROM documents),
    padded AS (
      SELECT doc_id,
             CASE WHEN toks IS NULL OR len(toks) = 0
                  THEN [CAST(NULL AS VARCHAR)] ELSE toks END AS toks
      FROM l)
    SELECT doc_id, t AS token
    FROM padded, unnest(toks) AS u(t)
    """,
    tags=("text", "flatmap", "sql-surface"),
)
def explode_outer_long_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator NULL-retention semantics (explode_outer vs explode):
    flatten each document's long tokens (≥ 8 chars) while KEEPING the
    ~20% of documents that have none as a (doc_id, NULL) row — the row
    a plain explode silently drops, which downstream "every doc must
    appear" joins then mis-count (the flatMap sibling of
    null_safe_bucket_join's dropped-NULL-row trap). DuckDB has no outer
    unnest, so the oracle states the semantics explicitly: pad empty
    lists with [NULL] — which is also the portable fallback on engines
    without the operator. Row-conservation (every doc exactly once when
    tokenless) is asserted in tests; pure narrow flatMap, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(T.tokens(F.col("text")), lambda t: F.length(t) >= 8)
    return d.select("doc_id", F.explode_outer(toks).alias("token"))


KN_DISCOUNT_NUM, KN_DISCOUNT_DEN = 3, 4  # absolute discount d = 3/4
KN_TOP = 50


@register(
    "kneser_ney_bigram_lm",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
    ),
    big AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
      WHERE len(t) >= 2),
    c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, sum(c) AS c1, CAST(count(*) AS BIGINT) AS n1plus
           FROM c12 GROUP BY 1),
    cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS ncont FROM c12 GROUP BY 1),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM c12)
    SELECT b.w1, b.w2, b.c AS c12,
           CAST((1000000 * (greatest({KN_DISCOUNT_DEN} * b.c - {KN_DISCOUNT_NUM}, 0)
                            * CAST(nd.nd AS HUGEINT)
                            + {KN_DISCOUNT_NUM} * c1.n1plus * cont.ncont))
                // ({KN_DISCOUNT_DEN} * CAST(c1.c1 AS HUGEINT) * nd.nd) AS BIGINT)
             AS p_micro
    FROM c12 b
    JOIN c1 ON c1.w1 = b.w1
    JOIN cont ON cont.w2 = b.w2
    CROSS JOIN nd
    ORDER BY b.c DESC, b.w1, b.w2 LIMIT {KN_TOP}
    """,
    tags=("text", "llm-pipeline", "statistics"),
)
def kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney-smoothed bigram language model (Kneser & Ney 1995;
    Chen & Goodman 1999's interpolated form with absolute discount
    d = 3/4) over the corpus — the classical n-gram LM whose perplexity
    scores data-quality pipelines used before neural scoring, and whose
    CONTINUATION counts ("how many contexts does w appear after?") are
    the part plain MLE smoothing gets wrong. Emitted for the top-50
    bigrams: P(w2|w1) = (max(c₁₂−d, 0) + d·N₁₊(w1)·Pcont(w2)) / c(w1)
    as ONE exact scaled integral quotient — with d = 3/4 every term has
    denominator 4·c(w1)·N_D, so p_micro = ⌊10⁶·(max(4c₁₂−3,0)·N_D +
    3·N₁₊(w1)·Ncont(w2)) / (4·c(w1)·N_D)⌋ in 128-bit integers; no float
    ever aggregates and both engines floor identically.

    Scale shape: ONE map-side-combinable shuffle on (w1, w2) builds the
    bigram table; everything downstream is VOCABULARY-sized — c(w1) and
    N₁₊ fold from the bigram table keyed by w1 (reusing its
    partitioning), continuation counts key by w2, N_D is a broadcast
    single-row count, and the two probability joins are vocab-keyed.
    The corpus is touched exactly once; at 100 TB the bigram table is
    the only fact-scale intermediate, and it combines map-side."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select(T.tokens(F.col("text")).alias("t")).where(F.size("t") >= 2)
    t = F.col("t")
    bigrams = toked.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 2),
                lambda i: F.struct(
                    F.element_at(t, i + 1).alias("w1"),
                    F.element_at(t, i + 2).alias("w2"),
                ),
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    # the bigram count table feeds FOUR consumers (c1, cont, nd, and the
    # probability join): Catalyst does not CSE an unpersisted subtree, so
    # without materialization the corpus scan + explode ran four times
    # (caught by the plan test counting Generate nodes). Materialize it
    # once — the vocabulary-sized bigram table IS the thing a production
    # LM pipeline persists — same multi-consumer discipline as
    # ivf_cosine_pairs' assignment checkpoint.
    c12 = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("c").alias("c1"), F.count(F.lit(1)).alias("n1plus")
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("ncont"))
    nd = c12.agg(F.count(F.lit(1)).alias("nd"))
    dec = "DECIMAL(38,0)"
    num, den = KN_DISCOUNT_NUM, KN_DISCOUNT_DEN
    joined = (
        c12.join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(nd))
    )
    return (
        joined.select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("c12"),
            F.expr(
                f"CAST((1000000 * (greatest({den} * c - {num}, 0)"
                f" * CAST(nd AS {dec})"
                f" + {num} * n1plus * ncont))"
                f" div ({den} * CAST(c1 AS {dec}) * nd) AS BIGINT)"
            ).alias("p_micro"),
        )
        .orderBy(F.desc("c12"), "w1", "w2")
        .limit(KN_TOP)
    )


VOCAB_BATCH = 100  # docs per ingestion batch (doc_id div — snapshot proxy)


@register(
    "vocab_growth_by_batch",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id // {VOCAB_BATCH} AS batch,
             unnest(list_distinct({_SQL_TOKENS})) AS token
      FROM documents),
    bt AS (SELECT DISTINCT batch, token FROM toks),
    first_seen AS (SELECT token, min(batch) AS fb FROM bt GROUP BY 1),
    per_batch AS (
      SELECT b.batch,
             count(*) AS n_distinct,
             sum(CASE WHEN f.fb = b.batch THEN 1 ELSE 0 END) AS n_new
      FROM bt b JOIN first_seen f ON f.token = b.token
      GROUP BY 1)
    SELECT CAST(batch AS BIGINT) AS batch,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(sum(n_new) OVER (ORDER BY batch ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_vocab
    FROM per_batch
    """,
    tags=("text", "llm-pipeline", "observability", "time-series"),
)
def vocab_growth_by_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth curve across ingestion batches (doc_id div 100
    as the crawl-snapshot axis — production uses the snapshot date): per
    batch, its distinct tokens, how many are NEW to the corpus (first
    batch where the token appears), and the cumulative vocabulary — the
    Heaps'-law observability curve crawl pipelines watch: a flattening
    n_new says more crawl buys little new language; a spike says the
    frontier hit a new domain (or an encoding bug is minting garbage
    tokens).

    Scale shape: per-doc tokens dedupe ARRAY-locally before exploding,
    the (batch, token) collapse and the token-keyed first-seen min are
    both map-side combinable, the join is token-keyed (vocabulary-sized
    — the biggest intermediate, still orders below the corpus), and the
    cumulative window runs over the BATCH dimension only. The corpus is
    scanned once."""
    d = load_table(spark, sf_dir, "documents")
    bt = (
        d.select(
            F.expr(f"doc_id div {VOCAB_BATCH}").alias("batch"),
            F.explode(F.array_distinct(T.tokens(F.col("text")))).alias("token"),
        )
        .distinct()
        # feeds first_seen AND the per-batch join: one corpus explode,
        # materialized at (batch, token) granularity (non-CSE otherwise
        # runs the scan+explode twice)
        .localCheckpoint(eager=True)
    )
    first_seen = bt.groupBy("token").agg(F.min("batch").alias("fb"))
    per_batch = (
        bt.join(first_seen, "token")
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.when(F.col("fb") == F.col("batch"), 1).otherwise(0)).alias("n_new"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_batch.select(
        F.col("batch").cast("long").alias("batch"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.col("n_new").cast("long").alias("n_new"),
        F.sum("n_new").over(w).cast("long").alias("cum_vocab"),
    )


def _sql_zipf() -> str:
    from streamprocessing_spark.functions.text import sql_mlog2

    return f"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKENS}) AS tok FROM documents),
    cf AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
    h AS (SELECT c, CAST(count(*) AS BIGINT) AS n FROM cf GROUP BY 1),
    ranked AS (
      SELECT c, n,
             2 * coalesce(sum(n) OVER (ORDER BY c DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + n + 1 AS midrank2
      FROM h),
    pts AS (
      SELECT n AS w, {sql_mlog2('midrank2')} AS x, {sql_mlog2('c')} AS y
      FROM ranked),
    s AS (
      SELECT CAST(sum(w) AS HUGEINT) AS sw,
             CAST(sum(w * x) AS HUGEINT) AS sx,
             CAST(sum(w * y) AS HUGEINT) AS sy,
             CAST(sum(w * x * y) AS HUGEINT) AS sxy,
             CAST(sum(w * x * x) AS HUGEINT) AS sxx,
             CAST(count(*) AS BIGINT) AS n_points
      FROM pts)
    SELECT n_points,
           CAST(sw AS BIGINT) AS vocab_size,
           CAST(CASE WHEN sw * sxy - sx * sy >= 0
                THEN (1000 * (sw * sxy - sx * sy)) // (sw * sxx - sx * sx)
                ELSE -((1000 * (sx * sy - sw * sxy)) // (sw * sxx - sx * sx))
                END AS BIGINT) AS slope_milli
    FROM s
    WHERE sw * sxx - sx * sx > 0
    """


@register(
    "zipf_law_audit",
    oracle=_sql_zipf(),
    tags=("text", "llm-pipeline", "statistics", "observability"),
)
def zipf_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law conformance audit — the one-row corpus datasheet
    answering "does this crawl look like natural language?": the
    weighted log-log regression slope of term frequency against
    frequency rank. Natural corpora slope ≈ −1; slopes far from it mean
    template spam (too steep) or token-minting garbage (too flat) —
    the check run before accepting a new source into the mix.

    Exact and rank-free: collapse the vocabulary to the DISTINCT-
    FREQUENCY histogram (c → n_terms; Zipf itself bounds it ~O(√tokens)
    — the window below runs over that bounded dimension, never over
    terms), give each frequency's tie-group its midrank (2·cum+n+1,
    doubled to stay integral), take x = mlog2(midrank2), y = mlog2(c)
    and fit weighted least squares entirely in integer sums; the
    HUGEINT/DECIMAL(38) cross-products avoid overflow at any corpus
    size and the single signed division truncates toward zero
    identically in both engines (sign split because Spark div truncates
    while DuckDB // floors — the Hilbert-key lesson).

    Scale shape: one vocabulary shuffle (map-side combined), then
    everything is histogram-sized. The slope's x-shift from doubling
    ranks is absorbed by the intercept; the slope is shift-invariant."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
    cf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    h = cf.groupBy("c").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql.window import Window as W

    w_prev = W.orderBy(F.desc("c")).rowsBetween(W.unboundedPreceding, -1)
    ranked = h.select(
        "c",
        "n",
        (2 * F.coalesce(F.sum("n").over(w_prev), F.lit(0)) + F.col("n") + 1).alias(
            "midrank2"
        ),
    )
    pts = ranked.select(
        F.col("n").alias("w"),
        T.mlog2(F.col("midrank2")).alias("x"),
        T.mlog2(F.col("c")).alias("y"),
    )
    dec = "DECIMAL(38,0)"
    s = pts.agg(
        F.expr(f"CAST(sum(w) AS {dec})").alias("sw"),
        F.expr(f"CAST(sum(w * x) AS {dec})").alias("sx"),
        F.expr(f"CAST(sum(w * y) AS {dec})").alias("sy"),
        F.expr(f"CAST(sum(w * x * y) AS {dec})").alias("sxy"),
        F.expr(f"CAST(sum(w * x * x) AS {dec})").alias("sxx"),
        F.count(F.lit(1)).alias("n_points"),
    )
    return s.where(
        F.expr("sw * sxx - sx * sx > 0")
    ).select(
        "n_points",
        F.expr("CAST(sw AS BIGINT)").alias("vocab_size"),
        F.expr(
            "CAST(CASE WHEN sw * sxy - sx * sy >= 0"
            " THEN (1000 * (sw * sxy - sx * sy)) div (sw * sxx - sx * sx)"
            " ELSE -((1000 * (sx * sy - sw * sxy)) div (sw * sxx - sx * sx))"
            " END AS BIGINT)"
        ).alias("slope_milli"),
    )


_SQL_NOVELTY = f"""
    WITH {{shingles}},
    first_seen AS (SELECT sh, min(id) AS first_id FROM sh GROUP BY sh),
    per AS (SELECT s.id,
                   count(*) AS n_shingles,
                   sum(CASE WHEN f.first_id = s.id THEN 1 ELSE 0 END) AS n_novel
            FROM sh s JOIN first_seen f ON s.sh = f.sh
            GROUP BY s.id)
    SELECT d.doc_id,
           CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(p.n_novel, 0) AS BIGINT) AS n_novel,
           CASE WHEN p.n_shingles > 0
                THEN floor((p.n_novel * 1.0 / p.n_shingles) * 10000.0 + 0.5) / 10000.0
                END AS novelty
    FROM documents d LEFT JOIN per p ON d.doc_id = p.id
    """


def _sql_novelty() -> str:
    from streamprocessing_spark.operators.dedup import sql_shingles

    return _SQL_NOVELTY.format(shingles=sql_shingles())


@register(
    "ngram_novelty_score",
    oracle=_sql_novelty(),
    tags=("text", "llm-pipeline", "dedup", "observability"),
)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY in corpus order — the fraction of a
    doc's distinct word-shingles whose global first occurrence (min
    doc_id) is this doc. The memorization-side complement of the dedup
    tiers: dedup asks "which docs repeat each other", novelty asks "how
    much does each doc add that the corpus hasn't seen yet" — the curve
    data engineers watch to decide when a crawl source is mined out
    (marginal novelty → 0 ⇒ stop ingesting).

    Exact and two-shuffle linear: one shingle-keyed aggregation
    (map-side-combined min over doc ids), one doc-keyed count — the same
    scale shape as the exact-dedup tier, never all-pairs. Docs shorter
    than the shingle width keep a row with zero counts and NULL novelty
    (the hostile-fixture convention: absence of evidence is NULL, not a
    fake 0.0 score). The shingle frame is recomputed per consumer
    (3 corpus scans) rather than materialized — it is larger than its
    input; the minhash family's measured trade (SCALE.md)."""
    from streamprocessing_spark.operators import dedup as D

    d = load_table(spark, sf_dir, "documents")
    sh = D.shingle_df(d, "doc_id", "text")
    first = sh.groupBy("sh").agg(F.min("id").alias("first_id"))
    per = (
        sh.join(first, "sh")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("first_id") == F.col("id")).cast("long")).alias("n_novel"),
        )
    )
    return (
        d.select("doc_id")
        .join(per, d.doc_id == per.id, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
            F.when(
                F.col("n_shingles") > 0,
                T.portable_round(F.col("n_novel") / F.col("n_shingles"), 4),
            ).alias("novelty"),
        )
    )


RRF_K = 60        # the canonical reciprocal-rank-fusion damping constant
RRF_POOL = 20     # candidates taken from each retrieval system
RRF_TOP = 10      # fused results returned
RRF_QUERY_VEC = 0  # the semantic query: embedding of doc 0 (vec_id == doc_id)


def _sql_rrf() -> str:
    from streamprocessing_spark.queries.similarity import _sql_cos

    return f"""
    WITH {_BM25_CTES},
    lex AS (
      SELECT doc_id, CAST(rn AS BIGINT) AS lex_rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY round(s, 4) DESC, doc_id) AS rn
        FROM tot)
      WHERE rn <= {RRF_POOL}),
    qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = {RRF_QUERY_VEC}),
    sem AS (
      SELECT doc_id, CAST(rn AS BIGINT) AS sem_rank FROM (
        SELECT e.vec_id AS doc_id,
               row_number() OVER (ORDER BY {_sql_cos('e.embedding', 'qv.q')} DESC,
                                  e.vec_id) AS rn
        FROM embeddings e, qv WHERE e.vec_id <> {RRF_QUERY_VEC})
      WHERE rn <= {RRF_POOL}),
    fused AS (
      SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
             lex.lex_rank, sem.sem_rank,
             COALESCE(1000000 // ({RRF_K} + lex.lex_rank), 0)
               + COALESCE(1000000 // ({RRF_K} + sem.sem_rank), 0) AS rrf_micro
      FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id)
    SELECT doc_id, lex_rank, sem_rank, CAST(rrf_micro AS BIGINT) AS rrf_micro
    FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT {RRF_TOP}
    """


@register(
    "hybrid_rrf_retrieval",
    oracle=_sql_rrf(),
    tags=("text", "similarity", "llm-pipeline", "ranking"),
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by Reciprocal-Rank Fusion (Cormack et al. 2009 —
    the fusion every RAG stack runs): the BM25 lexical top-{RRF_POOL}
    (query = the fixed BM25_TERMS) fused with the embedding-cosine
    top-{RRF_POOL} (query = doc {RRF_QUERY_VEC}'s vector; vec_id is the
    embedding of doc_id) by RRF(d) = Σ_systems 1/(k + rank_d), k = {RRF_K}.
    Rank fusion needs NO score calibration between a float-logit system
    and a probability system — exactly why it wins in production.

    Exact integers where it matters: each contribution is the floored
    micro-unit 1000000 div ({RRF_K} + rank) of an integer RANK, so the
    fused score is a BIGINT sum and the row hash-matches bit-for-bit;
    floats exist only inside the two upstream rankers, whose orderings
    the oracle already pins (bm25_rank_docs, ann_cosine_topk). A doc in
    one list only still fuses (full outer join, missing side = 0) — the
    mechanism that lets semantic recall rescue lexical misses.

    Scale shape: both rankers are the registered tiers' plans (one
    corpus scan each, TakeOrdered top-k); fusion itself is a
    (2·{RRF_POOL})-row full outer join + top-{RRF_TOP}. The one
    unpartitioned rank window runs over the post-limit {RRF_POOL}-row
    lexical list (allowlisted: bounded by an explicit upstream limit)."""
    from streamprocessing_spark.operators import similarity as S
    from streamprocessing_spark.queries.similarity import load_table as _lt

    lex_scores = bm25_rank_docs(spark, sf_dir)  # top-BM25_TOP (= RRF_POOL), rounded
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex = lex_scores.select(
        "doc_id", F.row_number().over(w).cast("long").alias("lex_rank")
    ).where(F.col("lex_rank") <= RRF_POOL)
    emb = _lt(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    sem = (
        S.topk_per_query(emb, q, RRF_POOL)
        .select(F.col("neighbor_id").alias("sem_doc_id"), F.col("rank").alias("sem_rank"))
    )
    fused = lex.join(sem, lex["doc_id"] == sem["sem_doc_id"], "full").select(
        F.coalesce(lex["doc_id"], sem["sem_doc_id"]).alias("doc_id"),
        "lex_rank",
        "sem_rank",
        (
            F.coalesce(F.expr(f"1000000 div ({RRF_K} + lex_rank)"), F.lit(0))
            + F.coalesce(F.expr(f"1000000 div ({RRF_K} + sem_rank)"), F.lit(0))
        )
        .cast("long")
        .alias("rrf_micro"),
    )
    return fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id")).limit(RRF_TOP)


@register(
    "lang_id_macro_f1",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang, text,
             {_sql_hits('en')} AS en, {_sql_hits('de')} AS de,
             {_sql_hits('fr')} AS fr, {_sql_hits('es')} AS es
      FROM documents
    ),
    pred AS (
      SELECT lang,
        CASE
          WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
          WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
          WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
          WHEN fr >= es AND fr > 0 THEN 'fr'
          WHEN es > 0 THEN 'es'
          ELSE 'und'
        END AS lang_pred
      FROM h),
    conf AS (SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY 1, 2),
    rowm AS (SELECT lang AS cls, sum(n) AS rn,
                    sum(CASE WHEN lang IS NOT DISTINCT FROM lang_pred
                             THEN n ELSE 0 END) AS tp
             FROM conf GROUP BY 1),
    colm AS (SELECT lang_pred AS cls, sum(n) AS cn FROM conf GROUP BY 1),
    per AS (
      SELECT r.cls AS lang, r.tp,
             COALESCE(c.cn, 0) - r.tp AS fp,
             r.rn - r.tp AS fn,
             (2000 * r.tp) // (2 * r.tp + (COALESCE(c.cn, 0) - r.tp) + (r.rn - r.tp))
               AS f1_milli
      FROM rowm r LEFT JOIN colm c ON c.cls IS NOT DISTINCT FROM r.cls),
    mac AS (SELECT sum(f1_milli) // count(*) AS macro FROM per)
    SELECT per.lang, CAST(per.tp AS BIGINT) AS tp,
           CAST(per.fp AS BIGINT) AS fp, CAST(per.fn AS BIGINT) AS fn,
           CAST(per.f1_milli AS BIGINT) AS f1_milli,
           CAST(mac.macro AS BIGINT) AS macro_f1_milli
    FROM per CROSS JOIN mac
    """,
    tags=("text", "llm-pipeline", "quality", "statistics"),
)
def lang_id_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall ingredients and macro-F1 of the
    language-ID heuristic against the labeled lang column — completing
    the classifier-eval family (confusion matrix = the raw table,
    Cohen's κ = chance-corrected agreement, macro-F1 = the class-
    imbalance-robust score model cards actually report). Macro (not
    micro) because a rare language's misclassification should cost as
    much as a common one's — the property that matters when the filter
    gates which languages survive curation.

    Exact integers: F1 = 2tp/(2tp+fp+fn) needs only ONE truncating div
    per class (the p·r/(p+r) algebra cancels), macro is a second div
    over class-count rows; classes with zero support can't occur (a
    class exists because gold rows carry it), and the denominator
    2tp+fp+fn ≥ rn ≥ 1 — never 0/0. NULL gold labels form their own
    class via null-safe equality, the κ convention. Scale shape: one
    scan → class²-sized confusion matrix → class-sized everything."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("lang", "text", T.tokens(F.col("text")).alias("t"))
    hits = {
        lang: T.stopword_hits(F.col("t"), lang).alias(f"hits_{lang}")
        for lang in T.STOPWORDS
    }
    scored = toked.select("lang", "text", *hits.values())
    hit_cols = {lang: F.col(f"hits_{lang}") for lang in T.STOPWORDS}
    conf = (
        scored.select("lang", T.lang_pick(hit_cols, F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # class²-sized; feeds both marginals
    )
    rowm = conf.groupBy(F.col("lang").alias("cls")).agg(
        F.sum("n").alias("rn"),
        F.sum(
            F.when(F.col("lang").eqNullSafe(F.col("lang_pred")), F.col("n")).otherwise(0)
        ).alias("tp"),
    )
    colm = conf.groupBy(F.col("lang_pred").alias("cls2")).agg(F.sum("n").alias("cn"))
    per = (
        rowm.join(colm, F.col("cls").eqNullSafe(F.col("cls2")), "left")
        .select(
            F.col("cls").alias("lang"),
            "tp",
            (F.coalesce("cn", F.lit(0)) - F.col("tp")).alias("fp"),
            (F.col("rn") - F.col("tp")).alias("fn"),
        )
        .select(
            "lang",
            "tp",
            "fp",
            "fn",
            F.expr("(2000 * tp) div (2 * tp + fp + fn)").alias("f1_milli"),
        )
        .localCheckpoint(eager=True)  # class-sized; feeds macro and output
    )
    mac = per.agg(F.expr("sum(f1_milli) div count(*)").alias("macro"))
    return per.crossJoin(F.broadcast(mac)).select(
        "lang",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("f1_milli").cast("long").alias("f1_milli"),
        F.col("macro").cast("long").alias("macro_f1_milli"),
    )


# Rank-biased overlap at p = 1/2, truncated at depth RRF_POOL: with
# X_d = |S_1:d ∩ T_1:d|, RBO = (1-p)·Σ_d p^(d-1)·X_d/d. Every doc in
# both lists contributes Σ_{d >= m} (1/2)^d / d from its first joint
# depth m = max(r1, r2) (the extra 1/2 folds (1-p)·p^(d-1) = (1/2)^d),
# so scaling by U·2^DEPTH (U = lcm(1..DEPTH)) makes the whole statistic
# one integer lookup per doc: W(m) = Σ_{d=m..DEPTH} (U/d)·2^(DEPTH-d),
# RBO = Σ W(m) / (U·2^DEPTH). The table is a DEPTH-entry literal both
# engines share — exact dyadic arithmetic, no float ever forms.
_RBO_DEPTH = RRF_POOL
_RBO_U = 232792560  # lcm(1..20)
_RBO_W = [
    sum((_RBO_U // d) * (1 << (_RBO_DEPTH - d)) for d in range(m, _RBO_DEPTH + 1))
    for m in range(1, _RBO_DEPTH + 1)
]
_RBO_DEN = _RBO_U * (1 << _RBO_DEPTH)


def _sql_rbo() -> str:
    from streamprocessing_spark.queries.similarity import _sql_cos

    cos = _sql_cos("e.embedding", "qv.q")
    wt = ",".join(map(str, _RBO_W))
    return f"""
    WITH {_BM25_CTES},
    lex AS (
      SELECT doc_id, CAST(rn AS BIGINT) AS r1 FROM (
        SELECT doc_id, row_number() OVER (ORDER BY round(s, 4) DESC, doc_id) AS rn
        FROM tot)
      WHERE rn <= {_RBO_DEPTH}),
    qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = {RRF_QUERY_VEC}),
    sem AS (
      SELECT doc_id, CAST(rn AS BIGINT) AS r2 FROM (
        SELECT e.vec_id AS doc_id,
               row_number() OVER (ORDER BY {cos} DESC, e.vec_id) AS rn
        FROM embeddings e, qv WHERE e.vec_id <> {RRF_QUERY_VEC})
      WHERE rn <= {_RBO_DEPTH}),
    joint AS (
      SELECT greatest(lex.r1, sem.r2) AS m
      FROM lex JOIN sem USING (doc_id)),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_both,
             COALESCE(sum(CAST([{wt}][CAST(m AS INTEGER)] AS HUGEINT)), 0) AS w_sum
      FROM joint)
    SELECT n_both,
           CAST(w_sum AS BIGINT) AS rbo_num_scaled,
           CAST((1000000 * w_sum) // {_RBO_DEN} AS BIGINT) AS rbo_micro
    FROM agg
    """


@register(
    "rbo_lexical_semantic",
    oracle=_sql_rbo(),
    tags=("text", "similarity", "ranking", "statistics"),
)
def rbo_lexical_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap (Webber et al. 2010, p = 1/2) between the two
    retrieval systems the RRF query fuses — BM25's lexical top-{_RBO_DEPTH}
    and the embedding-cosine top-{_RBO_DEPTH}: the top-weighted list
    agreement that Kendall/Jaccard get wrong for rankings (disagreement
    at rank 1 should cost more than at rank 20; RBO's geometric decay
    encodes exactly that). LOW RBO is the justification for hybrid
    fusion — if the lists agreed, one system would suffice.

    Exact dyadic arithmetic: at p = 1/2 every per-doc contribution
    Σ_{{d≥m}} (1/2)^d/d scales to the integer W(m) table (lcm·2^depth
    units, a {_RBO_DEPTH}-entry literal shared by both engines), so the
    statistic is one integer lookup-sum over the joined lists and one
    truncating micro division — no float ever forms. 38-digit
    accumulation (W(1)·depth ≈ 2.4e18 brushes BIGINT). Scale: both
    rankers are the registered tiers' plans; the RBO join touches
    2·{_RBO_DEPTH} rows."""
    from streamprocessing_spark.operators import similarity as S
    from streamprocessing_spark.queries.similarity import load_table as _lt

    lex_scores = bm25_rank_docs(spark, sf_dir)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex = lex_scores.select(
        "doc_id", F.row_number().over(w).cast("long").alias("r1")
    ).where(F.col("r1") <= _RBO_DEPTH)
    emb = _lt(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    sem = S.topk_per_query(emb, q, _RBO_DEPTH).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("r2")
    )
    wt = f"array({','.join(str(x) + 'L' for x in _RBO_W)})"
    joint = lex.join(sem, "doc_id").select(
        F.expr(
            f"CAST(element_at({wt}, CAST(greatest(r1, r2) AS INT)) AS DECIMAL(38,0))"
        ).alias("wm")
    )
    agg = joint.agg(
        F.count(F.lit(1)).alias("n_both"),
        F.coalesce(F.sum("wm"), F.lit(0).cast("decimal(38,0)")).alias("w_sum"),
    )
    return agg.select(
        F.col("n_both").cast("long").alias("n_both"),
        F.col("w_sum").cast("long").alias("rbo_num_scaled"),
        F.expr(f"CAST((1000000 * w_sum) div {_RBO_DEN} AS BIGINT)").alias("rbo_micro"),
    )
