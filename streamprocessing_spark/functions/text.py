"""Text-analysis column expressions for training-data pipelines.

All pure Catalyst expressions (no UDFs): tokenization, language-ID
heuristic, quality scoring, fingerprinting. Everything is deterministic
and engine-portable — the DuckDB oracles re-express the same arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_round(col: Column, digits: int) -> Column:
    """Engine-portable rounding for PER-ROW ratios whose unrounded double
    is bit-identical across engines: floor(x*10^d + 0.5)/10^d evaluates to
    the same double everywhere, unlike round(), whose halfway handling
    differs between Spark (decimal-string HALF_UP) and DuckDB (scaled
    float) — observed diverging on 1 of 5000 quality scores at sf0.1.
    Only for non-negative per-row values; aggregates keep round() (their
    inputs already differ across engines by accumulation order)."""
    k = float(10 ** digits)
    return F.floor(col * k + F.lit(0.5)) / F.lit(k)

def mlog2(col: Column) -> Column:
    """round(1000·log2(k)) for a positive INTEGER k — the milli-bit
    integer logarithm, the primitive that lets log-domain scores (LM
    surprisal, DSIR importance ratios) stay ORDER-INDEPENDENT exact
    integer sums instead of float log accumulations: quantize each
    per-value log once, then every downstream aggregate is a BIGINT sum.

    Engine-portable by a measured margin, not by hope: 1000·log2(k) for
    integer k is never closer than 2.1e-8 to a half-integer boundary for
    any non-power-of-two k < 2²² (exhaustive scan, pinned in
    tests/test_functions_portable.py), while cross-engine double log2
    disagreement is ≤ a few ulp (~1e-12 here) — a 10⁴ safety factor; at
    powers of two log2 is exact in IEEE. Count-valued arguments beyond
    2²² appear only as corpus-total scalars (one or two values per
    query), where the per-value collision chance is ~1e-11."""
    return F.floor(F.lit(1000.0) * F.log2(col) + F.lit(0.5)).cast("long")


def sql_mlog2(x: str) -> str:
    """DuckDB spelling of mlog2 — identical arithmetic, same floor."""
    return f"CAST(floor(1000*log2({x})+0.5) AS BIGINT)"


# Word tokens: runs of ASCII alphanumerics over the lowercased text.
# CANONICAL definition — operators/dedup.py and the SQL oracles import
# these; the oracle comparisons rely on byte-for-byte agreement.
TOKEN_RE = "[a-z0-9]+"
SQL_TOKENS = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small: the heuristic must be cheap enough to run
# on 100 TB (a handful of array_intersect ops per row).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "que", "por", "con"],
}


def tokens(text: Column) -> Column:
    """Lowercased word tokens (whitespace/punctuation-agnostic)."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), 0)


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def stopword_hits(toks: Column, lang: str) -> Column:
    """Number of token positions that hit the language's stopword list."""
    arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("long")


def lang_pick(hits: dict[str, Column], text: Column) -> Column:
    """Argmax-of-stopword-hits language guess with CJK short-circuit, over
    ALREADY-MATERIALIZED per-language hit columns (each hit column is
    referenced up to 4× below — inlining the token pipeline into every
    reference would re-run the tokenizer per comparison; see
    operators/dedup.shingle_df for the measured cost of that pattern).

    Deterministic tiebreak: languages compared in the fixed order
    en > de > fr > es (>= keeps the earlier language on ties); all-zero
    hits → 'und'. A CJK codepoint anywhere → 'zh' (token heuristics don't
    apply to unsegmented scripts).
    """
    best = (
        F.when(
            (hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"]) & (hits["en"] >= hits["es"]) & (hits["en"] > 0),
            F.lit("en"),
        )
        .when((hits["de"] >= hits["fr"]) & (hits["de"] >= hits["es"]) & (hits["de"] > 0), F.lit("de"))
        .when((hits["fr"] >= hits["es"]) & (hits["fr"] > 0), F.lit("fr"))
        .when(hits["es"] > 0, F.lit("es"))
        .otherwise(F.lit("und"))
    )
    has_cjk = F.regexp_count(text, F.lit(r"[一-鿿]")) > 0
    return F.when(has_cjk, F.lit("zh")).otherwise(best)


def quality_from_stats(n_tok: Column, stop_hits: Column, n_chars: Column, n_alpha: Column) -> Column:
    """Composite document-quality score in [0,1] from pre-materialized
    surface stats (materialize them in a projection — each is referenced
    more than once here):

    - length_score: min(1, n_tokens/100) — too-short docs score low;
    - stopword_ratio: fraction of tokens that are (en) stopwords — natural
      prose sits around 0.3-0.6;
    - alpha_ratio: alphanumeric chars / all chars — penalizes symbol soup.

    score = round(0.4*length + 0.4*min(1, stop_ratio/0.4) + 0.2*alpha, 4).
    Single-pass arithmetic — identical in any engine; no accumulation
    ordering concerns.
    """
    length_score = F.least(F.lit(1.0), n_tok / F.lit(100.0))
    stop_ratio = F.when(n_tok > 0, stop_hits / n_tok).otherwise(F.lit(0.0))
    stop_score = F.least(F.lit(1.0), stop_ratio / F.lit(0.4))
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    return portable_round(0.4 * length_score + 0.4 * stop_score + 0.2 * alpha_ratio, 4)


def alpha_count(text: Column) -> Column:
    return F.length(F.regexp_replace(text, r"[^A-Za-z0-9]", ""))


def fingerprint(text: Column) -> Column:
    """Canonical content fingerprint: md5 of the whitespace-normalized,
    lowercased text. Identical hex in every engine; the join key for
    exact dedup across shards."""
    normalized = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.md5(normalized)
