"""Embedding similarity search over array<float> columns.

Everything stays JVM-side: the dot product is a Catalyst ``zip_with`` +
``aggregate`` fold (whole-stage codegen), not a Python UDF. Elements are
cast to double BEFORE multiplying so the arithmetic is bit-portable to the
DuckDB oracles (float→double widening is exact; the sequential fold order
matches list_transform/list_sum).

Tiers:
- brute-force top-k: broadcast the (few) query vectors against the corpus
  scan, per-query heap via row_number window. Exact; one shuffle of
  (query × corpus) scored pairs pruned to k per partition.
- all-pairs cosine ≥ t: the embedding near-dup operator (self-join).
- IVF top-k: deterministic coarse quantizer (centroids = a fixed id
  sample), nprobe-limited candidate scan. The 100 TB path: scoring is
  restricted to vectors in the probed cells — recall is tested against
  the brute-force tier rather than oracled (approximate by design).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from streamprocessing_spark.partitioning import fan_out
from streamprocessing_spark.shipping import guard_zip_caches


def dot_double(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision (portable)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm_double(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ))


def cosine(a: Column, b: Column) -> Column:
    # try_divide, not `/`: a zero-norm vector (legal dirty data — the
    # hostile sweep injects them) makes this 0/0, which ANSI-mode Spark
    # raises on while DuckDB quietly yields NULL. NULL mirrors DuckDB:
    # it fails every >= threshold predicate and sorts last under DESC
    # ranks, so directionless vectors drop out of pair/top-k results on
    # BOTH engines instead of crashing the job at scale.
    return F.try_divide(dot_double(a, b), norm_double(a) * norm_double(b))


def with_cosine_fast(
    df: DataFrame,
    a_col: str,
    b_col: str,
    out_col: str = "cos",
    threshold: float | None = None,
) -> DataFrame:
    """Append cos(a_col, b_col) via an Arrow-batched numpy kernel that
    folds DIMENSION-BY-DIMENSION (sequential over dims, vectorized over
    the batch axis) — bit-identical to ``cosine()``'s interpreted
    try_divide(dot_double, norm_double·norm_double) sequence, at numpy
    speed (the round-5 unlock: ROADMAP had written this swap off as
    "breaks bit-parity" when only numpy's pairwise tree sum was
    considered; the dim-loop IS the sequential fold). The two vector
    columns are consumed; all other columns pass through. A zero-norm
    vector gives 0/0 → NULL, exactly like try_divide (NaN and the
    zero-divisor case mask to NULL; ±inf from a nonzero-divisor overflow
    passes through, matching try_divide's IEEE behaviour). With
    ``threshold`` the filter runs in-kernel, so non-qualifying pairs
    never cross Arrow back."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    keep = [f for f in df.schema.fields if f.name not in (a_col, b_col)]
    out_schema = StructType([*keep, StructField(out_col, DoubleType())])
    keep_names = [f.name for f in keep]

    def kernel(batches):
        guard_zip_caches()
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            a_list = pdf[a_col].to_numpy()
            b_list = pdf[b_col].to_numpy()
            n = len(pdf)
            la = np.fromiter((len(v) for v in a_list), dtype=np.int64, count=n)
            lb = np.fromiter((len(v) for v in b_list), dtype=np.int64, count=n)
            cos = np.full(n, np.nan)
            # ragged guard (hostile fixtures): zip_with pads the shorter
            # array with NULL, nulling the dot → try_divide NULL; equal
            # empty arrays give 0/0 → NULL too. Vectorize per length
            # group; mismatched/empty rows stay NaN (→ NULL below).
            for ln in np.unique(la):
                m = (la == ln) & (lb == ln)
                if ln == 0 or not m.any():
                    continue
                a_m = np.stack(a_list[m]).astype(np.float64)
                b_m = np.stack(b_list[m]).astype(np.float64)
                k = int(m.sum())
                dot = np.zeros(k)
                na = np.zeros(k)
                nb = np.zeros(k)
                for i in range(int(ln)):
                    x, y = a_m[:, i], b_m[:, i]
                    dot = dot + x * y
                    na = na + x * x
                    nb = nb + y * y
                with np.errstate(invalid="ignore", divide="ignore"):
                    den = np.sqrt(na) * np.sqrt(nb)
                    c = dot / den
                    # try_divide NULLs on a ZERO divisor (numpy would
                    # give ±inf for dot/0); a nonzero-divisor overflow
                    # to ±inf passes through on both engines.
                    c[den == 0.0] = np.nan
                    cos[m] = c
            if threshold is not None:
                m = cos >= threshold  # NaN fails, like NULL
                out = pdf.loc[m, keep_names].copy()
                out[out_col] = cos[m]
            else:
                out = pdf[keep_names].copy()
                arr = pd.array(cos, dtype="Float64")
                # Only NaN maps to NULL: try_divide yields NULL solely on
                # 0/0-style indeterminate folds; an overflow-to-±inf dot
                # or norm passes through as ±Infinity there too, so it
                # must here (bit-identical contract with cosine()).
                arr[np.isnan(cos)] = pd.NA
                out[out_col] = arr
            yield out

    return df.mapInPandas(kernel, out_schema)


def topk_per_query(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact brute-force top-k: broadcast-join queries × corpus, score
    (numpy dim-fold kernel — bit-identical to the interpreted fold),
    keep k per query. TakeOrdered semantics via row_number: each shuffle
    partition only carries its local survivors. Output
    (query_id, neighbor_id, rank).

    The corpus side fans out on its unique id first (round 10): the Q·n
    scoring runs before the top-k shuffle, i.e. at scan parallelism —
    one core on any single-row-group input, a plan no-op on a real
    multi-split scan."""
    scored = with_cosine_fast(
        fan_out(emb, id_col)
        .join(F.broadcast(queries))
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("av"),
            F.col(query_vec_col).alias("bv"),
        ),
        "av",
        "bv",
        "cos",
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.select(query_id_col, "neighbor_id", F.row_number().over(w).cast("long").alias("rank"))
        .where(F.col("rank") <= k)
    )


def cosine_pairs(
    emb: DataFrame, threshold: float, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """All-pairs cosine ≥ threshold (embedding near-dup). O(n²) scoring —
    correct baseline; at scale, prefilter candidates with SRP-LSH banding
    (same banding skeleton as operators/dedup.lsh_candidate_pairs) and
    verify with this exact score. Output (id_a, id_b, cos rounded). The
    n²/2 scores run the numpy dim-fold kernel (with_cosine_fast) with
    the threshold applied in-kernel — bit-identical to the interpreted
    fold, and failing pairs never cross Arrow back."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    from streamprocessing_spark.functions.text import portable_round

    scored = with_cosine_fast(
        a.join(b, F.col("id_a") < F.col("id_b")), "va", "vb", "cos", threshold=threshold
    )
    return scored.select("id_a", "id_b", portable_round(F.col("cos"), 6).alias("cos_sim"))


# ------------------------------------------------------------------ SRP-LSH
# Signed-random-projection LSH: bit j of a vector's signature is the sign of
# its dot product with hyperplane j. P(bit agrees) = 1 - angle/pi, so banding
# the bits yields a cosine-similarity candidate filter — the embedding
# analogue of MinHash banding (operators/dedup.lsh_candidate_pairs). The
# hyperplanes are md5-derived (no RNG): both engines regenerate the exact
# same weights, so the whole pipeline — signatures, bands, candidates,
# verified pairs — is deterministic and bit-for-bit oracle-checkable.

SRP_BITS = 16
SRP_BANDS = 4
SRP_ROWS_PER_BAND = 4

assert SRP_BANDS * SRP_ROWS_PER_BAND == SRP_BITS


def srp_weights(dim: int, nbits: int = SRP_BITS) -> list[list[float]]:
    """Deterministic hyperplane weights in [-1, 1): w[j][d] =
    h32("srp:j:d") / 2^31 - 1. All three steps (int→double, divide by a
    power of two, subtract 1.0) are exact IEEE ops, so Python, Spark and
    DuckDB produce identical doubles from the same md5."""
    return [
        [
            int(hashlib.md5(f"srp:{j}:{d}".encode()).hexdigest()[:8], 16) / 2147483648.0 - 1.0
            for d in range(dim)
        ]
        for j in range(nbits)
    ]


def _srp_band_structs(
    vec_col: str,
    weights: list[list[float]],
    rows_per_band: int = SRP_ROWS_PER_BAND,
    bands: int = SRP_BANDS,
) -> Column:
    """Array of (band, sig) structs for one vector column. The weights are
    plan literals (computed driver-side once) — each bit is a
    zip_with/aggregate fold evaluated JVM-side, no Python at execution
    time.

    The whole thing is ONE SQL expression string (hyperplanes × dim
    double literals): Column-tree construction cost ~1000 py4j round-trips
    (~0.9 s driver time) per query. `repr(float)` round-trips exactly
    through both Python and the SQL parser (shortest correctly-rounded
    decimal), and the `D` suffix forces DOUBLE (bare decimal literals
    parse as DECIMAL in Spark SQL)."""
    assert len(weights) == rows_per_band * bands

    def _dlit(x: float) -> str:
        r = repr(x)
        # Spark's double-literal suffix needs plain decimal notation; repr
        # may emit exponent form for tiny values — CAST parses those.
        return f"{r}D" if "e" not in r and "E" not in r else f"CAST('{r}' AS DOUBLE)"

    bits = []
    for w in weights:
        warr = "array(" + ", ".join(_dlit(x) for x in w) + ")"
        dot = (
            f"aggregate(zip_with({vec_col}, {warr}, (a, b) -> CAST(a AS DOUBLE) * b), "
            "0.0D, (acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN {dot} >= 0.0D THEN '1' ELSE '0' END)")
    structs = ", ".join(
        "struct({b} AS band, concat({bs}) AS sig)".format(
            b=b, bs=", ".join(bits[b * rows_per_band : (b + 1) * rows_per_band])
        )
        for b in range(bands)
    )
    return F.expr(f"array({structs})")


def srp_buckets_fast(
    df: DataFrame,
    weights: list[list[float]],
    rows_per_band: int,
    bands: int,
    id_col: str = "id",
    vec_col: str = "v",
    r_col: str | None = None,
) -> DataFrame:
    """(id, band, sig) bucket rows via a numpy dim-fold signature kernel —
    bit-identical to _srp_band_structs' interpreted per-hyperplane
    aggregate folds (each (row, bit) dot accumulates sequentially over
    dims; the batch×bits plane is one fused numpy op per dim). With
    ``r_col`` (adaptive tiers) each band's signature is truncated to that
    row's r — the count-derived resolution arrives as a column, exactly
    like the in-plan broadcast the Catalyst form cross-joins."""
    w_mat = [list(map(float, w)) for w in weights]
    nbits = len(w_mat)
    assert nbits == rows_per_band * bands

    def kernel(batches):
        guard_zip_caches()
        import numpy as np
        import pandas as pd

        w_np = np.array(w_mat, dtype=np.float64)  # (nbits, dim)
        dim = w_np.shape[1]
        for pdf in batches:
            if not len(pdf):
                continue
            v_list = pdf[vec_col].to_numpy()
            n = len(pdf)
            lv = np.fromiter((len(v) for v in v_list), dtype=np.int64, count=n)
            acc = np.full((n, nbits), np.nan)
            # ragged guard: a vector whose length differs from the
            # hyperplane dim zip_with-pads to NULL → NULL dot → CASE
            # yields '0' for every bit (NaN >= 0 is False below, same
            # result). Equal-length rows take the vectorized fold.
            m = lv == dim
            if m.any():
                x = np.stack(v_list[m]).astype(np.float64)  # (k, dim)
                a = np.zeros((int(m.sum()), nbits))
                for i in range(dim):
                    # one fused (k × nbits) multiply-add per dim — each
                    # element's accumulation is sequential over dims, the
                    # exact IEEE fold aggregate() runs
                    a = a + x[:, i : i + 1] * w_np[None, :, i]
                acc[m] = a
            with np.errstate(invalid="ignore"):
                bits = np.where(acc >= 0.0, "1", "0")
            ids = pdf[id_col].to_numpy()
            rs = pdf[r_col].to_numpy() if r_col else None
            out_id, out_band, out_sig = [], [], []
            for row in range(n):
                chars = bits[row]
                r = int(rs[row]) if rs is not None else rows_per_band
                for b_i in range(bands):
                    out_id.append(ids[row])
                    out_band.append(b_i)
                    out_sig.append(
                        "".join(chars[b_i * rows_per_band : b_i * rows_per_band + r])
                    )
            yield pd.DataFrame(
                {"id": out_id, "band": pd.array(out_band, dtype="int32"), "sig": out_sig}
            )

    # The id field keeps the caller's type (string doc ids, int32 keys…)
    # instead of a hardcoded bigint that would Arrow-miscast at runtime.
    id_type = df.schema[id_col].dataType.simpleString()
    # Deliberately NOT fanned out (round-10 negative result): the numpy
    # signature kernel is already fast at scan parallelism, and a
    # fan_out repartition here taxed the downstream band join
    # (srp_lsh_cosine_pairs_scaled 2.42 → 3.19 s at sf0.1; reverted).
    return df.mapInPandas(
        kernel, f"id {id_type}, band int, sig string"
    )


def srp_lsh_cosine_pairs(
    emb: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SRP-LSH near-duplicate pairs, exact-cosine-verified.

    The 100 TB path for embedding near-dup: candidates come from a
    self-join keyed on (band, sig) — shuffle scales with bucket sizes,
    never all-pairs — then only candidates pay the exact cosine. Precision
    is exact (every emitted pair passed the true threshold); recall is the
    banding probability (1-(1-p^r)^b, p = 1-θ/π), tested against the
    brute-force tier. Output (id_a, id_b, cos_sim) — a deterministic
    subset of cosine_pairs(emb, threshold)."""
    weights = srp_weights(dim)
    buckets = emb.select(
        F.col(id_col).alias("id"),
        F.explode(_srp_band_structs(vec_col, weights)).alias("bs"),
    ).select("id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # Norms are computed ONCE per vector and joined to the pairs: the
    # higher-order-function folds are interpreted (not codegen'd), so
    # per-pair cosine = dot + 2 norms would triple the dominant cost.
    # The joined norm is the same double the per-pair fold would produce —
    # bit-identical to the oracle's per-pair norm arithmetic.
    va = emb.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        norm_double(F.col(vec_col)).alias("na"),
    )
    vb = emb.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        norm_double(F.col(vec_col)).alias("nb"),
    )
    from streamprocessing_spark.functions.text import portable_round

    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.try_divide(dot_double(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", portable_round(F.col("cos"), 6).alias("cos_sim"))
    )


# Adaptive-r SRP tier: r(n) = clamp(ceil(log2 n) − SRP_R_SHIFT,
# SRP_RMIN, SRP_RMAX) bits per band — the banding resolution grows with
# the corpus the way ivf_cosine_pairs' K = ⌈√n⌉ does, so expected bucket
# size (≈ n/2^r for well-spread signatures) stays bounded instead of
# growing linearly with n (the fixed-(r,b) candidate law n²·c^r measured
# in SCALE.md). SRP_RMAX caps the bits this instrument computes (each
# bit is one interpreted dot fold — resolution is paid linearly);
# production at 100 TB raises RMAX to 16–24 and re-derives SHIFT so
# 2^r ∝ n holds across the whole corpus range.
SRP_RMIN = 4
SRP_RMAX = 8
SRP_R_SHIFT = 7

# Recall-held banding (VERDICT r03 item #4): growing r alone (the
# _adaptive tier) trades recall away — per-band match probability is p^r
# (p = 1 − arccos(θ)/π ≈ 0.6486 at θ=0.45), so each added bit multiplies
# recall's per-band term by p. The companion law grows BANDS alongside
# bits: b(r) = ceil(ln(1−R0)/ln(1−p^r)) holds the r=4,b=4 design recall
# R0 ≈ 0.541 (the 1−(1−p^r)^b inversion; b ≈ p^−r·ln(1/(1−R0)) up to
# ceiling). Static table — b depends only on r, which both engines derive
# from the same count, so the plan stays bit-exact-oracleable:
#   r:      4  5   6   7   8
#   b(r):   4  7  11  16  25      (recall 0.541–0.574 across the range)
SRP_RECALL_BANDS = {4: 4, 5: 7, 6: 11, 7: 16, 8: 25}


def srp_r_for_count(n_rows: int) -> int:
    """r(n) = clamp(ceil(log2 n) − SRP_R_SHIFT, SRP_RMIN, SRP_RMAX) via
    exact integer arithmetic ((n−1).bit_length() == ceil(log2 n) for
    n ≥ 2) — the same value the in-plan/SQL ceil(log2(count)) derives."""
    return min(SRP_RMAX, max(SRP_RMIN, (max(n_rows, 2) - 1).bit_length() - SRP_R_SHIFT))


def srp_lsh_cosine_pairs_recall_held(
    emb: DataFrame,
    threshold: float,
    dim: int,
    n_rows: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SRP-LSH near-dup pairs with corpus-scaled bits AND recall-held
    bands — the full in-family scale law: r(n) grows one bit per corpus
    doubling (bounding bucket occupancy, the _adaptive remedy) while
    b(r) = SRP_RECALL_BANDS[r] grows ≈ p^−r so banding recall stays at
    the r=4,b=4 design point instead of decaying (SCALE.md documents the
    fixed-b recall loss: 2,337 vs 9,853 pairs at the 10× proxy).

    (r, b) are derived from ``n_rows`` — a driver-side metadata count
    that parameterizes plan RESOLUTION the way AQE parameterizes
    partitioning; the oracle derives the identical (r, b) from its own
    count, and bit j of band i is hyperplane index i·SRP_RMAX + j on
    both sides, so the pipeline stays bit-exact-oracleable. Cost is paid
    where the theory says it must be: signature folds grow ~p^−r ≈
    1.54×/bit (b·RMAX hyperplanes), the price of holding recall while
    candidates stay ~linear in n."""
    r = srp_r_for_count(n_rows)
    bands = SRP_RECALL_BANDS[r]
    weights = srp_weights(dim, nbits=bands * SRP_RMAX)
    # numpy dim-fold signature kernel (srp_buckets_fast): bit-identical
    # to the b·RMAX interpreted hyperplane folds, at Arrow-batch speed —
    # the stage the recall-held law pays its p^−r price in.
    buckets = srp_buckets_fast(
        emb.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.lit(r).alias("r")
        ),
        weights,
        rows_per_band=SRP_RMAX,
        bands=bands,
        r_col="r",
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # numpy dim-fold verify (with_cosine_fast): bit-identical doubles to
    # the interpreted per-pair folds, at Arrow-batch speed.
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    from streamprocessing_spark.functions.text import portable_round

    scored = with_cosine_fast(
        cand.join(va, "id_a").join(vb, "id_b"), "va", "vb", "cos", threshold=threshold
    )
    return scored.select("id_a", "id_b", portable_round(F.col("cos"), 6).alias("cos_sim"))


def srp_lsh_cosine_pairs_adaptive(
    emb: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SRP-LSH near-dup pairs with CORPUS-SCALED band resolution — the
    in-family remedy for the fixed-(r,b) banding law (the cross-family
    remedy is ivf_cosine_pairs).

    Each band's signature is computed at SRP_RMAX bits and truncated to
    r(n) bits, with n (and hence r) derived IN-PLAN from a broadcast
    single-row aggregate — no config to forget when the corpus grows,
    and the whole pipeline stays deterministic and bit-exact-oracleable
    (the oracle derives the same r from the same count). Doubling the
    corpus adds one signature bit, halving expected bucket occupancy:
    candidates stay ~linear in n where frozen-r banding goes n²·c^r.
    Recall shrinks as r grows (p^r per band) — b would grow with r in a
    recall-targeted production setting; here b is fixed and the recall
    curve is asserted against the exact tier in tests."""
    weights = srp_weights(dim, nbits=SRP_BANDS * SRP_RMAX)
    r = emb.agg(
        F.expr(
            f"CAST(least({SRP_RMAX}, greatest({SRP_RMIN}, "
            f"CAST(ceil(log2(greatest(count(1), 2))) AS INT) - {SRP_R_SHIFT})) AS INT)"
        ).alias("r")
    )
    # numpy dim-fold signature kernel; the in-plan count-derived r rides
    # in as a broadcast-joined column, truncating each band's signature
    # exactly like the Catalyst substring form it replaced
    buckets = srp_buckets_fast(
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).crossJoin(
            F.broadcast(r)
        ),
        weights,
        rows_per_band=SRP_RMAX,
        bands=SRP_BANDS,
        r_col="r",
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # numpy dim-fold verify (with_cosine_fast): bit-identical doubles to
    # the interpreted per-pair folds, at Arrow-batch speed.
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    from streamprocessing_spark.functions.text import portable_round

    scored = with_cosine_fast(
        cand.join(va, "id_a").join(vb, "id_b"), "va", "vb", "cos", threshold=threshold
    )
    return scored.select("id_a", "id_b", portable_round(F.col("cos"), 6).alias("cos_sim"))


IVF_PAIR_NASSIGN = 3


def ivf_assignments(
    emb: DataFrame,
    nassign: int = IVF_PAIR_NASSIGN,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cent_id): every vector's ``nassign`` nearest cells under the
    deterministic coarse quantizer (K = ceil(sqrt(n)) smallest-id
    vectors as centroids — the same quantizer ivf_cosine_pairs /
    ann_ivf_topk use, factored out so candidate-generation consumers
    like bitext mining share one assignment law). Materialized once
    (localCheckpoint): assignment is the n·K = n^1.5 hot stage and
    every consumer joins it at least twice."""
    k = emb.agg(F.ceil(F.sqrt(F.count(F.lit(1)))).cast("long").alias("k"))
    centroids = (
        emb.crossJoin(F.broadcast(k))
        .where(F.col(id_col) < F.col("k"))
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
    )
    vecs = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    w_assign = Window.partitionBy("id").orderBy(F.desc("cos_c"), F.asc("cent_id"))
    return (
        with_cosine_fast(
            vecs.join(F.broadcast(centroids)).select(
                "id", "cent_id", F.col("v").alias("av"), F.col("cent_vec").alias("bv")
            ),
            "av",
            "bv",
            "cos_c",
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") <= nassign)
        .select("id", "cent_id")
        .localCheckpoint(eager=True)
    )


def ivf_cosine_pairs(
    emb: DataFrame,
    threshold: float,
    nassign: int = IVF_PAIR_NASSIGN,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-cell candidate generation for embedding near-dup pairs — the
    documented remedy (SCALE.md) for fixed-(r,b) SRP banding's n²·c^r
    candidate law.

    Coarse quantizer: the K = ceil(sqrt(n)) smallest-id vectors are the
    centroids (deterministic — no RNG, no training step; K is computed
    from the corpus count via a broadcast single-row aggregate, so the
    resolution SCALES WITH n instead of being frozen at build time, which
    is exactly the knob fixed-signature LSH lacks). Every vector joins its
    ``nassign`` nearest cells; candidate pairs share a cell; only
    candidates pay the exact cosine verify against ``threshold``.

    Cost shape: assignment is n·K = n^1.5 single-vector cosines;
    candidates are K·(n·nassign/K)² = n^1.5·nassign² verifies — both
    stages n^1.5, vs n² for all-pairs and n²·c^r (r frozen) for banding.
    At 100 TB the corpus is written bucketed by cell id, so the pair join
    is cell-partitioned with no global shuffle.

    Precision is exact (every emitted pair passed the true threshold).
    Recall is the probability that a qualifying pair co-assigns — near 1
    for true near-duplicates (θ ≥ 0.85: vectors that close rank cells
    nearly identically), lower in the similarity TAIL (the sf0.1 corpus
    has no injected twins, so the θ=0.45 query measures exactly that tail
    — recall vs the exact tier is asserted in tests/test_similarity.py).
    Everything — centroid choice, assignment ranking, tie-breaks, the
    verify arithmetic — is deterministic, so the full pipeline is
    bit-for-bit oracle-checkable, like srp_lsh_cosine_pairs."""
    cell_vecs = ivf_cell_vectors(emb, nassign, id_col, vec_col)
    pair_schema, cell_verify = cell_verify_kernel(threshold)
    scored = cell_vecs.groupBy("cent_id").applyInPandas(cell_verify, pair_schema)
    from streamprocessing_spark.functions.text import portable_round

    return scored.select(
        "id_a", "id_b", portable_round(F.col("cos"), 6).alias("cos_sim")
    ).distinct()


def ivf_cell_vectors(
    emb: DataFrame,
    nassign: int = IVF_PAIR_NASSIGN,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus: DataFrame | None = None,
) -> DataFrame:
    """(cent_id, id, v): every vector joined to its ``nassign`` nearest
    IVF cells under the deterministic K = ceil(sqrt(n)) smallest-id
    quantizer — the assignment relation ivf_cosine_pairs verifies inside
    and ivf_cosine_pairs_persisted materializes as the cent_id-
    partitioned on-disk index (round 9). Factored out so the in-memory
    and persisted tiers share one assignment law by construction.

    ``corpus`` (round 10): train the quantizer on a DIFFERENT relation
    than the vectors being assigned — the incremental-append tier
    assigns a new batch slice against the full-corpus quantizer, so
    per-vector assignments are identical whether a vector arrives in
    the base build or a later batch (index(base) ∪ index(batch) ==
    index(full), the maintenance law ivf_cosine_pairs_incremental
    proves). Defaults to ``emb`` (the existing single-build law)."""
    quant_src = corpus if corpus is not None else emb
    k = quant_src.agg(F.ceil(F.sqrt(F.count(F.lit(1)))).cast("long").alias("k"))
    centroids = (
        quant_src.crossJoin(F.broadcast(k))
        .where(F.col(id_col) < F.col("k"))
        .select(
            F.col(id_col).alias("cent_id"),
            F.col(vec_col).alias("cent_vec"),
        )
    )
    # fan the single-split scan out on the unique id (round 10): the
    # n·K assignment cosines below run BEFORE the first shuffle, i.e. at
    # scan parallelism — one core on any one-row-group input
    vecs = fan_out(
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")), "id"
    )
    # both hot stages (n·K assignment cosines, candidate verify) run the
    # numpy dim-fold kernel — bit-identical to the interpreted folds
    w_assign = Window.partitionBy("id").orderBy(F.desc("cos_c"), F.asc("cent_id"))
    assigned = (
        with_cosine_fast(
            vecs.join(F.broadcast(centroids)).select(
                "id", "cent_id", F.col("v").alias("av"), F.col("cent_vec").alias("bv")
            ),
            "av",
            "bv",
            "cos_c",
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") <= nassign)
        .select("id", "cent_id")
    )
    return assigned.join(vecs, "id").select("cent_id", "id", "v")


def cell_verify_kernel(threshold: float):
    """(pair_schema, cell_verify): the per-cell pair-verify kernel for
    (cent_id, id, v) groups — shared by the in-memory tier
    (ivf_cosine_pairs) and the persisted-index tier (round 9), so both
    produce identical bits from identical cells by construction."""
    # Verify WITHIN the cell (round-8 rework): the previous shape built
    # the full candidate id-pair relation (n^1.5·nassign² rows), deduped
    # it, then re-joined BOTH vector payloads onto every candidate — at
    # the 100× proxy with 256-dim vectors that second join shuffles
    # ~payload × candidates ≈ 400 GB and fills the disk (observed: the
    # emb256 x100 run died ENOSPC in the verify shuffle). Cell-local
    # verify ships each assigned vector exactly ONCE (n·nassign·d
    # payload), generates candidate pairs INSIDE the per-cell kernel,
    # folds the cosine dimension-by-dimension in pair-chunks (the same
    # IEEE sequence as with_cosine_fast — bit-identical to the
    # interpreted fold and the DuckDB oracle), and emits only survivors,
    # so nothing pair-sized ever touches a shuffle or the Arrow
    # boundary. This IS the docstring's 100 TB layout: corpus bucketed
    # by cell id, pair work cell-partitioned with no global shuffle. A
    # pair co-assigned to several cells is emitted by each (identical
    # bits — deterministic arithmetic), collapsed by the final distinct
    # over surviving pairs only.
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    pair_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cos", DoubleType()),
        ]
    )
    thr = float(threshold)

    def cell_verify(pdf):
        guard_zip_caches()
        import numpy as np
        import pandas as pd

        ids_all = pdf["id"].to_numpy()
        vec_all = pdf["v"].to_numpy()
        n_rows = len(pdf)
        if n_rows < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos": "float64"}
            )
        lens = np.fromiter((len(v) for v in vec_all), dtype=np.int64, count=n_rows)
        out_a: list = []
        out_b: list = []
        out_c: list = []
        # ragged guard, same law as with_cosine_fast: only equal-length
        # nonempty pairs can produce a non-NULL fold (zip_with pads the
        # shorter side with NULL ⇒ NULL dot ⇒ try_divide NULL ⇒ fails
        # the threshold), so cross-length pairs are skipped outright.
        for ln in np.unique(lens):
            if ln == 0:
                continue
            sel = lens == ln
            if int(sel.sum()) < 2:
                continue
            ids = ids_all[sel]
            mat = np.stack(vec_all[sel]).astype(np.float64)
            m = len(ids)
            d = int(ln)
            # Per-row squared-norm fold in dim order — the same IEEE
            # sequence each pair's na/nb fold produced before (sum of
            # squares accumulated d=0..ln-1 from 0.0), so values are
            # bit-identical to the per-pair gather form.
            nrm = np.zeros(m)
            for i in range(d):
                nrm = nrm + mat[:, i] * mat[:, i]
            rt = np.sqrt(nrm)
            # Row-block the upper triangle (VERDICT r08 #1 / ADVICE):
            # np.triu_indices(m) materialized O(m²) int64 index arrays
            # before any chunking — a single hot cell (the near-dup
            # cluster shape dedup corpora actually produce) allocated
            # the whole triangle up front. Blockwise, each iteration
            # scores a (blk × tail) dot grid accumulated per-dim in
            # outer products (the cell_cross discipline) — the same
            # IEEE dim-order fold per pair — and keeps peak memory at
            # ~2M pairs' worth of temporaries regardless of cell skew.
            blk = max(1, 2_000_000 // max(1, m - 1))
            for s in range(0, m - 1, blk):
                e = min(s + blk, m - 1)
                Xb = mat[s:e]
                Y = mat[s + 1 :]
                dot = np.zeros((e - s, m - s - 1))
                for i in range(d):
                    dot = dot + Xb[:, i : i + 1] * Y[:, i][None, :]
                with np.errstate(invalid="ignore", divide="ignore"):
                    den = rt[s:e][:, None] * rt[s + 1 :][None, :]
                    c = dot / den
                    c[den == 0.0] = np.nan
                # grid row bi is global row s+bi; grid col cj is global
                # row s+1+cj — upper triangle keeps cj >= bi
                tri = np.arange(m - s - 1)[None, :] >= np.arange(e - s)[:, None]
                keep = tri & (c >= thr)  # NaN fails, like NULL
                if keep.any():
                    bi, cj = np.nonzero(keep)
                    ka = ids[s + bi]
                    kb = ids[s + 1 + cj]
                    lo = np.minimum(ka, kb)
                    hi = np.maximum(ka, kb)
                    out_a.append(lo)
                    out_b.append(hi)
                    out_c.append(c[bi, cj])
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos": "float64"}
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos": np.concatenate(out_c),
            }
        )

    return pair_schema, cell_verify


def ivf_cell_cross_scores(
    assigned: DataFrame,
    x: DataFrame,
    y: DataFrame,
    x_id: str = "xid",
    x_vec: str = "xv",
    y_id: str = "yid",
    y_vec: str = "yv",
) -> DataFrame:
    """All cross-side cosine scores over IVF-cell shortlists, computed
    WITHOUT ever joining vector payloads onto the n^1.5 shortlist
    relation — the bitext twin of ivf_cosine_pairs' cell-local verify
    (round 8: the old shape shipped both embeddings onto every
    shortlist pair through two shuffle joins, the exact payload×pairs
    blow-up that ENOSPC'd the 256-dim x100 run for the dedup tier).
    Each side's assigned vectors ship once (n·nassign·d), every
    (x, y) cell-mate pair is scored in-kernel with the same
    dimension-by-dimension IEEE fold as with_cosine_fast (bit-identical
    to the interpreted fold and the DuckDB oracle), and only the skinny
    (xid, yid, cos) rows cross Arrow back. Pairs sharing several cells
    emit identical bits from each — collapsed by the final distinct.
    NULL folds (cross-length or zero-norm pairs) are never emitted,
    matching the downstream isNotNull drop every consumer applies."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    cx = assigned.join(
        x.select(F.col(x_id).alias("id"), F.col(x_vec).alias("v")), "id"
    ).select("cent_id", "id", F.lit(True).alias("is_x"), "v")
    cy = assigned.join(
        y.select(F.col(y_id).alias("id"), F.col(y_vec).alias("v")), "id"
    ).select("cent_id", "id", F.lit(False).alias("is_x"), "v")
    cell = cx.unionByName(cy)

    out_schema = StructType(
        [
            StructField(x_id, LongType()),
            StructField(y_id, LongType()),
            StructField("cos", DoubleType()),
        ]
    )

    def cell_cross(pdf):
        guard_zip_caches()
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({x_id: [], y_id: [], "cos": []}).astype(
            {x_id: "int64", y_id: "int64", "cos": "float64"}
        )
        xm = pdf["is_x"].to_numpy()
        if not xm.any() or xm.all():
            return empty
        ids_all = pdf["id"].to_numpy()
        vec_all = pdf["v"].to_numpy()
        lens = np.fromiter(
            (len(v) for v in vec_all), dtype=np.int64, count=len(pdf)
        )
        out_x: list = []
        out_y: list = []
        out_c: list = []
        # only equal-length nonempty pairs fold non-NULL (zip_with pads
        # the shorter side ⇒ NULL dot ⇒ try_divide NULL ⇒ dropped)
        for ln in np.unique(lens):
            if ln == 0:
                continue
            sx = (lens == ln) & xm
            sy = (lens == ln) & ~xm
            if not sx.any() or not sy.any():
                continue
            xid_arr = ids_all[sx]
            yid_arr = ids_all[sy]
            X = np.stack(vec_all[sx]).astype(np.float64)
            Y = np.stack(vec_all[sy]).astype(np.float64)
            d = int(ln)
            # per-row norm folds, same dim order as with_cosine_fast
            nx = np.zeros(len(X))
            ny = np.zeros(len(Y))
            for i in range(d):
                nx = nx + X[:, i] * X[:, i]
                ny = ny + Y[:, i] * Y[:, i]
            rx = np.sqrt(nx)
            ry = np.sqrt(ny)
            # block the X side so the dot grid stays bounded under skew
            blk = max(1, 2_000_000 // max(1, len(Y)))
            for s in range(0, len(X), blk):
                Xb = X[s : s + blk]
                dot = np.zeros((len(Xb), len(Y)))
                for i in range(d):
                    # outer-product accumulate: each pair's dot adds in
                    # dim order — the same IEEE sequence as the
                    # interpreted fold
                    dot = dot + Xb[:, i : i + 1] * Y[:, i][None, :]
                with np.errstate(invalid="ignore", divide="ignore"):
                    den = rx[s : s + blk][:, None] * ry[None, :]
                    c = dot / den
                    c[den == 0.0] = np.nan
                keep = ~np.isnan(c)
                if keep.any():
                    ii, jj = np.nonzero(keep)
                    out_x.append(xid_arr[s + ii])
                    out_y.append(yid_arr[jj])
                    out_c.append(c[ii, jj])
        if not out_x:
            return empty
        return pd.DataFrame(
            {
                x_id: np.concatenate(out_x),
                y_id: np.concatenate(out_y),
                "cos": np.concatenate(out_c),
            }
        )

    return cell.groupBy("cent_id").applyInPandas(cell_cross, out_schema).distinct()


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k.

    Deterministic coarse quantizer: centroids are the vectors with the
    ``num_centroids`` smallest ids (a fixed sample — no RNG, reproducible)
    unless a trained ``centroids`` frame (cent_id, cent_vec) is supplied —
    e.g. kmeans_centroids, which is what production IVF actually probes.
    Every corpus vector is assigned to its nearest centroid (one broadcast
    join); each query probes its ``nprobe`` nearest cells and scores only
    vectors inside them. At 100 TB: corpus is hash-partitioned (in practice
    bucketed/sorted) by cell id, so a query touches nprobe/num_centroids
    of the data. Approximate: recall vs the exact tier is a test assertion
    (tests/test_similarity.py), not an oracle.
    """
    if centroids is None:
        centroids = emb.where(F.col(id_col) < num_centroids).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
        )
    # all three cosine stages run the numpy dim-fold kernel — bit-identical
    # to the interpreted cosine() folds (see with_cosine_fast)
    w_assign = Window.partitionBy(id_col).orderBy(F.desc("cos_c"), F.asc("cent_id"))
    assigned = (
        with_cosine_fast(
            emb.join(F.broadcast(centroids)).select(
                id_col, vec_col, "cent_id",
                F.col(vec_col).alias("av"), F.col("cent_vec").alias("bv"),
            ),
            "av",
            "bv",
            "cos_c",
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select(id_col, vec_col, "cent_id")
    )
    w_probe = Window.partitionBy(query_id_col).orderBy(F.desc("cos_q"), F.asc("cent_id"))
    probes = (
        with_cosine_fast(
            queries.join(F.broadcast(centroids)).select(
                query_id_col, query_vec_col, "cent_id",
                F.col(query_vec_col).alias("av"), F.col("cent_vec").alias("bv"),
            ),
            "av",
            "bv",
            "cos_q",
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") <= nprobe)
        .select(query_id_col, query_vec_col, "cent_id")
    )
    scored = with_cosine_fast(
        assigned.join(probes, "cent_id")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("av"),
            F.col(query_vec_col).alias("bv"),
        ),
        "av",
        "bv",
        "cos",
    )
    w_rank = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.select(query_id_col, "neighbor_id", F.row_number().over(w_rank).cast("long").alias("rank"))
        .where(F.col("rank") <= k)
    )


KMEANS_K = 8
KMEANS_ITERS = 3
KMEANS_SCALE = 10000


def _quantize(arr_sql: str) -> Column:
    """``arr_sql`` in fixed-point integer ten-thousandths, half up."""
    return F.expr(
        f"transform({arr_sql}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE}.0 + 0.5) AS BIGINT))"
    )


def _km_dist_expr(xi: str, s: str, cnt: str) -> str:
    """Squared euclidean distance between a quantized vector and a
    centroid held as (integer sum array, count) — the division is the
    only float op, and the fold is the same sequential
    zip_with/aggregate both engines run, so the value is bit-portable."""
    d = f"(CAST(x AS DOUBLE) - CAST(sv AS DOUBLE) / {cnt})"
    return (
        f"aggregate(zip_with({xi}, {s}, (x, sv) -> {d} * {d}), "
        "0.0D, (acc, v) -> acc + v)"
    )


def kmeans_assign(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means, made deterministic and oracle-checkable:

    - vectors are quantized ONCE to integer ten-thousandths (the
      quantize_embeddings_int8 discipline), so centroid STATE is exact —
      a centroid is its members' (BIGINT sum array, count), never a
      float average. Sums are order-independent, so AQE re-planning
      can't change a bit.
    - assignment distance divides the sums by the count in double inside
      the same sequential zip_with/aggregate fold both engines run; ties
      break on cluster id.
    - init is the k smallest-id vectors (no RNG); iterations are a fixed
      unrolled count, mirrored by an unrolled-CTE oracle (the
      pagerank_copurchase pattern).

    Shape per iteration: n×k broadcast-join distance folds (centroids
    are k rows), one posexplode shuffle of (k, dim, x) for the new sums
    — both map-side-combinable. Lineage is cut at each iteration
    boundary (_lloyd). The driver loop never collects; empty clusters
    simply drop out (both engines agree). At 100 TB this is exactly
    distributed Lloyd's: broadcast centroids, partial-sum combiners, no
    iteration barrier beyond the aggregation itself."""
    asg, _, _ = _kmeans_loop(emb, k, iters, id_col, vec_col)
    return asg.select(F.col("id").alias(id_col), F.col("k").cast("long").alias("cluster"))


def _kmeans_loop(
    emb: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    init_cent: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(final assignment (id, k), final (k, s, cnt) centroid state,
    quantized points (id, xi)) — the full-vector quantizer behind
    kmeans_assign, kmeans_centroids, ivfpq_topk and prototypicality_prune.
    The points are the loop's eager checkpoint: a caller that needs xi
    joins them instead of scanning and quantizing the corpus again.

    ``init_cent`` resumes training from a persisted (k, s, cnt) state
    table instead of the smallest-id init: because the centroid state is
    EXACT integers (never a float mean), save → resume → continue is
    bit-identical to an uninterrupted run — the checkpoint/restart
    property iterative float pipelines can't have (asserted in
    tests/test_round3_ops.py)."""
    # no fan_out here, unlike the PQ/IVF heads: round 10 measured it
    # slower for this loop (kmeans_embeddings 3.13 → 3.53 s at sf0.1) —
    # the integer-state distance folds are too cheap to amortize the
    # extra exchange
    q = emb.select(F.col(id_col).alias("id"), _quantize(vec_col).alias("xi"))
    q = q.localCheckpoint(eager=True)  # re-scored every iteration
    cent = (
        init_cent
        if init_cent is not None
        else q.where(F.col("id") < k).select(
            F.col("id").alias("k"), F.col("xi").alias("s"), F.lit(1).cast("long").alias("cnt")
        )
    )
    return (*_lloyd(q, cent, iters), q)


def _lloyd(
    pts: DataFrame, cent: DataFrame, iters: int, keys: tuple[str, ...] = ()
) -> tuple[DataFrame, DataFrame]:
    """``iters`` exact-state Lloyd rounds of pts (*keys, id, xi) from
    cent (*keys, k, s, cnt) → (last assignment (*keys, id, k), centroid
    state updated from it). ``keys`` scopes every distance, assignment
    and tiebreak: PQ passes ("j",) to train all subspaces in one loop.

    asg and cent are checkpointed at every iteration boundary: asg feeds
    three consumers (sums, cnt, next round or caller) and cent two, and
    with the lineage uncut each re-derived the whole prior chain — PQ's
    re-ran once for its codes and AGAIN for its lookup table, 11.6 s
    cold at sf0.1 vs 4.5 s with the boundaries cut. Lazy, as in the
    graph loops: the next consumer's job materializes the checkpoint,
    so no extra job per boundary (ann_pq_adc_topk 28 → 24 jobs). Both
    relations are tiny (a row per point, a row per (*keys, k))."""
    on = list(keys) or None  # join(on=[]) raises; None is the cross join
    w = Window.partitionBy(*keys, "id").orderBy(F.asc("dist"), F.asc("k"))
    asg = None
    for _ in range(iters):
        asg = (
            pts.join(F.broadcast(cent), on)
            .withColumn("dist", F.expr(_km_dist_expr("xi", "s", "cnt")))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(*keys, "id", "k")
            .localCheckpoint(eager=False)
        )
        sums = (
            asg.join(pts, [*keys, "id"])
            .select(*keys, "k", F.posexplode("xi").alias("dim", "x"))
            .groupBy(*keys, "k", "dim")
            .agg(F.sum("x").alias("sd"))
        )
        cnt = asg.groupBy(*keys, "k").agg(F.count(F.lit(1)).alias("cnt"))
        cent = (
            sums.groupBy(*keys, "k")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "sd"))).alias("ps"))
            .select(*keys, "k", F.expr("transform(ps, p -> p.sd)").alias("s"))
            .join(cnt, [*keys, "k"])
            .localCheckpoint(eager=False)
        )
    return asg, cent


def kmeans_centroids(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The trained quantizer itself: (cent_id, cent_vec array<double>)
    after ``iters`` Lloyd rounds — centroid means materialized from the
    exact (sum, count) state (one deterministic division per element).
    Feeds ivf_topk as a TRAINED coarse quantizer in place of its
    arbitrary smallest-id sample."""
    _, cent, _ = _kmeans_loop(emb, k, iters, id_col, vec_col)
    return cent.select(
        F.col("k").alias("cent_id"),
        F.expr("transform(s, sv -> CAST(sv AS DOUBLE) / cnt)").alias("cent_vec"),
    )


def srp_lsh_cosine_pairs_fast(
    emb: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """srp_lsh_cosine_pairs with the exact-cosine VERIFY swapped from
    interpreted Catalyst higher-order-function folds to an Arrow-batched
    numpy kernel (mapInPandas) — the measured fast path for the stage
    that dominates every all-pairs tier.

    Same candidates, same threshold, and — since round 5 — the SAME
    DOUBLES: the kernel folds dimension-by-dimension (one vectorized add
    per dim, sequential across dims) instead of numpy's pairwise tree
    sum, so each row's dot/norm is the identical IEEE left-fold the
    Catalyst aggregate() and DuckDB list_sum() compute, and the whole
    tier is bit-for-bit oracle-checkable (VERDICT r04 item #2).
    Vectorization across the BATCH axis is untouched — the dim loop is
    64 fused numpy ops per batch, still ~10-100× the interpreted fold —
    tests/test_similarity.py asserts bit-equality against the fold tier
    and SCALE.md records the wall-clock win."""
    weights = srp_weights(dim)
    # signatures AND verify both on the numpy dim-fold path
    buckets = srp_buckets_fast(
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        weights,
        rows_per_band=SRP_ROWS_PER_BAND,
        bands=SRP_BANDS,
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    joined = cand.join(va, "id_a").join(vb, "id_b")

    def _verify(batches):
        guard_zip_caches()
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            va_m = np.stack(pdf["va"].to_numpy()).astype(np.float64)
            vb_m = np.stack(pdf["vb"].to_numpy()).astype(np.float64)
            n = len(pdf)
            # sequential left-fold over dims (vectorized over rows):
            # bit-identical to aggregate(zip_with(...), 0.0, acc + x)
            dot = np.zeros(n)
            na = np.zeros(n)
            nb = np.zeros(n)
            for i in range(va_m.shape[1]):
                x, y = va_m[:, i], vb_m[:, i]
                dot = dot + x * y
                na = na + x * x
                nb = nb + y * y
            with np.errstate(invalid="ignore", divide="ignore"):
                # 0/0 (zero-norm vector ⇒ dot 0 too) → NaN, which fails
                # the >= like the fold tier's try_divide NULL
                cos = dot / (np.sqrt(na) * np.sqrt(nb))
            keep = cos >= threshold
            out = pdf.loc[keep, ["id_a", "id_b"]].copy()
            out["cos_sim"] = np.floor(cos[keep] * 1e6 + 0.5) / 1e6
            yield out

    return joined.mapInPandas(_verify, "id_a bigint, id_b bigint, cos_sim double")


# --- product quantization (PQ) ADC tier --------------------------------
PQ_M = 8        # subspaces over the 64-d embeddings
PQ_SUB = 8      # dims per subspace
PQ_K = 16       # codebook size per subspace (4-bit codes)
PQ_ITERS = 2    # Lloyd rounds per codebook


def _pq_slices_col(vec_col: str) -> Column:
    return F.array(
        *[_quantize(f"slice({vec_col}, {j * PQ_SUB + 1}, {PQ_SUB})") for j in range(PQ_M)]
    )


def pq_train_encode(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> tuple[DataFrame, DataFrame]:
    """(codes, codebooks) — the PQ index build. All PQ_M codebooks train
    JOINTLY: vectors explode once into (subspace j, id, slice) rows and
    ONE Lloyd loop (_lloyd with keys=("j",)) runs over centroids keyed
    (j, k) — per-subspace math is untouched (every distance, assignment,
    and tiebreak is scoped to its j), but the driver issues one join +
    one aggregation per iteration instead of PQ_M of each. Measured 10.0 s → 4.6 s at sf0.1
    (best-of-3, noop sink) against the loop-per-subspace form it
    replaced; the remainder is fixed stage-launch latency.

    codes: (id, code_0..code_{M-1}); codebooks: (j, k, s, cnt) exact
    integer Lloyd state (the kmeans_assign discipline — no RNG, no
    float accumulation)."""
    # fan_out BEFORE the checkpoint (round 10): every Lloyd iteration
    # re-scores sub at the checkpoint's frozen partitioning
    sub = (
        fan_out(
            emb.select(
                F.col(id_col).alias("id"),
                F.posexplode(_pq_slices_col(vec_col)).alias("j", "xi"),
            ),
            "id",
        )
        .localCheckpoint(eager=True)  # re-scored every Lloyd iteration
    )
    cent = sub.where(F.col("id") < PQ_K).select(
        "j", F.col("id").alias("k"), F.col("xi").alias("s"),
        F.lit(1).cast("long").alias("cnt"),
    )
    asg, cent = _lloyd(sub, cent, PQ_ITERS, keys=("j",))
    codes = asg.groupBy("id").agg(
        *[
            F.max(F.when(F.col("j") == j, F.col("k"))).alias(f"code_{j}")
            for j in range(PQ_M)
        ]
    )
    return codes, cent


def pq_query_lut(queries: DataFrame, cent: DataFrame) -> DataFrame:
    """(query_id, j, k, d): the ADC lookup table — squared L2 from each
    query's subspace slice to every codebook centroid, the same
    sequential fold the training ran. M·K rows per query; broadcast
    downstream."""
    qslices = queries.select(
        "query_id", F.posexplode(_pq_slices_col("query_vec")).alias("j", "qxi")
    )
    return (
        qslices.join(F.broadcast(cent), "j")
        .withColumn("d", F.expr(_km_dist_expr("qxi", "s", "cnt")))
        .select("query_id", "j", "k", "d")
    )
    # (no checkpoint: since the map-form ADC rewrite the LUT is consumed
    # exactly once, by the per-query map aggregation, and cent's lineage
    # is already cut at the training boundary)


def _pq_score_topk(scored: DataFrame, lut: DataFrame, top_k: int) -> DataFrame:
    """Attach the PQ_M LUT distances to (query_id, id, code_*) candidate
    rows, sum ADC in fixed order, and take top_k per query.

    The LUT rides ONE broadcast join as PQ_M (k → d) maps per query
    (round-10 optimization): the previous form ran PQ_M sequential
    broadcast hash joins, each re-materializing the whole candidate
    relation. element_at on a map returns the identical double the
    equi-join attached, and the ADC total keeps the same left-to-right
    PQ_M-term order — bit-identical output. The map_contains_key guard
    below replays the INNER-join semantics of the form this replaced:
    a candidate whose (j, code_j) has no LUT entry must be DROPPED, not
    scored NULL — reachable when a subspace's slice is empty (vectors
    shorter than PQ_M·PQ_SUB dims, e.g. the hostile fixture's 8-d
    embeddings: posexplode of the empty slice gives that codebook no
    centroid sums, so its LUT side is empty) — and a NULL code_j never
    matches (map_contains_key returns NULL, where() drops it), exactly
    like the old NULL join key."""
    lut_maps = lut.groupBy("query_id").agg(
        *[
            F.map_from_entries(
                F.collect_list(
                    F.when(F.col("j") == j, F.struct(F.col("k"), F.col("d")))
                )
            ).alias(f"lut_{j}")
            for j in range(PQ_M)
        ]
    )
    scored = scored.join(F.broadcast(lut_maps), "query_id")
    adc = F.element_at(F.col("lut_0"), F.col("code_0"))
    hit = F.map_contains_key(F.col("lut_0"), F.col("code_0"))
    for j in range(1, PQ_M):
        adc = adc + F.element_at(F.col(f"lut_{j}"), F.col(f"code_{j}"))
        hit = hit & F.map_contains_key(F.col(f"lut_{j}"), F.col(f"code_{j}"))
    w_top = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("id"))
    return (
        scored.where(F.col("id") != F.col("query_id"))
        .where(hit)
        .withColumn("adc", adc)
        .withColumn("rank", F.row_number().over(w_top))
        .where(F.col("rank") <= top_k)
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.col("rank").cast("long").alias("rank"),
            (F.floor(F.col("adc") * 1000000.0 + F.lit(0.5)) / 1000000.0).alias(
                "adc_dist"
            ),
        )
    )


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    top_k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011, "Product Quantization
    for Nearest Neighbor Search"): split each vector into PQ_M subspaces,
    train an independent deterministic k-means codebook per subspace
    (exact integer (sum, count) Lloyd state — see pq_train_encode),
    encode every corpus vector as PQ_M small codes, and answer queries
    via the Asymmetric Distance Computation lookup table:
    dist(q, x) ≈ Σ_j ||q_j − codebook_j[code_j(x)]||².

    queries: (query_id, query_vec). Output: (query_id, neighbor_id,
    rank, adc_dist) — top_k per query by (ADC, id), self excluded.

    Determinism/parity: codebooks come from the unrolled exact-state
    Lloyd rounds (no RNG); LUT distances are the same sequential
    zip_with/aggregate fold both engines run; the ADC total is a fixed
    left-to-right PQ_M-term double sum — the oracle replays every bit.

    Scale shape: this is THE memory-bound ANN layout for 100 TB — the
    corpus shrinks to PQ_M small ints per vector (here 8 4-bit codes vs
    256 B of floats), codebooks and LUTs are broadcast-sized (M·K rows),
    and the scan is a codes-table × LUT hash join with no full-vector
    math per candidate. Training cost is one Lloyd loop over the
    exploded slices; encoding is the final assignment, free with
    training. Pair with the IVF coarse quantizer for IVFPQ
    (ivfpq_topk)."""
    codes, cent = pq_train_encode(emb, id_col, vec_col)
    lut = pq_query_lut(queries, cent)
    scored = codes.crossJoin(F.broadcast(queries.select("query_id")))
    return _pq_score_topk(scored, lut, top_k)


IVFPQ_NPROBE = 3


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    top_k: int = 10,
    nprobe: int = IVFPQ_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFPQ — the production ANN index composition (FAISS's default at
    billion scale): a TRAINED coarse quantizer (full-vector exact-state
    Lloyd, one _kmeans_loop run that yields both the cell of every
    vector and the centroids queries probe) partitions the corpus into
    inverted lists; queries probe their nprobe nearest cells; only
    vectors in probed cells are ranked, and the ranking itself runs on
    PQ codes via the ADC lookup table — so the scan touches neither the
    full corpus nor any full vector.

    Candidate volume is (probed-cell sizes) instead of n, and per
    candidate the cost is a LUT lookup instead of a d-dim fold: the two
    reductions multiply, which is why this layout serves billion-vector
    indexes from RAM. Assignment, probing, and ADC are all the same
    deterministic exact-state arithmetic as their standalone tiers;
    recall vs exact L2 is bounded in tests (approximate BY DESIGN —
    cell pruning can drop true neighbors, the tested trade)."""
    asg, coarse_cent, _ = _kmeans_loop(emb, KMEANS_K, KMEANS_ITERS, id_col, vec_col)
    coarse_asg = asg.select("id", F.col("k").alias("cell"))
    qx = queries.select("query_id", _quantize("query_vec").alias("xi"))
    w_cell = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("k"))
    probes = (
        qx.crossJoin(F.broadcast(coarse_cent))
        .withColumn("dist", F.expr(_km_dist_expr("xi", "s", "cnt")))
        .withColumn("rn", F.row_number().over(w_cell))
        .where(F.col("rn") <= nprobe)
        .select("query_id", F.col("k").alias("cell"))
    )
    codes, cent = pq_train_encode(emb, id_col, vec_col)
    lut = pq_query_lut(queries, cent)
    cand = codes.join(coarse_asg, "id").join(F.broadcast(probes), "cell")
    return _pq_score_topk(cand.drop("cell"), lut, top_k)


GRAM_SCALE = 10_000  # fixed-point quantization: q = round_half_up(x * 1e4)


def gram_matrix_upper(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact Gram matrix X^T X (upper triangle) of the fixed-point-
    quantized embedding matrix — the PCA / covariance / whitening
    precursor, computed the way distributed linear algebra actually
    scales: each Arrow batch contributes a LOCAL dim×dim outer-product
    partial (numpy int64 matmul), and one final aggregation sums the
    dim² partials. The corpus never shuffles — only (batches × dim²)
    partial rows do, the mapInPandas analogue of map-side combine.

    Quantization q = floor(x·1e4 + 0.5) in float64 is the same IEEE
    arithmetic DuckDB's floor() runs, so the int64 Gram entries are
    bit-oracleable end to end (house rule: no float crosses an
    aggregation). Covariance/correlation derive from (gram, per-dim
    sums, n) algebraically downstream."""

    def _partials(batches):
        guard_zip_caches()
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            q = np.floor(m * GRAM_SCALE + 0.5).astype(np.int64)
            g = q.T @ q  # dim×dim local partial
            d = g.shape[0]
            iu = np.triu_indices(d)
            yield pd.DataFrame({"i": iu[0].astype(np.int32),
                                "j": iu[1].astype(np.int32),
                                "sp": g[iu]})

    parts = emb.select(vec_col).mapInPandas(_partials, "i int, j int, sp bigint")
    return parts.groupBy("i", "j").agg(F.sum("sp").cast("long").alias("sp"))
