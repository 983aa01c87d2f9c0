"""Similarity-search properties: IVF recall vs the exact tier."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streamprocessing_spark.operators import similarity as S
from streamprocessing_spark.sources.readers import load_table
from streamprocessing_spark.registry import all_specs

SPECS = all_specs()


def _topk_sets(rows):
    out = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = _topk_sets(S.topk_per_query(emb, queries, 10).collect())
    approx = _topk_sets(S.ivf_topk(emb, queries, 10, num_centroids=16, nprobe=4).collect())
    recalls = [len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact]
    # measured 0.88 at sf0.001 / 0.92 at sf0.01 with 16 cells, nprobe=4
    assert sum(recalls) / len(recalls) >= 0.7, f"mean IVF recall too low: {recalls}"


def test_srp_lsh_precision_and_recall(spark, sf_dir):
    """SRP-LSH pairs must be a strict subset of the exact all-pairs result
    (precision 1.0 — every candidate passed the true cosine verify) with
    banding-probability recall. Everything is deterministic (md5-derived
    hyperplanes), so the measured recall is stable run-to-run."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").head()[0])
    t = 0.45
    exact = {(r.id_a, r.id_b) for r in S.cosine_pairs(emb, t).collect()}
    srp = {(r.id_a, r.id_b) for r in S.srp_lsh_cosine_pairs(emb, t, dim).collect()}
    assert srp <= exact, f"false positives: {srp - exact}"
    if exact:
        recall = len(srp) / len(exact)
        # measured 9/14 = 0.64 at sf0.01 with 16 bits, 4 bands x 4 rows
        assert recall >= 0.5, f"SRP recall too low: {recall} ({len(srp)}/{len(exact)})"


def test_ivf_pairs_precision_and_recall(spark, sf_dir):
    """IVF-cell pairs must be a strict subset of the exact all-pairs
    result (precision 1.0 — every candidate passed the true cosine
    verify). Recall at θ=0.45 measures the similarity TAIL (this corpus
    has no injected near-dup twins; max pairwise cosine ≈ 0.51 at
    sf0.01), where locality pruning is inherently weakest — measured
    10/14 = 0.71 at sf0.01 with nassign=3. Deterministic quantizer, so
    the number is stable run-to-run."""
    emb = load_table(spark, sf_dir, "embeddings")
    t = 0.45
    exact = {(r.id_a, r.id_b) for r in S.cosine_pairs(emb, t).collect()}
    ivf = {(r.id_a, r.id_b) for r in S.ivf_cosine_pairs(emb, t, nassign=3).collect()}
    assert ivf <= exact, f"false positives: {ivf - exact}"
    if exact:
        recall = len(ivf) / len(exact)
        assert recall >= 0.5, f"IVF recall too low: {recall} ({len(ivf)}/{len(exact)})"


def test_cosine_is_normalized(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    vals = emb.select(S.cosine(F.col("embedding"), F.col("embedding")).alias("c")).collect()
    assert all(abs(r.c - 1.0) < 1e-9 for r in vals)


def test_knn_label_audit_structure(spark, sf_dir):
    """One audit row per vector; votes bounded by k; agreement flag
    consistent with the labels it compares."""
    from streamprocessing_spark.queries.similarity import KNN_K

    rows = SPECS["knn_label_audit"].fn(spark, sf_dir).collect()
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(rows) == n
    for r in rows:
        assert 1 <= r.n_votes <= KNN_K
        assert r.label_agrees == (1 if r.pred_label == r.label else 0)


@pytest.mark.slow
def test_kmeans_deterministic_and_nontrivial(spark, sf_dir):
    """k-means assignments are deterministic across runs (integer-exact
    centroid state), every vector is assigned, and the fixture splits
    into more than one non-empty cluster."""
    emb = load_table(spark, sf_dir, "embeddings")
    a1 = {(r.vec_id, r.cluster) for r in S.kmeans_assign(emb).collect()}
    a2 = {(r.vec_id, r.cluster) for r in S.kmeans_assign(emb).collect()}
    assert a1 == a2
    assert len(a1) == emb.count()
    clusters = {c for _, c in a1}
    assert len(clusters) > 1


def test_srp_fast_path_matches_fold_tier(spark, sf_dir):
    """The numpy verify must be BIT-IDENTICAL to the Catalyst fold tier
    — same pair set, same doubles — since round 5 its kernel folds dims
    sequentially, reproducing the exact IEEE left-fold (that identity is
    what lets the fast tier share the fold tier's DuckDB oracle)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").head()[0])
    t = 0.45
    fold = {(r.id_a, r.id_b): r.cos_sim
            for r in S.srp_lsh_cosine_pairs(emb, t, dim).collect()}
    fast = {(r.id_a, r.id_b): r.cos_sim
            for r in S.srp_lsh_cosine_pairs_fast(emb, t, dim).collect()}
    assert fold == fast


def test_km_dist_expr_matches_sequential_fold(spark):
    """_km_dist_expr must return the exact doubles of a sequential
    left-fold (the one DuckDB's list_sum replays in the oracles): equal-
    length rows of several lengths, both-empty (0.0), mismatched lengths
    and NULL elements (NULL)."""
    rows = [
        (1, [3, -7, 11], [10, 20, 30], 3),
        (2, [123456789, -987654321, 5, 0], [1, 2, 3, 4], 7),
        (3, [2**53 + 1, 1], [-(2**53) - 1, 9], 11),
        (4, [1] * 8, list(range(8)), 1),
        (5, [], [], 5),
        (6, [1, 2], [1, 2, 3], 2),
        (7, [1, None, 3], [4, 5, 6], 2),
        (8, [1, 2, 3], [4, None, 6], 3),
    ]

    def fold(xi, s, cnt):
        if len(xi) != len(s) or None in xi or None in s:
            return None
        acc = 0.0
        for x, sv in zip(xi, s):
            d = float(x) - float(sv) / cnt
            acc = acc + d * d
        return acc.hex()

    df = spark.createDataFrame(rows, "id long, xi array<bigint>, s array<bigint>, cnt long")
    got = {
        r.id: None if r.dist is None else r.dist.hex()
        for r in df.select("id", F.expr(S._km_dist_expr("xi", "s", "cnt")).alias("dist")).collect()
    }
    assert got == {i: fold(xi, s, cnt) for i, xi, s, cnt in rows}
    assert got[5] == (0.0).hex()
    assert got[6] is got[7] is got[8] is None


def test_ivfpq_trains_each_quantizer_once(spark, sf_dir, monkeypatch):
    """IVFPQ takes its cells and its probe centroids from ONE coarse
    Lloyd run, and its codes and codebooks from one PQ run."""
    calls = {"_kmeans_loop": 0, "pq_train_encode": 0}
    for name in calls:
        orig = getattr(S, name)

        def counted(*a, _orig=orig, _name=name, **kw):
            calls[_name] += 1
            return _orig(*a, **kw)

        monkeypatch.setattr(S, name, counted)
    SPECS["ann_ivfpq_topk"].fn(spark, sf_dir)
    assert calls == {"_kmeans_loop": 1, "pq_train_encode": 1}


@pytest.mark.slow
def test_ivf_kmeans_recall_vs_brute_force(spark, sf_dir):
    """The trained-quantizer IVF tier must keep usable recall against the
    exact tier (8 k-means cells, nprobe=2 — a 25% corpus probe)."""
    exact = {}
    for r in SPECS["ann_cosine_topk"].fn(spark, sf_dir).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in SPECS["ann_ivf_kmeans_topk"].fn(spark, sf_dir).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.5, f"kmeans-IVF recall too low: {recalls}"


def test_srp_scaled_precision_recall_and_r_derivation(spark, sf_dir):
    """Adaptive-r SRP (corpus-scaled band resolution) keeps precision 1.0
    (exact verify) with banding recall, and its in-plan r must equal the
    clamp(ceil(log2 n) − SHIFT, RMIN, RMAX) spec — at smoke scale that
    clamps to RMIN, so the tier degrades gracefully to fixed-r behavior
    on tiny corpora instead of over-slicing them."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").head()[0])
    t = 0.45
    exact = {(r.id_a, r.id_b) for r in S.cosine_pairs(emb, t).collect()}
    ada = {
        (r.id_a, r.id_b)
        for r in S.srp_lsh_cosine_pairs_adaptive(emb, t, dim).collect()
    }
    assert ada <= exact, f"false positives: {ada - exact}"
    if exact:
        recall = len(ada) / len(exact)
        assert recall >= 0.5, f"adaptive SRP recall too low: {recall}"
    n = emb.count()
    expect_r = min(S.SRP_RMAX, max(S.SRP_RMIN, math.ceil(math.log2(max(n, 2))) - S.SRP_R_SHIFT))
    assert expect_r == S.SRP_RMIN  # smoke fixture is below the first step
    # r grows with the corpus: the formula crosses RMIN+1 at 2^(SHIFT+RMIN+1)
    assert min(S.SRP_RMAX, max(S.SRP_RMIN, math.ceil(math.log2(2 ** (S.SRP_R_SHIFT + S.SRP_RMIN + 1))) - S.SRP_R_SHIFT)) == S.SRP_RMIN + 1


@pytest.mark.slow
def test_srp_recall_held_bands_hold_recall(spark, sf_dir, monkeypatch):
    """The recall-held tier (VERDICT r03 item #4): at every r the held
    band count b(r) must (a) keep precision 1.0 (exact verify), (b) at
    the design point r=RMIN reproduce the scaled tier's pair set (same
    stride-RMAX bit indexing, b(4)=4), and (c) at a FORCED high r —
    n_rows pinned to push r to 7 on this small corpus — recover at
    least the recall the fixed-b=4 banding loses there, measured
    head-to-head on identical hyperplanes."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").head()[0])
    t = 0.45
    n = emb.count()
    exact = {(r.id_a, r.id_b) for r in S.cosine_pairs(emb, t).collect()}
    held = {
        (r.id_a, r.id_b)
        for r in S.srp_lsh_cosine_pairs_recall_held(emb, t, dim, n).collect()
    }
    assert held <= exact, f"false positives: {held - exact}"
    if exact:
        assert len(held) / len(exact) >= 0.5, f"recall-held recall too low: {len(held)}/{len(exact)}"
    # design point: r(n) clamps to RMIN here, where b(RMIN)=SRP_BANDS —
    # the tier must coincide with the scaled tier exactly
    assert S.srp_r_for_count(n) == S.SRP_RMIN
    scaled = {
        (r.id_a, r.id_b)
        for r in S.srp_lsh_cosine_pairs_adaptive(emb, t, dim).collect()
    }
    assert held == scaled
    # forced r=7: fixed-b banding (monkeypatched table) vs held b(7)=16
    forced_n = 1 << (S.SRP_R_SHIFT + 7)  # srp_r_for_count -> 7
    assert S.srp_r_for_count(forced_n) == 7
    held_hi = {
        (r.id_a, r.id_b)
        for r in S.srp_lsh_cosine_pairs_recall_held(emb, t, dim, forced_n).collect()
    }
    monkeypatch.setitem(S.SRP_RECALL_BANDS, 7, S.SRP_BANDS)
    fixed_hi = {
        (r.id_a, r.id_b)
        for r in S.srp_lsh_cosine_pairs_recall_held(emb, t, dim, forced_n).collect()
    }
    assert held_hi <= exact and fixed_hi <= exact
    # the held tier can only see MORE pairs (its first SRP_BANDS bands
    # are the fixed tier's bands), and on this corpus it must strictly
    # recover pairs unless fixed-b already found everything
    assert fixed_hi <= held_hi
    if exact and len(fixed_hi) < len(exact):
        assert len(held_hi) > len(fixed_hi), (len(held_hi), len(fixed_hi))


def test_hubness_conservation_and_shape(spark, sf_dir):
    """Σ k_occ·n_vectors == n·K (every vector casts exactly K neighbor
    votes when n > K and no cosine is NULL); Σ n_vectors == n; histogram
    values non-negative."""
    from streamprocessing_spark.queries.similarity import KNN_K
    from streamprocessing_spark.sources.readers import load_table

    rows = SPECS["ann_hubness_audit"].fn(spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_vectors for r in rows) == n
    assert sum(r.k_occurrence * r.n_vectors for r in rows) == n * KNN_K
    assert all(r.k_occurrence >= 0 and r.n_vectors > 0 for r in rows)


def test_ann_shard_plan_snake_balance(spark, sf_dir):
    """(a) Σ n_vecs over cells == corpus size (assignment partitions);
    (b) shard ids are exactly the snake pattern recomputed in Python;
    (c) snake packing's balance bound holds: max load − min load <=
    the largest single cell."""
    from collections import defaultdict

    from streamprocessing_spark.queries.similarity import N_SHARDS
    from streamprocessing_spark.sources.readers import load_table

    rows = SPECS["ann_shard_plan"].fn(spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_vecs for r in rows) == n
    ranked = sorted(rows, key=lambda r: (-r.n_vecs, r.cent_id))
    for i, r in enumerate(ranked):
        rnd, pos = divmod(i, N_SHARDS)
        expect = pos if rnd % 2 == 0 else N_SHARDS - 1 - pos
        assert r.shard_id == expect
    loads = defaultdict(int)
    for r in rows:
        loads[r.shard_id] += r.n_vecs
    if len(loads) == N_SHARDS:
        biggest_cell = max(r.n_vecs for r in rows)
        assert max(loads.values()) - min(loads.values()) <= biggest_cell


@pytest.mark.slow
def test_pq_adc_drops_candidates_with_missing_lut_entries(spark):
    """Inner-join semantics of the ADC attach survive the map-broadcast
    form (round-10): vectors SHORTER than PQ_M·PQ_SUB dims leave the
    tail subspaces' slices empty, so those codebooks never produce
    centroid sums and their LUT side is EMPTY — the old per-subspace
    equi-joins emitted zero rows, and the element_at rewrite must not
    resurrect candidates with NULL ADC terms (the oracle replays the
    inner join and returns zero rows on such input — the hostile
    fixture's 8-d embeddings hit exactly this)."""
    emb = spark.createDataFrame(
        [(i, [float(i % 7) + 0.25, 1.0 - float(i % 3), 0.5 * i, 1.0,
              0.1 * i, 2.0, 3.0 - i, 0.75]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assert S.pq_adc_topk(emb, queries, 10).count() == 0
