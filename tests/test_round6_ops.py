"""Round-3 additions: graph view eviction + this round's operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_release_shared_views_unpins_graph_cache(spark, sf_dir):
    """The shared graph view is an eagerly-built cache; release_shared_views
    must drop the temp view AND leave no pinned RDD behind (a session
    touching many sf_dirs must not accumulate blocks — the round-1
    plugin-cache lesson applied to graph state)."""
    from streamprocessing_spark import shared_views as SV
    from streamprocessing_spark.queries import graph as G

    SV.release_shared_views(spark)  # clean slate (other tests may have built views)
    baseline = len(spark.sparkContext._jsc.getPersistentRDDs())
    n_graph = lambda: sum(1 for k in SV.held_views(spark) if k.startswith("graft_sv_graphop_"))  # noqa: E731
    df = G._op_view(spark, sf_dir)
    assert df.count() > 0
    assert n_graph() == 1
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) > baseline

    released = SV.release_shared_views(spark)
    assert released == 1
    assert n_graph() == 0
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) <= baseline
    # idempotent, and the view is really gone from the catalog
    assert SV.release_shared_views(spark) == 0
    import hashlib

    name = "graft_sv_graphop_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    assert not spark.catalog.tableExists(name)
    # a fresh call transparently rebuilds (staleness contract: snapshot
    # until release, fresh data after)
    assert G._op_view(spark, sf_dir).count() == df.count()
    SV.release_shared_views(spark)


@pytest.mark.slow
def test_dedup_shared_views_release_all_families(spark, sf_dir):
    """The dedup cascade shares pair/component views through the same
    machinery as the graph view; one release drops every family."""
    from streamprocessing_spark import shared_views as SV
    from streamprocessing_spark.queries import dedup as DQ
    from streamprocessing_spark.queries import graph as G

    SV.release_shared_views(spark)
    pairs = DQ._pairs_view(spark, sf_dir)
    comp = DQ._components_view(spark, sf_dir)
    assert comp.count() >= pairs.count() > 0
    G._op_view(spark, sf_dir)
    assert sum(1 for k in SV.held_views(spark) if k.startswith("graft_sv_mh")) == 2
    assert SV.release_shared_views(spark) == 3
    assert SV.held_views(spark) == []


@pytest.mark.slow
def test_bench_rep_hygiene_prices_build_to_builder(spark, sf_dir):
    """bench.py's rep hygiene must (a) release plugin caches — not
    clearCache(), which evicted the session-shared views and charged a
    full cascade rebuild to every rep of the raw-pair-view consumers
    (measured round 7: signal_auc/leakage_audit 2.2×) — and (b) release
    the shared views at the start of each rep pass so the first reader
    prices the build while later readers stay marginal. This pins the
    contract: after a release, the next call REBUILDS (fresh cache
    entry); without a release, a repeat call serves the same cached
    relation (no rebuild)."""
    from streamprocessing_spark import shared_views as SV
    from streamprocessing_spark.queries import dedup as DQ

    SV.release_shared_views(spark)
    try:
        DQ._pairs_view(spark, sf_dir)
        name = next(k for k in SV.held_views(spark) if k.startswith("graft_sv_mhpairs"))
        assert spark.catalog.isCached(name)
        # consumer path: repeat call serves the SAME cached view
        assert DQ._pairs_view(spark, sf_dir) is not None
        assert spark.catalog.isCached(name)
        # pass start: release → next call rebuilds a fresh cached view
        assert SV.release_shared_views(spark) == 1
        assert not spark.catalog.tableExists(name)
        DQ._pairs_view(spark, sf_dir).count()
        assert spark.catalog.isCached(name)
    finally:
        SV.release_shared_views(spark)


def test_shared_views_module_holds_no_view_state():
    """shared_views ships by value to executors, so its module globals
    must never hold a view, sink or store handle (a DataFrame holds a
    SparkContext, which must never ride along in a task closure): the
    session catalog is the only memo."""
    from streamprocessing_spark import shared_views as SV
    from streamprocessing_spark.queries import streaming as S

    for mod in (SV, S):
        held = [
            k for k, v in vars(mod).items()
            if isinstance(v, (dict, list, set)) and not k.startswith("__")
        ]
        assert held == ([] if mod is SV else ["_PIPELINES"])


def test_repetition_dup_trigram_matches_python(spark, sf_dir):
    """The zero-shuffle dup-trigram fraction must equal a sequential
    Python recompute (tokens → trigram multiset → dup share) on every
    doc, and stay within its [0, 1e6] contract."""
    import re

    from streamprocessing_spark.registry import all_specs

    out = {r.doc_id: r for r in all_specs()["repetition_dup_trigram_fraction"].fn(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text").collect()
    checked = 0
    for row in docs:
        toks = re.findall(r"[a-z0-9]+", row.text.lower())
        grams = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        if len(toks) < 3:
            assert row.doc_id not in out
            continue
        r = out[row.doc_id]
        assert r.n_trigrams == len(grams)
        assert r.n_distinct == len(set(grams))
        assert r.dup_frac_micro == (1_000_000 * (len(grams) - len(set(grams)))) // len(grams)
        assert 0 <= r.dup_frac_micro <= 1_000_000
        checked += 1
    assert checked > 0
    # the fixture corpus contains repetitive docs (non-vacuous filter)
    assert any(r.dup_frac_micro > 0 for r in out.values())


def test_embedding_drift_laws(spark, sf_dir):
    """Drift chi-square: every dimension reports, halves partition the
    corpus, statistic is non-negative, and a numpy recompute of one
    dimension's binned chi-square agrees exactly."""
    import numpy as np

    from streamprocessing_spark.queries.similarity import (
        DRIFT_BIN_SCALE,
        DRIFT_CHI2_SCALE,
    )
    from streamprocessing_spark.registry import all_specs

    rows = all_specs()["embedding_drift_chi2_by_dim"].fn(spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    n = len(emb)
    dim = len(emb[0].embedding)
    assert len(rows) == dim
    for r in rows:
        assert r.n_ref + r.n_cur == n
        assert r.chi2_milli >= 0

    d0 = 0
    a = np.zeros(2 * DRIFT_BIN_SCALE, dtype=object)
    b = np.zeros(2 * DRIFT_BIN_SCALE, dtype=object)
    for row in emb:
        v = float(row.embedding[d0])
        bin_ = max(-DRIFT_BIN_SCALE, min(DRIFT_BIN_SCALE - 1, int(np.floor(v * DRIFT_BIN_SCALE))))
        (a if row.vec_id * 2 < n else b)[bin_ + DRIFT_BIN_SCALE] += 1
    na, nb = int(a.sum()), int(b.sum())
    want = sum(
        (DRIFT_CHI2_SCALE * (int(ai) * nb - int(bi) * na) ** 2) // (na * nb * (int(ai) + int(bi)))
        for ai, bi in zip(a, b)
        if ai + bi > 0
    )
    got = next(r.chi2_milli for r in rows if r.dim == d0)
    assert got == want


def test_phash_arrow_matches_pandas_kernel(spark, sf_dir):
    """mapInArrow and mapInPandas phash kernels must be bit-identical —
    same hashes, same near-dup pairs."""
    from streamprocessing_spark.registry import all_specs

    specs = all_specs()
    a = sorted(tuple(r) for r in specs["multimodal_phash_arrow"].fn(spark, sf_dir).collect())
    p = sorted(tuple(r) for r in specs["multimodal_phash_neardup"].fn(spark, sf_dir).collect())
    assert a == p and len(a) > 0


def test_url_canonical_dedup_laws(spark, sf_dir):
    """Canonicalization must actually merge spelling variants: variant
    counts sum to the corpus, multi-variant groups exist at every SF,
    and the keeper is the group minimum."""
    from streamprocessing_spark.registry import all_specs

    rows = all_specs()["url_canonical_dedup"].fn(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_variants for r in rows) == n_docs
    assert len(rows) < n_docs  # dedup is non-vacuous
    assert any(r.n_variants > 1 for r in rows)
    for r in rows:
        assert not r.canonical_url.startswith(("http", "www."))
        assert "?" not in r.canonical_url and not r.canonical_url.endswith("/")


def test_statestore_reader_exposes_aggregation_state(spark, sf_dir, tmp_path):
    """Spark 4's state data source: the HDFS-backed state of a streaming
    aggregation is readable as a BATCH DataFrame (format 'statestore') —
    the debugging/ops surface for stateful pipelines (inspect hot keys,
    audit state size, bootstrap migrations). The state contents must
    equal both the streamed result and a batch recompute."""
    from pyspark.sql import functions as F

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    ev = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ev.select((F.col("o_custkey") % 13).alias("k"), F.col("o_orderkey").alias("v")).coalesce(
        1
    ).write.parquet(src)
    stream = spark.readStream.schema("k bigint, v bigint").parquet(src)
    agg = stream.groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
    q = (
        agg.writeStream.format("memory")
        .queryName("state_reader_t")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r.k: (r.n, r.sv) for r in spark.table("state_reader_t").collect()
    }
    state = spark.read.format("statestore").load(ckpt)
    from_state = {
        r["key"]["k"]: (r["value"]["count"], r["value"]["sum"]) for r in state.collect()
    }
    batch = {
        r.k: (r.n, r.sv)
        for r in spark.read.parquet(src).groupBy("k").agg(
            F.count("*").alias("n"), F.sum("v").alias("sv")
        ).collect()
    }
    assert from_state == streamed == batch and len(batch) == 13


def test_kneser_ney_matches_python_reference(spark, sf_dir):
    """The exact-integer KN probabilities must equal a sequential Python
    implementation of interpolated Kneser-Ney (d = 3/4) and respect the
    probability contract (0 ≤ p ≤ 1e6; MLE-dominant for high-count
    bigrams)."""
    import re
    from collections import Counter

    from streamprocessing_spark.queries.text import KN_DISCOUNT_DEN, KN_DISCOUNT_NUM, KN_TOP
    from streamprocessing_spark.registry import all_specs

    rows = all_specs()["kneser_ney_bigram_lm"].fn(spark, sf_dir).collect()
    assert len(rows) == KN_TOP

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text").collect()
    c12, c1, n1plus, cont = Counter(), Counter(), Counter(), Counter()
    for (text,) in docs:
        toks = re.findall(r"[a-z0-9]+", text.lower())
        for a, b in zip(toks, toks[1:]):
            c12[(a, b)] += 1
    for (a, b), c in c12.items():
        c1[a] += c
        n1plus[a] += 1
        cont[b] += 1
    nd = len(c12)
    num, den = KN_DISCOUNT_NUM, KN_DISCOUNT_DEN
    for r in rows:
        c = c12[(r.w1, r.w2)]
        assert r.c12 == c
        want = (1_000_000 * (max(den * c - num, 0) * nd + num * n1plus[r.w1] * cont[r.w2])) // (
            den * c1[r.w1] * nd
        )
        assert r.p_micro == want
        assert 0 <= r.p_micro <= 1_000_000
    # the top bigrams are frequent: their discounted MLE term dominates
    assert all(r.p_micro > 0 for r in rows)


def test_join_fanout_audit_laws(spark, sf_dir):
    """Fanout rows must equal the product of independently computed side
    counts, descend in fanout, and carry sane shares."""
    from streamprocessing_spark.registry import all_specs
    from streamprocessing_spark.sources.readers import load_table

    rows = all_specs()["join_fanout_audit"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    ev = {r.user_id: r.n for r in load_table(spark, sf_dir, "events").groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    oc = {r.o_custkey: r.n for r in load_table(spark, sf_dir, "orders").groupBy("o_custkey").agg(F.count("*").alias("n")).collect()}
    fans = [r.fanout for r in rows]
    assert fans == sorted(fans, reverse=True)
    for r in rows:
        assert r.n_events == ev[r.user_id] and r.n_orders == oc[r.user_id]
        assert r.fanout == r.n_events * r.n_orders
        assert 0 <= r.share_micro <= 1_000_000


@pytest.mark.slow
def test_cluster_size_histogram_conservation(spark, sf_dir):
    """Histogram mass must account for every document exactly once:
    Σ size·n_clusters == corpus size, and multi-doc clusters exist."""
    from streamprocessing_spark.registry import all_specs

    rows = all_specs()["dedup_cluster_size_histogram"].fn(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.cluster_size * r.n_clusters for r in rows) == n_docs
    assert any(r.cluster_size >= 2 for r in rows)
    assert len([r for r in rows if r.cluster_size == 1]) <= 1


def test_preference_pairs_order_and_distinctness(spark, sf_dir):
    """Every pair: chosen is at least as clean as rejected (dup micro),
    the two docs differ, and groups have ≥ 2 members."""
    from streamprocessing_spark.registry import all_specs

    rows = all_specs()["preference_pair_assembly"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_group >= 2
        assert r.chosen_doc_id != r.rejected_doc_id
        assert r.chosen_dup_micro <= r.rejected_dup_micro


def test_vocab_growth_laws(spark, sf_dir):
    """Heaps-curve laws: the first batch's tokens are all new, n_new
    telescopes into cum_vocab, and the final cumulative vocabulary
    equals the corpus-wide distinct token count."""
    import re

    from streamprocessing_spark.registry import all_specs

    rows = sorted(all_specs()["vocab_growth_by_batch"].fn(spark, sf_dir).collect(), key=lambda r: r.batch)
    assert rows[0].n_new == rows[0].n_distinct
    cum = 0
    for r in rows:
        assert 0 <= r.n_new <= r.n_distinct
        cum += r.n_new
        assert r.cum_vocab == cum
    vocab = set()
    for (text,) in spark.read.parquet(f"{sf_dir}/documents.parquet").select("text").collect():
        vocab.update(re.findall(r"[a-z0-9]+", text.lower()))
    assert rows[-1].cum_vocab == len(vocab)


def test_target_encoding_loo_laws(spark, sf_dir):
    """LOO identity: for each category, Σrow(loo_num) == (n−1)·Σy and
    every row's encoding excludes exactly its own target; adding the
    row back recovers the category mean."""
    from collections import defaultdict

    from streamprocessing_spark.registry import all_specs
    from streamprocessing_spark.sources.readers import load_table

    rows = all_specs()["target_encoding_loo"].fn(spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice").collect()
    y = {r.o_orderkey: int(r.o_totalprice * 100 + 0.5) for r in o}
    sums, counts = defaultdict(int), defaultdict(int)
    for r in o:
        sums[r.o_orderpriority] += y[r.o_orderkey]
        counts[r.o_orderpriority] += 1
    assert rows and len(rows) == sum(c for c in counts.values() if c >= 2)
    for r in rows:
        cat = r.o_orderpriority
        assert r.loo_den == counts[cat] - 1
        assert r.loo_num_cents == sums[cat] - y[r.o_orderkey]
        assert r.loo_mean_micro == (1_000_000 * r.loo_num_cents) // r.loo_den
