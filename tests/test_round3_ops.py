"""Structural properties of the round-2 late-continuation operators
(CDC merge, k-core, count-min): the invariants the DuckDB oracle
comparison can't express — one-sided sketch error, sketch mergeability,
peeling fixpoints, merge-state conservation."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from streamprocessing_spark.queries.graph import KCORE_K
from streamprocessing_spark.queries.text import CM_D, CM_W
from streamprocessing_spark.registry import all_specs
from streamprocessing_spark.sources.readers import load_table

SPECS = all_specs()


def test_cdc_state_conservation(spark, sf_dir):
    """The merged state must partition cleanly: every base key appears
    exactly once unless its last change is a delete; 'unchanged' rows
    carry the base balance and zero changes; no key of the output has a
    terminal delete; inserted keys are exactly the changed keys absent
    from the base."""
    out = SPECS["cdc_apply_changes"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    base_keys = {r.c_custkey for r in cust.select("c_custkey").collect()}

    last = (
        ev.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts").desc(), F.col("event_id").desc()
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select("user_id", "event_type")
        .collect()
    )
    deleted = {r.user_id for r in last if r.event_type == "error"}
    changed = {r.user_id for r in last}

    rows = out.collect()
    keys = [r.c_custkey for r in rows]
    assert len(keys) == len(set(keys)), "merge output must be key-unique"
    assert deleted.isdisjoint(keys), "terminal deletes must drop the row"
    by_status = {}
    for r in rows:
        by_status.setdefault(r.status, set()).add(r.c_custkey)
    assert by_status.get("inserted", set()) == (changed - deleted) - base_keys
    assert by_status.get("updated", set()) == (changed - deleted) & base_keys
    assert by_status.get("unchanged", set()) == base_keys - changed
    for r in rows:
        if r.status == "unchanged":
            assert r.n_changes == 0
        else:
            assert r.n_changes >= 1


def test_kcore_is_fixpoint(spark, sf_dir):
    """Every surviving node's within-core degree must clear K, and one
    more peel over the survivor-induced subgraph must remove nothing
    (the output really is the fixpoint, not a truncated iteration)."""
    core = SPECS["kcore_parts"].fn(spark, sf_dir)
    rows = core.collect()
    assert rows, "k-core must be non-empty at test scale"
    assert all(r.core_degree >= KCORE_K for r in rows)

    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    und = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
    )
    survivors = {r.l_partkey for r in rows}
    edges = [
        (r.src, r.dst)
        for r in und.collect()
        if r.src in survivors and r.dst in survivors
    ]
    deg: dict[int, int] = {}
    for s, d in edges:
        deg[s] = deg.get(s, 0) + 1
        deg[d] = deg.get(d, 0) + 1
    assert set(deg) == survivors, "survivor set must equal induced-degree keys"
    for r in rows:
        assert deg[r.l_partkey] == r.core_degree
        assert deg[r.l_partkey] >= KCORE_K


def _bigram_counts(spark, docs):
    toked = docs.select(
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0).alias("t")
    ).where(F.size("t") >= 2)
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
    return bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))


def _sketch(cnt):
    rows = F.array(*[F.lit(i) for i in range(CM_D)])
    cells = cnt.select("bigram", "n", F.explode(rows).alias("i")).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("cm"), F.col("i"), F.lit(":"), F.col("bigram")).cast(
                        "binary"
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % CM_W,
    )
    return cells.groupBy("i", "bucket").agg(F.sum("n").alias("cell"))


def test_countmin_one_sided_and_mergeable(spark, sf_dir):
    """CM guarantees: estimate >= exact for every reported key, and the
    sketch is mergeable — per-shard sketches (split by source) sum
    cell-wise into exactly the global sketch."""
    out = SPECS["countmin_heavy_hitters"].fn(spark, sf_dir).collect()
    assert out, "heavy-hitter output must be non-empty at test scale"
    for r in out:
        assert r.cm_est >= r.n_exact, (r.bigram, r.n_exact, r.cm_est)

    docs = load_table(spark, sf_dir, "documents")
    g = {(r.i, r.bucket): r.cell for r in _sketch(_bigram_counts(spark, docs)).collect()}
    merged: dict[tuple[int, int], int] = {}
    for shard in (
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
    ):
        for r in _sketch(_bigram_counts(spark, shard)).collect():
            merged[(r.i, r.bucket)] = merged.get((r.i, r.bucket), 0) + r.cell
    assert merged == g, "shard sketches must sum to the global sketch"


@pytest.mark.slow
def test_pq_adc_recall_vs_exact_l2(spark, sf_dir):
    """PQ/ADC is approximate by design; its top-10 must still overlap the
    exact L2 top-10 materially (mean recall floor), and ADC distances
    must be non-negative and rank-monotone within each query."""
    import numpy as np

    from streamprocessing_spark.queries.similarity import N_QUERIES, TOP_K

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    exact = {}
    for q in range(N_QUERIES):
        d = {
            i: float(((v - vecs[q]) ** 2).sum())
            for i, v in vecs.items()
            if i != q
        }
        exact[q] = {i for i, _ in sorted(d.items(), key=lambda kv: (kv[1], kv[0]))[:TOP_K]}

    rows = SPECS["ann_pq_adc_topk"].fn(spark, sf_dir).collect()
    approx: dict[int, list] = {}
    for r in rows:
        assert r.adc_dist >= 0.0
        approx.setdefault(r.query_id, []).append((r.rank, r.adc_dist, r.neighbor_id))
    assert set(approx) == set(exact)
    recalls = []
    for q, lst in approx.items():
        lst.sort()
        assert [t[0] for t in lst] == list(range(1, TOP_K + 1))
        dists = [t[1] for t in lst]
        assert dists == sorted(dists), "ADC distance must be rank-monotone"
        recalls.append(len({t[2] for t in lst} & exact[q]) / TOP_K)
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.4, f"mean PQ recall too low: {recalls}"


def test_interpolation_is_bounded_and_exact_on_observations(spark, sf_dir):
    """Each interpolated value must lie within [min, max] of its two
    bracketing observations, and a grid point that coincides with an
    observation must reproduce it exactly."""
    out = SPECS["interpolate_hourly_linear"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    obs = sorted(
        (r.user_id, r.t, r.cents, r.event_id)
        for r in ev.select(
            "user_id",
            F.unix_micros("ts").alias("t"),
            F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
            "event_id",
        ).collect()
    )
    from collections import defaultdict

    series = defaultdict(dict)
    for u, t, c, eid in obs:
        series[u][t] = c  # max event_id at same (u, t) wins: sorted order
    rows = out.select(
        "user_id", F.unix_micros("hour_ts").alias("t"), "interp_cents"
    ).collect()
    assert rows
    import bisect

    for r in rows:
        ts = sorted(series[r.user_id])
        vals = series[r.user_id]
        if r.t in vals:
            assert r.interp_cents == vals[r.t], (r.user_id, r.t)
            continue
        i = bisect.bisect_left(ts, r.t)
        assert 0 < i < len(ts), "grid must stay inside the observed span"
        lo, hi = vals[ts[i - 1]], vals[ts[i]]
        assert min(lo, hi) - 1 <= r.interp_cents <= max(lo, hi), (
            r.user_id, r.t, lo, hi, r.interp_cents,
        )


def test_compaction_plan_partitions_files(spark, sf_dir):
    """The plan must cover every file exactly once per source partition:
    file counts and byte totals reconcile with the raw table, and bins
    form ordered, non-overlapping doc_id ranges."""
    plan = SPECS["compaction_plan_binpack"].fn(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    per_source = {
        r.source: (r.n, r.b)
        for r in d.groupBy("source").agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("b")
        ).collect()
    }
    from collections import defaultdict

    bins = defaultdict(list)
    for r in plan:
        bins[r.source].append(r)
    assert set(bins) == set(per_source)
    for src, rows in bins.items():
        rows.sort(key=lambda r: r.bin_id)
        assert sum(r.n_files for r in rows) == per_source[src][0]
        assert sum(r.bin_bytes for r in rows) == per_source[src][1]
        for a, b in zip(rows, rows[1:]):
            assert a.last_doc < b.first_doc, (src, a.bin_id, b.bin_id)


def test_bloom_has_no_false_negatives(spark, sf_dir):
    """Bloom guarantee: every truly matching probe row must pass the
    filter — n_match_rows equals the exact join count computed
    independently, and passes can only exceed it."""
    row = SPECS["bloom_prefilter_join"].fn(spark, sf_dir).collect()[0]
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    true_rows = (
        li.join(
            o.where(F.col("o_orderpriority") == "1-URGENT").select(
                F.col("o_orderkey").alias("l_orderkey")
            ),
            "l_orderkey",
            "left_semi",
        ).count()
    )
    assert row.n_match_rows == true_rows, "bloom must never drop a true match"
    assert row.n_pass_rows >= row.n_match_rows
    assert row.n_fp_rows == row.n_pass_rows - row.n_match_rows


def test_incremental_merge_equals_recompute(spark, sf_dir):
    """merge(agg(state), agg(batch)) must equal agg(everything) computed
    directly (the IVM correctness law, asserted independently of the
    oracle)."""
    merged = {
        r.event_type: (r.n_events, r.sum_cents, r.min_cents, r.max_cents)
        for r in SPECS["incremental_agg_merge"].fn(spark, sf_dir).collect()
    }
    full = {
        r.event_type: (r.n, r.s, r.mn, r.mx)
        for r in load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s"),
            F.min("cents").alias("mn"),
            F.max("cents").alias("mx"),
        )
        .collect()
    }
    assert merged == full


def test_label_prop_labels_are_reachable(spark, sf_dir):
    """Every node's community label must be a node within LP_ROUNDS hops
    in the sparsified graph (synchronous LPA can only propagate one hop
    per round), and the output must cover exactly the sparsified-graph
    nodes."""
    from collections import defaultdict

    from streamprocessing_spark.queries.graph import LP_ROUNDS, LP_SUPPORT

    out = {r.l_partkey: r.community for r in SPECS["label_prop_communities"].fn(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("s"), F.col("b.l_partkey").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= LP_SUPPORT)
        .collect()
    )
    adj = defaultdict(set)
    for r in pairs:
        adj[r.s].add(r.d)
        adj[r.d].add(r.s)
    assert set(out) == set(adj)
    assert 1 < len(set(out.values())) <= len(out)
    for node, label in out.items():
        frontier = {node}
        seen = {node}
        for _ in range(LP_ROUNDS):
            frontier = {n for f in frontier for n in adj[f]} - set()
            seen |= frontier
        assert label in seen, (node, label)


def test_snapshot_diff_roundtrip(spark, sf_dir):
    """Applying the emitted changelog to v1 must reconstruct v2 exactly
    (deletes remove, updates replace, inserts add, silence = carryover):
    the diff is MINIMAL and SUFFICIENT."""
    rows = SPECS["snapshot_diff_changelog"].fn(spark, sf_dir).collect()
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    v1 = {
        r.k: r.cents
        for r in cust.select(
            F.col("c_custkey").alias("k"),
            F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("long").alias("cents"),
        ).collect()
    }
    v2 = {k: (c + 10000 if k % 10 == 1 else c) for k, c in v1.items() if k % 10 != 0}
    for r in supp.select(
        (F.col("s_suppkey") + 1000000).alias("k"),
        F.floor(F.col("s_acctbal") * 100.0 + 0.5).cast("long").alias("cents"),
    ).collect():
        v2[r.k] = r.cents

    rebuilt = dict(v1)
    for r in rows:
        if r.op == "D":
            assert r.new_cents is None
            rebuilt.pop(r.c_custkey)
        elif r.op == "I":
            assert r.old_cents is None and r.c_custkey not in rebuilt
            rebuilt[r.c_custkey] = r.new_cents
        else:
            assert r.old_cents != r.new_cents, "U rows must be real changes"
            rebuilt[r.c_custkey] = r.new_cents
    assert rebuilt == v2


def test_inverted_index_reconciles(spark, sf_dir):
    """Posting-list lengths must equal df, postings must be strictly
    sorted, and Σdf must equal the distinct (doc, token) pair count."""
    rows = SPECS["inverted_index_postings"].fn(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    n_pairs = (
        d.select("doc_id", F.explode(F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)).alias("t"))
        .distinct()
        .count()
    )
    assert sum(r.df for r in rows) == n_pairs
    for r in rows:
        ids = [int(x) for x in r.postings.split(",")]
        assert len(ids) == r.df
        assert ids == sorted(set(ids))
        assert r.tf_total >= r.df


@pytest.mark.slow
def test_ivfpq_recall_and_adc_consistency(spark, sf_dir):
    """IVFPQ must (a) return top_k ranked rows per query, (b) score every
    returned neighbor with the SAME ADC distance the full-scan PQ tier
    assigns it (the cell filter prunes candidates, never rescores), and
    (c) keep material recall vs exact L2."""
    import numpy as np

    from streamprocessing_spark.queries.similarity import N_QUERIES, TOP_K

    full = {
        (r.query_id, r.neighbor_id): r.adc_dist
        for r in SPECS["ann_pq_adc_topk"].fn(spark, sf_dir).collect()
    }
    rows = SPECS["ann_ivfpq_topk"].fn(spark, sf_dir).collect()
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
        if (r.query_id, r.neighbor_id) in full:
            assert full[(r.query_id, r.neighbor_id)] == r.adc_dist
    assert set(per_q) == set(range(N_QUERIES))
    for q, lst in per_q.items():
        assert sorted(r.rank for r in lst) == list(range(1, TOP_K + 1))

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    recalls = []
    for q in range(N_QUERIES):
        d = {i: float(((v - vecs[q]) ** 2).sum()) for i, v in vecs.items() if i != q}
        exact = {i for i, _ in sorted(d.items(), key=lambda kv: (kv[1], kv[0]))[:TOP_K]}
        got = {r.neighbor_id for r in per_q[q]}
        recalls.append(len(got & exact) / TOP_K)
    assert sum(recalls) / len(recalls) >= 0.3, f"IVFPQ recall too low: {recalls}"


def test_phash_matches_pure_python(spark, sf_dir):
    """The banded pHash pipeline must equal the quadratic pure-Python
    recomputation exactly (second oracle, independent of DuckDB), and
    the mapInPandas hash kernel must agree with phash_stub per doc."""
    import itertools

    from streamprocessing_spark.operators.multimodal import (
        PH_MAX_HAMMING,
        phash_stub,
    )

    rows = {
        (r.id_a, r.id_b): r.hamming
        for r in SPECS["multimodal_phash_neardup"].fn(spark, sf_dir).collect()
    }
    docs = {
        r.doc_id: phash_stub(r.text.encode())
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    want = {}
    for a, b in itertools.combinations(sorted(docs), 2):
        h = bin(docs[a] ^ docs[b]).count("1")
        if h <= PH_MAX_HAMMING:
            want[(a, b)] = h
    assert rows == want
    assert rows, "pHash near-dup must be non-empty at test scale"


def test_bpe_matches_reference_implementation(spark, sf_dir):
    """The distributed BPE trainer must equal a pure-Python textbook BPE
    (Sennrich-style: count weighted adjacent pairs, merge the argmax
    greedily left-to-right, repeat) — second oracle, independent of
    DuckDB — and every segmentation must concatenate back to its word."""
    import re
    from collections import Counter

    from streamprocessing_spark.queries.text import BPE_MERGES

    rows = {
        r.word: (r.cnt, r.encoded, r.n_pieces)
        for r in SPECS["bpe_train_segmentation"].fn(spark, sf_dir).collect()
    }
    texts = [
        r.text for r in load_table(spark, sf_dir, "documents").select("text").collect()
    ]
    vocab = Counter(t for x in texts for t in re.findall(r"[a-z0-9]+", x.lower()))
    segs = {w: list(w) for w in vocab}
    for _ in range(BPE_MERGES):
        counts: Counter = Counter()
        for w, s in segs.items():
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += vocab[w]
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], f"{p[0]} {p[1]}"))
        for w, s in segs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and (s[i], s[i + 1]) == best:
                    out.append(s[i] + s[i + 1])
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = out
    assert set(rows) == set(segs)
    for w, (cnt, encoded, n_pieces) in rows.items():
        assert cnt == vocab[w]
        assert encoded.split(" ") == segs[w], (w, encoded, segs[w])
        assert "".join(encoded.split(" ")) == w
        assert n_pieces == len(segs[w])


def test_bootstrap_ci_brackets_mean(spark, sf_dir):
    """The bootstrap interval must be ordered and bracket the point
    estimate at this sample size; replicate means must be plausible
    (between per-type min and max)."""
    rows = SPECS["bootstrap_ci_value_by_type"].fn(spark, sf_dir).collect()
    assert rows
    stats = {
        r.event_type: (r.mn, r.mx)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.min(F.floor(F.col("value") * 100.0 + 0.5)).alias("mn"),
            F.max(F.floor(F.col("value") * 100.0 + 0.5)).alias("mx"),
        )
        .collect()
    }
    for r in rows:
        assert r.ci_lo_cents <= r.ci_hi_cents
        assert r.ci_lo_cents <= r.mean_cents <= r.ci_hi_cents
        mn, mx = stats[r.event_type]
        assert mn <= r.ci_lo_cents and r.ci_hi_cents <= mx


def test_duplicate_charge_pairs_valid(spark, sf_dir):
    """Every emitted pair: same user, both purchases, canonical order,
    |diff| within tolerance — and the pair count matches a quadratic
    recomputation in Python."""
    import itertools
    from collections import defaultdict

    from streamprocessing_spark.queries.analytics import DUP_CHARGE_TOL

    rows = SPECS["duplicate_charge_candidates"].fn(spark, sf_dir).collect()
    ev = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", "event_id", F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"))
        .collect()
    ):
        ev[r.user_id].append((r.event_id, r.cents))
    want = set()
    for u, lst in ev.items():
        for (ia, ca), (ib, cb) in itertools.combinations(sorted(lst), 2):
            if abs(ca - cb) <= DUP_CHARGE_TOL:
                want.add((u, ia, ib))
    got = {(r.user_id, r.id_a, r.id_b) for r in rows}
    assert got == want
    for r in rows:
        assert r.id_a < r.id_b and r.diff_cents == abs(r.cents_a - r.cents_b) <= DUP_CHARGE_TOL


def test_quantile_normalization_is_uniform_per_dim(spark, sf_dir):
    """Each dimension's qvals must be exactly the uniform grid
    {0, 1/(n-1), ..., 1} — the defining property of a rank transform."""
    from collections import defaultdict

    rows = SPECS["quantile_normalize_embeddings"].fn(spark, sf_dir).collect()
    per_dim = defaultdict(list)
    for r in rows:
        per_dim[r.dim].append(r.qval)
    n = load_table(spark, sf_dir, "embeddings").count()
    import math

    grid = sorted(math.floor(i / (n - 1) * 1e6 + 0.5) / 1e6 for i in range(n))
    for dim, vals in per_dim.items():
        assert sorted(vals) == grid, dim


def test_pit_join_never_leaks_future_state(spark, sf_dir):
    """The leakage law: every fact's assigned profile state must come
    from a change at-or-before the fact's timestamp (never after), and
    the 'unknown'/'never' sentinels must coincide."""
    from collections import defaultdict

    rows = SPECS["pit_join_profile_history"].fn(spark, sf_dir).collect()
    assert rows
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    ).collect()
    facts = {r.event_id: r for r in ev if r.event_type == "purchase"}
    changes = defaultdict(list)
    for r in ev:
        if r.event_id % 7 == 0:
            changes[r.user_id].append((r.ts, r.event_id, r.event_type))
    seen_real = seen_sentinel = 0
    for r in rows:
        fact = facts[r.event_id]
        valid = [c for c in sorted(changes[r.user_id]) if c[0] <= fact.ts]
        if r.pit_type == "unknown":
            assert r.pit_since == "never" and not valid
            seen_sentinel += 1
        else:
            assert valid and valid[-1][2] == r.pit_type, r.event_id
            seen_real += 1
    assert seen_real > 0, "PIT join must assign real state at test scale"


@pytest.mark.slow
def test_kmeans_checkpoint_resume_is_bit_identical(spark, sf_dir, tmp_path):
    """Iterative-job fault tolerance: persist the exact-integer centroid
    state after 1 Lloyd round, resume 2 more rounds from the parquet
    state, and the final assignment must be BIT-IDENTICAL to an
    uninterrupted 3-round run (the property float-mean centroids lose
    to accumulation order)."""
    from streamprocessing_spark.operators.similarity import (
        KMEANS_ITERS,
        KMEANS_K,
        _kmeans_loop,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    direct, _, _ = _kmeans_loop(emb, KMEANS_K, KMEANS_ITERS, "vec_id", "embedding")
    direct_rows = {(r.id, r.k) for r in direct.collect()}

    _, cent1, _ = _kmeans_loop(emb, KMEANS_K, 1, "vec_id", "embedding")
    state = str(tmp_path / "cent_state")
    cent1.write.mode("overwrite").parquet(state)  # the checkpoint
    restored = spark.read.parquet(state)
    resumed, _, _ = _kmeans_loop(
        emb, KMEANS_K, KMEANS_ITERS - 1, "vec_id", "embedding", init_cent=restored
    )
    assert {(r.id, r.k) for r in resumed.collect()} == direct_rows


def test_sliding_distinct_decomposition_equals_brute_force(spark, sf_dir):
    """Interval-decomposition sliding distinct must equal the brute-force
    per-day recount in Python (third implementation, independent of
    both engines' SQL)."""
    from datetime import timedelta

    from streamprocessing_spark.queries.timeseries import SLIDE_DAYS

    rows = {
        r.day: r.n_active_users
        for r in SPECS["sliding_distinct_users_7d"].fn(spark, sf_dir).collect()
    }
    act = {
        (r.user_id, r.day)
        for r in load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .collect()
    }
    days = sorted({d for _, d in act})
    lo, hi = days[0], days[-1]
    d = lo
    while d <= hi:
        active = {
            u for (u, ad) in act if d - timedelta(days=SLIDE_DAYS - 1) <= ad <= d
        }
        assert rows[d] == len(active), d
        d += timedelta(days=1)
    assert set(rows) == {lo + timedelta(days=i) for i in range((hi - lo).days + 1)}


def test_ams_estimate_is_close_and_audited(spark, sf_dir):
    """The signed-AMS join-size estimate must be within 25% of the truth
    at test scale and the audit columns must reconcile."""
    row = SPECS["join_size_sketch_estimate"].fn(spark, sf_dir).collect()[0]
    assert row.abs_err == abs(row.est_rows - row.true_rows)
    assert row.true_rows > 0
    assert row.abs_err <= 0.25 * row.true_rows, (row.est_rows, row.true_rows)


def test_cusum_telescopes_and_flags_both_ways(spark, sf_dir):
    """CUSUM invariants: the scaled running sum telescopes to zero on
    each series' last day (Σ(c·n − total) = 0), and the drift flag is
    non-vacuous in BOTH directions at test scale."""
    rows = SPECS["cusum_changepoint_daily"].fn(spark, sf_dir).collect()
    assert rows
    last = {}
    flags = set()
    for r in rows:
        cur = last.get(r.event_type)
        if cur is None or r.day > cur[0]:
            last[r.event_type] = (r.day, r.cusum_scaled)
        flags.add(r.drift_flag)
    for t, (_, s_final) in last.items():
        assert s_final == 0, (t, s_final)
    assert flags == {0, 1}, "both flag branches must be exercised"


def test_clamped_balance_matches_sequential_simulation(spark, sf_dir):
    """The prefix-scan closed form must equal the stateful sequential
    simulation (the definitional semantics), and clamping must actually
    BITE at test scale (some balance < naive running sum)."""
    from collections import defaultdict

    rows = SPECS["clamped_running_balance"].fn(spark, sf_dir).collect()
    by_user = defaultdict(list)
    ev = {
        r.event_id: (r.user_id, r.ts)
        for r in load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts")
        .collect()
    }
    for r in rows:
        by_user[r.user_id].append((ev[r.event_id][1], r.event_id, r.flow, r.balance_cents))
    clamp_bit = False
    for u, lst in by_user.items():
        bal = naive = 0
        for _, _, flow, got in sorted(lst):
            bal = max(0, bal + flow)
            naive += flow
            assert got == bal, (u, got, bal)
            if bal != naive:
                clamp_bit = True
    assert clamp_bit, "the clamp must engage somewhere at test scale"
