"""Round-10 operator tests.

1. dedup_substring_keep (the ExactSubstr EMIT path, Lee et al. 2022):
   conservation laws against duplicate_span_coverage, and the hand-
   crafted excision law — covered spans vanish from EVERY occurrence
   (including the first), order-preserving, untouched docs round-trip.
"""

from __future__ import annotations

import pytest
from streamprocessing_spark.registry import all_specs

SPECS = all_specs()
SF = "/root/testdata/sf0.001"


def test_substring_keep_conservation_laws(spark):
    """Per doc: n_removed must equal duplicate_span_coverage's
    dup_covered_tokens (same covered-position set, metric vs emit), and
    the emitted text must re-tokenize to exactly n_tokens - n_removed
    tokens (nothing lost, nothing invented)."""
    from streamprocessing_spark.functions import text as T
    from pyspark.sql import functions as F

    keep = SPECS["dedup_substring_keep"].fn(spark, SF)
    cov = SPECS["duplicate_span_coverage"].fn(spark, SF)

    k = {r.doc_id: r for r in keep.collect()}
    c = {r.doc_id: r for r in cov.collect()}
    assert set(k) == set(c)
    assert any(r.n_removed > 0 for r in k.values())  # non-vacuous
    assert any(r.n_removed == 0 for r in k.values())
    for doc_id, r in k.items():
        assert r.n_removed == c[doc_id].dup_covered_tokens, doc_id

    recount = keep.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        T.token_count(F.col("kept_text")).alias("n_emitted"),
    )
    for r in recount.collect():
        assert r.n_emitted == r.n_tokens - r.n_removed, r


def test_ivf_index_compaction_laws(spark, tmp_path):
    """The OPTIMIZE job's laws on a FRAGMENTED index (the state streaming
    appends / multi-task builds actually leave behind — the pristine
    content-keyed build already writes one file per cell, where
    compaction is a no-op by design): (1) bin-pack — every cell dir of
    the compacted index holds exactly the planned ceil(cell_bytes /
    target) files, strictly fewer than the fragmented input; (2)
    conservation — identical (id, cent_id) row sets; (3) answers — the
    registered compacted serving tier equals the persisted tier
    row-for-row (also enforced by the shared oracle)."""
    import math
    import os

    from streamprocessing_spark.operators import similarity as S
    from streamprocessing_spark.queries import similarity as SIM
    from streamprocessing_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    base = SPECS["ivf_cosine_pairs_persisted"].fn(spark, sf)
    comp = SPECS["ivf_cosine_pairs_compacted"].fn(spark, sf)
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, comp.collect()))

    emb = load_table(spark, sf, "embeddings")
    vec_type = emb.schema["embedding"].dataType.simpleString()
    schema = f"id bigint, v {vec_type}, cent_id bigint"
    idx = SIM._ensure_index(
        spark, sf, "graft_ivf_pairs", lambda: S.ivf_cell_vectors(emb, nassign=3)
    )
    # Fragment: rewrite the index with 6-way round-robin repartitioning,
    # scattering every cell's rows across up to 6 writer tasks — the
    # many-small-files state a per-batch streaming append produces.
    frag = str(tmp_path / "fragmented_idx")
    (
        spark.read.schema(schema)
        .parquet(idx)
        .repartition(6)
        .write.partitionBy("cent_id")
        .parquet(frag)
    )
    cdir = SIM._compact_index(spark, frag, schema)

    def cells(d):
        out = {}
        for cell in os.listdir(d):
            p = os.path.join(d, cell)
            if cell.startswith("cent_id=") and os.path.isdir(p):
                fs = [f for f in os.listdir(p) if f.endswith(".parquet")]
                out[cell] = (
                    len(fs),
                    sum(os.stat(os.path.join(p, f)).st_size for f in fs),
                )
        return out

    before, after = cells(frag), cells(cdir)
    assert set(before) == set(after)
    assert max(n for n, _ in before.values()) > 1  # genuinely fragmented
    assert sum(n for n, _ in before.values()) > sum(n for n, _ in after.values())
    for cell, (_n_before, nbytes) in before.items():
        planned = max(1, math.ceil(nbytes / SIM.IVF_COMPACT_TARGET))
        assert 1 <= after[cell][0] <= planned, (cell, after[cell], planned)

    rows_frag = set(
        map(tuple, spark.read.schema(schema).parquet(frag).select("id", "cent_id").collect())
    )
    rows_comp = set(
        map(tuple, spark.read.schema(schema).parquet(cdir).select("id", "cent_id").collect())
    )
    assert rows_frag == rows_comp


def test_compacted_topk_index_still_dpp_prunes(spark):
    """Compacting the TOPK index must not defeat dynamic partition
    pruning: the probes join over the compacted scan still carries a
    dynamicpruning filter and returns exactly ann_ivf_persisted_topk's
    rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from streamprocessing_spark.operators import similarity as S
    from streamprocessing_spark.queries import similarity as SIM
    from streamprocessing_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    centroids = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )

    def _build():
        w = Window.partitionBy("id").orderBy(F.desc("cos_c"), F.asc("cent_id"))
        return (
            S.with_cosine_fast(
                emb.join(F.broadcast(centroids)).select(
                    F.col("vec_id").alias("id"),
                    F.col("embedding").alias("v"),
                    "cent_id",
                    F.col("embedding").alias("av"),
                    F.col("cent_vec").alias("bv"),
                ),
                "av", "bv", "cos_c",
            )
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("id", "v", "cent_id")
        )

    vec_type = emb.schema["embedding"].dataType.simpleString()
    schema = f"id bigint, v {vec_type}, cent_id bigint"
    idx = SIM._ensure_index(spark, sf, "graft_ivf", _build)
    index = spark.read.schema(schema).parquet(SIM._compact_index(spark, idx, schema))

    queries = emb.where(F.col("vec_id") < SIM.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("cos_q"), F.asc("cent_id"))
    probes = (
        S.with_cosine_fast(
            queries.join(F.broadcast(centroids)).select(
                "query_id", "qv", "cent_id",
                F.col("qv").alias("av"), F.col("cent_vec").alias("bv"),
            ),
            "av", "bv", "cos_q",
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") <= 4)
        .select("query_id", "qv", "cent_id")
    )
    scored = S.with_cosine_fast(
        index.join(F.broadcast(probes), "cent_id")
        .where(F.col("id") != F.col("query_id"))
        .select("query_id", "id", F.col("v").alias("av"), F.col("qv").alias("bv")),
        "av", "bv", "cos",
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("id"))
    topk = (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= SIM.TOP_K)
        .select("query_id", F.col("id").alias("neighbor_id"),
                F.col("rank").cast("long").alias("rank"))
    )
    plan = topk._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    want = sorted(map(tuple, SPECS["ann_ivf_persisted_topk"].fn(spark, sf).collect()))
    assert sorted(map(tuple, topk.collect())) == want


def test_substring_keep_excision_law(spark, tmp_path):
    """Hand-crafted corpus: an 8+-token block repeated across two docs is
    excised from BOTH occurrences (ExactSubstr removes every copy — the
    surviving signal lives in docs that said it once... nowhere); a doc
    with no corpus-repeated 8-gram round-trips verbatim; a fully-
    duplicated doc survives as an empty string with its row intact."""
    import os

    block = "the quick brown fox jumps over the lazy dog"  # 9 tokens
    docs = [
        (1, f"alpha beta {block} gamma delta"),
        (2, f"{block}"),  # fully covered -> empty emit
        (3, "unique words only here nothing repeated at all"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    fx = str(tmp_path / "fx")
    os.makedirs(fx)
    d.write.mode("overwrite").parquet(os.path.join(fx, "documents.parquet"))

    got = {r.doc_id: r for r in SPECS["dedup_substring_keep"].fn(spark, fx).collect()}
    # doc 1: the repeated block's two 8-gram starts cover exactly its 9
    # tokens; the frame words survive in order
    assert got[1].kept_text == "alpha beta gamma delta"
    assert got[1].n_removed == 9
    # doc 2: fully covered, row survives as empty string
    assert got[2].kept_text == "" and got[2].n_removed == got[2].n_tokens == 9
    # doc 3: untouched, round-trips token-joined
    assert got[3].kept_text == docs[2][1] and got[3].n_removed == 0


def _stage_doc_chunks(spark, docs, base, n=3):
    import os
    import shutil

    from pyspark.sql import functions as F

    src = os.path.join(base, "src")
    os.makedirs(src, exist_ok=True)
    staged = []
    for i in range(n):
        d = os.path.join(base, f"chunk{i}")
        docs.where((F.col("doc_id") % n) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        staged.append((os.path.join(d, part), os.path.join(src, f"c{i}.parquet")))
    return src, staged


@pytest.mark.slow
def test_paragraph_ingest_checkpoint_restart_equals_batch(spark, tmp_path):
    """The streaming paragraph tier must survive a stop/restart on one
    checkpoint: run 1 drains only chunk 0, run 2 (same checkpoint,
    same stores) drains the rest; (a) the final pair set equals the
    batch parapairs view bit-for-bit, (b) no pair is emitted twice
    across runs (batch=<id> overwrite + before_batch state visibility
    is the exactly-once contract)."""
    import os
    import shutil

    from streamprocessing_spark.operators import dedup as D
    from streamprocessing_spark.queries.dedup import JACCARD_THRESHOLD
    from streamprocessing_spark.sources.readers import load_table
    from streamprocessing_spark.streaming.ingest_dedup import ParagraphIngestDedup

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    paras = D.paragraph_df(docs, "doc_id", "text")
    n_total = paras.count()
    src, staged = _stage_doc_chunks(spark, docs, str(tmp_path))
    sink = ParagraphIngestDedup(
        base=str(tmp_path / "state"),
        threshold=JACCARD_THRESHOLD,
        n_total_units=n_total,
    )
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(sink.foreach_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    shutil.copyfile(*staged[0])
    run_once()
    first = [tuple(r) for r in sink.dup_pairs(spark).collect()]
    shutil.copyfile(*staged[1])
    shutil.copyfile(*staged[2])
    run_once()
    final = [tuple(r) for r in sink.dup_pairs(spark).collect()]

    assert len(final) == len(set(final)), "a pair was emitted twice across runs"
    assert set(first) <= set(final)

    batch_pairs = {
        tuple(r)
        for r in D.minhash_lsh_pairs_scaled(
            paras, "pid", "ptext", JACCARD_THRESHOLD, n_total
        ).collect()
    }
    assert batch_pairs, "fixture yields no paragraph near-dup pairs"
    assert set(final) == batch_pairs


@pytest.mark.slow
def test_paragraph_ingest_batch_retry_is_idempotent(spark, tmp_path):
    """Replaying a batch with the same batch_id (Spark's foreachBatch
    retry contract) must leave pair, paragraph, and bucket stores
    unchanged — and must NOT self-match against its own first write."""
    from pyspark.sql import functions as F

    from streamprocessing_spark.operators import dedup as D
    from streamprocessing_spark.queries.dedup import JACCARD_THRESHOLD
    from streamprocessing_spark.sources.readers import load_table
    from streamprocessing_spark.streaming.ingest_dedup import ParagraphIngestDedup

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    n_total = D.paragraph_df(docs, "doc_id", "text").count()
    sink = ParagraphIngestDedup(
        base=str(tmp_path / "state"),
        threshold=JACCARD_THRESHOLD,
        n_total_units=n_total,
    )
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    sink.foreach_batch(b0, 0)
    sink.foreach_batch(b1, 1)
    first = sorted(map(tuple, sink.dup_pairs(spark).collect()))
    n_paras = spark.read.parquet(f"{sink.docs_dir}/batch=*").count()
    sink.foreach_batch(b1, 1)
    sink.foreach_batch(b0, 0)
    assert sorted(map(tuple, sink.dup_pairs(spark).collect())) == first
    assert spark.read.parquet(f"{sink.docs_dir}/batch=*").count() == n_paras


def test_crosslingual_contamination_matrix_laws(spark):
    """Shape and consistency laws: always the dense 3x3 grid; every
    contaminated count is bounded by its split size; the matrix is
    consistent with the mined pair relation it derives from (a doc
    counted in (f, t) really has a mined translation partner across
    that split boundary); non-vacuous at the smallest fixture."""
    from streamprocessing_spark.operators.dedup import _h32
    from pyspark.sql import functions as F

    from streamprocessing_spark.sources.readers import load_table

    rows = SPECS["contamination_matrix_crosslingual"].fn(spark, SF).collect()
    assert len(rows) == 9
    assert {(r.split_from, r.split_to) for r in rows} == {
        (a, b)
        for a in ("train", "valid", "test")
        for b in ("train", "valid", "test")
    }
    assert sum(r.n_contaminated for r in rows) > 0  # non-vacuous
    for r in rows:
        assert 0 <= r.n_contaminated <= r.split_size, r

    # consistency: replay one cell from the mined pairs directly
    pairs = SPECS["bitext_mine_margin_ivf"].fn(spark, SF).collect()
    d = load_table(spark, SF, "documents")
    h = _h32(F.col("doc_id").cast("string")) % 100
    split = {
        r.doc_id: r.s
        for r in d.select(
            "doc_id",
            F.when(h < 80, "train").when(h < 90, "valid").otherwise("test").alias("s"),
        ).collect()
    }
    want = {}
    for p in pairs:
        for a, b in ((p.src_doc_id, p.tgt_doc_id), (p.tgt_doc_id, p.src_doc_id)):
            want.setdefault((split[a], split[b]), set()).add(b)
    got = {(r.split_from, r.split_to): r.n_contaminated for r in rows}
    for cell, docs in want.items():
        assert got[cell] == len(docs), cell


def test_keep_best_quality_laws(spark):
    """Quality-priority canonical selection: exactly one keeper per
    cluster (the max-token member, ties to min id), kept-set size equals
    dedup_keep_canonical's (same clusters, one survivor each), singleton
    rows carry n_members=1, and the law genuinely differs from min-id
    (some cluster's keeper is not its min id) — else the op is a rename."""
    from pyspark.sql import functions as F

    from streamprocessing_spark.functions import text as T
    from streamprocessing_spark.queries.dedup import _components_view
    from streamprocessing_spark.sources.readers import load_table

    kept = SPECS["dedup_keep_best_quality"].fn(spark, SF).collect()
    canonical = SPECS["dedup_keep_canonical"].fn(spark, SF).collect()
    assert len(kept) == len(canonical)

    comp = {r.id: r.component for r in _components_view(spark, SF).collect()}
    d = load_table(spark, SF, "documents")
    ntok = {
        r.doc_id: r.n
        for r in d.select("doc_id", T.token_count(F.col("text")).alias("n")).collect()
    }
    clusters: dict[int, list[int]] = {}
    for doc, c in comp.items():
        clusters.setdefault(c, []).append(doc)
    kept_ids = {r.doc_id for r in kept}
    diverged = 0
    for c, members in clusters.items():
        best = min(members, key=lambda i: (-ntok[i], i))
        assert best in kept_ids, (c, members)
        for m in members:
            if m != best:
                assert m not in kept_ids, (c, m)
        if best != min(members):
            diverged += 1
    assert diverged > 0, "keeper always == min id; law indistinguishable"
    for r in kept:
        if r.doc_id not in comp:
            assert r.n_members == 1 and r.cluster_id == r.doc_id


def test_cdc_chunks_conservation_and_shift_resistance(spark, tmp_path):
    """(1) Keep-first conservation: sum of n_dup_chunks over the corpus
    == total chunks - distinct chunk fingerprints (exactly the bytes a
    chunk store saves). (2) The CDC property: prepending one token to a
    duplicated document still leaves most of its chunks fingerprint-
    identical to the original (boundaries are content-local), where the
    fixed-window law would shift every downstream window."""
    import os

    from pyspark.sql import functions as F

    from streamprocessing_spark.operators.dedup import _h32, tokens_col
    from streamprocessing_spark.queries.dedup import CDC_DIVISOR
    from streamprocessing_spark.sources.readers import load_table

    prof = SPECS["dedup_cdc_chunks"].fn(spark, SF)
    rows = prof.collect()
    total_dup = sum(r.n_dup_chunks for r in rows)
    total_chunks = sum(r.n_chunks for r in rows)
    assert total_dup > 0  # non-vacuous

    # recompute distinct fingerprints via the same chunking law
    d = load_table(spark, SF, "documents")
    from pyspark.sql.window import Window

    toked = d.select("doc_id", tokens_col(F.col("text")).alias("t")).where(
        F.size("t") > 0
    )
    pos = toked.select("doc_id", F.posexplode("t").alias("i", "tok")).select(
        "doc_id", (F.col("i") + 1).alias("pos"), "tok"
    )
    fl = pos.withColumn("b", (_h32(F.col("tok")) % CDC_DIVISOR == 0).cast("int"))
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ch = fl.withColumn("cid", F.coalesce(F.sum("b").over(w), F.lit(0)))
    fps = (
        ch.groupBy("doc_id", "cid")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s.tok,
                    ),
                    " ",
                ).cast("binary")
            ).alias("fp")
        )
    )
    n_distinct = fps.select("fp").distinct().count()
    assert total_dup == total_chunks - n_distinct

    # shift resistance on a hand-crafted pair
    words = [f"w{i}" for i in range(60)]
    base_text = " ".join(words)
    shifted = "PREFIX " + base_text
    docs = spark.createDataFrame(
        [(1, base_text), (2, shifted)], "doc_id long, text string"
    )
    fx = str(tmp_path / "fx")
    os.makedirs(fx)
    docs.write.mode("overwrite").parquet(os.path.join(fx, "documents.parquet"))
    got = {r.doc_id: r for r in SPECS["dedup_cdc_chunks"].fn(spark, fx).collect()}
    # boundaries are content-local: the prefix perturbs only the FIRST
    # chunk; every later chunk of doc 2 re-matches doc 1's fingerprints
    assert got[2].n_dup_chunks >= got[2].n_chunks - 1
    assert got[2].n_chunks > 2  # non-vacuous: several chunks exist


def test_incremental_index_fragmented_then_compacted(spark):
    """The append→fragment→OPTIMIZE→serve cycle: the incremental index
    has at least one cell with ≥2 part files (the appended batch), its
    serving output equals the single-build persisted tier bit-for-bit,
    and compacting it changes neither the answers nor the row set."""
    import os

    from streamprocessing_spark.queries import similarity as SIM

    sf = "/root/testdata/sf0.001"
    inc = SPECS["ivf_cosine_pairs_incremental"].fn(spark, sf)
    persisted = SPECS["ivf_cosine_pairs_persisted"].fn(spark, sf)
    inc_rows = sorted(map(tuple, inc.collect()))
    assert inc_rows == sorted(map(tuple, persisted.collect()))

    # locate the incremental index on disk
    from streamprocessing_spark.operators import similarity as S
    from streamprocessing_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf, "embeddings")
    vec_type = emb.schema["embedding"].dataType.simpleString()
    schema = f"id bigint, v {vec_type}, cent_id bigint"

    def writer(tmp_dir):
        base = emb.where(F.expr("vec_id % 10 != 7"))
        batch = emb.where(F.expr("vec_id % 10 = 7"))
        S.ivf_cell_vectors(base, nassign=3, corpus=emb).write.mode(
            "overwrite"
        ).partitionBy("cent_id").parquet(tmp_dir)
        S.ivf_cell_vectors(batch, nassign=3, corpus=emb).write.mode(
            "append"
        ).partitionBy("cent_id").parquet(tmp_dir)

    idx = SIM._ensure_index(spark, sf, "graft_ivf_incr", None, writer=writer)
    frag_cells = 0
    for cell in os.listdir(idx):
        p = os.path.join(idx, cell)
        if cell.startswith("cent_id=") and os.path.isdir(p):
            if len([f for f in os.listdir(p) if f.endswith(".parquet")]) >= 2:
                frag_cells += 1
    assert frag_cells > 0, "append produced no fragmentation to compact"

    cdir = SIM._compact_index(spark, idx, schema)
    pair_schema, cell_verify = S.cell_verify_kernel(SIM.SRP_THRESHOLD)
    from streamprocessing_spark.functions.text import portable_round

    served = (
        spark.read.schema(schema)
        .parquet(cdir)
        .select("cent_id", "id", "v")
        .groupBy("cent_id")
        .applyInPandas(cell_verify, pair_schema)
        .select("id_a", "id_b", portable_round(F.col("cos"), 6).alias("cos_sim"))
        .distinct()
    )
    assert sorted(map(tuple, served.collect())) == inc_rows


def test_cdc_keep_conservation(spark):
    """The CDC emit path must agree with the CDC profile: per doc,
    n_kept == n_chunks - n_dup_chunks, and the emitted text re-chunks
    to exactly the kept instances (token-count conservation: kept_text
    tokens == doc tokens - dup-chunk tokens is implied by chunk-level
    equality; we check counts and the first-instance law on a sample)."""
    keep = {r.doc_id: r for r in SPECS["dedup_cdc_keep"].fn(spark, SF).collect()}
    prof = {r.doc_id: r for r in SPECS["dedup_cdc_chunks"].fn(spark, SF).collect()}
    assert set(keep) == set(prof)
    assert any(r.n_kept < r.n_chunks for r in keep.values())  # non-vacuous
    for doc_id, r in keep.items():
        assert r.n_kept == prof[doc_id].n_chunks - prof[doc_id].n_dup_chunks, doc_id
        if r.n_kept == 0:
            assert r.kept_text == ""


def test_decontaminate_crosslingual_consistent_with_matrix(spark):
    """The evidence rows and the dashboard rollup must agree: distinct
    contaminated eval docs per eval_split in decontaminate_crosslingual
    == the (train -> valid/test) cells of
    contamination_matrix_crosslingual."""
    rows = SPECS["decontaminate_crosslingual"].fn(spark, SF).collect()
    assert rows  # non-vacuous at the smallest fixture
    by_split: dict[str, set[int]] = {}
    for r in rows:
        by_split.setdefault(r.eval_split, set()).add(r.eval_id)
    matrix = {
        (r.split_from, r.split_to): r.n_contaminated
        for r in SPECS["contamination_matrix_crosslingual"].fn(spark, SF).collect()
    }
    for split in ("valid", "test"):
        assert matrix[("train", split)] == len(by_split.get(split, set())), split


def test_containment_keep_laws(spark):
    """The whole-document drop law against the detection relation it
    composes: (1) the kept/dropped verdict equals a python replay of the
    law over the directional pair set; (2) content preservation — every
    dropped doc is contained in at least one KEPT doc (the chain-
    termination theorem in the docstring, checked extensionally);
    (3) non-vacuous both ways."""
    keep = {r.doc_id: r for r in SPECS["dedup_containment_keep"].fn(spark, SF).collect()}
    pairs = SPECS["dedup_substring_containment"].fn(spark, SF).collect()

    cont = {(r.id_inner, r.id_outer) for r in pairs}
    dropped_law = {
        a for (a, b) in cont if (b, a) not in cont or b < a
    }
    dropped_got = {d for d, r in keep.items() if r.kept == 0}
    assert dropped_got == dropped_law
    assert dropped_got and len(dropped_got) < len(keep)  # non-vacuous

    kept_ids = {d for d, r in keep.items() if r.kept == 1}
    for a in dropped_got:
        assert any(
            (a, b) in cont and b in kept_ids for b in {o for (i, o) in cont if i == a}
        ), f"dropped doc {a} has no kept container"

    for d, r in keep.items():
        assert r.n_containers == len({o for (i, o) in cont if i == d}), d


def test_containment_keep_exact_dup_tiebreak(spark, tmp_path):
    """Mutual containment (identical token streams) keeps exactly the
    smallest doc_id, and strict-containment chains drop every inner —
    pinned on a crafted corpus because the sf fixtures contain only
    strict containments (probed: 0 mutual pairs at sf0.001)."""
    inner = "alpha beta gamma delta epsilon zeta"
    mid = f"prefix words {inner} suffix words here"
    outer = f"start pad {mid} trailing pad tokens"
    twin = "one two three four five six seven eight"
    rows = [
        (10, outer), (11, mid), (12, inner),   # chain: 12 ⊂ 11 ⊂ 10
        (20, twin), (21, twin), (22, twin),    # exact triplet
        (30, "totally unrelated content words only"),
    ]
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": "en",
            "source": "t",
            "n_chars": [len(r[1]) for r in rows],
        }
    )
    d = str(tmp_path / "fix")
    import os

    os.makedirs(d, exist_ok=True)
    pdf.to_parquet(os.path.join(d, "documents.parquet"))

    out = {r.doc_id: r.kept for r in SPECS["dedup_containment_keep"].fn(spark, d).collect()}
    assert out == {10: 1, 11: 0, 12: 0, 20: 1, 21: 0, 22: 0, 30: 1}


@pytest.mark.slow
def test_paragraph_keep_best_laws(spark):
    """Quality-priority paragraph emit vs the keep-first sibling: same
    doc universe and per-doc n_paras; within every paragraph dup
    CLUSTER exactly one instance survives and it is the (max containing-
    doc tokens, min pid) member — replayed in python over the pair
    relation; non-vacuously different from keep-first (some doc's
    emitted text differs)."""
    from streamprocessing_spark.functions import text as T
    from streamprocessing_spark.queries.dedup import _para_pairs_view
    from streamprocessing_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    best = {r.doc_id: r for r in SPECS["dedup_paragraph_keep_best"].fn(spark, SF).collect()}
    first = {r.doc_id: r for r in SPECS["dedup_paragraph_keep"].fn(spark, SF).collect()}
    assert set(best) == set(first)
    assert all(best[d].n_paras == first[d].n_paras for d in best)
    assert any(best[d].kept_text != first[d].kept_text for d in best)  # non-vacuous

    pairs = [(r.id_a, r.id_b) for r in _para_pairs_view(spark, SF).collect()]
    toks = {
        r.doc_id: r.n
        for r in load_table(spark, SF, "documents")
        .select("doc_id", T.token_count(F.col("text")).alias("n"))
        .collect()
    }
    # union-find over the pair graph
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    clusters = {}
    for pid in list(parent):
        clusters.setdefault(find(pid), set()).add(pid)

    from streamprocessing_spark.operators.dedup import PARA_ID_STRIDE

    kept_pids = set()
    for d, r in best.items():
        # reconstruct kept pid count only; membership check below uses
        # the loser law directly
        pass
    # losers per the law: all but argmax-(doc tokens, -pid) per cluster
    expected_losers = set()
    for members in clusters.values():
        ranked = sorted(members, key=lambda p: (-toks[p // PARA_ID_STRIDE], p))
        expected_losers.update(ranked[1:])
    # kept count per doc = n_paras - losers in that doc
    import collections

    lost_by_doc = collections.Counter(p // PARA_ID_STRIDE for p in expected_losers)
    for d, r in best.items():
        assert r.n_kept == r.n_paras - lost_by_doc.get(d, 0), d


def test_crosslingual_keep_laws(spark):
    """Keep law vs a python union-find replay over the mined bitext
    pairs: exactly one kept member per translated cluster and it is the
    min doc_id; singletons all kept with n_members = 1; non-vacuous
    (at least one multi-member cluster)."""
    kept = SPECS["dedup_crosslingual_keep"].fn(spark, SF).collect()
    pairs = [
        (r.src_doc_id, r.tgt_doc_id)
        for r in SPECS["bitext_mine_margin_ivf"].fn(spark, SF).collect()
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    clusters = {}
    for x in list(parent):
        clusters.setdefault(find(x), set()).add(x)

    kept_ids = {r.doc_id for r in kept}
    by_id = {r.doc_id: r for r in kept}
    assert any(len(m) >= 2 for m in clusters.values())  # non-vacuous
    for members in clusters.values():
        keep = min(members)
        assert keep in kept_ids
        assert members - {keep} <= (set(parent) - kept_ids)
        assert by_id[keep].cluster_id == keep
        assert by_id[keep].n_members == len(members)
    for r in kept:
        if r.doc_id not in parent:
            assert r.cluster_id == r.doc_id and r.n_members == 1


def test_ivf_erasure_laws(spark):
    """The erasure job's laws: (1) the erased index holds exactly the
    full index minus the tombstoned sliver (same (id, cent_id) sets —
    assignment invariant under the unchanged quantizer); (2) zero
    tombstoned ids survive; (3) untouched cell files are HARD LINKS of
    the source index's files (erasure cost ∝ touched cells — the
    metadata-only claim), while touched cells are rewritten; (4)
    non-vacuous both ways at sf0.001."""
    import os

    from streamprocessing_spark.operators import similarity as S
    from streamprocessing_spark.queries import similarity as SIM
    from streamprocessing_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    # materialize both indexes (the query builds them on demand)
    SPECS["ivf_cosine_pairs_erased"].fn(spark, SF).collect()
    emb = load_table(spark, SF, "embeddings")
    vec_type = emb.schema["embedding"].dataType.simpleString()
    schema = f"id bigint, v {vec_type}, cent_id bigint"
    full_dir = SIM._ensure_index(
        spark, SF, "graft_ivf_pairs", lambda: S.ivf_cell_vectors(emb, nassign=3)
    )
    erased_dir = SIM._ensure_index(spark, SF, "graft_ivf_erase", None, writer=None)

    full = {
        (r.id, r.cent_id)
        for r in spark.read.schema(schema).parquet(full_dir).collect()
    }
    erased = {
        (r.id, r.cent_id)
        for r in spark.read.schema(schema).parquet(erased_dir).collect()
    }
    tomb = {(i, c) for (i, c) in full if i % 16 == 5}
    assert tomb  # non-vacuous erasure
    assert erased == full - tomb
    assert not {(i, c) for (i, c) in erased if i % 16 == 5}

    hit_cells = {c for (_i, c) in tomb}
    clean_cells = {c for (_i, c) in full} - hit_cells
    assert hit_cells and clean_cells  # touched AND untouched cells exist
    for cell in clean_cells:
        s_cell = os.path.join(full_dir, f"cent_id={cell}")
        d_cell = os.path.join(erased_dir, f"cent_id={cell}")
        s_files = {f: os.stat(os.path.join(s_cell, f)).st_ino
                   for f in os.listdir(s_cell) if f.endswith(".parquet")}
        d_files = {f: os.stat(os.path.join(d_cell, f)).st_ino
                   for f in os.listdir(d_cell) if f.endswith(".parquet")}
        assert s_files == d_files, f"cell {cell} not hard-linked"


@pytest.mark.slow
def test_cdc_ingest_checkpoint_restart_equals_batch(spark, tmp_path):
    """The streaming CDC tier must survive a stop/restart on one
    checkpoint: run 1 drains only chunk 0, run 2 (same checkpoint, same
    stores) drains the rest; the final demoted-instance set equals the
    batch tier's rn > 1 set exactly, and no link is emitted twice."""
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from streamprocessing_spark.operators import dedup as D
    from streamprocessing_spark.sources.readers import load_table
    from streamprocessing_spark.streaming.ingest_dedup import (
        CDC_ID_STRIDE,
        CdcIngestDedup,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    src, staged = _stage_doc_chunks(spark, docs, str(tmp_path))
    sink = CdcIngestDedup(base=str(tmp_path / "state"), threshold=0.0)
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(sink.foreach_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    shutil.copyfile(*staged[0])
    run_once()
    first = {r.id for r in sink.dup_instances(spark).collect()}
    shutil.copyfile(*staged[1])
    shutil.copyfile(*staged[2])
    run_once()
    links = [tuple(r) for r in sink._read(spark, sink.dups_dir).drop("batch").collect()]
    assert len(links) == len(set(links)), "a link was emitted twice across runs"
    final = {r.id for r in sink.dup_instances(spark).collect()}
    assert first <= final

    chunks = D.cdc_chunk_df(docs, "doc_id", "text").withColumn(
        "fp", F.md5(F.col("ctext").cast("binary"))
    )
    w_fp = Window.partitionBy("fp").orderBy("doc_id", "chunk_idx")
    batch_dups = {
        r.doc_id * CDC_ID_STRIDE + r.chunk_idx
        for r in chunks.withColumn("rn", F.row_number().over(w_fp))
        .where(F.col("rn") > 1)
        .collect()
    }
    assert batch_dups, "fixture yields no duplicate chunks"
    assert final == batch_dups


@pytest.mark.slow
def test_cdc_ingest_batch_retry_is_idempotent(spark, tmp_path):
    """Replaying a batch with the same batch_id must leave link and
    fp-min stores unchanged — and must NOT demote against its own first
    write (before_batch state visibility)."""
    from pyspark.sql import functions as F

    from streamprocessing_spark.sources.readers import load_table
    from streamprocessing_spark.streaming.ingest_dedup import CdcIngestDedup

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    sink = CdcIngestDedup(base=str(tmp_path / "state"), threshold=0.0)
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    sink.foreach_batch(b0, 0)
    sink.foreach_batch(b1, 1)
    first = sorted(r.id for r in sink.dup_instances(spark).collect())
    n_mins = spark.read.parquet(f"{sink.buckets_dir}/batch=*").count()
    sink.foreach_batch(b1, 1)
    sink.foreach_batch(b0, 0)
    assert sorted(r.id for r in sink.dup_instances(spark).collect()) == first
    assert spark.read.parquet(f"{sink.buckets_dir}/batch=*").count() == n_mins


def test_paragraph_keep_best_plan_discipline(spark):
    """The quality-priority paragraph emit inherits the broadcast-cliff
    discipline (round 9): corpus-sized relations (paragraphs, the doc
    token counts, per-doc counts/agg) never broadcast — only the
    pair-graph slivers may (the components relation and the loser-pid
    left-anti sliver); the reassembly join stays SortMergeJoin."""
    from streamprocessing_spark.queries import dedup as QD

    plan = (
        QD.dedup_paragraph_keep_best(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    for line in plan.splitlines():
        if "BroadcastHashJoin" in line:
            # permissible: the comp sliver built against the paragraph
            # stream (BuildLeft), or components-internal id↔id joins —
            # never a corpus-keyed (doc_id) broadcast
            assert ("BuildLeft" in line) or re.search(
                r"BroadcastHashJoin \[id#\d+L?\], \[id#\d+L?\]", line
            ), plan
            assert "doc_id" not in line, plan
    # the three corpus-sized joins stay SortMergeJoin: reassembly
    # (LeftOuter on doc_id), the loser anti-join (LeftAnti on pid), and
    # the sliver-onto-token-counts join (Inner on doc_id)
    assert re.search(r"SortMergeJoin \[doc_id#\d+L?\], \[doc_id#\d+L?\], LeftOuter", plan), plan
    assert re.search(r"SortMergeJoin \[pid#\d+L?\], \[pid#\d+L?\], LeftAnti", plan), plan
    assert re.search(r"SortMergeJoin \[doc_id#\d+L?\], \[doc_id#\d+L?\], Inner", plan), plan


def test_ivf_cell_balance_audit_laws(spark):
    """Conservation: Σ n_vecs == nassign·n (every vector assigns to
    exactly 3 cells on the clean fixture); every centroid cell emits a
    row; the overloaded flag replays n_vecs·K > 2·total; load_permille
    sums to ~1000 (integer floor loses at most K permille)."""
    import math

    from streamprocessing_spark.sources.readers import load_table

    rows = SPECS["ivf_cell_balance_audit"].fn(spark, SF).collect()
    n = load_table(spark, SF, "embeddings").count()
    k = math.ceil(math.sqrt(n))
    assert len(rows) == k
    total = sum(r.n_vecs for r in rows)
    assert total == 3 * n
    assert any(r.overloaded == 1 for r in rows) or all(
        r.n_vecs * k <= 2 * total for r in rows
    )
    for r in rows:
        assert r.overloaded == (1 if r.n_vecs * k > 2 * total else 0)
        assert r.load_permille == (r.n_vecs * 1000) // total
    assert total - k <= sum(r.load_permille * total // 1000 for r in rows) <= total


@pytest.mark.slow
def test_containment_ingest_checkpoint_restart_equals_batch(spark, tmp_path):
    """The streaming containment tier must survive a stop/restart on one
    checkpoint: run 1 drains only chunk 0, run 2 (same checkpoint, same
    stores) drains the rest; the final directional pair set equals the
    batch operator bit-for-bit and no pair is emitted twice."""
    import shutil

    from streamprocessing_spark.operators import dedup as D
    from streamprocessing_spark.sources.readers import load_table
    from streamprocessing_spark.streaming.ingest_dedup import ContainmentIngestDedup

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    src, staged = _stage_doc_chunks(spark, docs, str(tmp_path))
    sink = ContainmentIngestDedup(base=str(tmp_path / "state"), threshold=0.0)
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(sink.foreach_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    shutil.copyfile(*staged[0])
    run_once()
    first = [tuple(r) for r in sink.containment_pairs(spark).collect()]
    shutil.copyfile(*staged[1])
    shutil.copyfile(*staged[2])
    run_once()
    final = [tuple(r) for r in sink.containment_pairs(spark).collect()]
    assert len(final) == len(set(final)), "a pair was emitted twice across runs"
    assert set(first) <= set(final)

    batch_pairs = {
        tuple(r)
        for r in D.substring_containment_pairs(docs, "doc_id", "text").collect()
    }
    assert batch_pairs, "fixture yields no containment pairs"
    assert set(final) == batch_pairs
    # the direction a fingerprint store cannot see must be non-vacuous:
    # at least one pair where the INNER doc arrived in an earlier chunk
    # than its outer (stored ⊂ new; chunks drain in doc_id%3 order)
    assert any((i % 3) < (o % 3) for (i, o, _n, _s) in final)


@pytest.mark.slow
def test_containment_ingest_batch_retry_is_idempotent(spark, tmp_path):
    """Replaying a batch with the same batch_id must leave the pair,
    shingle, and size stores unchanged — and must NOT verify against its
    own first write (before_batch state visibility)."""
    from pyspark.sql import functions as F

    from streamprocessing_spark.sources.readers import load_table
    from streamprocessing_spark.streaming.ingest_dedup import ContainmentIngestDedup

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    sink = ContainmentIngestDedup(base=str(tmp_path / "state"), threshold=0.0)
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    sink.foreach_batch(b0, 0)
    sink.foreach_batch(b1, 1)
    first = sorted(map(tuple, sink.containment_pairs(spark).collect()))
    n_sh = spark.read.parquet(f"{sink.buckets_dir}/batch=*").count()
    sink.foreach_batch(b1, 1)
    sink.foreach_batch(b0, 0)
    assert sorted(map(tuple, sink.containment_pairs(spark).collect())) == first
    assert spark.read.parquet(f"{sink.buckets_dir}/batch=*").count() == n_sh


def test_ivf_retrain_recall_gain_laws(spark):
    """Set algebra against the registered fresh tier: gained ⊆
    ivf_cosine_pairs (the retrained law), lost ∩ fresh = ∅, the two
    statuses are disjoint, and the diff is non-vacuous at sf0.001
    (the half-corpus stale quantizer genuinely drifts)."""
    rows = SPECS["ivf_retrain_recall_gain"].fn(spark, SF).collect()
    fresh = {(r.id_a, r.id_b) for r in SPECS["ivf_cosine_pairs"].fn(spark, SF).collect()}
    gained = {(r.id_a, r.id_b) for r in rows if r.status == "gained"}
    lost = {(r.id_a, r.id_b) for r in rows if r.status == "lost"}
    assert rows  # non-vacuous
    assert gained <= fresh
    assert not (lost & fresh)
    assert not (gained & lost)


def test_crosslingual_keep_best_laws(spark):
    """Same cluster structure as the min-id tier (identical cluster_id /
    n_members per kept row's cluster), exactly one kept per cluster and
    it is the (max margin_sum, min id) member — replayed in python over
    the mined relation; non-vacuously different from min-id keep."""
    best = {r.doc_id: r for r in SPECS["dedup_crosslingual_keep_best"].fn(spark, SF).collect()}
    minid = {r.doc_id: r for r in SPECS["dedup_crosslingual_keep"].fn(spark, SF).collect()}
    mined = SPECS["bitext_mine_margin_ivf"].fn(spark, SF).collect()

    assert len(best) == len(minid)  # one kept per cluster either way
    assert set(best) != set(minid)  # non-vacuous: some hub beats its min

    margin = {}
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in mined:
        margin[r.src_doc_id] = margin.get(r.src_doc_id, 0) + r.margin_milli
        margin[r.tgt_doc_id] = margin.get(r.tgt_doc_id, 0) + r.margin_milli
        parent[find(r.src_doc_id)] = find(r.tgt_doc_id)
    clusters = {}
    for x in list(parent):
        clusters.setdefault(find(x), set()).add(x)

    for members in clusters.values():
        keep = min(members, key=lambda m: (-margin[m], m))
        assert keep in best
        assert best[keep].margin_sum == margin[keep]
        assert best[keep].n_members == len(members)
        assert not (members - {keep}) & set(best)


def test_decontaminate_substring_laws(spark):
    """Consistency with the containment relation and the split law:
    every evidence row is a containment pair whose outer is train and
    inner is valid/test under the md5-hash split; non-vacuous; and the
    relation is exactly the filtered view (no pair invented or lost)."""
    import hashlib

    rows = SPECS["decontaminate_substring"].fn(spark, SF).collect()
    pairs = {
        (r.id_inner, r.id_outer): (r.n_occurrences, r.n_shingles)
        for r in SPECS["dedup_substring_containment"].fn(spark, SF).collect()
    }

    def split(doc_id):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100
        return "train" if h < 80 else ("valid" if h < 90 else "test")

    assert rows  # non-vacuous
    got = set()
    for r in rows:
        assert split(r.train_id) == "train"
        assert split(r.eval_id) == r.eval_split and r.eval_split in ("valid", "test")
        assert pairs[(r.eval_id, r.train_id)] == (r.n_occurrences, r.n_shingles)
        got.add((r.eval_id, r.train_id))
    expected = {
        (i, o)
        for (i, o) in pairs
        if split(o) == "train" and split(i) != "train"
    }
    assert got == expected


def test_paragraph_ingest_rejects_string_sig_band_store(spark, tmp_path):
    """A band store written before sigs became xxhash64 bigints holds
    '-'-joined string sigs. Probing it would cast them to NULL and match
    nothing, so the next batch must fail before it writes anything."""
    import os

    from streamprocessing_spark.streaming.ingest_dedup import ParagraphIngestDedup

    sink = ParagraphIngestDedup(base=str(tmp_path / "state"), threshold=0.8, n_total_units=100)
    spark.createDataFrame(
        [(1, 0, "11-22-33-44")], "id bigint, band int, sig string"
    ).write.parquet(f"{sink.buckets_dir}/batch=0")
    batch = spark.createDataFrame([(2, "a b c d e f g h")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="string sigs"):
        sink.foreach_batch(batch, 1)
    assert sorted(os.listdir(sink.buckets_dir)) == ["batch=0"]
    assert not os.path.exists(sink.docs_dir) and not os.path.exists(sink.dups_dir)
