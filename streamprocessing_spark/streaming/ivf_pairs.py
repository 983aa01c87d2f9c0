"""Streaming twin of the cell-local IVF pair tier (round 9, VERDICT r08
next #7): embeddings arrive as a stream, are assigned to IVF cells
against an OFFLINE-TRAINED quantizer (the production cadence — the
coarse quantizer is a broadcast-sized artifact trained before serving;
here the same deterministic K = ceil(sqrt(n)) smallest-id centroids the
batch tier derives, so end-of-stream output is oracle-identical to
``operators.similarity.ivf_cosine_pairs``), and mined incrementally by
``applyInPandasWithState`` keyed on cent_id: each cell's state is the
vectors seen so far, and a micro-batch emits exactly the NEW pairs
(new×state cross + new×new triangle) that pass the exact cosine verify.

Every per-pair fold — assignment cosines, cross scores, triangle scores
— accumulates dimension-by-dimension from 0.0 in dim order, the same
IEEE sequence as ``with_cosine_fast`` / ``cell_verify_kernel``, so the
union of per-batch emissions is bit-identical to the batch tier's pair
set (a pair co-assigned to several cells emits identical bits from
each; the consumer's final distinct collapses them — same law as the
batch tier).

At 100 TB: state is cell-partitioned exactly like the batch layout
(each cell's vectors live in one state-store partition — RocksDB state
backend in production); a micro-batch's work is O(batch × cell
occupancy), never corpus²; nothing pair-sized crosses a shuffle — pairs
are generated and thresholded inside the state kernel.

Reference parity: the reference's streams are bounded DFS replays
(rainstorm/server.go:411-448); this module gives its stateful-operator
form for the embedding near-dup pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamprocessing_spark.shipping import guard_zip_caches
from streamprocessing_spark.streaming.replay import stream_table

IVF_STREAM_NASSIGN = 3


def _assign_kernel(cents: list[tuple[int, list[float]]], nassign: int):
    """mapInPandas kernel: per vector, cosines against every centroid
    (dim-order fold per length group — NaN for cross-length/zero-norm,
    the NULL law), ranked (cos desc, cent_id asc) like the batch tier's
    row_number window (desc is NULLS LAST: NaN ranks worst), top
    ``nassign`` cells emitted."""

    def fn(batches):
        guard_zip_caches()
        import numpy as np
        import pandas as pd

        cent_ids = np.array([c[0] for c in cents], dtype=np.int64)
        cent_vecs = [np.asarray(c[1], dtype=np.float64) for c in cents]
        cent_lens = np.array([len(v) for v in cent_vecs], dtype=np.int64)
        kc = len(cents)
        for pdf in batches:
            if not len(pdf) or kc == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            vecs = pdf["embedding"].to_numpy()
            n = len(pdf)
            lens = np.fromiter((len(v) for v in vecs), dtype=np.int64, count=n)
            cos = np.full((n, kc), np.nan)
            for ln in np.unique(lens):
                if ln == 0:
                    continue
                rsel = lens == ln
                csel = cent_lens == ln
                if not csel.any():
                    continue
                X = np.stack(vecs[rsel]).astype(np.float64)
                C = np.stack([v for v, m in zip(cent_vecs, csel) if m])
                d = int(ln)
                nx = np.zeros(len(X))
                ncv = np.zeros(len(C))
                dot = np.zeros((len(X), len(C)))
                for i in range(d):
                    nx = nx + X[:, i] * X[:, i]
                    ncv = ncv + C[:, i] * C[:, i]
                    dot = dot + X[:, i : i + 1] * C[:, i][None, :]
                with np.errstate(invalid="ignore", divide="ignore"):
                    den = np.sqrt(nx)[:, None] * np.sqrt(ncv)[None, :]
                    c = dot / den
                    c[den == 0.0] = np.nan
                block = np.full((int(rsel.sum()), kc), np.nan)
                block[:, csel] = c
                cos[rsel] = block
            # rank per row: cos desc (NaN last, like desc NULLS LAST),
            # ties and NaNs broken by cent_id asc — the window's order.
            # cent_ids are ascending (trained_centroids sorts), so a
            # STABLE argsort on -key breaks ties by cent_id asc exactly
            # like the batch row_number window.
            rank_key = np.where(np.isnan(cos), -np.inf, cos)
            take = min(nassign, kc)
            order = np.argsort(-rank_key, axis=1, kind="stable")[:, :take]
            out_v = [np.asarray(v, dtype=np.float64).tolist() for v in vecs]
            yield pd.DataFrame(
                {
                    "cent_id": cent_ids[order].ravel(),
                    "id": np.repeat(ids, take),
                    "v": [out_v[r] for r in np.repeat(np.arange(n), take)],
                }
            )

    return fn


def _cell_state_kernel(threshold: float):
    """applyInPandasWithState kernel: per cell, state = vectors seen so
    far; emit NEW qualifying pairs (new×state cross + new×new triangle)
    with the cell_verify dim-order fold. Blockwise grids keep kernel
    memory bounded under hot cells (the round-9 discipline)."""
    thr = float(threshold)

    def fn(key, pdfs, state):
        guard_zip_caches()
        import numpy as np
        import pandas as pd

        if state.exists:
            old_ids_t, old_vecs_t = state.get
            old_ids = list(old_ids_t)
            old_vecs = [list(v) for v in old_vecs_t]
        else:
            old_ids, old_vecs = [], []
        new_ids: list[int] = []
        new_vecs: list[list[float]] = []
        for pdf in pdfs:
            new_ids.extend(int(x) for x in pdf["id"].tolist())
            new_vecs.extend(
                np.asarray(v, dtype=np.float64).tolist() for v in pdf["v"]
            )
        out_a: list = []
        out_b: list = []
        out_c: list = []

        def _score_cross(xi, xv, yi, yv):
            # all (x, y) pairs, dim-order fold, blockwise on the x side
            lx = np.fromiter((len(v) for v in xv), dtype=np.int64, count=len(xv))
            ly = np.fromiter((len(v) for v in yv), dtype=np.int64, count=len(yv))
            for ln in np.unique(lx):
                if ln == 0:
                    continue
                sx = lx == ln
                sy = ly == ln
                if not sy.any():
                    continue
                X = np.stack([v for v, m in zip(xv, sx) if m]).astype(np.float64)
                Y = np.stack([v for v, m in zip(yv, sy) if m]).astype(np.float64)
                xid = np.asarray(xi, dtype=np.int64)[sx]
                yid = np.asarray(yi, dtype=np.int64)[sy]
                d = int(ln)
                nx = np.zeros(len(X))
                ny = np.zeros(len(Y))
                for i in range(d):
                    nx = nx + X[:, i] * X[:, i]
                    ny = ny + Y[:, i] * Y[:, i]
                rx, ry = np.sqrt(nx), np.sqrt(ny)
                blk = max(1, 2_000_000 // max(1, len(Y)))
                for s in range(0, len(X), blk):
                    Xb = X[s : s + blk]
                    dot = np.zeros((len(Xb), len(Y)))
                    for i in range(d):
                        dot = dot + Xb[:, i : i + 1] * Y[:, i][None, :]
                    with np.errstate(invalid="ignore", divide="ignore"):
                        den = rx[s : s + blk][:, None] * ry[None, :]
                        c = dot / den
                        c[den == 0.0] = np.nan
                    keep = c >= thr  # NaN fails, like NULL
                    if keep.any():
                        ii, jj = np.nonzero(keep)
                        ka = xid[s + ii]
                        kb = yid[jj]
                        out_a.append(np.minimum(ka, kb))
                        out_b.append(np.maximum(ka, kb))
                        out_c.append(c[ii, jj])

        def _score_triangle(ids_l, vecs_l):
            lens = np.fromiter(
                (len(v) for v in vecs_l), dtype=np.int64, count=len(vecs_l)
            )
            for ln in np.unique(lens):
                if ln == 0:
                    continue
                sel = lens == ln
                if int(sel.sum()) < 2:
                    continue
                ids = np.asarray(ids_l, dtype=np.int64)[sel]
                mat = np.stack([v for v, m in zip(vecs_l, sel) if m]).astype(
                    np.float64
                )
                m = len(ids)
                d = int(ln)
                nrm = np.zeros(m)
                for i in range(d):
                    nrm = nrm + mat[:, i] * mat[:, i]
                rt = np.sqrt(nrm)
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
                    tri = (
                        np.arange(m - s - 1)[None, :] >= np.arange(e - s)[:, None]
                    )
                    keep = tri & (c >= thr)
                    if keep.any():
                        bi, cj = np.nonzero(keep)
                        ka = ids[s + bi]
                        kb = ids[s + 1 + cj]
                        out_a.append(np.minimum(ka, kb))
                        out_b.append(np.maximum(ka, kb))
                        out_c.append(c[bi, cj])

        if new_ids:
            if old_ids:
                _score_cross(new_ids, new_vecs, old_ids, old_vecs)
            _score_triangle(new_ids, new_vecs)
            state.update((old_ids + new_ids, old_vecs + new_vecs))
        if out_a:
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "cos": np.concatenate(out_c),
                }
            )

    return fn


def trained_centroids(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """The batch tier's deterministic quantizer as a driver-side
    artifact: K = ceil(sqrt(n)) smallest-id vectors. Dimension-sized
    collect (K·d values — the broadcast-sized quantizer every IVF
    serving fleet ships); NOT a corpus collect."""
    import math

    from streamprocessing_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    if n == 0:
        return []
    k = math.ceil(math.sqrt(n))
    rows = (
        emb.where(F.col("vec_id") < k)
        .select("vec_id", "embedding")
        .collect()
    )
    return [(int(r.vec_id), [float(x) for x in r.embedding]) for r in sorted(rows)]


def ivf_pairs_stream(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    nassign: int = IVF_STREAM_NASSIGN,
    source: DataFrame | None = None,
) -> DataFrame:
    """Streaming (id_a, id_b, cos) near-dup pairs: file-stream of the
    embeddings table (or a caller-supplied streaming ``source``) →
    stateless cell assignment against the offline quantizer →
    cell-keyed applyInPandasWithState emitting each new qualifying pair
    exactly once per co-assigned cell. Consumers apply the batch tier's
    rounding + distinct at end-of-stream."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    cents = trained_centroids(spark, sf_dir)
    if source is None:
        source = stream_table(spark, sf_dir, "embeddings")
    assigned = source.select("vec_id", "embedding").mapInPandas(
        _assign_kernel(cents, nassign), "cent_id long, id long, v array<double>"
    )
    return assigned.groupBy("cent_id").applyInPandasWithState(
        _cell_state_kernel(threshold),
        outputStructType="id_a long, id_b long, cos double",
        stateStructType="ids array<long>, vecs array<array<double>>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
