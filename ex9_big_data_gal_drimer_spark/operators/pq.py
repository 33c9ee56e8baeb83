"""Product Quantization ANN (Jégou et al. 2011, "Product
quantization for nearest neighbor search" — public literature): the
compression tier of X3, next to int8 scalar quantization
(similarity.quantize_int8) and the IVF/LSH bucketing tiers.

The vector splits into `m` subvectors; each subspace gets its own
k-codeword codebook, so a dim-64 float64 vector (512 B) stores as
m=16 single-byte codes (k=256 fits uint8) — 32× smaller, and the
asymmetric
distance computation (ADC) scans CODES, never raw vectors: per query
build one m×k lookup table of exact subspace distances, then every
corpus distance is m table lookups + adds.

Spark shapes:
- fit: codebooks train driver-side on a deterministic hash-ordered
  sample (the standard PQ practice — FAISS trains on ~100k sampled
  vectors regardless of corpus size; the model is m·k·(dim/m) floats,
  driver-sized by definition).
- encode: ONE Arrow-vectorized zero-shuffle pass (numpy argmin per
  subspace) producing the keys-sized code table — the artifact that
  persists and ships to every query node.
- ADC scan: mapInPandas over the code table with the query tables in
  the task closure; per-partition numpy top-candidates, then a global
  top-k + EXACT cosine re-rank of rerank_factor·k candidates against
  the raw vectors (the re-rank join touches only candidates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import state


def _unit_rows(X):
    """Row-normalize to unit L2 — on unit vectors, L2 ordering ≡
    cosine ordering (||a−b||² = 2−2·cos), so the ADC's L2 tables
    propose candidates for the COSINE objective correctly.  Zero rows
    pass through unscaled."""
    import numpy as np

    n = np.linalg.norm(X, axis=1)
    n[n == 0] = 1.0
    return X / n[:, None]


def pq_fit(
    emb: DataFrame,
    dim: int,
    m: int = 16,
    k: int = 256,
    n_iter: int = 10,
    sample_n: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "v",
    source: str | None = None,
) -> list:
    """Train per-subspace codebooks; returns a nested Python list
    [m][k][dim/m] (the model).  Sampling is deterministic (smallest
    xxhash64(id) — same seeded-draw contract as kmeans_fit's init),
    Lloyd runs in numpy on the driver: PQ codebooks are model-sized
    and the sample bounds driver memory regardless of corpus size.
    Pass `source` (the path `emb` was read from) to reuse an
    already-trained model within the session (train-once-serve-many:
    the fit is deterministic for a given corpus, so it is a model
    artifact, not a recomputation)."""
    if source is not None:
        return state.memo(
            emb.sparkSession, "pq_fit", source, m, k, n_iter, sample_n,
            build=lambda: pq_fit(
                emb, dim, m, k, n_iter, sample_n, id_col, vec_col
            ),
        )
    import numpy as np

    assert dim % m == 0, "dim must divide into m subspaces"
    d_sub = dim // m
    tbl = (
        emb.select(vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_n)
        .toArrow()
    )
    X = _unit_rows(
        np.stack([np.asarray(v) for v in tbl.column(vec_col).to_pylist()])
    )
    books = []
    for s in range(m):
        Xs = X[:, s * d_sub : (s + 1) * d_sub]
        xsq = (Xs**2).sum(axis=1)[:, None]
        C = Xs[:k].copy()  # hash-ordered sample → deterministic init
        for _ in range(n_iter):
            # ||x-c||² expanded to a matmul — O(n·k·d) BLAS instead of
            # an n×k×d broadcast tensor; centroid update via bincount
            # scatter (np.add.at is an unbuffered ufunc, ~20× slower).
            d2 = xsq - 2 * Xs @ C.T + (C**2).sum(axis=1)[None, :]
            a = d2.argmin(axis=1)
            counts = np.bincount(a, minlength=k).astype(float)
            sums = np.stack(
                [
                    np.bincount(a, weights=Xs[:, d], minlength=k)
                    for d in range(d_sub)
                ],
                axis=1,
            )
            nz = counts > 0
            C[nz] = sums[nz] / counts[nz][:, None]
        books.append(C.tolist())
    return books


def pq_encode(
    emb: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """(id, codes ARRAY<INT> of length m): nearest codeword per
    subspace, one zero-shuffle Arrow pass.  The output is the
    compressed index — m bytes of information per vector."""
    import numpy as np

    id_type = {f.name: f.dataType.simpleString() for f in emb.schema.fields}[
        id_col
    ]
    m = len(codebooks)
    d_sub = len(codebooks[0][0])

    def f(batches):
        import pandas as pd

        B = [np.asarray(b) for b in codebooks]
        for pdf in batches:
            if not len(pdf):
                continue
            X = _unit_rows(np.stack(pdf[vec_col].to_numpy()))
            codes = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                Xs = X[:, s * d_sub : (s + 1) * d_sub]
                d2 = (
                    (Xs**2).sum(1)[:, None]
                    - 2 * Xs @ B[s].T
                    + (B[s] ** 2).sum(1)[None, :]
                )
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    return emb.select(id_col, vec_col).mapInPandas(
        f, f"{id_col} {id_type}, codes ARRAY<INT>"
    )



def _query_adc_tables(
    queries, books, dim, query_id_col, query_vec_col, source=None
):
    """(q_ids, {qid: m×k ADC table}) — exact subspace L2 distances of
    each query to every codeword, built as ONE vectorized pass LINEAR
    in query count (the per-(query, subspace) comprehension this
    replaced recomputed the full nq×k matrix per query — O(nq²)).

    With a `source`, the tables are memoized per session: they are a
    deterministic function of the (memoized) model and the query set,
    so re-collecting them per plan construction is pure overhead.
    `source` must then identify the (model, QUERY SET) pair — callers
    here derive both deterministically from the embeddings input; pass
    None for any ad-hoc query set."""
    if source is not None:
        return state.memo(
            queries.sparkSession, "pq_adc_tables", source,
            dim, len(books), len(books[0]),
            build=lambda: _query_adc_tables(
                queries, books, dim, query_id_col, query_vec_col
            ),
        )
    import numpy as np

    m = len(books)
    d_sub = dim // m
    B = [np.asarray(b) for b in books]
    q_rows = queries.select(query_id_col, query_vec_col).collect()
    q_ids = [r[query_id_col] for r in q_rows]
    Q = _unit_rows(np.stack([np.asarray(r[query_vec_col]) for r in q_rows]))
    per_s = np.stack(
        [
            ((Q[:, s * d_sub : (s + 1) * d_sub][:, None, :] - B[s][None]) ** 2)
            .sum(axis=2)
            for s in range(m)
        ]
    )  # m × nq × k
    return q_ids, {qid: per_s[:, qi, :] for qi, qid in enumerate(q_ids)}


def _cut_and_rerank(
    scored,
    corpus,
    queries,
    n_cand,
    k,
    id_col,
    vec_col,
    query_id_col,
    query_vec_col,
    sim_scale,
):
    """Shared serving tail of every PQ path: global ADC candidate cut
    (asc distance, ties → id), self-exclusion, exact cosine re-rank
    over the raw vectors of candidates only, final top-k window."""
    from pyspark.sql.window import Window

    from ..functions import cosine_similarity

    w_adc = Window.partitionBy(query_id_col).orderBy("__adc", id_col)
    cands = (
        scored.withColumn("__r", F.row_number().over(w_adc))
        .filter(
            (F.col("__r") <= n_cand) & (F.col(id_col) != F.col(query_id_col))
        )
        .select(query_id_col, id_col)
    )
    rerank = (
        cands.join(corpus.select(id_col, vec_col), id_col)
        .join(
            F.broadcast(queries.select(query_id_col, query_vec_col)),
            query_id_col,
        )
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            F.round(
                cosine_similarity(F.col(query_vec_col), F.col(vec_col)),
                sim_scale,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), "neighbor_id")
    return (
        rerank.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 16,
    k: int = 5,
    n_codes: int = 256,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "v",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    sim_scale: int = 4,
    codebooks: list | None = None,
    source: str | None = None,
) -> DataFrame:
    """Approximate cosine top-k via PQ + ADC + exact re-rank.

    The query set collects to the driver (queries are few by contract
    — the same documented collect as vectorized_topk); per query an
    m×n_codes table of exact subspace L2 distances to every codeword
    is shipped in the closure, so the corpus-side scan reads ONLY the
    code table and does m lookups/adds per (query, vector).  The
    ADC's L2 ranking proposes rerank_factor·k candidates; the final
    order is an exact cosine re-rank over the raw vectors of just
    those candidates (candidates-only join — the standard
    compressed-index serving shape)."""
    import numpy as np

    books = (
        codebooks
        if codebooks is not None
        else pq_fit(
            corpus, dim, m=m, k=n_codes, id_col=id_col, vec_col=vec_col,
            source=source,
        )
    )
    q_ids, tables = _query_adc_tables(
        queries, books, dim, query_id_col, query_vec_col, source=source
    )
    n_cand = rerank_factor * k

    codes_df = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col)

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["codes"].to_numpy())  # rows×m
            ids = pdf[id_col].to_numpy()
            out_q, out_id, out_d = [], [], []
            for qid in q_ids:
                # ADC: sum subspace table entries addressed by codes
                d = tables[qid][np.arange(m)[:, None], C.T].sum(axis=0)
                top = np.argsort(d, kind="stable")[:n_cand]
                out_q.extend([qid] * len(top))
                out_id.extend(ids[top])
                out_d.extend(d[top])
            yield pd.DataFrame(
                {query_id_col: out_q, id_col: out_id, "__adc": out_d}
            )

    id_type = {f.name: f.dataType.simpleString() for f in corpus.schema.fields}[
        id_col
    ]
    scored = codes_df.mapInPandas(
        scan, f"{query_id_col} BIGINT, {id_col} {id_type}, __adc DOUBLE"
    )
    return _cut_and_rerank(
        scored, corpus, queries, n_cand, k, id_col, vec_col,
        query_id_col, query_vec_col, sim_scale,
    )


def _assign_and_encode(
    emb: DataFrame,
    cent_rows: list,
    codebooks: list,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, centroid_id, codes) in ONE zero-shuffle Arrow pass — the
    fusion of ``clustering.assign_ids`` and :func:`pq_encode` for the
    IVF+PQ composition (round-13, guide §2.4/§4.1): the unfused form
    ran TWO full-corpus Python passes and re-joined their outputs on
    id (an extra exchange pair), when both are per-row functions of
    the same vector.  Assignment math is byte-identical to
    assign_ids (argmax of X @ normalized-centroidsᵀ on the RAW rows);
    code math is byte-identical to pq_encode (per-subspace L2 argmin
    on UNIT rows)."""
    import numpy as np

    from .clustering import _normed_matrix

    ids, cn = _normed_matrix(cent_rows)
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    id_type = {f.name: f.dataType.simpleString() for f in emb.schema.fields}[
        id_col
    ]

    def f(batches):
        import pandas as pd

        C = np.asarray(cn)
        cid_arr = np.asarray(ids)
        B = [np.asarray(b) for b in codebooks]
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy())
            sims = X @ C.T
            U = _unit_rows(X)
            codes = np.empty((len(U), m), dtype=np.int32)
            for s in range(m):
                Us = U[:, s * d_sub : (s + 1) * d_sub]
                d2 = (
                    (Us**2).sum(1)[:, None]
                    - 2 * Us @ B[s].T
                    + (B[s] ** 2).sum(1)[None, :]
                )
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "centroid_id": cid_arr[sims.argmax(axis=1)],
                    "codes": list(codes),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        f, f"{id_col} {id_type}, centroid_id INT, codes ARRAY<INT>"
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 16,
    k: int = 5,
    n_codes: int = 256,
    num_centroids: int = 8,
    nprobe: int = 4,
    rerank_factor: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "v",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    sim_scale: int = 4,
    centroids: list | None = None,
    codebooks: list | None = None,
    source: str | None = None,
) -> DataFrame:
    """IVF + PQ + ADC + exact re-rank — the composition FAISS ships
    as IndexIVFPQ, and the standard billion-scale serving shape: the
    coarse quantizer (IVF lists) bounds WHICH vectors are scanned
    (~nprobe/num_centroids of the corpus), PQ bounds WHAT is read per
    scanned vector (m bytes of codes), and the exact re-rank restores
    ranking on just rerank_factor·k candidates.

    Every stage is an existing audited operator: list assignment and
    PQ codes come from ONE fused zero-shuffle Arrow pass
    (:func:`_assign_and_encode` — byte-identical math to
    `clustering.assign_ids` + :func:`pq_encode`), candidate routing
    is ONE broadcast equi-join on centroid_id, and the ADC lookup
    runs map-side with the per-query tables in the closure."""
    import numpy as np

    from .clustering import assign_ids
    from .similarity import _random_centroid_rows

    cent_rows = (
        centroids
        if centroids is not None
        else _random_centroid_rows(dim, num_centroids, seed)
    )
    books = (
        codebooks
        if codebooks is not None
        else pq_fit(
            corpus, dim, m=m, k=n_codes, id_col=id_col, vec_col=vec_col,
            source=source,
        )
    )
    _, tables = _query_adc_tables(
        queries, books, dim, query_id_col, query_vec_col, source=source
    )
    n_cand = rerank_factor * k

    query_probes = assign_ids(
        queries.select(
            F.col(query_id_col).alias("__qid"),
            F.col(query_vec_col).alias("__qv"),
        ),
        cent_rows,
        "__qid",
        "__qv",
        nprobe,
    )
    # Route: only vectors in a query's probed lists reach the ADC.
    # List assignment and PQ codes come from ONE fused corpus pass
    # (round-13: the unfused assign_ids ⋈ pq_encode re-join on id was
    # a second full-corpus Python pass plus an exchange pair), and the
    # broadcast probe join is map-side, so routing stays zero-shuffle.
    routed = (
        _assign_and_encode(corpus, cent_rows, books, id_col, vec_col)
        .join(F.broadcast(query_probes), "centroid_id")
        .select(F.col("__qid").alias(query_id_col), id_col, "codes")
    )

    def adc(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["codes"].to_numpy())
            qv = pdf[query_id_col].to_numpy()
            d = np.empty(len(pdf))
            for qid in np.unique(qv):
                mask = qv == qid
                t = tables[qid]
                d[mask] = t[np.arange(m)[:, None], C[mask].T].sum(axis=0)
            out = pdf[[query_id_col, id_col]].copy()
            out["__adc"] = d
            yield out

    id_type = {f.name: f.dataType.simpleString() for f in corpus.schema.fields}[
        id_col
    ]
    scored = routed.mapInPandas(
        adc, f"{query_id_col} BIGINT, {id_col} {id_type}, __adc DOUBLE"
    )
    return _cut_and_rerank(
        scored, corpus, queries, n_cand, k, id_col, vec_col,
        query_id_col, query_vec_col, sim_scale,
    )
