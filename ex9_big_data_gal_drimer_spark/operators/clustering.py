"""Distributed k-means + SemDeDup-style semantic dedup (SURVEY.md
§2.11 X3 extension).

SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public literature)
deduplicates a corpus by clustering embeddings and dropping
near-identical pairs *within* clusters, so the quadratic pair work is
bounded by cluster size instead of corpus size.  The same trained
centroids also upgrade the IVF ANN index (operators/similarity.py):
`kmeans_fit` returns the exact (centroid_id, cvec) schema
`ivf_cosine_topk` consumes, making it the "swap in trained centroids"
path its docstring promises.

Execution model: Lloyd iterations as DataFrame jobs.  Assignment is a
ZERO-SHUFFLE Arrow-vectorized pass (mapInPandas batch matmul +
argmax): the model is k×dim doubles (driver-sized by definition — it
round-trips through the driver every Lloyd iteration anyway) and
ships in the task closure.  No crossJoin row blow-up, no groupBy(id)
re-shuffle of the corpus — two earlier shapes were measured and
rejected (crossJoin+groupBy argmax shuffles k×n rows; unrolled
literal expressions interpret ~k·dim multiply-adds per row because
higher-order functions are CodegenFallback, see assign_ids).  The
centroid update emits k partial [sum ++ count] rows per partition
(map-side combine), so per-round shuffle volume is
k·(dim+1)·numPartitions cells, never vectors-to-one-node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import state


def _centroid_rows(centroids: DataFrame) -> list[tuple[int, list[float]]]:
    """Collect a (centroid_id, cvec) table to driver model state —
    k rows by contract, the same size the Lloyd loop already holds.

    The rows ride on the DataFrame object once known (kmeans_fit
    attaches the state it already holds; a first collect attaches
    them here): `createDataFrame` parallelizes even an 8-row local
    list into defaultParallelism partitions, so collecting the model
    table was a 32-task Python-worker job (~0.45 s) on EVERY plan
    construction — pure overhead for state the driver owns anyway
    (round-13, guide §1.2/§5: the driver should do no data work, and
    the model is driver-sized by contract)."""
    got = getattr(centroids, "_ex9_centroid_rows", None)
    if got is not None:
        return got
    rows = sorted(
        (r["centroid_id"], list(r["cvec"])) for r in centroids.collect()
    )
    try:
        centroids._ex9_centroid_rows = rows
    except Exception:
        pass
    return rows


def _normed_matrix(rows: list[tuple[int, list[float]]]):
    """(ids, row-normalized centroid matrix) as plain Python — argmax
    of dot(v, c/|c|) equals the cosine argmax (|v| is a positive
    per-row constant), so the corpus-side norm is never computed."""
    import math

    ids = [int(cid) for cid, _ in rows]
    cn = [
        [float(x) / (math.sqrt(sum(y * y for y in vec)) or 1.0) for x in vec]
        for _, vec in rows
    ]
    return ids, cn


def assign_ids(
    df: DataFrame,
    rows: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    n_best: int = 1,
    keep_vec: bool = False,
) -> DataFrame:
    """(id, centroid_id) nearest-centroid assignment as ONE
    Arrow-vectorized zero-shuffle pass — a numpy batch matmul +
    argmax per partition, the model (k×dim doubles) shipped in the
    task closure.  `n_best > 1` emits the top-n probes per row
    (desc cosine, ties → smallest centroid id; `rows` is id-sorted
    and both np.argmax and the stable argsort take the first
    maximum).  `keep_vec=True` passes the vector column through the
    same pass (round-13: lets the IVF candidate route skip the
    re-join of candidate ids back to the corpus for their vectors —
    an exchange pair — by carrying the vector through the map-side
    broadcast probe join).

    This replaced two earlier shapes that are strictly worse at this
    op's scale points: crossJoin+groupBy argmax (shuffles k×n rows)
    and an unrolled per-centroid literal expression (higher-order
    functions are CodegenFallback, so ~k·dim multiply-adds interpret
    per row, and building k×dim F.lit nodes costs seconds of py4j
    round-trips at plan time).
    """
    ids, cn = _normed_matrix(rows)
    id_type = {
        f.name: f.dataType.simpleString() for f in df.schema.fields
    }[id_col]

    def f(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cn)
        id_arr = np.asarray(ids)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy())
            sims = X @ C.T
            if n_best == 1:
                out = {id_col: pdf[id_col].to_numpy(),
                       "centroid_id": id_arr[sims.argmax(axis=1)]}
                if keep_vec:
                    out[vec_col] = pdf[vec_col].to_numpy()
                yield pd.DataFrame(out)
            else:
                # stable argsort of -sims: equal sims keep id order
                top = np.argsort(-sims, axis=1, kind="stable")[:, :n_best]
                out = {id_col: np.repeat(pdf[id_col].to_numpy(), n_best),
                       "centroid_id": id_arr[top].ravel()}
                if keep_vec:
                    out[vec_col] = np.repeat(pdf[vec_col].to_numpy(), n_best)
                yield pd.DataFrame(out)

    schema = f"{id_col} {id_type}, centroid_id INT"
    if keep_vec:
        vec_type = {
            f.name: f.dataType.simpleString() for f in df.schema.fields
        }[vec_col]
        schema += f", {vec_col} {vec_type}"
    return df.select(id_col, vec_col).mapInPandas(f, schema)


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Lloyd's k-means with cosine assignment; returns the trained
    centroid table as (centroid_id INT, cvec ARRAY<DOUBLE>).

    Init is deterministic and data-driven without an RNG: the k
    corpus vectors with the smallest xxhash64(id) — a seeded uniform
    draw in expectation, reproducible across runs and partitionings
    (TakeOrderedAndProject, no full sort).
    """
    spark = emb.sparkSession
    # The fit makes n_iter+1 passes over the corpus (init draw + one
    # per Lloyd round); persist it for the loop so the parquet scan +
    # cast runs once.  MEMORY_AND_DISK: at cluster scale an
    # un-cacheable corpus just spills, correctness unchanged.
    emb = emb.persist()
    try:
        init = (
            emb.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
            .limit(k)
            .collect()
        )
        # Centroid model stays in Python between iterations (it was
        # collected anyway) — one Spark action per Lloyd round, not two.
        model = {i: list(r[vec_col]) for i, r in enumerate(init)}

        # Each Lloyd round is ONE Arrow-vectorized pass (mapInPandas):
        # every batch computes its assignment argmax as a numpy matmul
        # and emits k partial rows [sum_vec ++ count] — the map-side
        # combine.  The reduce side then sums k×(dim+1) primitive
        # cells, so shuffle volume per round is k·(dim+1)·numPartitions
        # cells regardless of corpus size, and the 512-odd
        # multiply-adds per row run as BLAS instead of interpreted
        # higher-order-function expressions (~30× per-row speedup
        # measured at sf0.1).
        dim = len(model[0])

        def partials_fn(cent_normed):
            def f(batches):
                import numpy as np
                import pandas as pd

                C = np.asarray(cent_normed)  # k×dim, rows pre-normalized
                for pdf in batches:
                    if not len(pdf):
                        continue
                    X = np.stack(pdf[vec_col].to_numpy())
                    # argmax of dot(v, c/|c|) == cosine argmax (|v| is a
                    # positive row constant); np.argmax takes the FIRST
                    # max — ties break to the smallest centroid id.
                    a = (X @ C.T).argmax(axis=1)
                    acc = np.zeros((k, dim + 1))
                    np.add.at(acc, a, np.hstack([X, np.ones((len(X), 1))]))
                    yield pd.DataFrame(
                        {"centroid_id": np.arange(k), "s": list(acc)}
                    )

            return f

        for _ in range(n_iter):
            _, cn = _normed_matrix(sorted(model.items()))
            cells = (
                emb.select(vec_col)
                .mapInPandas(partials_fn(cn), "centroid_id INT, s ARRAY<DOUBLE>")
                .select("centroid_id", F.posexplode("s").alias("pos", "x"))
                .groupBy("centroid_id", "pos")
                .agg(F.sum("x").alias("sx"))
                .collect()
            )
            sums: dict[int, list[float]] = {}
            for r in cells:
                sums.setdefault(r["centroid_id"], [0.0] * (dim + 1))[r["pos"]] = r["sx"]
            # Empty clusters keep their previous centroid (standard
            # Lloyd fallback) so the table stays k rows.
            for cid, vec in sums.items():
                n = vec[dim]
                if n > 0:
                    model[cid] = [x / n for x in vec[:dim]]
    finally:
        emb.unpersist()
    from ..catalog import local_df

    out = local_df(
        spark, sorted(model.items()), "centroid_id INT, cvec ARRAY<DOUBLE>"
    )
    # The trainer holds the model driver-side already; pin it on the
    # DataFrame so _centroid_rows never pays a collect job for it.
    out._ex9_centroid_rows = sorted(
        (int(cid), [float(x) for x in vec]) for cid, vec in model.items()
    )
    return out


def kmeans_fit_or_load(
    emb: DataFrame,
    store_path: str,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Load the trained centroid table from `store_path` if present,
    else fit and persist it there — the train-once-serve-many contract
    a production ANN index runs under (the model analogue of the
    sketch store: persisted state consulted by later sessions instead
    of recomputed).  The store is a tiny parquet (k rows), written
    once (``state.write_once``).  The loaded table is memoized per
    session (``state.memo``, keyed on the store's files): a serving
    query re-reading the k-row model parquet (plus its collect) on
    every plan construction is per-run overhead for immutable state.
    """
    spark = emb.sparkSession
    state.write_once(
        lambda: kmeans_fit(
            emb, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
        ).write.mode("overwrite").parquet(store_path),
        store_path,
    )
    return state.memo(
        spark, "kmeans_model", store_path,
        build=lambda: spark.read.parquet(store_path),
    )


def assign_clusters(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Nearest-centroid (max cosine) assignment as a ZERO-SHUFFLE
    Arrow-vectorized pass: the k-row centroid table is collected to
    driver model state (it is the model — k×dim doubles) and shipped
    in the task closure, so assignment is one mapInPandas batch
    matmul + argmax per partition — no crossJoin blow-up, no
    groupBy(id) re-shuffle of the corpus, BLAS instead of interpreted
    per-element expressions.  Ties break to the smallest centroid id
    (np.argmax returns the first maximum over the id-sorted matrix,
    matching assign_ids).  Carries the vector through for downstream
    pair work."""
    rows = _centroid_rows(centroids)
    ids, cn = _normed_matrix(rows)
    id_type = {
        f.name: f.dataType.simpleString() for f in emb.schema.fields
    }[id_col]

    def f(batches):
        import numpy as np

        C = np.asarray(cn)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy())
            a = (X @ C.T).argmax(axis=1)
            out = pdf[[id_col, vec_col]].copy()
            out.insert(1, "centroid_id", np.asarray(ids)[a])
            yield out

    return emb.select(id_col, vec_col).mapInPandas(
        f, f"{id_col} {id_type}, centroid_id INT, {vec_col} ARRAY<DOUBLE>"
    )


def semdedup_pairs(
    assigned: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "v",
    sim_scale: int = 4,
) -> DataFrame:
    """Within-cluster cosine pairs at or above `threshold` —
    (cluster_id, id_a, id_b, cosine_sim) over `assign_clusters`
    output.  A dedup pass drops id_b.

    The cluster id is the blocking key: pair cost is quadratic only
    within a cluster (the SemDeDup contract — k bounds the block
    size).  ONE hash shuffle co-locates each cluster, then
    applyInPandas computes the whole within-cluster similarity block
    as a numpy normalized matmul (row-blocked so peak memory is
    block×cluster, not cluster²) — the same vectorization argument as
    assign_ids: a JVM self-join pays an interpreted ~dim-element fold
    per PAIR, which is exactly the quadratic term.  The upper
    triangle (id_a < id_b, ids sorted within cluster) is emitted at
    or above the threshold.
    """
    id_type = {
        f.name: f.dataType.simpleString() for f in assigned.schema.fields
    }[id_col]

    def block(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(id_col)
        X = np.stack(pdf[vec_col].to_numpy())
        ids = pdf[id_col].to_numpy()
        cid = int(pdf["centroid_id"].iloc[0])
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        Xn = X / norms[:, None]
        out = []
        step = 1024
        for lo in range(0, len(Xn), step):
            hi = min(lo + step, len(Xn))
            sims = np.round(Xn[lo:hi] @ Xn.T, sim_scale)
            for i in range(lo, hi):
                cols = np.nonzero(sims[i - lo, i + 1:] >= threshold)[0] + i + 1
                for j in cols:
                    out.append((cid, ids[i], ids[j], sims[i - lo, j]))
        if not out:
            return pd.DataFrame(
                {
                    "cluster_id": pd.Series([], dtype="int32"),
                    "id_a": pd.Series([], dtype=ids.dtype),
                    "id_b": pd.Series([], dtype=ids.dtype),
                    "cosine_sim": pd.Series([], dtype="float64"),
                }
            )
        return pd.DataFrame(
            out, columns=["cluster_id", "id_a", "id_b", "cosine_sim"]
        )

    return assigned.groupBy("centroid_id").applyInPandas(
        block,
        f"cluster_id INT, id_a {id_type}, id_b {id_type}, cosine_sim DOUBLE",
    )
