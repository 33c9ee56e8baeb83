"""k-means + SemDeDup operator tests (operators/clustering.py).

Synthetic well-separated clusters pin correctness (assignment
recovery, planted near-dup detection, no cross-cluster pairs);
the registered query is pinned for schema, accounting, and
determinism across rebuilds.
"""

from __future__ import annotations

import pytest

from ex9_big_data_gal_drimer_spark.operators.clustering import (
    assign_clusters,
    kmeans_fit,
    semdedup_pairs,
)
from ex9_big_data_gal_drimer_spark.plans import QUERIES

from conftest import SF_DIR


def _synthetic(spark):
    """Three well-separated direction clusters in 4-d, 5 vectors each;
    ids 0-4 cluster A, 10-14 cluster B, 20-24 cluster C.  Vectors 20
    and 21 are near-identical (the planted semantic dup)."""
    rows = []
    for i in range(5):
        eps = 0.1 * i
        rows.append((i, [1.0, eps, 0.0, 0.0]))
        rows.append((10 + i, [0.0, 1.0, eps, 0.0]))
    rows.append((20, [0.0, 0.0, 1.0, 0.5]))
    rows.append((21, [0.0, 0.0, 1.0, 0.501]))
    for i in range(2, 5):
        rows.append((20 + i, [0.0, 0.05 * i, 1.0, 0.3]))
    return spark.createDataFrame(rows, "vec_id LONG, v ARRAY<DOUBLE>")


def test_kmeans_recovers_planted_clusters(spark):
    emb = _synthetic(spark)
    cents = kmeans_fit(emb, k=3, n_iter=4)
    assert cents.count() == 3
    assigned = {r["vec_id"]: r["centroid_id"] for r in assign_clusters(emb, cents).collect()}
    groups = [
        {assigned[i] for i in range(5)},
        {assigned[10 + i] for i in range(5)},
        {assigned[20 + i] for i in range(5)},
    ]
    # each planted cluster maps to exactly one centroid, all distinct
    assert all(len(g) == 1 for g in groups)
    assert len(groups[0] | groups[1] | groups[2]) == 3


def test_semdedup_finds_planted_pair_within_cluster_only(spark):
    emb = _synthetic(spark)
    cents = kmeans_fit(emb, k=3, n_iter=4)
    assigned = assign_clusters(emb, cents)
    pairs = semdedup_pairs(assigned, threshold=0.9999).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(20, 21)]
    # relaxed threshold still never pairs across planted clusters
    loose = semdedup_pairs(assigned, threshold=0.5).collect()
    assert all(p["id_a"] // 10 == p["id_b"] // 10 for p in loose)


def test_kmeans_fit_releases_its_training_cache(spark):
    """kmeans_fit persists its corpus for the Lloyd loop only: the
    session's persistent-RDD count after the fit equals the count
    before it — also when a Lloyd round raises (ragged vectors)."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    kmeans_fit(_synthetic(spark), k=3, n_iter=2).collect()
    assert persistent().size() == before
    ragged = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0, 0.0])], "vec_id LONG, v ARRAY<DOUBLE>"
    )
    with pytest.raises(Exception):
        kmeans_fit(ragged, k=1, n_iter=1)
    assert persistent().size() == before


def test_kmeans_improves_inertia(spark):
    """Cosine inertia (sum of best similarities) must not decrease
    round-over-round — the Lloyd convergence property."""
    emb = _synthetic(spark)
    sims = []
    for n_iter in (0, 2, 4):
        cents = kmeans_fit(emb, k=3, n_iter=n_iter)
        from pyspark.sql import functions as F
        from ex9_big_data_gal_drimer_spark.functions import cosine_similarity

        best = (
            emb.crossJoin(F.broadcast(cents))
            .select("vec_id", cosine_similarity(F.col("v"), F.col("cvec")).alias("s"))
            .groupBy("vec_id")
            .agg(F.max("s").alias("best"))
            .agg(F.sum("best").alias("total"))
            .collect()[0]["total"]
        )
        sims.append(best)
    assert sims[1] >= sims[0] - 1e-9
    assert sims[2] >= sims[1] - 1e-9


def test_trained_ivf_recall_at_least_random(spark):
    """Trained centroids must not lose recall vs the random spherical
    quantizer at the same nprobe budget — the 'first knob' claim in
    ivf_cosine_topk's docstring."""
    from pyspark.sql import functions as F

    from ex9_big_data_gal_drimer_spark.catalog import table
    from ex9_big_data_gal_drimer_spark.operators.similarity import (
        brute_force_topk,
        ivf_cosine_topk,
    )

    emb = table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    exact = brute_force_topk(emb, queries, k=5).collect()
    trained = ivf_cosine_topk(
        emb, queries, dim=64, k=5, nprobe=4, centroids=kmeans_fit(emb, k=8, n_iter=3)
    ).collect()
    random_c = ivf_cosine_topk(
        emb, queries, dim=64, k=5, num_centroids=8, nprobe=4
    ).collect()

    def mean_recall(approx):
        exact_sets, approx_sets = {}, {}
        for r in exact:
            exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        for r in approx:
            approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        recalls = [
            len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
            for q in exact_sets
        ]
        return sum(recalls) / len(recalls)

    r_trained, r_random = mean_recall(trained), mean_recall(random_c)
    assert r_trained >= r_random - 1e-9, f"trained {r_trained} < random {r_random}"


def test_model_store_roundtrip_and_equality(spark):
    """kmeans_fit_or_load: second call loads the persisted model
    byte-identically, and the stored-model IVF result equals the
    fresh-trained one."""
    import os
    import shutil
    import tempfile

    from ex9_big_data_gal_drimer_spark.operators.clustering import (
        kmeans_fit_or_load,
    )

    emb = _synthetic(spark)
    store = os.path.join(tempfile.gettempdir(), "ex9_kmeans_model_test")
    shutil.rmtree(store, ignore_errors=True)
    first = sorted(map(tuple, kmeans_fit_or_load(emb, store, k=3, n_iter=4).collect()))
    second = sorted(map(tuple, kmeans_fit_or_load(emb, store, k=3, n_iter=4).collect()))
    assert first == second and len(first) == 3
    fresh = sorted(map(tuple, kmeans_fit(emb, k=3, n_iter=4).collect()))
    assert first == fresh
    q1 = QUERIES["knn_ivf_model_store"](spark, SF_DIR).collect()
    q2 = QUERIES["knn_ivf_trained"](spark, SF_DIR).collect()
    assert sorted(map(tuple, q1)) == sorted(map(tuple, q2))


def test_semdedup_query_schema_and_accounting(spark):
    df = QUERIES["semdedup_embeddings"](spark, SF_DIR)
    rows = df.collect()
    assert df.columns == ["cluster_id", "n_vectors", "n_close_pairs", "max_pair_sim"]
    assert 1 <= len(rows) <= 8
    import duckdb

    total = duckdb.sql(
        f"SELECT COUNT(*) FROM '{SF_DIR}/embeddings.parquet'"
    ).fetchone()[0]
    assert sum(r["n_vectors"] for r in rows) == total
    again = QUERIES["semdedup_embeddings"](spark, SF_DIR).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))
