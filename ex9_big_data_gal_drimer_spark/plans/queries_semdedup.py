"""Semantic dedup over embeddings (SemDeDup pattern) — the learned-
blocking complement to `dedup_embedding_cosine`'s label blocking.

Rows-only registration: k-means assignment depends on iterative
float averaging (not SQL-expressible without recursion), so the
driver records the rows-only check; tests/test_clustering.py pins
determinism of the row count, cluster-size accounting, and planted-
cluster recovery on synthetic data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import state
from ..catalog import query_persist, table, table_path
from ..operators.clustering import assign_clusters, kmeans_fit, semdedup_pairs
from .registry import register


def trained_centroids(
    spark: SparkSession, sf_dir: str, k: int = 8, n_iter: int = 3
) -> DataFrame:
    """Fit-or-reuse the corpus k-means model for this session: the
    first caller pays the n_iter Lloyd passes, every later caller
    (semdedup_embeddings, knn_ivf_trained, future monitors) serves
    from the k-row centroid table in the session memo (``state.memo``,
    keyed on the embeddings input and (k, n_iter)) —
    train-once-serve-many, the in-session face of the
    kmeans_fit_or_load model registry."""

    def fit() -> DataFrame:
        emb = table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        # kmeans_fit returns a driver-local relation (the trained state
        # was collected during the Lloyd loop), so the memo value is
        # already materialized — no cache needed.
        return kmeans_fit(emb, k=k, n_iter=n_iter)

    src = table_path(sf_dir, "embeddings")
    return state.memo(spark, "trained_centroids", src, k, n_iter, build=fit)


@register("knn_ivf_trained")
def knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path #2b: IVF ANN over TRAINED centroids — the
    `knn_ivf_cosine` plan with trained-model output swapped in for the
    random spherical quantizer, delivering the "trained centroids,
    same plan" upgrade its docstring promises.  List purity from
    training raises recall at the same nprobe cost (pinned ≥ random
    in tests/test_clustering.py).  Serves from the session model memo
    (`trained_centroids`) — first toucher trains, later callers probe.
    Rows-only: iterative float training is engine-specific."""
    from ..operators.similarity import ivf_cosine_topk

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    centroids = trained_centroids(spark, sf_dir, k=8, n_iter=3)
    return ivf_cosine_topk(
        emb, queries, dim=64, k=5, nprobe=4, centroids=centroids
    ).orderBy("query_id", "rnk")


@register("knn_ivf_model_store")
def knn_ivf_model_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 model-registry path: IVF ANN served from a PERSISTED
    centroid table (kmeans_fit_or_load) — train once, write the k-row
    model parquet, every later session loads it instead of retraining.
    Same probe plan as knn_ivf_trained; the difference is the state
    contract (`knn_ivf_trained` times train+serve, this row times
    load+serve after the first fit — both are real deployment points).
    Rows-only; model-identity and result-equality pinned by
    tests/test_clustering.py."""
    from ..operators.clustering import kmeans_fit_or_load
    from ..operators.similarity import ivf_cosine_topk

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    store = state.store_path(
        "kmeans_model", table_path(sf_dir, "embeddings"), 8, 3
    )
    centroids = kmeans_fit_or_load(emb, store, k=8, n_iter=3)
    return ivf_cosine_topk(
        emb, queries, dim=64, k=5, nprobe=4, centroids=centroids
    ).orderBy("query_id", "rnk")


@register("semdedup_embeddings")
def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster SemDeDup summary: train k=8 centroids (3 Lloyd
    iterations), assign the corpus, and report each cluster's size
    plus its close-pair count (cosine ≥ 0.5) and tightest pair — the
    monitoring row a semantic-dedup pass ships (this corpus plants no
    true dups, so the pair columns surface the similarity structure
    rather than a drop list; the plan is identical either way).

    Scale: one broadcast-argmax pass per Lloyd iteration with a
    model-sized (k×dim) driver round-trip; the pair stage is an
    equi-join blocked on the learned cluster id.  The same trained
    centroid table upgrades `knn_ivf_cosine` (identical schema) —
    list purity from training is the first knob before raising
    nprobe.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    centroids = trained_centroids(spark, sf_dir, k=8, n_iter=3)
    assigned = query_persist(assign_clusters(emb, centroids))
    # Fill the cache NOW (iterative-construction query): the final plan
    # reads `assigned` three times (both self-join sides + sizes); an
    # unfilled cache would recompute the assignment argmax per consumer
    # within the first job.
    assigned.count()
    sizes = assigned.groupBy(F.col("centroid_id").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    pair_stats = (
        semdedup_pairs(assigned, threshold=0.5)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_close_pairs"),
            F.max("cosine_sim").alias("max_pair_sim"),
        )
    )
    zero = F.lit(0).cast("long")
    return (
        sizes.join(F.broadcast(pair_stats), "cluster_id", "left")
        .select(
            "cluster_id",
            "n_vectors",
            F.coalesce(F.col("n_close_pairs"), zero).alias("n_close_pairs"),
            F.coalesce(F.col("max_pair_sim"), F.lit(0.0)).alias("max_pair_sim"),
        )
        .orderBy("cluster_id")
    )
