"""Incremental materialized-aggregate maintenance + iterative graph
ranking — the exact-state complement to the approximate sketch store
(queries_stats.sketch_store_rollup) and the second iterative graph
algorithm next to connected components (operators/graph.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import state
from ..catalog import query_persist, table
from .registry import ITERATIVE_CONSTRUCTION, register

#: Settled/delta boundary for the incremental aggregate — orders span
#: 1992..1998 in the generator, so everything before this date is
#: "history already materialized by last night's job".
_SPLIT = "1997-01-01"


@register(
    "incremental_agg_maintenance",
    oracle="""
    SELECT CAST(DATE_TRUNC('month', o.o_orderdate) AS DATE) AS month,
           n.n_name AS nation,
           ROUND(SUM(o.o_totalprice), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    ORDER BY month, nation
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance with EXACT algebra:
    day-level per-nation revenue for settled history (o_orderdate <
    1997-01-01) is materialized ONCE to a parquet state table
    (construction; reruns reuse the completed state — the settled
    slice is immutable by definition); the query loads that state,
    aggregates ONLY the delta days from the fact table, and merges
    both to month level.  The oracle is the full recompute — the
    driver hash proves merged-incremental ≡ recompute, the contract
    every nightly continuous-aggregate job rests on (sum/count are
    mergeable; avg and friends derive post-merge).

    Scale: at 100 TB the settled scan never re-runs — the state table
    is months × nations rows, and the delta scan is partition-pruned
    to the open days (combine with sources/layout.py date
    partitioning).  The sketch store proves the same two-step path
    for approximate state."""
    orders = table(spark, sf_dir, "orders")
    cust_nation = (
        table(spark, sf_dir, "customer")
        .join(
            F.broadcast(table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )

    def daily(part: DataFrame) -> DataFrame:
        return (
            part.join(F.broadcast(cust_nation), F.col("o_custkey") == F.col("c_custkey"))
            .groupBy(
                F.date_trunc("day", "o_orderdate").alias("day"),
                F.col("n_name").alias("nation"),
            )
            .agg(
                F.sum("o_totalprice").alias("revenue"),
                F.count(F.lit(1)).alias("n_orders"),
            )
        )

    # Materialize-once (same contract as the layout/bucketed ingests):
    # the settled slice is immutable by definition, so a completed
    # state table is REUSED — this is the operator's entire point; the
    # first run pays the settled scan, every later run reads
    # months×nations rows and scans only the delta days.  The store is
    # keyed on the sf_dir's files, so regenerated data gets a new one.
    store = state.store_path("incr_agg", sf_dir)
    state.write_once(
        lambda: daily(orders.filter(F.col("o_orderdate") < _SPLIT))
        .write.mode("overwrite")
        .parquet(store),
        store,
    )
    settled = spark.read.parquet(store)
    delta = daily(orders.filter(F.col("o_orderdate") >= _SPLIT))
    return (
        settled.unionByName(delta)
        .groupBy(
            F.date_trunc("month", "day").cast("date").alias("month"), "nation"
        )
        .agg(
            F.round(F.sum("revenue"), 2).alias("revenue"),
            F.sum("n_orders").alias("n_orders"),
        )
        .orderBy("month", "nation")
    )


ITERATIVE_CONSTRUCTION.add("incremental_agg_maintenance")


def _pagerank_oracle(n_iter: int) -> str:
    """Unrolled PageRank oracle: fixed-iteration power method as
    chained CTEs — same edges, same damping, checkable by DuckDB."""
    prev = "r0"
    steps = []
    for i in range(1, n_iter + 1):
        steps.append(
            f"""r{i} AS (
        SELECT nodes.node,
               (1 - 0.85) / (SELECT COUNT(*) FROM nodes)
               + 0.85 * COALESCE(SUM({prev}.rank / deg.degree), 0) AS rank
        FROM nodes
        LEFT JOIN edges ON edges.dst = nodes.node
        LEFT JOIN {prev} ON {prev}.node = edges.src
        LEFT JOIN deg ON deg.node = edges.src
        GROUP BY nodes.node
    )"""
        )
        prev = f"r{i}"
    return f"""
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        WHERE a.l_orderkey % 50 = 0 AND b.l_orderkey % 50 = 0
    ),
    edges AS (
        SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY src),
    r0 AS (
        SELECT node, 1.0 / (SELECT COUNT(*) FROM nodes) AS rank FROM nodes
    ),
    {','.join(steps)}
    SELECT node, ROUND(rank, 6) AS rank FROM {prev} ORDER BY node
    """


@register("pagerank_part_cooccurrence", oracle=_pagerank_oracle(3))
def pagerank_part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 power iterations, damping 0.85) over the part
    co-occurrence graph (parts sharing an order, symmetrized,
    restricted to every 50th order so the oracle's unrolled CTE stays
    readable).  Each iteration is ONE equi-join edges⋈ranks on src +
    one groupBy dst — the standard message-passing shape: shuffle
    volume is O(edges) per round, ranks stay (node, double) narrow,
    and the LEFT join keeps sink nodes (no inbound edges) at their
    teleport mass.  The oracle unrolls the same three iterations as
    chained CTEs, so this iterative algorithm is hash-checked
    rather than registered rows-only (every round is a fixed
    algebraic map — no RNG, no engine-specific state); ranks round to
    6 decimals in BOTH forms because cross-engine partial-sum order
    differs in the last ulps after three SUM(rank/degree) rounds.

    Complements connected components (operators/graph.py): CC is the
    fixpoint-loop tier with a convergence signature; this is the
    fixed-budget tier whose whole unrolled plan Catalyst sees at
    once."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 50 == 0
    ).select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # The graph is reread every iteration — persist the edge list and
    # derived degree/node tables once (they are the loop invariants).
    edges = query_persist(edges)
    nodes = query_persist(
        edges.select(F.col("src").alias("node")).distinct()
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    n_nodes = nodes.select(F.count(F.lit(1)).alias("n"))
    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    contrib_src = edges.join(deg, edges.src == deg.node).select(
        F.col("src"), F.col("dst"), F.col("degree")
    )
    for _ in range(3):
        msgs = contrib_src.join(ranks, contrib_src.src == ranks.node).select(
            F.col("dst"), (F.col("rank") / F.col("degree")).alias("m")
        )
        inbound = msgs.groupBy("dst").agg(F.sum("m").alias("s"))
        ranks = (
            nodes.join(inbound, nodes.node == inbound.dst, "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                (
                    (1 - 0.85) / F.col("n")
                    + 0.85 * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select("node", F.round("rank", 6).alias("rank")).orderBy(
        "node"
    )
