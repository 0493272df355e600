"""Seeded approximate betweenness centrality (Brandes 2001 dependency
accumulation, pivot-sampled as in Brandes & Pich, "Centrality Estimation
in Large Networks", 2007; distance-bounded like k-betweenness).

One level-synchronous forward sweep per pivot set counts shortest paths
(``sigma``, exact integers) and records BFS levels; one backward sweep
accumulates dependencies δ(v) = Σ_{w : v ∈ pred(w)} σv/σw · (1 + δ(w))
level by level. Betweenness(v) ≈ Σ_pivots δ(v).

Scale shape: pivots ride as a ``seed`` key in ONE state relation (k pivots
cost k× state rows, never k propagations); every round — forward or
backward — is one equi-join with the symmetrized edge relation plus one
(seed, id) aggregation with map-side partial agg; state is
checkpoint-truncated per level and the driver sees one frontier-count
scalar per forward round, read at the level's barrier. The edge
relation's cache, the state-side dispatch and the sizing of the level
state are the fixpoint driver's (operators/linkrank.py:Fixpoint); the two
sweeps drive their levels through it. The depth cap is a shared contract
with the unrolled-CTE oracle (bfs_distances pattern), so engine parity
holds even for graphs wider than the cap.

Reference parity: the reference engine has no centrality beyond its rank
family; this extends the graph-analysis surface (SURVEY.md §2.10) with the
standard shortest-path centrality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark.operators.components import undirected_edges
from giranking_spark.operators.linkrank import Fixpoint

#: shared Spark/oracle contract: number of hash-picked pivots and the BFS
#: depth cap (paths longer than BC_DEPTH hops are ignored on BOTH sides —
#: the distance-bounded k-betweenness approximation)
BC_PIVOTS = 3
BC_DEPTH = 6


def betweenness_approx(
    edges: DataFrame,
    seeds: DataFrame,
    depth: int = BC_DEPTH,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, bc) — pivot-sampled distance-bounded betweenness over the
    undirected graph of ``edges``; ``seeds`` is an (id) relation of pivots.
    Only vertices with nonzero accumulated dependency appear."""
    width = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # hash-partitioned by src once and persisted by the fixpoint driver:
    # neither sweep ever re-exchanges or re-sorts the edge relation
    fx = Fixpoint(
        undirected_edges(edges).repartition(width, "src"),
        layout=None,
        checkpoint_dir=checkpoint_dir,
    )
    try:
        # forward sweep: levels[l] = (seed, id, sigma) at BFS distance l; the
        # (seed, id)-keyed level state reaches up to one row per vertex per
        # pivot, and the driver's probe sizes it so
        frontier = fx.start(
            seeds.select(
                F.col("id").alias("seed"),
                F.col("id"),
                F.lit(1).cast("long").alias("sigma"),
            ),
            keys=("seed", "id"),
            seeded=True,
        )
        levels: list[DataFrame] = [frontier]
        visited = frontier.select("seed", "id")  # lazy union of checkpointed parts
        for _ in range(int(depth)):
            nxt = (
                fx.join(frontier)
                .select("seed", F.col("dst").alias("id"), "sigma")
                .join(visited, ["seed", "id"], "left_anti")
                .groupBy("seed", "id")
                .agg(F.sum("sigma").alias("sigma"))
            )
            frontier, got = fx.checkpoint(nxt, F.count(F.lit(1)).alias("n"))
            if got["n"] == 0:
                break
            levels.append(frontier)
            visited = visited.unionByName(frontier.select("seed", "id"))

        # backward sweep: delta at the deepest level is 0; each shallower
        # level pulls (sigma_v / sigma_w) * (1 + delta_w) from its successors
        delta, _ = fx.checkpoint(
            levels[-1].select("seed", "id", F.lit(0.0).alias("delta"))
        )
        acc: list[DataFrame] = []
        if len(levels) > 1:
            acc.append(delta)  # deepest level contributes its (zero) deltas
        for l in range(len(levels) - 2, -1, -1):
            lv = levels[l]
            succ = delta.select(
                "seed",
                F.col("id").alias("_w"),
                F.col("delta").alias("_wd"),
            )
            sig_w = levels[l + 1].select(
                "seed", F.col("id").alias("_w"), F.col("sigma").alias("_ws")
            )
            pulled = (
                fx.join(lv)
                .select("seed", "id", "sigma", F.col("dst").alias("_w"))
                .join(sig_w, ["seed", "_w"])
                .join(succ, ["seed", "_w"])
                .groupBy("seed", "id", "sigma")
                .agg(
                    F.sum(
                        (F.col("sigma") / F.col("_ws"))
                        * (F.lit(1.0) + F.col("_wd"))
                    ).alias("delta")
                )
                .select("seed", "id", "delta")
            )
            # vertices at this level with no successors keep delta 0
            delta, _ = fx.checkpoint(
                lv.select("seed", "id")
                .join(pulled, ["seed", "id"], "left")
                .select(
                    "seed", "id", F.coalesce("delta", F.lit(0.0)).alias("delta")
                )
            )
            if l >= 1:  # pivots themselves are endpoints, not intermediates
                acc.append(delta)
    finally:
        fx.release()
    if not acc:  # nothing reachable beyond the pivots themselves
        return seeds.select("id", F.lit(0.0).alias("bc")).limit(0)
    out = acc[0]
    for p in acc[1:]:
        out = out.unionByName(p)
    return (
        out.groupBy("id")
        .agg(F.round(F.sum("delta"), 6).alias("bc"))
        .filter(F.col("bc") > 0)
    )
