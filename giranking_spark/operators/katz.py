"""Katz centrality — attenuated path-count importance.

Katz's public index (Psychometrika 1953; the standard network-analysis
formulation): every vertex starts with a base score β = 1 and each
iteration adds α-attenuated mass from in-neighbors,

    x_{t+1}(v) = 1 + α · Σ x_t(u)   over edges u→v,

which converges to β·(I − αAᵀ)⁻¹·1 when α < 1/λ_max.  Fourth iterative
ranking family next to LinkRank (reference scope, giraph-nutch
LinkRankComputation.java:50-107), HITS and SALSA — unlike those it needs
no degree normalization and no global L1 step, so each superstep is
exactly ONE equi-join + ONE aggregate and nothing else.

Scale posture: per step the only shuffle is the groupBy(dst) message sum
(map-side partial agg applies); vertices with no in-edges fall back to the
base score via left-join coalesce.  The loop runs on the shared driver
(operators/linkrank.py:Fixpoint): edge layout, join dispatch and the
per-step checkpoint barrier live there.  The iteration count and α are a
shared CONTRACT with the unrolled-CTE DuckDB oracle
(queries/compq.py:_katz_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark.operators.linkrank import Fixpoint, all_vertex_ids

KATZ_ALPHA = 0.05
KATZ_ITERATIONS = 4


def katz_scores(
    edges: DataFrame,
    alpha: float = KATZ_ALPHA,
    iterations: int = KATZ_ITERATIONS,
) -> DataFrame:
    """(id, katz) after ``iterations`` Katz steps from x₀ = 1, rounded to 6.

    Scale shape (r13): the driver's scale-adaptive join dispatch — state
    under the broadcast threshold (the fixture regime) joins as a
    BroadcastHashJoin that streams the persisted edges with NO exchange or
    sort; past it (the 100 TB regime) the loop reads a hash(src) copy so
    the SHUFFLE_HASH join exchanges only the vertex-sized state per step.
    The message sum keeps its map-side partial aggregation and the
    epilogue left join is vertex-sized on both sides — both a fused
    union-aggregate variant and an unconditional repartition+persist were
    measured SLOWER at fixture scale (interleaved A/B; guide §1.1's
    fresh-ideal-plan gotcha).
    """
    fx = Fixpoint(edges.select("src", "dst"))
    state = fx.start(
        all_vertex_ids(None, fx.edges).select("id", F.lit(1.0).alias("katz"))
    )

    def step(state: DataFrame) -> DataFrame:
        sums = (
            fx.join(state.select("id", "katz"))
            .groupBy(F.col("dst").alias("_tid"))
            .agg(F.sum("katz").alias("_msg"))
        )
        return state.join(sums, state["id"] == F.col("_tid"), "left").select(
            "id",
            (
                F.lit(1.0) + F.lit(alpha) * F.coalesce(F.col("_msg"), F.lit(0.0))
            ).alias("katz"),
        )

    state = fx.run(state, step, iterations)
    return state.select("id", F.round("katz", 6).alias("katz"))
