"""Edge-weighted PageRank: power iteration over weighted out-link shares.

Fourth iterative ranking family (LinkRank reference parity, HITS, PPR,
this). The reference's graph is unweighted (`NullWritable` edge values,
SURVEY.md §1.1) — this is extension surface for graphs that DO carry link
weights (anchor frequency, click counts, citation multiplicity):

    r'(v) = (1-d)/N + d·( Σ_{u→v} r(u)·w(u,v)/W(u) + D/N )

with W(u) = Σ over u's out-edges of w, and D the dangling mass (vertices
with no out-edges), redistributed uniformly — plain float64 arithmetic (no
float32-teleport compat; that quirk is reference parity only).

Scale shape is the rank loop's, on the shared driver
(operators/linkrank.py:Fixpoint): the per-iteration message total is the
FUSED union-aggregate — contribution rows union one 0-contrib state row per
vertex, one groupBy(id) is the iteration's only shuffle; N is the driver's
probed vertex count and the dangling mass rides as a broadcast single-row
cross join. The iteration count is a contract with the unrolled-CTE oracle
(queries/compq.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark.operators.linkrank import Fixpoint

WRANK_ITERATIONS = 3
WRANK_DAMPING = 0.85


def weighted_pagerank(
    edges_w: DataFrame,
    iterations: int = WRANK_ITERATIONS,
    damping: float = WRANK_DAMPING,
) -> DataFrame:
    """(id, score) after ``iterations`` weighted-PageRank updates over
    ``edges_w(src, dst, w)``, rounded to 6 decimals. Vertices are implicit
    (every id appearing as src or dst); initial score is the uniform
    distribution 1/N."""
    teleport = 1.0 - damping  # float64, embedded verbatim in the oracle
    fx = Fixpoint(edges_w.select("src", "dst", F.col("w").cast("double").alias("w")))
    # vertex set + out-weight totals W(u) in ONE shuffle: src rows carry w,
    # dst rows an exact 0.0, so a vertex without out-edges sums to 0.0
    base = fx.start(
        fx.edges.select(F.col("src").alias("id"), "w")
        .unionByName(fx.edges.select(F.col("dst").alias("id"), F.lit(0.0).alias("w")))
        .groupBy("id")
        .agg(F.sum("w").alias("outw"))
    )
    n = float(fx.n)

    def step(state: DataFrame) -> DataFrame:
        contribs = fx.join(state).select(
            F.col("dst").alias("id"),
            (F.col("score") * F.col("w") / F.col("outw")).alias("contrib"),
            F.lit(None).cast("double").alias("outw"),
        )
        srows = state.select("id", F.lit(0.0).alias("contrib"), "outw")
        msgst = (
            contribs.unionByName(srows)
            .groupBy("id")
            .agg(F.sum("contrib").alias("msg"), F.max("outw").alias("outw"))
        )
        d_mass = state.filter(F.col("outw") == 0.0).agg(
            F.coalesce(F.sum("score"), F.lit(0.0)).alias("dangling")
        )
        return msgst.crossJoin(F.broadcast(d_mass)).select(
            "id",
            (
                F.lit(teleport) / F.lit(n)
                + F.lit(damping) * (F.col("msg") + F.col("dangling") / F.lit(n))
            ).alias("score"),
            "outw",
        )

    # an empty graph runs no step, so its (absent) rows need no 1/N
    state = base.select("id", F.lit(1.0 / max(n, 1.0)).alias("score"), "outw")
    state = fx.run(state, step, iterations)
    return state.select("id", F.round("score", 6).alias("score"))
