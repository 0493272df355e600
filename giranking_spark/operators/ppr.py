"""Personalized PageRank: power iteration with restart to a seed set.

Third iterative ranking family next to LinkRank (reference semantics,
operators/linkrank.py) and HITS (operators/hits.py) — the standard
"similarity to these nodes" primitive for crawl analysis and
recommendation. Differences from LinkRank: teleport mass goes ONLY to the
seed set (as does dangling mass), scores start as a distribution over the
seeds, and arithmetic is plain float64 (no float32-teleport compat — this
is extension surface, not reference parity).

Per iteration (d = damping, S = seed set, D = dangling mass):

    r'(v) = (1-d)·1_S(v)/|S| + d·( Σ_{u→v} r(u)/outdeg(u) + D·1_S(v)/|S| )

Scale shape is the rank loop's, on the shared driver
(operators/linkrank.py:Fixpoint): one fused union-aggregate shuffle per
iteration (fused_message_state), the dangling mass rides as a broadcast
single-row cross join, |S| rides the driver's dispatch probe. The
iteration count is a contract with the unrolled-CTE oracle in
queries/compq.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark.operators.linkrank import (
    Fixpoint,
    dangling_mass,
    edges_with_outdeg,
    fused_message_state,
    initial_state_ext,
)

PPR_ITERATIONS = 5
PPR_DAMPING = 0.85
#: deterministic seed predicate over vertex ids (shared with the oracle)
PPR_SEED_PRED = "(id LIKE 'c%' AND CAST(substr(id, 2) AS BIGINT) % 7 = 3)"


def ppr_scores(
    edges: DataFrame,
    seed_pred: str = PPR_SEED_PRED,
    iterations: int = PPR_ITERATIONS,
    damping: float = PPR_DAMPING,
) -> DataFrame:
    """(id, score) after ``iterations`` PPR updates, rounded to 6 decimals.

    Vertices are implicit (every id appearing as src or dst). The restart
    vector is uniform over vertices matching ``seed_pred`` (a SQL boolean
    expression over ``id``, evaluated identically by the oracle)."""
    teleport = 1.0 - damping  # float64, embedded verbatim in the oracle SQL
    fx = Fixpoint(edges_with_outdeg(edges.select("src", "dst")), layout=None)
    seed = F.when(F.expr(seed_pred), 1.0).otherwise(0.0)
    # vertex set + out-degrees in ONE shuffle (initial_state_ext); the seed
    # flag is a projection over it, and the seed count rides the probe
    base = fx.start(
        initial_state_ext(None, fx.edges).select("id", "outdeg", seed.alias("seed")),
        extras=[F.sum("seed").alias("_sns")],
    )
    ns = float(fx.row["_sns"] or 0.0)
    # seed mass share, 0/0-safe: on a seedless graph every seed is 0, the
    # when() never evaluates the division, and the share is exactly 0.0
    # (mirrored in the oracle). ns is an exact small-integer-valued double,
    # so the literal divides bit-identically to the former column.
    share = F.when(F.col("seed") > 0, F.col("seed") / F.lit(ns)).otherwise(0.0)

    def step(state: DataFrame) -> DataFrame:
        msgst = fused_message_state(
            fx.edges, state, ["outdeg", "seed"], None, fx.bcast
        )
        return msgst.crossJoin(F.broadcast(dangling_mass(state))).select(
            "id",
            (
                F.lit(teleport) * share
                + F.lit(damping) * (F.col("msg") + F.col("dangling") * share)
            ).alias("score"),
            "outdeg",
            "seed",
        )

    state = base.select("id", share.alias("score"), "outdeg", "seed")
    state = fx.run(state, step, iterations)
    return state.select("id", F.round("score", 6).alias("score"))
