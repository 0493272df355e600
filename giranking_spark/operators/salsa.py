"""SALSA (Stochastic Approach for Link-Structure Analysis) scores.

Lempel & Moran's public algorithm (WWW9, 2000): HITS with random-walk
normalization — every contribution is divided by the emitting side's
degree, so hubs/authorities are stationary distributions of the two-step
walk instead of raw sums.  Third iterative ranking family next to LinkRank
(reference scope, giraph-nutch LinkRankComputation.java:50-107) and HITS
(operators/hits.py):

    auth(v) = Σ hub(u) / outdeg(u)   over edges u→v,  then L1-normalize
    hub(u)  = Σ auth(v) / indeg(v)   over edges u→v,  then L1-normalize

Scale posture: the weighted edge relation (1/outdeg, 1/indeg attached) is
built once with two partial-agg shuffles and persisted by the shared
driver (operators/linkrank.py:Fixpoint), which also dispatches the state
join; each half-step is then ONE equi-join + ONE aggregate, with the L1
total riding back as a broadcast single-row cross join (the sanctioned
scalar-attach pattern). Every half-step is lineage-checkpointed — same
~3^N re-execution guard as the rank loop
(operators/linkrank.py:fused_message_state rationale).

The iteration count is a shared CONTRACT with the unrolled-CTE DuckDB
oracle (queries/compq.py:_salsa_sql), like HITS and LinkRank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark.operators.hits import _l1_normalized
from giranking_spark.operators.linkrank import Fixpoint, all_vertex_ids

SALSA_ITERATIONS = 2


def _weighted_edges(edges: DataFrame) -> DataFrame:
    dout = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_dout"))
    din = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("_din"))
    return (
        edges.join(dout, "src")
        .join(din, "dst")
        .select(
            "src", "dst",
            (F.lit(1.0) / F.col("_dout")).alias("wout"),
            (F.lit(1.0) / F.col("_din")).alias("win"),
        )
    )


def _half_step(
    fx: Fixpoint, state: DataFrame, src_col: str, dst_col: str,
    weight: str, from_score: str, to_score: str,
) -> DataFrame:
    """to_score(x) = Σ from_score(y)·weight over src_col→dst_col edges,
    L1-normalized; the other score column carries through unchanged."""
    sums = (
        fx.join(state.select("id", from_score), on=src_col)
        .groupBy(F.col(dst_col).alias("_tid"))
        .agg(F.sum(F.col(from_score) * F.col(weight)).alias("_raw"))
    )
    raw = state.join(sums, state["id"] == F.col("_tid"), "left").select(
        "id", from_score, F.coalesce(F.col("_raw"), F.lit(0.0)).alias("_raw")
    )
    return _l1_normalized(fx, raw, from_score, to_score)


def salsa_scores(edges: DataFrame, iterations: int = SALSA_ITERATIONS) -> DataFrame:
    """(id, hub, auth) after ``iterations`` SALSA rounds, rounded to 6."""
    # the half-steps place their own barriers (checkpoint_interval=0)
    fx = Fixpoint(_weighted_edges(edges), checkpoint_interval=0)
    state = fx.start(
        all_vertex_ids(None, fx.edges).select(
            "id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
        )
    )

    def step(state: DataFrame) -> DataFrame:
        # auth half-step reads hub over u→v, hub half-step reads NEW auth
        state = _half_step(fx, state, "src", "dst", "wout", "hub", "auth")
        return _half_step(fx, state, "dst", "src", "win", "auth", "hub")

    state = fx.run(state, step, iterations)
    return state.select(
        "id", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    )
