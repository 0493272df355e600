"""HITS (hubs & authorities) over the directed ranking graph.

Kleinberg's algorithm as a bounded DataFrame fixpoint, the second iterative
ranking family next to LinkRank (reference scope is LinkRank-only; HITS is
extension surface — the natural companion for link-graph analysis of a
crawl). Per iteration, in the standard order:

    auth(v) = Σ hub(u)  over edges u→v,  then L1-normalize
    hub(u)  = Σ auth(v) over edges u→v,  then L1-normalize

Each half-step follows the rank loop's fused union-aggregate discipline
(operators/linkrank.py:fused_message_state rationale): contribution rows
union one 0-contrib state row per vertex, a single groupBy(id) recovers
both the sum and the carried other score, and the L1 total rides back as a
broadcast single-row cross join. Two shuffles per iteration, scalars only
on the driver; the loop runs on the shared driver
(operators/linkrank.py:Fixpoint), whose checkpoint barriers each half-step.

The iteration count is a shared CONTRACT with the unrolled-CTE DuckDB
oracle (queries/compq.py) — fixed K ⇒ plain SQL expresses the exact
fixpoint prefix, like the LinkRank oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark.operators.linkrank import Fixpoint, all_vertex_ids

HITS_ITERATIONS = 2


def _half_step(
    fx: Fixpoint, state: DataFrame, src_col: str, dst_col: str,
    from_score: str, to_score: str,
) -> DataFrame:
    """One HITS half-step: ``to_score(v) = Σ from_score(u)`` over
    ``src_col → dst_col`` edges, L1-normalized; the other score column is
    carried through the same aggregate.

    The raw aggregate is CHECKPOINTED before use: it feeds both the L1
    total and the normalized projection (and the next half-step consumes
    the result twice — contrib join + state rows), so an un-truncated plan
    re-executes multiplicatively across half-steps — the same ~3^N blowup
    the rank loop's per-iteration barrier prevents."""
    contrib = fx.join(state.select("id", from_score), on=src_col).select(
        F.col(dst_col).alias("id"), F.col(from_score).alias("c")
    )
    srows = state.select("id", F.lit(0.0).alias("c"), F.col(from_score))
    crows = contrib.withColumn(from_score, F.lit(None).cast("double"))
    raw = crows.unionByName(srows).groupBy("id").agg(
        F.sum("c").alias("_raw"),
        F.max(from_score).alias(from_score),
    )
    return _l1_normalized(fx, raw, from_score, to_score)


def _l1_normalized(
    fx: Fixpoint, raw: DataFrame, carry: str, to_score: str
) -> DataFrame:
    """(id, carry, to_score = _raw / Σ _raw) from a half-step's raw
    aggregate (id, carry, _raw), barriered first (see :func:`_half_step`).
    Shared with SALSA's half-step."""
    raw, _ = fx.checkpoint(raw)
    total = raw.agg(F.sum("_raw").alias("_l1"))
    return raw.crossJoin(F.broadcast(total)).select(
        "id", carry, (F.col("_raw") / F.col("_l1")).alias(to_score)
    )


def hits_scores(edges: DataFrame, iterations: int = HITS_ITERATIONS) -> DataFrame:
    """(id, hub, auth) after ``iterations`` full HITS rounds, scores
    L1-normalized per half-step. Vertices are implicit (every id appearing
    as src or dst), initial hub = auth = 1.0."""
    # the half-steps place their own barriers (checkpoint_interval=0)
    fx = Fixpoint(edges.select("src", "dst"), checkpoint_interval=0)
    state = fx.start(
        all_vertex_ids(None, fx.edges).select(
            "id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
        )
    )

    def step(state: DataFrame) -> DataFrame:
        # auth from current hub (over u→v), then hub from the NEW auth
        # (over the reversed orientation) — Kleinberg's update order
        state = _half_step(fx, state, "src", "dst", "hub", "auth")
        return _half_step(fx, state, "dst", "src", "auth", "hub")

    state = fx.run(state, step, iterations)
    return state.select(
        "id", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    )
