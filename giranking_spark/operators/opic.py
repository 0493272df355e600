"""OPIC — Adaptive On-Line Page Importance Computation (batch variant).

Abiteboul, Preda & Cobena's public algorithm (WWW 2003), the importance
score Apache Nutch attaches to crawl frontier entries (public Nutch
scoring-opic plugin semantics; the reference's LinkRank replaces exactly
this score inside Nutch — giraph-nutch LinkRankComputation.java:50-107 —
so the two families are alternatives over the same webgraph).

Synchronous batch formulation over a graph with N vertices:

    cash_0(v) = 1/N,  hist_0(v) = 0
    each step:  every vertex distributes cash(v)/outdeg(v) along its
                out-edges; DANGLING vertices distribute cash(v)/N to every
                vertex (the 'virtual root' simplification);
                hist += cash;  cash := incoming mass
    importance(v) = hist(v) + cash(v)   (cash-invariant: Σ cash ≡ 1)

Scale posture: outdeg is attached once in the checkpointed state; each
superstep is ONE equi-join + ONE aggregate, with the dangling total riding
back as a broadcast single-row cross join (the sanctioned scalar-attach
pattern, identical to agg_dangling_sum in operators/linkrank.py) and N the
shared driver's probed vertex count (operators/linkrank.py:Fixpoint).
Iteration count is a shared CONTRACT with the unrolled-CTE DuckDB oracle
(queries/crawlq.py:_opic_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark.operators.linkrank import Fixpoint

OPIC_ITERATIONS = 4


def opic_scores(edges: DataFrame, iterations: int = OPIC_ITERATIONS) -> DataFrame:
    """(id, opic) — hist + cash after ``iterations`` steps, rounded to 6.

    Scale shape (r13): the state init builds (id, outdeg) for every
    vertex (incl. implicit/dangling) from ONE union-groupBy instead of
    distinct + degree aggregate + left join (three exchanges → one, the
    initial_state_ext pattern). Per step the cash-share join uses the
    driver's scale-adaptive dispatch (see katz_scores). The
    incoming-mass aggregate keeps its map-side partial aggregation and
    the epilogue left join is vertex-sized on both sides (a fused
    union-aggregate variant was measured SLOWER at fixture scale —
    interleaved A/B 4.89 vs 6.10 s — it ships every message row through a
    5-function aggregate; guide §1.1's fresh-ideal-plan gotcha)."""
    fx = Fixpoint(edges.select("src", "dst"))
    base = fx.start(
        fx.edges.select(F.col("src").alias("id"), F.lit(1).alias("_out"))
        .unionByName(fx.edges.select(F.col("dst").alias("id"), F.lit(0).alias("_out")))
        .groupBy("id")
        .agg(F.sum("_out").cast("long").alias("outdeg"))
    )
    n = float(fx.n)

    def step(state: DataFrame) -> DataFrame:
        # outdeg > 0 filter BEFORE the share division: ANSI mode
        # evaluates the projection on dangling rows even though the
        # inner join would prune them (same class as the r3
        # trust-flag cast fix).
        shares = state.filter(F.col("outdeg") > 0).select(
            "id", (F.col("cash") / F.col("outdeg")).alias("_share")
        )
        inc = (
            fx.join(shares)
            .groupBy(F.col("dst").alias("_tid"))
            .agg(F.sum("_share").alias("_in"))
        )
        dang = state.filter(F.col("outdeg") == 0).agg(
            F.coalesce(F.sum("cash"), F.lit(0.0)).alias("_dang")
        )
        return (
            state.join(inc, state["id"] == F.col("_tid"), "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "id",
                "outdeg",
                (
                    F.coalesce(F.col("_in"), F.lit(0.0))
                    + F.col("_dang") / F.lit(n)
                ).alias("cash"),
                (F.col("hist") + F.col("cash")).alias("hist"),
            )
        )

    # an empty graph runs no step, so its (absent) rows need no 1/N
    state = base.select(
        "id", "outdeg", F.lit(1.0 / max(n, 1.0)).alias("cash"), F.lit(0.0).alias("hist")
    )
    state = fx.run(state, step, iterations)
    return state.select("id", F.round(F.col("hist") + F.col("cash"), 6).alias("opic"))
