"""Synchronous label propagation (community detection) with deterministic
tie-breaking.

Fourth graph-analytics family next to LinkRank/HITS/PPR: each vertex starts
labeled with its own id and, per round, adopts the most frequent label among
its undirected neighbors, ties broken by the smallest label — fully
deterministic, hence oracle-checkable (the classic async LPA is
order-dependent; the sync+min-tiebreak variant is the reproducible form).

Per round: one edges-x-state join on the persisted src-partitioned edge
relation (the shared driver's broadcast / shuffle-hash dispatch,
operators/linkrank.py:Fixpoint) + one groupBy(v, label) count + one
per-vertex min(struct) top-1 — no window sort, no driver state, lineage
checkpoint-truncated per round like every other fixpoint here. The FIXED
round count is the contract with the unrolled-CTE oracle
(queries/compq.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark.operators.components import undirected_edges
from giranking_spark.operators.linkrank import Fixpoint

LPA_ROUNDS = 3


def lpa_substrate(edges: DataFrame) -> DataFrame:
    """The hash(src)-partitioned deduped symmetrized relation the LPA loop
    joins every round. Exposed so consumers that ALSO need the undirected
    edge relation (graph_modularity's canon/degree epilogue) can persist it
    once and share the one exchange instead of re-deriving and re-shuffling
    the edges per reference (guide §2.4 — two operations keyed the same way
    share one exchange). A caller that persists it and passes it into
    :func:`label_propagation` keeps ownership of the unpersist."""
    width = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        undirected_edges(edges, dedup=False)
        .repartition(width, "src")
        .dropDuplicates(["src", "dst"])
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = LPA_ROUNDS,
    substrate: DataFrame | None = None,
) -> DataFrame:
    """(id, label) after ``rounds`` synchronous updates; label = most
    frequent neighbor label, min on ties. Every vertex of the undirected
    graph has at least one neighbor, so no keep-own fallback is needed.

    Scale shape (r13): the deduped symmetrized relation is hash-partitioned
    by ``src`` once and persisted, and the per-round edges-x-state join uses
    the fixpoint driver's dispatch (broadcast the state when it fits, else
    SHUFFLE_HASH with the state as build side) — the previous checkpointed
    relation had no stats, so Catalyst sort-merged the join and re-sorted
    the edge relation EVERY round. Layout and dedup share ONE exchange:
    hash(src) partitioning satisfies the (src, dst) dedup aggregate's
    ClusteredDistribution (equal src ⇒ co-located), so repartition-then-
    dropDuplicates dedups in place — repartitioning the already-distinct
    relation would be a second full-edge exchange (measured 9.3 → 13.3 s
    on graph_modularity at sf0.1). The state init's distinct reuses the
    same layout (zero exchanges). The per-round top-1 label is a
    ``min(struct(-c, label))`` aggregate — same (max count, min label on
    tie) selection the row_number window computed, without the window's
    full sort of the (v, label) relation and with map-side partial
    aggregation shrinking the second exchange.

    ``substrate`` — a prebuilt :func:`lpa_substrate` relation. A caller
    that cached it keeps its cache (the driver releases only what it
    persisted), so its other consumers can keep reading it after the loop
    returns."""
    fx = Fixpoint(
        substrate if substrate is not None else lpa_substrate(edges),
        layout=None,
    )
    state = fx.start(
        fx.edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
    )

    def step(state: DataFrame) -> DataFrame:
        nb = fx.join(state).select(F.col("dst").alias("v"), "label")
        cnt = nb.groupBy("v", "label").agg(F.count(F.lit(1)).alias("c"))
        top = cnt.groupBy("v").agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias("t")
        )
        return top.select(F.col("v").alias("id"), F.col("t.label").alias("label"))

    return fx.run(state, step, rounds)
