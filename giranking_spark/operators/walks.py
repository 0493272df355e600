"""Deterministic random-walk corpus generation (DeepWalk / node2vec prep).

Graph-embedding training consumes a corpus of random walks; at 100 TB the
walk generation itself must be a distributed join pipeline, not a
per-vertex loop.  The substrate is the adjacency-ARRAY relation
``(src, nbrs array<id>)`` with neighbors deduplicated and sorted — built
with ONE full exchange of the edge relation (symmetrize feeds
``repartition(src)``; both the per-group dedup in ``collect_set`` and the
aggregation itself reuse that src layout, so no second edge-sized
exchange exists anywhere).  Each step is then ONE equi-join of the
one-row-per-walker state against the |V|-row array relation on
``cur = src``; the walker picks neighbor ``element_at(nbrs, pick+1)``
where ``pick = H(walk_id, step) mod size(nbrs)`` — the pick-th SMALLEST
neighbor id, exactly the sorted-neighbor indexing the SQL oracle mirrors.
H is the engine's portable md5 hash family (functions/hashing.py);
hash-driven selection makes the walks deterministic — reproducible across
runs AND expressible in plain SQL, so the whole corpus is
oracle-checkable (no seeded RNG divergence between engines).

A hub vertex cannot fan out a walk step by construction: the adjacency
relation is unique-by-src (it is a groupBy result), so the step join
emits exactly one row per walker, whatever the hub's degree.

This shape replaced the round-3 positional-index formulation
(row_number window + next-degree join + (src, idx) re-partition) after
sf100 measurement: that build was THREE 1.17B-row exchanges plus a
1.17B-row persisted cache (window sort, join-on-dst for the carried
next-degree, composite-key repartition) — ~4 edge-relation-sized disk
footprints live at once, which exceeded local scratch at sf100 (ENOSPC)
and would be 3 network exchanges too many on a cluster.  The array
substrate is the k-core peel's (operators/components.py): one exchange,
a 16M-row cache at sf100, and per-step joins that touch |V| rows, not
|und|.

All per-step caches and the adjacency relation are released before
returning (one cache scope per relation, held on an ``ExitStack``): the
result is materialized via an eager localCheckpoint, so it stays valid
after cleanup and never re-executes the join chain.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark.cache import cached
from giranking_spark.functions.hashing import md5_u32


def adjacency_arrays(edges: DataFrame) -> DataFrame:
    """(src, nbrs): each vertex's distinct neighbors as a SORTED array —
    the indexable adjacency the per-step pick reads with ``element_at``.
    Input duplicates are absorbed by ``collect_set``, so callers may pass
    a non-deduplicated symmetrized relation and skip their own distinct.
    Built with one exchange; the result is hash-partitioned by src (the
    groupBy layout), which every step join reuses."""
    width = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        edges.repartition(width, "src")
        .groupBy("src")
        .agg(F.array_sort(F.collect_set("dst")).alias("nbrs"))
    )


def random_walks(edges: DataFrame, length: int) -> DataFrame:
    """One walk per distinct vertex with out-edges; ``length`` hash-driven
    steps.  Returns (walk_id, step, node) rows — step 0 is the start
    vertex; walks that hit a dangling vertex end early."""
    with ExitStack() as caches:
        adj = caches.enter_context(cached(adjacency_arrays(edges)))
        state = adj.select(F.col("src").alias("walk_id"), F.col("src").alias("cur"))
        frames = [
            state.select(
                "walk_id", F.lit(0).cast("int").alias("step"), F.col("cur").alias("node")
            )
        ]
        for k in range(1, length + 1):
            # ONE row per walker: adj is unique-by-src, so the join cannot fan
            # out; pick indexes the sorted neighbor array (1-based element_at)
            pick = md5_u32(F.concat_ws(":", "walk_id", F.lit(str(k)))) % F.size(
                "nbrs"
            )
            # cache per step: the output union references every state once —
            # without this, union branch k re-executes joins 1..k (quadratic)
            state = caches.enter_context(
                cached(
                    state.join(adj, state.cur == adj.src).select(
                        "walk_id",
                        F.element_at("nbrs", (pick + F.lit(1)).cast("int")).alias(
                            "cur"
                        ),
                    )
                )
            )
            frames.append(
                state.select(
                    "walk_id",
                    F.lit(k).cast("int").alias("step"),
                    F.col("cur").alias("node"),
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out.localCheckpoint()
