"""HyperBall: per-vertex neighborhood-function estimation via iterated
HyperLogLog counters (Boldi & Vigna, "In-Core Computation of Geometric
Centralities with HyperBall: A Hundred Billion Nodes and Beyond", 2013).

Every vertex carries an HLL sketch of its out-ball; one superstep merges
each vertex's sketch with its successors' sketches, so after ``t`` rounds
vertex ``v``'s sketch summarizes ``ball(v, t) = {w : dist(v→w) <= t}``.
The per-round estimates yield the neighborhood function ``N(t) = Σ_v
|ball(v, t)|`` and the effective diameter — the mergeable, sketch-sized
replacement for multi-probe BFS diameter estimation
(operators/components.py), and the formulation that holds at 100 TB: state
is at most ``V × m`` register rows (m = 256), every superstep is one
equi-join on the edge key plus one (id, idx) aggregation with map-side
partial max, and the driver sees only two scalars per round, read at
its barrier.

Oracle checkability: HLL register merge is an exact max, so the iterated
sketch of ``ball(v, t)`` is IDENTICAL (bit for bit) to the sketch built
directly from the ball's membership set — the DuckDB oracle replays
bounded-depth BFS membership and the shared portable-HLL finalize
(operators/sketches.py) and must agree exactly, not approximately.

Reference parity: the reference engine has no neighborhood-function
operator; this extends its graph-analysis family (SURVEY.md §2.10) with
the standard web-graph distance profile used alongside PageRank-family
scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark.cache import cached
from giranking_spark.operators.linkrank import (
    _barrier,
    _conf_int,
    _state_side,
)
from giranking_spark.operators.sketches import (
    hll_finalize,
    hll_register_rows,
)

#: default ball radius — covers the effective diameter of the fixture nav
#: graph; rounds past the true diameter are exact no-ops (register max is
#: idempotent), so a generous cap is parity-safe
HYPERBALL_T = 4


def hyperball(
    edges: DataFrame,
    t_max: int = HYPERBALL_T,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(t, id, m_used, n_zero, est_distinct) for t in 0..t_max: the
    portable-HLL estimate of |ball_out(id, t)| for EVERY vertex at EVERY
    radius, in one pass of t_max supersteps.

    Fixpoint detection is exact and costs no job of its own: register rows
    only ever increase in count and in rank (merge = max), so a round that
    changes no register row is the fixpoint and all remaining radii equal
    the current state — they are emitted as copies without further joins.
    The changed count and the register count (the broadcast sizing) are
    the round barrier's two scalars (linkrank.py:_barrier).
    """
    spark = edges.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # hash-partitioned by dst once (the per-radius join keys on dst) and
    # cached columnar: the cache keeps the partitioning, so no radius
    # re-exchanges or re-sorts the edge relation
    e = edges.select("src", "dst").distinct().repartition(width, "dst")
    n_rows = F.count(F.lit(1)).alias("n")
    bcast_thr = _conf_int(spark, "spark.sql.autoBroadcastJoinThreshold", -1)
    with cached(e):
        verts = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        # ball(v, 0) = {v}: one register row per vertex
        regs, got = _barrier(
            hll_register_rows(verts, "id", "id")
            .groupBy("id", "idx")
            .agg(F.max("rho").alias("r")),
            n_rows,
            checkpoint_dir=checkpoint_dir,
        )
        n_regs = got["n"]
        parts = [
            hll_finalize(regs, "id").withColumn("t", F.lit(0).cast("long"))
        ]
        # Frontier (delta) messaging — the optimization HyperBall itself is
        # built on (Boldi & Vigna §4: only counters that changed propagate):
        # a register row that did not change last round would re-send the
        # same (idx, r) its owner already sent the round after it last
        # changed, and max-merge is idempotent — per-round register state is
        # IDENTICAL. The merge aggregate recovers the old rank from the
        # tagged self row, so the changed set and the exact fixpoint test
        # (changed == 0: register rows only grow in count and rank) are read
        # at the round's barrier with the register count.
        frontier = regs
        for t in range(1, int(t_max) + 1):
            # register state is ~16 B/row; broadcast it while it fits so the
            # edge relation is never shuffled (the HyperBall in-core regime)
            # — past the threshold this degrades to a plain shuffle
            # equi-join, the 100 TB path
            bcast = 0 < n_regs * 16 <= bcast_thr
            msgs = e.join(
                _state_side(frontier, bcast), e.dst == F.col("id")
            ).select(F.col("src").alias("id"), "idx", "r")
            changed = F.col("_old").isNull() | (F.col("r") > F.col("_old"))
            merged, got = _barrier(
                msgs.withColumn("_self", F.lit(False))
                .unionByName(regs.withColumn("_self", F.lit(True)))
                .groupBy("id", "idx")
                .agg(
                    F.max("r").alias("r"),
                    F.max(F.when(F.col("_self"), F.col("r"))).alias("_old"),
                ),
                n_rows,
                F.count_if(changed).alias("c"),
                checkpoint_dir=checkpoint_dir,
            )
            n_regs = got["n"]
            regs = merged.drop("_old")
            frontier = merged.filter(changed).drop("_old")
            parts.append(
                hll_finalize(regs, "id").withColumn("t", F.lit(t).cast("long"))
            )
            if got["c"] == 0:
                # exact fixpoint (rows and ranks only grow): every remaining
                # radius equals the current state
                final = parts[-1]
                parts.extend(
                    final.withColumn("t", F.lit(tt).cast("long"))
                    for tt in range(t + 1, int(t_max) + 1)
                )
                break
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("t", "id", "m_used", "n_zero", "est_distinct")
