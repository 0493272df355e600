"""Strongly connected components + Broder bow-tie decomposition (extension
surface — directed-graph structure analysis for web/navigation graphs).

The reference's ranking pipelines operate on the directed link graph
(reference: giraph-nutch LinkRank over host/webpage edges); SCC and the
bow-tie map (Broder et al., "Graph structure in the Web", WWW 2000) are the
canonical structural companions — the giant SCC is the crawlable CORE, IN/OUT
its upstream/downstream fringes.

Algorithm (SCC): iterative min-label peeling — the distributed "coloring"
scheme (Orzan 2004; Hong et al. FW-BW-Trim variants are the pivot-based
cousins):

  repeat until no vertices remain:
    F(v) = min id that reaches v    (forward min-label fixpoint)
    B(v) = min id v reaches         (backward min-label fixpoint)
    assign scc_id(v) = F(v) for every v with F(v) == B(v); peel them off.

Why that is correct: F(v) == B(v) == m means m reaches v AND v reaches m, so
v ∈ SCC(m); and m = F(v) is ≤ every id reaching v, hence ≤ every member of
SCC(v), while m itself IS a member — so the label is the canonical minimum
member, exactly what the transitive-closure DuckDB oracle computes
(queries/compq.py). Every round assigns at least the SCC of the globally
minimal remaining id (its F and B both equal that id), so the peel terminates
in ≤ #SCC-generations rounds; on web graphs (one giant SCC + shallow
periphery) this is a handful.

Scale posture (the 100 TB story):
- Each propagation round (SCC's reach labels, bow-tie's directed
  closures) runs the SAME one-shuffle superstep as connected
  components, on the same fixpoint driver (operators/linkrank.py:
  min_relax, Fixpoint): edges ⋈ frontier → union self → min-aggregate,
  with per-round lineage truncation (localCheckpoint / reliable checkpoint)
  and ONE scalar (changed count) to the driver, read in the barrier's own
  job (linkrank.py:_barrier).
- Peeling shrinks the live subgraph monotonically via semi-joins; the giant
  SCC (typically >25% of a web graph, Broder et al.) leaves in round one.
- Adversarial long-chain DAGs degrade to O(V) rounds; the documented scale
  remedy is pivot-based FW-BW; the reach labels already use the same
  pointer doubling as connected_components (linkrank.py:pointer_double).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark.cache import cached
from giranking_spark.operators.linkrank import (
    Fixpoint,
    _barrier,
    min_relax,
    pointer_double,
)

#: backstop on min-label propagation rounds (bounded by directed diameter)
MAX_PROP_ROUNDS = 100
#: backstop on peel rounds (bounded by #SCCs along the min-id order)
MAX_PEEL_ROUNDS = 64


def _reverse(edges: DataFrame) -> DataFrame:
    return edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))


def min_reach_labels(
    edges: DataFrame,
    verts: DataFrame,
    checkpoint_dir: str | None = None,
    max_rounds: int = MAX_PROP_ROUNDS,
) -> DataFrame:
    """(id, lbl) with lbl = min id that reaches ``id`` along edge direction
    (reflexive: every vertex reaches itself). Each superstep is relax →
    pointer-double → relax (:func:`min_relax`, :func:`pointer_double`;
    reach-min labels are transitive), and one scalar — the changed count of
    the second relax — goes to the driver. Zero changes there is the
    fixpoint: one full relax pass that changes nothing. Two relaxes per
    barrier because every counting barrier costs jobs of its own (sf0.01
    graph_scc: 148 jobs, against 194 with one relax and a barriered
    doubling per superstep). ``edges`` is the caller's checkpoint, read
    as is (``caller_owned``): a persisted copy of it measured more jobs
    (sf0.01 graph_scc 144 → 178)."""
    fx = Fixpoint(
        edges, layout=None, checkpoint_dir=checkpoint_dir, caller_owned=True
    )

    def step(s: DataFrame) -> DataFrame:
        doubled = pointer_double(fx, min_relax(fx, s, "lbl"), "lbl")
        return min_relax(fx, doubled, "lbl")

    state = fx.run(
        fx.start(verts.select("id", F.col("id").alias("lbl"))),
        step,
        max_rounds,
        converge=True,
    )
    if fx.changed:
        raise ValueError(
            f"min-label propagation did not converge in {max_rounds} rounds"
        )
    return state


def strongly_connected_components(
    edges: DataFrame,
    checkpoint_dir: str | None = None,
    max_peel_rounds: int = MAX_PEEL_ROUNDS,
) -> DataFrame:
    """(id, scc_id) over the directed graph implied by ``edges`` (vertices
    implicit, same contract as the rank loop); scc_id = minimum member id —
    the deterministic canonical label the oracle can replay."""
    spark = edges.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    live_e = edges.select("src", "dst").distinct().coalesce(width)
    live_v = (
        live_e.select(F.col("src").alias("id"))
        .unionByName(live_e.select(F.col("dst").alias("id")))
        .distinct()
    )

    barrier = partial(_barrier, checkpoint_dir=checkpoint_dir)
    rows = F.count(F.lit(1)).alias("n")  # a barrier scalar: {"n": row count}
    live_e, _ = barrier(live_e)
    live_v, live = barrier(live_v, rows)
    # assigned rows accumulate as a LIST of individually-checkpointed parts
    # (unioned lazily on return) — re-materializing the growing union every
    # round would copy O(rounds x V) rows
    parts: list[DataFrame] = []

    def _restrict(edges_df: DataFrame, verts_df: DataFrame) -> DataFrame:
        return edges_df.join(
            verts_df.select(F.col("id").alias("src")), "src", "left_semi"
        ).join(verts_df.select(F.col("id").alias("dst")), "dst", "left_semi")

    for _ in range(max_peel_rounds):
        if live["n"] == 0:
            break
        # Trim phase (FW-BW-Trim, Hong et al.): a vertex with no in-edge or
        # no out-edge in the live subgraph is a singleton SCC — assign it as
        # its own scc_id and peel, repeat to fixpoint. This strips the
        # acyclic periphery (most of a bow-tie graph), leaving the label
        # fixpoints only the cyclic remainder. TWO trim steps fuse into one
        # materialization (chain peels from both ends two hops a job); a
        # batch with no change is the trim fixpoint.
        while live["n"] > 0:
            v1 = live_v.join(
                live_e.select(F.col("src").alias("id")).distinct(),
                "id",
                "left_semi",
            ).join(
                live_e.select(F.col("dst").alias("id")).distinct(),
                "id",
                "left_semi",
            )
            e1 = _restrict(live_e, v1)
            keep, kept = barrier(
                v1.join(
                    e1.select(F.col("src").alias("id")).distinct(),
                    "id",
                    "left_semi",
                ).join(
                    e1.select(F.col("dst").alias("id")).distinct(),
                    "id",
                    "left_semi",
                ),
                rows,
            )
            if kept == live:
                break
            trimmed, _ = barrier(
                live_v.join(keep, "id", "left_anti").select(
                    "id", F.col("id").alias("scc_id")
                )
            )
            parts.append(trimmed)
            live_v, live = keep, kept
            live_e, _ = barrier(_restrict(live_e, live_v))
        if live["n"] == 0:
            break
        fwd = min_reach_labels(live_e, live_v, checkpoint_dir)
        bwd = min_reach_labels(_reverse(live_e), live_v, checkpoint_dir)
        done, _ = barrier(
            fwd.join(bwd.select("id", F.col("lbl").alias("_b")), "id")
            .filter(F.col("lbl") == F.col("_b"))
            .select("id", F.col("lbl").alias("scc_id"))
        )
        parts.append(done)
        live_v, live = barrier(live_v.join(done, "id", "left_anti"), rows)
        live_e, _ = barrier(_restrict(live_e, live_v))
    # checked AFTER the loop, not via for/else: a graph that converges on
    # exactly the last allowed round leaves the for without break (the
    # empty-live guard only runs at the top of the NEXT iteration) and a
    # for/else would raise despite no live vertex.
    if live["n"] > 0:
        raise ValueError(
            f"SCC peeling did not finish in {max_peel_rounds} rounds"
        )
    if not parts:  # empty graph
        return live_v.select("id", F.col("id").alias("scc_id"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def directed_closure(
    edges: DataFrame,
    seeds: DataFrame,
    checkpoint_dir: str | None = None,
    max_rounds: int = MAX_PROP_ROUNDS,
) -> DataFrame:
    """(id) — vertices reachable from ``seeds`` along edge direction
    (reflexive). A :func:`min_relax` of a constant flag on the fixpoint
    driver: a reached vertex's flag never drops, so each superstep's
    frontier is exactly the newly reached set, and the loop stops when a
    superstep reaches nothing new (one scalar per superstep). The state
    grows from the seeds, so it is sized by the vertices they can reach
    (``start(seeded=True)``)."""
    fx = Fixpoint(edges, layout=None, checkpoint_dir=checkpoint_dir)
    state = fx.start(seeds.select("id", F.lit(0).alias("_r")), seeded=True)
    state = fx.run(state, lambda s: min_relax(fx, s, "_r"), max_rounds, converge=True)
    if fx.changed:
        raise ValueError(f"closure did not converge in {max_rounds} rounds")
    return state.select("id")


#: bow-tie class labels, in priority order of assignment
BOWTIE_CLASSES = (
    "core", "in", "out", "tube", "tendril_in", "tendril_out", "disconnected"
)


def bowtie_classes(
    edges: DataFrame,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, cls) — Broder bow-tie class of every vertex, relative to the
    SCC of the highest-degree vertex (tie-break: minimum id) — the standard
    FW-BW pivot choice; on a bow-tie-regime graph the max-degree vertex sits
    in the giant SCC, so the pivot's SCC IS the core (verified against the
    full SCC run on the fixture). Classes:

      core        SCC of the pivot: FW(pivot) ∩ BW(pivot)
      in          reaches core (not core)
      out         reachable from core (not core)
      tube        on an IN→OUT path avoiding core
      tendril_in  reachable from IN without touching core (dead end)
      tendril_out reaches OUT without touching core (fed from nowhere)
      disconnected  everything else (no directed relation to core)

    Because every core member reaches (and is reached by) the pivot,
    FW(core) == FW(pivot) and BW(core) == BW(pivot) — so the whole map
    costs FOUR directed closures (pivot fwd/bwd + tube/tendril closures on
    the core-removed subgraph), never a full SCC partition. Each closure
    runs on the fixpoint driver (:func:`directed_closure`); the deduped
    edges are cached for the block, everything else is joins off the
    closures' checkpointed results, and the output is checkpointed once.
    The only driver traffic is the per-superstep frontier count."""
    spark = edges.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = edges.select("src", "dst").distinct().coalesce(width)
    def _flag(s: DataFrame, name: str) -> DataFrame:
        return s.select("id", F.lit(True).alias(name))

    cls = (
        F.when(F.col("_core"), F.lit("core"))
        .when(F.col("_in"), F.lit("in"))
        .when(F.col("_out"), F.lit("out"))
        .when(F.col("_fi") & F.col("_to"), F.lit("tube"))
        .when(F.col("_fi"), F.lit("tendril_in"))
        .when(F.col("_to"), F.lit("tendril_out"))
        .otherwise(F.lit("disconnected"))
    )
    with cached(e):
        ids = e.select(F.col("src").alias("id")).unionByName(
            e.select(F.col("dst").alias("id"))
        )
        pivot = (
            ids.groupBy("id")
            .agg(F.count(F.lit(1)).alias("d"))
            .orderBy(F.col("d").desc(), F.col("id").asc())
            .limit(1)
            .select("id")
        )
        fwd = directed_closure(e, pivot, checkpoint_dir)
        bwd = directed_closure(_reverse(e), pivot, checkpoint_dir)
        core = fwd.join(bwd, "id", "left_semi")
        in_set = bwd.join(core, "id", "left_anti")
        out_set = fwd.join(core, "id", "left_anti")
        nc = e.join(core.select(F.col("id").alias("src")), "src", "left_anti").join(
            core.select(F.col("id").alias("dst")), "dst", "left_anti"
        )
        from_in = directed_closure(nc, in_set, checkpoint_dir)
        to_out = directed_closure(_reverse(nc), out_set, checkpoint_dir)
        lab = (
            ids.distinct()
            .join(_flag(core, "_core"), "id", "left")
            .join(_flag(in_set, "_in"), "id", "left")
            .join(_flag(out_set, "_out"), "id", "left")
            .join(_flag(from_in, "_fi"), "id", "left")
            .join(_flag(to_out, "_to"), "id", "left")
        )
        return _barrier(
            lab.select("id", cls.alias("cls")), checkpoint_dir=checkpoint_dir
        )[0]
