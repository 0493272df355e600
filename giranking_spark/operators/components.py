"""Connected components over the ranking graph (extension surface).

Hash-min label propagation: every vertex starts labeled with its own id and
repeatedly adopts the minimum label in its closed neighborhood until no label
changes. On convergence each component is labeled by its lexicographically
smallest member — a deterministic, engine-independent canonical label, which
is what makes an exact DuckDB oracle possible (recursive CTE over the same
undirected edge set; queries/compq.py).

Scale notes:
- Components, BFS, SSSP and per-seed BFS run on the rank loops' fixpoint
  driver (operators/linkrank.py:Fixpoint) in its convergence mode, with
  one shared superstep (linkrank.py:min_relax): the frontier's messages
  joined from the edges, unioned with the state's own rows, one
  min-aggregate shuffle. The k-core peel runs on the same driver with its
  own delta superstep. The driver owns the edge cache, the dispatch
  probe, the per-superstep barrier (linkrank.py:_barrier; state_{i+1}
  references state_i twice, so an uncheckpointed plan grows
  exponentially), the GC nudge and the release of the cache.
- The large-star/small-star alternation and the coreness peel still drive
  their own loops: the coreness phases on the driver measured more jobs
  (sf0.01: 88 against the peel's own 71, measured while a counted
  barrier still cost two extra jobs), and star CC waits for its sf10
  small-star fix.
- Iteration count is bounded by the graph diameter. For web/host graphs the
  effective diameter is small (tens); for adversarial chain graphs the
  large-star/small-star transform (Kiveris et al., "Connected Components in
  MapReduce and Beyond") drops rounds to O(log n) — implemented below as
  connected_components_star (equivalence-tested against this fixpoint).
- The convergence test ships ONE scalar (changed-label count) to the driver
  per iteration, read in the barrier's own job: the write that fills the
  checkpoint is observed with the count, so the test costs no job.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from giranking_spark.operators.linkrank import (
    Fixpoint,
    _barrier,
    min_relax,
    pointer_double,
)

#: hard cap on propagation rounds — a backstop against pathological
#: diameters, far above any web-graph effective diameter.
MAX_ITERATIONS = 50


def undirected_edges(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """Symmetrize (src, dst): union with the reversed edges.

    ``dedup=False`` skips the distinct — a full shuffle of the doubled edge
    relation that min-aggregating consumers (components, BFS) don't need:
    a duplicated neighbor changes no minimum. Keep the default for
    consumers with counting semantics."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    und = fwd.unionByName(rev)
    return und.distinct() if dedup else und


def _und_fixpoint(und: DataFrame, checkpoint_dir: str | None) -> Fixpoint:
    """The fixpoint driver of the symmetrized-relation loops below.

    The relation is hash-partitioned by src ONCE and persisted by the
    driver: every superstep joins on src, so the persisted layout
    satisfies the join's distribution requirement and the edges are never
    reshuffled or re-sorted again — supersteps exchange only the
    vertex-sized state (broadcast, else the shuffle-hash build side).
    Measured at sf10 (1.6M vertices, 117M und rows, state past the
    broadcast threshold): the previous coalesce-only layout re-exchanged
    the edges every round (258s total); this layout pays one up-front edge
    shuffle and each relax round streams the cache (151s total,
    ~12s/round)."""
    width = int(und.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return Fixpoint(
        und.repartition(width, "src"), layout=None, checkpoint_dir=checkpoint_dir
    )


def connected_components(
    edges: DataFrame,
    max_iterations: int = MAX_ITERATIONS,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, component) — component = min member id, exact fixpoint.

    ``edges`` is treated as undirected. Vertices are implicit (every id
    appearing as src or dst), matching the rank loop's implicit-vertex
    semantics (operators/linkrank.py).

    Each superstep is a :func:`min_relax` of the frontier's labels; at a
    relax fixpoint every edge's endpoints already share a label, so the
    loop stops there, before a doubling pass that could change nothing.
    Otherwise a :func:`pointer_double` pass behind its own barrier follows.
    """
    fx = _und_fixpoint(undirected_edges(edges, dedup=False), checkpoint_dir)
    state = fx.start(
        fx.edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
    )
    return fx.run(
        state,
        lambda s: min_relax(fx, s, "component"),
        max_iterations,
        converge=True,
        then=lambda s: pointer_double(fx, s, "component"),
    )


def _distances(
    und: DataFrame,
    state0: DataFrame,
    msg: Column,
    cap: int,
    checkpoint_dir: str | None,
    keys: tuple[str, ...] = ("id",),
) -> DataFrame:
    """Min-distance propagation from seed rows (BFS, SSSP, per-seed BFS):
    a :func:`min_relax` of ``dist`` with message ``msg`` per superstep, at
    most ``cap`` supersteps — the hop bound the oracles share. The state is
    sized for the broadcast decision by the vertices it can reach, not by
    its seeds (``Fixpoint.start(seeded=True)``)."""
    fx = _und_fixpoint(und, checkpoint_dir)
    state = fx.start(state0, keys=keys, seeded=True)
    return fx.run(state, lambda s: min_relax(fx, s, "dist", msg), cap, converge=True)


def component_sizes(components: DataFrame) -> DataFrame:
    """(component, n_members) per component, largest first."""
    return (
        components.groupBy("component")
        .agg(F.count("*").alias("n_members"))
        .orderBy(F.col("n_members").desc(), F.col("component").asc())
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, dist) — undirected hop distance from the seed set, multi-source
    BFS by min-distance propagation; only reached vertices appear.

    ``max_depth`` is a CONTRACT, not just a safety valve: vertices farther
    than max_depth hops are absent, which is also exactly what the
    depth-bounded recursive-CTE oracle computes — parity holds by
    construction at any depth cutoff. Converges in eccentricity(seeds)
    supersteps, far under the cap on web-shaped graphs; a vertex's dist is
    final the superstep it is first reached, so the frontier is exactly
    the newly reached set.
    """
    return _distances(
        undirected_edges(edges, dedup=False),
        seeds.select("id", F.lit(0).cast("long").alias("dist")),
        F.col("dist") + 1,
        max_depth,
        checkpoint_dir,
    )


KCORE_K = 2
KCORE_ROUNDS = 4


def kcore_peel(
    edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """Bounded k-core peeling: repeatedly remove vertices with undirected
    degree < ``k`` (and their incident edges) for ``rounds`` rounds; returns
    surviving (id, degree). With enough rounds this converges to the k-core;
    the FIXED round count is a contract with the unrolled-CTE oracle
    (queries/compq.py), exactly like the rank fixpoints.

    Scale shape (r12, DELTA formulation): the symmetrized edge relation is
    deduped, hash-partitioned by src ONCE, and persisted — it is never
    filtered, reshuffled, or re-checkpointed again. The loop carries one
    vertex-sized ``deg`` relation holding, at round t, every alive vertex
    with its count of alive neighbors. Per round only the DELTA is
    exchanged: dead_t = {v : deg_t(v) < k} leaves, and the update relation
    counts und rows with src in dead_t grouped by dst (src-side semi join
    partition-aligned with the persisted layout) — survivors subtract
    their dead-neighbor counts. By induction deg stays equal to the
    remove-edges-and-recount peel (und is symmetric, so counting dead-src
    rows per dst is counting dead neighbors), which is what the
    unrolled-CTE oracle computes; all arithmetic is exact BIGINT.

    Why delta instead of recount: the r9 recount shape semi-joined and
    re-aggregated the FULL edge relation every round — per-round exchange
    ~|und| map-side partials, which at the third decade (1.17B und rows,
    16M vertices) wrote ~15 GB of shuffle per round and exhausted local
    disk (two observed sf100 ENOSPC deaths) while doing rounds× the work a
    cluster needs. Delta exchange is proportional to the newly-dead
    vertices' incident edges: the full relation is aggregated exactly ONCE
    (deg_0), and every later round touches only the peeled fringe — the
    standard k-core decomposition work bound Σ|peeled edges| ≤ |und|.

    Adjacency-list substrate (r13): the r12 edge-row formulation still
    paid |und|-shaped constants twice — the symmetrize→distinct→
    repartition chain exchanged the 1.17B-row relation three times before
    the cache, deg_0 re-exchanged it a fourth time onto dst, and EVERY
    round re-scanned 1.17B cached rows just to probe the dead set (the
    sf100 wall was 889.6 s vs the components loop's 774.4 s on the same
    graph). The loop state the peel actually needs per src is just its
    neighbor list, so the cache is now (src, nbrs array<id>) built with
    ONE full exchange: symmetrize (no distinct) → repartition(src) →
    collect_set — both the per-group dedup and the aggregation reuse the
    src layout (hash partitioning on src satisfies the groupBy(src)
    distribution), so no second |und| exchange exists anywhere. deg_0 is
    size(nbrs) — exchange-free — and each round scans |V| cached rows
    (70x fewer at sf100), exploding only the DEAD vertices' lists, which
    emits exactly the und rows with a dead src the r12 shape semi-joined
    for: same counts, same oracle, Σ|exploded| ≤ |und| unchanged.

    The loop runs on the fixpoint driver (linkrank.py:Fixpoint) over the
    adjacency relation: ``_changed`` flags a vertex that dies in the next
    superstep (degree < k), so the flagged rows are the frontier, and the
    driver's count of them stops the loop once nothing is left to peel —
    parity-safe under the fixed-round oracle contract (the oracle unrolls
    all rounds; extra rounds change nothing at the fixpoint)."""
    width = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    fx = Fixpoint(
        undirected_edges(edges, dedup=False)
        .repartition(width, "src")
        .groupBy("src")
        .agg(F.collect_set("dst").alias("nbrs")),
        layout=None,
    )
    # full degrees once: alive_0 = all vertices, and every vertex appears as
    # a src because und is symmetric; collect_set already deduped the
    # doubled union, so size(nbrs) = distinct undirected degree
    deg = fx.start(
        fx.edges.select(
            F.col("src").alias("id"), F.size("nbrs").cast("bigint").alias("degree")
        )
    )

    def step(deg: DataFrame) -> DataFrame:
        dead = deg.filter(F.col("degree") < k).select("id")
        upd = (
            fx.join(dead)
            .select(F.explode("nbrs").alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("_dd"))
        )
        degree = F.col("degree") - F.coalesce(F.col("_dd"), F.lit(0))
        return (
            deg.filter(F.col("degree") >= k)
            .join(upd, "id", "left")
            .select("id", degree.alias("degree"), (degree < k).alias("_changed"))
        )

    # survivors with at least one surviving neighbor — deg already counts
    # alive neighbors at the final round boundary, so this is identical to
    # the recount formulation's final both-endpoints-filtered recount
    deg = fx.run(deg, step, rounds, converge=True)
    return deg.filter(F.col("degree") > 0)


def sssp_distances(
    wedges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, dist) — weighted single-source(-set) shortest path over an
    undirected weighted edge relation ``wedges(src, dst, w)`` by bounded
    Bellman-Ford relaxation; only reached vertices appear.

    ``max_rounds`` is a CONTRACT exactly like :func:`bfs_distances`'s depth:
    dist = min total weight over paths with ≤ max_rounds edges, which is
    also precisely what the hop-bounded recursive-CTE oracle computes —
    parity holds by construction at any bound. Weights are expected INTEGER
    (BIGINT) so distance sums are exact in every engine; derive scaled
    integer weights upstream for fractional costs.

    Same driver and superstep as :func:`bfs_distances`, with ``dist + w``
    messages (delta Bellman-Ford: only vertices whose dist improved last
    round relax their edges). Weights must be non-negative (the early-exit
    fires when no distance improves, which a negative cycle would defeat;
    the hop-bounded result itself stays well-defined either way)."""
    fwd = wedges.select("src", "dst", "w")
    rev = wedges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    return _distances(
        fwd.unionByName(rev),
        seeds.select("id", F.lit(0).cast("long").alias("dist")),
        F.col("dist") + F.col("w"),
        max_rounds,
        checkpoint_dir,
    )


def connected_components_star(
    edges: DataFrame,
    max_rounds: int = MAX_ITERATIONS,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, component) — identical contract and output to
    connected_components, computed with the alternating large-star /
    small-star algorithm (Kiveris et al., 'Connected Components in
    MapReduce and Beyond', SoCC 2014): the O(log n)-round, edge-relation
    formulation whose intermediate size provably never exceeds the input
    edge count — the documented scale remedy for adversarial (long-chain)
    diameters where plain label propagation degrades to O(diameter).

    Representation: a pair list (u, v) meaning 'u and v are connected',
    oriented parent-last (v < u) between rounds.

      large-star(u): connect every neighbor > u to the minimum of u's
                     closed neighborhood
      small-star(u): connect u and every neighbor < u to that minimum

    Scale shape (r13): each phase hash-partitions its relation by ``u``
    ONCE (the dedup aggregate runs in place on that layout — hash(u)
    satisfies ClusteredDistribution([u, v]), the labelprop trick), the
    per-u-min relation joins back SHUFFLE_HASH with the vertex-sized min
    side as build (no sort of the edge-sized stream; both sides already
    satisfy the join's distribution), and small-star emits its two output
    kinds (re-pointed member + center) from ONE pass over the join via an
    inline 2-element explode — the previous union of two projections of
    ``j`` re-executed the whole join pipeline per branch. Convergence is
    an exact check (no parent still appears as a child), one scalar per
    round. On convergence the pair list is a star forest centered on each
    component's minimum member — the same canonical labels the
    transitive-closure oracle computes."""
    spark = edges.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # ONE pass over the (expensively derived) edge relation: the oriented
    # distinct pair list KEEPS self-loop rows so the vertex set can be
    # read back off the checkpoint instead of re-deriving edges — the
    # previous two-pass init re-ran the whole edge derivation for verts.
    pairs = (
        edges.select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .repartition(width, "u")
        .dropDuplicates(["u", "v"])
    )

    barrier = partial(_barrier, checkpoint_dir=checkpoint_dir)
    pairs, _ = barrier(pairs)
    verts, _ = barrier(
        pairs.select(F.col("u").alias("id"))
        .unionByName(pairs.select(F.col("v").alias("id")))
        .distinct()
        .coalesce(width)
    )
    # orient parent-last; drop self loops (their vertices stay via verts)
    e = pairs.filter(F.col("u") != F.col("v"))

    def _part(p: DataFrame) -> DataFrame:
        return p.repartition(width, "u")

    def _minjoin(p: DataFrame, m: DataFrame):
        # p hash(u)-partitioned, m aggregated from it (same layout):
        # shuffle-hash with the per-u min relation as build side — zero
        # exchanges, zero sorts
        return p.join(m.hint("shuffle_hash"), "u")

    def _large(p: DataFrame) -> DataFrame:
        sym = _part(
            p.unionByName(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
        )
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        return (
            _minjoin(sym, m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .repartition(width, "u")
            .dropDuplicates(["u", "v"])
        )

    def _small(p: DataFrame) -> DataFrame:
        # p arrives hash(u)-partitioned and deduped from _large
        m = p.groupBy("u").agg(F.min("v").alias("m"))
        j = _minjoin(p, m)
        # one pass: member v re-pointed to m (skip when v IS the min —
        # null element, filtered), plus the center row (u, m)
        out = (
            j.select(
                F.explode(
                    F.array(
                        F.when(
                            F.col("v") != F.col("m"),
                            F.struct(
                                F.col("v").alias("u"), F.col("m").alias("v")
                            ),
                        ),
                        F.struct(F.col("u"), F.col("m").alias("v")),
                    )
                ).alias("p")
            )
            .filter(F.col("p").isNotNull())
            .select("p.u", "p.v")
        )
        return out.repartition(width, "u").dropDuplicates(["u", "v"])

    for _ in range(max_rounds):
        # one large+small alternation per materialization — fusing two was
        # measured SLOWER at fixture scale (the nested sym-union plan costs
        # Catalyst more than the saved job)
        e, _ = barrier(_small(_large(e)))
        # exact convergence test, ONE scalar: the pair list is a star forest
        # (= the alternation's fixpoint — both phases are no-ops on a star
        # forest, and parent-last orientation makes every center the
        # component minimum) iff no parent still appears as a child
        # the distinct looks redundant under a left_semi (existence match),
        # but it is the probe's map-side reducer: parents are clustered on
        # the hash(u) layout, so the partial aggregate collapses the
        # exchange to ~|centers| rows where the bare projection would
        # exchange all |E| (r13: measured neutral at sf0.1 — 6.90 vs
        # 6.95 s interleaved — kept for the scale posture)
        chained = e.join(
            e.select(F.col("u").alias("v")).distinct(), "v", "left_semi"
        ).count()
        if chained == 0:
            break
    else:
        raise ValueError(
            f"star alternation did not converge in {max_rounds} rounds"
        )
    comp = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return (
        verts.join(comp, "id", "left")
        .select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )
    )


def per_seed_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(seed, id, dist) — per-seed undirected hop distances, all seeds in
    ONE fixpoint: the state is keyed (seed, id), so k seeds cost k× state
    rows, not k separate propagations (the standard multi-probe trick for
    eccentricity / diameter estimation) — and the broadcast decision sizes
    it that way. Same superstep and depth-cap CONTRACT as bfs_distances —
    the depth-bounded recursive-CTE oracle computes the identical cutoff."""
    return _distances(
        undirected_edges(edges, dedup=False),
        seeds.select(
            F.col("id").alias("seed"), "id", F.lit(0).cast("long").alias("dist")
        ),
        F.col("dist") + 1,
        max_depth,
        checkpoint_dir,
        keys=("seed", "id"),
    )


#: full-decomposition contract constants (shared with the unrolled oracle):
#: phases k = 2..CORENESS_KMAX, at most CORENESS_ROUNDS peels per phase —
#: BOTH sides cap identically, so parity holds even before convergence;
#: fixture convergence within the caps is pinned by tests.
CORENESS_KMAX = 4
#: the sf0.01 fixture's slowest phase (k=3) unravels an 8-round chain —
#: measured by tests/test_wave14_ops.py::TestCoreness, which pins oracle
#: output == the exact sequential peel so an insufficient cap can never
#: ship again (both engines cap identically, so the driver hash can't
#: catch a too-small cap by itself)
CORENESS_ROUNDS = 10


def coreness_peel(
    edges: DataFrame,
    kmax: int = CORENESS_KMAX,
    rounds: int = CORENESS_ROUNDS,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, coreness) — full core decomposition (Seidman 1983; the standard
    distributed formulation: Montresor et al. 2011): phase k peels to the
    k-core; vertices present in the (k-1)-core but not the k-core have
    coreness k-1; survivors of the last phase get kmax. Every phase round
    recounts degrees over the surviving edge rows and keeps the edges with
    both endpoints alive by two semi-joins (single-column filter
    relations, no payload amplification), state is
    checkpoint-truncated per round, and the only driver traffic is one
    edge-count scalar per round, read at the round's barrier (it doubles
    as an exact early-exit: unchanged edge count == peel fixpoint, so tail
    rounds are free).

    Self-loops are dropped before peeling: a loop inflates its endpoint's
    degree without contributing core connectivity, diverging from the
    textbook core number (the oracle mirrors the same filter). With
    ``checkpoint_dir`` set, per-round truncation uses reliable checkpoints
    so an executor loss mid-peel cannot lose locally-checkpointed blocks
    (same posture as bowtie_classes)."""
    barrier = partial(_barrier, checkpoint_dir=checkpoint_dir)
    rows = F.count(F.lit(1)).alias("n")  # a barrier scalar: {"n": edge rows}
    e, size = barrier(
        undirected_edges(edges).filter(F.col("src") != F.col("dst")), rows
    )
    prev_verts, _ = barrier(e.select(F.col("src").alias("id")).distinct())
    parts: list[DataFrame] = []
    for k in range(2, int(kmax) + 1):
        for _ in range(int(rounds)):
            if size["n"] == 0:
                break
            deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            keep = deg.filter(F.col("deg") >= k).select(
                F.col("src").alias("id")
            )
            e, kept = barrier(
                e.join(keep, e.src == keep.id, "left_semi").join(
                    keep, F.col("dst") == keep.id, "left_semi"
                ),
                rows,
            )
            if kept == size:
                break
            size = kept
        surv, _ = barrier(e.select(F.col("src").alias("id")).distinct())
        parts.append(
            prev_verts.join(surv, "id", "left_anti").select(
                "id", F.lit(k - 1).cast("long").alias("coreness")
            )
        )
        prev_verts = surv
    parts.append(
        prev_verts.select(
            "id", F.lit(int(kmax)).cast("long").alias("coreness")
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
