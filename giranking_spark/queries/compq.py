"""Connected-components queries with a recursive-CTE DuckDB oracle.

The Spark side runs the iterative hash-min fixpoint
(operators/components.py); the oracle computes the same canonical labeling
(component = lexicographically smallest reachable id) via WITH RECURSIVE
reachability over the identical undirected edge set — two genuinely
different algorithms agreeing value-for-value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window

from pyspark.sql import functions as F

from giranking_spark.cache import cached
from giranking_spark.operators import linkrank as lr
from giranking_spark.operators.components import (
    bfs_distances,
    component_sizes,
    connected_components,
    undirected_edges,
)
from giranking_spark.queries.graph import EDGES_SQL, TRUSTED_PRED
from giranking_spark.sources.tables import derive_edges, load_table

#: shared Spark/oracle depth cutoff — parity by construction (see
#: operators/components.py:bfs_distances)
BFS_MAX_DEPTH = 20

_REACH_SQL = (
    f"WITH RECURSIVE edges AS MATERIALIZED ({EDGES_SQL}), "
    "und AS MATERIALIZED (SELECT src, dst FROM edges "
    "UNION SELECT dst AS src, src AS dst FROM edges), "
    "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM und), "
    "r AS (SELECT id AS v, id AS lbl FROM verts "
    "UNION SELECT u.dst AS v, r.lbl FROM r JOIN und u ON u.src = r.v), "
    "comp AS (SELECT v AS id, min(lbl) AS component FROM r GROUP BY v)"
)


def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return connected_components(derive_edges(spark, sf_dir))


def q_graph_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return component_sizes(connected_components(derive_edges(spark, sf_dir)))


def q_graph_bfs_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance from the TrustRank seed set — the
    'distance from trusted core' spam signal (Gyöngyi et al., TrustRank)."""
    e = derive_edges(spark, sf_dir)
    seeds = lr.all_vertex_ids(None, e).filter(
        (F.substring("id", 1, 1) == "c")
        & (F.substring("id", 2, 100).cast("long") % 10 == 0)
    )
    return bfs_distances(e, seeds, BFS_MAX_DEPTH)


def q_graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the derived graph (undirected degree →
    vertex count): the standard power-law diagnostic that sizes skew
    mitigations (salting, AQE skew-join) before a big run. Two map-side
    combinable aggregations; no joins."""
    und = undirected_edges(derive_edges(spark, sf_dir), dedup=True)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices")
    )


def q_graph_degree_assort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the derived graph: Pearson correlation of
    endpoint degrees over the (symmetric) undirected edge list — positive
    for hub-to-hub wiring, negative for hub-and-spoke (web graphs are
    typically disassortative).  Determinism: the correlation is assembled
    from EXACT integer sums (n, Σd, Σd², Σdxdy all fit int64 by orders of
    magnitude) and only the final divide runs in double, so the value is
    bit-reproducible cross-engine.  Shapes: one degree aggregation + two
    broadcastable joins of edges against the (vertex, degree) relation +
    one map-side-combinable aggregate — no windows, no fixpoints.  The
    undirected edge list and the degree relation are each referenced more
    than once, so both are persisted for the single pass and released
    after the (1-row) result materializes."""
    und = undirected_edges(derive_edges(spark, sf_dir), dedup=True)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    # r13 note (guide §1.1): a moment-based rewrite (n/Σdx/Σdx² from the
    # degree relation alone + one join for Σdx·dy) measured SLOWER in an
    # interleaved A/B (4.56 → 5.29 s): with the vertex-sized degree
    # relation under the broadcast threshold, the two joins below are
    # broadcast-hash over ONE stream of the persisted edge list with zero
    # exchanges, which beats the rewrite's extra groupBy exchange + extra
    # aggregates. Past the broadcast threshold the moment rewrite wins
    # (one |E| exchange instead of two) — revisit if degree relations
    # ever outgrow the threshold.
    with cached(und, deg):
        e = und.join(
            deg.select(F.col("id").alias("src"), F.col("d").alias("dx")), "src"
        ).join(deg.select(F.col("id").alias("dst"), F.col("d").alias("dy")), "dst")
        a = e.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("dx").alias("sx"),
            F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
            F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        )
        n = F.col("n").cast("double")
        sx = F.col("sx").cast("double")
        num = n * F.col("sxy").cast("double") - sx * sx
        den = n * F.col("sxx").cast("double") - sx * sx
        return a.select(
            F.col("n").alias("n_edges"),
            F.round(
                F.when(den != 0, num / den).otherwise(F.lit(0.0)), 6
            ).alias("assortativity"),
        ).localCheckpoint()


NEG_K = 3  # negative candidates per positive edge


def q_graph_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for link-prediction / GNN training:
    for every positive edge (src, dst) draw NEG_K pseudo-random supplier
    vertices via the portable hash — candidate k is
    ``'s' || (1 + H(src:k) mod S)`` with S = max supplier key (the fixture's
    supplier keys are dense 0..S, so every candidate in 1..S names a real
    vertex — pinned by tests/test_wave11_ops.py; a general graph would
    substitute an indexed vertex table) — then REJECT candidates that
    collide with a real edge (the standard rejection step; per-src negative
    counts may therefore vary).

    Scale shape: candidate generation is a pure map over edges x NEG_K
    (explode of a constant array, no shuffle); the single data-sized
    operation is the (src, dst)-keyed LEFT ANTI join against the positive
    edges; S rides as a broadcast 1-row aggregate.  Hash-driven selection
    keeps the sample reproducible and oracle-checkable."""
    from giranking_spark.functions.hashing import md5_u32

    e = derive_edges(spark, sf_dir)
    smax = (
        load_table(spark, sf_dir, "supplier")
        .agg(F.max("s_suppkey").cast("long").alias("s_max"))
    )
    cand = (
        e.select("src")
        .distinct()
        .crossJoin(F.broadcast(smax))
        .select(
            "src",
            F.explode(
                F.array(*[F.lit(k) for k in range(1, NEG_K + 1)])
            ).alias("k"),
            "s_max",
        )
        .select(
            "src",
            "k",
            F.concat(
                F.lit("s"),
                (
                    F.lit(1)
                    + md5_u32(F.concat_ws(":", "src", F.col("k").cast("string")))
                    % F.col("s_max")
                ).cast("string"),
            ).alias("dst"),
        )
    )
    return cand.join(e, ["src", "dst"], "left_anti").select(
        "src", F.col("dst").alias("neg_dst"), F.col("k").cast("int").alias("k")
    )


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the supplier co-occurrence projection (suppliers
    sharing an order). The ranking graph itself is bipartite (triangle-free
    by construction), so the projection supplies a graph where the count is
    meaningful.

    Degree-oriented (compact-forward) algorithm: each undirected edge is
    re-oriented from its (degree, id)-smaller endpoint, bounding every
    vertex's wedge fan-out by the graph's arboricity (O(sqrt m)) — a
    celebrity hub contributes ZERO wedges instead of deg² of them
    (operators/triangles.py). The count is exact and orientation-
    invariant, so the oracle keeps its simpler id-oriented form: same
    value, different physical plan."""
    from giranking_spark.operators.triangles import triangle_relation

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    co = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .distinct()
    )
    return triangle_relation(co).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation communities — the
    community-quality metric that tells a pipeline whether its clustering
    is better than chance wiring: per community c,
    ``contrib = e_c/m − (d_c/2m)²`` (intra-edge fraction minus the expected
    fraction under the degree-preserving null model); Q = Σ contrib.

    Determinism: e_c, d_c and m are exact integer counts; only the final
    two divisions and one square run in double — bit-reproducible
    cross-engine (the assortativity recipe).  Shapes: the canonical (u<v)
    edge list joins the label relation twice (both equi-joins), degrees are
    one aggregation, m rides as a broadcast 1-row count.  The label
    relation is persisted for its three references and released after the
    per-community result materializes.

    On the bipartite fixture graph LPA famously oscillates into the
    two-sided partition, so every edge is inter-community and Q = −0.5 —
    the metric correctly flagging a degenerate clustering (that honest
    negative is exactly what a pipeline uses Q for)."""
    from giranking_spark.operators.labelprop import (
        label_propagation,
        lpa_substrate,
    )

    e = derive_edges(spark, sf_dir)
    # One substrate for the whole query (r13, guide §2.4): the LPA loop,
    # the canonical (u<v) edge list, the total-edge count m and the degree
    # relation all read the SAME persisted hash(src)-partitioned deduped
    # symmetrized relation. canon = und.filter(src <= dst) is exactly
    # e.select(least, greatest).distinct() (every undirected pair appears
    # in und in both orientations, once each; derive_edges is loop-free by
    # construction — 'c' vs 's' prefixes), and the degree groupBy runs
    # exchange-free on the persisted layout. Previously canon and deg each
    # re-derived the edges and paid their own full-edge distinct shuffle.
    with cached(lpa_substrate(e)) as und, cached(
        label_propagation(e, substrate=und)
    ) as labels:
        canon = und.filter(F.col("src") <= F.col("dst")).select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        )
        m = canon.agg(F.count(F.lit(1)).cast("long").alias("m"))
        deg = und.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).cast("long").alias("d")
        )
        la = labels.select(F.col("id").alias("u"), F.col("label").alias("lu"))
        lb = labels.select(F.col("id").alias("v"), F.col("label").alias("lv"))
        intra = (
            canon.join(la, "u")
            .join(lb, "v")
            .filter(F.col("lu") == F.col("lv"))
            .groupBy(F.col("lu").alias("label"))
            .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
        )
        dtot = (
            deg.join(labels, "id")
            .groupBy("label")
            .agg(F.sum("d").cast("long").alias("d_c"))
        )
        mm = F.col("m").cast("double")
        half = F.col("d_c").cast("double") / (2 * mm)
        return (
            dtot.join(intra, "label", "left")
            .crossJoin(F.broadcast(m))
            .select(
                "label",
                F.coalesce("e_c", F.lit(0)).cast("long").alias("n_intra"),
                "d_c",
                F.round(
                    F.coalesce("e_c", F.lit(0)).cast("double") / mm - half * half, 6
                ).alias("contrib"),
            )
        ).localCheckpoint()


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities on the derived graph (operators/hits.py) —
    the oracle unrolls the fixed iteration count into chained CTEs, like
    the LinkRank oracle."""
    from giranking_spark.operators.hits import hits_scores

    return hits_scores(derive_edges(spark, sf_dir))


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peel (operators/components.py:kcore_peel); the oracle
    unrolls the fixed round count."""
    from giranking_spark.operators.components import kcore_peel

    return kcore_peel(derive_edges(spark, sf_dir))


def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank to a deterministic seed set (operators/ppr.py);
    the oracle unrolls the fixed iteration count into chained CTEs."""
    from giranking_spark.operators.ppr import ppr_scores

    return ppr_scores(derive_edges(spark, sf_dir))


def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation
    (operators/labelprop.py); unrolled-round oracle."""
    from giranking_spark.operators.labelprop import label_propagation

    return label_propagation(derive_edges(spark, sf_dir))


NJ_THRESHOLD = 0.1        # neighbor-Jaccard emission floor
NJ_MAX_DF = 100           # prune hub sources (out-degree cap) before the
                          # wedge self-join — the near-dup max_df skew guard
                          # applied to graphs; mirrored in the oracle


def q_graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural similarity / link prediction: Jaccard overlap of
    IN-neighbor sets between destination vertices sharing ≥1 source —
    (id_a, id_b, jaccard) with id_a < id_b. Same-shape pipeline as
    dedup_ngram_jaccard with (doc, shingle) ↦ (dst, src): candidate pairs
    come from a bucketed equi-join on the shared source (never all-pairs),
    and sources with out-degree > NJ_MAX_DF are pruned first so a hub
    vertex cannot quadratically explode the wedge relation at scale.

    The r14 collect_list + combination-explode variant (each unordered
    pair emitted once, half the wedge rows) measured SLOWER than this
    codegen'd self-join at sf0.1 — higher-order array lambdas run
    interpreted, and the per-element slice() copies beat the saved rows
    (adamic A/B: join 5.5 s, posexplode+slice 10.4 s, nested-HOF 14.3 s
    warm) — so the join form stays; the shared ek relation is cached for
    the call only."""
    e = derive_edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("df"))
    # cache: ek feeds the per-dst sizes AND both self-join sides —
    # without it the orders⋈lineitem edge derivation executes once per
    # reference
    ek = e.join(deg.filter(F.col("df") <= NJ_MAX_DF).select("src"), "src")
    with cached(ek):
        sizes = ek.groupBy("dst").agg(F.count(F.lit(1)).alias("sz"))
        a = ek.select(F.col("dst").alias("id_a"), "src")
        b = ek.select(F.col("dst").alias("id_b"), "src")
        inter = (
            a.join(b, "src")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        return (
            inter.join(
                sizes.withColumnRenamed("dst", "id_a").withColumnRenamed("sz", "sz_a"),
                "id_a",
            )
            .join(
                sizes.withColumnRenamed("dst", "id_b").withColumnRenamed("sz", "sz_b"),
                "id_b",
            )
            .withColumn(
                "jaccard",
                F.round(
                    F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                    6,
                ),
            )
            .filter(F.col("jaccard") >= NJ_THRESHOLD)
            .select("id_a", "id_b", "jaccard")
        ).localCheckpoint()


def q_graph_weighted_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-weighted PageRank (operators/wrank.py) with deterministic
    weights w = 1 + length(dst) % 3 — the weight derivation is shared
    SQL-expressible text so the unrolled-CTE oracle scores the identical
    weighted graph."""
    from giranking_spark.operators.wrank import weighted_pagerank

    e = derive_edges(spark, sf_dir).withColumn(
        "w", (F.lit(1) + F.length("dst") % 3).cast("double")
    )
    return weighted_pagerank(e)


#: 2-hop expansion only routes through vertices of degree ≤ this cap — the
#: hub-pruning discipline that keeps Σ deg(mid)² from exploding a 2-hop
#: neighborhood join at scale (same role as NJ_MAX_DF above).
FEATURE_AGG_MAX_FANOUT = 64


def q_graph_feature_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style neighborhood feature aggregation: for every vertex,
    the mean feature of its 1-hop and (hub-pruned) 2-hop undirected
    neighborhoods, with the vertex degree as the node feature.  This is the
    message-passing layer of GNN feature prep expressed as two equi-join
    aggregations — no iteration, no UDF.

    Scale posture: the 1-hop pass is one join + one map-side-combinable
    groupBy.  The 2-hop pass is the dangerous one — enumerated naively its
    row count is Σ_mid deg(mid)², quadratic in hub degree.  Two guards:
    expansion only routes through intermediate vertices with degree ≤
    FEATURE_AGG_MAX_FANOUT (documented contract, mirrored in the oracle,
    the same neighborhood-sampling cap GraphSAGE itself applies), and —
    r14 — the wedge relation is never materialized AT ALL: the 2-hop
    aggregate is count/sum-decomposable, so each hub contributes ONE
    partial row per neighbor (for x ∈ N(mid): count += |N(mid)|−1,
    sum += S_mid − deg(x), exactly 'all 2-hop endpoints via mid except
    the path that returns to x') and the per-vertex totals are a second
    groupBy over Σ deg rows instead of Σ deg² wedge rows.  Paths that
    immediately return to the origin are excluded (the −deg(x)/−1 terms).
    Means over integer degrees are exact (sum/count of longs) so
    cross-engine parity holds at round-6."""
    # und feeds three consumers (deg + the shared und⋈deg join used by h1
    # and the 2-hop partials) and deg three — cache both so the
    # orders⋈lineitem derivation and the symmetrize-distinct shuffle run
    # once, not once per reference
    und = undirected_edges(derive_edges(spark, sf_dir))
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    with cached(und, deg):
        nd = und.join(deg.withColumnRenamed("id", "dst"), "dst")
        h1 = (
            nd.groupBy(F.col("src").alias("id"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_nbr"),
                F.round(F.avg("d"), 6).alias("mean_nbr_deg"),
            )
        )
        mid_ok = deg.filter(F.col("d") <= FEATURE_AGG_MAX_FANOUT).select(
            F.col("id").alias("src")
        )
        # per capped mid: its neighbor list with degrees, plus the group count
        # and degree sum; collect_list is bounded by FEATURE_AGG_MAX_FANOUT.
        # n_m == 1 groups emit no partial (their single neighbor has no 2-hop
        # path through this mid), matching the wedge formulation's absent rows.
        g = (
            nd.join(mid_ok, "src")
            .groupBy("src")
            .agg(
                F.collect_list(F.struct("dst", "d")).alias("nb"),
                F.count(F.lit(1)).cast("long").alias("n_m"),
                F.sum("d").alias("s_m"),
            )
            .filter(F.col("n_m") >= 2)
        )
        part = g.select(
            F.explode("nb").alias("x"), "n_m", "s_m"
        ).select(
            F.col("x.dst").alias("id"),
            (F.col("n_m") - 1).alias("cnt"),
            (F.col("s_m") - F.col("x.d")).alias("sm"),
        )
        h2 = part.groupBy("id").agg(
            F.sum("cnt").alias("n_2hop"),
            F.round(F.sum("sm") / F.sum("cnt"), 6).alias("mean_2hop_deg"),
        )
        return h1.join(h2, "id", "left").localCheckpoint()


def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link-prediction score: for vertex pairs sharing ≥1
    common neighbor, Σ_z 1/ln(deg(z)) over the common neighbors z —
    the classic weighted-common-neighbors heuristic (Adamic & Adar 2003)
    that down-weights promiscuous intermediaries.

    Same bucketed wedge shape as ``graph_neighbor_jaccard``: candidate
    pairs come from an equi-join on the shared neighbor (never
    all-pairs), and intermediaries with degree > FEATURE_AGG_MAX_FANOUT
    are pruned first — the hub guard, mirrored in the oracle, without
    which one celebrity vertex quadratically explodes the wedge relation.
    ln(deg) is never 0: a common neighbor is adjacent to both endpoints,
    so deg(z) ≥ 2.

    The r14 collect_list + combination-explode variant (half the wedge
    rows) was measured and REJECTED: interpreted array lambdas + per-pair
    slice copies ran 2.6× slower than this codegen'd self-join at sf0.1
    (join 5.5 s vs posexplode+slice 10.4 s vs nested-HOF 14.3 s warm,
    median-of-3). The join stays; undk is cached for the call only."""
    und = undirected_edges(derive_edges(spark, sf_dir))
    deg = und.groupBy(F.col("src").alias("z")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    zd = deg.filter(F.col("d") <= FEATURE_AGG_MAX_FANOUT)
    # prune BEFORE the wedge join: only edges whose intermediary survives
    # the degree cap enter the quadratic stage (joining zd after a×b would
    # materialize every hub wedge first — measured 22 s vs 3 s at sf0.1)
    undk = und.join(zd, und["src"] == zd["z"]).select(
        "z", F.col("dst").alias("id_a"), "d"
    )
    with cached(undk):
        b = undk.select("z", F.col("id_a").alias("id_b"))
        return (
            undk.join(b, "z")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_common"),
                F.round(F.sum(F.lit(1.0) / F.log("d")), 6).alias("aa_score"),
            )
        ).localCheckpoint()


from giranking_spark.functions.hashing import md5_u32_sql_duckdb  # noqa: E402

_NEG_SAMPLES_SQL = (
    "WITH edges AS MATERIALIZED (" + EDGES_SQL + "), "
    "smax AS (SELECT max(s_suppkey)::BIGINT AS s_max FROM supplier), "
    "cand AS (SELECT src, k, 's' || "
    "(1 + " + md5_u32_sql_duckdb("src || ':' || k::VARCHAR") + " % s_max)::VARCHAR"
    " AS dst FROM (SELECT DISTINCT src FROM edges) CROSS JOIN smax "
    f"CROSS JOIN (SELECT unnest([{', '.join(str(k) for k in range(1, NEG_K + 1))}]) AS k)) "
    "SELECT c.src, c.dst AS neg_dst, k::INT AS k FROM cand c "
    "ANTI JOIN edges e ON c.src = e.src AND c.dst = e.dst"
)

def q_graph_salsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA hubs & authorities (operators/salsa.py) — HITS with
    random-walk degree normalization (Lempel & Moran, WWW9 2000); the
    oracle unrolls the fixed iteration count half-step for half-step."""
    from giranking_spark.operators.salsa import salsa_scores

    return salsa_scores(derive_edges(spark, sf_dir))


QUERIES = {
    "graph_feature_agg": q_graph_feature_agg,
    "graph_adamic_adar": q_graph_adamic_adar,
    "graph_neighbor_jaccard": q_graph_neighbor_jaccard,
    "graph_weighted_rank": q_graph_weighted_rank,
    "graph_components": q_graph_components,
    "graph_kcore": q_graph_kcore,
    "graph_ppr": q_graph_ppr,
    "graph_label_prop": q_graph_label_prop,
    "graph_component_sizes": q_graph_component_sizes,
    "graph_bfs_dist": q_graph_bfs_dist,
    "graph_degree_dist": q_graph_degree_dist,
    "graph_degree_assort": q_graph_degree_assort,
    "graph_negative_samples": q_graph_negative_samples,
    "graph_modularity": q_graph_modularity,
    "graph_triangles": q_graph_triangles,
    "graph_hits": q_graph_hits,
    "graph_salsa": q_graph_salsa,
}


def _salsa_sql(iters: int) -> str:
    """Unrolled SALSA: mirrors operators/salsa.py half-step for half-step —
    contributions are weighted by 1/outdeg (auth step) and 1/indeg (hub
    step), then L1-normalized.  MATERIALIZED CTEs for the same
    multiplicative re-execution reason as _hits_sql."""
    parts = [
        f"edges AS MATERIALIZED ({EDGES_SQL})",
        "ew AS MATERIALIZED (SELECT e.src, e.dst, "
        "1.0 / o.d AS wout, 1.0 / i.d AS win FROM edges e "
        "JOIN (SELECT src, count(*) AS d FROM edges GROUP BY src) o "
        "ON e.src = o.src "
        "JOIN (SELECT dst, count(*) AS d FROM edges GROUP BY dst) i "
        "ON e.dst = i.dst)",
        "verts AS MATERIALIZED (SELECT id FROM "
        "(SELECT src AS id FROM ew UNION SELECT dst FROM ew))",
        "s0 AS MATERIALIZED (SELECT id, 1.0 AS hub, 1.0 AS auth FROM verts)",
    ]
    prev = "s0"
    for i in range(1, iters + 1):
        parts.append(
            f"a{i}r AS MATERIALIZED (SELECT v.id, v.hub, "
            "coalesce(x.s, 0.0) AS raw "
            f"FROM {prev} v LEFT JOIN (SELECT e.dst AS id, "
            f"sum(v2.hub * e.wout) AS s "
            f"FROM ew e JOIN {prev} v2 ON e.src = v2.id GROUP BY e.dst) x "
            "ON v.id = x.id)"
        )
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT id, hub, "
            f"raw / (SELECT sum(raw) FROM a{i}r) AS auth FROM a{i}r)"
        )
        parts.append(
            f"h{i}r AS MATERIALIZED (SELECT v.id, v.auth, "
            "coalesce(x.s, 0.0) AS raw "
            f"FROM a{i} v LEFT JOIN (SELECT e.src AS id, "
            f"sum(v2.auth * e.win) AS s "
            f"FROM ew e JOIN a{i} v2 ON e.dst = v2.id GROUP BY e.src) x "
            "ON v.id = x.id)"
        )
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT id, "
            f"raw / (SELECT sum(raw) FROM h{i}r) AS hub, auth FROM h{i}r)"
        )
        prev = f"s{i}"
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT id, round(hub, 6) AS hub, round(auth, 6) AS auth FROM {prev}"
    )


def _hits_sql(iters: int) -> str:
    """Unrolled HITS: per iteration an auth half-step (sum of hub over
    in-edges, L1-normalize) then a hub half-step over the NEW auth —
    mirroring operators/hits.py half-step for half-step. Every CTE is
    MATERIALIZED — each level is referenced twice (normalize + L1-total
    scalar subquery), so an inlined plan re-executes multiplicatively
    across levels: the SQL twin of the Spark side's per-half-step
    checkpoint barrier."""
    parts = [
        f"edges AS MATERIALIZED ({EDGES_SQL})",
        "verts AS MATERIALIZED (SELECT id FROM "
        "(SELECT src AS id FROM edges UNION SELECT dst FROM edges))",
        "s0 AS MATERIALIZED (SELECT id, 1.0 AS hub, 1.0 AS auth FROM verts)",
    ]
    prev = "s0"
    for i in range(1, iters + 1):
        parts.append(
            f"a{i}r AS MATERIALIZED (SELECT v.id, v.hub, coalesce(x.s, 0.0) AS raw "
            f"FROM {prev} v LEFT JOIN (SELECT e.dst AS id, sum(v2.hub) AS s "
            f"FROM edges e JOIN {prev} v2 ON e.src = v2.id GROUP BY e.dst) x "
            "ON v.id = x.id)"
        )
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT id, hub, "
            f"raw / (SELECT sum(raw) FROM a{i}r) AS auth FROM a{i}r)"
        )
        parts.append(
            f"h{i}r AS MATERIALIZED (SELECT v.id, v.auth, coalesce(x.s, 0.0) AS raw "
            f"FROM a{i} v LEFT JOIN (SELECT e.src AS id, sum(v2.auth) AS s "
            f"FROM edges e JOIN a{i} v2 ON e.dst = v2.id GROUP BY e.src) x "
            "ON v.id = x.id)"
        )
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT id, "
            f"raw / (SELECT sum(raw) FROM h{i}r) AS hub, auth FROM h{i}r)"
        )
        prev = f"s{i}"
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT id, round(hub, 6) AS hub, round(auth, 6) AS auth FROM {prev}"
    )

ORACLES = {
    "graph_adamic_adar": (
        f"WITH edges AS MATERIALIZED ({EDGES_SQL}), "
        "und AS MATERIALIZED (SELECT src, dst FROM edges "
        "UNION SELECT dst AS src, src AS dst FROM edges), "
        "deg AS (SELECT src AS z, count(*)::BIGINT AS d FROM und "
        "GROUP BY src), "
        f"zd AS (SELECT z, d FROM deg WHERE d <= {FEATURE_AGG_MAX_FANOUT}) "
        "SELECT a.dst AS id_a, b.dst AS id_b, count(*)::BIGINT AS n_common, "
        "round(sum(1.0 / ln(zd.d)), 6) AS aa_score "
        "FROM und a JOIN und b ON a.src = b.src AND a.dst < b.dst "
        "JOIN zd ON zd.z = a.src "
        "GROUP BY a.dst, b.dst"
    ),
    "graph_feature_agg": (
        f"WITH edges AS MATERIALIZED ({EDGES_SQL}), "
        "und AS MATERIALIZED (SELECT src, dst FROM edges "
        "UNION SELECT dst AS src, src AS dst FROM edges), "
        "deg AS MATERIALIZED (SELECT src AS id, count(*)::BIGINT AS d "
        "FROM und GROUP BY src), "
        "h1 AS (SELECT u.src AS id, count(*)::BIGINT AS n_nbr, "
        "round(avg(nd.d), 6) AS mean_nbr_deg "
        "FROM und u JOIN deg nd ON u.dst = nd.id GROUP BY u.src), "
        "two AS (SELECT a.src AS id, b.dst AS nbr2 "
        "FROM und a JOIN deg md ON md.id = a.dst "
        f"AND md.d <= {FEATURE_AGG_MAX_FANOUT} "
        "JOIN und b ON b.src = a.dst WHERE b.dst <> a.src), "
        "h2 AS (SELECT t.id, count(*)::BIGINT AS n_2hop, "
        "round(avg(nd.d), 6) AS mean_2hop_deg "
        "FROM two t JOIN deg nd ON t.nbr2 = nd.id GROUP BY t.id) "
        "SELECT h1.id, n_nbr, mean_nbr_deg, n_2hop, mean_2hop_deg "
        "FROM h1 LEFT JOIN h2 ON h1.id = h2.id"
    ),
    "graph_neighbor_jaccard": (
        f"WITH edges AS MATERIALIZED ({EDGES_SQL}), "
        "deg AS (SELECT src, count(*) AS df FROM edges GROUP BY src), "
        f"ek AS (SELECT e.src, e.dst FROM edges e JOIN deg USING (src) "
        f"WHERE df <= {NJ_MAX_DF}), "
        "sz AS (SELECT dst, count(*) AS sz FROM ek GROUP BY dst), "
        "inter AS (SELECT a.dst AS id_a, b.dst AS id_b, count(*) AS inter "
        "FROM ek a JOIN ek b ON a.src = b.src AND a.dst < b.dst "
        "GROUP BY a.dst, b.dst) "
        "SELECT id_a, id_b, "
        "round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard "
        "FROM inter JOIN sz sa ON id_a = sa.dst JOIN sz sb ON id_b = sb.dst "
        f"WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= {NJ_THRESHOLD}"
    ),
    "graph_components": f"{_REACH_SQL} SELECT id, component FROM comp",
    "graph_component_sizes": (
        f"{_REACH_SQL} "
        "SELECT component, CAST(count(*) AS BIGINT) AS n_members "
        "FROM comp GROUP BY component"
    ),
    "graph_degree_dist": (
        f"WITH edges AS ({EDGES_SQL}), "
        "und AS (SELECT src, dst FROM edges "
        "UNION SELECT dst AS src, src AS dst FROM edges), "
        "deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS degree "
        "FROM und GROUP BY src) "
        "SELECT degree, CAST(count(*) AS BIGINT) AS n_vertices "
        "FROM deg GROUP BY degree"
    ),
    "graph_negative_samples": _NEG_SAMPLES_SQL,
    "graph_degree_assort": (
        f"WITH edges AS ({EDGES_SQL}), "
        "und AS (SELECT src, dst FROM edges "
        "UNION SELECT dst AS src, src AS dst FROM edges), "
        "deg AS (SELECT src AS id, count(*)::BIGINT AS d "
        "FROM und GROUP BY src), "
        "e AS (SELECT a.d AS dx, b.d AS dy FROM und "
        "JOIN deg a ON und.src = a.id JOIN deg b ON und.dst = b.id), "
        "s AS (SELECT count(*)::BIGINT AS n, sum(dx)::BIGINT AS sx, "
        "sum(dx*dy)::BIGINT AS sxy, sum(dx*dx)::BIGINT AS sxx FROM e) "
        "SELECT n AS n_edges, "
        "round(CASE WHEN (n::DOUBLE * sxx - sx::DOUBLE * sx) <> 0 "
        "THEN (n::DOUBLE * sxy - sx::DOUBLE * sx) / "
        "(n::DOUBLE * sxx - sx::DOUBLE * sx) ELSE 0.0 END, 6) "
        "AS assortativity FROM s"
    ),
    "graph_triangles": (
        "WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem), "
        "co AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v "
        "FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey "
        "AND a.l_suppkey < b.l_suppkey) "
        "SELECT CAST(count(*) AS BIGINT) AS n_triangles "
        "FROM co e1 JOIN co e2 ON e1.v = e2.u "
        "JOIN co e3 ON e3.u = e1.u AND e3.v = e2.v"
    ),
    "graph_hits": None,  # filled below (needs HITS_ITERATIONS import)
    "graph_salsa": None,  # filled below (needs SALSA_ITERATIONS import)
    "graph_bfs_dist": (
        f"WITH RECURSIVE edges AS MATERIALIZED ({EDGES_SQL}), "
        "und AS MATERIALIZED (SELECT src, dst FROM edges "
        "UNION SELECT dst AS src, src AS dst FROM edges), "
        "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM und), "
        f"seeds AS MATERIALIZED (SELECT id FROM verts WHERE {TRUSTED_PRED}), "
        "r AS (SELECT id AS v, 0 AS d FROM seeds "
        "UNION SELECT u.dst AS v, r.d + 1 AS d FROM r JOIN und u ON u.src = r.v "
        f"WHERE r.d < {BFS_MAX_DEPTH}) "
        "SELECT v AS id, CAST(min(d) AS BIGINT) AS dist FROM r GROUP BY v"
    ),
}

from giranking_spark.operators.hits import HITS_ITERATIONS  # noqa: E402
from giranking_spark.operators.ppr import (  # noqa: E402
    PPR_DAMPING,
    PPR_ITERATIONS,
    PPR_SEED_PRED,
)

ORACLES["graph_hits"] = _hits_sql(HITS_ITERATIONS)
from giranking_spark.operators.salsa import SALSA_ITERATIONS  # noqa: E402
ORACLES["graph_salsa"] = _salsa_sql(SALSA_ITERATIONS)


def _ppr_sql(iters: int) -> str:
    """Unrolled PPR mirroring operators/ppr.py update-for-update: same
    float64 constants (embedded via repr), same operation order, so values
    agree to the 6-decimal rounding."""
    t, d = repr(1.0 - PPR_DAMPING), repr(PPR_DAMPING)
    parts = [
        f"edges AS MATERIALIZED ({EDGES_SQL})",
        "verts AS MATERIALIZED (SELECT id FROM "
        "(SELECT src AS id FROM edges UNION SELECT dst FROM edges))",
        "deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        # share = seed/ns guarded to exact 0.0 on a seedless graph — the
        # same op order as the Spark side (teleport * (seed/ns))
        "s0 AS MATERIALIZED (SELECT v.id, "
        f"CASE WHEN {PPR_SEED_PRED} THEN 1.0 / ns.ns ELSE 0.0 END AS score, "
        "coalesce(d.outdeg, 0) AS outdeg, "
        f"CASE WHEN {PPR_SEED_PRED} THEN 1.0 ELSE 0.0 END AS seed, ns.ns AS ns "
        "FROM verts v LEFT JOIN deg d ON v.id = d.src CROSS JOIN "
        f"(SELECT sum(CASE WHEN {PPR_SEED_PRED} THEN 1.0 ELSE 0.0 END) AS ns "
        "FROM verts) ns)",
        "ex AS MATERIALIZED (SELECT e.src, e.dst, d.outdeg "
        "FROM edges e JOIN deg d ON e.src = d.src)",
    ]
    prev = "s0"
    for i in range(1, iters + 1):
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT ex.dst, sum(s.score / ex.outdeg) AS msg "
            f"FROM ex JOIN {prev} s ON ex.src = s.id GROUP BY ex.dst)"
        )
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT coalesce(sum(score), 0.0) AS dangling "
            f"FROM {prev} WHERE outdeg = 0)"
        )
        share = "(CASE WHEN s.seed > 0 THEN s.seed / s.ns ELSE 0.0 END)"
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT s.id, "
            f"{t} * {share} + {d} * (coalesce(m.msg, 0.0) "
            f"+ dd.dangling * {share}) AS score, "
            f"s.outdeg, s.seed, s.ns FROM {prev} s "
            f"LEFT JOIN m{i} m ON s.id = m.dst CROSS JOIN d{i} dd)"
        )
        prev = f"s{i}"
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT id, round(score, 6) AS score FROM {prev}"
    )


ORACLES["graph_ppr"] = _ppr_sql(PPR_ITERATIONS)

from giranking_spark.operators.wrank import (  # noqa: E402
    WRANK_DAMPING,
    WRANK_ITERATIONS,
)


def _wrank_sql(iters: int) -> str:
    """Unrolled weighted PageRank mirroring operators/wrank.py
    update-for-update: same float64 constants (repr-embedded), same
    operation order (score·w/outw left-assoc, teleport/n + d·(msg +
    dangling/n)), so values agree to the 6-decimal rounding."""
    t, d = repr(1.0 - WRANK_DAMPING), repr(WRANK_DAMPING)
    parts = [
        "edges AS MATERIALIZED (SELECT src, dst, "
        f"CAST(1 + length(dst) % 3 AS DOUBLE) AS w FROM ({EDGES_SQL}))",
        "verts AS MATERIALIZED (SELECT id FROM "
        "(SELECT src AS id FROM edges UNION SELECT dst FROM edges))",
        "ws AS MATERIALIZED (SELECT src, sum(w) AS outw FROM edges GROUP BY src)",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts)",
        "s0 AS MATERIALIZED (SELECT v.id, 1.0 / nn.n AS score, "
        "coalesce(ws.outw, 0.0) AS outw, nn.n AS n "
        "FROM verts v LEFT JOIN ws ON v.id = ws.src CROSS JOIN nn)",
    ]
    prev = "s0"
    for i in range(1, iters + 1):
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT e.dst, "
            f"sum(s.score * e.w / s.outw) AS msg "
            f"FROM edges e JOIN {prev} s ON e.src = s.id GROUP BY e.dst)"
        )
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT coalesce(sum(score), 0.0) AS dangling "
            f"FROM {prev} WHERE outw = 0.0)"
        )
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT s.id, "
            f"{t} / s.n + {d} * (coalesce(m.msg, 0.0) + dd.dangling / s.n) AS score, "
            f"s.outw, s.n FROM {prev} s "
            f"LEFT JOIN m{i} m ON s.id = m.dst CROSS JOIN d{i} dd)"
        )
        prev = f"s{i}"
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT id, round(score, 6) AS score FROM {prev}"
    )


ORACLES["graph_weighted_rank"] = _wrank_sql(WRANK_ITERATIONS)

from giranking_spark.operators.components import (  # noqa: E402
    KCORE_K,
    KCORE_ROUNDS,
)


def _kcore_sql(k: int, rounds: int) -> str:
    """Unrolled peel rounds mirroring kcore_peel: per round a degree count
    over the surviving undirected edges, then both endpoints filtered to
    vertices with degree >= k."""
    parts = [
        f"edges AS MATERIALIZED ({EDGES_SQL})",
        "e0 AS MATERIALIZED (SELECT src, dst FROM edges "
        "UNION SELECT dst AS src, src AS dst FROM edges)",
    ]
    prev = "e0"
    for i in range(1, rounds + 1):
        parts.append(
            f"keep{i} AS MATERIALIZED (SELECT src AS id FROM {prev} "
            f"GROUP BY src HAVING count(*) >= {k})"
        )
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT e.src, e.dst FROM {prev} e "
            f"JOIN keep{i} a ON e.src = a.id JOIN keep{i} b ON e.dst = b.id)"
        )
        prev = f"e{i}"
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT src AS id, CAST(count(*) AS BIGINT) AS degree FROM {prev} "
        "GROUP BY src"
    )


ORACLES["graph_kcore"] = _kcore_sql(KCORE_K, KCORE_ROUNDS)

from giranking_spark.operators.labelprop import LPA_ROUNDS  # noqa: E402


def _lpa_parts(rounds: int) -> tuple[list[str], str]:
    """Structural form of the unrolled LPA oracle: (CTE clauses, name of the
    final labeling relation).  Both _lpa_sql and _modularity_sql assemble
    from this, so edits here can't desynchronize the two queries (previously
    _modularity_sql re-parsed _lpa_sql's rendered text)."""
    parts = [
        f"edges AS MATERIALIZED ({EDGES_SQL})",
        "und AS MATERIALIZED (SELECT src, dst FROM edges "
        "UNION SELECT dst AS src, src AS dst FROM edges)",
        "s0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM und)",
    ]
    prev = "s0"
    for i in range(1, rounds + 1):
        parts.append(
            f"n{i} AS MATERIALIZED (SELECT u.dst AS v, s.label, count(*) AS c "
            f"FROM und u JOIN {prev} s ON u.src = s.id GROUP BY u.dst, s.label)"
        )
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT v AS id, label FROM ("
            "SELECT v, label, row_number() OVER (PARTITION BY v "
            f"ORDER BY c DESC, label ASC) AS rn FROM n{i}) WHERE rn = 1)"
        )
        prev = f"s{i}"
    return parts, prev


def _lpa_sql(rounds: int) -> str:
    """Unrolled synchronous LPA mirroring operators/labelprop.py: per round
    a neighbor-label count then per-vertex top-1 (count DESC, label ASC)."""
    parts, prev = _lpa_parts(rounds)
    return "WITH " + ", ".join(parts) + f" SELECT id, label FROM {prev}"


ORACLES["graph_label_prop"] = _lpa_sql(LPA_ROUNDS)


def _modularity_sql(rounds: int) -> str:
    """Modularity over the SAME unrolled-LPA labeling: shares _lpa_parts's
    CTE chain, then exact-integer e_c/d_c/m per community with the double
    epilogue mirrored from q_graph_modularity."""
    parts, final = _lpa_parts(rounds)
    head = "WITH " + ", ".join(parts)
    return (
        head
        + f", lab AS MATERIALIZED (SELECT id, label FROM {final})"
        + ", canon AS (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM edges)"
        + ", m AS (SELECT count(*)::BIGINT AS m FROM canon)"
        + ", deg AS (SELECT src AS id, count(*)::BIGINT AS d FROM und "
        "GROUP BY src)"
        + ", intra AS (SELECT la.label, count(*)::BIGINT AS e_c FROM canon c "
        "JOIN lab la ON c.u = la.id JOIN lab lb ON c.v = lb.id "
        "WHERE la.label = lb.label GROUP BY la.label)"
        + ", dtot AS (SELECT la.label, sum(d)::BIGINT AS d_c FROM deg "
        "JOIN lab la ON deg.id = la.id GROUP BY la.label) "
        + "SELECT d.label, coalesce(i.e_c, 0)::BIGINT AS n_intra, d.d_c, "
        "round(coalesce(i.e_c, 0)::DOUBLE / m.m - "
        "(d.d_c::DOUBLE / (2 * m.m)) * (d.d_c::DOUBLE / (2 * m.m)), 6) "
        "AS contrib FROM dtot d LEFT JOIN intra i ON d.label = i.label "
        "CROSS JOIN m"
    )


ORACLES["graph_modularity"] = _modularity_sql(LPA_ROUNDS)


# --- weighted SSSP (bounded Bellman-Ford) ----------------------------------

SSSP_ROUNDS = 6
#: symmetric integer edge weight: 1 + H(least||'|'||greatest) % 9 ∈ [1, 9]
_SSSP_W_SQL = (
    "(1 + (('0x' || substr(md5(least(src, dst) || '|' || greatest(src, dst)), "
    "1, 8))::BIGINT) % 9)"
)


def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest-path distance (≤ SSSP_ROUNDS edges) from the
    TrustRank seed set over the derived graph with deterministic integer
    weights — the weighted companion of graph_bfs_dist (route cost instead
    of hop count). Weights are symmetric md5-derived ints in [1, 9], the
    same portable hash family as the dedup operators, so the oracle
    recomputes them bit-for-bit."""
    from giranking_spark.functions.hashing import md5_u32
    from giranking_spark.operators.components import sssp_distances

    e = derive_edges(spark, sf_dir)
    w = (
        F.lit(1)
        + md5_u32(
            F.concat_ws("|", F.least("src", "dst"), F.greatest("src", "dst"))
        )
        % 9
    ).cast("long")
    wedges = e.select("src", "dst", w.alias("w"))
    seeds = lr.all_vertex_ids(None, e).filter(
        (F.substring("id", 1, 1) == "c")
        & (F.substring("id", 2, 100).cast("long") % 10 == 0)
    )
    return sssp_distances(wedges, seeds, SSSP_ROUNDS)


QUERIES["graph_sssp"] = q_graph_sssp

ORACLES["graph_sssp"] = (
    f"WITH RECURSIVE edges AS MATERIALIZED ({EDGES_SQL}), "
    f"wed AS MATERIALIZED (SELECT src, dst, {_SSSP_W_SQL} AS w FROM edges), "
    "und AS MATERIALIZED (SELECT src, dst, w FROM wed "
    "UNION ALL SELECT dst AS src, src AS dst, w FROM wed), "
    "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM und), "
    f"seeds AS MATERIALIZED (SELECT id FROM verts WHERE {TRUSTED_PRED}), "
    "r AS (SELECT id AS v, CAST(0 AS BIGINT) AS d, 0 AS hops FROM seeds "
    "UNION SELECT u.dst AS v, r.d + u.w AS d, r.hops + 1 AS hops "
    f"FROM r JOIN und u ON u.src = r.v WHERE r.hops < {SSSP_ROUNDS}) "
    "SELECT v AS id, CAST(min(d) AS BIGINT) AS dist FROM r GROUP BY v"
)


# --- per-vertex local clustering coefficient --------------------------------


def q_graph_clustering_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, degree, n_tri, coef) — local clustering coefficient over the
    supplier co-occurrence projection (same graph as graph_triangles):
    coef = 2·tri(v) / (deg(v)·(deg(v)−1)), 0 for degree-1 vertices.

    Same canonical-orientation wedge join as the global count (each
    triangle u<v<w found once), then one explode to credit all three
    members — the per-vertex credit is a 3-row fan-out per triangle, never
    a second wedge pass. Degree is a map-side-combinable count over the
    symmetrized edge list."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    co = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v"))
        .distinct()
    )
    # three consumers (two wedge sides + closing edge) — cache, or the
    # orders⋈lineitem projection re-executes per reference
    with cached(co):
        e1, e2, e3 = co.alias("e1"), co.alias("e2"), co.alias("e3")
        tri = (
            e1.join(e2, F.col("e1.v") == F.col("e2.u"))
            .join(
                e3,
                (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
            )
            .select(
                F.col("e1.u").alias("ta"), F.col("e1.v").alias("tb"), F.col("e2.v").alias("tc")
            )
        )
        per_v = (
            tri.select(F.explode(F.array("ta", "tb", "tc")).alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
        )
        deg = (
            co.select(F.col("u").alias("id"))
            .unionByName(co.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        )
        d = F.col("degree")
        return deg.join(per_v, "id", "left").select(
            "id",
            "degree",
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
            F.round(
                F.when(d >= 2, F.coalesce("n_tri", F.lit(0)) * 2.0 / (d * (d - 1))).otherwise(0.0),
                6,
            ).alias("coef"),
        ).localCheckpoint()


QUERIES["graph_clustering_coef"] = q_graph_clustering_coef

_CO_SQL = (
    "SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v "
    "FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a "
    "JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b "
    "ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey"
)

ORACLES["graph_clustering_coef"] = (
    f"WITH co AS MATERIALIZED ({_CO_SQL}), "
    "t3 AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c "
    "FROM co e1 JOIN co e2 ON e1.v = e2.u "
    "JOIN co e3 ON e3.u = e1.u AND e3.v = e2.v), "
    "pv AS (SELECT a AS id FROM t3 UNION ALL SELECT b FROM t3 "
    "UNION ALL SELECT c FROM t3), "
    "tc AS (SELECT id, count(*) AS n_tri FROM pv GROUP BY id), "
    "dg AS (SELECT id, count(*) AS degree FROM "
    "(SELECT u AS id FROM co UNION ALL SELECT v AS id FROM co) GROUP BY id) "
    "SELECT dg.id, CAST(degree AS BIGINT) AS degree, "
    "CAST(coalesce(n_tri, 0) AS BIGINT) AS n_tri, "
    "round(CASE WHEN degree >= 2 THEN coalesce(n_tri, 0) * 2.0 / (degree * (degree - 1)) "
    "ELSE 0.0 END, 6) AS coef "
    "FROM dg LEFT JOIN tc USING (id)"
)


# -- deterministic random-walk corpus (DeepWalk prep) -----------------------

WALK_LENGTH = 3


def q_graph_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-driven random-walk corpus over the undirected graph (metapath
    walks on the bipartite customer–supplier graph — the user–item walk
    setting of graph-embedding trainers).  Deterministic neighbor choice
    H(walk_id, step) mod degree makes the corpus reproducible and fully
    oracle-checkable; see operators/walks.py for the per-step join shape."""
    from giranking_spark.operators.walks import random_walks

    # dedup=False: the adjacency build's collect_set absorbs duplicate
    # symmetrized pairs, so the upstream edge-sized distinct is redundant
    und = undirected_edges(derive_edges(spark, sf_dir), dedup=False)
    return random_walks(und, WALK_LENGTH)


QUERIES["graph_walks"] = q_graph_walks


def _walks_sql(length: int) -> str:
    from giranking_spark.functions.hashing import md5_u32_sql_duckdb

    ctes = [
        f"e0 AS ({EDGES_SQL})",
        "und AS (SELECT src, dst FROM e0 UNION "
        "SELECT dst AS src, src AS dst FROM e0)",
        "adj AS (SELECT src, dst, "
        "row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx, "
        "count(*) OVER (PARTITION BY src) AS deg FROM und)",
        "s0 AS (SELECT DISTINCT src AS walk_id, src AS cur FROM adj)",
    ]
    selects = ["SELECT walk_id, 0 AS step, cur AS node FROM s0"]
    for k in range(1, length + 1):
        pick = md5_u32_sql_duckdb(f"s{k-1}.walk_id || ':{k}'")
        ctes.append(
            f"s{k} AS (SELECT s{k-1}.walk_id, a.dst AS cur "
            f"FROM s{k-1} JOIN adj a ON a.src = s{k-1}.cur "
            f"AND a.idx = {pick} % a.deg)"
        )
        selects.append(f"SELECT walk_id, {k} AS step, cur AS node FROM s{k}")
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(selects)


ORACLES["graph_walks"] = _walks_sql(WALK_LENGTH)


WALK_COOC_WINDOW = 2


def q_graph_walk_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts over the walk corpus — the statistic
    a DeepWalk/node2vec trainer actually consumes.  Pairs within ±2 steps
    on the same walk, directed (earlier→later), counted.  The self-join is
    on walk_id (bounded group size = walk length), so it never blows up:
    cost is O(walks × L × window), linear in the corpus."""
    from giranking_spark.operators.walks import random_walks

    und = undirected_edges(derive_edges(spark, sf_dir), dedup=False)
    # random_walks returns an eagerly-checkpointed corpus: both sides of
    # the self-join read the materialized blocks, no extra persist needed
    walks = random_walks(und, WALK_LENGTH)
    a, b = walks.alias("a"), walks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.walk_id") == F.col("b.walk_id"))
            & (F.col("b.step") > F.col("a.step"))
            & (F.col("b.step") <= F.col("a.step") + WALK_COOC_WINDOW),
        )
        .groupBy(
            F.col("a.node").alias("u"), F.col("b.node").alias("v")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_cooc"))
    )


QUERIES["graph_walk_cooc"] = q_graph_walk_cooc
ORACLES["graph_walk_cooc"] = (
    "WITH w AS (" + _walks_sql(WALK_LENGTH) + ") "
    "SELECT a.node AS u, b.node AS v, count(*)::BIGINT AS n_cooc "
    "FROM w a JOIN w b ON a.walk_id = b.walk_id AND b.step > a.step "
    f"AND b.step <= a.step + {WALK_COOC_WINDOW} GROUP BY a.node, b.node"
)


# ---- Katz centrality -------------------------------------------------------


def q_graph_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (operators/katz.py) — attenuated path-count rank,
    fourth iterative family next to LinkRank/HITS/SALSA; the oracle
    unrolls the fixed iteration count step for step."""
    from giranking_spark.operators.katz import katz_scores

    return katz_scores(derive_edges(spark, sf_dir))


def _katz_sql(alpha: float, iters: int) -> str:
    """Unrolled Katz: mirrors operators/katz.py step for step —
    x_{t+1}(v) = 1 + alpha * sum of in-neighbor x_t, no-in-edge vertices
    fall back to the base score via LEFT JOIN coalesce. MATERIALIZED CTEs
    for the same multiplicative re-execution reason as _hits_sql."""
    parts = [
        f"edges AS MATERIALIZED ({EDGES_SQL})",
        "verts AS MATERIALIZED (SELECT id FROM "
        "(SELECT src AS id FROM edges UNION SELECT dst FROM edges))",
        "s0 AS MATERIALIZED (SELECT id, 1.0 AS katz FROM verts)",
    ]
    prev = "s0"
    for i in range(1, iters + 1):
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT v.id, "
            f"1.0 + {alpha} * coalesce(x.s, 0.0) AS katz "
            f"FROM {prev} v LEFT JOIN (SELECT e.dst AS id, "
            f"sum(v2.katz) AS s FROM edges e JOIN {prev} v2 "
            "ON e.src = v2.id GROUP BY e.dst) x ON v.id = x.id)"
        )
        prev = f"s{i}"
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT id, round(katz, 6) AS katz FROM {prev}"
    )


QUERIES["graph_katz"] = q_graph_katz
from giranking_spark.operators.katz import KATZ_ALPHA, KATZ_ITERATIONS  # noqa: E402

ORACLES["graph_katz"] = _katz_sql(KATZ_ALPHA, KATZ_ITERATIONS)


# ---------------------------------------------------------------------------
# SCC + bow-tie over the clickstream navigation graph (Broder et al. 2000)

#: navigation-graph edge threshold: a page transition (props.k -> next
#: props.k within a user's timeline) becomes an edge once observed this many
#: times — the standard clickstream denoising step. 4 puts the sf0.01 graph
#: squarely in the bow-tie regime (97 vertices, 173 edges, a 49-vertex giant
#: SCC); at sf0.001 the thresholded graph is empty (both engines agree).
NAV_MIN_COUNT = 4

#: DuckDB fragment producing the identical edge relation
NAV_EDGES_SQL = (
    "SELECT src, dst FROM ("
    "SELECT k AS src, lead(k) OVER ("
    "PARTITION BY user_id ORDER BY ts_us, event_id) AS dst FROM ("
    "SELECT user_id, event_id, epoch_us(ts) AS ts_us, "
    "(json_extract(props, '$.k')::BIGINT) AS k FROM events)) "
    "WHERE dst IS NOT NULL AND src <> dst "
    f"GROUP BY src, dst HAVING count(*) >= {NAV_MIN_COUNT}"
)


def derive_nav_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed page-navigation graph from the events clickstream: vertices
    are page ids (props.k), edges are consecutive same-user transitions seen
    at least NAV_MIN_COUNT times. One window shuffle (user timeline) + one
    aggregation — the standard web-analytics graph build."""
    from giranking_spark.queries.relational import load_events

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("user_id", "ts_us", "event_id", k.alias("src"))
        .withColumn("dst", F.lead("src").over(w))
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= NAV_MIN_COUNT)
        .select("src", "dst")
    )


def q_graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the navigation graph — canonical
    min-member labels via the min-label peeling algorithm
    (operators/scc.py; oracle = transitive-closure mutual-reachability)."""
    from giranking_spark.operators.scc import strongly_connected_components

    return strongly_connected_components(derive_nav_edges(spark, sf_dir))


def q_graph_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder bow-tie class per vertex (core/in/out/tube/tendril_in/
    tendril_out/disconnected) relative to the max-degree pivot's SCC — the
    classic 'graph structure in the Web' decomposition via the FW-BW pivot
    scheme, four directed closures total, never a full SCC partition
    (operators/scc.py:bowtie_classes)."""
    from giranking_spark.operators.scc import bowtie_classes

    return bowtie_classes(derive_nav_edges(spark, sf_dir))


_SCC_PRELUDE = (
    f"WITH RECURSIVE edges AS MATERIALIZED ({NAV_EDGES_SQL}), "
    "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM "
    "(SELECT src FROM edges UNION ALL SELECT dst AS src FROM edges)), "
    # full transitive closure — fine as a fixture-scale oracle; the Spark
    # side is the scalable peeling algorithm
    "reach AS (SELECT src AS a, dst AS b FROM edges "
    "UNION SELECT r.a, e.dst AS b FROM reach r JOIN edges e ON e.src = r.b), "
    "mutual AS MATERIALIZED (SELECT r1.a AS id, r1.b AS other FROM reach r1 "
    "JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a), "
    "scc AS MATERIALIZED (SELECT v.id, "
    "least(v.id, coalesce(m.mn, v.id)) AS scc_id FROM verts v LEFT JOIN "
    "(SELECT id, min(other) AS mn FROM mutual GROUP BY id) m ON v.id = m.id)"
)

QUERIES["graph_scc"] = q_graph_scc
ORACLES["graph_scc"] = _SCC_PRELUDE + " SELECT id, scc_id FROM scc"

QUERIES["graph_bowtie"] = q_graph_bowtie
ORACLES["graph_bowtie"] = (
    f"WITH RECURSIVE edges AS MATERIALIZED ({NAV_EDGES_SQL}), "
    "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM "
    "(SELECT src FROM edges UNION ALL SELECT dst AS src FROM edges)), "
    # pivot = max total degree, tie-break min id — mirrors
    # operators/scc.py:bowtie_classes exactly
    "deg AS (SELECT id, count(*) AS d FROM (SELECT src AS id FROM edges "
    "UNION ALL SELECT dst AS id FROM edges) GROUP BY id), "
    "pvt AS MATERIALIZED (SELECT id FROM deg ORDER BY d DESC, id ASC "
    "LIMIT 1), "
    "fwd AS (SELECT id FROM pvt "
    "UNION SELECT e.dst AS id FROM fwd f JOIN edges e ON e.src = f.id), "
    "bwd AS (SELECT id FROM pvt "
    "UNION SELECT e.src AS id FROM bwd b JOIN edges e ON e.dst = b.id), "
    # INTERSECT is not allowed for CTEs inside WITH RECURSIVE (DuckDB
    # restricts set-op CTEs there to UNION) — equi-join instead
    "core AS MATERIALIZED (SELECT f.id FROM fwd f JOIN bwd b "
    "ON f.id = b.id), "
    "inset AS MATERIALIZED (SELECT id FROM bwd "
    "WHERE id NOT IN (SELECT id FROM core)), "
    "outset AS MATERIALIZED (SELECT id FROM fwd "
    "WHERE id NOT IN (SELECT id FROM core)), "
    "nc AS MATERIALIZED (SELECT src, dst FROM edges "
    "WHERE src NOT IN (SELECT id FROM core) "
    "AND dst NOT IN (SELECT id FROM core)), "
    "from_in AS (SELECT id FROM inset "
    "UNION SELECT e.dst AS id FROM from_in f JOIN nc e ON e.src = f.id), "
    "to_out AS (SELECT id FROM outset "
    "UNION SELECT e.src AS id FROM to_out t JOIN nc e ON e.dst = t.id) "
    "SELECT v.id, CASE "
    "WHEN v.id IN (SELECT id FROM core) THEN 'core' "
    "WHEN v.id IN (SELECT id FROM inset) THEN 'in' "
    "WHEN v.id IN (SELECT id FROM outset) THEN 'out' "
    "WHEN v.id IN (SELECT id FROM from_in) "
    "AND v.id IN (SELECT id FROM to_out) THEN 'tube' "
    "WHEN v.id IN (SELECT id FROM from_in) THEN 'tendril_in' "
    "WHEN v.id IN (SELECT id FROM to_out) THEN 'tendril_out' "
    "ELSE 'disconnected' END AS cls FROM verts v"
)


def q_graph_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 3-node motif census on the navigation graph (Milo et al.
    2002 'Network Motifs'): pattern-instance counts of directed 3-cycles
    (a→b→c→a, one count per cycle via the min-first-node rotation),
    feed-forward loops (a→b, b→c, a→c), and reciprocal dyads (a⇄b, a<b) —
    the fingerprint distinguishing hierarchy from feedback in clickstream /
    web graphs.

    Scale shape: two chained equi-joins over the edge relation (wedge
    volume = Σ outdeg·indeg per pivot); at web scale the standard remedy
    is degree-based orientation before the wedge join (same note as
    graph_triangles). No cartesian anywhere; output is 3 rows."""
    return motif_census(derive_nav_edges(spark, sf_dir))


def motif_census(e: DataFrame) -> DataFrame:
    """(motif, n) pattern-instance counts over a directed edge relation —
    see q_graph_motifs for semantics. The edge relation is materialized
    once (eager localCheckpoint) so the three motif branches share one
    derivation instead of recomputing it per branch."""
    from giranking_spark.operators.linkrank import _barrier

    e, _ = _barrier(e.select("src", "dst"))
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ca = e.select(F.col("src").alias("c"), F.col("dst").alias("a"))
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    cycles = (
        ab.join(bc, "b")
        .join(ca, ["c", "a"])
        .filter((F.col("a") < F.col("b")) & (F.col("a") < F.col("c")))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("cycle").alias("motif"), "n")
    )
    ffl = (
        ab.join(bc, "b")
        .join(ac, ["a", "c"])
        .filter(F.col("a") != F.col("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("ffl").alias("motif"), "n")
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = (
        e.join(rev, ["src", "dst"], "left_semi")
        .filter(F.col("src") < F.col("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("reciprocal_dyad").alias("motif"), "n")
    )
    return cycles.unionByName(ffl).unionByName(recip)


QUERIES["graph_motifs"] = q_graph_motifs
ORACLES["graph_motifs"] = (
    f"WITH edges AS MATERIALIZED ({NAV_EDGES_SQL}) "
    "SELECT 'cycle' AS motif, count(*)::BIGINT AS n "
    "FROM edges e1 JOIN edges e2 ON e1.dst = e2.src "
    "JOIN edges e3 ON e3.src = e2.dst AND e3.dst = e1.src "
    "WHERE e1.src < e1.dst AND e1.src < e2.dst "
    "UNION ALL "
    "SELECT 'ffl', count(*)::BIGINT "
    "FROM edges e1 JOIN edges e2 ON e1.dst = e2.src "
    "JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst "
    "WHERE e1.src <> e2.dst "
    "UNION ALL "
    "SELECT 'reciprocal_dyad', count(*)::BIGINT FROM edges e1 "
    "WHERE e1.src < e1.dst AND EXISTS (SELECT 1 FROM edges r "
    "WHERE r.src = e1.dst AND r.dst = e1.src)"
)


# ---------------------------------------------------------------------------
# k-truss cohesive subgraph

KTRUSS_K = 3
#: shared Spark/oracle peel-round cap — parity by construction (the
#: BFS_MAX_DEPTH pattern); tests pin that every fixture reaches its
#: fixpoint within the cap, and extra rounds are no-ops at a fixpoint.
KTRUSS_ROUNDS = 4


def ktruss_edges(e: DataFrame, k: int = KTRUSS_K,
                 rounds: int = KTRUSS_ROUNDS) -> DataFrame:
    """(u, v) edges of the k-truss of an undirected canonical (u < v) edge
    relation: iteratively drop every edge supported by fewer than k-2
    triangles until stable (Cohen 2008, 'Trusses: cohesive subgraphs for
    social network analysis'). Per round: the canonical wedge join counts
    each triangle once, explodes it to its 3 edges, aggregates support, and
    a LEFT SEMI join keeps qualifying edges — all equi-joins off
    checkpointed state; one scalar (edge count) per round, early exit at
    the fixpoint."""
    from giranking_spark.operators.linkrank import _barrier

    rows = F.count(F.lit(1)).alias("n")  # a barrier scalar: {"n": edge rows}
    cur, size = _barrier(e.select("u", "v").distinct(), rows)
    for _ in range(rounds):
        e1, e2, e3 = cur.alias("e1"), cur.alias("e2"), cur.alias("e3")
        tri = (
            e1.join(e2, F.col("e1.v") == F.col("e2.u"))
            .join(
                e3,
                (F.col("e3.u") == F.col("e1.u"))
                & (F.col("e3.v") == F.col("e2.v")),
            )
            .select(
                F.col("e1.u").alias("a"),
                F.col("e1.v").alias("b"),
                F.col("e2.v").alias("c"),
            )
        )
        sup = (
            tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionByName(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
            .unionByName(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("s"))
            .filter(F.col("s") >= k - 2)
        )
        cur, kept = _barrier(
            cur.join(sup.select("u", "v"), ["u", "v"], "left_semi"), rows
        )
        if kept == size:
            break
        size = kept
    return cur


def q_graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the undirected navigation graph — the edges embedded in
    at least one surviving triangle after iterative peeling; the standard
    community-core extraction a spam/link-farm analysis runs on web
    graphs."""
    e = derive_nav_edges(spark, sf_dir)
    canon = e.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    return ktruss_edges(canon)


def _ktruss_sql(k: int, rounds: int) -> str:
    """Unrolled k-truss peel, round for round with ktruss_edges (both sides
    run at most ``rounds`` peels; the fixture reaches its fixpoint earlier
    — pinned by tests — so the tail rounds are no-ops on either engine)."""
    parts = [
        f"edges AS MATERIALIZED ({NAV_EDGES_SQL})",
        "e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM edges)",
    ]
    prev = "e0"
    for r in range(1, rounds + 1):
        parts.append(
            f"t{r} AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c "
            f"FROM {prev} e1 JOIN {prev} e2 ON e1.v = e2.u "
            f"JOIN {prev} e3 ON e3.u = e1.u AND e3.v = e2.v)"
        )
        parts.append(
            f"s{r} AS (SELECT u, v FROM ("
            f"SELECT a AS u, b AS v FROM t{r} UNION ALL "
            f"SELECT b, c FROM t{r} UNION ALL "
            f"SELECT a, c FROM t{r}) GROUP BY u, v "
            f"HAVING count(*) >= {k - 2})"
        )
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT e.u, e.v FROM {prev} e "
            f"JOIN s{r} s ON e.u = s.u AND e.v = s.v)"
        )
        prev = f"e{r}"
    return "WITH " + ", ".join(parts) + f" SELECT u, v FROM {prev}"


QUERIES["graph_ktruss"] = q_graph_ktruss
ORACLES["graph_ktruss"] = _ktruss_sql(KTRUSS_K, KTRUSS_ROUNDS)


def q_graph_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via the alternating large-star/small-star
    algorithm (Kiveris et al. SoCC 2014) — same output contract as
    graph_components, different scale strategy: O(log n) rounds on the
    edge relation with provably bounded intermediates, the remedy for
    adversarial long-chain diameters
    (operators/components.py:connected_components_star)."""
    from giranking_spark.operators.components import connected_components_star

    return connected_components_star(derive_edges(spark, sf_dir))


QUERIES["graph_components_star"] = q_graph_components_star
ORACLES["graph_components_star"] = (
    f"{_REACH_SQL} SELECT id, component FROM comp"
)


# ---------------------------------------------------------------------------
# eccentricity / diameter estimation

NAV_DIAM_SEEDS = 4
NAV_DIAM_DEPTH = 20  # shared Spark/oracle depth cap (bfs_distances pattern)


def q_graph_diameter_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-seed eccentricity on the undirected navigation graph from
    NAV_DIAM_SEEDS deterministic hash-picked probes — max over the rows is
    the classic multi-probe diameter lower bound (the practical estimator
    for graphs where exact all-pairs is impossible). One (seed, id)-keyed
    BFS fixpoint covers all probes
    (operators/components.py:per_seed_bfs)."""
    from giranking_spark.functions.hashing import md5_u32
    from giranking_spark.operators.components import per_seed_bfs

    e = derive_nav_edges(spark, sf_dir)
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    seeds = verts.orderBy(
        md5_u32(F.col("id").cast("string")).asc(), F.col("id").asc()
    ).limit(NAV_DIAM_SEEDS)
    d = per_seed_bfs(e, seeds, max_depth=NAV_DIAM_DEPTH)
    return d.groupBy("seed").agg(
        F.max("dist").cast("long").alias("ecc"),
        F.count(F.lit(1)).cast("long").alias("n_reached"),
    )


from giranking_spark.functions.hashing import md5_u32_sql_duckdb as _md  # noqa: E402

QUERIES["graph_diameter_est"] = q_graph_diameter_est
ORACLES["graph_diameter_est"] = (
    f"WITH RECURSIVE edges AS MATERIALIZED ({NAV_EDGES_SQL}), "
    "und AS MATERIALIZED (SELECT src, dst FROM edges "
    "UNION SELECT dst AS src, src AS dst FROM edges), "
    "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM und), "
    "seeds AS MATERIALIZED (SELECT id FROM verts "
    f"ORDER BY {_md('id::VARCHAR')} ASC, id ASC LIMIT {NAV_DIAM_SEEDS}), "
    "r AS (SELECT id AS seed, id AS v, 0 AS d FROM seeds "
    "UNION SELECT r.seed, u.dst AS v, r.d + 1 AS d FROM r "
    f"JOIN und u ON u.src = r.v WHERE r.d < {NAV_DIAM_DEPTH}), "
    "m AS (SELECT seed, v, min(d) AS d FROM r GROUP BY seed, v) "
    "SELECT seed, max(d)::BIGINT AS ecc, count(*)::BIGINT AS n_reached "
    "FROM m GROUP BY seed"
)


# ---------------------------------------------------------------------------
# HyperBall neighborhood function (operators/hyperball.py)

#: ball radius cap shared by Spark loop and unrolled oracle (rounds past the
#: fixpoint are exact no-ops on both sides — register merge is idempotent)
HYPERBALL_T = 4


def q_graph_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood function of the navigation graph by HyperBall
    (operators/hyperball.py): per radius t, the number of vertices and the
    summed HLL ball-size estimate N(t) = Σ_v |ball(v,t)|, plus the
    effective diameter (min t with N(t) >= 0.9·max_t N(t)).

    The threshold deliberately keys off max over t, not N(t_max): the HLL
    linear-counting/raw-estimator regime switch can make the estimated
    N(t) non-monotone, and the max is the robust stand-in for the supremum
    the exact (monotone) N(t) would reach. The oracle uses the identical
    max-based definition.

    Exact-parity trick: per-vertex estimates are bit-identical across
    engines (portable HLL), so they are fixed to integer micro-units
    (round(est·1e6)) BEFORE the sum — the cross-vertex sum is then exact
    integer arithmetic and immune to float accumulation order, and the
    0.9-threshold test runs on exact integers (10·N(t) >= 9·N_max)."""
    from giranking_spark.operators.hyperball import hyperball

    hb = hyperball(derive_nav_edges(spark, sf_dir), HYPERBALL_T)
    micro = F.round(F.col("est_distinct") * F.lit(1000000.0), 0).cast("long")
    nf = hb.select("t", micro.alias("micro")).groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        F.sum("micro").cast("long").alias("nf_micro"),
    )
    mx = nf.agg(F.max("nf_micro").alias("_mx"))
    eff = (
        nf.crossJoin(F.broadcast(mx))
        .filter(F.col("nf_micro") * 10 >= F.col("_mx") * 9)
        .agg(F.min("t").cast("long").alias("eff_diameter"))
    )
    return nf.crossJoin(F.broadcast(eff)).select(
        "t", "n_vertices", "nf_micro", "eff_diameter"
    )


from giranking_spark.functions.hashing import md5_u60_sql_duckdb as _md60  # noqa: E402
from giranking_spark.operators.sketches import hll_sql_duckdb as _hll_sql  # noqa: E402

# membership of every out-ball by bounded-depth BFS; the shared portable-HLL
# finalize then rebuilds the registers the Spark loop reaches by iterated
# merge — an exact identity (merge(A)∪merge(B) == merge(A∪B) register-wise)
_HYPERBALL_MEMBER_SQL = (
    f"WITH RECURSIVE edges AS MATERIALIZED ({NAV_EDGES_SQL}), "
    "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM "
    "(SELECT src FROM edges UNION ALL SELECT dst AS src FROM edges)), "
    "r AS (SELECT id AS v, id AS w, 0 AS d FROM verts "
    "UNION SELECT r.v, e.dst AS w, r.d + 1 AS d FROM r "
    f"JOIN edges e ON e.src = r.w WHERE r.d < {HYPERBALL_T}), "
    "md AS MATERIALIZED (SELECT v, w, min(d) AS d FROM r GROUP BY v, w), "
    f"ts AS (SELECT range::BIGINT AS t FROM range(0, {HYPERBALL_T + 1})) "
    f"SELECT ts.t, md.v, {_md60('md.w::VARCHAR')} AS h "
    "FROM md JOIN ts ON md.d <= ts.t"
)

QUERIES["graph_hyperball"] = q_graph_hyperball
ORACLES["graph_hyperball"] = (
    f"WITH nf AS (SELECT t, count(*)::BIGINT AS n_vertices, "
    "CAST(sum(CAST(round(est_distinct * 1000000, 0) AS BIGINT)) AS BIGINT) "
    "AS nf_micro FROM (SELECT t, v, est_distinct FROM "
    f"({_hll_sql(_HYPERBALL_MEMBER_SQL, keys=('t', 'v'))})) GROUP BY t), "
    "mx AS (SELECT max(nf_micro) AS _mx FROM nf), "
    "eff AS (SELECT min(t)::BIGINT AS eff_diameter FROM nf, mx "
    "WHERE nf_micro * 10 >= _mx * 9) "
    "SELECT nf.t, nf.n_vertices, nf.nf_micro, eff.eff_diameter "
    "FROM nf, eff"
)


def q_graph_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality by HyperBall (the estimator Boldi & Vigna built
    HyperBall FOR): H(v) = Σ_{w≠v} 1/d(v,w), truncated at radius t_max,
    from per-radius ball-size deltas — H(v) ≈ Σ_t (|B(v,t)|−|B(v,t−1)|)/t.
    Output is 12e6-scaled exact integers: per-vertex estimates are
    bit-identical cross-engine, deltas are exact micro-int differences,
    and the 1/t weights become the integer factors 12/t for t ∈ 1..4 — so
    no float accumulation exists anywhere in the aggregate."""
    from giranking_spark.operators.hyperball import hyperball

    hb = hyperball(derive_nav_edges(spark, sf_dir), HYPERBALL_T)
    micro = F.round(F.col("est_distinct") * F.lit(1000000.0), 0).cast("long")
    w = Window.partitionBy("id").orderBy("t")
    d = hb.select("t", "id", micro.alias("micro")).withColumn(
        "diff", F.col("micro") - F.lag("micro", 1, 0).over(w)
    )
    weight = (
        F.when(F.col("t") == 1, 12)
        .when(F.col("t") == 2, 6)
        .when(F.col("t") == 3, 4)
        .when(F.col("t") == 4, 3)
    )
    return (
        d.filter(F.col("t") >= 1)
        .groupBy("id")
        .agg(
            F.sum(F.col("diff") * weight).cast("long").alias(
                "harmonic12_micro"
            )
        )
    )


QUERIES["graph_harmonic"] = q_graph_harmonic
ORACLES["graph_harmonic"] = (
    "WITH est AS (SELECT t, v, "
    "CAST(round(est_distinct * 1000000, 0) AS BIGINT) AS micro FROM "
    f"({_hll_sql(_HYPERBALL_MEMBER_SQL, keys=('t', 'v'))})), "
    "d AS (SELECT t, v, micro - lag(micro, 1, 0) OVER "
    "(PARTITION BY v ORDER BY t) AS diff FROM est) "
    "SELECT v AS id, CAST(sum(diff * CASE t WHEN 1 THEN 12 WHEN 2 THEN 6 "
    "WHEN 3 THEN 4 WHEN 4 THEN 3 END) AS BIGINT) AS harmonic12_micro "
    "FROM d WHERE t >= 1 GROUP BY v"
)


# ---------------------------------------------------------------------------
# full core decomposition (coreness number per vertex)

from giranking_spark.operators.components import (  # noqa: E402
    CORENESS_KMAX,
    CORENESS_ROUNDS,
)


def q_graph_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full core decomposition of the navigation graph
    (operators/components.py:coreness_peel): coreness(v) = the largest k
    whose k-core contains v — the standard graph-robustness / influence
    ranking one level above a single k-core. Phase/round caps are a shared
    contract with the unrolled oracle, so parity holds by construction;
    fixture convergence inside the caps is pinned by tests."""
    from giranking_spark.operators.components import coreness_peel

    return coreness_peel(derive_nav_edges(spark, sf_dir))


def _coreness_sql(kmax: int, rounds: int) -> str:
    """Unrolled phases/rounds mirroring coreness_peel round for round."""
    parts = [
        f"edges AS MATERIALIZED ({NAV_EDGES_SQL})",
        "e_1 AS MATERIALIZED (SELECT src, dst FROM "
        "(SELECT src, dst FROM edges "
        "UNION SELECT dst AS src, src AS dst FROM edges) "
        "WHERE src <> dst)",
        "v_1 AS MATERIALIZED (SELECT DISTINCT src AS id FROM e_1)",
    ]
    rem = []
    prev_e, prev_v = "e_1", "v_1"
    for k in range(2, kmax + 1):
        for r in range(1, rounds + 1):
            parts.append(
                f"keep_{k}_{r} AS MATERIALIZED (SELECT src AS id FROM {prev_e} "
                f"GROUP BY src HAVING count(*) >= {k})"
            )
            parts.append(
                f"e_{k}_{r} AS MATERIALIZED (SELECT e.src, e.dst FROM {prev_e} e "
                f"JOIN keep_{k}_{r} a ON e.src = a.id "
                f"JOIN keep_{k}_{r} b ON e.dst = b.id)"
            )
            prev_e = f"e_{k}_{r}"
        parts.append(
            f"v_{k} AS MATERIALIZED (SELECT DISTINCT src AS id FROM {prev_e})"
        )
        rem.append(
            f"SELECT p.id, {k - 1}::BIGINT AS coreness FROM {prev_v} p "
            f"ANTI JOIN v_{k} s ON p.id = s.id"
        )
        prev_v = f"v_{k}"
    rem.append(f"SELECT id, {kmax}::BIGINT AS coreness FROM {prev_v}")
    return "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(rem)


QUERIES["graph_coreness"] = q_graph_coreness
ORACLES["graph_coreness"] = _coreness_sql(CORENESS_KMAX, CORENESS_ROUNDS)


# ---------------------------------------------------------------------------
# pivot-sampled betweenness centrality (operators/betweenness.py)

from giranking_spark.operators.betweenness import (  # noqa: E402
    BC_DEPTH,
    BC_PIVOTS,
)


def q_graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate betweenness centrality of the navigation graph: Brandes
    dependency accumulation from BC_PIVOTS hash-picked pivots, distances
    bounded at BC_DEPTH hops (Brandes-Pich pivot sampling + k-betweenness
    truncation — the estimator that scales where exact all-sources Brandes
    cannot). Forward σ counts are exact integers; the backward δ sweep is
    the only float arithmetic, mirrored term for term in the oracle."""
    from giranking_spark.functions.hashing import md5_u32
    from giranking_spark.operators.betweenness import betweenness_approx
    from giranking_spark.operators.components import undirected_edges

    e = derive_nav_edges(spark, sf_dir)
    verts = (
        undirected_edges(e)
        .select(F.col("src").alias("id"))
        .distinct()
    )
    seeds = verts.orderBy(
        md5_u32(F.col("id").cast("string")).asc(), F.col("id").asc()
    ).limit(BC_PIVOTS)
    return betweenness_approx(e, seeds, BC_DEPTH)


def _betweenness_sql(k: int, depth: int) -> str:
    """Unrolled forward-σ / backward-δ sweeps mirroring betweenness_approx
    level for level (empty levels are no-ops on both sides)."""
    parts = [
        f"edges AS MATERIALIZED ({NAV_EDGES_SQL})",
        "und AS MATERIALIZED (SELECT src, dst FROM edges "
        "UNION SELECT dst AS src, src AS dst FROM edges)",
        "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM und)",
        "seeds AS MATERIALIZED (SELECT id FROM verts "
        f"ORDER BY {_md('id::VARCHAR')} ASC, id ASC LIMIT {k})",
        "f0 AS MATERIALIZED (SELECT id AS seed, id, 1::BIGINT AS sigma "
        "FROM seeds)",
        "vis0 AS MATERIALIZED (SELECT seed, id FROM f0)",
    ]
    for l in range(1, depth + 1):
        parts.append(
            f"f{l} AS MATERIALIZED (SELECT f.seed, e.dst AS id, "
            "CAST(sum(f.sigma) AS BIGINT) AS sigma "
            f"FROM f{l - 1} f JOIN und e ON e.src = f.id "
            f"ANTI JOIN vis{l - 1} v ON v.seed = f.seed AND v.id = e.dst "
            "GROUP BY f.seed, e.dst)"
        )
        parts.append(
            f"vis{l} AS MATERIALIZED (SELECT seed, id FROM vis{l - 1} "
            f"UNION ALL SELECT seed, id FROM f{l})"
        )
    parts.append(
        f"b{depth} AS MATERIALIZED "
        f"(SELECT seed, id, 0.0e0 AS delta FROM f{depth})"
    )
    for l in range(depth - 1, -1, -1):
        parts.append(
            f"p{l} AS (SELECT f.seed, f.id, "
            "sum((f.sigma / w.sigma) * (1.0e0 + b.delta)) AS delta "
            f"FROM f{l} f JOIN und e ON e.src = f.id "
            f"JOIN f{l + 1} w ON w.seed = f.seed AND w.id = e.dst "
            f"JOIN b{l + 1} b ON b.seed = f.seed AND b.id = e.dst "
            "GROUP BY f.seed, f.id)"
        )
        parts.append(
            f"b{l} AS MATERIALIZED (SELECT f.seed, f.id, "
            f"coalesce(p.delta, 0.0e0) AS delta FROM f{l} f "
            f"LEFT JOIN p{l} p ON p.seed = f.seed AND p.id = f.id)"
        )
    union = " UNION ALL ".join(
        f"SELECT id, delta FROM b{l}" for l in range(1, depth + 1)
    )
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT id, round(sum(delta), 6) AS bc FROM ({union}) "
        "GROUP BY id HAVING round(sum(delta), 6) > 0"
    )


QUERIES["graph_betweenness"] = q_graph_betweenness
ORACLES["graph_betweenness"] = _betweenness_sql(BC_PIVOTS, BC_DEPTH)


def q_graph_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness-centrality substrate by HyperBall (Boldi-Vigna's third
    estimator, after the neighborhood function and harmonic centrality):
    per vertex, the estimated reachable-set size and the estimated total
    distance Σ_w d(v,w) = Σ_t t·(|B(t)|−|B(t−1)|), both as exact integer
    micro-units — closeness 1/Σd and Lin's index (r−1)²/Σd derive from
    these two integers with no float anywhere in the query itself."""
    from giranking_spark.operators.hyperball import hyperball

    hb = hyperball(derive_nav_edges(spark, sf_dir), HYPERBALL_T)
    micro = F.round(F.col("est_distinct") * F.lit(1000000.0), 0).cast("long")
    w = Window.partitionBy("id").orderBy("t")
    d = hb.select("t", "id", micro.alias("micro")).withColumn(
        "diff", F.col("micro") - F.lag("micro", 1, 0).over(w)
    )
    return d.groupBy("id").agg(
        F.max("micro").cast("long").alias("ball_micro"),
        F.sum(
            F.when(F.col("t") >= 1, F.col("t") * F.col("diff")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("sumdist_micro"),
    )


QUERIES["graph_closeness"] = q_graph_closeness
ORACLES["graph_closeness"] = (
    "WITH est AS (SELECT t, v, "
    "CAST(round(est_distinct * 1000000, 0) AS BIGINT) AS micro FROM "
    f"({_hll_sql(_HYPERBALL_MEMBER_SQL, keys=('t', 'v'))})), "
    "d AS (SELECT t, v, micro, micro - lag(micro, 1, 0) OVER "
    "(PARTITION BY v ORDER BY t) AS diff FROM est) "
    "SELECT v AS id, CAST(max(micro) AS BIGINT) AS ball_micro, "
    "CAST(sum(CASE WHEN t >= 1 THEN t * diff ELSE 0 END) AS BIGINT) "
    "AS sumdist_micro FROM d GROUP BY v"
)


# ---------------------------------------------------------------------------
# bipartite projection (customer-supplier -> supplier co-purchase graph)

#: minimum shared customers for a projected edge — keeps the projection
#: output bounded (shared-threshold pruning is the standard projection
#: guard: Newman, "Scientific collaboration networks", 2001)
BIPROJ_MIN_SHARED = 2


def q_graph_bipartite_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-mode projection of the bipartite customer→supplier graph onto
    suppliers: supplier pairs sharing ≥ BIPROJ_MIN_SHARED customers,
    weighted by the shared-customer count — the co-purchase graph that
    feeds recommendation/community pipelines.

    Scale shape (same discipline as graph_adamic_adar): candidate pairs
    come from an equi-join on the shared customer (never supplier ×
    supplier), and hub customers with fanout > FEATURE_AGG_MAX_FANOUT are
    pruned BEFORE the quadratic stage — one celebrity customer would
    contribute fanout² wedges. The prune is mirrored in the oracle, so
    the cap is a shared contract, not an approximation.

    The r14 collect_list + combination-explode variant was measured and
    REJECTED (interpreted array lambdas ran ~2× slower than the codegen'd
    self-join at sf0.1 — see q_graph_adamic_adar); the join stays."""
    e = derive_edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("fanout"))
    keep = deg.filter(F.col("fanout") <= FEATURE_AGG_MAX_FANOUT).select("src")
    with cached(e.join(keep, "src")) as ek:
        b = ek.select("src", F.col("dst").alias("dst_b"))
        return (
            ek.join(b, "src")
            .filter(F.col("dst") < F.col("dst_b"))
            .groupBy(F.col("dst").alias("s_a"), F.col("dst_b").alias("s_b"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= BIPROJ_MIN_SHARED)
        ).localCheckpoint()


QUERIES["graph_bipartite_project"] = q_graph_bipartite_project
ORACLES["graph_bipartite_project"] = (
    "WITH edges AS MATERIALIZED (" + EDGES_SQL + "), "
    "deg AS (SELECT src, count(*) AS fanout FROM edges GROUP BY src), "
    "ek AS (SELECT e.src, e.dst FROM edges e JOIN deg d ON e.src = d.src "
    f"WHERE d.fanout <= {FEATURE_AGG_MAX_FANOUT}) "
    "SELECT a.dst AS s_a, b.dst AS s_b, count(*)::BIGINT AS n_shared "
    "FROM ek a JOIN ek b ON a.src = b.src AND a.dst < b.dst "
    f"GROUP BY 1, 2 HAVING count(*) >= {BIPROJ_MIN_SHARED}"
)


# ---------------------------------------------------------------------------
# rich-club coefficient curve

#: degree thresholds for the rich-club curve (shared contract)
RICH_CLUB_KS = [1, 2, 4, 8, 16]


def q_graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the navigation graph (Zhou & Mondragón
    2004): for each degree threshold k, the density among vertices of
    degree > k — φ(k) = 2·E_k / (N_k·(N_k−1)) — the standard test for
    whether hubs preferentially interconnect (elite cores in web graphs).

    One degree aggregate + one edge-degree join, then the k thresholds
    ride as an exploded literal array so the whole curve is ONE pass over
    the edge relation (never one job per k). Exact integer counts; only
    the final density divides."""
    und = undirected_edges(derive_nav_edges(spark, sf_dir)).filter(
        F.col("src") != F.col("dst")
    )
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    ks = F.array(*[F.lit(k) for k in RICH_CLUB_KS])
    nk = (
        deg.select(F.explode(ks).alias("k"), "d")
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_k"))
    )
    da = deg.select(F.col("id").alias("src"), F.col("d").alias("d_src"))
    db = deg.select(F.col("id").alias("dst"), F.col("d").alias("d_dst"))
    ek = (
        und.filter(F.col("src") < F.col("dst"))
        .join(da, "src")
        .join(db, "dst")
        .select(
            F.explode(ks).alias("k"),
            F.least("d_src", "d_dst").alias("dmin"),
        )
        .filter(F.col("dmin") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("e_k"))
    )
    return (
        nk.join(ek, "k", "left")
        .select(
            F.col("k").cast("long").alias("k"),
            "n_k",
            F.coalesce("e_k", F.lit(0)).cast("long").alias("e_k"),
            F.when(
                F.col("n_k") >= 2,
                F.round(
                    2.0 * F.coalesce("e_k", F.lit(0))
                    / (F.col("n_k") * (F.col("n_k") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("phi"),
        )
    )


QUERIES["graph_rich_club"] = q_graph_rich_club
ORACLES["graph_rich_club"] = (
    f"WITH edges AS MATERIALIZED ({NAV_EDGES_SQL}), "
    "und AS (SELECT src, dst FROM (SELECT src, dst FROM edges "
    "UNION SELECT dst, src FROM edges) WHERE src <> dst), "
    "deg AS (SELECT src AS id, count(*)::BIGINT AS d FROM und GROUP BY 1), "
    f"ks AS (SELECT unnest([{', '.join(str(k) for k in RICH_CLUB_KS)}]) AS k), "
    "nk AS (SELECT k, count(*)::BIGINT AS n_k FROM deg, ks "
    "WHERE d > k GROUP BY k), "
    "ek AS (SELECT k, count(*)::BIGINT AS e_k "
    "FROM (SELECT u.src, u.dst, least(a.d, b.d) AS dmin FROM und u "
    "JOIN deg a ON u.src = a.id JOIN deg b ON u.dst = b.id "
    "WHERE u.src < u.dst), ks WHERE dmin > k GROUP BY k) "
    "SELECT nk.k::BIGINT AS k, nk.n_k, coalesce(ek.e_k, 0)::BIGINT AS e_k, "
    "CASE WHEN nk.n_k >= 2 THEN round(2e0 * coalesce(ek.e_k, 0) / "
    "(nk.n_k * (nk.n_k - 1)), 6) ELSE 0e0 END AS phi "
    "FROM nk LEFT JOIN ek ON nk.k = ek.k"
)


# ---------------------------------------------------------------------------
# edge reciprocity

def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the directed navigation graph: the share of directed
    edges whose reverse edge also exists (Garlaschelli & Loffredo 2004) —
    the macro statistic separating conversational link structure (high r)
    from hierarchical link structure (low r). ONE self semi-join on the
    reversed key over the deduped edge relation; exact integer counts,
    one division."""
    e = derive_nav_edges(spark, sf_dir).filter(
        F.col("src") != F.col("dst")
    ).distinct()
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    n = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    r = recip.agg(F.count(F.lit(1)).cast("long").alias("n_reciprocal"))
    return n.crossJoin(F.broadcast(r)).select(
        "n_edges",
        "n_reciprocal",
        (F.col("n_reciprocal") / 2).cast("long").alias("n_mutual_pairs"),
        F.when(F.col("n_edges") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("n_reciprocal") / F.col("n_edges").cast("double"), 6
            )
        )
        .alias("reciprocity"),
    )


QUERIES["graph_reciprocity"] = q_graph_reciprocity
ORACLES["graph_reciprocity"] = (
    f"WITH edges AS MATERIALIZED ({NAV_EDGES_SQL}), "
    "e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst), "
    "recip AS (SELECT e.src, e.dst FROM e "
    "SEMI JOIN e r ON e.src = r.dst AND e.dst = r.src), "
    "n AS (SELECT count(*)::BIGINT AS n_edges FROM e), "
    "rc AS (SELECT count(*)::BIGINT AS n_reciprocal FROM recip) "
    "SELECT n_edges, n_reciprocal, "
    "(n_reciprocal // 2)::BIGINT AS n_mutual_pairs, "
    "CASE WHEN n_edges = 0 THEN 0e0 ELSE round(n_reciprocal / (n_edges * 1e0), 6) END AS reciprocity FROM n, rc"
)


# ---- BFS layer profile from the minimum-id vertex ----------------------------

def q_graph_wcc_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS layer profile (vertices per hop) from the minimum-id vertex —
    the expansion curve used to estimate effective diameter and to sanity-
    check crawl frontier growth. Same depth-cap CONTRACT as graph_bfs_dist
    (BFS_MAX_DEPTH shared with the recursive-CTE oracle); the seed choice
    (lexicographic min id) is engine-identical under binary collation."""
    e = derive_edges(spark, sf_dir)
    seeds = lr.all_vertex_ids(None, e).agg(F.min("id").alias("id"))
    return (
        bfs_distances(e, seeds, BFS_MAX_DEPTH)
        .groupBy("dist")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    )


QUERIES["graph_wcc_bfs_layers"] = q_graph_wcc_bfs_layers
ORACLES["graph_wcc_bfs_layers"] = (
    f"WITH RECURSIVE edges AS MATERIALIZED ({EDGES_SQL}), "
    "und AS MATERIALIZED (SELECT src, dst FROM edges "
    "UNION SELECT dst AS src, src AS dst FROM edges), "
    "seeds AS MATERIALIZED (SELECT min(src) AS id FROM und), "
    "r AS (SELECT id AS v, 0 AS d FROM seeds "
    "UNION SELECT u.dst AS v, r.d + 1 AS d FROM r JOIN und u ON u.src = r.v "
    f"WHERE r.d < {BFS_MAX_DEPTH}), "
    "dist AS (SELECT v, min(d) AS dist FROM r GROUP BY v) "
    "SELECT CAST(dist AS BIGINT) AS dist, count(*)::BIGINT AS n_vertices "
    "FROM dist GROUP BY 1"
)


# ---- sampled eccentricity ------------------------------------------------------

ECC_SEED_MOD = 150  # md5-free deterministic sample: ~1/150 of customer ids


def q_graph_ecc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-bounded eccentricity for a deterministic vertex sample — the
    multi-probe diameter estimate (all probes propagate in ONE fixpoint via
    per_seed_bfs's (seed, id)-keyed state, the standard trick instead of k
    sequential BFS runs). ecc = max hop distance reached within
    BFS_MAX_DEPTH; n_reached audits coverage. Seed predicate is exact
    integer arithmetic on the id suffix — engine-identical."""
    from giranking_spark.operators.components import per_seed_bfs

    e = derive_edges(spark, sf_dir)
    # fixed-size probe set: the id cap keeps the sample at <= 10 seeds at
    # EVERY scale factor (seed count must not scale with the corpus — the
    # whole point of sampled eccentricity; without the cap sf0.1 ran 100
    # seeds and 10x the state rows for no extra information)
    seeds = lr.all_vertex_ids(None, e).filter(
        (F.substring("id", 1, 1) == "c")
        & (F.substring("id", 2, 100).cast("long") % ECC_SEED_MOD == 0)
        & (F.substring("id", 2, 100).cast("long") <= ECC_SEED_MOD * 10)
    )
    return (
        per_seed_bfs(e, seeds, BFS_MAX_DEPTH)
        .groupBy("seed")
        .agg(
            F.max("dist").cast("long").alias("ecc"),
            F.count(F.lit(1)).cast("long").alias("n_reached"),
        )
    )


QUERIES["graph_ecc_sample"] = q_graph_ecc_sample
ORACLES["graph_ecc_sample"] = (
    f"WITH RECURSIVE edges AS MATERIALIZED ({EDGES_SQL}), "
    "und AS MATERIALIZED (SELECT src, dst FROM edges "
    "UNION SELECT dst AS src, src AS dst FROM edges), "
    "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM und), "
    "seeds AS MATERIALIZED (SELECT id FROM verts "
    "WHERE substr(id, 1, 1) = 'c' "
    f"AND CAST(substr(id, 2) AS BIGINT) % {ECC_SEED_MOD} = 0 "
    f"AND CAST(substr(id, 2) AS BIGINT) <= {ECC_SEED_MOD * 10}), "
    "r AS (SELECT id AS seed, id AS v, 0 AS d FROM seeds "
    "UNION SELECT r.seed, u.dst AS v, r.d + 1 AS d "
    f"FROM r JOIN und u ON u.src = r.v WHERE r.d < {BFS_MAX_DEPTH}), "
    "dist AS (SELECT seed, v, min(d) AS dist FROM r GROUP BY 1, 2) "
    "SELECT seed, CAST(max(dist) AS BIGINT) AS ecc, "
    "count(*)::BIGINT AS n_reached FROM dist GROUP BY 1"
)


# ---- local bridges (span > 2 edges) --------------------------------------------

def q_graph_local_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local bridges: undirected edges whose endpoints share NO common
    neighbor (span > 2, Granovetter's weak-tie criterion; every true
    bridge is a local bridge). Formulation: an edge is NOT a local bridge
    iff it closes at least one triangle, so the count is edges minus
    triangle-closing edges. The triangle-closing relation comes from the
    degree-oriented enumeration (operators/triangles.py): 3 canonical
    edges emitted per triangle then dedup'd — intermediate size is
    arboricity-bounded, never the Sigma d^2 full per-edge neighbor
    expansion (exact, no hub cap: caps would change the answer). Output is
    the single-row audit (n_edges, n_local_bridges, ratio)."""
    from giranking_spark.operators.components import undirected_edges
    from giranking_spark.operators.triangles import triangle_edges

    und = undirected_edges(derive_edges(spark, sf_dir), dedup=True)
    ec = und.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    with cached(ec):
        tri_edges = triangle_edges(ec)
        n_edges = ec.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        n_bridge = (
            ec.join(tri_edges, ["u", "v"], "left_anti")
            .groupBy()
            .agg(F.count(F.lit(1)).cast("long").alias("n_local_bridges"))
        )
        return n_edges.crossJoin(F.broadcast(n_bridge)).select(
            "n_edges",
            "n_local_bridges",
            F.round(F.col("n_local_bridges") / F.col("n_edges").cast("double"), 6)
            .alias("ratio"),
        ).localCheckpoint()


QUERIES["graph_local_bridges"] = q_graph_local_bridges
ORACLES["graph_local_bridges"] = (
    f"WITH edges AS MATERIALIZED ({EDGES_SQL}), "
    "und AS MATERIALIZED (SELECT src, dst FROM edges "
    "UNION SELECT dst AS src, src AS dst FROM edges), "
    "ec AS (SELECT src AS u, dst AS v FROM und WHERE src < dst), "
    "tri AS (SELECT DISTINCT ec.u, ec.v FROM ec "
    "JOIN und a ON a.src = ec.u AND a.dst <> ec.v "
    "SEMI JOIN und b ON b.src = ec.v AND b.dst = a.dst), "
    "n AS (SELECT count(*)::BIGINT AS n_edges FROM ec), "
    "nb AS (SELECT count(*)::BIGINT AS n_local_bridges "
    "FROM ec ANTI JOIN tri ON ec.u = tri.u AND ec.v = tri.v) "
    "SELECT n_edges, n_local_bridges, "
    "round(n_local_bridges / (n_edges * 1e0), 6) AS ratio FROM n, nb"
)


# ---- degree-distribution Gini ----------------------------------------------------

def q_graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the undirected degree distribution — the
    one-number inequality summary of graph centralization (webgraphs run
    high; near-regular graphs near 0). Same exact-integer rank algebra as
    events_lorenz_gini: G = Σ(2i − n − 1)·d_i / (n·Σd) with ranks from a
    (degree, id)-total order, everything BIGINT until the final divide."""
    from giranking_spark.operators.components import undirected_edges

    und = undirected_edges(derive_edges(spark, sf_dir), dedup=True)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    w = Window.orderBy("d", "id")
    ranked = deg.select(
        "d", F.row_number().over(w).cast("long").alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("n"),
    )
    return ranked.groupBy().agg(
        F.max("n").alias("n_vertices"),
        F.sum("d").cast("long").alias("sum_deg"),
        F.round(
            F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("d"))
            / (F.max("n") * F.sum("d")).cast("double"),
            6,
        ).alias("gini"),
    )


QUERIES["graph_degree_gini"] = q_graph_degree_gini
ORACLES["graph_degree_gini"] = (
    f"WITH edges AS MATERIALIZED ({EDGES_SQL}), "
    "und AS (SELECT src, dst FROM edges "
    "UNION SELECT dst AS src, src AS dst FROM edges), "
    "deg AS (SELECT src AS id, count(*)::BIGINT AS d FROM und GROUP BY 1), "
    "ranked AS (SELECT d, row_number() OVER (ORDER BY d, id) AS i, "
    "count(*) OVER () AS n FROM deg) "
    "SELECT max(n)::BIGINT AS n_vertices, CAST(sum(d) AS BIGINT) AS sum_deg, "
    "round(CAST(sum((2 * i - n - 1) * d) AS BIGINT) "
    "/ ((max(n) * sum(d)) * 1e0), 6) AS gini FROM ranked"
)


# ---- global transitivity (wedges vs triangles) ------------------------------------

def q_graph_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the undirected
    navigation graph (page k -> next page k per user timeline, thresholded
    at NAV_MIN_COUNT — the same substrate as graph_motifs/graph_scc):
    3*triangles / wedges. Wedges come free from the degree distribution
    (sum d(d-1)/2, one aggregate); triangles use the degree-oriented
    arboricity-bounded enumeration (operators/triangles.py — exact, so the
    id-oriented oracle is value-identical). The navigation graph is
    page-cardinality-sized with genuine closure structure — unlike the
    supplier co-occurrence projection, which saturates to a near-complete
    graph at sf0.1+ (90%+ of all pairs) and makes any exact triangle
    count Theta(n^3) by construction."""
    from giranking_spark.operators.components import undirected_edges
    from giranking_spark.operators.triangles import triangle_relation

    co = (
        undirected_edges(derive_nav_edges(spark, sf_dir), dedup=True)
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    with cached(co):
        und = co.select("u", "v").unionByName(
            co.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        wedges = (
            und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
            .groupBy()
            .agg(
                F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges")
            )
        )
        tri = (
            triangle_relation(co)
            .groupBy()
            .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        )
        return wedges.crossJoin(F.broadcast(tri)).select(
            "n_wedges",
            "n_triangles",
            F.round(
                3 * F.col("n_triangles") / F.col("n_wedges").cast("double"), 6
            ).alias("transitivity"),
        ).localCheckpoint()


QUERIES["graph_transitivity"] = q_graph_transitivity
ORACLES["graph_transitivity"] = (
    f"WITH nav AS MATERIALIZED ({NAV_EDGES_SQL}), "
    "sym AS (SELECT src, dst FROM nav "
    "UNION SELECT dst AS src, src AS dst FROM nav), "
    "co AS MATERIALIZED (SELECT src AS u, dst AS v FROM sym WHERE src < dst), "
    "und AS (SELECT u, v FROM co UNION ALL SELECT v AS u, u AS v FROM co), "
    "deg AS (SELECT u, count(*)::BIGINT AS d FROM und GROUP BY 1), "
    "wedges AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges "
    "FROM deg), "
    "tri AS (SELECT count(*)::BIGINT AS n_triangles "
    "FROM co e1 JOIN co e2 ON e1.v = e2.u "
    "SEMI JOIN co e3 ON e3.u = e1.u AND e3.v = e2.v) "
    "SELECT n_wedges, n_triangles, "
    "round(3 * n_triangles / (n_wedges * 1e0), 6) AS transitivity "
    "FROM wedges, tri"
)


# ---- in/out-degree correlation -----------------------------------------------

def q_graph_degree_corr_io(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between each vertex's in- and out-degree on the
    DIRECTED derived graph — the hub/authority overlap diagnostic
    (positive: the same pages both cite and get cited; ~0: bipartite-like
    role separation; the directed sibling of graph_degree_assort). One
    aggregate over the union of degree rows; all five Pearson sums are
    exact BIGINTs (degrees are integers), one square root at the end."""
    e = derive_edges(spark, sf_dir)
    outd = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    ind = e.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("i")
    )
    verts = lr.all_vertex_ids(None, e)
    d = (
        verts.join(outd, "id", "left")
        .join(ind, "id", "left")
        .select(
            F.coalesce("o", F.lit(0)).alias("o"),
            F.coalesce("i", F.lit(0)).alias("i"),
        )
    )
    s = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("o").cast("long").alias("so"),
        F.sum("i").cast("long").alias("si"),
        F.sum(F.col("o") * F.col("i")).cast("long").alias("soi"),
        F.sum(F.col("o") * F.col("o")).cast("long").alias("soo"),
        F.sum(F.col("i") * F.col("i")).cast("long").alias("sii"),
    )
    return s.select(
        "n",
        F.round(
            # each variance term fits BIGINT (~1e13) but their PRODUCT does
            # not — cast each to double before multiplying, same order in
            # the oracle
            (F.col("n") * F.col("soi") - F.col("so") * F.col("si"))
            / F.sqrt(
                ((F.col("n") * F.col("soo") - F.col("so") * F.col("so")) * F.lit(1.0))
                * ((F.col("n") * F.col("sii") - F.col("si") * F.col("si")) * F.lit(1.0))
            ),
            6,
        ).alias("corr_io"),
    )


QUERIES["graph_degree_corr_io"] = q_graph_degree_corr_io
ORACLES["graph_degree_corr_io"] = (
    f"WITH edges AS MATERIALIZED ({EDGES_SQL}), "
    "verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges), "
    "outd AS (SELECT src AS id, count(*)::BIGINT AS o FROM edges GROUP BY 1), "
    "ind AS (SELECT dst AS id, count(*)::BIGINT AS i FROM edges GROUP BY 1), "
    "d AS (SELECT coalesce(o, 0) AS o, coalesce(i, 0) AS i FROM verts "
    "LEFT JOIN outd USING (id) LEFT JOIN ind USING (id)), "
    "s AS (SELECT count(*)::BIGINT AS n, CAST(sum(o) AS BIGINT) AS so, "
    "CAST(sum(i) AS BIGINT) AS si, CAST(sum(o * i) AS BIGINT) AS soi, "
    "CAST(sum(o * o) AS BIGINT) AS soo, CAST(sum(i * i) AS BIGINT) AS sii "
    "FROM d) "
    "SELECT n, round((n * soi - so * si) / "
    "sqrt(((n * soo - so * so) * 1e0) * ((n * sii - si * si) * 1e0)), 6) AS corr_io "
    "FROM s"
)
