"""Round-11 operator tests: adaptive triangle orientation dispatch and the
GEMM-vs-Column row-count dispatch for the ANN family."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


def _co(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def test_orientation_dispatch_rule():
    """Pin the dispatch rule against the measured sf0.1 substrates: the
    bipartite page-link graph (25.7M id-wedges over 587k edges, max degree
    102) stays on the compact id-oriented path; the near-complete supplier
    co-occurrence projection (274M id-wedges over 454k edges, max degree
    926) orients. Both the absolute and the relative budget must bind."""
    from giranking_spark.operators.triangles import (
        WEDGE_ABS_CAP,
        WEDGE_REL_CAP,
        should_orient,
    )

    # measured sf0.1 substrates (DuckDB over the shipped fixture)
    assert not should_orient(25_676_603, 586_871)  # local_bridges graph
    assert should_orient(274_376_050, 453_588)  # supplier co-occurrence
    # tiny graphs never orient, whatever the ratio (absolute budget)
    assert not should_orient(40_005, 203)  # the hub test fixture
    # the relative budget binds once past the absolute one
    m = 10_000_000
    assert not should_orient(WEDGE_REL_CAP * m, m)
    assert should_orient(WEDGE_REL_CAP * m + 1, m)


def test_triangle_paths_agree(spark):
    """Both forced paths (and the auto dispatch) enumerate the same
    triangle SET on a random graph — orientation is a physical choice."""
    from giranking_spark.operators.triangles import triangle_relation

    rnd = random.Random(11)
    pairs = sorted({tuple(sorted(rnd.sample(range(40), 2))) for _ in range(200)})
    co = _co(spark, [(int(u), int(v)) for u, v in pairs])

    def tri_set(df):
        return {tuple(sorted(r)) for r in df.collect()}

    auto = tri_set(triangle_relation(co))
    compact = tri_set(triangle_relation(co, orient=False))
    oriented = tri_set(triangle_relation(co, orient=True))
    assert auto == compact == oriented
    assert len(auto) > 0


@pytest.mark.parametrize("op", ["pq", "ivf_pq", "lsh"])
def test_gemm_dispatch_paths_agree(spark, op):
    """The GEMM candidate path and the per-pair Column-expression path of
    the dispatched ANN operators return IDENTICAL rows on the fixture —
    the dispatch is a physical choice only. This keeps the GEMM path
    test-covered now that small fixtures route to the Column path."""
    from giranking_spark.operators import similarity as S
    from giranking_spark.queries.simq import _corpus_queries

    corpus, queries = _corpus_queries(spark, SF_SMALL)
    if op == "pq":
        fn = lambda g: S.pq_topk(corpus, queries, k=5, gemm=g)
    elif op == "ivf_pq":
        fn = lambda g: S.ivf_pq_topk(corpus, queries, k=5, gemm=g)
    else:
        fn = lambda g: S.lsh_topk(corpus, queries, k=5, gemm=g)
    with_gemm = sorted(map(tuple, fn(True).collect()))
    without = sorted(map(tuple, fn(False).collect()))
    assert with_gemm == without
    assert len(without) > 0


def test_gemm_dispatch_rule(spark):
    """Auto mode routes by corpus row count: the fixture corpus (tiny)
    takes the Column path; an override forces the GEMM path."""
    from giranking_spark.operators.similarity import GEMM_MIN_CORPUS, _use_gemm
    from giranking_spark.queries.simq import _corpus_queries

    corpus, _ = _corpus_queries(spark, SF_SMALL)
    assert not _use_gemm(corpus, None)
    assert _use_gemm(corpus, True)
    # the threshold sits between the measured decades: sf0.1 (20k vectors,
    # Column path faster) and sf10-mut (200k vectors, GEMM essential)
    assert 20_000 < GEMM_MIN_CORPUS <= 200_000


def test_lsh_topk_zero_norm_drops_on_both_paths(spark):
    """Cosine-NULL contract under the dispatch: a zero-norm vector never
    ranks, whichever arm runs — the Column path must filter NULL cosines
    the way the GEMM path drops zero-norm rows at the cogroup stage."""
    from giranking_spark.operators.similarity import lsh_topk

    rows = [(i, [float(i == j + 1) for j in range(4)]) for i in range(1, 5)]
    rows.append((9, [0.0, 0.0, 0.0, 0.0]))  # zero-norm corpus+query row
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for gemm in (False, True):
        got = lsh_topk(df, df, k=3, dim=4, gemm=gemm).collect()
        assert all(r.cos is not None for r in got), got
        assert all(r.query_id != 9 and r.neighbor_id != 9 for r in got), got


def test_margin_check_module_flag_is_runtime_switch(spark):
    """similarity.GEMM_MARGIN_CHECK = False must actually disable the
    guard for calls that don't pass margin_check explicitly (the flag is
    resolved at call time, not def time)."""
    from giranking_spark.operators import similarity as S

    base = [1.0e9] * 4
    corpus = spark.createDataFrame(
        [(0, i, [b + i * 1.0e-3 for b in base]) for i in range(1, 5)],
        "__block int, vec_id long, v array<double>",
    )
    queries = spark.createDataFrame(
        [(0, 100, base)], "__block int, query_id long, qv array<double>"
    )
    old = S.GEMM_MARGIN_CHECK
    try:
        S.GEMM_MARGIN_CHECK = False
        S.gemm_topk_candidates(corpus, queries, k=2, metric="l2sq").collect()
    finally:
        S.GEMM_MARGIN_CHECK = old


def test_ivf_assign_gemm_path_agrees(spark):
    """The GEMM top-1 assignment (corpus-scaled quantizer regime) must
    equal the broadcast-crossJoin argmax exactly, including the zero-norm
    rule (lands in the LOWEST cell) and the ties-to-lowest-cell rule."""
    from giranking_spark.operators.similarity import (
        deterministic_centroids,
        ivf_assign,
    )

    rows = [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(8)]) for i in range(1, 40)]
    rows.append((99, [0.0] * 8))  # zero-norm vector
    rows.append((100, rows[0][1]))  # exact duplicate of vec 1: tie case
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = deterministic_centroids(corpus, c=4)
    a = sorted(map(tuple, ivf_assign(corpus, cents, gemm=False)
                .select("vec_id", "cell").collect()))
    b = sorted(map(tuple, ivf_assign(corpus, cents, gemm=True)
                .select("vec_id", "cell").collect()))
    assert a == b
    assert dict(a)[99] == 1  # zero-norm -> lowest cell on both paths


def test_lsh_neardup_null_labels_never_match(spark):
    """Rows with a NULL label must emit NO near-dup pairs (the original
    within-label equi-join semantics), not collapse into a shared pseudo-
    block via concat_ws's null-skipping."""
    from giranking_spark.operators.similarity import lsh_neardup_pairs

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], None),
        (2, [1.0, 0.0, 0.0, 0.0], None),  # identical vector, NULL label
        (3, [0.0, 1.0, 0.0, 0.0], "a"),
        (4, [0.0, 1.0, 0.0, 0.0], "a"),  # identical vector, same label
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    got = lsh_neardup_pairs(df, threshold=0.9, dim=4).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(3, 4)]


def test_gemm_margin_guard_catches_cancellation(spark):
    """Adversarial huge-norm near-identical vectors: the l2sq norm
    expansion ‖q‖²+‖c‖²−2qc loses ALL precision (terms ~4e18, true
    distance ~1e-6), so the default-on margin guard must RAISE instead of
    letting the 2-step trim silently drop true neighbors. With the guard
    off, the same call completes (returning the silently-wrong shape the
    guard exists to catch)."""
    from giranking_spark.operators.similarity import gemm_topk_candidates

    base = [1.0e9, 1.0e9, 1.0e9, 1.0e9]
    corpus = spark.createDataFrame(
        [
            (0, i, [b + i * 1.0e-3 for b in base])
            for i in range(1, 5)
        ],
        "__block int, vec_id long, v array<double>",
    )
    queries = spark.createDataFrame(
        [(0, 100, base)], "__block int, query_id long, qv array<double>"
    )
    bad = gemm_topk_candidates(corpus, queries, k=2, metric="l2sq")
    with pytest.raises(Exception, match="GEMM margin violation"):
        bad.collect()
    ok = gemm_topk_candidates(
        corpus, queries, k=2, metric="l2sq", margin_check=False
    )
    ok.collect()  # completes; exactness is the caller's risk with the flag off


def test_gemm_margin_guard_passes_normal_data(spark):
    """The guard is silent on well-scaled vectors (the fixture regime) —
    default-on must not fail production runs."""
    from giranking_spark.operators.similarity import (
        blocked_knn_candidates,
        gemm_topk_candidates,
    )

    rnd = random.Random(3)
    corpus = spark.createDataFrame(
        [
            (i % 2, i, [rnd.uniform(-1, 1) for _ in range(8)])
            for i in range(200)
        ],
        "__block int, vec_id long, v array<double>",
    )
    queries = corpus.selectExpr(
        "__block", "vec_id as query_id", "v as qv"
    ).filter("vec_id % 10 = 0")
    assert gemm_topk_candidates(corpus, queries, k=3, metric="cos").count() > 0
    assert gemm_topk_candidates(corpus, queries, k=3, metric="l2sq").count() > 0
    vecs = corpus.selectExpr("__block as label", "vec_id", "v")
    assert blocked_knn_candidates(vecs, k=3).count() > 0


def test_grid_blocked_gemm_candidates_contain_exact_topk(spark):
    """Grid blocking (qbuckets > 1, the 100 TB query-side memory bound)
    still yields a candidate superset of the exact top-k: a global top-k
    row is its own grid cell's top-k row for its query."""
    from giranking_spark.operators.similarity import (
        brute_force_topk,
        bucket_for_gemm,
        gemm_topk_candidates,
    )
    from giranking_spark.queries.simq import _corpus_queries

    corpus, queries = _corpus_queries(spark, SF_SMALL)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(corpus, queries, k=5).collect()
    }
    cbk, qbk = bucket_for_gemm(
        corpus.select("vec_id", "embedding"),
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        ),
        buckets=4,
        qbuckets=3,
    )
    cand = {
        (r.query_id, r.neighbor_id)
        for r in gemm_topk_candidates(
            cbk, qbk, k=5, metric="cos", vec_col="embedding"
        ).collect()
    }
    assert exact <= cand


def test_small_graph_broadcasts_wedge_join(spark):
    """Under BROADCAST_EDGE_CAP the enumeration's joins broadcast the
    edge/closing sides, so the wedge relation never hits an exchange."""
    from giranking_spark.operators.triangles import triangle_relation

    co = _co(spark, [(1, 2), (1, 3), (2, 3), (3, 4)])
    plan = triangle_relation(co)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
