"""Round-14 optimization pins.

1. Unpersist discipline (r13 VERDICT item): the query-level persists added
   in r13 (fingerprint winnow/substring, dedup_recall_eval, the simq
   _recall_summary gates, text_dsir_weights, and the wedge-family caches)
   must not leave a cached relation behind once the caller drops the
   result — a 1000-query library session must not accumulate one persisted
   relation per call. The pattern under test: persist the reused relation,
   eagerly materialize the (result-sized) output via localCheckpoint,
   unpersist the big relation before returning; the output's checkpoint
   blocks die with the DataFrame via the ContextCleaner.

2. The wedge self-join shape: the r14 collect_list + combination-explode
   variant measured 2-2.6x SLOWER than the codegen'd self-join (interpreted
   higher-order array lambdas + per-pair slice copies), so the pair stage
   must stay a join on the shared-center key, hub-pruned before the
   quadratic stage.
"""

from __future__ import annotations

import gc
import os
import re

import pytest

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


def _n_leaked(spark) -> int:
    """Persisted RDDs that are NOT localCheckpoint blocks.

    This is exactly the leak class: a ``.persist()`` without a matching
    ``.unpersist()`` keeps its map entry forever, and ``unpersist()``
    removes the entry synchronously — so this count is deterministic,
    needing no GC/drain loop. localCheckpoint blocks are excluded: their
    lifecycle is the ContextCleaner's documented die-with-the-DataFrame
    contract, which is asynchronous by design."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    n = 0
    while it.hasNext():
        if not it.next()._2().isLocallyCheckpointed():
            n += 1
    return n


QUERY_KEYS = [
    "dedup_winnow_pairs",
    "dedup_substring_run",
    "dedup_recall_eval",
    "embed_recall_at_k",
    "text_dsir_weights",
    "graph_adamic_adar",
    "graph_bipartite_project",
    "graph_feature_agg",
    "graph_neighbor_jaccard",
    # the r14 second wave: pre-r13 leaks found by auditing every
    # query-level persist for a matching unpersist
    "corpus_pipeline",
    "text_pmi",
    "simsearch_recall",
    "text_quality_deciles",
    "search_hybrid_rrf",
    "graph_transitivity",
    # the rank-loop family: every cache the fixpoint driver
    # (operators/linkrank.py:Fixpoint) persists is released on return
    "linkrank_scores",
    "trustrank_scores",
    "rank_residuals",
    "graph_ppr",
    "graph_weighted_rank",
    "graph_katz",
    "crawl_opic_scores",
    "graph_hits",
    "graph_salsa",
    "graph_label_prop",
    # the min-relax loops on the same driver
    "graph_components",
    "graph_component_sizes",
    "graph_bfs_dist",
    "graph_sssp",
    "graph_diameter_est",
    "graph_ecc_sample",
    "graph_wcc_bfs_layers",
    "graph_scc",
    "dedup_clusters",
    # the frontier loops on the same driver
    "graph_bowtie",
    "graph_betweenness",
    # HyperBall's cached edge relation
    "graph_hyperball",
    "graph_harmonic",
    # every other query whose reuse cache is a cached() block
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_minhash_estimate",
    "dedup_containment",
    "embed_semdedup",
    "graph_walks",
    "graph_kcore",
    "graph_degree_assort",
    "graph_modularity",
    "graph_clustering_coef",
    "graph_local_bridges",
    "embed_outlier_scores",
    "simsearch_ivfpq_recall",
    "embed_pca_power",
    "text_novelty",
    "text_simhash_hamming_hist",
    "text_shingle_novelty",
    "text_bm25",
    "sketch_theta_intersect",
    "events_anomaly_mad",
    "rank_warm_restart",
]


@pytest.mark.parametrize("key", QUERY_KEYS)
def test_no_cached_relation_outlives_the_result(spark, key):
    """Every ``.persist()`` a query takes must be released by the time it
    returns: after building AND forcing the query, the count of
    persisted-non-checkpoint RDDs is back at its baseline. ``unpersist()``
    removes the map entry synchronously, so this needs no GC/drain loop —
    a leak (the r13 persist-without-unpersist pattern) deterministically
    leaves its relations in the map."""
    from giranking_spark.queries import QUERIES

    spark.catalog.clearCache()
    gc.collect()
    base = _n_leaked(spark)
    df = QUERIES[key](spark, SF_SMALL)
    df.write.format("noop").mode("overwrite").save()
    n = _n_leaked(spark)
    assert n <= base, (
        f"{key}: {n - base} persisted relations outlive the call "
        "(cache leak — the r13 persist-without-unpersist regression)"
    )


def test_recall_summary_keeps_a_caller_cache(spark):
    """A relation its caller cached is used as is and stays cached: only
    the code that created a cache releases it. The summary's own cache of
    the uncached side is released on return."""
    from pyspark import StorageLevel

    from giranking_spark.queries.simq import _recall_summary

    spark.catalog.clearCache()
    base = _n_leaked(spark)
    rows = [(q, n) for q in range(3) for n in range(4)]
    exact = spark.createDataFrame(rows, "query_id long, neighbor_id long").persist()
    ann = spark.createDataFrame(rows[::2], "query_id long, neighbor_id long")
    try:
        got = _recall_summary(exact, ann).first()
        assert exact.storageLevel != StorageLevel.NONE
        assert ann.storageLevel == StorageLevel.NONE
        assert _n_leaked(spark) == base + 1  # the caller's exact, nothing else
        assert (got.n_queries, got.mean_recall, got.n_perfect) == (3, 0.5, 0)
    finally:
        exact.unpersist()


def test_fixpoint_keeps_a_caller_cache(spark):
    """The fixpoint driver follows cached()'s ownership rule: katz_scores
    selects (src, dst) from an edge frame its caller cached, which resolves
    to the caller's cache entry, and the loop leaves that cache in place."""
    from pyspark import StorageLevel

    from giranking_spark.operators.katz import katz_scores

    spark.catalog.clearCache()
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    ).persist()
    try:
        level = e.storageLevel
        assert level != StorageLevel.NONE
        assert katz_scores(e, iterations=2).count() == 3
        assert e.storageLevel == level
    finally:
        e.unpersist()


def test_fixpoints_share_one_checkpoint_dir(spark, tmp_path):
    """setCheckpointDir mints a UUID subdirectory per call: two loops
    given the same checkpoint dir must share one."""
    from pyspark.sql import functions as F

    from giranking_spark.operators.linkrank import Fixpoint

    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    sc = spark.sparkContext
    for _ in range(2):
        fx = Fixpoint(e, layout=None, checkpoint_dir=str(tmp_path))
        assert fx.checkpoint_dir == str(tmp_path)
        state = fx.start(e.select(F.col("src").alias("id"), F.lit(1.0).alias("x")))
        # the loop checkpoints reliably, into a subdirectory of tmp_path
        assert sc.getCheckpointDir().startswith(f"file:{tmp_path}/")
        fx.run(state, lambda s: s.select("id", (F.col("x") * 2).alias("x")), 2)
    assert len([p for p in tmp_path.iterdir() if p.is_dir()]) == 1


def test_cached_block_that_raises_leaves_no_cache(spark):
    """An exception inside a cached() block still releases what the block
    persisted."""
    from pyspark import StorageLevel

    from giranking_spark.cache import cached

    spark.catalog.clearCache()
    base = _n_leaked(spark)
    df = spark.range(100).selectExpr("id", "id % 7 AS m")
    with pytest.raises(RuntimeError):
        with cached(df):
            assert df.groupBy("m").count().count() == 7  # fills the cache
            assert _n_leaked(spark) == base + 1
            raise RuntimeError("mid-block failure")
    assert df.storageLevel == StorageLevel.NONE
    assert _n_leaked(spark) == base


def test_wedge_pair_stage_is_codegen_join_not_hof_explode(spark):
    """The pair stage must be a self-join on the shared-center key; the
    measured-slower interpreted combination explode must not come back.
    Built under lazy_checkpoints() so the plan is the query's pipeline,
    not a scan of its checkpointed result."""
    from giranking_spark.queries.compq import (
        q_graph_adamic_adar,
        q_graph_bipartite_project,
    )
    from tests.conftest import lazy_checkpoints

    for fn, center in ((q_graph_adamic_adar, "z"), (q_graph_bipartite_project, "src")):
        with lazy_checkpoints():
            df = fn(spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
        self_join = rf"Join \[{center}#\d+L?\], \[{center}#\d+L?\], Inner"
        assert re.search(self_join, plan), (fn.__name__, plan)
        for hof in ("Generate", "collect_list", "lambdafunction", "slice("):
            assert hof not in plan, (fn.__name__, hof)
        assert "CartesianProduct" not in plan
        assert df.count() > 0
