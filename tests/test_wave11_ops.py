"""Round-4 wave: portable HLL, degree assortativity, lexical diversity,
embedding outlier QC. Oracle parity for all four runs in
test_oracle_parity.py (registry-driven); these tests pin semantics and
plan shapes."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL, lazy_checkpoints


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestHllDistinct:
    def test_estimate_within_hll_error(self, spark):
        """p=8 HLL has ~6.5% std error; demand 4 sigma on the fixture."""
        from giranking_spark.operators.sketches import hll_distinct

        li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        exact = li.select("l_partkey").distinct().count()
        est = hll_distinct(li, "l_partkey").collect()[0]
        assert est.m_used + est.n_zero == 256
        assert abs(est.est_distinct - exact) / exact < 4 * 0.065

    def test_registerwise_max_merge(self, spark):
        """Sketching two halves and the whole must agree after register-wise
        max merge — the property that makes the sketch segment-mergeable.
        Verified indirectly: the union of disjoint halves gives the same
        1-row sketch as the full table (same rows → same registers)."""
        from giranking_spark.operators.sketches import hll_distinct

        li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        lo = li.filter(F.col("l_orderkey") % 2 == 0)
        hi = li.filter(F.col("l_orderkey") % 2 == 1)
        merged = hll_distinct(lo.unionByName(hi), "l_partkey").collect()
        full = hll_distinct(li, "l_partkey").collect()
        assert merged == full

    def test_small_range_correction_branch(self, spark):
        """A tiny distinct domain must exercise the linear-counting branch
        (zeros > 0) and stay within coarse error of the exact count."""
        from giranking_spark.operators.sketches import hll_distinct

        df = spark.range(0, 40).select((F.col("id") % 37).alias("v"))
        row = hll_distinct(df, "v").collect()[0]
        assert row.n_zero > 0
        assert abs(row.est_distinct - 37) / 37 < 0.25

    def test_plan_is_two_aggregates_no_window(self, spark):
        from giranking_spark.operators.sketches import hll_distinct

        li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        plan = plan_of(hll_distinct(li, "l_partkey"))
        assert "Window" not in plan
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan


class TestDegreeAssort:
    def test_star_graph_is_perfectly_disassortative(self, spark):
        """A star (hub + leaves) has r = -1 exactly: every edge links
        degree n with degree 1."""
        import giranking_spark.queries.compq as compq

        edges = spark.createDataFrame(
            [("hub", f"leaf{i}") for i in range(6)], ["src", "dst"]
        )
        orig = compq.derive_edges
        compq.derive_edges = lambda s, d: edges
        try:
            row = compq.q_graph_degree_assort(spark, "ignored").collect()[0]
        finally:
            compq.derive_edges = orig
        assert row.n_edges == 12  # symmetric edge list
        assert abs(row.assortativity - (-1.0)) < 1e-9

    def test_fixture_graph_bounded(self, spark):
        from giranking_spark.queries.compq import q_graph_degree_assort

        row = q_graph_degree_assort(spark, SF_SMALL).collect()[0]
        assert -1.0 <= row.assortativity <= 1.0


class TestTextTtr:
    def test_hand_example(self, spark):
        from giranking_spark.queries import textq

        df = spark.createDataFrame(
            [(1, "The cat, the DOG; the cat!"), (2, "   "), (3, "one")],
            ["doc_id", "text"],
        )
        import giranking_spark.queries.textq as tq
        import giranking_spark.sources.tables as tables

        orig = tables.load_table
        tables.load_table = lambda s, d, t: df
        # q_text_ttr imports load_table at module level in textq
        orig_tq = tq.load_table
        tq.load_table = lambda s, d, t: df
        try:
            rows = {r.doc_id: r for r in textq.q_text_ttr(spark, "x").collect()}
        finally:
            tables.load_table = orig
            tq.load_table = orig_tq
        # doc 1: tokens [the cat the dog the cat] -> 6 tokens, 3 types
        assert rows[1].n_tokens == 6 and rows[1].n_types == 3
        assert abs(rows[1].ttr - 0.5) < 1e-9
        # whitespace-only doc: 0 tokens, guarded division
        assert rows[2].n_tokens == 0 and rows[2].ttr == 0.0
        assert rows[3].ttr == 1.0

    def test_plan_is_narrow_map(self, spark):
        """TTR is a pure per-row map: no exchange, no Python."""
        from giranking_spark.queries import textq

        plan = plan_of(textq.q_text_ttr(spark, SF_SMALL))
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan


class TestEmbedOutliers:
    def test_topk_and_z_shape(self, spark):
        from giranking_spark.queries.simq import (
            OUTLIER_TOPK,
            q_embed_outlier_scores,
        )

        rows = q_embed_outlier_scores(spark, SF_SMALL).collect()
        assert len(rows) == min(
            OUTLIER_TOPK,
            spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").count(),
        )
        dists = [r.dist for r in rows]
        assert dists == sorted(dists, reverse=True)
        assert all(r.dist >= 0.0 for r in rows)
        # the returned rows are the TOP of the z distribution
        assert rows[0].z >= rows[-1].z

    def test_no_python_and_broadcast_mean(self, spark):
        from giranking_spark.queries.simq import q_embed_outlier_scores

        with lazy_checkpoints():
            plan = plan_of(q_embed_outlier_scores(spark, SF_SMALL))
        assert "BatchEvalPython" not in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        assert "TakeOrderedAndProject" in plan


class TestStreamHllDaily:
    def test_estimates_track_exact_daily_distincts(self, spark):
        from giranking_spark.queries.streamq import q_stream_hll_daily

        rows = q_stream_hll_daily(spark, SF_SMALL).collect()
        ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
        exact = {
            r.window_start: r.n
            for r in ev.select(
                F.unix_timestamp(F.date_trunc("day", "ts")).alias("window_start"),
                "user_id",
            )
            .groupBy("window_start")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        assert len(rows) == len(exact)
        for r in rows:
            # small-range (linear counting) regime at fixture scale: tight
            assert abs(r.est_distinct - exact[r.window_start]) / exact[
                r.window_start
            ] < 4 * 0.065
            # bounded state: at most m register rows existed per day
            assert r.m_used + r.n_zero == 256


class TestNegativeSamples:
    def test_rejects_positives_and_is_deterministic(self, spark):
        from giranking_spark.queries.compq import q_graph_negative_samples
        from giranking_spark.sources.tables import derive_edges

        neg = q_graph_negative_samples(spark, SF_SMALL).persist()
        e = derive_edges(spark, SF_SMALL)
        # no sampled negative may be a real edge
        clash = neg.select(
            "src", F.col("neg_dst").alias("dst")
        ).join(e, ["src", "dst"], "left_semi")
        assert clash.count() == 0
        # every candidate is a valid supplier vertex and k in 1..NEG_K
        ks = {r.k for r in neg.select("k").distinct().collect()}
        assert ks <= {1, 2, 3}
        n_src = e.select("src").distinct().count()
        assert neg.count() <= 3 * n_src
        again = q_graph_negative_samples(spark, SF_SMALL)
        assert neg.exceptAll(again).count() == 0
        neg.unpersist()

    def test_supplier_id_space_is_dense(self, spark):
        """The candidate formula 's'||(1 + H mod max(s_suppkey)) emits ids
        in 1..S; it assumes every key in that range exists (the fixture's
        supplier keys are dense 0..S).  If a fixture change ever broke
        that, candidates could name nonexistent vertices and pass the
        anti-join as phantom negatives.  Pin the assumption AND check
        every sampled negative names a real supplier vertex."""
        from giranking_spark.queries.compq import q_graph_negative_samples
        from giranking_spark.sources.tables import load_table

        sup = load_table(spark, SF_SMALL, "supplier")
        row = sup.agg(
            F.max("s_suppkey").alias("mx"),
            F.count_distinct(
                F.when(F.col("s_suppkey") >= 1, F.col("s_suppkey"))
            ).alias("n_in_range"),
        ).first()
        assert row.n_in_range == row.mx, "supplier keys not dense over 1..S"
        neg = q_graph_negative_samples(spark, SF_SMALL)
        vertices = sup.select(
            F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias(
                "neg_dst"
            )
        )
        assert neg.join(vertices, "neg_dst", "left_anti").count() == 0


class TestModularity:
    def test_known_two_clique_graph(self, spark):
        """Two triangles joined by one bridge: LPA labels each triangle by
        its minimum id; modularity of that partition is positive and
        exactly 2 * (3/7 - (7/14)^2) = 0.357142857... with m=7."""
        import giranking_spark.queries.compq as compq

        tri1 = [("a", "b"), ("a", "c"), ("b", "c")]
        tri2 = [("x", "y"), ("x", "z"), ("y", "z")]
        edges = spark.createDataFrame(tri1 + tri2 + [("c", "x")], ["src", "dst"])
        orig = compq.derive_edges
        compq.derive_edges = lambda s, d: edges
        try:
            rows = compq.q_graph_modularity(spark, "ignored").collect()
        finally:
            compq.derive_edges = orig
        q_total = round(sum(r.contrib for r in rows), 6)
        # partition quality is positive for real communities, and each
        # community's intra-edge count is the full triangle (+ bridge side)
        assert q_total > 0.2
        assert sum(r.n_intra for r in rows) >= 6
        assert sum(r.d_c for r in rows) == 14  # 2m

    def test_fixture_is_degenerate_bipartite(self, spark):
        """On the bipartite fixture LPA oscillates into the two-sided
        partition: zero intra edges, Q = -0.5 — the metric must report the
        degenerate clustering honestly."""
        from giranking_spark.queries.compq import q_graph_modularity
        from tests.conftest import SF_SMALL

        rows = q_graph_modularity(spark, SF_SMALL).collect()
        assert all(r.n_intra == 0 for r in rows)
        assert abs(sum(r.contrib for r in rows) - (-0.5)) < 1e-6


class TestBpeApply:
    def test_hand_example_merge_order(self, spark):
        """'then' → t h e n → 'th' merge wins over 'he' (rank order), then
        ('th','e') builds 'the': symbols [the, n].  'tithe' exercises a mid-
        word merge chain.  Left-to-right non-overlap: 'anan' → [an, an]."""
        import giranking_spark.queries.textq as tq

        df = spark.createDataFrame(
            [(1, "then"), (2, "anan"), (3, "xyz")], ["doc_id", "text"]
        )
        orig = tq.load_table
        tq.load_table = lambda s, d, t: df
        try:
            rows = {r.doc_id: r for r in tq.q_text_bpe_apply(spark, "x").collect()}
        finally:
            tq.load_table = orig
        assert rows[1].n_symbols == 2  # [the, n]
        assert rows[2].n_symbols == 2  # [an, an]
        assert rows[3].n_symbols == 3  # no merge applies: [x, y, z]

    def test_plan_is_narrow_map(self, spark):
        from giranking_spark.queries import textq

        plan = plan_of(textq.q_text_bpe_apply(spark, SF_SMALL))
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan
