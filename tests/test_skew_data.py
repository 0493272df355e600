"""Data-level skew tests: the salted paths executed under an actual hub
(VERDICT r8 item 4 — the plan-shape tests in test_scale_plans.py prove the
salted operators *compile* to two-phase plans; these prove they *behave*
under hub-skewed data: the unsalted exchange measurably concentrates on one
reducer, salting restores balance, and the salted fixpoint's scores are
bit-for-bit the unsalted ones).

The full-size measurement lives in tools/skew_demo.py (5M-edge fixture from
tools/make_skew.py; recorded in BASELINE.md round 9): src-keyed exchange
max/median 22.3x unsalted -> 3.0x salted; fixpoint wall 20.5s -> 17.8s
(salt_buckets=32) / 16.9s (AQE skew-join), identical score sums. This file
pins the same properties at test scale.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from giranking_spark.config import LinkRankConfig
from giranking_spark.operators.linkrank import linkrank_raw, message_sums

PARTS = 16
N_HUB = 20_000     # out-hub: one src with 20k out-edges
N_BG = 20_000      # background: ~40 out-edges over 500 vertices
N_INHUB = 10_000   # in-hub: 10k distinct srcs -> one dst


@pytest.fixture(scope="module")
def hub_edges(spark):
    bg = spark.range(N_BG).select(
        F.concat(F.lit("v"), F.pmod(F.xxhash64("id"), F.lit(500))).alias("src"),
        F.concat(F.lit("v"), F.pmod(F.xxhash64("id", F.lit(7)), F.lit(500))).alias("dst"),
    )
    hub_out = spark.range(N_HUB).select(
        F.lit("SRCHUB").alias("src"),
        F.concat(F.lit("w"), F.col("id")).alias("dst"),
    )
    hub_in = spark.range(N_INHUB).select(
        F.concat(F.lit("u"), F.col("id")).alias("src"),
        F.lit("INHUB").alias("dst"),
    )
    return bg.unionByName(hub_out).unionByName(hub_in).persist()


def _balance(df) -> float:
    rows = df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    c = sorted(int(r["count"]) for r in rows)
    return c[-1] / max(c[len(c) // 2], 1)


def test_hub_concentrates_unsalted_exchange_and_salt_restores(hub_edges):
    """The src-keyed exchange (what every superstep join performs) puts the
    whole out-hub on ONE reducer; uniform (src,dst) routing rebalances."""
    unsalted = _balance(hub_edges.repartition(PARTS, F.col("src")))
    salted = _balance(
        hub_edges.repartition(PARTS, F.pmod(F.xxhash64("src", "dst"), F.lit(PARTS)))
    )
    # hot partition carries the 20k-out hub vs ~3k median -> >= 5x; salted
    # routing is hash-uniform -> < 3x even at this small scale
    assert unsalted >= 5.0, unsalted
    assert salted < 3.0, salted


def test_salted_fixpoint_matches_unsalted_scores(spark, hub_edges):
    """salt_buckets changes only the aggregation tree, never the result:
    identical (id, score) sets with broadcast DISABLED so the salted
    two-phase message sum actually executes its exchange."""
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = linkrank_raw(None, hub_edges, LinkRankConfig(), num_updates=1)
        salted = linkrank_raw(
            None, hub_edges, LinkRankConfig(salt_buckets=8), num_updates=1
        )
        diff = (
            plain.select("id", F.round("score", 9).alias("s"))
            .join(
                salted.select("id", F.round("score", 9).alias("s2")), "id", "full"
            )
            .filter(
                F.col("s").isNull() | F.col("s2").isNull()
                | (F.abs(F.col("s") - F.col("s2")) > 1e-9)
            )
            .count()
        )
        assert diff == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)


def test_salted_message_sum_partial_rows_bounded(spark, hub_edges):
    """Row-count pin on the salted path: the hot in-hub target's message
    mass reaches the final reducer as at most salt_buckets partial rows
    (here: the final sum equals the plain one while the salted partial
    stage bounds any one key's reducer fan-in), and the hot target's
    message total is identical either way."""
    from giranking_spark.operators.linkrank import edges_with_outdeg, initial_state

    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        state = initial_state(None, hub_edges, 1.0)
        ex = edges_with_outdeg(hub_edges)
        plain = message_sums(ex, state)
        salted = message_sums(ex, state, salt_buckets=8)
        hot_plain = plain.filter(F.col("dst") == "INHUB").first()["msg"]
        hot_salted = salted.filter(F.col("dst") == "INHUB").first()["msg"]
        # each u-src contributes 1.0/1 outdeg -> exactly N_INHUB either way
        assert hot_plain == pytest.approx(N_INHUB, abs=1e-6)
        assert hot_salted == pytest.approx(N_INHUB, abs=1e-6)
        assert plain.count() == salted.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)


def _probed_salt(edges, salt="auto"):
    """The rank loops' salt decision from the fixpoint driver's one
    dispatch probe (no superstep runs)."""
    from giranking_spark.operators.linkrank import (
        Fixpoint,
        edges_with_outdeg,
        initial_state_ext,
    )

    fx = Fixpoint(edges_with_outdeg(edges), layout=None)
    fx.start(initial_state_ext(None, fx.edges), salt)
    fx.release()
    return fx.salt


def test_auto_salt_decision_flips_on_hub_off_on_uniform(spark, hub_edges):
    """The "auto" default probes in-degree skew once per run: ON for the
    in-hub fixture (hot dst dominates), OFF for a uniform graph, and ints/
    None pass through untouched. The absolute floor is lowered to test
    scale through the module constant — a separate test pins that the
    production floor keeps the shipped fixtures unsalted."""
    import giranking_spark.operators.linkrank as lr

    old_floor = lr.SALT_MIN_HOT_ROWS
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    lr.SALT_MIN_HOT_ROWS = 1000
    spark.conf.set("spark.sql.shuffle.partitions", "64")  # cluster-like
    try:
        assert _probed_salt(hub_edges) == lr.SALT_AUTO_BUCKETS
        uniform = spark.range(5000).select(
            F.concat(F.lit("a"), F.pmod(F.xxhash64("id"), F.lit(500))).alias("src"),
            F.concat(F.lit("b"), F.pmod(F.xxhash64("id", F.lit(3)), F.lit(500))).alias("dst"),
        )
        assert _probed_salt(uniform) is None
        # pass-throughs are not decided by the probe
        assert _probed_salt(hub_edges, None) is None
        assert _probed_salt(hub_edges, 8) == 8
    finally:
        lr.SALT_MIN_HOT_ROWS = old_floor
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def test_auto_salt_production_floor_keeps_fixtures_unsalted(spark):
    """At the production SALT_MIN_HOT_ROWS floor, the sf0.001 derived graph
    (and by extension every shipped fixture, whose hottest in-degree is
    orders of magnitude below 100k) resolves to the single-phase plan —
    prior rounds' driver value hashes stay bit-identical."""
    from giranking_spark.sources.tables import derive_edges
    from tests.conftest import SF_SMALL

    assert _probed_salt(derive_edges(spark, SF_SMALL)) is None


def test_auto_salted_fixpoint_scores_match_forced_off(spark, hub_edges):
    """End-to-end: cfg default ("auto", which salts on this fixture at a
    lowered floor via monkeypatched constant) produces the same scores as
    salting forced off — the decision changes the plan, never the result."""
    import giranking_spark.operators.linkrank as lr

    old_floor = lr.SALT_MIN_HOT_ROWS
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    lr.SALT_MIN_HOT_ROWS = 1000
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        auto = linkrank_raw(None, hub_edges, LinkRankConfig(), num_updates=1)
        off = linkrank_raw(
            None, hub_edges, LinkRankConfig(salt_buckets=None), num_updates=1
        )
        diff = (
            auto.select("id", F.round("score", 9).alias("s"))
            .join(off.select("id", F.round("score", 9).alias("s2")), "id", "full")
            .filter(
                F.col("s").isNull() | F.col("s2").isNull()
                | (F.abs(F.col("s") - F.col("s2")) > 1e-9)
            )
            .count()
        )
        assert diff == 0
    finally:
        lr.SALT_MIN_HOT_ROWS = old_floor
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
