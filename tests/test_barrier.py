"""The superstep barrier (operators/linkrank.py:_barrier): what it costs in
Spark jobs, and reliable checkpoint mode on the loops that call it.

Job counts are read from a job group under the session fixture (AQE on),
where a plain 1-row aggregate runs as two jobs: its shuffle map stage,
then the final aggregate."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

_groups = itertools.count()


def _jobs(spark, fn):
    """(fn(), [stage count of each Spark job fn ran]), from a job group."""
    sc = spark.sparkContext
    group = f"barrier-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    ids = sorted(tracker.getJobIdsForGroup(group))
    return out, [len(tracker.getJobInfo(j).stageIds) for j in ids]


def _step(spark):
    """A fresh one-shuffle step (a new frame per call, so no shuffle is
    reused between the measured barriers): 37 rows."""
    return (
        spark.range(1000)
        .groupBy((F.col("id") % 37).alias("k"))
        .agg(F.sum("id").alias("v"))
    )


def test_counted_barrier_costs_what_an_eager_checkpoint_costs(spark):
    from giranking_spark.operators.linkrank import _barrier

    _, eager = _jobs(spark, lambda: _barrier(_step(spark)))
    (ck, got), counted = _jobs(
        spark, lambda: _barrier(_step(spark), F.count(F.lit(1)).alias("n"))
    )
    assert len(counted) == len(eager) == 2  # the map stage + the barrier
    assert got == {"n": _step(spark).count()} == {"n": 37}
    # the checkpoint was filled by the barrier: a rescan is one job of
    # one stage, with no shuffle dependency left to skip
    _, rescan = _jobs(
        spark, lambda: ck.write.format("noop").mode("overwrite").save()
    )
    assert rescan == [1]


@pytest.mark.parametrize("seeded", [False, True])
def test_dispatch_probe_costs_one_job_beyond_state0(spark, seeded):
    """Fixpoint.start's probe is state0's barrier: it runs as many jobs as
    an eager checkpoint of state0 (its shuffle stages + one), also when
    the seeded probe scans state0 ∪ edges.src."""
    from giranking_spark.operators.linkrank import Fixpoint, _barrier

    e = spark.createDataFrame(
        [(i, (i * 7 + 3) % 20) for i in range(20)], "src long, dst long"
    )

    def state0():
        s = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("x"))
        return s.filter(F.col("id") < 3) if seeded else s

    fx = Fixpoint(e, layout=None)
    try:
        fx.edges.count()  # fill the driver's edge cache, read by both shapes
        _, eager = _jobs(spark, lambda: _barrier(state0()))
        state, probe = _jobs(spark, lambda: fx.start(state0(), seeded=seeded))
        assert len(probe) == len(eager) == 2
        assert fx.n == (int(20 * 1.05) if seeded else 20)
        assert state.count() == (3 if seeded else 20)
    finally:
        fx.release()


#: a 10-edge directed graph with a 3-cycle, a 3-cycle fed by it, a 2-cycle
#: and a pendant vertex
EDGES10 = [
    (1, 2), (2, 3), (3, 1), (3, 4), (4, 5),
    (5, 6), (6, 4), (6, 7), (8, 9), (9, 8),
]


def _loops():
    from giranking_spark.operators.betweenness import betweenness_approx
    from giranking_spark.operators.components import (
        connected_components,
        connected_components_star,
        coreness_peel,
    )
    from giranking_spark.operators.hyperball import hyperball
    from giranking_spark.operators.scc import strongly_connected_components

    def bc(e, d):
        seeds = e.select(F.col("src").alias("id")).filter("id IN (1, 4)")
        return betweenness_approx(e, seeds, checkpoint_dir=d)

    return {
        "connected_components": lambda e, d: connected_components(e, checkpoint_dir=d),
        "connected_components_star": lambda e, d: connected_components_star(
            e, checkpoint_dir=d
        ),
        "strongly_connected_components": lambda e, d: strongly_connected_components(
            e, checkpoint_dir=d
        ),
        "hyperball": lambda e, d: hyperball(e, checkpoint_dir=d),
        "coreness_peel": lambda e, d: coreness_peel(e, checkpoint_dir=d),
        "betweenness_approx": bc,
    }


@pytest.mark.parametrize(
    "name",
    [
        "connected_components",
        "connected_components_star",
        "strongly_connected_components",
        "hyperball",
        "coreness_peel",
        "betweenness_approx",
    ],
)
def test_reliable_mode_matches_local_mode(spark, tmp_path, name):
    """With a checkpoint_dir every barrier of the loop is a reliable
    checkpoint in one shared UUID subdirectory, and the rows are the
    local-mode rows."""
    fn = _loops()[name]
    e = spark.createDataFrame(EDGES10, "src long, dst long")
    local = sorted(map(tuple, fn(e, None).collect()))
    reliable = sorted(map(tuple, fn(e, str(tmp_path)).collect()))
    assert local and reliable == local
    assert len([p for p in tmp_path.iterdir() if p.is_dir()]) == 1
