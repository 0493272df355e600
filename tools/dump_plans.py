"""Dump explain("formatted") for declared queries + named sub-plans.

Usage: python tools/dump_plans.py <outdir> <suffix> q1,q2,...
Writes <outdir>/<query>_<suffix>.txt. Special names:
  rank_state0      — initial_state(None, derived edges) plan
  lpa_round, katz_round, opic_round
                   — one superstep of that loop without its checkpoint
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from giranking_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("plan-dump", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    if os.environ.get("SPARK_GRAFT_PLANS_NO_CHECKPOINT"):
        # queries that eagerly localCheckpoint their output explain() as a
        # bare Scan ExistingRDD — neuter the checkpoint so the dump shows
        # the honest pipeline plan it would otherwise hide (dump-only;
        # never the library)
        # Spark 4: sessions hand out pyspark.sql.classic.dataframe.DataFrame,
        # which overrides the abstract base — patch the concrete class
        from pyspark.sql.classic.dataframe import DataFrame as _DF

        _DF.localCheckpoint = lambda self, eager=True: self
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in names:
        if name == "rank_state0":
            from giranking_spark.operators.linkrank import initial_state
            from giranking_spark.sources.tables import derive_edges

            df = initial_state(None, derive_edges(spark, SF))
        elif name in ("lpa_round", "katz_round", "opic_round"):
            # one superstep WITHOUT the fixpoint driver's per-superstep
            # checkpoint (which collapses explain() to a Scan ExistingRDD) —
            # the honest in-loop plan the loop repeats every superstep
            import giranking_spark.operators.linkrank as lr
            from giranking_spark.operators.katz import katz_scores
            from giranking_spark.operators.labelprop import label_propagation
            from giranking_spark.operators.opic import opic_scores
            from giranking_spark.sources.tables import derive_edges

            fn, kw = {
                "lpa_round": (label_propagation, {"rounds": 1}),
                "katz_round": (katz_scores, {"iterations": 1}),
                "opic_round": (opic_scores, {"iterations": 1}),
            }[name]
            orig = lr._barrier
            # scalar barriers (the dispatch probe) still run: their values
            # drive the plan
            lr._barrier = lambda df, *s, **o: orig(df, *s, **o) if s else (df, {})
            try:
                df = fn(derive_edges(spark, SF), **kw)
            finally:
                lr._barrier = orig
        else:
            df = qs[name](spark, SF)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan_text(df))
        print(path)


if __name__ == "__main__":
    main()
