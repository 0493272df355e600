"""Load-test the skew mitigations with data (VERDICT r8 item 4).

Runs against the hub fixture from tools/make_skew.py and records:

1. **Exchange balance** — per-partition row counts of the src-keyed
   exchange every rank superstep performs (join + window both key on src),
   unsalted vs a uniform (src,dst)-hashed routing: the out-hub concentrates
   its whole out-degree on one reducer in the unsalted layout.
2. **Fixpoint wall** — linkrank_raw (2 updates, broadcast DISABLED so the
   superstep joins shuffle like they would at 100 TB state sizes) under
   {AQE off, AQE on} x {salt_buckets None, 32}.  AQE's skew-join split is
   the mitigation for JOIN skew (it needs no plan change); salt_buckets is
   the mitigation for AGGREGATION skew (it spreads one hot target's
   message sum across N reducers before the final combine).

Prints one JSON line per measurement; paste the results into BASELINE.md.
Run ALONE (bench hygiene: no concurrent Spark JVM).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from giranking_spark.config import LinkRankConfig
from giranking_spark.operators.linkrank import linkrank_raw
from giranking_spark.session import get_spark

SKEW_DIR = os.environ.get("SPARK_GRAFT_SKEW_DIR", "/tmp/spark_graft_skew")
PARTS = 32


def partition_counts(df) -> dict:
    rows = df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    c = sorted(int(r["count"]) for r in rows)
    total = sum(c)
    return {
        "parts_nonempty": len(c),
        "rows": total,
        "max": c[-1],
        "median": c[len(c) // 2],
        "max_over_median": round(c[-1] / max(c[len(c) // 2], 1), 1),
    }


def main() -> None:
    spark = get_spark("skew-demo")
    spark.sparkContext.setLogLevel("ERROR")
    edges = spark.read.parquet(f"{SKEW_DIR}/edges.parquet")

    plain = partition_counts(edges.repartition(PARTS, F.col("src")))
    salted = partition_counts(
        edges.repartition(PARTS, F.pmod(F.xxhash64("src", "dst"), F.lit(PARTS)))
    )
    print(json.dumps({"measure": "exchange_on_src", **plain}))
    print(json.dumps({"measure": "exchange_salted_srcdst", **salted}))

    def run(aqe: bool, salt: int | None) -> None:
        spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
        # state is 3.1M rows here (and far bigger at 100 TB): force the
        # shuffle-join path the broadcast fallback would pick anyway
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cfg = LinkRankConfig(salt_buckets=salt)
        t0 = time.time()
        out = linkrank_raw(None, edges, cfg, num_updates=2)
        n = out.count()
        chk = out.agg(F.sum(F.round("score", 6)).alias("s")).first()["s"]
        print(json.dumps({
            "measure": "fixpoint_wall", "aqe": aqe,
            "salt_buckets": salt or 0, "wall_s": round(time.time() - t0, 2),
            "n_vertices": n, "score_sum": round(chk, 3),
        }))

    for aqe in (False, True):
        for salt in (None, 32):
            run(aqe, salt)

    # --- auto-salt decision (round 10): "auto" must flip ON here (the
    # in-hub's 1M contribution rows clear both the absolute floor and the
    # 4x-average-partition bar) and OFF on the uniform sf0.1 derived graph.
    from giranking_spark.operators.linkrank import (
        Fixpoint,
        edges_with_outdeg,
        initial_state_ext,
    )
    from giranking_spark.sources.tables import derive_edges

    def auto_salt(e):
        # the rank loops' own dispatch probe, without running a superstep
        fx = Fixpoint(edges_with_outdeg(e), layout=None)
        fx.start(initial_state_ext(None, fx.edges), "auto")
        fx.release()
        return fx.salt

    hub_decision = auto_salt(edges)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    uni_decision = auto_salt(derive_edges(spark, sf_dir))
    print(json.dumps({
        "measure": "auto_salt_decision",
        "hub_fixture": hub_decision or 0,
        "sf01_derived": uni_decision or 0,
    }))

    # --- degree-oriented wedge bound (round 10): on the same hub fixture,
    # compare the wedge-relation row count under id orientation vs the
    # shipped (degree, id) orientation. The 2M-out-degree hub makes the
    # id-oriented relation ~C(2M, 2)-ish (uncountable in reasonable time if
    # the hub id sorts low); the degree-oriented one is arboricity-bounded.
    from giranking_spark.operators.triangles import (
        degree_oriented,
        oriented_wedges,
    )

    co = (
        edges.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(
            edges.filter(F.col("src") > F.col("dst")).select(
                F.col("dst").alias("u"), F.col("src").alias("v")
            )
        )
        .distinct()
        .persist()
    )
    t0 = time.time()
    n_wedges = oriented_wedges(degree_oriented(co)).count()
    print(json.dumps({
        "measure": "degree_oriented_wedges",
        "n_edges": co.count(),
        "n_wedges": n_wedges,
        "wall_s": round(time.time() - t0, 2),
    }))


if __name__ == "__main__":
    main()
