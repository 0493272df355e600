"""Round-12 operator tests: corpus-scaled sign-LSH (count-derived bits per
band over a fixed strided plane table) and the ivf_assign count threading."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


def test_scaled_lsh_rows_formula():
    """scaled_lsh_rows(n) is the smallest r in [base, max] with
    n <= target * 2**r — pinned against the brute-force definition over the
    whole interesting range including exact powers of two (the float-log2
    edge cases the integer formula exists to avoid)."""
    from giranking_spark.operators.similarity import scaled_lsh_rows

    base, mx, target = 4, 16, 1024

    def brute(n):
        for r in range(base, mx + 1):
            if n <= target * (2**r):
                return r
        return mx

    probes = [1, 500, 2000, 16384, 16385, 200_000, 2_000_000, 20_000_000]
    probes += [target * 2**j for j in range(base, mx + 1)]
    probes += [target * 2**j + 1 for j in range(base, mx + 1)]
    for n in probes:
        assert scaled_lsh_rows(n, base, mx, target) == brute(n), n
    # the registry scale fixtures land where the design says they do
    assert scaled_lsh_rows(2000, base, mx, target) == 4  # sf0.1
    assert scaled_lsh_rows(200_000, base, mx, target) == 8  # sf10-mut
    assert scaled_lsh_rows(2_000_000, base, mx, target) == 11  # sf100-mut


def test_strided_bucket_is_masked_full_bucket(spark):
    """The scaled variant's contract with its oracle: computing only r sign
    bits over a stride-pitched plane table equals the FULL stride-bit
    bucket masked to its low r bits (bit weights are 2**i, so % (1<<r)
    keeps exactly the first r planes)."""
    from giranking_spark.operators.similarity import (
        lsh_buckets,
        random_hyperplanes,
    )

    bands, stride, r, dim = 4, 16, 5, 64
    planes = random_hyperplanes(bands * stride, dim, seed=7)
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").limit(100)
    part = lsh_buckets(emb, planes, bands, r, stride=stride)
    full = lsh_buckets(emb, planes, bands, stride, stride=stride)
    got = {(x["id"], x["band"]): x["bucket"] for x in part.collect()}
    want = {
        (x["id"], x["band"]): x["bucket"] % (1 << r) for x in full.collect()
    }
    assert got == want and len(got) == 400


def test_lsh_scaled_matches_fixed_at_base_rows(spark):
    """At a corpus below target*2**base_rows the scaled query degenerates
    to rows=base over the strided plane table — same answer as lsh_topk
    called directly with those parameters (the dispatch threading,
    corpus_count and stride must not change results)."""
    from giranking_spark.operators.similarity import lsh_topk
    from giranking_spark.queries.simq import (
        LSH_BANDS,
        LSH_DIM,
        LSH_PROBE_FLIPS,
        LSH_ROWS,
        LSH_ROWS_MAX,
        LSH_SEED,
        TOPK,
        q_simsearch_lsh_scaled,
    )

    got = sorted(
        map(tuple, q_simsearch_lsh_scaled(spark, SF_SMALL).collect())
    )
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    want = sorted(
        map(
            tuple,
            lsh_topk(
                emb,
                emb.filter(F.col("vec_id") % 50 == 0),
                bands=LSH_BANDS,
                rows=LSH_ROWS,
                k=TOPK,
                dim=LSH_DIM,
                seed=LSH_SEED,
                stride=LSH_ROWS_MAX,
                # r13: the scaled query multi-probes; same flips here so
                # this still pins ONLY the stride/count threading
                flips=LSH_PROBE_FLIPS,
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_lsh_scaled_gemm_and_column_arms_agree(spark):
    """Both physical arms of the scaled query produce the identical
    rounded answer (the r11 GEMM-dispatch invariant, extended to the
    strided plane table)."""
    from giranking_spark.operators.similarity import lsh_topk
    from giranking_spark.queries.simq import (
        LSH_BANDS,
        LSH_DIM,
        LSH_ROWS_MAX,
        LSH_SEED,
        TOPK,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0)

    def run(gemm):
        return sorted(
            map(
                tuple,
                lsh_topk(
                    emb, q, bands=LSH_BANDS, rows=5, k=TOPK, dim=LSH_DIM,
                    seed=LSH_SEED, stride=LSH_ROWS_MAX, gemm=gemm,
                ).collect(),
            )
        )

    a, b = run(False), run(True)
    assert a == b and len(a) > 0


def test_ivf_assign_threaded_counts_pin_dispatch(spark):
    """corpus_count/cells_count below the pair threshold force the Column
    arm, above force the GEMM arm — and both arms agree on the fixture
    (the counts only pick the plan, never the answer)."""
    from giranking_spark.operators.similarity import (
        deterministic_centroids,
        ivf_assign,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    cents = deterministic_centroids(emb, 8)
    small = ivf_assign(emb, cents, corpus_count=500, cells_count=8)
    big = ivf_assign(
        emb, cents, corpus_count=10**9, cells_count=1000
    )
    a = sorted((r["vec_id"], r["cell"]) for r in small.collect())
    b = sorted((r["vec_id"], r["cell"]) for r in big.collect())
    assert a == b and len(a) == 500


def test_scaled_lsh_oracle_rewrite_guard():
    """The ivf_scaled/semdedup_scaled oracle rewrites raise (not assert)
    on base-text drift, and the scaled LSH oracle embeds the count-derived
    r as a scalar subquery of integer comparisons."""
    import __spark_entry__ as entry

    sql = entry.oracle_sql()["simsearch_lsh_scaled"]
    assert "rs AS (SELECT (4 + (CASE WHEN count(*) > 16384" in sql
    assert "% (1::BIGINT << rs.r)" in sql
    sd = entry.oracle_sql()["embed_semdedup_scaled"]
    assert "LIMIT (SELECT greatest(8, count(*) // 1000) FROM c))" in sd
    assert sd != entry.oracle_sql()["embed_semdedup"]
    # ivf guard: a RuntimeError (never a strippable assert) protects the
    # string rewrite — reimporting the module with a drifted base text is
    # not testable here, but the guard must be an if/raise in the source
    import inspect

    import giranking_spark.queries.simq as simq

    src = inspect.getsource(simq)
    assert "raise RuntimeError(" in src
    assert 'assert ORACLES["simsearch_ivf"]' not in src


def test_delta_peel_equals_recount_peel_on_random_graphs(spark):
    """The r12 delta k-core rewrite is oracle-identical to the r9 recount
    formulation by induction; pin it empirically across random graphs,
    several k values and round budgets (including non-converged ones) —
    the strongest guard for the rewrite, independent of the fixture. The
    reference is the r9 formulation in plain Python: each round keeps the
    alive vertices with at least k alive neighbours, and the result is
    (id, alive-neighbour count) for the survivors that have a neighbour."""
    import random

    from giranking_spark.operators.components import kcore_peel

    def recount(pairs, k, rounds):
        nbrs: dict[int, set[int]] = {}
        for u, v in pairs:
            nbrs.setdefault(u, set()).add(v)
            nbrs.setdefault(v, set()).add(u)

        def alive_degrees(alive):
            return {v: len(ns & alive) for v, ns in nbrs.items() if ns & alive}

        alive = set(nbrs)
        for _ in range(rounds):
            deg = alive_degrees(alive)
            alive = {v for v in alive if deg.get(v, 0) >= k}
        return sorted((v, d) for v, d in alive_degrees(alive).items() if v in alive)

    rnd = random.Random(12)
    for trial, (nv, ne) in enumerate([(20, 30), (30, 45), (40, 90)]):
        pairs = set()
        while len(pairs) < ne:
            u, v = rnd.sample(range(nv), 2)
            pairs.add((min(u, v), max(u, v)))
        edges = spark.createDataFrame(
            [(int(u), int(v)) for u, v in sorted(pairs)], "src long, dst long"
        )
        for k in (1, 2, 3):
            for rounds in (1, 2, 6):
                want = recount(pairs, k, rounds)
                got = sorted(
                    map(tuple, kcore_peel(edges, k=k, rounds=rounds).collect())
                )
                assert got == want, (trial, k, rounds)
