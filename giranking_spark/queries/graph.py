"""Graph / ranking queries with DuckDB oracles (SURVEY.md §2.1-§2.7).

The ranking graph derives deterministically from orders ⋈ lineitem
(FIXTURES.md §3). The full-fixpoint oracle unrolls the bounded iteration into
chained CTEs — the loop count is fixed (no convergence test in the reference,
LinkRankComputation.java:280-282), so plain SQL expresses it exactly.

Float parity strategy: the Spark side and the SQL side perform the SAME
arithmetic in the SAME order on IEEE doubles (including the float32-widened
teleport constant, SURVEY.md §2.6 #4); final doubles round to 6 decimals on
both sides.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giranking_spark.cache import cached
from giranking_spark.config import LinkRankConfig, TrustRankConfig
from giranking_spark.functions.stats import normal_cdf_sql
from giranking_spark.operators import linkrank as lr
from giranking_spark.operators.linkrank import (
    SIGMA_FLOOR,
    contributions,
    dangling_mass,
    edges_with_outdeg,
    initial_state,
    linkrank_raw,
    message_sums,
    normalize_scores,
    run_linkrank,
    run_trustrank,
)
from giranking_spark.sources.tables import derive_edges, derive_host_edges, derive_vertices

# ---------------------------------------------------------------------------
# shared DuckDB fragments (mirror sources/tables.py derivations)

EDGES_SQL = (
    "SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
)
HOST_EDGES_SQL = (
    "SELECT DISTINCT 'hc' || (o_custkey % 25) AS src, 'hs' || (l_suppkey % 25) AS dst "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
    "WHERE 'hc' || (o_custkey % 25) <> 'hs' || (l_suppkey % 25)"
)
VERTS_SQL = (
    "SELECT id FROM (SELECT src AS id FROM edges UNION SELECT dst FROM edges)"
)
GRAPH_PRELUDE = (
    f"WITH edges AS ({EDGES_SQL}), "
    f"verts AS ({VERTS_SQL}), "
    "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src), "
    "state0 AS (SELECT v.id, 1.0 AS score, coalesce(d.outdeg, 0) AS outdeg "
    "FROM verts v LEFT JOIN deg d ON v.id = d.src)"
)


def _rank_sql_iterations(cfg: LinkRankConfig, edges_sql: str) -> str:
    """Unrolled CTE chain state0 -> state{U} mirroring linkrank_raw()."""
    t, d = repr(cfg.teleport), repr(cfg.damping)
    # AS MATERIALIZED: DuckDB inlines plain CTEs, which would expand the
    # iteration chain exponentially (state{i} references state{i-1} three
    # times); materialization keeps oracle evaluation linear in K.
    ctes = [
        f"edges AS MATERIALIZED ({edges_sql})",
        f"verts AS MATERIALIZED ({VERTS_SQL})",
        "deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM verts)",
        "state0 AS MATERIALIZED (SELECT v.id, 1.0 AS score, coalesce(d.outdeg, 0) AS outdeg "
        "FROM verts v LEFT JOIN deg d ON v.id = d.src)",
        "ex AS MATERIALIZED (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src)",
    ]
    for i in range(1, cfg.num_updates + 1):
        p = i - 1
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT ex.dst, sum(s.score / ex.outdeg) AS msg "
            f"FROM ex JOIN state{p} s ON ex.src = s.id GROUP BY ex.dst)"
        )
        ctes.append(
            f"g{i} AS MATERIALIZED (SELECT coalesce(sum(score), 0.0) AS dangling "
            f"FROM state{p} WHERE outdeg = 0)"
        )
        ctes.append(
            f"state{i} AS MATERIALIZED (SELECT s.id, "
            f"(({t} / nn.n) + {d} * (coalesce(m.msg, 0.0) + g.dangling / nn.n)) AS score, "
            f"s.outdeg FROM state{p} s LEFT JOIN m{i} m ON s.id = m.dst "
            f"CROSS JOIN g{i} g CROSS JOIN nn)"
        )
    return "WITH " + ", ".join(ctes)


def _normalize_sql(final_state: str, scale: float) -> str:
    """CDF-normalization tail over a (id, score) CTE; appends lx/st CTEs."""
    sigma = f"(CASE WHEN st.sigma = 0.0 THEN {SIGMA_FLOOR!r} ELSE st.sigma END)"
    cdf = normal_cdf_sql("l.lx", "st.mu", sigma)
    return (
        f", lx AS MATERIALIZED (SELECT id, ln(score) AS lx FROM {final_state}), "
        "st AS (SELECT avg(lx) AS mu, coalesce(stddev_pop(lx), 0.0) AS sigma FROM lx) "
        f"SELECT l.id AS id, round(({cdf} * {scale!r}), 6) AS score "
        "FROM lx l CROSS JOIN st"
    )


def linkrank_oracle_sql(cfg: LinkRankConfig, edges_sql: str = EDGES_SQL) -> str:
    u = cfg.num_updates
    return _rank_sql_iterations(cfg, edges_sql) + _normalize_sql(f"state{u}", cfg.scale)


# seeds used by the trustrank queries: c-vertices with key % 10 == 0
TRUSTED_PRED = "(id LIKE 'c%' AND CAST(substr(id, 2) AS BIGINT) % 10 = 0)"


def _trust_sql_iterations(cfg: TrustRankConfig, bug_compat: bool = False) -> str:
    """Unrolled CTE chain mirroring run_trustrank (intended semantics, or
    the shipped bug where the dangling term vanishes for everyone)."""
    t, d = repr(cfg.teleport), repr(cfg.damping)
    ctes = [
        f"edges AS MATERIALIZED ({EDGES_SQL})",
        f"verts AS MATERIALIZED ({VERTS_SQL})",
        "deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM verts)",
        "state0 AS MATERIALIZED (SELECT v.id, "
        f"CASE WHEN {TRUSTED_PRED} THEN 1.0 ELSE 0.0 END AS score, "
        f"coalesce(d.outdeg, 0) AS outdeg, {TRUSTED_PRED} AS trusted "
        "FROM verts v LEFT JOIN deg d ON v.id = d.src)",
        "nt AS MATERIALIZED (SELECT count(*) AS t FROM state0 WHERE trusted)",
        "ex AS MATERIALIZED (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src)",
    ]
    dang_term = (
        "0.0"
        if bug_compat
        else "CASE WHEN s.trusted THEN g.dangling / nt.t ELSE 0.0 END"
    )
    for i in range(1, cfg.num_updates + 1):
        p = i - 1
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT ex.dst, sum(s.score / ex.outdeg) AS msg "
            f"FROM ex JOIN state{p} s ON ex.src = s.id GROUP BY ex.dst)"
        )
        ctes.append(
            f"g{i} AS MATERIALIZED (SELECT coalesce(sum(score), 0.0) AS dangling "
            f"FROM state{p} WHERE outdeg = 0)"
        )
        ctes.append(
            f"state{i} AS MATERIALIZED (SELECT s.id, "
            f"(({t} / nn.n) + {d} * (coalesce(m.msg, 0.0) + {dang_term})) AS score, "
            f"s.outdeg, s.trusted FROM state{p} s LEFT JOIN m{i} m ON s.id = m.dst "
            f"CROSS JOIN g{i} g CROSS JOIN nn CROSS JOIN nt)"
        )
    return "WITH " + ", ".join(ctes)


def trustrank_oracle_sql(cfg: TrustRankConfig, bug_compat: bool = False) -> str:
    u = cfg.num_updates
    return _trust_sql_iterations(cfg, bug_compat) + _normalize_sql(f"state{u}", cfg.scale)


# ---------------------------------------------------------------------------
# Spark-side callables

def _round6(df: DataFrame, *cols: str) -> DataFrame:
    out = df
    for c in cols:
        out = out.withColumn(c, F.round(F.col(c), 6))
    return out


def q_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_edges(spark, sf_dir)


def q_graph_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _round6(derive_vertices(spark, sf_dir), "score")


def q_graph_outdegree(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = derive_edges(spark, sf_dir)
    return initial_state(None, e).select("id", "outdeg")


def q_rank_contrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = derive_edges(spark, sf_dir)
    state = initial_state(None, e)
    return _round6(contributions(edges_with_outdeg(e), state), "contrib")


def q_agg_msg_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = derive_edges(spark, sf_dir)
    state = initial_state(None, e)
    return _round6(message_sums(edges_with_outdeg(e), state), "msg")


def q_agg_dangling_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = derive_edges(spark, sf_dir)
    return _round6(dangling_mass(initial_state(None, e)), "dangling")


def q_rank_update1(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = derive_edges(spark, sf_dir)
    raw = linkrank_raw(None, e, LinkRankConfig(), num_updates=1)
    return _round6(raw.select("id", "score"), "score")


def q_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = derive_edges(spark, sf_dir)
    raw = linkrank_raw(None, e, LinkRankConfig(), num_updates=1).select("id", "score")
    stats = raw.select(F.log("score").alias("lx")).agg(
        F.avg("lx").alias("mu"), F.stddev_pop("lx").alias("sigma")
    )
    return _round6(stats, "mu", "sigma")


def q_linkrank_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = derive_edges(spark, sf_dir)
    return _round6(run_linkrank(None, e, LinkRankConfig()), "score")


def q_hostrank_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = derive_host_edges(spark, sf_dir)
    return _round6(run_linkrank(None, e, LinkRankConfig()), "score")


def q_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = q_linkrank_scores(spark, sf_dir)
    return scores.orderBy(F.desc("score"), F.asc("id")).limit(20)


def q_rank_per_host_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window (SURVEY.md §2.10): best vertex per HOST by rank score. Each
    vertex id maps to a deterministic URL on one of 50 hosts and the window
    partitions on the ``url_host``-extracted host — a realistic key
    cardinality exercising the real extraction, not an id-prefix stand-in.
    The oracle derives the expected host directly from the id, so the URL
    build + url_host round trip is checked independently."""
    from pyspark.sql.window import Window

    from giranking_spark.functions.urls import url_host

    num = F.substring("id", 2, 100).cast("long")
    url = F.concat(
        F.lit("http://"),
        F.substring("id", 1, 1),
        (num % 25).cast("string"),
        F.lit(".example.com/p"),
        num.cast("string"),
    )
    scores = q_linkrank_scores(spark, sf_dir).withColumn("host", url_host(url))
    w = Window.partitionBy("host").orderBy(F.desc("score"), F.asc("id"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("host", "id", "score")
    )


def q_agg_count_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getTotalNumVertices — counted AFTER implicit vertex creation
    (LinkRankComputation.java:199,294; SURVEY.md §2.5)."""
    e = derive_edges(spark, sf_dir)
    return initial_state(None, e).agg(F.count(F.lit(1)).alias("n"))


def _state1_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = derive_edges(spark, sf_dir)
    raw = linkrank_raw(None, e, LinkRankConfig(), num_updates=1)
    return raw.select("id", F.log("score").alias("lx"))


def q_agg_sum_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Σ log(score) persistent aggregator (LinkRankComputation.java:217-222)."""
    return _round6(
        _state1_logs(spark, sf_dir).agg(F.sum("lx").alias("sum_logs")), "sum_logs"
    )


def q_agg_sum_devs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Σ (log(score) − μ)² aggregator (LinkRankComputation.java:223-233)."""
    logs = _state1_logs(spark, sf_dir)
    mu = logs.agg(F.avg("lx").alias("mu"))
    devs = logs.crossJoin(F.broadcast(mu)).agg(
        F.sum(F.pow(F.col("lx") - F.col("mu"), 2)).alias("sum_devs")
    )
    return _round6(devs, "sum_devs")


def q_norm_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x = log(score) per vertex (LinkRankComputation.java:216)."""
    return _round6(_state1_logs(spark, sf_dir).select("id", "lx"), "lx")


def q_norm_cdf_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone CDF epilogue (LinkRankComputation.java:234-255) applied to
    the 1-update state."""
    e = derive_edges(spark, sf_dir)
    raw = linkrank_raw(None, e, LinkRankConfig(), num_updates=1).select("id", "score")
    return _round6(normalize_scores(raw, 10.0), "score")


def _trusted_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trust seeds used by q_trustrank_scores: c-vertices with key % 10 == 0."""
    e = derive_edges(spark, sf_dir)
    return lr.all_vertex_ids(None, e).filter(
        (F.substring("id", 1, 1) == "c")
        & (F.substring("id", 2, 100).cast("long") % 10 == 0)
    )


def q_agg_trusted_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NUM_TRUSTED IntSumAggregator (TrustRankComputation.java:203-211)."""
    return _trusted_ids(spark, sf_dir).agg(F.count(F.lit(1)).alias("num_trusted"))


def q_agg_trusted_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUSTED_VERTICES TextAppendAggregator (TrustRankComputation.java:207-209)
    — materialized as a deterministic sorted ';'-join, not the reference's
    order-dependent string append."""
    return _trusted_ids(spark, sf_dir).agg(
        F.concat_ws(";", F.sort_array(F.collect_set("id"))).alias("trusted_set")
    )


def q_trustrank_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (intended semantics) on the derived graph; customers whose
    key is divisible by 10 are the trusted seeds."""
    e = derive_edges(spark, sf_dir)
    v = (
        lr.all_vertex_ids(None, e)
        .withColumn(
            "score",
            F.when(
                (F.substring("id", 1, 1) == "c")
                & (F.substring("id", 2, 100).cast("long") % 10 == 0),
                F.lit(1.0),
            ).otherwise(F.lit(0.0)),
        )
    )
    cfg = TrustRankConfig(damping=0.20, superstep_count=3)
    return _round6(run_trustrank(v, e, cfg), "score")


def q_trustrank_bug_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipped-bug reproduction (SURVEY.md §2.6 #1): the dangling term
    vanishes for every vertex."""
    e = derive_edges(spark, sf_dir)
    v = (
        lr.all_vertex_ids(None, e)
        .withColumn(
            "score",
            F.when(
                (F.substring("id", 1, 1) == "c")
                & (F.substring("id", 2, 100).cast("long") % 10 == 0),
                F.lit(1.0),
            ).otherwise(F.lit(0.0)),
        )
    )
    cfg = TrustRankConfig(damping=0.20, superstep_count=3, bug_compat=True)
    return _round6(run_trustrank(v, e, cfg), "score")


def q_trustrank_nan_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bug #2 + #3 byte-parity (TrustRankComputation.java:207-209,321-329):
    NO seeded vertices (num_trusted == 0) plus one empty-id dangling vertex.
    Bug #2 makes "" a permanent trusted-set member; bug #3 divides the
    positive dangling mass by zero, so the empty-id vertex's score is
    +Infinity while every other vertex takes the finite no-dangling path.
    One raw update, no CDF epilogue (log of Inf would poison the global
    stats — the reference never normalizes either, the loop just continues)."""
    e = derive_edges(spark, sf_dir)
    v = lr.all_vertex_ids(None, e).withColumn("score", F.lit(0.5))
    v = v.unionByName(
        spark.createDataFrame([("", 0.5)], "id string, score double")
    )
    cfg = TrustRankConfig(
        damping=0.20,
        superstep_count=2,
        bug_compat_empty_member=True,
        bug_compat_nan_dangling=True,
    )
    state = lr.trustrank_raw(v, e, cfg, num_updates=1)
    return _round6(state.select("id", "score"), "score")


RESID_UPDATES = 4  # shared contract with the unrolled residual oracle


def q_rank_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-iteration L1 convergence residual Σ|score_k − score_{k−1}| of
    the rank fixpoint — the operational convergence diagnostic the bounded
    loop replaces (the reference runs a FIXED superstep count with no halt
    test, LinkRankComputation.java:280-282; this query shows the residual
    curve an operator would use to choose that count).  The previous score
    rides the fused aggregate's carry columns, so each iteration's residual
    costs ZERO extra joins — one 1-row aggregate off the already-built
    state."""
    cfg = LinkRankConfig()
    fx = lr.Fixpoint(lr.edges_with_outdeg(derive_edges(spark, sf_dir)), layout=None)
    state = fx.start(lr.initial_state(None, fx.edges, cfg.default_score))
    n, d, teleport = fx.n, cfg.damping, cfg.teleport

    def step(state: DataFrame) -> DataFrame:
        fused = lr.fused_message_state(
            fx.edges, state, ["outdeg", "score"], None, fx.bcast
        )
        return fused.crossJoin(F.broadcast(lr.dangling_mass(state))).select(
            "id",
            (
                F.lit(teleport / n)
                + F.lit(d) * (F.col("msg") + F.col("dangling") / n)
            ).alias("score"),
            "outdeg",
            F.col("score").alias("prev_score"),
        )

    residuals = []

    def residual(k: int, stepped: DataFrame) -> None:
        residuals.append(
            stepped.agg(
                F.lit(k).alias("k"),
                F.round(
                    F.sum(F.abs(F.col("score") - F.col("prev_score"))), 6
                ).alias("l1_residual"),
            )
        )

    fx.run(state, step, RESID_UPDATES, observe=residual)
    return functools.reduce(DataFrame.unionByName, residuals)


def _residuals_sql(updates: int) -> str:
    cfg = LinkRankConfig()
    body = " UNION ALL ".join(
        f"SELECT {k} AS k, round(sum(abs(a.score - b.score)), 6) "
        f"AS l1_residual FROM state{k} a JOIN state{k - 1} b ON a.id = b.id"
        for k in range(1, updates + 1)
    )
    import dataclasses

    bounded = dataclasses.replace(cfg, superstep_count=updates + 1)
    return _rank_sql_iterations(bounded, EDGES_SQL) + " " + body


QUERIES = {
    "graph_edges": q_graph_edges,
    "graph_vertices": q_graph_vertices,
    "graph_outdegree": q_graph_outdegree,
    "rank_contrib": q_rank_contrib,
    "agg_msg_sum": q_agg_msg_sum,
    "agg_dangling_sum": q_agg_dangling_sum,
    "rank_update1": q_rank_update1,
    "norm_stats": q_norm_stats,
    "linkrank_scores": q_linkrank_scores,
    "hostrank_scores": q_hostrank_scores,
    "rank_topk": q_rank_topk,
    "rank_residuals": q_rank_residuals,
    "rank_per_host_top1": q_rank_per_host_top1,
    "trustrank_scores": q_trustrank_scores,
    "trustrank_bug_compat": q_trustrank_bug_compat,
    "trustrank_nan_compat": q_trustrank_nan_compat,
    "agg_count_vertices": q_agg_count_vertices,
    "agg_sum_logs": q_agg_sum_logs,
    "agg_sum_devs": q_agg_sum_devs,
    "norm_log": q_norm_log,
    "norm_cdf_scale": q_norm_cdf_scale,
    "agg_trusted_count": q_agg_trusted_count,
    "agg_trusted_set": q_agg_trusted_set,
}

# ---------------------------------------------------------------------------
# oracles

_CFG = LinkRankConfig()
_T, _D = repr(_CFG.teleport), repr(_CFG.damping)

ORACLES = {
    "graph_edges": f"{EDGES_SQL}",
    "graph_vertices": (
        f"WITH edges AS ({EDGES_SQL}) "
        f"SELECT id, CAST(1.0 AS DOUBLE) AS score FROM ({VERTS_SQL})"
    ),
    "graph_outdegree": (
        f"{GRAPH_PRELUDE} SELECT id, outdeg::BIGINT AS outdeg FROM state0"
    ),
    "rank_contrib": (
        f"{GRAPH_PRELUDE} "
        "SELECT e.dst, round(s.score / d.outdeg, 6) AS contrib "
        "FROM edges e JOIN deg d ON e.src = d.src JOIN state0 s ON e.src = s.id"
    ),
    "agg_msg_sum": (
        f"{GRAPH_PRELUDE} "
        "SELECT e.dst, round(sum(s.score / d.outdeg), 6) AS msg "
        "FROM edges e JOIN deg d ON e.src = d.src JOIN state0 s ON e.src = s.id "
        "GROUP BY e.dst"
    ),
    "agg_dangling_sum": (
        f"{GRAPH_PRELUDE} "
        "SELECT round(coalesce(sum(score), 0.0), 6) AS dangling FROM state0 WHERE outdeg = 0"
    ),
    "rank_update1": (
        _rank_sql_iterations(LinkRankConfig(superstep_count=2), EDGES_SQL)
        + " SELECT id, round(score, 6) AS score FROM state1"
    ),
    "norm_stats": (
        _rank_sql_iterations(LinkRankConfig(superstep_count=2), EDGES_SQL)
        + ", lx AS (SELECT ln(score) AS lx FROM state1) "
        "SELECT round(avg(lx), 6) AS mu, round(stddev_pop(lx), 6) AS sigma FROM lx"
    ),
    "agg_count_vertices": (
        f"{GRAPH_PRELUDE} SELECT count(*) AS n FROM state0"
    ),
    "agg_sum_logs": (
        _rank_sql_iterations(LinkRankConfig(superstep_count=2), EDGES_SQL)
        + ", lx AS (SELECT ln(score) AS lx FROM state1) "
        "SELECT round(sum(lx), 6) AS sum_logs FROM lx"
    ),
    "agg_sum_devs": (
        _rank_sql_iterations(LinkRankConfig(superstep_count=2), EDGES_SQL)
        + ", lx AS MATERIALIZED (SELECT ln(score) AS lx FROM state1), "
        "st AS (SELECT avg(lx) AS mu FROM lx) "
        "SELECT round(sum(pow(lx - mu, 2)), 6) AS sum_devs FROM lx CROSS JOIN st"
    ),
    "norm_log": (
        _rank_sql_iterations(LinkRankConfig(superstep_count=2), EDGES_SQL)
        + " SELECT id, round(ln(score), 6) AS lx FROM state1"
    ),
    "norm_cdf_scale": (
        _rank_sql_iterations(LinkRankConfig(superstep_count=2), EDGES_SQL)
        + _normalize_sql("state1", 10.0)
    ),
    "agg_trusted_count": (
        f"WITH edges AS ({EDGES_SQL}), verts AS ({VERTS_SQL}) "
        "SELECT count(*) AS num_trusted FROM verts "
        "WHERE id LIKE 'c%' AND CAST(substr(id, 2) AS BIGINT) % 10 = 0"
    ),
    "agg_trusted_set": (
        f"WITH edges AS ({EDGES_SQL}), verts AS ({VERTS_SQL}) "
        "SELECT string_agg(id, ';' ORDER BY id) AS trusted_set FROM verts "
        "WHERE id LIKE 'c%' AND CAST(substr(id, 2) AS BIGINT) % 10 = 0"
    ),
    "trustrank_scores": trustrank_oracle_sql(
        TrustRankConfig(damping=0.20, superstep_count=3)
    ),
    "trustrank_bug_compat": trustrank_oracle_sql(
        TrustRankConfig(damping=0.20, superstep_count=3), bug_compat=True
    ),
    "trustrank_nan_compat": (
        f"WITH edges AS MATERIALIZED ({EDGES_SQL}), "
        "verts AS MATERIALIZED (SELECT id FROM (SELECT src AS id FROM edges "
        "UNION SELECT dst FROM edges UNION SELECT '')), "
        "deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src), "
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM verts), "
        "state0 AS MATERIALIZED (SELECT v.id, CAST(0.5 AS DOUBLE) AS score, "
        "coalesce(d.outdeg, 0) AS outdeg FROM verts v LEFT JOIN deg d ON v.id = d.src), "
        "m1 AS MATERIALIZED (SELECT e.dst, sum(s.score / d.outdeg) AS msg "
        "FROM edges e JOIN deg d ON e.src = d.src JOIN state0 s ON e.src = s.id "
        "GROUP BY e.dst), "
        "g1 AS MATERIALIZED (SELECT coalesce(sum(score), 0.0) AS dangling "
        "FROM state0 WHERE outdeg = 0) "
        + (
            lambda c: (
                f"SELECT s.id, round((({c.teleport!r} / nn.n) + {c.damping!r} * "
                "(coalesce(m.msg, 0.0) + CASE WHEN s.id = '' THEN "
                "(CASE WHEN g.dangling > 0 THEN 'Infinity'::DOUBLE "
                "WHEN g.dangling < 0 THEN '-Infinity'::DOUBLE "
                "ELSE 'NaN'::DOUBLE END) ELSE 0.0 END)), 6) AS score "
                "FROM state0 s LEFT JOIN m1 m ON s.id = m.dst "
                "CROSS JOIN g1 g CROSS JOIN nn"
            )
        )(TrustRankConfig(damping=0.20, superstep_count=2))
    ),
    "linkrank_scores": linkrank_oracle_sql(_CFG),
    "rank_residuals": _residuals_sql(RESID_UPDATES),
    "hostrank_scores": linkrank_oracle_sql(_CFG, HOST_EDGES_SQL),
    "rank_topk": (
        "WITH scores AS (" + linkrank_oracle_sql(_CFG) + ") "
        "SELECT id, score FROM scores ORDER BY score DESC, id ASC LIMIT 20"
    ),
    "rank_per_host_top1": (
        "WITH scores AS (" + linkrank_oracle_sql(_CFG) + "), "
        "g AS (SELECT substr(id, 1, 1) || (CAST(substr(id, 2) AS BIGINT) % 25) "
        "|| '.example.com' AS host, id, score, "
        "row_number() OVER (PARTITION BY substr(id, 1, 1) || "
        "(CAST(substr(id, 2) AS BIGINT) % 25) ORDER BY score DESC, id ASC) AS rn "
        "FROM scores) SELECT host, id, score FROM g WHERE rn = 1"
    ),
}


# ---------------------------------------------------------------------------
# warm-start (incremental) rank refresh

WARM_STEPS = 2     # updates per phase (phase A: old graph; phase B: warm full)
WARM_OLD_MOD = 4   # edges with H % 4 != 0 form the "previous crawl" graph


def q_rank_warm_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental re-ranking after a crawl delta — the production cycle the
    reference lives in (Nutch updates the webgraph, ranks refresh): run the
    fixpoint on the PREVIOUS graph (a deterministic ~3/4 edge subset), then
    resume on the FULL graph warm-started from those scores (new vertices
    enter at the default 1.0).  Exercises linkrank_raw's initial-scores path
    (operators/linkrank.py:initial_state) end-to-end.

    Scale shape: identical to the cold fixpoint — warm-start changes only
    state0's init join, not the superstep plan; at 100 TB this is the cheap
    path (few steps on the delta'd graph instead of a cold full run)."""
    from giranking_spark.functions.hashing import md5_u32

    cfg = LinkRankConfig(superstep_count=WARM_STEPS + 1)
    # Both phases consume the same derived edge relation; cache it ONCE
    # here so the upstream orders-x-lineitem join + distinct runs a single
    # time — phase A's md5 subset is a filter over the cache, not a second
    # derivation (r8 bench regression: each linkrank_raw call persists only
    # its own input, so the shared upstream ran twice). linkrank_raw
    # checkpoints state per iteration, so the returned relation no longer
    # depends on e_all's lineage.
    with cached(derive_edges(spark, sf_dir)) as e_all:
        e_old = e_all.filter(
            md5_u32(F.concat(F.col("src"), F.lit(">"), F.col("dst")))
            % WARM_OLD_MOD != 0
        )
        warm = linkrank_raw(None, e_old, cfg).select("id", "score")
        final = linkrank_raw(warm, e_all, cfg)
        return final.select("id", F.round("score", 6).alias("score"))


def _warm_phase_sql(
    sfx: str, edges_cte: str, init_select: str, cfg: LinkRankConfig, steps: int
) -> list[str]:
    """One warm-restart phase as CTEs: v{sfx}/deg{sfx}/nn{sfx}/ex{sfx} +
    states {sfx}0..{sfx}{steps}; ``init_select`` provides state {sfx}0's
    (id, score, outdeg) body."""
    t, d = repr(cfg.teleport), repr(cfg.damping)
    ctes = [
        f"v{sfx} AS MATERIALIZED (SELECT id FROM (SELECT src AS id "
        f"FROM {edges_cte} UNION SELECT dst FROM {edges_cte}))",
        f"deg{sfx} AS MATERIALIZED (SELECT src, count(*) AS outdeg "
        f"FROM {edges_cte} GROUP BY src)",
        f"nn{sfx} AS MATERIALIZED (SELECT count(*) AS n FROM v{sfx})",
        f"{sfx}0 AS MATERIALIZED ({init_select})",
        f"ex{sfx} AS MATERIALIZED (SELECT e.src, e.dst, d.outdeg "
        f"FROM {edges_cte} e JOIN deg{sfx} d ON e.src = d.src)",
    ]
    for i in range(1, steps + 1):
        p = f"{sfx}{i - 1}"
        ctes.append(
            f"m{sfx}{i} AS MATERIALIZED (SELECT ex.dst, "
            f"sum(s.score / ex.outdeg) AS msg "
            f"FROM ex{sfx} ex JOIN {p} s ON ex.src = s.id GROUP BY ex.dst)"
        )
        ctes.append(
            f"g{sfx}{i} AS MATERIALIZED (SELECT coalesce(sum(score), 0.0) "
            f"AS dangling FROM {p} WHERE outdeg = 0)"
        )
        ctes.append(
            f"{sfx}{i} AS MATERIALIZED (SELECT s.id, "
            f"(({t} / nn.n) + {d} * (coalesce(m.msg, 0.0) + g.dangling / nn.n)) "
            f"AS score, s.outdeg FROM {p} s "
            f"LEFT JOIN m{sfx}{i} m ON s.id = m.dst "
            f"CROSS JOIN g{sfx}{i} g CROSS JOIN nn{sfx} nn)"
        )
    return ctes


def _warm_restart_sql() -> str:
    from giranking_spark.functions.hashing import md5_u32_sql_duckdb

    cfg = LinkRankConfig(superstep_count=WARM_STEPS + 1)
    h = md5_u32_sql_duckdb("src || '>' || dst")
    ctes = [
        f"eall AS MATERIALIZED ({EDGES_SQL})",
        f"eold AS MATERIALIZED (SELECT src, dst FROM eall "
        f"WHERE {h} % {WARM_OLD_MOD} <> 0)",
    ]
    ctes += _warm_phase_sql(
        "a", "eold",
        "SELECT v.id, 1.0 AS score, coalesce(d.outdeg, 0) AS outdeg "
        "FROM va v LEFT JOIN dega d ON v.id = d.src",
        cfg, WARM_STEPS,
    )
    ctes += _warm_phase_sql(
        "b", "eall",
        f"SELECT v.id, coalesce(w.score, 1.0) AS score, "
        "coalesce(d.outdeg, 0) AS outdeg FROM vb v "
        f"LEFT JOIN a{WARM_STEPS} w ON v.id = w.id "
        "LEFT JOIN degb d ON v.id = d.src",
        cfg, WARM_STEPS,
    )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT id, round(score, 6) AS score FROM b{WARM_STEPS}"
    )


QUERIES["rank_warm_restart"] = q_rank_warm_restart
ORACLES["rank_warm_restart"] = _warm_restart_sql()
