"""Similarity-search queries over the embeddings table, with DuckDB oracles.

The oracle mirrors cosine in double precision (list_dot_product over
DOUBLE[]), matching the Spark side's zip_with/aggregate fold after rounding
to 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giranking_spark.cache import cached
from giranking_spark.operators.similarity import (
    brute_force_range,
    brute_force_topk,
    ivf_topk,
)
from giranking_spark.sources.tables import load_table

TOPK = 5
N_QUERIES_MOD = 50  # queries = vec_id % 50 == 0
IVF_CELLS = 8
IVF_NPROBE = 2


def _embeddings(spark: SparkSession, sf_dir: str):
    """Embeddings spread to the shuffle width: the per-vector dot-product
    compute is the heavy stage and must not inherit the scan's split count
    (the fixture parquet is one split — single-threaded otherwise)."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return load_table(spark, sf_dir, "embeddings").repartition(n, F.col("vec_id"))


def _corpus_queries(spark: SparkSession, sf_dir: str):
    corpus = _embeddings(spark, sf_dir)
    queries = corpus.filter(F.col("vec_id") % N_QUERIES_MOD == 0)
    return corpus, queries


def q_simsearch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, queries = _corpus_queries(spark, sf_dir)
    return brute_force_topk(corpus, queries, k=TOPK)


RANGE_THRESHOLD = 0.30  # same 99th-percentile radius as embed_neardup


def q_simsearch_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, queries = _corpus_queries(spark, sf_dir)
    return brute_force_range(corpus, queries, RANGE_THRESHOLD)


def q_simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, queries = _corpus_queries(spark, sf_dir)
    return ivf_topk(corpus, queries, c=IVF_CELLS, nprobe=IVF_NPROBE, k=TOPK)


#: target rows per IVF cell for the corpus-scaled variant: cells =
#: max(IVF_CELLS, |corpus| // 1024), so probe volume per query stays
#: ~nprobe·1024 however large the corpus grows
IVF_SCALE_TARGET = 1024

#: probes for the corpus-scaled variant (r13): single-digit nprobe over a
#: grown quantizer finds half the true neighbors (measured recall@5 0.485
#: at sf0.1; 0.36 at 10 signflip copies of it). 16 probes keep per-query
#: probe volume pinned at ~16·1024 rows — corpus-independent — and
#: measure recall@5 0.98 / 0.95 at 10 / 50 signflip copies (the regimes
#: where nprobe < cells; below ~16k vectors every cell is probed and the
#: search is exact by construction).
IVF_SCALE_NPROBE = 16


def q_simsearch_ivf_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with the cell count GROWN with the corpus (Jégou et al.'s
    production scaling, which the fixed-c registry constant cannot show):
    cells = max(IVF_CELLS, |corpus| // IVF_SCALE_TARGET), read from one
    bounded count job. The r11 third-decade measurement showed the fixed
    c=8 variant's probe volume growing 100× per decade (cells densify AND
    |Q| ∝ |C|); this shape pins per-query probe volume at ~nprobe·1024
    rows, making the whole search linear in the corpus. Same deterministic
    quantizer recipe, so the DuckDB oracle mirrors the count-derived cell
    number exactly (subquery LIMIT)."""
    corpus, queries = _corpus_queries(spark, sf_dir)
    n = corpus.count()
    c = max(IVF_CELLS, n // IVF_SCALE_TARGET)
    return ivf_topk(
        corpus, queries, c=c, nprobe=IVF_SCALE_NPROBE, k=TOPK, corpus_count=n
    )


NEARDUP_THRESHOLD = 0.30  # synthetic embeddings top out at cos≈0.47
                          # intra-label; 0.30 ≈ the 99th percentile


NEARDUP_BANDS = 12
NEARDUP_ROWS = 2


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above NEARDUP_THRESHOLD within
    the same label. Candidates come from banded sign-LSH keyed on
    (label, band, bucket) — never a within-label all-pairs self-join — then
    an exact cosine re-rank (operators/similarity.lsh_neardup_pairs). The
    DuckDB oracle stays the exact within-label formulation: the chosen
    bands/rows give 100% candidate recall on the fixtures, so approximate
    candidates + exact re-rank reproduce the exact answer."""
    from giranking_spark.operators.similarity import lsh_neardup_pairs

    return lsh_neardup_pairs(
        _embeddings(spark, sf_dir),
        NEARDUP_THRESHOLD,
        bands=NEARDUP_BANDS,
        rows=NEARDUP_ROWS,
    )


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding store + reconstruction MSE
    (operators/similarity.py:scalar_quantize) — narrow per-row map, JVM
    higher-order functions only."""
    from giranking_spark.operators.similarity import scalar_quantize

    return scalar_quantize(_embeddings(spark, sf_dir))


OUTLIER_TOPK = 50


def q_embed_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space QC: top-``OUTLIER_TOPK`` outliers by Euclidean
    distance to the corpus mean vector, with a z-score against the distance
    distribution — the cheap screen that surfaces corrupted embeddings /
    wrong-modality rows before a training run.

    Shapes: the mean vector is one posexplode + per-dim avg (d rows),
    reassembled into an ordered array and broadcast; each distance is a
    JVM-side array fold via the expansion ||x-mu||^2 = Σx^2 - 2<x,mu> +
    Σmu^2 (the oracle uses the SAME decomposition so float rounding
    matches); distance stats ride as a broadcast single-row aggregate; the
    top-k cut is TakeOrdered on the ROUNDED distance with a vec_id
    tiebreak — engine-stable, no global sort."""
    emb = _embeddings(spark, sf_dir)
    qx = emb.select(F.posexplode("embedding").alias("i", "x"))
    mv = (
        qx.groupBy("i")
        .agg(F.avg(F.col("x").cast("double")).alias("mu"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "mu"))),
                lambda s: s["mu"],
            ).alias("mu")
        )
    )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sx2 = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    dot = F.aggregate(
        F.zip_with(v, F.col("mu"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    smu2 = F.aggregate(F.col("mu"), F.lit(0.0), lambda acc, x: acc + x * x)
    # (vec_id, dist) feeds both the stats aggregate and the final select —
    # cache it so the scan + fold pass runs once
    d = emb.crossJoin(F.broadcast(mv)).select(
        "vec_id",
        F.sqrt(F.greatest(F.lit(0.0), sx2 - 2 * dot + smu2)).alias("dist"),
    )
    with cached(d):
        s = d.agg(F.avg("dist").alias("md"), F.stddev_pop("dist").alias("sd"))
        return (
            d.crossJoin(F.broadcast(s))
            .select(
                "vec_id",
                F.round("dist", 6).alias("dist"),
                F.round((F.col("dist") - F.col("md")) / F.col("sd"), 6).alias("z"),
            )
            .orderBy(F.desc("dist"), F.asc("vec_id"))
            .limit(OUTLIER_TOPK)
        ).localCheckpoint()




BQ_WORDS = 2          # 64 dims packed into 2 x 32-bit words
BQ_WORD_BITS = 32
BQ_TOPK = 5


def q_simsearch_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized similarity search (sign-bit / 1-bit quantization, the
    public BQ trick modern vector stores use for 32x memory cuts): each
    64-dim embedding packs into 2 integer words of sign bits; candidate
    ranking is Hamming distance bit_count(xor) — integer-exact, so the
    oracle matches bit-for-bit with no float tolerance.  Top-BQ_TOPK per
    query by (hamming, vec_id), self-pairs excluded (neighbor != query,
    the family contract of brute_force_topk).

    Scale shape: the packed corpus is 16 bytes/vector (vs 512 for doubles);
    the query set broadcasts and the scan stays columnar-pruned — the same
    documented brute-force baseline shape as simsearch_topk, 32x cheaper
    per pair; an exact cosine re-rank of the survivors would chain
    brute_force_topk over the candidate ids."""
    from pyspark.sql import Window

    def packed(df, prefix):
        v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        words = [
            F.aggregate(
                F.slice(v, j * BQ_WORD_BITS + 1, BQ_WORD_BITS),
                F.lit(0).cast("long"),
                lambda acc, x: acc * 2
                + F.when(x > 0, F.lit(1)).otherwise(F.lit(0)),
            ).alias(f"{prefix}w{j}")
            for j in range(BQ_WORDS)
        ]
        return df.select(F.col("vec_id").alias(f"{prefix}id"), *words)

    corpus, queries = _corpus_queries(spark, sf_dir)
    c = packed(corpus, "c_")
    q = packed(queries, "q_")
    ham = sum(
        F.bit_count(F.col(f"q_w{j}").bitwiseXOR(F.col(f"c_w{j}")))
        for j in range(BQ_WORDS)
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("vec_id"),
            ham.cast("int").alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("vec_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= BQ_TOPK)
        .select("query_id", "vec_id", "hamming", F.col("rank").cast("int").alias("rank"))
    )


_BQ_PACK = " || ".join(
    "[list_reduce(list_transform(embedding[{a}:{b}], "
    "x -> CASE WHEN x > 0 THEN 1::BIGINT ELSE 0::BIGINT END), "
    "(acc, y) -> acc * 2 + y)]".format(a=j * 32 + 1, b=j * 32 + 32)
    for j in range(2)
)

_BINARY_SQL = f"""
WITH packed AS (
    SELECT vec_id, {_BQ_PACK} AS words FROM embeddings
),
pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           CAST(bit_count(xor(q.words[1], c.words[1]))
              + bit_count(xor(q.words[2], c.words[2])) AS INT) AS hamming
    FROM packed c, packed q
    WHERE q.vec_id % {N_QUERIES_MOD} = 0 AND c.vec_id <> q.vec_id
)
SELECT query_id, vec_id, hamming, rank FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY hamming ASC, vec_id ASC) AS INT) AS rank
    FROM pairs
) WHERE rank <= {BQ_TOPK}
"""


QUERIES = {
    "simsearch_topk": q_simsearch_topk,
    "simsearch_binary": q_simsearch_binary,
    "embed_outlier_scores": q_embed_outlier_scores,
    "simsearch_range": q_simsearch_range,
    "simsearch_ivf": q_simsearch_ivf,
    "embed_neardup": q_embed_neardup,
    "embed_quantize": q_embed_quantize,
}

_COS = (
    "list_dot_product(a.v, b.v) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)

ORACLES = {
    "simsearch_binary": _BINARY_SQL,
    "embed_outlier_scores": (
        "WITH m AS (SELECT i, avg(x::DOUBLE) AS mu FROM "
        "(SELECT unnest(embedding) AS x, "
        "generate_subscripts(embedding, 1) AS i FROM embeddings) GROUP BY i), "
        "mv AS (SELECT list(mu ORDER BY i) AS mu FROM m), "
        "d AS (SELECT vec_id, sqrt(greatest(0.0, "
        "list_sum(list_transform(embedding, x -> x::DOUBLE * x)) "
        "- 2 * list_dot_product(embedding::DOUBLE[], mv.mu) "
        "+ list_dot_product(mv.mu, mv.mu))) AS dist "
        "FROM embeddings, mv), "
        "s AS (SELECT avg(dist) AS md, stddev_pop(dist) AS sd FROM d) "
        "SELECT vec_id, round(dist, 6) AS dist, "
        "round((dist - md) / sd, 6) AS z FROM d, s "
        f"ORDER BY round(dist, 6) DESC, vec_id ASC LIMIT 50"
    ),
    "simsearch_topk": (
        "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"q AS (SELECT vec_id, v FROM c WHERE vec_id % {N_QUERIES_MOD} = 0), "
        "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        f"round(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * "
        "sqrt(list_dot_product(c.v, c.v))), 6) AS cos "
        "FROM q, c WHERE c.vec_id <> q.vec_id), "
        "ranked AS (SELECT *, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn FROM scored) "
        f"SELECT query_id, neighbor_id, cos FROM ranked WHERE rn <= {TOPK}"
    ),
    "simsearch_range": (
        "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"q AS (SELECT vec_id, v FROM c WHERE vec_id % {N_QUERIES_MOD} = 0), "
        "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        f"round(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * "
        "sqrt(list_dot_product(c.v, c.v))), 6) AS cos "
        "FROM q, c WHERE c.vec_id <> q.vec_id) "
        "SELECT query_id, neighbor_id, cos FROM scored "
        f"WHERE cos >= {RANGE_THRESHOLD}"
    ),
    "embed_neardup": (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings) "
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        f"round({_COS}, 6) AS cos "
        "FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id "
        f"WHERE round({_COS}, 6) >= {NEARDUP_THRESHOLD}"
    ),
    # simsearch_ivf: IVF cell assignment + probe — expressible in SQL too
    "simsearch_ivf": (
        "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"cents AS (SELECT row_number() OVER (ORDER BY vec_id ASC) AS cell, v AS cv "
        f"FROM (SELECT vec_id, v FROM c ORDER BY vec_id ASC LIMIT {IVF_CELLS})), "
        "assigned AS (SELECT vec_id, v, cell FROM ("
        "SELECT c.vec_id, c.v, cents.cell, row_number() OVER (PARTITION BY c.vec_id "
        "ORDER BY (list_dot_product(c.v, cents.cv) / (sqrt(list_dot_product(c.v, c.v)) * "
        "sqrt(list_dot_product(cents.cv, cents.cv)))) DESC, cents.cell ASC) AS rn "
        "FROM c, cents) WHERE rn = 1), "
        f"q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id % {N_QUERIES_MOD} = 0), "
        "probes AS (SELECT query_id, qv, cell FROM ("
        "SELECT q.query_id, q.qv, cents.cell, row_number() OVER (PARTITION BY q.query_id "
        "ORDER BY (list_dot_product(q.qv, cents.cv) / (sqrt(list_dot_product(q.qv, q.qv)) * "
        "sqrt(list_dot_product(cents.cv, cents.cv)))) DESC, cents.cell ASC) AS rn "
        f"FROM q, cents) WHERE rn <= {IVF_NPROBE}), "
        "scored AS (SELECT p.query_id, a.vec_id AS neighbor_id, "
        "round(list_dot_product(p.qv, a.v) / (sqrt(list_dot_product(p.qv, p.qv)) * "
        "sqrt(list_dot_product(a.v, a.v))), 6) AS cos "
        "FROM assigned a JOIN probes p ON a.cell = p.cell WHERE a.vec_id <> p.query_id), "
        "ranked AS (SELECT *, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn FROM scored) "
        f"SELECT query_id, neighbor_id, cos FROM ranked WHERE rn <= {TOPK}"
    ),
}

QUERIES["simsearch_ivf_scaled"] = q_simsearch_ivf_scaled
# identical to the simsearch_ivf oracle except the quantizer size is
# derived from the corpus count (subquery LIMIT) — the same
# max(IVF_CELLS, count // IVF_SCALE_TARGET) the Spark side computes.
# Unconditional raise (not assert — stripped under python -O): if the base
# oracle text drifts, the replace would silently no-op and the scaled
# oracle would verify against the fixed quantizer.
if ORACLES["simsearch_ivf"].count(f"LIMIT {IVF_CELLS})") != 1:
    raise RuntimeError(
        "simsearch_ivf oracle text drifted: the scaled-variant quantizer "
        f"rewrite expects exactly one 'LIMIT {IVF_CELLS})' site"
    )
if ORACLES["simsearch_ivf"].count(f"rn <= {IVF_NPROBE})") != 1:
    raise RuntimeError(
        "simsearch_ivf oracle text drifted: the scaled-variant nprobe "
        f"rewrite expects exactly one 'rn <= {IVF_NPROBE})' site"
    )
ORACLES["simsearch_ivf_scaled"] = ORACLES["simsearch_ivf"].replace(
    f"LIMIT {IVF_CELLS})",
    f"LIMIT (SELECT greatest({IVF_CELLS}, count(*) // {IVF_SCALE_TARGET}) "
    "FROM c))",
).replace(
    # r13: the scaled production point multi-probes (recall, not wall —
    # see IVF_SCALE_NPROBE); the fixed-c fixture baseline keeps nprobe=2
    f"rn <= {IVF_NPROBE})",
    f"rn <= {IVF_SCALE_NPROBE})",
)


# --- sign-random-projection LSH (banded hyperplane buckets) ----------------

LSH_BANDS = 4
LSH_ROWS = 4
LSH_DIM = 64
LSH_SEED = 7


def q_simsearch_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from giranking_spark.operators.similarity import lsh_topk

    corpus, queries = _corpus_queries(spark, sf_dir)
    return lsh_topk(
        corpus, queries, bands=LSH_BANDS, rows=LSH_ROWS, k=TOPK,
        dim=LSH_DIM, seed=LSH_SEED,
    )


QUERIES["simsearch_lsh"] = q_simsearch_lsh


def _lsh_bucket_sql(
    planes, band: int, rows: int, v: str = "v", stride: int | None = None
) -> str:
    """DuckDB expression for one band's bucket id — the same decimal plane
    literals the Spark plan uses, so the sign bits agree bit-for-bit.
    ``stride`` is the plane-table pitch (see operators.similarity
    _band_bucket); band b reads planes [b*stride, b*stride+rows)."""
    pitch = stride if stride is not None else rows
    terms = []
    for r in range(rows):
        p = planes[band * pitch + r]
        lits = "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product({v}, {lits}) > 0 THEN {2 ** r} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def _lsh_oracle() -> str:
    from giranking_spark.operators.similarity import random_hyperplanes

    planes = random_hyperplanes(LSH_BANDS * LSH_ROWS, LSH_DIM, LSH_SEED)
    bcols = ", ".join(
        f"{_lsh_bucket_sql(planes, b, LSH_ROWS)} AS b{b}" for b in range(LSH_BANDS)
    )
    on = " OR ".join(f"qb.b{b} = cb.b{b}" for b in range(LSH_BANDS))
    return (
        "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"q AS (SELECT vec_id, v FROM c WHERE vec_id % {N_QUERIES_MOD} = 0), "
        f"cb AS (SELECT vec_id, {bcols} FROM c), "
        f"qb AS (SELECT vec_id, {bcols} FROM q), "
        "cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id "
        f"FROM qb JOIN cb ON ({on}) WHERE cb.vec_id <> qb.vec_id), "
        "scored AS (SELECT cand.query_id, cand.neighbor_id, "
        "round(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * "
        "sqrt(list_dot_product(c.v, c.v))), 6) AS cos "
        "FROM cand JOIN q ON q.vec_id = cand.query_id "
        "JOIN c ON c.vec_id = cand.neighbor_id), "
        "ranked AS (SELECT *, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn FROM scored) "
        f"SELECT query_id, neighbor_id, cos FROM ranked WHERE rn <= {TOPK}"
    )


ORACLES["simsearch_lsh"] = _lsh_oracle()


# --- corpus-scaled sign-LSH (count-derived bits per band) -------------------
#
# The r11 third-decade measurement (sweep_r11_sf100mut_spot.jsonl) showed the
# fixed rows=4 variant quadratic by spec: 16 buckets/band means bucket
# occupancy |C|/16 while |Q| ∝ |C|, so scored pairs grow |C|²/decade
# (48.9×/decade observed). Production sign-LSH (Charikar, STOC'02 §4) grows
# the code length with the corpus; here rows-per-band r is the smallest in
# [LSH_ROWS, LSH_ROWS_MAX] with |C| <= target·2^r, so expected bucket
# occupancy stays <= LSH_SCALE_TARGET and total scored pairs stay linear in
# |C|. One fixed plane table of LSH_ROWS_MAX planes per band (pitch =
# LSH_ROWS_MAX) serves every r: masking the full-bit integer to its low r
# bits IS the bucket of the first r planes, which is how the oracle —
# which cannot vary its literal set per count — derives the same bucket
# from the same plane literals with r computed by a scalar subquery of
# integer comparisons (no float log2 on either engine).

LSH_ROWS_MAX = 16
LSH_SCALE_TARGET = 1024

#: query-side multi-probe flips for the scaled variant (r13): single-probe
#: scaled LSH finds half the true top-5 (measured recall@5 0.505 at sf0.1,
#: 2/40 queries perfect). Probing each band's own bucket plus the 3
#: least-confident single-bit flips measures recall@5 0.905 / 0.850 /
#: 0.953 at sf0.1 / 10-copy / 50-copy signflip corpora, for ~4x candidate
#: volume that stays corpus-independent (occupancy is pinned by the scaled
#: rows-per-band; the corpus-side bucketing cost is untouched).
LSH_PROBE_FLIPS = 3


def q_simsearch_lsh_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH top-k with bits-per-band grown with the corpus: one bounded
    count job derives r, the plan then computes only r sign bits per band
    (the oracle masks its fixed full-width bits to the same r low bits);
    queries multi-probe their LSH_PROBE_FLIPS least-confident bit flips
    per band (the production recall point, see LSH_PROBE_FLIPS)."""
    from giranking_spark.operators.similarity import lsh_topk, scaled_lsh_rows

    corpus, queries = _corpus_queries(spark, sf_dir)
    n = corpus.count()
    rows = scaled_lsh_rows(n, LSH_ROWS, LSH_ROWS_MAX, LSH_SCALE_TARGET)
    return lsh_topk(
        corpus, queries, bands=LSH_BANDS, rows=rows, k=TOPK,
        dim=LSH_DIM, seed=LSH_SEED, stride=LSH_ROWS_MAX, corpus_count=n,
        flips=LSH_PROBE_FLIPS,
    )


QUERIES["simsearch_lsh_scaled"] = q_simsearch_lsh_scaled


def _lsh_scaled_oracle() -> str:
    from giranking_spark.operators.similarity import random_hyperplanes

    planes = random_hyperplanes(LSH_BANDS * LSH_ROWS_MAX, LSH_DIM, LSH_SEED)
    # r = LSH_ROWS + Σ_j [count > target·2^j] — the exact integer formula
    # scaled_lsh_rows evaluates on the Spark side's bounded count
    r_terms = " + ".join(
        f"(CASE WHEN count(*) > {LSH_SCALE_TARGET * (2 ** j)} "
        "THEN 1 ELSE 0 END)"
        for j in range(LSH_ROWS, LSH_ROWS_MAX)
    )
    # full-width bits per band, masked to the low r bits: bit weights are
    # 2^i, so % (1<<r) keeps exactly the first r planes' sign bits — the
    # bucket the Spark side computes directly with r plane terms
    bcols = ", ".join(
        f"({_lsh_bucket_sql(planes, b, LSH_ROWS_MAX, stride=LSH_ROWS_MAX)}"
        " % (1::BIGINT << rs.r))"
        f" AS b{b}"
        for b in range(LSH_BANDS)
    )

    # query-side multi-probe mirror (r13): the dot products are bitwise
    # identical across engines (same decimal literals, same left-to-right
    # fold — verified on the fixtures), so ranking bits by |dot| with ties
    # to the lowest plane index reproduces the Spark side's
    # array_sort(struct(|d|, i, 2^i)) exactly. The full 16-struct list is
    # filtered to the r live bits (s.i < rs.r), sorted, sliced to the
    # first LSH_PROBE_FLIPS, and xor'd onto the masked bucket.
    def dlist(b: int) -> str:
        return "[" + ", ".join(
            "list_dot_product(v, ["
            + ", ".join(repr(x) for x in planes[b * LSH_ROWS_MAX + i])
            + "]::DOUBLE[])"
            for i in range(LSH_ROWS_MAX)
        ) + "]"

    dcols = ", ".join(f"{dlist(b)} AS d{b}" for b in range(LSH_BANDS))

    def bexpr(b: int) -> str:
        s = " + ".join(
            f"(CASE WHEN d{b}[{i + 1}] > 0 THEN {2 ** i} ELSE 0 END)"
            for i in range(LSH_ROWS_MAX)
        )
        return f"(({s}) % (1::BIGINT << rs.r)) AS b{b}"

    def pexpr(b: int) -> str:
        structs = ", ".join(
            "{'a': abs(d%d[%d]), 'i': %d, 'w': %d}"
            % (b, i + 1, i, 2 ** i)
            for i in range(LSH_ROWS_MAX)
        )
        return (
            f"list_prepend(b{b}, list_transform(list_slice(list_sort("
            f"[s FOR s IN [{structs}] IF s.i < rs.r]), 1, {LSH_PROBE_FLIPS}), "
            f"s -> xor(b{b}, s.w::BIGINT))) AS pb{b}"
        )

    qbcols = ", ".join(bexpr(b) for b in range(LSH_BANDS))
    dkeep = ", ".join(f"d{b}" for b in range(LSH_BANDS))
    qpcols = ", ".join(pexpr(b) for b in range(LSH_BANDS))
    on = " OR ".join(
        f"list_contains(qp.pb{b}, cb.b{b})" for b in range(LSH_BANDS)
    )
    return (
        "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"rs AS (SELECT ({LSH_ROWS} + {r_terms}) AS r FROM c), "
        f"q AS (SELECT vec_id, v FROM c WHERE vec_id % {N_QUERIES_MOD} = 0), "
        f"cb AS (SELECT vec_id, {bcols} FROM c, rs), "
        f"qd AS (SELECT vec_id, {dcols} FROM q), "
        f"qb AS (SELECT vec_id, {dkeep}, {qbcols} FROM qd, rs), "
        f"qp AS (SELECT vec_id, {qpcols} FROM qb, rs), "
        "cand AS (SELECT DISTINCT qp.vec_id AS query_id, cb.vec_id AS neighbor_id "
        f"FROM qp JOIN cb ON ({on}) WHERE cb.vec_id <> qp.vec_id), "
        "scored AS (SELECT cand.query_id, cand.neighbor_id, "
        "round(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * "
        "sqrt(list_dot_product(c.v, c.v))), 6) AS cos "
        "FROM cand JOIN q ON q.vec_id = cand.query_id "
        "JOIN c ON c.vec_id = cand.neighbor_id), "
        "ranked AS (SELECT *, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn FROM scored) "
        f"SELECT query_id, neighbor_id, cos FROM ranked WHERE rn <= {TOPK}"
    )


ORACLES["simsearch_lsh_scaled"] = _lsh_scaled_oracle()


def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped applyInPandas: per-label centroid, exploded to scalar rows
    (label, n_vecs, dim, val) for exact cross-engine comparison."""
    from giranking_spark.operators.similarity import label_centroids

    cents = label_centroids(load_table(spark, sf_dir, "embeddings"))
    return cents.select(
        "label", "n_vecs", F.posexplode("centroid").alias("dim", "v")
    ).select("label", "n_vecs", "dim", F.round("v", 6).alias("val"))


QUERIES["embed_centroids"] = q_embed_centroids

# --- spherical k-means coarse quantizer (IVF upgrade path) -----------------

KMEANS_C = 8
KMEANS_ITERS = 2


def q_embed_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd-iteration quantizer (operators/similarity.
    kmeans_centroids), exploded to (cell, dim, val) scalars for exact
    cross-engine comparison — the oracle unrolls both iterations as CTEs."""
    from giranking_spark.operators.similarity import kmeans_centroids

    cents = kmeans_centroids(_embeddings(spark, sf_dir), c=KMEANS_C, iters=KMEANS_ITERS)
    return cents.select("cell", F.posexplode("cv").alias("dim", "v")).select(
        "cell", "dim", F.round("v", 6).alias("val")
    )


QUERIES["embed_kmeans_centroids"] = q_embed_kmeans_centroids


def _kmeans_oracle(iters: int = KMEANS_ITERS, c: int = KMEANS_C, dim: int = 64) -> str:
    def cos(a: str, b: str) -> str:
        return (
            f"(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
            f"sqrt(list_dot_product({b}, {b}))))"
        )

    ctes = [
        "c AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"cent0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id ASC) AS cell, "
        f"v AS cv FROM (SELECT vec_id, v FROM c ORDER BY vec_id ASC LIMIT {c}))",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT vec_id, v, cell FROM ("
            f"SELECT c.vec_id, c.v, t.cell, row_number() OVER (PARTITION BY c.vec_id "
            f"ORDER BY {cos('c.v', 't.cv')} DESC, t.cell ASC) AS rn "
            f"FROM c, cent{p} t) WHERE rn = 1)"
        )
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT cell, (i - 1) AS dim, avg(v[i]) AS m "
            f"FROM a{i}, unnest(generate_series(1, {dim})) AS t(i) GROUP BY cell, i)"
        )
        ctes.append(
            f"cent{i} AS MATERIALIZED (SELECT c0.cell, coalesce(n.cv, c0.cv) AS cv "
            f"FROM cent{p} c0 LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS cv "
            f"FROM m{i} GROUP BY cell) n USING (cell))"
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT cell, (i - 1) AS dim, round(cv[i], 6) AS val "
        f"FROM cent{iters}, unnest(generate_series(1, {dim})) AS t(i)"
    )


ORACLES["embed_kmeans_centroids"] = _kmeans_oracle()


def q_simsearch_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k probing k-means cells — the full quantizer upgrade path
    end-to-end (build the quantizer, assign the corpus, probe, re-rank)."""
    from giranking_spark.operators.similarity import ivf_topk, kmeans_centroids

    corpus, queries = _corpus_queries(spark, sf_dir)
    cents = kmeans_centroids(corpus, c=KMEANS_C, iters=KMEANS_ITERS)
    return ivf_topk(
        corpus, queries, nprobe=IVF_NPROBE, k=TOPK, centroids=cents
    )


QUERIES["simsearch_ivf_kmeans"] = q_simsearch_ivf_kmeans


def _ivf_kmeans_oracle() -> str:
    """Probe/score tail over the k-means centroid CTE chain — mirrors the
    simsearch_ivf oracle with cent{iters} as the quantizer."""
    cent = f"cent{KMEANS_ITERS}"
    base = _kmeans_oracle()
    ctes = base[len("WITH ") : base.rindex(" SELECT cell,")]
    return (
        "WITH " + ctes + ", "
        "assigned AS (SELECT vec_id, v, cell FROM ("
        "SELECT c.vec_id, c.v, t.cell, row_number() OVER (PARTITION BY c.vec_id "
        "ORDER BY (list_dot_product(c.v, t.cv) / (sqrt(list_dot_product(c.v, c.v)) * "
        f"sqrt(list_dot_product(t.cv, t.cv)))) DESC, t.cell ASC) AS rn FROM c, {cent} t) "
        "WHERE rn = 1), "
        f"q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id % {N_QUERIES_MOD} = 0), "
        "probes AS (SELECT query_id, qv, cell FROM ("
        "SELECT q.query_id, q.qv, t.cell, row_number() OVER (PARTITION BY q.query_id "
        "ORDER BY (list_dot_product(q.qv, t.cv) / (sqrt(list_dot_product(q.qv, q.qv)) * "
        f"sqrt(list_dot_product(t.cv, t.cv)))) DESC, t.cell ASC) AS rn FROM q, {cent} t) "
        f"WHERE rn <= {IVF_NPROBE}), "
        "scored AS (SELECT p.query_id, a.vec_id AS neighbor_id, "
        "round(list_dot_product(p.qv, a.v) / (sqrt(list_dot_product(p.qv, p.qv)) * "
        "sqrt(list_dot_product(a.v, a.v))), 6) AS cos "
        "FROM assigned a JOIN probes p ON a.cell = p.cell WHERE a.vec_id <> p.query_id), "
        "ranked AS (SELECT *, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn FROM scored) "
        f"SELECT query_id, neighbor_id, cos FROM ranked WHERE rn <= {TOPK}"
    )


ORACLES["simsearch_ivf_kmeans"] = _ivf_kmeans_oracle()

ORACLES["embed_centroids"] = (
    "WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings), "
    "n AS (SELECT label, count(*) AS n_vecs FROM e GROUP BY label), "
    "x AS (SELECT label, (i - 1) AS dim, v[i] AS val "
    "FROM e, unnest(generate_series(1, 64)) AS t(i)) "
    "SELECT x.label, n.n_vecs, x.dim, round(avg(x.val), 6) AS val "
    "FROM x JOIN n ON x.label = n.label GROUP BY x.label, n.n_vecs, x.dim"
)

ORACLES["embed_quantize"] = (
    # mirror of scalar_quantize: double-widened elements, floor(x+0.5)
    # rounding, left-to-right list_sum fold — bit-identical to Spark
    "WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v "
    "FROM embeddings), "
    "s AS (SELECT vec_id, v, list_min(v) AS mn, "
    "greatest((list_max(v) - list_min(v)) / 255.0, 1e-12) AS scale FROM v), "
    "e AS (SELECT vec_id, mn, scale, "
    "list_transform(v, x -> pow(x - (mn + least(greatest(floor((x - mn) / scale"
    " + 0.5), 0.0), 255.0) * scale), 2.0)) AS err, len(v) AS d FROM s) "
    "SELECT vec_id, round(mn, 6) AS q_min, "
    "round(mn + 255.0 * scale, 6) AS q_max, round(scale, 6) AS q_scale, "
    "round(list_sum(err) / d, 6) AS mse FROM e"
)


PQ_M = 4        # subspaces
PQ_KSUB = 16    # codewords per subspace
PQ_DIM = 64


def q_simsearch_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/similarity.pq_topk): the
    RAM-resident compressed-index path (m·log2(ksub) bits per vector) —
    the oracle rebuilds codebooks, encoding, and the distance-table scoring
    in SQL with the identical arithmetic order."""
    from giranking_spark.operators.similarity import pq_topk

    corpus, queries = _corpus_queries(spark, sf_dir)
    return pq_topk(corpus, queries, m=PQ_M, ksub=PQ_KSUB, dim=PQ_DIM, k=TOPK)


QUERIES["simsearch_pq"] = q_simsearch_pq


def _pq_oracle() -> str:
    dsub = PQ_DIM // PQ_M
    l2 = (
        "(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b}) "
        "+ list_dot_product({b}, {b}))"
    )
    dsums = ", ".join(
        f"sum(CASE WHEN d.sub = {s} THEN d.d END) AS d{s}" for s in range(PQ_M)
    )
    adist = " + ".join(f"d{s}" for s in range(PQ_M))
    return (
        "WITH c AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings), "
        "cb0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 "
        f"AS code, v FROM (SELECT vec_id, v FROM c ORDER BY vec_id ASC LIMIT {PQ_KSUB})), "
        "cb AS MATERIALIZED (SELECT s.i AS sub, code, "
        f"v[(s.i * {dsub} + 1):(s.i * {dsub} + {dsub})] AS cv "
        f"FROM cb0, unnest(generate_series(0, {PQ_M - 1})) AS s(i)), "
        "subs AS MATERIALIZED (SELECT vec_id, s.i AS sub, "
        f"v[(s.i * {dsub} + 1):(s.i * {dsub} + {dsub})] AS sv "
        f"FROM c, unnest(generate_series(0, {PQ_M - 1})) AS s(i)), "
        "enc AS MATERIALIZED (SELECT vec_id, sub, code FROM ("
        "SELECT subs.vec_id, subs.sub, cb.code, row_number() OVER ("
        "PARTITION BY subs.vec_id, subs.sub ORDER BY "
        + l2.format(a="sv", b="cv")
        + " ASC, cb.code ASC) AS rn FROM subs JOIN cb ON subs.sub = cb.sub) "
        "WHERE rn = 1), "
        f"q AS (SELECT vec_id AS query_id, sub, sv FROM subs "
        f"WHERE vec_id % {N_QUERIES_MOD} = 0), "
        "dtab AS MATERIALIZED (SELECT query_id, cb.sub, cb.code, "
        + l2.format(a="sv", b="cv")
        + " AS d FROM q JOIN cb ON q.sub = cb.sub), "
        "per AS (SELECT d.query_id, e.vec_id AS neighbor_id, "
        f"{dsums} FROM enc e JOIN dtab d ON e.sub = d.sub AND e.code = d.code "
        "GROUP BY d.query_id, e.vec_id), "
        "ranked AS (SELECT query_id, neighbor_id, "
        f"round({adist}, 6) AS adist, row_number() OVER (PARTITION BY query_id "
        f"ORDER BY ({adist}) ASC, neighbor_id ASC) AS rn "
        "FROM per WHERE neighbor_id <> query_id) "
        f"SELECT query_id, neighbor_id, adist FROM ranked WHERE rn <= {TOPK}"
    )


ORACLES["simsearch_pq"] = _pq_oracle()


def q_simsearch_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC: IVF coarse cells + PQ asymmetric distance on residuals
    (operators/similarity.ivf_pq_topk) — the composition FAISS ships as the
    default billion-scale index. The oracle unrolls the identical chain
    (cell assignment → residuals → residual codebooks → encoding → probe →
    distance tables → fixed-order partial sums) in SQL."""
    from giranking_spark.operators.similarity import ivf_pq_topk

    corpus, queries = _corpus_queries(spark, sf_dir)
    return ivf_pq_topk(
        corpus, queries, c=IVF_CELLS, nprobe=IVF_NPROBE,
        m=PQ_M, ksub=PQ_KSUB, dim=PQ_DIM, k=TOPK,
    )


QUERIES["simsearch_ivf_pq"] = q_simsearch_ivf_pq


def _ivf_pq_oracle() -> str:
    dsub = PQ_DIM // PQ_M
    l2 = (
        "(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b}) "
        "+ list_dot_product({b}, {b}))"
    )
    cos = (
        "(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        "sqrt(list_dot_product({b}, {b}))))"
    )
    dsums = ", ".join(
        f"sum(CASE WHEN d.sub = {s} THEN d.d END) AS d{s}" for s in range(PQ_M)
    )
    adist = " + ".join(f"d{s}" for s in range(PQ_M))
    return (
        "WITH c AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings), "
        "cents AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id ASC) "
        f"AS cell, v AS cv FROM (SELECT vec_id, v FROM c ORDER BY vec_id ASC "
        f"LIMIT {IVF_CELLS})), "
        "assigned AS MATERIALIZED (SELECT vec_id, v, cell FROM ("
        "SELECT c.vec_id, c.v, cents.cell, row_number() OVER (PARTITION BY "
        "c.vec_id ORDER BY " + cos.format(a="c.v", b="cents.cv")
        + " DESC, cents.cell ASC) AS rn FROM c, cents) WHERE rn = 1), "
        "res AS MATERIALIZED (SELECT a.vec_id, a.cell, "
        "list_transform(list_zip(a.v, t.cv), x -> x[1] - x[2]) AS rv "
        "FROM assigned a JOIN cents t ON a.cell = t.cell), "
        "rcb0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id ASC) "
        "- 1 AS code, rv FROM (SELECT vec_id, rv FROM res ORDER BY vec_id ASC "
        f"LIMIT {PQ_KSUB})), "
        "rcb AS MATERIALIZED (SELECT s.i AS sub, code, "
        f"rv[(s.i * {dsub} + 1):(s.i * {dsub} + {dsub})] AS cv "
        f"FROM rcb0, unnest(generate_series(0, {PQ_M - 1})) AS s(i)), "
        "subs AS MATERIALIZED (SELECT vec_id, cell, s.i AS sub, "
        f"rv[(s.i * {dsub} + 1):(s.i * {dsub} + {dsub})] AS sv "
        f"FROM res, unnest(generate_series(0, {PQ_M - 1})) AS s(i)), "
        "enc AS MATERIALIZED (SELECT vec_id, cell, sub, code FROM ("
        "SELECT subs.vec_id, subs.cell, subs.sub, rcb.code, row_number() OVER ("
        "PARTITION BY subs.vec_id, subs.sub ORDER BY "
        + l2.format(a="sv", b="cv")
        + " ASC, rcb.code ASC) AS rn FROM subs JOIN rcb ON subs.sub = rcb.sub) "
        "WHERE rn = 1), "
        f"q AS (SELECT vec_id AS query_id, v AS qv FROM c "
        f"WHERE vec_id % {N_QUERIES_MOD} = 0), "
        "probes AS MATERIALIZED (SELECT query_id, qv, cell FROM ("
        "SELECT q.query_id, q.qv, cents.cell, row_number() OVER (PARTITION BY "
        "q.query_id ORDER BY " + cos.format(a="q.qv", b="cents.cv")
        + f" DESC, cents.cell ASC) AS rn FROM q, cents) WHERE rn <= {IVF_NPROBE}), "
        "qr AS MATERIALIZED (SELECT p.query_id, p.cell, "
        "list_transform(list_zip(p.qv, t.cv), x -> x[1] - x[2]) AS qrv "
        "FROM probes p JOIN cents t ON p.cell = t.cell), "
        "dtab AS MATERIALIZED (SELECT query_id, cell, rcb.sub, rcb.code, "
        + l2.format(a="sv", b="cv")
        + " AS d FROM (SELECT query_id, cell, s.i AS sub, "
        f"qrv[(s.i * {dsub} + 1):(s.i * {dsub} + {dsub})] AS sv "
        f"FROM qr, unnest(generate_series(0, {PQ_M - 1})) AS s(i)) qs "
        "JOIN rcb ON qs.sub = rcb.sub), "
        "per AS (SELECT d.query_id, e.vec_id AS neighbor_id, "
        f"{dsums} FROM enc e JOIN dtab d ON e.cell = d.cell AND e.sub = d.sub "
        "AND e.code = d.code GROUP BY d.query_id, e.vec_id), "
        "ranked AS (SELECT query_id, neighbor_id, "
        f"round({adist}, 6) AS adist, row_number() OVER (PARTITION BY query_id "
        f"ORDER BY ({adist}) ASC, neighbor_id ASC) AS rn "
        "FROM per WHERE neighbor_id <> query_id) "
        f"SELECT query_id, neighbor_id, adist FROM ranked WHERE rn <= {TOPK}"
    )


ORACLES["simsearch_ivf_pq"] = _ivf_pq_oracle()


SEMDEDUP_THRESHOLD = 0.30  # same 99th-percentile radius as embed_neardup


def q_embed_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup drop list over the embeddings table: k-means cells bound the
    pair join, within-cell cosine ≥ τ against a lower id drops the vector
    (operators/similarity.semdedup). The oracle unrolls the identical Lloyd
    chain and applies the exact within-cell formulation."""
    from giranking_spark.operators.similarity import semdedup

    return semdedup(
        _embeddings(spark, sf_dir),
        SEMDEDUP_THRESHOLD,
        c=KMEANS_C,
        iters=KMEANS_ITERS,
    )


QUERIES["embed_semdedup"] = q_embed_semdedup


def _semdedup_oracle() -> str:
    cent = f"cent{KMEANS_ITERS}"
    base = _kmeans_oracle()
    ctes = base[len("WITH ") : base.rindex(" SELECT cell,")]
    return (
        "WITH " + ctes + ", "
        "assigned AS (SELECT vec_id, v, cell FROM ("
        "SELECT c.vec_id, c.v, t.cell, row_number() OVER (PARTITION BY c.vec_id "
        "ORDER BY (list_dot_product(c.v, t.cv) / (sqrt(list_dot_product(c.v, c.v)) * "
        f"sqrt(list_dot_product(t.cv, t.cv)))) DESC, t.cell ASC) AS rn FROM c, {cent} t) "
        "WHERE rn = 1), "
        "pairs AS (SELECT b.vec_id, a.vec_id AS dup_of, "
        "round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * "
        "sqrt(list_dot_product(b.v, b.v))), 6) AS cos "
        "FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id), "
        f"hits AS (SELECT * FROM pairs WHERE cos >= {SEMDEDUP_THRESHOLD}), "
        "ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id "
        "ORDER BY cos DESC, dup_of ASC) AS rn FROM hits) "
        "SELECT vec_id, dup_of, cos FROM ranked WHERE rn = 1"
    )


ORACLES["embed_semdedup"] = _semdedup_oracle()


#: target rows per SemDeDup cluster for the corpus-scaled variant —
#: the paper's own deployment rule (50k clusters for LAION ≈ n/1000):
#: c = max(KMEANS_C, |corpus| // 1000) keeps the within-cell pair
#: relation Σ|cell|² ≈ n·1000, linear in the corpus
SEMDEDUP_SCALE_TARGET = 1000


def q_embed_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the cluster count GROWN with the corpus (Abbas et
    al. 2023 §3 run 50k clusters on LAION precisely so cells stay ~1k
    vectors): c = max(KMEANS_C, |corpus| // SEMDEDUP_SCALE_TARGET) from
    one bounded count job, threaded through the whole Lloyd chain so no
    stage re-counts. Completes the corpus-scaled family (IVF r11, LSH
    r12): every fixed-partition ANN/dedup shape now has a linear-at-scale
    twin whose oracle derives the same parameter from count(*)."""
    from giranking_spark.operators.similarity import semdedup

    e = _embeddings(spark, sf_dir)
    n = e.count()
    c = max(KMEANS_C, n // SEMDEDUP_SCALE_TARGET)
    return semdedup(
        e, SEMDEDUP_THRESHOLD, c=c, iters=KMEANS_ITERS, corpus_count=n
    )


QUERIES["embed_semdedup_scaled"] = q_embed_semdedup_scaled
# identical to the embed_semdedup oracle except the Lloyd-init size is
# derived from the corpus count — c appears ONLY in cent0's LIMIT, so the
# same subquery-LIMIT rewrite as simsearch_ivf_scaled applies; raise (not
# assert) on base-text drift
if _semdedup_oracle().count(f"LIMIT {KMEANS_C})") != 1:
    raise RuntimeError(
        "embed_semdedup oracle text drifted: the scaled-variant rewrite "
        f"expects exactly one 'LIMIT {KMEANS_C})' site (cent0)"
    )
ORACLES["embed_semdedup_scaled"] = _semdedup_oracle().replace(
    f"LIMIT {KMEANS_C})",
    f"LIMIT (SELECT greatest({KMEANS_C}, count(*) // {SEMDEDUP_SCALE_TARGET}) "
    "FROM c))",
)


def q_simsearch_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: per-query recall@k of the two approximate
    paths (IVF, hyperplane-LSH) against the exact brute-force top-k — the
    measurement a production ANN deployment runs before trading exactness
    for the bucketed plans. (query_id, method, n_hit, recall); the exact
    ground-truth relation is persisted (three consumers: two semi-joins +
    the query list)."""
    from giranking_spark.operators.similarity import lsh_topk

    corpus, queries = _corpus_queries(spark, sf_dir)
    exact = brute_force_topk(corpus, queries, k=TOPK).select(
        "query_id", "neighbor_id"
    )
    with cached(exact):
        qids = exact.select("query_id").distinct()
        approx = {
            "ivf": ivf_topk(corpus, queries, c=IVF_CELLS, nprobe=IVF_NPROBE, k=TOPK),
            "lsh": lsh_topk(corpus, queries, k=TOPK),
        }
        outs = []
        for method, adf in approx.items():
            h = (
                adf.select("query_id", "neighbor_id")
                .join(exact, ["query_id", "neighbor_id"], "left_semi")
                .groupBy("query_id")
                .agg(F.count(F.lit(1)).alias("n_hit"))
            )
            outs.append(
                qids.join(h, "query_id", "left").select(
                    "query_id",
                    F.lit(method).alias("method"),
                    F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
                )
            )
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out.withColumn(
            "recall", F.round(F.col("n_hit") / F.lit(TOPK), 6)
        ).localCheckpoint()


QUERIES["simsearch_recall"] = q_simsearch_recall


def _recall_oracle() -> str:
    ex = ORACLES["simsearch_topk"]
    iv = ORACLES["simsearch_ivf"]
    ls = _lsh_oracle()

    def hits(name: str, sub: str) -> str:
        return (
            f"{name} AS (SELECT query_id, count(*) AS n FROM ("
            f"SELECT query_id, neighbor_id FROM ({sub}) "
            "INTERSECT SELECT query_id, neighbor_id FROM ex"
            ") GROUP BY query_id)"
        )

    def side(method: str, h: str) -> str:
        return (
            f"SELECT query_id, '{method}' AS method, "
            "CAST(coalesce(n, 0) AS BIGINT) AS n_hit, "
            f"round(coalesce(n, 0) / {TOPK}.0, 6) AS recall "
            f"FROM qs LEFT JOIN {h} USING (query_id)"
        )

    return (
        f"WITH ex AS (SELECT query_id, neighbor_id FROM ({ex})), "
        "qs AS (SELECT DISTINCT query_id FROM ex), "
        f"{hits('hi', iv)}, {hits('hl', ls)} "
        f"{side('ivf', 'hi')} UNION ALL {side('lsh', 'hl')}"
    )


ORACLES["simsearch_recall"] = _recall_oracle()


def q_simsearch_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVFADC path (simsearch_ivf_pq) against the exact
    brute-force top-k — the acceptance measurement run before shipping a
    compressed index: it quantifies what the residual-PQ approximation and
    the nprobe cell cut cost in answer quality. Same shape as
    simsearch_recall (query_id, n_hit, recall)."""
    from giranking_spark.operators.similarity import ivf_pq_topk

    corpus, queries = _corpus_queries(spark, sf_dir)
    exact = brute_force_topk(corpus, queries, k=TOPK).select(
        "query_id", "neighbor_id"
    )
    with cached(exact):
        approx = ivf_pq_topk(
            corpus, queries, c=IVF_CELLS, nprobe=IVF_NPROBE,
            m=PQ_M, ksub=PQ_KSUB, dim=PQ_DIM, k=TOPK,
        )
        hits = (
            approx.select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        qids = exact.select("query_id").distinct()
        return (
            qids.join(hits, "query_id", "left")
            .select(
                "query_id",
                F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            )
            .withColumn("recall", F.round(F.col("n_hit") / F.lit(TOPK), 6))
            .localCheckpoint()
        )


QUERIES["simsearch_ivfpq_recall"] = q_simsearch_ivfpq_recall


def _ivfpq_recall_oracle() -> str:
    ex = ORACLES["simsearch_topk"]
    ap = _ivf_pq_oracle()
    return (
        f"WITH ex AS (SELECT query_id, neighbor_id FROM ({ex})), "
        "qs AS (SELECT DISTINCT query_id FROM ex), "
        "h AS (SELECT query_id, count(*) AS n FROM ("
        f"SELECT query_id, neighbor_id FROM ({ap}) "
        "INTERSECT SELECT query_id, neighbor_id FROM ex"
        ") GROUP BY query_id) "
        "SELECT query_id, CAST(coalesce(n, 0) AS BIGINT) AS n_hit, "
        f"round(coalesce(n, 0) / {TOPK}.0, 6) AS recall "
        "FROM qs LEFT JOIN h USING (query_id)"
    )


ORACLES["simsearch_ivfpq_recall"] = _ivfpq_recall_oracle()


def q_embed_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function surface over the embedding column —
    `transform` / `filter` / `aggregate` lambdas run INSIDE codegen (no
    Python, no explode): positive-component count, L1 norm, and a clipped
    sum per vector.  Both engines fold left-to-right over the same element
    order, so the doubles agree bit-for-bit before the 6-decimal round."""
    emb = load_table(spark, sf_dir, "embeddings")
    as_d = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_pos"),
        F.round(
            F.aggregate(
                F.transform(as_d, F.abs), F.lit(0.0), lambda acc, x: acc + x
            ),
            6,
        ).alias("l1"),
        F.round(
            F.aggregate(
                F.transform(
                    as_d, lambda x: F.least(F.greatest(x, F.lit(-0.25)), F.lit(0.25))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("clip_sum"),
    )


QUERIES["embed_array_hof"] = q_embed_array_hof
ORACLES["embed_array_hof"] = (
    "SELECT vec_id, "
    "len(list_filter(embedding, x -> x > 0))::BIGINT AS n_pos, "
    "round(list_sum(list_transform(embedding, x -> abs(x::DOUBLE))), 6) AS l1, "
    "round(list_sum(list_transform(embedding, "
    "x -> least(greatest(x::DOUBLE, -0.25), 0.25))), 6) AS clip_sum "
    "FROM embeddings"
)


# ---------------------------------------------------------------------------
# PCA top component via exact integer Gram matrix + power iteration

PCA_QUANT = 1_000_000   # fixed-point scale: Gram sums become EXACT integers
PCA_ITERS = 3           # power-iteration steps (unrolled in the oracle)


def q_embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding store by power iteration —
    the dimensionality-reduction primitive behind whitening, PCA-based
    re-ranking, and spectral diagnostics of an embedding space.

    Scale shape: the only data-sized work is the Gram matrix X'X — a
    d²-term outer-product aggregation (one map-side-combinable groupBy of
    d² cells; d=64 → 4096 cells regardless of corpus size).  The power
    iteration then runs on the 4096-row Gram relation: each step is a
    matvec (join + groupBy over d² rows) and a broadcast one-row norm —
    constant-size work, no driver collect.  Embeddings are quantized to
    fixed-point BEFORE the Gram sums (the ``rel_regression`` trick), so
    the accumulated sums are exact integers and cross-engine float noise
    cannot enter until the (deterministic) iteration arithmetic.
    Starting vector: all-ones — sign and values deterministic."""
    emb = _embeddings(spark, sf_dir)
    qx = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).select(
        "vec_id",
        (F.col("i") + 1).alias("i"),
        F.round(F.col("x").cast("double") * PCA_QUANT).cast("long").alias("q"),
    )
    g = (
        qx.join(
            qx.select(
                "vec_id", F.col("i").alias("j"), F.col("q").alias("qj")
            ),
            "vec_id",
        )
        .groupBy("i", "j")
        .agg(F.sum(F.col("q") * F.col("qj")).alias("gv"))
    )
    with cached(g):
        v = g.select("i").distinct().select(
            F.col("i").alias("dim"), F.lit(1.0).alias("x")
        )
        for _ in range(PCA_ITERS):
            w = (
                g.join(v, g["j"] == v["dim"])
                .groupBy("i")
                .agg(F.sum(F.col("gv") * F.col("x")).alias("wx"))
            )
            nn = w.agg(F.sqrt(F.sum(F.col("wx") * F.col("wx"))).alias("nn"))
            v = w.crossJoin(F.broadcast(nn)).select(
                F.col("i").alias("dim"), (F.col("wx") / F.col("nn")).alias("x")
            )
        return v.select("dim", F.round("x", 6).alias("loading")).localCheckpoint()


QUERIES["embed_pca_power"] = q_embed_pca_power


def _pca_oracle() -> str:
    parts = [
        "qx AS (SELECT vec_id, i, "
        f"round(embedding[i]::DOUBLE * {PCA_QUANT})::BIGINT AS q "
        "FROM embeddings, "
        "unnest(generate_series(1, len(embedding))) AS t(i))",
        "g AS MATERIALIZED (SELECT a.i, b.i AS j, sum(a.q * b.q) AS gv "
        "FROM qx a JOIN qx b ON a.vec_id = b.vec_id GROUP BY a.i, b.i)",
        "v0 AS (SELECT DISTINCT i AS dim, 1.0::DOUBLE AS x FROM g)",
    ]
    prev = "v0"
    for s in range(1, PCA_ITERS + 1):
        parts.append(
            f"w{s} AS MATERIALIZED (SELECT g.i AS dim, "
            f"sum(g.gv * {prev}.x) AS wx "
            f"FROM g JOIN {prev} ON g.j = {prev}.dim GROUP BY g.i)"
        )
        parts.append(
            f"n{s} AS (SELECT sqrt(sum(wx * wx)) AS nn FROM w{s})"
        )
        parts.append(
            f"v{s} AS (SELECT dim, wx / nn AS x FROM w{s} CROSS JOIN n{s})"
        )
        prev = f"v{s}"
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT dim, round(x, 6) AS loading FROM {prev}"
    )


ORACLES["embed_pca_power"] = _pca_oracle()


# ---- Matryoshka (MRL) truncation recall ------------------------------------

MRL_DIMS = 16  # keep the first 16 of 64 dims (4x compute/memory cut)


def q_embed_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation truncation evaluation (Kusupati et al.
    2022, the public MRL trick vector stores use for cheap first-stage
    retrieval): keep only the first MRL_DIMS dimensions, run exact cosine
    top-k on the truncated vectors (cosine renormalizes implicitly), and
    measure per-query recall against the full-dimension ground truth.
    Output: (query_id, n_hit, recall).

    Scale shape: two brute-force passes of the documented broadcast
    query-set shape — the truncated pass reads 4x less vector data; the
    recall join is a (query_id, neighbor_id) equi semi-join."""
    def trunc(df):
        return df.withColumn("embedding", F.slice(F.col("embedding"), 1, MRL_DIMS))

    corpus, queries = _corpus_queries(spark, sf_dir)
    # k-row ground truth is eagerly checkpointed (three consumers; blocks
    # are freed with the DataFrame, unlike an unpersisted .persist())
    exact = (
        brute_force_topk(corpus, queries, k=TOPK)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    mrl = brute_force_topk(trunc(corpus), trunc(queries), k=TOPK).select(
        "query_id", "neighbor_id"
    )
    hits = (
        mrl.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / F.lit(TOPK), 6).alias("recall"),
        )
    )


QUERIES["embed_matryoshka"] = q_embed_matryoshka
ORACLES["embed_matryoshka"] = (
    "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    f"q AS (SELECT vec_id, v FROM c WHERE vec_id % {N_QUERIES_MOD} = 0), "
    "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
    "round(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * "
    "sqrt(list_dot_product(c.v, c.v))), 6) AS cos "
    "FROM q, c WHERE c.vec_id <> q.vec_id), "
    "exact AS (SELECT query_id, neighbor_id FROM (SELECT *, row_number() "
    "OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn "
    f"FROM scored) WHERE rn <= {TOPK}), "
    f"ct AS (SELECT vec_id, v[1:{MRL_DIMS}] AS v FROM c), "
    f"qt AS (SELECT vec_id, v FROM ct WHERE vec_id % {N_QUERIES_MOD} = 0), "
    "scoredt AS (SELECT qt.vec_id AS query_id, ct.vec_id AS neighbor_id, "
    "round(list_dot_product(qt.v, ct.v) / (sqrt(list_dot_product(qt.v, qt.v)) * "
    "sqrt(list_dot_product(ct.v, ct.v))), 6) AS cos "
    "FROM qt, ct WHERE ct.vec_id <> qt.vec_id), "
    "mrl AS (SELECT query_id, neighbor_id FROM (SELECT *, row_number() "
    "OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn "
    f"FROM scoredt) WHERE rn <= {TOPK}), "
    "hits AS (SELECT m.query_id, count(*) AS n_hit FROM mrl m "
    "JOIN exact e ON m.query_id = e.query_id "
    "AND m.neighbor_id = e.neighbor_id GROUP BY m.query_id) "
    "SELECT q.query_id, coalesce(h.n_hit, 0)::BIGINT AS n_hit, "
    f"round(coalesce(h.n_hit, 0) / {TOPK}.0, 6) AS recall "
    "FROM (SELECT DISTINCT query_id FROM exact) q "
    "LEFT JOIN hits h USING (query_id)"
)


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection

JL_P = 16       # target dimensionality
JL_DIM = 64     # fixture embedding dimensionality (matches LSH_DIM / PQ_DIM)


def q_embed_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection quality audit: project the 64-dim embeddings to
    JL_P dims with a deterministic ±1 (Achlioptas 2003) matrix — sign(i,j)
    from the portable md5 hash — and report, for every consecutive vector
    pair, the original distance, the projected distance (scaled by 1/√p),
    and their ratio: the distance-preservation guarantee the JL lemma
    promises, measured rather than assumed.

    Scale shape: one posexplode (dims are a constant 64×), a broadcast
    1024-row sign matrix join, and two per-pair aggregates — the corpus is
    touched once; nothing grows beyond |pairs| × (dims × p)."""
    from giranking_spark.functions.hashing import md5_u32

    emb = _embeddings(spark, sf_dir)
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).withColumn("x", F.col("x").cast("double"))
    a = x.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("pid"), "i", F.col("x").alias("xa")
    )
    b = x.filter(F.col("vec_id") % 2 == 1).select(
        (F.col("vec_id") - 1).alias("pid"), "i", F.col("x").alias("xb")
    )
    diff = a.join(b, ["pid", "i"]).select(
        "pid", "i", (F.col("xa") - F.col("xb")).alias("d")
    )
    dorig = diff.groupBy("pid").agg(
        F.sqrt(F.sum(F.col("d") * F.col("d"))).alias("d_orig")
    )
    signs = spark.range(JL_DIM * JL_P).select(
        (F.col("id") % JL_DIM).cast("int").alias("i"),
        F.expr(f"id div {JL_DIM}").cast("int").alias("j"),
        (
            F.lit(1)
            - F.lit(2)
            * (
                md5_u32(
                    F.concat_ws(
                        ":",
                        (F.col("id") % JL_DIM).cast("string"),
                        F.expr(f"id div {JL_DIM}").cast("string"),
                    )
                )
                % 2
            )
        ).alias("s"),
    )
    proj = (
        diff.join(F.broadcast(signs), "i")
        .groupBy("pid", "j")
        .agg(F.sum(F.col("s") * F.col("d")).alias("pj"))
    )
    dproj = proj.groupBy("pid").agg(
        F.sqrt(F.sum(F.col("pj") * F.col("pj")) / F.lit(float(JL_P))).alias(
            "d_proj"
        )
    )
    return dorig.join(dproj, "pid").select(
        F.col("pid").alias("id_a"),
        (F.col("pid") + 1).alias("id_b"),
        F.round("d_orig", 6).alias("d_orig"),
        F.round("d_proj", 6).alias("d_proj"),
        F.round(
            F.when(
                F.col("d_orig") > 0, F.col("d_proj") / F.col("d_orig")
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("jl_ratio"),
    )


from giranking_spark.functions.hashing import md5_u32_sql_duckdb as _mdd  # noqa: E402

_JL_SIGN = (
    "1 - 2 * (" + _mdd("i::VARCHAR || ':' || j::VARCHAR") + " % 2)"
)

QUERIES["embed_jl_projection"] = q_embed_jl_projection
ORACLES["embed_jl_projection"] = (
    "WITH x AS (SELECT vec_id, i - 1 AS i, "
    "CAST(embedding[i] AS DOUBLE) AS x FROM embeddings, "
    "unnest(generate_series(1, len(embedding))) AS t(i)), "
    "a AS (SELECT vec_id AS pid, i, x AS xa FROM x WHERE vec_id % 2 = 0), "
    "b AS (SELECT vec_id - 1 AS pid, i, x AS xb FROM x "
    "WHERE vec_id % 2 = 1), "
    "diff AS (SELECT pid, i, xa - xb AS d FROM a JOIN b USING (pid, i)), "
    "dorig AS (SELECT pid, sqrt(sum(d*d)) AS d_orig FROM diff "
    "GROUP BY pid), "
    f"signs AS (SELECT i, j, {_JL_SIGN} AS s FROM "
    f"(SELECT unnest(generate_series(0, {JL_DIM - 1})) AS i), "
    f"(SELECT unnest(generate_series(0, {JL_P - 1})) AS j)), "
    "proj AS (SELECT pid, j, sum(s * d) AS pj FROM diff "
    "JOIN signs USING (i) GROUP BY pid, j), "
    f"dproj AS (SELECT pid, sqrt(sum(pj*pj) / {float(JL_P)}) AS d_proj "
    "FROM proj GROUP BY pid) "
    "SELECT pid AS id_a, pid + 1 AS id_b, round(d_orig, 6) AS d_orig, "
    "round(d_proj, 6) AS d_proj, "
    "round(CASE WHEN d_orig > 0 THEN d_proj / d_orig ELSE 0.0 END, 6) "
    "AS jl_ratio FROM dorig JOIN dproj USING (pid)"
)


# ---- kNN graph construction -------------------------------------------------

#: neighbors per vertex in the kNN graph (shared Spark/oracle contract)
KNNG_K = 3


def q_embed_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN graph over the embedding store: per vector, its KNNG_K nearest
    same-label neighbors by exact cosine, plus the mutuality flag (edge
    (a,b) with (b,a) also a kNN edge) — the substrate graph for
    SemDeDup-style clustering, kNN-classification QC and connectivity
    audits of an embedding space.

    Scale shape (rewritten r10 after the second-decade measurement): the
    label is the blocking key (at cluster scale: an IVF cell id — same
    machinery, coarser key), and the per-block quadratic scoring runs as
    an Arrow-batched normalized GEMM (operators/similarity.py
    blocked_knn_candidates) that emits only a provable top-k candidate
    SUPERSET — the per-pair Column-expression join it replaces was
    |block|² Catalyst expression eval, 110 s at 10× rows and ~100× that
    at the next decade. The JVM then recomputes exact cosine on the
    ~V·(k+ties) candidates, so the final score/rank comparator (round 6,
    cos desc, nbr_id asc) is the SAME expression as before and the
    result is exactly the all-pairs answer (superset proof in the
    operator docstring); mutuality is a self semi-join of the bounded
    V·k-row edge list."""
    from pyspark.sql.window import Window as W

    from giranking_spark.operators.similarity import (
        blocked_knn_candidates,
        cosine,
    )

    e = _embeddings(spark, sf_dir).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    cand = blocked_knn_candidates(
        e, k=KNNG_K, id_col="vec_id", vec_col="v", block_col="label"
    )
    pairs = (
        cand.join(e.select("vec_id", "v"), "vec_id")
        .join(
            e.select(F.col("vec_id").alias("nbr_id"), F.col("v").alias("nv")),
            "nbr_id",
        )
        .select(
            "vec_id",
            "nbr_id",
            F.round(cosine(F.col("v"), F.col("nv")), 6).alias("cos"),
        )
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    knn = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNNG_K)
        .select("vec_id", "nbr_id", "cos")
    )
    rev = knn.select(
        F.col("nbr_id").alias("vec_id"), F.col("vec_id").alias("nbr_id")
    )
    return knn.join(rev, ["vec_id", "nbr_id"], "left_semi").select(
        "vec_id", "nbr_id", "cos", F.lit(True).alias("mutual")
    ).unionByName(
        knn.join(rev, ["vec_id", "nbr_id"], "left_anti").select(
            "vec_id", "nbr_id", "cos", F.lit(False).alias("mutual")
        )
    )


QUERIES["embed_knn_graph"] = q_embed_knn_graph
ORACLES["embed_knn_graph"] = (
    "WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v "
    "FROM embeddings), "
    "pairs AS (SELECT a.vec_id, b.vec_id AS nbr_id, "
    "round(list_dot_product(a.v, b.v) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), "
    "6) AS cos FROM e a JOIN e b ON a.label = b.label "
    "AND a.vec_id <> b.vec_id), "
    "knn AS (SELECT vec_id, nbr_id, cos FROM (SELECT *, row_number() OVER "
    "(PARTITION BY vec_id ORDER BY cos DESC, nbr_id ASC) AS rn FROM pairs) "
    f"WHERE rn <= {KNNG_K}) "
    "SELECT k.vec_id, k.nbr_id, k.cos, "
    "(r.vec_id IS NOT NULL) AS mutual FROM knn k "
    "LEFT JOIN knn r ON r.vec_id = k.nbr_id AND r.nbr_id = k.vec_id"
)


# ---- simplified silhouette score (centroid-based, exact integers) -----------

def q_embed_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label simplified silhouette (centroid-based: a(i) = squared
    distance to the own-label centroid, b(i) = min squared distance to any
    other label's centroid, s = (b−a)/max(a,b)) — the clustering-quality
    readout that tells an embedding-QC pipeline whether label structure
    actually separates in vector space. Centroid-based silhouette is the
    linear-time industry variant of the O(n²) original.

    Exact-parity construction: coordinates fix to integer micro-units;
    centroids are micro-rounded integer vectors (CAST(round(sum/cnt)) —
    a shared quantization contract, exact because sum and cnt are exact
    ints well under 2^53); every squared distance is then an exact BIGINT
    (diffs ≤ 4·10⁶, squared ≤ 1.6·10¹³, × dims ≪ 2^63), per-vector s
    fixes to micro-units before the mean — float accumulation order never
    appears anywhere. One posexplode aggregate for centroids (L·D rows),
    one broadcast join for distances."""
    e = _embeddings(spark, sf_dir).select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    dims = e.select(
        "vec_id", "label", F.posexplode("v").alias("d", "x")
    ).select(
        "vec_id", "label", "d",
        F.round(F.col("x") * 1000000.0, 0).cast("long").alias("xm"),
    )
    cent = dims.groupBy("label", "d").agg(
        F.round(F.sum("xm") / F.count(F.lit(1)), 0)
        .cast("long")
        .alias("mu")
    )
    c2 = cent.select(
        F.col("label").alias("clabel"), F.col("d").alias("cd"), "mu"
    )
    d2 = (
        dims.join(
            F.broadcast(c2), dims.d == c2.cd
        )
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(
                (F.col("xm") - F.col("mu")) * (F.col("xm") - F.col("mu"))
            ).cast("long").alias("dist2")
        )
    )
    own = d2.filter(F.col("label") == F.col("clabel")).select(
        "vec_id", "label", F.col("dist2").alias("a2")
    )
    other = (
        d2.filter(F.col("label") != F.col("clabel"))
        .groupBy("vec_id")
        .agg(F.min("dist2").alias("b2"))
    )
    s = own.join(other, "vec_id").select(
        "label",
        F.round(
            (F.col("b2") - F.col("a2"))
            / F.greatest("a2", "b2").cast("double")
            * 1000000.0,
            0,
        ).cast("long").alias("s_micro"),
    )
    return s.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(F.sum("s_micro") / F.count(F.lit(1)) / 1000000.0, 6).alias(
            "mean_silhouette"
        ),
    )


QUERIES["embed_silhouette"] = q_embed_silhouette
ORACLES["embed_silhouette"] = (
    "WITH dims AS (SELECT vec_id, label, d - 1 AS d, "
    "CAST(round(x * 1000000.0, 0) AS BIGINT) AS xm FROM (SELECT vec_id, "
    "label, unnest(embedding::DOUBLE[]) AS x, generate_subscripts("
    "embedding, 1) AS d FROM embeddings)), "
    "cent AS (SELECT label, d, CAST(round(sum(xm) / count(*), 0) AS BIGINT) "
    "AS mu FROM dims GROUP BY 1, 2), "
    "d2 AS (SELECT dims.vec_id, dims.label, cent.label AS clabel, "
    "CAST(sum((xm - mu) * (xm - mu)) AS BIGINT) AS dist2 "
    "FROM dims JOIN cent ON dims.d = cent.d GROUP BY 1, 2, 3), "
    "own AS (SELECT vec_id, label, dist2 AS a2 FROM d2 "
    "WHERE label = clabel), "
    "other AS (SELECT vec_id, min(dist2) AS b2 FROM d2 "
    "WHERE label <> clabel GROUP BY 1), "
    "s AS (SELECT own.label, CAST(round((b2 - a2) / "
    "(greatest(a2, b2) * 1e0) * 1000000.0, 0) AS BIGINT) AS s_micro "
    "FROM own JOIN other ON own.vec_id = other.vec_id) "
    "SELECT label, count(*)::BIGINT AS n_vecs, "
    "round(sum(s_micro) / count(*) / 1000000.0, 6) AS mean_silhouette "
    "FROM s GROUP BY label"
)


# ---- centroid drift between corpus snapshots --------------------------------

def q_embed_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between two corpus snapshots (vec_id
    parity split — the A/B the fixture affords): RMS displacement of the
    micro-int centroid per label — the embedding-space drift monitor a
    retraining pipeline alarms on. Same exact-integer quantization
    contract as embed_silhouette: micro-rounded centroids, exact-BIGINT
    squared displacement, one division at the end."""
    e = _embeddings(spark, sf_dir).select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    dims = e.select(
        (F.col("vec_id") % 2 == 0).alias("snap_a"),
        "label",
        F.posexplode("v").alias("d", "x"),
    ).select(
        "snap_a", "label", "d",
        F.round(F.col("x") * 1000000.0, 0).cast("long").alias("xm"),
    )
    cent = dims.groupBy("snap_a", "label", "d").agg(
        F.round(F.sum("xm") / F.count(F.lit(1)), 0).cast("long").alias("mu"),
    )
    a = cent.filter(F.col("snap_a")).select(
        "label", "d", F.col("mu").alias("mu_a")
    )
    b = cent.filter(~F.col("snap_a")).select(
        "label", "d", F.col("mu").alias("mu_b")
    )
    counts = e.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("vec_id") % 2 == 0, 0).otherwise(1))
        .cast("long")
        .alias("n_b"),
    )
    drift = a.join(b, ["label", "d"]).groupBy("label").agg(
        F.sum(
            (F.col("mu_a") - F.col("mu_b")) * (F.col("mu_a") - F.col("mu_b"))
        ).cast("long").alias("drift2_micro"),
        F.count(F.lit(1)).cast("long").alias("n_dims"),
    )
    return drift.join(counts, "label").select(
        "label",
        "n_a",
        "n_b",
        "drift2_micro",
        F.round(
            F.sqrt(F.col("drift2_micro") / F.col("n_dims").cast("double"))
            / 1000000.0,
            6,
        ).alias("rms_drift"),
    )


QUERIES["embed_centroid_drift"] = q_embed_centroid_drift
ORACLES["embed_centroid_drift"] = (
    "WITH dims AS (SELECT vec_id % 2 = 0 AS snap_a, label, d - 1 AS d, "
    "CAST(round(x * 1000000.0, 0) AS BIGINT) AS xm FROM (SELECT vec_id, "
    "label, unnest(embedding::DOUBLE[]) AS x, "
    "generate_subscripts(embedding, 1) AS d FROM embeddings)), "
    "cent AS (SELECT snap_a, label, d, "
    "CAST(round(sum(xm) / count(*), 0) AS BIGINT) AS mu "
    "FROM dims GROUP BY 1, 2, 3), "
    "a AS (SELECT label, d, mu AS mu_a FROM cent WHERE snap_a), "
    "b AS (SELECT label, d, mu AS mu_b FROM cent WHERE NOT snap_a), "
    "counts AS (SELECT label, "
    "CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, "
    "CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b "
    "FROM embeddings GROUP BY 1), "
    "drift AS (SELECT a.label, "
    "CAST(sum((mu_a - mu_b) * (mu_a - mu_b)) AS BIGINT) AS drift2_micro, "
    "count(*)::BIGINT AS n_dims FROM a JOIN b ON a.label = b.label "
    "AND a.d = b.d GROUP BY 1) "
    "SELECT drift.label, n_a, n_b, drift2_micro, "
    "round(sqrt(drift2_micro / (n_dims * 1e0)) / 1000000.0, 6) AS rms_drift "
    "FROM drift JOIN counts ON drift.label = counts.label"
)


# ---- maximum-inner-product search -------------------------------------------

MIPS_K = 5


def q_simsearch_maxdot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product top-k (MIPS) — the retrieval objective of
    recommender and reranker embeddings, where norm matters and cosine is
    the WRONG metric: per query vector, the MIPS_K corpus vectors with
    the largest raw dot product. Brute-force exact baseline in the same
    bucketed-GEMM shape as brute_force_topk (r10: the |C|x|Q| crossJoin
    of per-pair Column dots is quadratic once |Q| samples the corpus —
    metric="dot" skips the normalization, everything else is the shared
    candidate machinery); dots round to 6 before the deterministic
    (dot desc, neighbor asc) rank so tie order is engine-identical, and
    the JVM recomputes the exact rounded dot on candidates so the oracle
    is untouched."""
    from giranking_spark.operators.similarity import (
        GEMM_BUCKETS,
        _dot,
        bucket_for_gemm,
        gemm_topk_candidates,
    )
    from pyspark.sql.window import Window as W

    corpus, queries = _corpus_queries(spark, sf_dir)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    cbk, qbk = bucket_for_gemm(
        c, q.withColumnRenamed("query_id", "qid"),
        buckets=GEMM_BUCKETS, id_col="neighbor_id",
    )
    cand = gemm_topk_candidates(
        cbk,
        qbk,
        k=MIPS_K,
        metric="dot",
        id_col="neighbor_id",
        vec_col="cv",
        qid_col="qid",
        qvec_col="qv",
    ).withColumnRenamed("qid", "query_id")
    scored = (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("qv"), F.col("cv")), 6).alias("dot"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MIPS_K)
        .select("query_id", "neighbor_id", "dot")
    )


QUERIES["simsearch_maxdot"] = q_simsearch_maxdot
ORACLES["simsearch_maxdot"] = (
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    f"q AS (SELECT vec_id, v FROM e WHERE vec_id % {N_QUERIES_MOD} = 0), "
    "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
    "round(list_dot_product(q.v, c.v), 6) AS dot FROM e c, q "
    "WHERE c.vec_id <> q.vec_id) "
    "SELECT query_id, neighbor_id, dot FROM (SELECT *, row_number() OVER "
    "(PARTITION BY query_id ORDER BY dot DESC, neighbor_id ASC) AS rn "
    f"FROM scored) WHERE rn <= {MIPS_K}"
)


# ---- ANN recall@k evaluation --------------------------------------------------
#
# One recall gate per ANN family (r12 verdict: "a scaled ANN row without
# its recall is half a measurement"): each key joins two already-oracled
# result sets — the exact brute-force top-k and one approximate retrieval —
# and reports the (n_queries, k, mean_recall, n_perfect) summary. Counts
# are exact BIGINTs, one division at the end.


def _recall_summary(exact: DataFrame, ann: DataFrame) -> DataFrame:
    """(n_queries, k, mean_recall, n_perfect) of ``ann`` vs the ``exact``
    ground truth; both are (query_id, neighbor_id) relations."""
    # cache the (tiny) pair lists: ``exact`` is referenced by the
    # semi-join AND the per-query count, so the brute-force GEMM top-k
    # behind it executed twice per recall gate (r13; ReusedExchange does
    # not fire across the aggregate/join split — same pattern as
    # dedup_recall_eval). Eager .localCheckpoint() of the pair lists was
    # measured ~20% slower. A caller's own cache of either is left alone.
    with cached(exact, ann):
        hits = exact.join(ann, ["query_id", "neighbor_id"], "left_semi")
        per_q = (
            exact.groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
            .join(
                hits.groupBy("query_id").agg(
                    F.count(F.lit(1)).cast("long").alias("n_hit")
                ),
                "query_id",
                "left",
            )
            .select(
                "query_id",
                "n_exact",
                F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            )
        )
        return per_q.groupBy().agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.lit(TOPK).cast("long").alias("k"),
            F.round(
                F.sum("n_hit") / F.sum("n_exact").cast("double"), 6
            ).alias("mean_recall"),
            F.sum(
                F.when(F.col("n_hit") == F.col("n_exact"), 1).otherwise(0)
            ).cast("long").alias("n_perfect"),
        ).localCheckpoint()


def _recall_summary_oracle(ann_sql: str, neighbor_col: str = "neighbor_id") -> str:
    """Composed-oracle mirror of :func:`_recall_summary`: the exact side is
    the already-oracled simsearch_topk text, the ann side any oracled
    retrieval (``neighbor_col`` names its neighbor column)."""
    return (
        "WITH exact AS (SELECT query_id, neighbor_id FROM ("
        + ORACLES["simsearch_topk"]
        + f")), ann AS (SELECT query_id, {neighbor_col} AS neighbor_id FROM ("
        + ann_sql
        + ")), "
        "hits AS (SELECT exact.query_id, exact.neighbor_id FROM exact "
        "SEMI JOIN ann ON exact.query_id = ann.query_id "
        "AND exact.neighbor_id = ann.neighbor_id), "
        "per_q AS (SELECT e.query_id, count(*)::BIGINT AS n_exact, "
        "(SELECT count(*) FROM hits h WHERE h.query_id = e.query_id)::BIGINT "
        "AS n_hit FROM exact e GROUP BY 1) "
        f"SELECT count(*)::BIGINT AS n_queries, {TOPK}::BIGINT AS k, "
        "round(CAST(sum(n_hit) AS BIGINT) / (sum(n_exact) * 1e0), 6) "
        "AS mean_recall, "
        "CAST(sum(CASE WHEN n_hit = n_exact THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_perfect FROM per_q"
    )


def q_embed_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the fixed-shape IVF path (c=8, nprobe=2 — the fixture
    baseline) against the exact brute-force top-k. This is the
    measurement that motivated the multi-probe production point: ~0.5 at
    sf0.1 (see embed_recall_ivf_scaled for the production number)."""
    from giranking_spark.operators.similarity import brute_force_topk, ivf_topk

    corpus, queries = _corpus_queries(spark, sf_dir)
    exact = brute_force_topk(corpus, queries, k=TOPK).select(
        "query_id", "neighbor_id"
    )
    ann = ivf_topk(corpus, queries, c=IVF_CELLS, nprobe=IVF_NPROBE, k=TOPK).select(
        "query_id", "neighbor_id"
    )
    return _recall_summary(exact, ann)


def q_embed_recall_ivf_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the corpus-scaled multi-probe IVF path (cells =
    |C|/1024, nprobe=16 — the production operating point): measured 1.0 at
    sf0.1 (16 probes cover all 8 cells there), 0.98/0.95 at 10/50 signflip
    copies where nprobe < cells."""
    from giranking_spark.operators.similarity import brute_force_topk, ivf_topk

    corpus, queries = _corpus_queries(spark, sf_dir)
    exact = brute_force_topk(corpus, queries, k=TOPK).select(
        "query_id", "neighbor_id"
    )
    n = corpus.count()
    c = max(IVF_CELLS, n // IVF_SCALE_TARGET)
    ann = ivf_topk(
        corpus, queries, c=c, nprobe=IVF_SCALE_NPROBE, k=TOPK, corpus_count=n
    ).select("query_id", "neighbor_id")
    return _recall_summary(exact, ann)


def q_embed_recall_lsh_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the corpus-scaled multi-probe sign-LSH path against the
    exact brute-force top-k — the quality gate that must accompany any
    scaled ANN variant (growing buckets with the corpus changes recall,
    and a deployment needs the number, not the hope). Measured 0.905 at
    sf0.1 with LSH_PROBE_FLIPS=3 (0.505 single-probe)."""
    from giranking_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        scaled_lsh_rows,
    )

    corpus, queries = _corpus_queries(spark, sf_dir)
    exact = brute_force_topk(corpus, queries, k=TOPK).select(
        "query_id", "neighbor_id"
    )
    n = corpus.count()
    rows = scaled_lsh_rows(n, LSH_ROWS, LSH_ROWS_MAX, LSH_SCALE_TARGET)
    ann = lsh_topk(
        corpus, queries, bands=LSH_BANDS, rows=rows, k=TOPK,
        dim=LSH_DIM, seed=LSH_SEED, stride=LSH_ROWS_MAX, corpus_count=n,
        flips=LSH_PROBE_FLIPS,
    ).select("query_id", "neighbor_id")
    return _recall_summary(exact, ann)


def q_embed_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the PQ-ADC compressed-index path vs the exact top-k —
    quantization distortion is the only recall loss here (PQ scores every
    vector, so this isolates code-length quality from probe coverage)."""
    from giranking_spark.operators.similarity import brute_force_topk, pq_topk

    corpus, queries = _corpus_queries(spark, sf_dir)
    exact = brute_force_topk(corpus, queries, k=TOPK).select(
        "query_id", "neighbor_id"
    )
    ann = pq_topk(corpus, queries, m=PQ_M, ksub=PQ_KSUB, dim=PQ_DIM, k=TOPK).select(
        "query_id", "neighbor_id"
    )
    return _recall_summary(exact, ann)


def q_embed_recall_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the sign-bit (1-bit) Hamming top-k vs the exact cosine
    top-k — what the 32x memory cut costs in answer quality."""
    from giranking_spark.operators.similarity import brute_force_topk

    corpus, queries = _corpus_queries(spark, sf_dir)
    exact = brute_force_topk(corpus, queries, k=TOPK).select(
        "query_id", "neighbor_id"
    )
    ann = q_simsearch_binary(spark, sf_dir).select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    )
    return _recall_summary(exact, ann)


QUERIES["embed_recall_at_k"] = q_embed_recall_at_k
ORACLES["embed_recall_at_k"] = _recall_summary_oracle(ORACLES["simsearch_ivf"])

QUERIES["embed_recall_ivf_scaled"] = q_embed_recall_ivf_scaled
ORACLES["embed_recall_ivf_scaled"] = _recall_summary_oracle(
    ORACLES["simsearch_ivf_scaled"]
)

QUERIES["embed_recall_lsh_scaled"] = q_embed_recall_lsh_scaled
ORACLES["embed_recall_lsh_scaled"] = _recall_summary_oracle(
    ORACLES["simsearch_lsh_scaled"]
)

QUERIES["embed_recall_pq"] = q_embed_recall_pq
ORACLES["embed_recall_pq"] = _recall_summary_oracle(ORACLES["simsearch_pq"])

QUERIES["embed_recall_binary"] = q_embed_recall_binary
ORACLES["embed_recall_binary"] = _recall_summary_oracle(
    _BINARY_SQL, neighbor_col="vec_id"
)


# ---- embedding norm QC -----------------------------------------------------------

def q_embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm distribution of the embedding corpus per label — the
    ingest QC that catches unnormalized batches, dead vectors, and
    mixed-model contamination before any similarity math runs. Squared
    norms are computed in integer micro-units (each component quantized to
    1e3 micro before the self-dot), so sums are exact BIGINTs; the
    per-label mean/min/max divide and root once."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.expr("transform(embedding, x -> cast(round(x * 1e3) as bigint))"),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v * v,
    )
    per = emb.select("label", sq.alias("sq2_micro"))
    return per.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.min("sq2_micro").alias("min_sq2_micro"),
        F.max("sq2_micro").alias("max_sq2_micro"),
        F.round(
            F.expr("sqrt(avg(sq2_micro * 1e0)) / 1e3"), 6
        ).alias("rms_norm"),
    )


QUERIES["embed_norm_stats"] = q_embed_norm_stats
ORACLES["embed_norm_stats"] = (
    "WITH per AS (SELECT label, "
    "CAST(list_sum(list_transform(embedding, "
    "x -> CAST(round(x * 1e3) AS BIGINT) * CAST(round(x * 1e3) AS BIGINT))) "
    "AS BIGINT) AS sq2_micro FROM embeddings) "
    "SELECT label, count(*)::BIGINT AS n_vectors, "
    "min(sq2_micro) AS min_sq2_micro, max(sq2_micro) AS max_sq2_micro, "
    "round(sqrt(avg(sq2_micro * 1e0)) / 1e3, 6) AS rms_norm "
    "FROM per GROUP BY 1"
)


# ---- corpus-wide batch kNN join (r10) ---------------------------------------

KNN_JOIN_K = 3


def q_simsearch_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN JOIN: every corpus vector against the WHOLE corpus — its
    KNN_JOIN_K nearest neighbors by exact cosine, no label/cell blocking
    and no sampled query set. This is the canonical kNN-join operator
    (corpus-wide kNN graphs, label propagation, global near-dup audits)
    and it is exactly the workload the r10 GEMM stage exists for: |Q| =
    |C|, so the scored relation is |C|² — 4·10¹⁰ pairs at sf10, which no
    per-pair Column-expression plan survives. brute_force_topk's bucketed
    GEMM runs it as |C|²/B-flop blocks with only ~k+ties candidate rows
    per (vector, bucket) reaching the JVM re-rank."""
    e = _embeddings(spark, sf_dir)
    return brute_force_topk(e, e, k=KNN_JOIN_K)


QUERIES["simsearch_knn_join"] = q_simsearch_knn_join
ORACLES["simsearch_knn_join"] = (
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
    "round(list_dot_product(q.v, c.v) / "
    "(sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))"
    ", 6) AS cos FROM e q JOIN e c ON q.vec_id <> c.vec_id) "
    "SELECT query_id, neighbor_id, cos FROM (SELECT *, row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn "
    f"FROM scored) WHERE rn <= {KNN_JOIN_K}"
)


# ---- IVF index balance QC (r10) ----------------------------------------------


def q_embed_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index balance report: per cell, member count, corpus share and
    the imbalance ratio vs a perfectly even split — the QC a production
    ANN deployment checks before shipping an index (one hot cell means
    one hot probe task; FAISS's imbalance_factor). Uses the same k-means
    quantizer chain as simsearch_ivf_kmeans so the report describes the
    index the search path actually probes."""
    from giranking_spark.operators.similarity import (
        ivf_assign,
        kmeans_centroids,
    )

    e = _embeddings(spark, sf_dir)
    cents = kmeans_centroids(e, c=KMEANS_C, iters=KMEANS_ITERS)
    assigned = ivf_assign(e, cents, cells_count=KMEANS_C)
    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    # corpus total as a broadcast 1-row aggregate (no driver collect)
    total = counts.agg(F.sum("n_vectors").alias("__t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "cell",
            "n_vectors",
            F.round(F.col("n_vectors") / F.col("__t"), 6).alias("frac"),
            F.round(
                F.col("n_vectors") * F.lit(KMEANS_C) / F.col("__t"), 6
            ).alias("imbalance"),
        )
    )


QUERIES["embed_ivf_cells"] = q_embed_ivf_cells


def _ivf_cells_oracle() -> str:
    """Cell-count tail over the k-means centroid CTE chain — the same
    final assignment as _ivf_kmeans_oracle, aggregated per cell."""
    cent = f"cent{KMEANS_ITERS}"
    base = _kmeans_oracle()
    ctes = base[len("WITH ") : base.rindex(" SELECT cell,")]
    return (
        "WITH " + ctes + ", "
        "assigned AS (SELECT vec_id, cell FROM ("
        "SELECT c.vec_id, t.cell, row_number() OVER (PARTITION BY c.vec_id "
        "ORDER BY (list_dot_product(c.v, t.cv) / (sqrt(list_dot_product(c.v, c.v)) * "
        f"sqrt(list_dot_product(t.cv, t.cv)))) DESC, t.cell ASC) AS rn FROM c, {cent} t) "
        "WHERE rn = 1), "
        "counts AS (SELECT cell, count(*)::BIGINT AS n_vectors FROM assigned GROUP BY cell), "
        "tot AS (SELECT sum(n_vectors) AS t FROM counts) "
        "SELECT cell, n_vectors, round(n_vectors / t, 6) AS frac, "
        f"round(n_vectors * {KMEANS_C} / t, 6) AS imbalance FROM counts, tot"
    )


ORACLES["embed_ivf_cells"] = _ivf_cells_oracle()
