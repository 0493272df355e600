"""Retrieval / training-prep queries: BM25, hybrid lexical+vector fusion,
BPE merge-step pair counting, deterministic corpus shuffle, bloom-filtered
join.

These extend the LLM-data-pipeline surface (brief: dedup / similarity /
text analysis are first-class): BM25 is the standard lexical ranker for
retrieval-based data curation, RRF is the textbook fusion of a lexical and
a vector ranker (Cormack et al., SIGIR'09), the BPE pair count is one
tokenizer-training merge step (Sennrich et al., ACL'16), and the shuffle /
bloom ops are the bread-and-butter of shard assembly at 100 TB.

Everything is JVM-side Column algebra; the DuckDB oracles mirror the exact
formulas (scores rounded to 6 decimals on both sides, ranks cut on the
rounded score with an id tiebreak so the top-k boundary is engine-stable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from giranking_spark.cache import cached
from giranking_spark.functions.hashing import md5_u32, md5_u60, md5_u60_sql_duckdb
from giranking_spark.queries.textq import WORDS_SQL
from giranking_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# BM25

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
#: fixed query term sets (vocabulary of the synthetic documents table)
BM25_QUERIES: dict[int, list[str]] = {
    0: ["spark", "join", "merge"],
    1: ["table", "scan", "filter"],
    2: ["stream", "window", "batch"],
}


def _tf_dl(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(doc_id, word, tf) and (doc_id, dl) over the documents table, lazy.

    Callers cache both for the query: the BM25 dataflow references tf three
    times (per-term scores, document frequency, query-term extraction) and
    dl three times (join, avgdl, N) — without the cache the tokenize +
    explode lineage re-executes per reference (measured 26.7 s → ~8 s at
    sf0.1)."""
    from giranking_spark.operators.dedup import shingle_rows

    docs = load_table(spark, sf_dir, "documents")
    wx = shingle_rows(docs, 1).select(
        F.col("id").alias("doc_id"), F.col("shingle").alias("word")
    )
    tf = wx.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dl = wx.groupBy("doc_id").agg(F.count(F.lit(1)).cast("double").alias("dl"))
    return tf, dl


def _bm25_scores(
    tf: DataFrame, dl: DataFrame, n_docs: DataFrame, qterms: DataFrame
) -> DataFrame:
    """Σ_t idf·tf-sat per (query_id, doc_id). ``qterms``: (query_id, word),
    assumed small (broadcast). df rides on the pruned tf relation — document
    frequency is only computed for query words, never the full vocabulary."""
    qwords = qterms.select("word").distinct()
    qtf = tf.join(F.broadcast(qwords), "word")
    df = qtf.groupBy("word").agg(F.count(F.lit(1)).cast("double").alias("df"))
    avg = dl.agg(F.avg("dl").alias("avgdl"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    sat = (F.col("tf") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
    )
    return (
        qtf.join(F.broadcast(qterms), "word")
        .join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avg))
        .crossJoin(F.broadcast(n_docs))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * sat), 6).alias("bm25"))
    )


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents per fixed query. One fan-out + two groupBys;
    df/avgdl/N are broadcast single-row (or tiny) aggregates — at 100 TB the
    only big shuffle is the (doc_id, word) term count, and it is pruned to
    query words BEFORE the join fan-in."""
    with cached(*_tf_dl(spark, sf_dir)) as (tf, dl):
        n_docs = dl.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
        qterms = spark.createDataFrame(
            [(q, t) for q, ts in BM25_QUERIES.items() for t in ts],
            "query_id int, word string",
        )
        scored = _bm25_scores(tf, dl, n_docs, qterms)
        w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("doc_id"))
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= BM25_TOPK)
            .select("query_id", "doc_id", "bm25")
        ).localCheckpoint()


# ---------------------------------------------------------------------------
# hybrid lexical + vector fusion (reciprocal rank fusion)

RRF_K = 60
RRF_POOL = 50       # per-ranker candidate pool
RRF_TOPK = 10
RRF_QUERY_MOD = 100  # query docs: doc_id % 100 == 0 (doc_id ≡ vec_id)


def q_search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-like-this hybrid retrieval: for each query document, fuse a
    lexical ranking (BM25 of the query doc's own terms) with a vector
    ranking (embedding cosine) via reciprocal rank fusion
    rrf = Σ 1/(60 + rank). Each ranker contributes its top-``RRF_POOL``;
    absent rankers contribute 0. Both rankers are rank-cut on the ROUNDED
    score with a doc_id tiebreak, so the fused output is engine-stable."""
    from giranking_spark.operators.similarity import brute_force_topk

    with cached(*_tf_dl(spark, sf_dir)) as (tf, dl):
        n_docs = dl.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
        qterms = (
            tf.filter(F.col("doc_id") % RRF_QUERY_MOD == 0)
            .select(F.col("doc_id").alias("query_id"), "word")
            .distinct()
        )
        lex = _bm25_scores(tf, dl, n_docs, qterms).filter(
            F.col("doc_id") != F.col("query_id")
        )
        wl = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("doc_id"))
        lex_rank = (
            lex.withColumn("lex_rank", F.row_number().over(wl))
            .filter(F.col("lex_rank") <= RRF_POOL)
            .select("query_id", "doc_id", "lex_rank")
        )

        emb = load_table(spark, sf_dir, "embeddings")
        vec = brute_force_topk(
            emb, emb.filter(F.col("vec_id") % RRF_QUERY_MOD == 0), k=RRF_POOL
        )
        wv = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
        vec_rank = vec.select(
            "query_id",
            F.col("neighbor_id").alias("doc_id"),
            F.row_number().over(wv).alias("vec_rank"),
        )

        fused = (
            lex_rank.join(vec_rank, ["query_id", "doc_id"], "full_outer")
            .select(
                "query_id",
                "doc_id",
                F.round(
                    F.coalesce(1.0 / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
                    + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0)),
                    6,
                ).alias("rrf"),
            )
        )
        wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
        return (
            fused.withColumn("__rn", F.row_number().over(wf))
            .filter(F.col("__rn") <= RRF_TOPK)
            .select("query_id", "doc_id", "rrf")
        ).localCheckpoint()


# ---------------------------------------------------------------------------
# BPE merge step (tokenizer training)

BPE_TOP_PAIRS = 20


def q_text_bpe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training merge step: count adjacent symbol pairs over the
    corpus at the character level, weighted by word frequency, and emit the
    top-``BPE_TOP_PAIRS`` candidate merges. The pair scan runs over the
    DISTINCT-word vocabulary (the classic trainer optimization — corpus
    occurrences ride as a frequency weight), so the fan-out is
    O(vocab · word_len), not O(corpus tokens)."""
    from giranking_spark.operators.dedup import shingle_rows

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        shingle_rows(docs, 1)
        .select(F.col("shingle").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # length >= 2 guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) for
    # single-char words, which would fabricate 1-char "pairs"
    pairs = vocab.filter(F.length("word") > 1).select(
        "freq",
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(F.sum("freq").alias("cnt"))
    # global top-k via TakeOrderedAndProject (per-partition top-k + merge) —
    # no single-partition window
    return counts.orderBy(F.desc("cnt"), F.asc("pair")).limit(BPE_TOP_PAIRS)


# ---------------------------------------------------------------------------
# deterministic corpus shuffle + shard assignment

SHUF_SEED = "shuf1337:"
SHUF_SHARDS = 32


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order: every document gets
    a pseudo-random (but reproducible) shard and position from a keyed hash
    — the standard 'shuffle once, read sequentially' layout for training
    shards. Shards are the parallel unit: the position window partitions by
    shard, so one task sorts one shard (at 100 TB you pick SHUF_SHARDS ≈
    shard-file count, thousands, keeping each sort in-memory)."""
    docs = load_table(spark, sf_dir, "documents")
    h = md5_u60(F.concat(F.lit(SHUF_SEED), F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", h.alias("h"))
        .withColumn("shard", (F.col("h") % SHUF_SHARDS).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


# ---------------------------------------------------------------------------
# bloom-filtered semi-join (runtime-filter pattern)

BLOOM_BITS = 1024
BLOOM_WORD = 32  # bits per word → masks stay < 2^32, sign-safe in both engines
BLOOM_ACCTBAL = 9000.0


def _bloom_pos(tag: str, key) -> F.Column:
    return md5_u32(F.concat(F.lit(tag), key.cast("string"))) % BLOOM_BITS


def q_rel_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders placed by high-balance customers, via an explicit bloom
    runtime filter: the dim-side key set (customers with acctbal >
    ``BLOOM_ACCTBAL``) is folded into a 1024-bit bloom (two md5 hash
    functions, bit_or aggregation), broadcast, and applied to the fact scan
    BEFORE the exact left-semi join — the pattern that turns a
    full-fact-table shuffle into a pre-filtered one at 100 TB (Spark's own
    AQE runtime filters do this implicitly; here it is explicit and
    testable). The bloom only prunes; the semi join keeps exactness, so the
    oracle is the plain semi-join aggregate."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > BLOOM_ACCTBAL
    )
    keys = cust.select(F.col("c_custkey").alias("key"))
    p1, p2 = _bloom_pos("b1:", F.col("key")), _bloom_pos("b2:", F.col("key"))
    # bloom as a single-row word→bits MAP: explode the two bit positions,
    # bit_or per 32-bit word (≤32 groups), fold into one map row. Wholly
    # distributed; the map (≤32 entries) is the only thing broadcast.
    # 2^bit via pow — exact for bit < 32 (F.shiftleft only takes literal
    # shift amounts, the bit position here is a column).
    bloom = (
        keys.select(F.explode(F.array(p1, p2)).alias("p"))
        .select(
            F.floor(F.col("p") / BLOOM_WORD).cast("int").alias("word"),
            F.pow(F.lit(2.0), F.col("p") % BLOOM_WORD).cast("bigint").alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word", "bits"))
            ).alias("bloom")
        )
    )

    orders = load_table(spark, sf_dir, "orders")
    f1 = _bloom_pos("b1:", F.col("o_custkey"))
    f2 = _bloom_pos("b2:", F.col("o_custkey"))

    def _bit(p) -> F.Column:
        # absent word key → element_at returns NULL → predicate false →
        # row pruned, which is exactly bloom semantics (no key hashed there)
        val = F.element_at(F.col("bloom"), F.floor(p / BLOOM_WORD).cast("int"))
        return F.floor(val / F.pow(F.lit(2.0), p % BLOOM_WORD)).cast("bigint") % 2

    pruned = (
        orders.join(F.broadcast(bloom))
        .filter((_bit(f1) == 1) & (_bit(f2) == 1))
        .select("o_custkey", "o_orderpriority", "o_totalprice")
    )
    exact = pruned.join(
        F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"))),
        "o_custkey",
        "left_semi",
    )
    # revenue in integer cents: per-row double→cents rounding is
    # deterministic in both engines, and the BIGINT sum is order-independent
    # — no float-boundary flip risk at any SF
    return exact.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "revenue_cents"
        ),
    )


# ---------------------------------------------------------------------------
# oracles

_TF_CTE = (
    f"w AS (SELECT doc_id, {WORDS_SQL} AS words FROM documents), "
    "wx AS (SELECT doc_id, unnest(words) AS word FROM w), "
    "tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf FROM wx GROUP BY doc_id, word), "
    "dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM wx GROUP BY doc_id), "
    "stats AS (SELECT avg(dl) AS avgdl, count(*)::DOUBLE AS n_docs FROM dl)"
)

_BM25_EXPR = (
    "ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)) * "
    f"(tf.tf * {BM25_K1 + 1.0}) / "
    f"(tf.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl.dl / stats.avgdl))"
)


def _bm25_cte(qterms_sql: str) -> str:
    """CTEs computing (query_id, doc_id, bm25) for a (query_id, word) set."""
    return (
        f"{_TF_CTE}, qt AS ({qterms_sql}), "
        "df AS (SELECT word, count(*)::DOUBLE AS df FROM tf "
        "WHERE word IN (SELECT DISTINCT word FROM qt) GROUP BY word), "
        "scored AS (SELECT qt.query_id, tf.doc_id, "
        f"round(sum({_BM25_EXPR}), 6) AS bm25 "
        "FROM tf JOIN qt ON tf.word = qt.word "
        "JOIN df ON tf.word = df.word "
        "JOIN dl ON tf.doc_id = dl.doc_id, stats "
        "GROUP BY qt.query_id, tf.doc_id)"
    )


_BM25_QT = "SELECT * FROM (VALUES " + ", ".join(
    f"({q}, '{t}')" for q, ts in BM25_QUERIES.items() for t in ts
) + ") AS v(query_id, word)"

_RRF_QT = (
    f"SELECT DISTINCT doc_id AS query_id, word FROM tf WHERE doc_id % {RRF_QUERY_MOD} = 0"
)

ORACLES = {
    "text_bm25": (
        f"WITH {_bm25_cte(_BM25_QT)}, "
        "ranked AS (SELECT *, row_number() OVER "
        "(PARTITION BY query_id ORDER BY bm25 DESC, doc_id ASC) AS rn FROM scored) "
        f"SELECT query_id, doc_id, bm25 FROM ranked WHERE rn <= {BM25_TOPK}"
    ),
    "search_hybrid_rrf": (
        f"WITH {_bm25_cte(_RRF_QT)}, "
        "lexr AS (SELECT query_id, doc_id, row_number() OVER "
        "(PARTITION BY query_id ORDER BY bm25 DESC, doc_id ASC) AS lex_rank "
        "FROM scored WHERE doc_id <> query_id), "
        f"lex AS (SELECT * FROM lexr WHERE lex_rank <= {RRF_POOL}), "
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"qe AS (SELECT * FROM e WHERE vec_id % {RRF_QUERY_MOD} = 0), "
        "cosd AS (SELECT qe.vec_id AS query_id, e.vec_id AS doc_id, "
        "round(list_dot_product(qe.v, e.v) / (sqrt(list_dot_product(qe.v, qe.v)) * "
        "sqrt(list_dot_product(e.v, e.v))), 6) AS cos "
        "FROM qe, e WHERE e.vec_id <> qe.vec_id), "
        "vecr AS (SELECT query_id, doc_id, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) AS vec_rank FROM cosd), "
        f"vec AS (SELECT * FROM vecr WHERE vec_rank <= {RRF_POOL}), "
        "fused AS (SELECT coalesce(lex.query_id, vec.query_id) AS query_id, "
        "coalesce(lex.doc_id, vec.doc_id) AS doc_id, "
        f"round(coalesce(1.0 / ({RRF_K} + lex.lex_rank), 0.0) + "
        f"coalesce(1.0 / ({RRF_K} + vec.vec_rank), 0.0), 6) AS rrf "
        "FROM lex FULL OUTER JOIN vec "
        "ON lex.query_id = vec.query_id AND lex.doc_id = vec.doc_id), "
        "rk AS (SELECT *, row_number() OVER "
        "(PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rn FROM fused) "
        f"SELECT query_id, doc_id, rrf FROM rk WHERE rn <= {RRF_TOPK}"
    ),
    "text_bpe_merge": (
        f"WITH w AS (SELECT {WORDS_SQL} AS words FROM documents), "
        "wx AS (SELECT unnest(words) AS word FROM w), "
        "vocab AS (SELECT word, count(*)::BIGINT AS freq FROM wx GROUP BY word), "
        "pairs AS (SELECT freq, substr(word, i, 2) AS pair FROM vocab, "
        "unnest(generate_series(1, length(word) - 1)) AS t(i)), "
        "counts AS (SELECT pair, sum(freq)::BIGINT AS cnt FROM pairs GROUP BY pair), "
        "rk AS (SELECT *, row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rn FROM counts) "
        f"SELECT pair, cnt FROM rk WHERE rn <= {BPE_TOP_PAIRS}"
    ),
    "corpus_shuffle": (
        "WITH h AS (SELECT doc_id, "
        + md5_u60_sql_duckdb(f"'{SHUF_SEED}' || doc_id::VARCHAR")
        + " AS h FROM documents) "
        f"SELECT doc_id, (h % {SHUF_SHARDS})::INT AS shard, "
        "row_number() OVER (PARTITION BY h % "
        f"{SHUF_SHARDS} ORDER BY h, doc_id)::INT AS pos FROM h"
    ),
    "rel_bloom_join": (
        "SELECT o_orderpriority, count(*)::BIGINT AS n_orders, "
        "sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS revenue_cents "
        "FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer "
        f"WHERE c_acctbal > {BLOOM_ACCTBAL}) "
        "GROUP BY o_orderpriority"
    ),
}

QUERIES = {
    "text_bm25": q_text_bm25,
    "search_hybrid_rrf": q_search_hybrid_rrf,
    "text_bpe_merge": q_text_bpe_merge,
    "corpus_shuffle": q_corpus_shuffle,
    "rel_bloom_join": q_rel_bloom_join,
}
