"""Deduplication queries over the documents table, with DuckDB oracles.

MinHash/SimHash are fully oracle-checked: the md5-based portable hash family
(functions/hashing.py) evaluates identically in both engines, so even the
sketches match value-for-value — not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giranking_spark.cache import cached
from giranking_spark.functions.hashing import (
    HASH_FAMILY,
    MERSENNE_P,
    md5_u32_sql_duckdb,
    md5_u60_sql_duckdb,
)
from giranking_spark.operators.dedup import (
    chunk_dedup,
    containment_pairs,
    exact_dedup,
    minhash_jaccard_estimates,
    minhash_lsh_pairs,
    minhash_signatures,
    neardup_clusters,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_signatures,
)
from giranking_spark.queries.textq import WORDS_SQL
from giranking_spark.sources.tables import load_table

JACCARD_N = 3
JACCARD_THRESHOLD = 0.12
#: document-frequency cap for the shared-shingle self-join (skew guard at
#: scale). Mirrored verbatim in the oracle's shingle CTE so Spark and DuckDB
#: compute Jaccard over the SAME pruned shingle sets at every scale factor.
JACCARD_MAX_DF = 1000
MINHASH_K = 16
MINHASH_BANDS = 4
SIMHASH_BITS = 32
SIMHASH_PAIR_BANDS = 4
SIMHASH_MAX_HAMMING = 3


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        n=JACCARD_N,
        threshold=JACCARD_THRESHOLD,
        max_df=JACCARD_MAX_DF,
    )


def q_dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(load_table(spark, sf_dir, "documents"), k=MINHASH_K, n=JACCARD_N)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        k=MINHASH_K,
        bands=MINHASH_BANDS,
        n=JACCARD_N,
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(load_table(spark, sf_dir, "documents"), bits=SIMHASH_BITS)


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-hamming SimHash pairing; the oracle is the brute-force all-pairs
    filter, so a green row proves the banded plan loses nothing."""
    return simhash_pairs(
        load_table(spark, sf_dir, "documents"),
        bits=SIMHASH_BITS,
        bands=SIMHASH_PAIR_BANDS,
        max_hamming=SIMHASH_MAX_HAMMING,
    )


def q_dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-estimated Jaccard for LSH candidates — the no-second-pass
    near-dup scorer (see operators/dedup.minhash_jaccard_estimates)."""
    return minhash_jaccard_estimates(
        load_table(spark, sf_dir, "documents"),
        k=MINHASH_K,
        bands=MINHASH_BANDS,
        n=JACCARD_N,
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster canonicalization over the LSH candidate graph: every doc
    labeled with its near-dup cluster (min reachable doc id) + keep flag.
    The Spark side is the hash-min component fixpoint; the oracle recomputes
    reachability with a recursive CTE — two different algorithms agreeing."""
    return neardup_clusters(
        load_table(spark, sf_dir, "documents"),
        k=MINHASH_K,
        bands=MINHASH_BANDS,
        n=JACCARD_N,
    )


#: containment screen threshold — directed, so it sits above the Jaccard
#: threshold (containment ≥ jaccard for any pair)
CONTAINMENT_THRESHOLD = 0.2
#: chunk window for sub-document dedup. The fixture corpus draws from a
#: ~40-word vocabulary, so a small window is what makes cross-document chunk
#: collisions actually occur (and the dedup path do real work); real corpora
#: run the same pipeline at ~50 words or on paragraph splits.
CHUNK_WORDS = 3


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed n-gram containment |A∩B|/|A| (operators/dedup.py:
    containment_pairs) — the asymmetric sub-document duplication screen."""
    return containment_pairs(
        load_table(spark, sf_dir, "documents"),
        n=JACCARD_N,
        threshold=CONTAINMENT_THRESHOLD,
        max_df=JACCARD_MAX_DF,
    )


def q_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup with corpus-wide first-occurrence keep
    (operators/dedup.py:chunk_dedup)."""
    return chunk_dedup(
        load_table(spark, sf_dir, "documents"), chunk_words=CHUNK_WORDS
    )


QUERIES = {
    "dedup_containment": q_dedup_containment,
    "dedup_chunks": q_dedup_chunks,
    "dedup_clusters": q_dedup_clusters,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_sig": q_dedup_minhash_sig,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_minhash_estimate": q_dedup_minhash_estimate,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
}

# ---------------------------------------------------------------------------
# oracles

# distinct word n-gram shingles per doc (mirror of operators/dedup.doc_shingles)
_SHINGLES_CTE = (
    f"w AS (SELECT doc_id, {WORDS_SQL} AS words FROM documents), "
    "sh AS (SELECT DISTINCT doc_id AS id, "
    f"array_to_string(words[i:i+{JACCARD_N - 1}], '_') AS shingle "
    f"FROM w, unnest(generate_series(1, len(words) - {JACCARD_N - 1})) AS t(i) "
    f"WHERE len(words) >= {JACCARD_N})"
)


def _affine_sql(h: str, i: int) -> str:
    a, b = HASH_FAMILY[i]
    return f"(({a} * {h} + {b}) % {MERSENNE_P})"


_H = md5_u32_sql_duckdb("shingle")
_MINHASH_AGGS = ", ".join(
    f"min({_affine_sql(_H, i)})::BIGINT AS s{i}" for i in range(MINHASH_K)
)
_MINHASH_SIG_SQL = (
    f"WITH {_SHINGLES_CTE} "
    f"SELECT id, {_MINHASH_AGGS} FROM sh GROUP BY id"
)

_ROWS = MINHASH_K // MINHASH_BANDS
_BAND_SELECTS = " UNION ALL ".join(
    f"SELECT id, {b} AS band, md5("
    + " || '_' || ".join(f"s{b * _ROWS + r}" for r in range(_ROWS))
    + ") AS bh FROM sig"
    for b in range(MINHASH_BANDS)
)

_WORDS_EXPLODED_CTE = (
    f"w AS (SELECT doc_id, {WORDS_SQL} AS words FROM documents), "
    "wx AS (SELECT doc_id AS id, unnest(words) AS word FROM w)"
)
_HW = md5_u32_sql_duckdb("word")
_SIMHASH_BIT_AGGS = ", ".join(
    f"sum(CASE WHEN (({_HW} >> {b}) & 1) = 1 THEN 1 ELSE -1 END)::BIGINT AS b{b}"
    for b in range(SIMHASH_BITS)
)
_SIMHASH_COMBINE = " + ".join(
    f"(CASE WHEN b{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(SIMHASH_BITS)
)

ORACLES = {
    "dedup_exact": (
        "SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_id "
        "FROM documents GROUP BY md5(text)"
    ),
    "dedup_ngram_jaccard": (
        f"WITH {_SHINGLES_CTE}, "
        # mirror of ngram_jaccard_pairs' 60-bit shingle hashing (join keys are
        # 8-byte ints on both sides, not n-gram strings)
        "shh AS (SELECT DISTINCT id, "
        f"{md5_u60_sql_duckdb('shingle')} AS shingle FROM sh), "
        # mirror of ngram_jaccard_pairs' max_df document-frequency pruning
        f"keep AS (SELECT shingle FROM shh GROUP BY shingle "
        f"HAVING count(*) <= {JACCARD_MAX_DF}), "
        "shk AS (SELECT shh.id, shh.shingle FROM shh JOIN keep USING (shingle)), "
        "sizes AS (SELECT id, count(*) AS sz FROM shk GROUP BY id), "
        "inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter "
        "FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.id < b.id "
        "GROUP BY a.id, b.id) "
        "SELECT id_a, id_b, round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard "
        "FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id "
        f"WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= {JACCARD_THRESHOLD}"
    ),
    "dedup_containment": (
        f"WITH {_SHINGLES_CTE}, "
        "shh AS (SELECT DISTINCT id, "
        f"{md5_u60_sql_duckdb('shingle')} AS shingle FROM sh), "
        f"keep AS (SELECT shingle FROM shh GROUP BY shingle "
        f"HAVING count(*) <= {JACCARD_MAX_DF}), "
        "shk AS (SELECT shh.id, shh.shingle FROM shh JOIN keep USING (shingle)), "
        "sizes AS (SELECT id, count(*) AS sz FROM shk GROUP BY id), "
        # directed: a.id <> b.id, containment normalized by |A| only
        "inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter "
        "FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.id <> b.id "
        "GROUP BY a.id, b.id) "
        "SELECT id_a, id_b, round(inter / sa.sz, 6) AS containment "
        "FROM inter JOIN sizes sa ON id_a = sa.id "
        f"WHERE round(inter / sa.sz, 6) >= {CONTAINMENT_THRESHOLD}"
    ),
    "dedup_chunks": (
        f"WITH w AS (SELECT doc_id, {WORDS_SQL} AS words FROM documents), "
        "ch AS (SELECT doc_id AS id, i AS chunk_idx, "
        + md5_u60_sql_duckdb(
            f"array_to_string(words[(i*{CHUNK_WORDS}+1):"
            f"(i*{CHUNK_WORDS}+{CHUNK_WORDS})], ' ')"
        )
        + " AS h "
        f"FROM w, unnest(generate_series(0, "
        f"CAST(ceil(len(words) / {CHUNK_WORDS}.0) AS BIGINT) - 1)) AS t(i) "
        "WHERE len(words) > 0), "
        # first global occurrence = smallest (id, chunk_idx) per chunk hash
        "k AS (SELECT id, chunk_idx, "
        "(row_number() OVER (PARTITION BY h ORDER BY id, chunk_idx) = 1) AS keep "
        "FROM ch) "
        "SELECT id AS doc_id, count(*)::BIGINT AS n_chunks, "
        "sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept "
        "FROM k GROUP BY id"
    ),
    "dedup_minhash_sig": _MINHASH_SIG_SQL,
    "dedup_minhash_lsh": (
        f"WITH {_SHINGLES_CTE}, "
        f"sig AS (SELECT id, {_MINHASH_AGGS} FROM sh GROUP BY id), "
        f"bandkeys AS ({_BAND_SELECTS}) "
        "SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_bands "
        "FROM bandkeys a JOIN bandkeys b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id "
        "GROUP BY a.id, b.id"
    ),
    "dedup_simhash": (
        f"WITH {_WORDS_EXPLODED_CTE}, "
        f"bits AS (SELECT id, {_SIMHASH_BIT_AGGS} FROM wx GROUP BY id) "
        f"SELECT id, ({_SIMHASH_COMBINE})::BIGINT AS simhash FROM bits"
    ),
    # brute-force all-pairs hamming filter — deliberately NOT banded, so it
    # independently certifies the engine's pigeonhole-banded plan is lossless
    "dedup_simhash_pairs": (
        f"WITH {_WORDS_EXPLODED_CTE}, "
        f"bits AS (SELECT id, {_SIMHASH_BIT_AGGS} FROM wx GROUP BY id), "
        f"sig AS MATERIALIZED (SELECT id, ({_SIMHASH_COMBINE})::BIGINT AS simhash FROM bits) "
        "SELECT a.id AS id_a, b.id AS id_b, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming "
        "FROM sig a JOIN sig b ON a.id < b.id "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}"
    ),
    "dedup_clusters": (
        f"WITH RECURSIVE {_SHINGLES_CTE}, "
        f"sig AS MATERIALIZED (SELECT id, {_MINHASH_AGGS} FROM sh GROUP BY id), "
        f"bandkeys AS MATERIALIZED ({_BAND_SELECTS}), "
        "pairs AS MATERIALIZED (SELECT a.id AS id_a, b.id AS id_b "
        "FROM bandkeys a JOIN bandkeys b ON a.band = b.band AND a.bh = b.bh "
        "AND a.id < b.id GROUP BY a.id, b.id), "
        "und AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs "
        "UNION SELECT id_b AS src, id_a AS dst FROM pairs), "
        "r AS (SELECT src AS v, src AS lbl FROM und "
        "UNION SELECT u.dst AS v, r.lbl FROM r JOIN und u ON u.src = r.v), "
        "comp AS (SELECT v, min(lbl) AS cluster FROM r GROUP BY v) "
        "SELECT d.doc_id, CAST(coalesce(c.cluster, d.doc_id) AS BIGINT) AS cluster, "
        "d.doc_id = coalesce(c.cluster, d.doc_id) AS keep "
        "FROM documents d LEFT JOIN comp c ON d.doc_id = c.v"
    ),
    "dedup_minhash_estimate": (
        f"WITH {_SHINGLES_CTE}, "
        f"sig AS MATERIALIZED (SELECT id, {_MINHASH_AGGS} FROM sh GROUP BY id), "
        f"bandkeys AS ({_BAND_SELECTS}), "
        "pairs AS (SELECT a.id AS id_a, b.id AS id_b "
        "FROM bandkeys a JOIN bandkeys b ON a.band = b.band AND a.bh = b.bh "
        "AND a.id < b.id GROUP BY a.id, b.id) "
        "SELECT p.id_a, p.id_b, round(("
        + " + ".join(
            f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)"
            for i in range(MINHASH_K)
        )
        + f") / {float(MINHASH_K)}, 6) AS jaccard_est "
        "FROM pairs p JOIN sig sa ON p.id_a = sa.id JOIN sig sb ON p.id_b = sb.id"
    ),
}


def q_dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall evaluation of the banded MinHash-LSH candidate generator
    against exact n-gram Jaccard ground truth at the same threshold — the
    acceptance gate a pipeline owner runs before trusting the approximate
    dedup path on a new corpus (same role ``simsearch_recall`` plays for
    the ANN family).  One row: (n_truth, n_cand, n_hit, recall).

    Both relations are the already-verified bucketed pipelines (never
    all-pairs); the comparison itself is a semi-join on the pair key plus
    three one-row aggregates, so evaluation adds no scale hazard beyond
    the pipelines it measures.  On the fixture LSH recall is measured, not
    assumed — the oracle recomputes both sides independently."""
    docs = load_table(spark, sf_dir, "documents")
    # cache both pair lists (tiny): each is referenced twice (its count
    # and the semi-join) and the executed plan showed the full shingle +
    # window pipelines running once PER reference (r13; 13.5 → ~7 s at
    # sf0.1). An eager .localCheckpoint() of the pair lists themselves was
    # measured ~20% slower — it pays a standalone materialization job per
    # list.
    truth = ngram_jaccard_pairs(
        docs, n=JACCARD_N, threshold=JACCARD_THRESHOLD, max_df=JACCARD_MAX_DF
    ).select("id_a", "id_b")
    cand = minhash_lsh_pairs(
        docs, k=MINHASH_K, bands=MINHASH_BANDS, n=JACCARD_N
    ).select("id_a", "id_b")
    with cached(truth, cand):
        hit = truth.join(cand, ["id_a", "id_b"], "left_semi")
        return (
            truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
            .crossJoin(cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand")))
            .crossJoin(hit.agg(F.count(F.lit(1)).cast("long").alias("n_hit")))
            .select(
                "n_truth",
                "n_cand",
                "n_hit",
                F.round(F.col("n_hit") / F.col("n_truth"), 6).alias("recall"),
            )
        ).localCheckpoint()


QUERIES["dedup_recall_eval"] = q_dedup_recall_eval
# composes the two verified pipelines' CTE chains in ONE statement, so the
# ground truth and the candidate set are recomputed independently of Spark
ORACLES["dedup_recall_eval"] = (
    f"WITH {_SHINGLES_CTE}, "
    "shh AS (SELECT DISTINCT id, "
    f"{md5_u60_sql_duckdb('shingle')} AS shingle FROM sh), "
    f"keep AS (SELECT shingle FROM shh GROUP BY shingle "
    f"HAVING count(*) <= {JACCARD_MAX_DF}), "
    "shk AS (SELECT shh.id, shh.shingle FROM shh JOIN keep USING (shingle)), "
    "sizes AS (SELECT id, count(*) AS sz FROM shk GROUP BY id), "
    "inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter "
    "FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.id < b.id "
    "GROUP BY a.id, b.id), "
    "truth AS (SELECT id_a, id_b FROM inter "
    "JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id "
    f"WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= {JACCARD_THRESHOLD}), "
    f"sig AS (SELECT id, {_MINHASH_AGGS} FROM sh GROUP BY id), "
    f"bandkeys AS ({_BAND_SELECTS}), "
    "cand AS (SELECT a.id AS id_a, b.id AS id_b "
    "FROM bandkeys a JOIN bandkeys b ON a.band = b.band AND a.bh = b.bh "
    "AND a.id < b.id GROUP BY a.id, b.id), "
    "hit AS (SELECT t.id_a FROM truth t JOIN cand c "
    "ON t.id_a = c.id_a AND t.id_b = c.id_b) "
    "SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth, "
    "(SELECT count(*) FROM cand)::BIGINT AS n_cand, "
    "(SELECT count(*) FROM hit)::BIGINT AS n_hit, "
    "round((SELECT count(*) FROM hit) / (SELECT count(*) FROM truth), 6) "
    "AS recall"
)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: documents with doc_id % 10 == 0 play the
    daily batch, the rest the accumulated corpus; each batch doc is
    screened for LSH collisions against the corpus only (see
    operators/dedup.incremental_lsh_matches — never corpus × corpus)."""
    from giranking_spark.operators.dedup import incremental_lsh_matches

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    return incremental_lsh_matches(
        base, batch, k=MINHASH_K, bands=MINHASH_BANDS, n=JACCARD_N
    )


QUERIES["dedup_incremental"] = q_dedup_incremental
ORACLES["dedup_incremental"] = (
    f"WITH {_SHINGLES_CTE}, "
    f"sig AS (SELECT id, {_MINHASH_AGGS} FROM sh GROUP BY id), "
    f"bandkeys AS ({_BAND_SELECTS}), "
    "hits AS (SELECT DISTINCT n.id, b.id AS base_id FROM bandkeys n "
    "JOIN bandkeys b ON n.band = b.band AND n.bh = b.bh "
    "WHERE n.id % 10 = 0 AND b.id % 10 <> 0), "
    "h AS (SELECT id, count(*)::BIGINT AS n_base_matches FROM hits "
    "GROUP BY id) "
    "SELECT d.doc_id, coalesce(h.n_base_matches, 0)::BIGINT "
    "AS n_base_matches, coalesce(h.n_base_matches, 0) > 0 AS is_dup "
    "FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 10 = 0) d "
    "LEFT JOIN h ON d.doc_id = h.id"
)


def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    shingles whose first corpus occurrence (min doc_id) is the doc itself
    — the diversity/staleness curve corpus owners watch as a crawl ages
    (novelty → 0 means new data is re-crawling the same content; the
    sub-document complement of the document-level dup-rate report).

    One shared-shingle aggregation: min(doc_id) per 60-bit shingle hash
    (map-side combinable), joined back to the per-doc shingle relation —
    the same df-bounded shapes as the dedup family, no self-join at all;
    shingles are hashed to 8-byte ints BEFORE the distinct, so every
    shuffle moves ints, not n-gram strings (the MinHash discipline)."""
    from giranking_spark.functions.hashing import md5_u60
    from giranking_spark.operators.dedup import shingle_rows

    sh = (
        shingle_rows(load_table(spark, sf_dir, "documents"), JACCARD_N)
        .select("id", md5_u60(F.col("shingle")).alias("shingle"))
        .distinct()
    )
    with cached(sh):
        first = sh.groupBy("shingle").agg(F.min("id").alias("first_id"))
        return (
            sh.join(first, "shingle")
            .groupBy(F.col("id").alias("doc_id"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_shingles"),
                F.sum(
                    F.when(F.col("first_id") == F.col("id"), 1).otherwise(0)
                ).cast("long").alias("n_novel"),
                F.round(
                    F.sum(
                        F.when(F.col("first_id") == F.col("id"), 1).otherwise(0)
                    )
                    / F.count(F.lit(1)),
                    6,
                ).alias("novelty"),
            )
        ).localCheckpoint()


QUERIES["text_novelty"] = q_text_novelty
ORACLES["text_novelty"] = (
    f"WITH {_SHINGLES_CTE}, "
    "shh AS (SELECT DISTINCT id, "
    f"{md5_u60_sql_duckdb('shingle')} AS shingle FROM sh), "
    "f AS (SELECT shingle, min(id) AS first_id FROM shh GROUP BY shingle) "
    "SELECT shh.id AS doc_id, count(*)::BIGINT AS n_shingles, "
    "sum(CASE WHEN f.first_id = shh.id THEN 1 ELSE 0 END)::BIGINT "
    "AS n_novel, "
    "round(sum(CASE WHEN f.first_id = shh.id THEN 1 ELSE 0 END) "
    "/ count(*), 6) AS novelty "
    "FROM shh JOIN f USING (shingle) GROUP BY shh.id"
)


# ---- simhash hamming-distance histogram --------------------------------------

def q_text_simhash_hamming_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance histogram between consecutive documents' 32-bit
    simhashes — the corpus-level separation diagnostic for a simhash dedup
    threshold: near-dup corpora pile mass at small distances, healthy
    diverse corpora center near 16 (random bits). Deterministic pairing
    (doc_id, doc_id+1) keeps the relation linear — this is the THRESHOLD
    CALIBRATION readout, not the candidate search (dedup_simhash_pairs is).
    bit_count(xor) on exact BIGINTs in both engines."""
    from giranking_spark.operators.dedup import simhash_signatures

    with cached(simhash_signatures(load_table(spark, sf_dir, "documents"))) as sig:
        nxt = sig.select((F.col("id") - 1).alias("id"), F.col("simhash").alias("sim2"))
        return (
            sig.join(nxt, "id")
            .select(F.expr("bit_count(simhash ^ sim2)").cast("long").alias("hamming"))
            .groupBy("hamming")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        ).localCheckpoint()


QUERIES["text_simhash_hamming_hist"] = q_text_simhash_hamming_hist
ORACLES["text_simhash_hamming_hist"] = (
    f"WITH {_WORDS_EXPLODED_CTE}, "
    f"bits AS (SELECT id, {_SIMHASH_BIT_AGGS} FROM wx GROUP BY id), "
    f"sig AS MATERIALIZED (SELECT id, ({_SIMHASH_COMBINE})::BIGINT AS simhash FROM bits) "
    "SELECT bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming, "
    "count(*)::BIGINT AS n_pairs FROM sig a JOIN sig b ON b.id = a.id + 1 "
    "GROUP BY 1"
)


# ---- shingle novelty curve ----------------------------------------------------

NOVELTY_BUCKETS = 10


def q_text_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve at the shingle level: documents in doc_id order
    cut into NOVELTY_BUCKETS id-range slices; per slice, the share of its
    distinct word n-gram shingles never seen in ANY earlier slice — the
    marginal-novelty readout a crawl-scheduling / dedup pipeline uses to
    decide when additional data stops adding content (the shingle-level
    sibling of text_heaps_law's vocabulary curve).

    Distributed-exact: per-shingle min-bucket (one aggregate over the
    shingle stream) classifies every (bucket, shingle) occurrence as new
    or seen; no running dedup state."""
    from giranking_spark.operators.dedup import doc_shingles

    d = load_table(spark, sf_dir, "documents")
    mx = d.agg(F.max(F.col("doc_id").cast("long")).alias("mx"))
    sh = (
        doc_shingles(d)
        .crossJoin(F.broadcast(mx))
        .select(
            F.expr(f"id * {NOVELTY_BUCKETS} div (mx + 1)").alias("bucket"),
            "shingle",
        )
        .distinct()
    )
    with cached(sh):
        first_seen = sh.groupBy("shingle").agg(F.min("bucket").alias("first_bucket"))
        per_bucket = (
            sh.join(first_seen, "shingle")
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_shingles"),
                F.sum(
                    F.when(F.col("bucket") == F.col("first_bucket"), 1).otherwise(0)
                ).cast("long").alias("n_new"),
            )
        )
        return per_bucket.select(
            "bucket", "n_shingles", "n_new",
            F.round(F.col("n_new") / F.col("n_shingles").cast("double"), 6)
            .alias("novelty"),
        ).localCheckpoint()


QUERIES["text_shingle_novelty"] = q_text_shingle_novelty
ORACLES["text_shingle_novelty"] = (
    f"WITH {_SHINGLES_CTE}, "
    "mx AS (SELECT max(doc_id) AS mx FROM documents), "
    "sb AS (SELECT DISTINCT id * "
    f"{NOVELTY_BUCKETS} // (mx + 1) AS bucket, shingle FROM sh, mx), "
    "first_seen AS (SELECT shingle, min(bucket) AS first_bucket "
    "FROM sb GROUP BY 1), "
    "per_bucket AS (SELECT bucket, count(*)::BIGINT AS n_shingles, "
    "CAST(sum(CASE WHEN bucket = first_bucket THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_new FROM sb JOIN first_seen USING (shingle) GROUP BY 1) "
    "SELECT bucket, n_shingles, n_new, "
    "round(n_new / (n_shingles * 1e0), 6) AS novelty FROM per_bucket"
)
