"""End-to-end training-corpus pipeline query with a single DuckDB oracle.

The canonical LLM-data flow, composed from the engine's own operators:

    documents
      → quality filter   (quality_expr ≥ QMIN, one scan)
      → language filter  (lang_id == 'en', same scan)
      → exact dedup      (keep min doc_id per content hash, one window)
      → near-dup dedup   (LSH pairs → components → keep cluster minimum)
      → kept corpus      (doc_id, quality)

Every stage is an operator that is ALSO independently oracle-checked
elsewhere (text_quality, text_langid, dedup_exact, dedup_clusters); this
query proves they compose — the oracle rebuilds the whole pipeline as one
SQL statement, so a value match certifies the end-to-end corpus, not just
the stages.

Scale shape: the quality+language stage is a single scan with pure Column
expressions (no joins); exact dedup is one window shuffle on the content
hash; the near-dup stage runs only on the surviving corpus (banded
equi-joins, never all-pairs). Nothing driver-side anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from giranking_spark.cache import cached
from giranking_spark.functions import text as T
from giranking_spark.operators.dedup import neardup_clusters
from giranking_spark.operators.textops import quality_expr
from giranking_spark.queries.dedupq import (
    _BAND_SELECTS,
    _MINHASH_AGGS,
    JACCARD_N,
    MINHASH_BANDS,
    MINHASH_K,
)
from giranking_spark.queries.textq import (
    _lang_case_sql,
    _stop_count_sql,
    LANG_ORDER,
    PUNCT_SQL,
    TOKENS_SQL,
    WORDS_SQL,
)
from giranking_spark.sources.tables import load_table

#: minimum heuristic quality for a doc to enter the corpus
CORPUS_QMIN = 0.5
CORPUS_LANG = "en"


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    filtered = docs.select(
        "doc_id", "text", quality_expr(t).alias("quality")
    ).filter(
        (F.col("quality") >= CORPUS_QMIN) & (T.lang_id(t) == CORPUS_LANG)
    )
    # exact dedup: keep the smallest doc_id per content hash
    w = Window.partitionBy(F.md5("text"))
    # The surviving corpus is referenced three times downstream (shingle
    # pipeline, cluster-id join, final quality join) — without the cache
    # the quality/langid scan + md5 window re-executes per reference
    # (measured 8.5 s → ~5 s at sf0.1).
    exact_kept = (
        filtered.withColumn("_keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_keep"))
        .select("doc_id", "text", "quality")
    )
    with cached(exact_kept):
        clusters = neardup_clusters(
            exact_kept, k=MINHASH_K, bands=MINHASH_BANDS, n=JACCARD_N
        )
        return (
            clusters.filter("keep")
            .join(exact_kept.select("doc_id", "quality"), "doc_id")
            .select("doc_id", "quality")
        ).localCheckpoint()


QUERIES = {"corpus_pipeline": q_corpus_pipeline}

# ---------------------------------------------------------------------------
# oracle: the whole pipeline as one SQL statement

_QL_CTES = (
    f"w0 AS (SELECT doc_id, text, {WORDS_SQL} AS words FROM documents), "
    f"m AS (SELECT doc_id, text, words, len({TOKENS_SQL}) AS n_tok, "
    f"{_stop_count_sql('en', 'words')} AS stop, "
    f"{PUNCT_SQL} / greatest(length(text), 1) AS punct, "
    + ", ".join(
        f"{_stop_count_sql(lang, 'words')} AS c_{lang}" for lang in LANG_ORDER
    )
    + " FROM w0), "
    "ql AS (SELECT doc_id, text, round("
    "0.4 * least(n_tok / 100.0, 1.0) "
    "+ 0.3 * (1.0 - least(punct * 4, 1.0)) "
    "+ 0.3 * least(stop / greatest(n_tok, 1) * 5, 1.0), 6) AS quality, "
    f"{_lang_case_sql()} AS lang_pred FROM m)"
)

ORACLES = {
    "corpus_pipeline": (
        f"WITH RECURSIVE {_QL_CTES}, "
        f"f AS (SELECT doc_id, text, quality FROM ql "
        f"WHERE quality >= {CORPUS_QMIN} AND lang_pred = '{CORPUS_LANG}'), "
        "ke AS MATERIALIZED (SELECT doc_id, text, quality FROM ("
        "SELECT f.*, min(doc_id) OVER (PARTITION BY md5(text)) AS mn FROM f"
        ") WHERE doc_id = mn), "
        # near-dup clustering over the surviving corpus (mirrors dedupq)
        f"w AS (SELECT doc_id, {WORDS_SQL} AS words FROM ke), "
        "sh AS (SELECT DISTINCT doc_id AS id, "
        f"array_to_string(words[i:i+{JACCARD_N - 1}], '_') AS shingle "
        f"FROM w, unnest(generate_series(1, len(words) - {JACCARD_N - 1})) AS t(i) "
        f"WHERE len(words) >= {JACCARD_N}), "
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
        "SELECT ke.doc_id, ke.quality FROM ke LEFT JOIN comp ON ke.doc_id = comp.v "
        "WHERE ke.doc_id = coalesce(comp.cluster, ke.doc_id)"
    ),
}
