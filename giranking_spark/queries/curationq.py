"""Corpus-curation queries: C4-style boilerplate line removal and
quality-decile curriculum binning.

``text_line_dedup`` is the corpus-LEVEL line dedup of C4 (Raffel et al.,
JMLR'20 §2.2: lines occurring more than once in the corpus are removed from
every document) — the boilerplate strip (nav bars, cookie banners) that
document-level dedup cannot express. The synthetic documents have no
newlines, so lines are synthesized deterministically (a line break after
every 6th word) with the SAME regex in Spark and the oracle; the planted
exact-duplicate documents make real cross-document line repeats, so the
removal path is genuinely exercised on the fixture.

``text_quality_deciles`` bins documents into 10 equal-size quality tiers
(curriculum/mixing buckets). The naive ``ntile(10) OVER (ORDER BY …)`` is a
single-task global sort in Spark; here the global rank comes from the
two-phase bucketed prefix sum (operators/packing.global_running_offset —
quality is the bucket key, so ranking parallelizes across quality ranges)
and the rank→tile arithmetic reproduces SQL NTILE exactly, which is what
the oracle runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giranking_spark.cache import cached
from giranking_spark.functions.hashing import md5_u60
from giranking_spark.operators.packing import global_running_offset
from giranking_spark.operators.textops import quality_score
from giranking_spark.sources.tables import load_table

QUERIES: dict = {}
ORACLES: dict = {}

# --- C4-style corpus-level line dedup --------------------------------------

#: synthesized line length (words) and the boilerplate threshold: a line
#: appearing in ≥ LINE_MIN_DOCS distinct documents is removed everywhere.
LINE_WORDS = 6
LINE_MIN_DOCS = 2

_LINE_RE = r"((\S+ ){%d})" % LINE_WORDS


def line_dedup(docs: DataFrame, min_docs: int = LINE_MIN_DOCS) -> DataFrame:
    """(doc_id, n_kept, n_removed, clean_text) after corpus-level line
    dedup. Scale shape: posexplode fan-out → document-frequency aggregation
    keyed on a 60-bit line hash (the groupBy/join shuffle key is 8 bytes,
    not the line text) → one groupBy(doc_id) to re-assemble kept lines in
    position order. No self-joins, no windows; every stage is a partial-agg
    shuffle. The re-assembly collect_list is bounded by document size —
    the same per-key bound every per-document operator here lives with."""
    lined = docs.select(
        "doc_id", F.regexp_replace("text", _LINE_RE, "$1\n").alias("t")
    )
    lines = (
        lined.select("doc_id", F.posexplode(F.split("t", "\n")).alias("pos", "line"))
        .select("doc_id", "pos", F.trim("line").alias("line"))
        .filter(F.col("line") != "")
        .withColumn("lk", md5_u60(F.col("line")))
    )
    counts = lines.groupBy("lk").agg(F.count_distinct("doc_id").alias("df"))
    flagged = lines.join(counts, "lk")
    keep = F.col("df") < min_docs
    return flagged.groupBy("doc_id").agg(
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(~keep, 1).otherwise(0)).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.when(keep, F.struct("pos", "line")))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
    )


def q_text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return line_dedup(load_table(spark, sf_dir, "documents"))


QUERIES["text_line_dedup"] = q_text_line_dedup

ORACLES["text_line_dedup"] = (
    "WITH ln AS (SELECT doc_id, i AS pos, trim(l[i]) AS line "
    "FROM (SELECT doc_id, string_split(regexp_replace(text, "
    f"'((\\S+ ){{{LINE_WORDS}}})', '\\1' || chr(10), 'g'), chr(10)) AS l "
    "FROM documents), unnest(generate_series(1, len(l))) AS t(i)), "
    "f AS (SELECT * FROM ln WHERE line <> ''), "
    "c AS (SELECT line, count(DISTINCT doc_id) AS df FROM f GROUP BY line), "
    "j AS (SELECT f.doc_id, f.pos, f.line, c.df FROM f JOIN c USING (line)) "
    "SELECT doc_id, "
    f"CAST(sum(CASE WHEN df < {LINE_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, "
    f"CAST(sum(CASE WHEN df >= {LINE_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT) AS n_removed, "
    f"coalesce(string_agg(CASE WHEN df < {LINE_MIN_DOCS} THEN line END, "
    "chr(10) ORDER BY pos), '') AS clean_text "
    "FROM j GROUP BY doc_id"
)


# --- quality-decile curriculum binning -------------------------------------

N_TILES = 10


def q_text_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, quality, decile) — NTILE(10) by ascending quality with a
    doc_id tiebreak, computed WITHOUT a global single-task window: the
    global rank is a two-phase bucketed prefix sum over a numeric sort key
    (quality·10⁶ concatenated with doc_id — monotone in (quality, doc_id)),
    and SQL NTILE's first-(N mod k)-tiles-get-one-extra rule is reproduced
    arithmetically from (rank, N)."""
    # Packed (quality, doc_id) sort key: quality ∈ [0,1] so the rounded
    # integer part is ≤ 1e6; a 1e12 multiplier keeps the key monotone in
    # (quality, doc_id) for any doc_id < 10^12 (max key ≈ 1.000001e18,
    # inside int64) — a 1e7 multiplier would let large doc_ids bleed into
    # the quality digits and silently break NTILE-order parity.
    key = (
        F.round(F.col("quality") * 1e6).cast("long") * F.lit(1_000_000_000_000)
        + F.col("doc_id")
    ).alias("__k")
    # cached: the scored relation feeds the rank pass twice (bucket
    # bounds + main pass) and the N aggregate — without it the tokenizer
    # scan re-executes per reference (4.5 s → ~2 s at sf0.1)
    q = (
        quality_score(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "quality", key, F.lit(1).alias("__one"))
    )
    with cached(q):
        ranked = global_running_offset(q, "__k", "__one", out_col="__r0", n_buckets=1024)
        n_total = q.agg(F.count(F.lit(1)).alias("__n"))
        r = F.col("__r0") + F.lit(1)  # 1-based global rank
        n = F.col("__n")
        k = F.lit(N_TILES)
        base = F.floor(n / k)  # small-tile size
        rem = n % k  # number of big (base+1) tiles
        big = base + F.lit(1)
        cut = rem * big  # ranks 1..cut live in the big tiles
        tile = F.when(r <= cut, F.lit(1) + F.floor((r - 1) / big)).otherwise(
            rem + F.lit(1) + F.floor((r - 1 - cut) / base)
        )
        return (
            ranked.join(F.broadcast(n_total))
            .select("doc_id", "quality", tile.cast("long").alias("decile"))
        ).localCheckpoint()


QUERIES["text_quality_deciles"] = q_text_quality_deciles

# NTILE itself is the specification; the Spark side reproduces it without
# the global window.
ORACLES["text_quality_deciles"] = (
    "WITH q AS ({q_sql}) "
    "SELECT doc_id, quality, "
    f"CAST(ntile({N_TILES}) OVER (ORDER BY quality ASC, doc_id ASC) AS BIGINT) "
    "AS decile FROM q"
)


def _wire_quality_sql() -> None:
    from giranking_spark.queries.textq import ORACLES as TEXT_ORACLES

    ORACLES["text_quality_deciles"] = ORACLES["text_quality_deciles"].format(
        q_sql=TEXT_ORACLES["text_quality"]
    )


_wire_quality_sql()


def q_corpus_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication-rate report: how much of each source is
    byte-identical repetition — (source, n_docs, n_unique, dup_rate).
    This is the first diagnostic a corpus owner reads before choosing
    dedup aggressiveness per source (crawl dumps dedup hard, curated
    sources barely).  One scan; the exact distinct on (source, md5(text))
    is the only shuffle and carries hashes, not documents."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct(F.md5("text")).cast("long").alias("n_unique"),
        F.round(
            F.lit(1) - F.countDistinct(F.md5("text")) / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
    )


QUERIES["corpus_dup_rate"] = q_corpus_dup_rate
ORACLES["corpus_dup_rate"] = (
    "SELECT source, count(*)::BIGINT AS n_docs, "
    "count(DISTINCT md5(text))::BIGINT AS n_unique, "
    "round(1 - count(DISTINCT md5(text)) / count(*), 6) AS dup_rate "
    "FROM documents GROUP BY source"
)


# grouped histogram quantile sketch (same mergeable shape as
# analyticsq.q_rel_quantile_sketch, partitioned by group)
LQ_LO = 0.0
LQ_HI = 4096.0
LQ_BINS = 256
LQ_WIDTH = (LQ_HI - LQ_LO) / LQ_BINS
LQ_QS = (0.5, 0.9, 0.99)


def q_corpus_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length P50/P90/P99 from the mergeable
    fixed-width histogram sketch — the corpus length-profile report
    (truncation-budget and chunk-size decisions are made per source).
    Same scale shape as ``rel_quantile_sketch`` with a group key: the
    shuffle carries ≤ groups × 256 bin rows, the per-group cumulative
    window is bounded by BINS, and estimates interpolate inside the
    hit bin — bit-exact against the oracle, per group."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    binned = d.select(
        "source",
        F.least(
            F.lit(LQ_BINS - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col("n_chars") - LQ_LO) / (LQ_HI - LQ_LO) * LQ_BINS),
            ),
        )
        .cast("long")
        .alias("bin"),
    )
    hist = binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(Window.partitionBy("source").orderBy("bin"))
    )
    tot = hist.groupBy("source").agg(F.sum("cnt").cast("long").alias("n"))
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in LQ_QS])).alias("q")
    )
    cand = (
        tot.crossJoin(F.broadcast(qs))
        .join(cum, "source")
        .filter(F.col("cum") >= F.col("q") * F.col("n"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source", "q").orderBy("bin")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return cand.select(
        "source",
        "q",
        F.round(
            F.lit(LQ_LO)
            + F.lit(LQ_WIDTH) * F.col("bin")
            + F.lit(LQ_WIDTH)
            * (F.col("q") * F.col("n") - (F.col("cum") - F.col("cnt")))
            / F.col("cnt"),
            6,
        ).alias("est"),
    )


QUERIES["corpus_length_quantiles"] = q_corpus_length_quantiles
ORACLES["corpus_length_quantiles"] = (
    "WITH b AS (SELECT source, least("
    f"{LQ_BINS - 1}, greatest(0, floor((n_chars - {LQ_LO}) "
    f"/ ({LQ_HI} - {LQ_LO}) * {LQ_BINS})))::BIGINT AS bin FROM documents), "
    "c AS (SELECT source, bin, count(*)::BIGINT AS cnt FROM b "
    "GROUP BY source, bin), "
    "cc AS (SELECT source, bin, cnt, (sum(cnt) OVER ("
    "PARTITION BY source ORDER BY bin))::BIGINT AS cum FROM c), "
    "t AS (SELECT source, sum(cnt)::BIGINT AS n FROM c GROUP BY source), "
    "qs AS (SELECT unnest(["
    + ", ".join(f"{q}::DOUBLE" for q in LQ_QS)
    + "]) AS q), "
    "cand AS (SELECT t.source, q, bin, cnt, cum, n, "
    "row_number() OVER (PARTITION BY t.source, q ORDER BY bin) AS rn "
    "FROM t CROSS JOIN qs JOIN cc ON t.source = cc.source "
    "WHERE cum >= q * n) "
    f"SELECT source, q, round({LQ_LO} + {LQ_WIDTH} * bin "
    f"+ {LQ_WIDTH} * (q * n - (cum - cnt)) / cnt, 6) AS est "
    "FROM cand WHERE rn = 1"
)


def q_corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) dataset-card roll-up — the summary table a data
    release ships (HF dataset-card style): document and whitespace-token
    counts, exact-duplicate documents, and each cell's share of corpus
    tokens. Counts are exact integers; the share is a ratio of two exact
    integers (identical doubles cross-engine). One aggregate pass plus a
    broadcast 1-row total."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias(
            "n_tokens"
        ),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text")))
        .cast("long")
        .alias("n_dup_docs"),
    )
    tot = per.agg(F.sum("n_tokens").alias("_tot"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        "n_dup_docs",
        F.round(F.col("n_tokens") / F.col("_tot"), 6).alias("token_share"),
    )


QUERIES["corpus_dataset_card"] = q_corpus_dataset_card
ORACLES["corpus_dataset_card"] = """
WITH per AS (
    SELECT source, lang, count(*)::BIGINT AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           (count(*) - count(DISTINCT md5(text)))::BIGINT AS n_dup_docs
    FROM documents GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS _tot FROM per)
SELECT source, lang, n_docs, n_tokens, n_dup_docs,
       round(n_tokens / _tot, 6) AS token_share
FROM per, tot
"""
