"""Training-pipeline utility queries: deterministic sampling, sketches,
PII redaction — each with an exact DuckDB oracle.

The sampling family and the KMV sketch are exactly reproducible across
engines because selection is a pure function of the portable md5 hash
(functions/hashing.py) — the oracle checks the SELECTED ROWS / SKETCH
VALUES, not just counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from giranking_spark.cache import cached
from giranking_spark.functions.hashing import (
    md5_u32_sql_duckdb,
    md5_u60_sql_duckdb,
)
from giranking_spark.operators.sampling import (
    PPM,
    domain_token_cap,
    hash_sample,
    stratified_sample,
    train_test_split,
    weighted_sample,
)
from giranking_spark.operators.sketches import (
    HLL_ALPHA_M2,
    HLL_M,
    HLL_P,
    HLL_SCALE,
    HLL_W_BITS,
    KMV_SPACE,
    heavy_hitters,
    hll_distinct,
    hll_sql_duckdb,
    kmv_distinct,
)
from giranking_spark.operators.textops import (
    PII_PATTERNS,
    contamination_stats,
    redact_pii,
)
from giranking_spark.sources.tables import load_table

SAMPLE_RATE_PPM = 250_000      # ~25% sample
TEST_PPM = 200_000             # ~20% test split
STRATA_N = 20                  # per-lang stratified sample size
KMV_K = 256
HH_MIN_COUNT = 40

# ---------------------------------------------------------------------------
# Spark callables


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", SAMPLE_RATE_PPM).select("doc_id", "lang")


def q_sample_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return train_test_split(docs, "doc_id", TEST_PPM).select("doc_id", "split")


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", "doc_id", STRATA_N).select("doc_id", "lang")


def q_sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return kmv_distinct(li, "l_partkey", KMV_K)


def q_sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return heavy_hitters(li, "l_partkey", HH_MIN_COUNT)


def q_sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog over lineitem part keys — the register-based
    companion to the KMV order-statistic sketch: constant 2 KB state,
    mergeable by register-wise max, estimate bit-reproducible cross-engine
    (exact-integer register sums, shared alpha literal)."""
    li = load_table(spark, sf_dir, "lineitem")
    return hll_distinct(li, "l_partkey")


#: deterministic synthetic-PII suffix — the fixture corpus is digit-free
#: word salad, so without this the redaction paths would never fire. Both
#: engines append the SAME suffix (pure function of doc_id), then redact.
def _with_pii(docs: DataFrame) -> DataFrame:
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".0.1 call 555-867-5309"),
        ),
    )


_PII_SUFFIX_SQL = (
    "text || ' contact user' || doc_id::VARCHAR || '@example.com from 10.' || "
    "(doc_id % 200)::VARCHAR || '.0.1 call 555-867-5309'"
)


def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_pii(load_table(spark, sf_dir, "documents"))
    return redact_pii(docs)


DOMAIN_BUDGET = 700       # per-source token budget (fixture sources ≈ 1300)


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling: keep probability equals the
    doc's quality score; decision is hash(doc_id) vs quality — row-local,
    reproducible, partition-invariant."""
    from giranking_spark.operators.textops import quality_expr

    # spread the single-split scan so the regex-heavy quality expression
    # runs at shuffle width, not at the scan's parallelism
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = (
        load_table(spark, sf_dir, "documents")
        .repartition(n)
        .withColumn("quality", quality_expr(F.col("text")))
    )
    return weighted_sample(docs, "doc_id", "quality").select("doc_id", "quality")


def q_corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget: highest-quality docs first until the domain's
    running token total hits DOMAIN_BUDGET — the data-mixing cap that stops
    one crawl domain from dominating the training mix."""
    from giranking_spark.functions import text as T
    from giranking_spark.operators.textops import quality_expr

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        quality_expr(F.col("text")).alias("quality"),
    )
    return domain_token_cap(
        docs, "source", "doc_id", "n_tokens", "quality", DOMAIN_BUDGET
    ).select("doc_id", "source", "n_tokens", "cum_tokens")


MIX_ALPHA = 0.3           # sampling temperature exponent (multilingual-LM style)
MIX_BUDGET = 1_000_000    # tokens to allocate across sources


def q_corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture: sampling weight w_s ∝ tokens_s^α
    with α = MIX_ALPHA, normalized over sources, and the per-source token
    allocation out of MIX_BUDGET. α < 1 up-weights small sources relative to
    proportional sampling — the standard rebalancing for multilingual /
    multi-domain training mixes (XLM-R-style exponentiated sampling).

    Scale: one map-side-combinable groupBy on source (the domain
    cardinality is tiny next to the corpus), then a broadcast one-row total
    — the same no-driver-state scalar pattern as the rank loop."""
    from giranking_spark.functions import text as T

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = load_table(spark, sf_dir, "documents").repartition(n)
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(T.token_count(F.col("text"))).cast("long").alias("n_tokens"),
    ).withColumn("w", F.pow(F.col("n_tokens"), F.lit(MIX_ALPHA)))
    total = per.agg(F.sum("w").alias("tw"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("w") / F.col("tw"), 6).alias("weight"),
            F.round(F.col("w") / F.col("tw") * MIX_BUDGET)
            .cast("long")
            .alias("alloc_tokens"),
        )
    )


SEQ_CTX = 512             # context-window size for sequence packing
SEQ_BUCKETS = 64          # prefix-sum buckets (parallelism of the cumsum)


def q_text_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence packing over BPE-ish token counts:
    global token offsets in doc_id order via the two-phase bucketed prefix
    sum (operators/packing.py — no single-task window over the data), then
    the chunk span each document occupies at SEQ_CTX tokens."""
    from giranking_spark.operators.packing import pack_offsets
    from giranking_spark.queries.textq import BPE_REGEX

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = load_table(spark, sf_dir, "documents").repartition(n)
    toks = docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_REGEX), F.lit(0))
        ).alias("n_tokens"),
    )
    return pack_offsets(toks, "doc_id", "n_tokens", SEQ_CTX, SEQ_BUCKETS)


CONTAM_N = 3              # production would use 8..13; fixture vocab is tiny
CONTAM_BENCH_PPM = 100_000  # ~10% of docs play the held-out benchmark


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: the hash-selected ~10% of documents
    act as the held-out benchmark; every remaining doc reports what fraction
    of its distinct 3-grams leak from that set."""
    from giranking_spark.operators.sampling import _bucket

    docs = load_table(spark, sf_dir, "documents")

    bench = docs.filter(_bucket("doc_id") < F.lit(CONTAM_BENCH_PPM))
    corpus = docs.filter(_bucket("doc_id") >= F.lit(CONTAM_BENCH_PPM))
    return contamination_stats(corpus, bench, CONTAM_N)


def q_sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-layout partitioned parquet sink roundtrip: write documents
    partitioned by lang, read back, aggregate per partition.

    The scale-relevant properties this exercises: partitionBy writes one
    directory per key (the layout that enables partition PRUNING on read —
    a `WHERE lang='en'` scan never touches other partitions), and the
    read-back recovers the partition column from directory names. Scratch
    path is per-application (no cross-run collisions)."""
    from giranking_spark.queries.textsrcq import _scratch

    path = _scratch(spark, sf_dir, "sink_partitioned_parquet")
    docs = load_table(spark, sf_dir, "documents")
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy(F.col("lang").cast("string").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


QUERIES = {
    "sample_hash": q_sample_hash,
    "sample_train_test": q_sample_train_test,
    "sample_stratified": q_sample_stratified,
    "sketch_kmv_distinct": q_sketch_kmv_distinct,
    "sketch_heavy_hitters": q_sketch_heavy_hitters,
    "sketch_hll_distinct": q_sketch_hll_distinct,
    "text_redact": q_text_redact,
    "text_contamination": q_text_contamination,
    "text_seq_pack": q_text_seq_pack,
    "sample_weighted": q_sample_weighted,
    "corpus_domain_cap": q_corpus_domain_cap,
    "corpus_mix_temperature": q_corpus_mix_temperature,
    "sink_partitioned_parquet": q_sink_partitioned_parquet,
}

# ---------------------------------------------------------------------------
# oracles

_BUCKET = f"({md5_u32_sql_duckdb('doc_id::VARCHAR')} % {PPM})"

_REDACT_SQL = f"({_PII_SUFFIX_SQL})"
for _pat, _tok in PII_PATTERNS:
    _REDACT_SQL = f"regexp_replace({_REDACT_SQL}, '{_pat}', '{_tok}', 'g')"
_PLACEHOLDER_RE = "|".join(tok for _, tok in PII_PATTERNS)

ORACLES = {
    "sample_hash": (
        f"SELECT doc_id, lang FROM documents WHERE {_BUCKET} < {SAMPLE_RATE_PPM}"
    ),
    "sample_train_test": (
        f"SELECT doc_id, CASE WHEN {_BUCKET} < {TEST_PPM} THEN 'test' ELSE 'train' END"
        " AS split FROM documents"
    ),
    "sample_stratified": (
        f"SELECT doc_id, lang FROM ("
        f"SELECT doc_id, lang, row_number() OVER ("
        f"PARTITION BY lang ORDER BY {_BUCKET} ASC, doc_id ASC) AS rn "
        f"FROM documents) WHERE rn <= {STRATA_N}"
    ),
    "sketch_kmv_distinct": (
        f"WITH h AS (SELECT DISTINCT {md5_u60_sql_duckdb('l_partkey::VARCHAR')} AS h "
        "FROM lineitem), "
        f"k AS (SELECT h FROM h ORDER BY h LIMIT {KMV_K}) "
        "SELECT CAST(count(*) AS BIGINT) AS k_used, max(h) AS kth_min, "
        f"round(CASE WHEN count(*) < {KMV_K} THEN count(*)::DOUBLE "
        f"ELSE ({float(KMV_K - 1)!r} * {KMV_SPACE!r}) / max(h) END, 6) AS est_distinct "
        "FROM k"
    ),
    "sketch_heavy_hitters": (
        "SELECT l_partkey::VARCHAR AS value, CAST(count(*) AS BIGINT) AS cnt "
        f"FROM lineitem GROUP BY 1 HAVING count(*) >= {HH_MIN_COUNT}"
    ),
    # portable HLL: identical register layout + exact-integer contribution
    # sums + the same alpha literal on both sides, so even the float
    # estimate hash-matches; SQL built by the shared operators/sketches.py
    # builder so the two HLL oracles can never drift
    "sketch_hll_distinct": hll_sql_duckdb(
        f"SELECT {md5_u60_sql_duckdb('l_partkey::VARCHAR')} AS h FROM lineitem"
    ),
    "text_redact": (
        f"WITH r AS (SELECT doc_id, {_REDACT_SQL} AS clean_text FROM documents) "
        "SELECT doc_id, clean_text, "
        f"CAST(len(regexp_extract_all(clean_text, '{_PLACEHOLDER_RE}')) AS BIGINT)"
        " AS n_redacted FROM r"
    ),
    "sample_weighted": (
        "WITH {__QUALITY_CTES__} "
        f"SELECT doc_id, quality FROM q WHERE ({_BUCKET.replace('doc_id', 'q.doc_id')})"
        f" < floor(quality * {PPM} + 0.5)::BIGINT"
    ),
    "corpus_mix_temperature": (
        "WITH t AS (SELECT source, count(*)::BIGINT AS n_docs, "
        "sum(len(list_filter(string_split_regex(trim(text), '\\s+'), "
        "x -> x <> '')))::BIGINT AS n_tokens FROM documents GROUP BY source), "
        f"w AS (SELECT *, pow(n_tokens, {MIX_ALPHA}) AS w FROM t) "
        "SELECT source, n_docs, n_tokens, "
        "round(w / sum(w) OVER (), 6) AS weight, "
        f"CAST(round(w / sum(w) OVER () * {MIX_BUDGET}) AS BIGINT) AS alloc_tokens "
        "FROM w"
    ),
    "corpus_domain_cap": (
        "WITH {__QUALITY_CTES__}, "
        "j AS (SELECT d.doc_id, d.source, "
        "len(list_filter(string_split_regex(trim(d.text), '\\s+'), x -> x <> ''))::BIGINT"
        " AS n_tokens, q.quality "
        "FROM documents d JOIN q ON d.doc_id = q.doc_id), "
        "c AS (SELECT doc_id, source, n_tokens, "
        "sum(n_tokens) OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC "
        "ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens FROM j) "
        "SELECT doc_id, source, n_tokens, cum_tokens FROM c "
        f"WHERE cum_tokens <= {DOMAIN_BUDGET}"
    ),
    "text_seq_pack": (
        "WITH t AS (SELECT doc_id, "
        "len(regexp_extract_all(lower(text), '{__BPE_REGEX__}'))::BIGINT"
        " AS n_tokens FROM documents), "
        "s AS (SELECT doc_id, n_tokens, coalesce(sum(n_tokens) OVER ("
        "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT"
        " AS start_off FROM t) "
        "SELECT doc_id, n_tokens, start_off, "
        f"CASE WHEN n_tokens > 0 THEN start_off // {SEQ_CTX} END::BIGINT AS chunk_first, "
        f"CASE WHEN n_tokens > 0 THEN (start_off + n_tokens - 1) // {SEQ_CTX} END::BIGINT"
        " AS chunk_last, "
        f"(CASE WHEN n_tokens > 0 THEN (start_off + n_tokens - 1) // {SEQ_CTX} "
        f"- start_off // {SEQ_CTX} + 1 ELSE 0 END)::BIGINT AS n_chunks "
        "FROM s"
    ),
    "text_contamination": (
        # words/shingles mirror queries/textq.py WORDS_SQL; slicing
        # words[i:i+n-1] yields the n-element gram, '_'-joined like Spark
        "WITH w AS (SELECT doc_id, "
        "list_filter(string_split_regex(trim(regexp_replace(lower(text), "
        "'[^a-z0-9à-ÿ]+', ' ', 'g')), '\\s+'), x -> x <> '') AS words, "
        f"{_BUCKET} AS bucket FROM documents), "
        "sh AS (SELECT DISTINCT doc_id, bucket, "
        f"array_to_string(words[i:i+{CONTAM_N - 1}], '_') AS g "
        f"FROM w, unnest(generate_series(1, len(words) - {CONTAM_N - 1})) t(i) "
        f"WHERE len(words) >= {CONTAM_N}), "
        f"b AS (SELECT DISTINCT g FROM sh WHERE bucket < {CONTAM_BENCH_PPM}), "
        f"c AS (SELECT doc_id, g FROM sh WHERE bucket >= {CONTAM_BENCH_PPM}), "
        "tot AS (SELECT doc_id, count(*) AS n_grams FROM c GROUP BY doc_id), "
        "hit AS (SELECT c.doc_id, count(*) AS n_hit FROM c JOIN b USING (g) "
        "GROUP BY c.doc_id) "
        "SELECT w.doc_id, coalesce(tot.n_grams, 0)::BIGINT AS n_grams, "
        "coalesce(hit.n_hit, 0)::BIGINT AS n_hit, "
        "round(coalesce(hit.n_hit / tot.n_grams::DOUBLE, 0.0), 6) AS contam_frac "
        "FROM w LEFT JOIN tot USING (doc_id) LEFT JOIN hit USING (doc_id) "
        f"WHERE w.bucket >= {CONTAM_BENCH_PPM}"
    ),
    "sink_partitioned_parquet": (
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM documents GROUP BY lang"
    ),
}

# shared SQL fragments from queries/textq.py — substituted (not inlined) so
# the dialect mirrors cannot drift from the text-family oracles
from giranking_spark.queries.textq import (  # noqa: E402
    BPE_REGEX as _BPE_REGEX,
    PUNCT_SQL as _PUNCT_SQL,
    TOKENS_SQL as _TOKENS_SQL,
    WORDS_SQL as _WORDS_SQL,
    _stop_count_sql,
)

ORACLES["text_seq_pack"] = ORACLES["text_seq_pack"].replace(
    "{__BPE_REGEX__}", _BPE_REGEX
)

#: quality-score CTE chain ending in q(doc_id, quality) — the exact mirror of
#: operators/textops.py:quality_expr, same formula as textq's text_quality
_QUALITY_CTES = (
    f"w AS (SELECT doc_id, text, {_WORDS_SQL} AS words FROM documents), "
    f"m AS (SELECT doc_id, len({_TOKENS_SQL}) AS n_tok, "
    f"{_stop_count_sql('en', 'words')} AS stop, "
    f"{_PUNCT_SQL} / greatest(length(text), 1) AS punct FROM w), "
    "q AS (SELECT doc_id, round("
    "0.4 * least(n_tok / 100.0, 1.0) "
    "+ 0.3 * (1.0 - least(punct * 4, 1.0)) "
    "+ 0.3 * least(stop / greatest(n_tok, 1) * 5, 1.0), 6) AS quality FROM m)"
)
for _k in ("sample_weighted", "corpus_domain_cap"):
    ORACLES[_k] = ORACLES[_k].replace("{__QUALITY_CTES__}", _QUALITY_CTES)


KMV_GROUP_K = 64


def q_sketch_kmv_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimate via the grouped KMV sketch —
    the segment-cardinality report (distinct users per funnel step,
    distinct tokens per domain) where one global estimate isn't enough.
    Same engine-portable order statistic as ``sketch_kmv_distinct``, so
    the ESTIMATES are oracle-exact, per group."""
    from giranking_spark.operators.sketches import kmv_distinct_by

    ev = load_table(spark, sf_dir, "events")
    return kmv_distinct_by(ev, "event_type", "user_id", KMV_GROUP_K)


QUERIES["sketch_kmv_grouped"] = q_sketch_kmv_grouped
ORACLES["sketch_kmv_grouped"] = (
    "WITH h AS (SELECT DISTINCT event_type AS grp, "
    f"{md5_u60_sql_duckdb('user_id::VARCHAR')} AS h FROM events), "
    "r AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) "
    "AS rn FROM h), "
    f"k AS (SELECT grp, h FROM r WHERE rn <= {KMV_GROUP_K}) "
    "SELECT grp, CAST(count(*) AS BIGINT) AS k_used, max(h) AS kth_min, "
    f"round(CASE WHEN count(*) < {KMV_GROUP_K} THEN count(*)::DOUBLE "
    f"ELSE ({float(KMV_GROUP_K - 1)!r} * {KMV_SPACE!r}) / max(h) END, 6) "
    "AS est_distinct FROM k GROUP BY grp"
)


KMV_SETOP_K = 64
KMV_SET_A = "click"
KMV_SET_B = "purchase"


def q_sketch_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style set-intersection estimate from KMV sketches:
    |users(click) ∩ users(purchase)| without materializing either set —
    the audience-overlap primitive behind funnel/segment analytics at
    warehouse scale.  Take the k smallest distinct hashes of the UNION,
    flag each as member of A and/or B (two semi-join-shaped lookups on
    the k-row sample), and scale the overlap fraction by the union
    estimate: est_inter = overlap/k_used · est_union.  When the union has
    fewer than k distinct hashes everything degrades to EXACT counts.
    The sample is k rows — both membership joins broadcast it."""
    from giranking_spark.functions.hashing import md5_u60

    ev = load_table(spark, sf_dir, "events")

    def _hashes(t: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == t)
            .select(md5_u60(F.col("user_id").cast("string")).alias("h"))
            .distinct()
        )

    a, b = _hashes(KMV_SET_A), _hashes(KMV_SET_B)
    u = a.union(b).distinct().orderBy("h").limit(KMV_SETOP_K)
    flagged = (
        u.join(a.withColumn("in_a", F.lit(1)), "h", "left")
        .join(b.withColumn("in_b", F.lit(1)), "h", "left")
        .select(
            "h",
            F.coalesce("in_a", F.lit(0)).alias("in_a"),
            F.coalesce("in_b", F.lit(0)).alias("in_b"),
        )
    )
    stats = flagged.agg(
        F.count("*").alias("k_used"),
        F.max("h").alias("theta"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_overlap"),
    ).select(
        "k_used",
        "n_overlap",
        F.round(
            F.when(
                F.col("k_used") < F.lit(KMV_SETOP_K),
                F.col("k_used").cast("double"),
            ).otherwise(
                (F.lit(float(KMV_SETOP_K - 1)) * F.lit(KMV_SPACE))
                / F.col("theta")
            ),
            6,
        ).alias("est_union"),
    )
    return stats.select(
        "k_used",
        "n_overlap",
        "est_union",
        F.round(
            F.col("n_overlap") / F.col("k_used") * F.col("est_union"), 6
        ).alias("est_inter"),
    )


QUERIES["sketch_kmv_intersect"] = q_sketch_kmv_intersect
_KMV_H = md5_u60_sql_duckdb("user_id::VARCHAR")
ORACLES["sketch_kmv_intersect"] = (
    f"WITH a AS (SELECT DISTINCT {_KMV_H} AS h FROM events "
    f"WHERE event_type = '{KMV_SET_A}'), "
    f"b AS (SELECT DISTINCT {_KMV_H} AS h FROM events "
    f"WHERE event_type = '{KMV_SET_B}'), "
    "un AS (SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b) "
    f"ORDER BY h LIMIT {KMV_SETOP_K}), "
    "f AS (SELECT un.h, "
    "CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a, "
    "CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b "
    "FROM un LEFT JOIN a ON un.h = a.h LEFT JOIN b ON un.h = b.h), "
    "s AS (SELECT count(*)::BIGINT AS k_used, max(h) AS theta, "
    "sum(in_a * in_b)::BIGINT AS n_overlap FROM f), "
    "e AS (SELECT k_used, n_overlap, "
    f"round(CASE WHEN k_used < {KMV_SETOP_K} THEN k_used::DOUBLE "
    f"ELSE ({float(KMV_SETOP_K - 1)!r} * {KMV_SPACE!r}) / theta END, 6) "
    "AS est_union FROM s) "
    "SELECT k_used, n_overlap, est_union, "
    "round(n_overlap / k_used * est_union, 6) AS est_inter FROM e"
)


RESERVOIR_K = 10


def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly ``RESERVOIR_K`` docs per language, selection probability
    proportional to document length (A-ES weighted reservoir,
    operators/sampling.weighted_reservoir) — the fixed-quota data-mixing
    sampler.  The oracle re-derives the identical priority keys, so the
    SELECTED ROWS are oracle-exact, not just the quota."""
    from giranking_spark.operators.sampling import weighted_reservoir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return weighted_reservoir(docs, "lang", "doc_id", "n_chars", RESERVOIR_K)


QUERIES["sample_reservoir"] = q_sample_reservoir
ORACLES["sample_reservoir"] = (
    f"WITH b AS (SELECT doc_id, lang, n_chars, "
    f"({_BUCKET} + 1) / {PPM} AS u FROM documents), "
    "r AS (SELECT doc_id, lang, n_chars, row_number() OVER ("
    "PARTITION BY lang ORDER BY -ln(u) / n_chars ASC, doc_id ASC) AS rn "
    "FROM b) "
    f"SELECT doc_id, lang, n_chars FROM r WHERE rn <= {RESERVOIR_K}"
)


# ---- Count-Min sketch ------------------------------------------------------

CM_DEPTH = 4          # hash rows (shared HASH_FAMILY[0:4])
CM_WIDTH = 256        # counters per row
CM_TOPN = 20          # point-query set: top-N true-frequency tokens


def q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over the corpus word
    stream: DEPTH x WIDTH counters, each token incrementing one counter per
    hash row; a point query reads the MIN across rows (overestimate-only).
    Output: the CM_TOPN highest-true-frequency tokens with true count and
    CM estimate — est >= true always, equality when no collisions.

    Scale shape: the sketch build is ONE map-side-combinable aggregate to a
    fixed DEPTH*WIDTH-row relation (constant memory at any corpus size —
    the entire point of the sketch); estimates come from a broadcast-size
    equi-join of the query tokens against those counters.  The hash family
    is the engine-portable md5 affine family shared with MinHash."""
    from giranking_spark.functions.hashing import cm_cells, md5_u32
    from giranking_spark.functions.text import words

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(words(F.col("text"))).alias("w"))
    )
    cells = cm_cells(md5_u32(F.col("w")), CM_DEPTH, CM_WIDTH)
    counters = (
        toks.select(F.explode(cells).alias("cell"))
        .groupBy(F.col("cell.d").alias("d"), F.col("cell.c").alias("c"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    true_top = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.desc("true_count"), F.asc("w"))
        .limit(CM_TOPN)
    )
    probes = true_top.select(
        "w", "true_count", F.explode(cells).alias("cell")
    ).select("w", "true_count", F.col("cell.d").alias("d"), F.col("cell.c").alias("c"))
    return (
        probes.join(F.broadcast(counters), ["d", "c"])
        .groupBy(F.col("w").alias("token"), "true_count")
        .agg(F.min("cnt").alias("cm_estimate"))
        .orderBy(F.desc("true_count"), F.asc("token"))
    )


def _countmin_sql() -> str:
    from giranking_spark.functions.hashing import HASH_FAMILY, MERSENNE_P

    fam = ", ".join(
        f"({d}, {HASH_FAMILY[d][0]}, {HASH_FAMILY[d][1]})"
        for d in range(CM_DEPTH)
    )
    h = md5_u32_sql_duckdb("w")
    return f"""
WITH toks AS (SELECT unnest({_WORDS_SQL}) AS w FROM documents),
fam(d, a, b) AS (SELECT * FROM (VALUES {fam})),
cells AS (
    SELECT w, d, ((a * {h} + b) % {MERSENNE_P}) % {CM_WIDTH} AS c
    FROM toks CROSS JOIN fam
),
counters AS (SELECT d, c, count(*) AS cnt FROM cells GROUP BY d, c),
true_top AS (
    SELECT w, count(*) AS true_count FROM toks GROUP BY w
    ORDER BY true_count DESC, w ASC LIMIT {CM_TOPN}
),
probes AS (
    SELECT t.w, t.true_count, d,
           ((f.a * {md5_u32_sql_duckdb('t.w')} + f.b) % {MERSENNE_P})
               % {CM_WIDTH} AS c
    FROM true_top t CROSS JOIN fam f
)
SELECT p.w AS token, p.true_count, min(k.cnt)::BIGINT AS cm_estimate
FROM probes p JOIN counters k ON p.d = k.d AND p.c = k.c
GROUP BY p.w, p.true_count
ORDER BY true_count DESC, token ASC
"""


QUERIES["sketch_countmin"] = q_sketch_countmin
ORACLES["sketch_countmin"] = _countmin_sql()


# ---- HLL mergeability: per-segment sketches -> global union ---------------


def q_sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes sketches the 100 TB distinct-count answer,
    demonstrated end-to-end: per-event-type HLL registers are built
    independently (as per-segment scans would be on a cluster), then the
    GLOBAL estimate is computed by register-wise-max MERGE of those
    per-type sketches — never re-reading the raw data.  The oracle computes
    the 'ALL' row directly from the raw rows, so a green hash certifies
    merge(per-segment sketches) == sketch(whole data) value-for-value."""
    from giranking_spark.operators.sketches import hll_finalize, hll_register_rows

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    # the (type, register) relation is tiny (types x m rows) and has two
    # consumers — eagerly checkpoint it (blocks are freed with the
    # DataFrame, unlike an unpersisted .persist())
    regs = (
        hll_register_rows(ev, "user_id", "event_type")
        .groupBy("event_type", "idx")
        .agg(F.max("rho").alias("r"))
        .localCheckpoint(eager=True)
    )
    per_type = hll_finalize(regs, "event_type")
    merged = regs.groupBy("idx").agg(F.max("r").alias("r"))
    global_row = hll_finalize(merged).select(
        F.lit("ALL").alias("event_type"), "m_used", "n_zero", "est_distinct"
    )
    return per_type.unionByName(global_row)


def _hll_merge_sql() -> str:
    from giranking_spark.functions.hashing import md5_u60_sql_duckdb
    from giranking_spark.operators.sketches import hll_sql_duckdb

    h = md5_u60_sql_duckdb("user_id::VARCHAR")
    per = hll_sql_duckdb(
        f"SELECT event_type, {h} AS h FROM events", keys=("event_type",)
    )
    glob = hll_sql_duckdb(f"SELECT {h} AS h FROM events")
    return (
        f"SELECT event_type, m_used, n_zero, est_distinct FROM ({per}) "
        "UNION ALL "
        "SELECT 'ALL' AS event_type, m_used, n_zero, est_distinct "
        f"FROM ({glob})"
    )


QUERIES["sketch_hll_merge"] = q_sketch_hll_merge
ORACLES["sketch_hll_merge"] = _hll_merge_sql()


# ---------------------------------------------------------------------------
# Neyman-allocation stratified sampling

NEYMAN_BUDGET = 100


def q_sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal-allocation stratified sampling (Neyman 1934): the per-stratum
    budget is proportional to N_h·σ_h — variable strata get more samples,
    uniform strata fewer — the survey-statistics upgrade over equal
    per-stratum counts. σ_h is the population std of document length,
    ROUNDED to 6 before the allocation so both engines floor the identical
    share (the shared rounded-threshold convention); within a stratum the
    sample is the deterministic top-n-by-hash. Floor allocation may leave
    a small remainder of the budget unassigned — documented, exact on both
    engines."""
    from giranking_spark.functions.hashing import md5_u32

    docs = load_table(spark, sf_dir, "documents")
    st = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("ss"),
    )
    sigma = F.round(
        F.sqrt((F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / F.col("n")),
        6,
    )
    w = st.select("lang", "n", (F.col("n") * sigma).alias("w"))
    tot = w.agg(F.sum("w").alias("tot"))
    alloc = (
        w.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.floor(F.lit(NEYMAN_BUDGET) * F.col("w") / F.col("tot"))
            .cast("int")
            .alias("n_alloc"),
        )
    )
    h = md5_u32(F.concat(F.lit("ney:"), F.col("doc_id").cast("string")))
    win = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.join(F.broadcast(alloc), "lang")
        .withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= F.col("n_alloc"))
        .select("doc_id", "lang")
    )


from giranking_spark.functions.hashing import md5_u32_sql_duckdb as _mney  # noqa: E402

QUERIES["sample_neyman"] = q_sample_neyman
ORACLES["sample_neyman"] = (
    "WITH st AS (SELECT lang, count(*)::BIGINT AS n, sum(n_chars) AS s, "
    "sum(n_chars * n_chars) AS ss FROM documents GROUP BY lang), "
    "w AS (SELECT lang, n, "
    "n * round(sqrt((ss - s * s / n) / n), 6) AS w FROM st), "
    "tot AS (SELECT sum(w) AS tot FROM w), "
    f"alloc AS (SELECT lang, floor({NEYMAN_BUDGET} * w / tot)::INT "
    "AS n_alloc FROM w, tot), "
    "r AS (SELECT d.doc_id, d.lang, a.n_alloc, row_number() OVER ("
    "PARTITION BY d.lang ORDER BY "
    + _mney("'ney:' || d.doc_id::VARCHAR")
    + " ASC, d.doc_id ASC) AS rn "
    "FROM documents d JOIN alloc a ON d.lang = a.lang) "
    "SELECT doc_id, lang FROM r WHERE rn <= n_alloc"
)


# ---- Bloom filter with measured false-positive rate -------------------------

#: Bloom geometry (shared Spark/oracle contract): m = 2^14 bits, k = 4
#: hash positions from the 4 disjoint 8-hex-digit slices of one md5 —
#: the same engine-portable hash family as every other sketch here.
BLOOM_M = 16384
BLOOM_K = 4


def q_sketch_bloom_fpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter build + EXACT false-positive-rate measurement: even
    doc_ids' content fingerprints populate the filter, odd doc_ids probe
    it, and the exact membership anti-join splits probe hits into true
    and false positives — the calibration readout that tells a dedup /
    cache layer what its bloom pre-filter actually costs in wasted lookups
    (vs the theoretical (1-e^{-kn/m})^k).

    Scale shape: the filter is ONE map-side-combinable distinct over at
    most m = 2^14 position rows (constant size at any corpus scale — the
    point of a bloom); probes semi-join that fixed relation on the
    position key, and the per-probe all-k-present test is a count
    comparison, not per-bit state. Everything is exact integers; the two
    ratios divide exact counts."""
    docs = load_table(spark, sf_dir, "documents")

    def positions(col):
        return [
            (
                F.conv(F.substring(F.md5(col), 1 + 8 * j, 8), 16, 10)
                .cast("long") % BLOOM_M
            ).alias(f"p{j}")
            for j in range(BLOOM_K)
        ]

    keyed = docs.select(
        (F.col("doc_id") % 2 == 0).alias("is_build"),
        F.md5(F.col("text")).alias("key"),
        *positions(F.col("text")),
    )
    pos_arr = F.array_distinct(F.array(*[f"p{j}" for j in range(BLOOM_K)]))
    keyed = keyed.select(
        "is_build", "key", pos_arr.alias("pos")
    ).dropDuplicates(["is_build", "key"])
    build = keyed.filter(F.col("is_build"))
    probe = keyed.filter(~F.col("is_build"))
    bits = build.select(F.explode("pos").alias("bit")).distinct()
    probe_bits = probe.select("key", F.size("pos").alias("n_pos"), F.explode("pos").alias("bit"))
    hits = (
        probe_bits.join(bits, "bit")
        .groupBy("key", "n_pos")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .filter(F.col("n_match") == F.col("n_pos"))
        .select("key")
    )
    truth = build.select("key").distinct()
    # scalar roll-up as broadcast single-row aggregates (no driver counts,
    # one job): every branch below is a one-row relation
    s_build = truth.agg(F.count(F.lit(1)).cast("long").alias("n_build"))
    s_bits = bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
    s_probe = probe.agg(F.count(F.lit(1)).cast("long").alias("n_probes"))
    s_hits = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    s_true = hits.join(truth, "key", "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("n_true_pos")
    )
    s_neg = probe.join(truth, "key", "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("n_neg")
    )
    out = (
        s_build.crossJoin(F.broadcast(s_bits))
        .crossJoin(F.broadcast(s_probe))
        .crossJoin(F.broadcast(s_hits))
        .crossJoin(F.broadcast(s_true))
        .crossJoin(F.broadcast(s_neg))
    )
    n_false = F.col("n_hits") - F.col("n_true_pos")
    return out.select(
        F.lit(BLOOM_M).cast("long").alias("m_bits"),
        "n_build",
        "n_bits_set",
        "n_probes",
        "n_hits",
        "n_true_pos",
        n_false.alias("n_false_pos"),
        F.when(F.col("n_neg") == 0, F.lit(0.0))
        .otherwise(F.round(n_false / F.col("n_neg"), 6))
        .alias("fpp"),
    )


def _bloom_md5_pos(expr: str, j: int) -> str:
    return (
        f"(('0x' || substr(md5({expr}), {1 + 8 * j}, 8))::BIGINT % {BLOOM_M})"
    )


QUERIES["sketch_bloom_fpp"] = q_sketch_bloom_fpp
ORACLES["sketch_bloom_fpp"] = (
    "WITH keyed AS (SELECT DISTINCT doc_id % 2 = 0 AS is_build, "
    "md5(text) AS key, list_distinct(["
    + ", ".join(_bloom_md5_pos("text", j) for j in range(BLOOM_K))
    + "]) AS pos FROM documents), "
    "build AS (SELECT * FROM keyed WHERE is_build), "
    "probe AS (SELECT * FROM keyed WHERE NOT is_build), "
    "bits AS (SELECT DISTINCT unnest(pos) AS bit FROM build), "
    "pb AS (SELECT key, len(pos) AS n_pos, unnest(pos) AS bit FROM probe), "
    "hits AS (SELECT pb.key FROM pb JOIN bits ON pb.bit = bits.bit "
    "GROUP BY pb.key, pb.n_pos HAVING count(*) = pb.n_pos), "
    "truth AS (SELECT DISTINCT key FROM build), "
    "stats AS (SELECT "
    "(SELECT count(*) FROM truth) AS n_build, "
    "(SELECT count(*) FROM bits) AS n_bits_set, "
    "(SELECT count(*) FROM probe) AS n_probes, "
    "(SELECT count(*) FROM hits) AS n_hits, "
    "(SELECT count(*) FROM hits SEMI JOIN truth ON hits.key = truth.key) "
    "AS n_true_pos, "
    "(SELECT count(*) FROM probe ANTI JOIN truth ON probe.key = truth.key) "
    "AS n_neg) "
    f"SELECT {BLOOM_M}::BIGINT AS m_bits, n_build::BIGINT AS n_build, "
    "n_bits_set::BIGINT AS n_bits_set, n_probes::BIGINT AS n_probes, "
    "n_hits::BIGINT AS n_hits, n_true_pos::BIGINT AS n_true_pos, "
    "(n_hits - n_true_pos)::BIGINT AS n_false_pos, "
    "CASE WHEN n_neg = 0 THEN 0e0 ELSE "
    "round((n_hits - n_true_pos) / (n_neg * 1e0), 6) END AS fpp FROM stats"
)


# ---- HLL error evaluation vs exact ground truth -----------------------------

def q_sketch_hll_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL estimate vs EXACT distinct for three key columns — the sketch
    calibration audit (the recall-eval pattern the LSH and IVFPQ families
    already carry, completed for cardinality sketches): per column, the
    exact count, the portable-HLL estimate and the relative error. The
    exact side is one distinct-aggregate per column; the sketch side is
    the same bounded-register pipeline as sketch_hll_distinct."""
    from giranking_spark.operators.sketches import hll_distinct

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cases = [
        ("l_partkey", li),
        ("l_suppkey", li),
        ("o_custkey", o),
    ]
    outs = []
    for col, df in cases:
        est = hll_distinct(df, col).select(
            F.lit(col).alias("key_col"), "est_distinct"
        )
        exact = df.agg(
            F.countDistinct(F.col(col)).cast("long").alias("exact_distinct")
        )
        outs.append(est.crossJoin(F.broadcast(exact)))
    out = outs[0]
    for r in outs[1:]:
        out = out.unionByName(r)
    return out.select(
        "key_col",
        "exact_distinct",
        "est_distinct",
        F.round(
            (F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct").cast("double"),
            6,
        ).alias("rel_err"),
    )


def _hll_eval_sql(col: str, table: str) -> str:
    inner = hll_sql_duckdb(
        f"SELECT {md5_u60_sql_duckdb(col + '::VARCHAR')} AS h FROM {table}"
    )
    return (
        f"SELECT '{col}' AS key_col, "
        f"(SELECT count(DISTINCT {col}) FROM {table})::BIGINT "
        "AS exact_distinct, est_distinct, "
        f"round((est_distinct - (SELECT count(DISTINCT {col}) FROM {table})) "
        f"/ ((SELECT count(DISTINCT {col}) FROM {table}) * 1e0), 6) "
        f"AS rel_err FROM ({inner})"
    )


QUERIES["sketch_hll_error_eval"] = q_sketch_hll_error_eval
ORACLES["sketch_hll_error_eval"] = (
    _hll_eval_sql("l_partkey", "lineitem")
    + " UNION ALL "
    + _hll_eval_sql("l_suppkey", "lineitem")
    + " UNION ALL "
    + _hll_eval_sql("o_custkey", "orders")
)


# ---- theta-sketch set intersection --------------------------------------------

THETA_K = 64
THETA_A_TYPE = "click"
THETA_B_TYPE = "purchase"


def q_sketch_theta_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch intersection (Dasgupta et al., DataSketches theta
    family): estimate |users(click) ∩ users(purchase)| from two
    THETA_K-minimum-value sketches — the mergeable-audience-overlap
    primitive ad/analytics warehouses keep per segment so intersections
    never rescan raw data. theta = each sketch's k-th minimum hash (or
    full space when the set is smaller than k); retained = shared sketch
    hashes below min(theta_a, theta_b); estimate = retained / (theta/space).
    Every value up to the final estimate is an exact BIGINT order
    statistic (md5_u60 hashes), so both engines agree bit-for-bit; the
    exact intersection rides along to grade the estimate."""
    from giranking_spark.functions.hashing import md5_u60
    from giranking_spark.operators.sketches import KMV_SPACE
    from giranking_spark.queries.relational import load_events

    ev = load_events(spark, sf_dir)

    def sk(etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .select(md5_u60(F.col("user_id").cast("string")).alias("h"))
            .distinct()
            .orderBy("h")
            .limit(THETA_K)
        )

    with cached(sk(THETA_A_TYPE), sk(THETA_B_TYPE)) as (sa, sb):
        full = F.lit(int(KMV_SPACE))
        ta = sa.agg(
            F.count(F.lit(1)).alias("ka"),
            F.when(F.count(F.lit(1)) < THETA_K, full).otherwise(F.max("h")).alias("theta_a"),
        )
        tb = sb.agg(
            F.count(F.lit(1)).alias("kb"),
            F.when(F.count(F.lit(1)) < THETA_K, full).otherwise(F.max("h")).alias("theta_b"),
        )
        thetas = ta.crossJoin(F.broadcast(tb)).select(
            "ka", "kb", F.least("theta_a", "theta_b").alias("theta")
        )
        retained = (
            sa.join(sb, "h")
            .crossJoin(F.broadcast(thetas))
            .filter(F.col("h") < F.col("theta"))
            .groupBy()
            .agg(F.count(F.lit(1)).cast("long").alias("n_retained"))
        )
        exact = (
            ev.filter(F.col("event_type") == THETA_A_TYPE)
            .select("user_id")
            .intersect(
                ev.filter(F.col("event_type") == THETA_B_TYPE).select("user_id")
            )
            .groupBy()
            .agg(F.count(F.lit(1)).cast("long").alias("exact_intersect"))
        )
        return (
            thetas.crossJoin(F.broadcast(retained))
            .crossJoin(F.broadcast(exact))
            .select(
                F.col("ka").cast("long").alias("ka"),
                F.col("kb").cast("long").alias("kb"),
                "n_retained",
                F.round(
                    F.col("n_retained") * F.lit(float(KMV_SPACE)) / F.col("theta"),
                    6,
                ).alias("est_intersect"),
                "exact_intersect",
            )
        ).localCheckpoint()


QUERIES["sketch_theta_intersect"] = q_sketch_theta_intersect

from giranking_spark.functions.hashing import md5_u60_sql_duckdb as _mth  # noqa: E402

_TH_H = _mth("CAST(user_id AS VARCHAR)")
ORACLES["sketch_theta_intersect"] = f"""
WITH sa AS (SELECT DISTINCT {_TH_H} AS h FROM events
            WHERE event_type = '{THETA_A_TYPE}' ORDER BY h LIMIT {THETA_K}),
sb AS (SELECT DISTINCT {_TH_H} AS h FROM events
       WHERE event_type = '{THETA_B_TYPE}' ORDER BY h LIMIT {THETA_K}),
ta AS (SELECT count(*)::BIGINT AS ka,
              CASE WHEN count(*) < {THETA_K} THEN {int(2**60)}
                   ELSE max(h) END AS theta_a FROM sa),
tb AS (SELECT count(*)::BIGINT AS kb,
              CASE WHEN count(*) < {THETA_K} THEN {int(2**60)}
                   ELSE max(h) END AS theta_b FROM sb),
thetas AS (SELECT ka, kb, least(theta_a, theta_b) AS theta FROM ta, tb),
retained AS (SELECT count(*)::BIGINT AS n_retained
             FROM sa JOIN sb USING (h), thetas WHERE sa.h < thetas.theta),
exact AS (SELECT count(*)::BIGINT AS exact_intersect FROM
          (SELECT user_id FROM events WHERE event_type = '{THETA_A_TYPE}'
           INTERSECT
           SELECT user_id FROM events WHERE event_type = '{THETA_B_TYPE}'))
SELECT ka, kb, n_retained,
       round(n_retained * {float(2**60)!r} / theta, 6) AS est_intersect,
       exact_intersect
FROM thetas, retained, exact
"""


# ---- Count-Min error evaluation over the FULL vocabulary --------------------

CMS_E = 2.718281828459045  # shared literal: the e in the eps = e/width bound


def q_sketch_cms_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min error evaluation over EVERY distinct token (not just the
    top-N point queries sketch_countmin reports): overestimate statistics
    plus the Cormode-Muthukrishnan guarantee check est <= true + eps*N
    with eps = e/width — completing the sketch-accuracy-eval trio
    (sketch_bloom_fpp, sketch_hll_error_eval). Every statistic is an exact
    BIGINT; the eps*N bound is one shared double literal expression, so
    the within-bound census cannot drift between engines."""
    from giranking_spark.functions.hashing import cm_cells, md5_u32
    from giranking_spark.functions.text import words

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(words(F.col("text"))).alias("w"))
    )
    cells = cm_cells(md5_u32(F.col("w")), CM_DEPTH, CM_WIDTH)
    counters = (
        toks.select(F.explode(cells).alias("cell"))
        .groupBy(F.col("cell.d").alias("d"), F.col("cell.c").alias("c"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    truth = toks.groupBy("w").agg(F.count(F.lit(1)).alias("true_count"))
    probes = truth.select(
        "w", "true_count", F.explode(cells).alias("cell")
    ).select(
        "w", "true_count", F.col("cell.d").alias("d"), F.col("cell.c").alias("c")
    )
    est = (
        probes.join(F.broadcast(counters), ["d", "c"])
        .groupBy("w", "true_count")
        .agg(F.min("cnt").alias("cm_estimate"))
        .select(
            "w",
            (F.col("cm_estimate") - F.col("true_count")).alias("overest"),
        )
    )
    n_total = toks.groupBy().agg(F.count(F.lit(1)).alias("n_tokens"))
    return (
        est.crossJoin(F.broadcast(n_total))
        .groupBy()
        .agg(
            F.max("n_tokens").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_probes"),
            F.sum(F.when(F.col("overest") == 0, 1).otherwise(0))
            .cast("long").alias("n_exact"),
            F.max("overest").cast("long").alias("max_overest"),
            F.sum("overest").cast("long").alias("sum_overest"),
            F.sum(
                F.when(
                    F.col("overest")
                    <= F.expr(f"{CMS_E!r} * n_tokens / {CM_WIDTH}"),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_within_bound"),
        )
    )


QUERIES["sketch_cms_error_eval"] = q_sketch_cms_error_eval


def _cms_error_sql() -> str:
    from giranking_spark.functions.hashing import HASH_FAMILY, MERSENNE_P

    fam = ", ".join(
        f"({d}, {HASH_FAMILY[d][0]}, {HASH_FAMILY[d][1]})"
        for d in range(CM_DEPTH)
    )
    h = md5_u32_sql_duckdb("w")
    return f"""
WITH toks AS (SELECT unnest({_WORDS_SQL}) AS w FROM documents),
fam(d, a, b) AS (SELECT * FROM (VALUES {fam})),
cells AS (
    SELECT w, d, ((a * {h} + b) % {MERSENNE_P}) % {CM_WIDTH} AS c
    FROM toks CROSS JOIN fam
),
counters AS (SELECT d, c, count(*) AS cnt FROM cells GROUP BY d, c),
truth AS (SELECT w, count(*) AS true_count FROM toks GROUP BY w),
probes AS (
    SELECT t.w, t.true_count, f.d,
           ((f.a * {md5_u32_sql_duckdb('t.w')} + f.b) % {MERSENNE_P})
               % {CM_WIDTH} AS c
    FROM truth t CROSS JOIN fam f
),
est AS (
    SELECT p.w, min(k.cnt) - max(p.true_count) AS overest
    FROM probes p JOIN counters k ON p.d = k.d AND p.c = k.c
    GROUP BY p.w
),
n_total AS (SELECT count(*)::BIGINT AS n_tokens FROM toks)
SELECT max(n_tokens)::BIGINT AS n_tokens, count(*)::BIGINT AS n_probes,
       CAST(sum(CASE WHEN overest = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact,
       max(overest)::BIGINT AS max_overest,
       CAST(sum(overest) AS BIGINT) AS sum_overest,
       CAST(sum(CASE WHEN overest <= {CMS_E!r} * n_tokens / {CM_WIDTH}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_within_bound
FROM est, n_total
"""


ORACLES["sketch_cms_error_eval"] = _cms_error_sql()
