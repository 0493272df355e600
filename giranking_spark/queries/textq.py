"""Text-analysis queries over the documents table, with exact DuckDB mirrors
of the Column expressions in functions/text.py / operators/textops.py.

The SQL fragments below are generated from the same Python constants
(stopword lists, formulas) as the Spark side, so the two dialects cannot
drift apart silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from giranking_spark.cache import cached
from giranking_spark.functions.hashing import md5_u32_sql_duckdb
from giranking_spark.functions.text import LANG_ORDER, STOPWORDS, words
from giranking_spark.operators.textops import (
    fingerprints,
    language_id,
    quality_score,
    text_stats,
)
from giranking_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# DuckDB expression builders mirroring functions/text.py

WORDS_SQL = (
    "list_filter(string_split_regex(trim(regexp_replace(lower(text), "
    "'[^a-z0-9à-ÿ]+', ' ', 'g')), '\\s+'), x -> x <> '')"
)
TOKENS_SQL = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"
PUNCT_SQL = r"length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g'))"


def _stop_count_sql(lang: str, words_ref: str = "w.words") -> str:
    vocab = ", ".join(f"'{s}'" for s in STOPWORDS[lang])
    return f"len(list_filter({words_ref}, x -> list_contains([{vocab}], x)))"


def _lang_case_sql() -> str:
    """Mirror of functions/text.py lang_id: priority tie-break en>de>fr>es."""
    conds = []
    for idx, lang in enumerate(LANG_ORDER[:-1]):
        later = LANG_ORDER[idx + 1:]
        cond = " AND ".join(f"c_{lang} >= c_{o}" for o in later)
        conds.append(f"WHEN {cond} THEN '{lang}'")
    total = " + ".join(f"c_{lang}" for lang in LANG_ORDER)
    return (
        f"CASE WHEN ({total}) = 0 THEN 'und' "
        + " ".join(conds)
        + f" ELSE '{LANG_ORDER[-1]}' END"
    )


# ---------------------------------------------------------------------------
# Spark callables

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = text_stats(load_table(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_words").cast("long").alias("n_words"),
        "punct_ratio",
        "mean_word_len",
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(load_table(spark, sf_dir, "documents"))


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(load_table(spark, sf_dir, "documents"))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(load_table(spark, sf_dir, "documents"))


# BPE-ish sub-word segmentation: letter runs / digit runs / symbol runs —
# the regex shared verbatim between Spark (Java regex) and DuckDB (RE2);
# restricted to constructs both dialects treat identically.
BPE_REGEX = "[a-zà-ÿ]+|[0-9]+|[^a-zà-ÿ0-9\\s]+"


def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish: counts + a fingerprint of the token stream
    (md5 of '|'-joined tokens) so segmentation itself is oracle-checked."""
    d = load_table(spark, sf_dir, "documents")
    # pattern passed as a lit column — F.expr would re-parse the string
    # literal and strip the \s escape
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_REGEX), F.lit(0))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.md5(F.concat_ws("|", toks)).alias("tok_fp"),
    )


def q_text_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity signals per document: type-token ratio and root
    TTR (Guiraud's index, length-robust) over the shared word tokenizer —
    the curation filter that separates template/boilerplate pages (low
    diversity) from natural prose.  Pure Column expressions; the division
    is guarded so empty documents yield 0.0 under ANSI."""
    from giranking_spark.functions.text import words

    d = load_table(spark, sf_dir, "documents")
    w = words(F.col("text"))
    n_tok = F.size(w).cast("long")
    n_typ = F.size(F.array_distinct(w)).cast("long")
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_typ.alias("n_types"),
        F.round(
            F.when(n_tok > 0, n_typ.cast("double") / n_tok.cast("double"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("ttr"),
        F.round(
            F.when(n_tok > 0, n_typ.cast("double") / F.sqrt(n_tok.cast("double")))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("root_ttr"),
    )


#: rank-ordered BPE merge table (a tokenizer ARTIFACT, like a vocab file):
#: earlier merges win conflicts; later entries may reference symbols built
#: by earlier ones (('t','h') -> 'th', then ('th','e') -> 'the').  In
#: production this table comes from the text_bpe_merge trainer — a few KB
#: collected driver-side once and compiled into the expression chain below
#: (the one sanctioned collect in a tokenizer pipeline: model artifacts are
#: driver-side by nature).  Here it is a fixed constant so the query stays
#: self-contained and scale-independent.
BPE_APPLY_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("r", "e"), ("o", "n"), ("e", "n"), ("t", "i"), ("e", "s"),
]


def q_text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a rank-ordered BPE merge table to every document — the encode
    half of the tokenizer story (text_bpe_merge is the train half): each
    word becomes a BRACKET-delimited symbol sequence (``<t><h><e><n>``) and
    merges rewrite adjacent symbol pairs in priority order — string replace
    is left-to-right non-overlapping in both engines, exactly BPE's greedy
    application.  The brackets anchor BOTH symbol edges: a naive
    space-delimited encoding lets a merge match across symbol boundaries
    (``the n`` + merge (e,n) would rebuild ``then``), while ``<the><n>``
    can never match ``<e><n>``.  Output is the per-doc symbol count plus a
    fingerprint of the full symbol stream so segmentation itself is
    oracle-checked.  (The word tokenizer emits only [a-z0-9à-ÿ], so the
    bracket characters cannot occur in the data.)

    Shapes: pure per-row Column expressions (a JVM expression chain over a
    higher-order transform) — zero joins, zero shuffles, zero Python."""
    from giranking_spark.functions.text import words

    def encode(w):
        sym = F.regexp_replace(w, "(.)", "<$1>")
        for a, b in BPE_APPLY_MERGES:
            sym = F.replace(sym, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
        return sym

    d = load_table(spark, sf_dir, "documents")
    enc = F.transform(words(F.col("text")), encode)
    n_sym = F.aggregate(
        F.transform(
            enc,
            lambda e: F.length(e) - F.length(F.replace(e, F.lit("<"), F.lit(""))),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        n_sym.cast("long").alias("n_symbols"),
        # concat_ws silently skips a NULL array (-> md5('')) while the
        # oracle's array_to_string(NULL) is NULL; guard so NULL text yields
        # NULL in both engines
        F.md5(F.when(enc.isNotNull(), F.concat_ws("|", enc))).alias("sym_fp"),
    )


VOCAB_SIZE = 1000
BIGRAM_VOCAB_SIZE = 500


def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary over the corpus (BPE/wordpiece precursor:
    deterministic word->id assignment bounded by VOCAB_SIZE)."""
    from giranking_spark.operators.textops import build_vocab

    return build_vocab(load_table(spark, sf_dir, "documents"), VOCAB_SIZE)


def q_text_bigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked bigram vocabulary (top collocations) — same
    distributed shape as the word vocabulary: fan-out → one groupBy(gram)
    shuffle → bounded top-k merge."""
    from giranking_spark.operators.textops import build_vocab

    return build_vocab(
        load_table(spark, sf_dir, "documents"), BIGRAM_VOCAB_SIZE, n=2
    )


TFIDF_TOPK = 3


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TFIDF_TOPK`` TF-IDF terms per document — the classic keyword
    extraction / relevance-weighting primitive. Shapes: term counts are one
    fan-out + groupBy(id, word); document frequency reuses that relation
    (one row per (id, word), so df = count per word); the corpus size rides
    as a broadcast single-row aggregate. Ranking happens on the ROUNDED
    score with a word tiebreak, so the per-doc top-k cut is engine-stable."""
    from giranking_spark.operators.dedup import shingle_rows

    docs = load_table(spark, sf_dir, "documents")
    wx = shingle_rows(docs, 1).select("id", F.col("shingle").alias("word"))
    tf = wx.groupBy("id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("id").alias("doc_id"),
            "word",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= TFIDF_TOPK)
        .select("doc_id", "word", "tfidf")
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (top word / bigram occurrence
    fraction) — boilerplate/spam filter for training-data pipelines."""
    from giranking_spark.operators.textops import repetition_stats

    return repetition_stats(load_table(spark, sf_dir, "documents"))


def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model score per document: mean log corpus
    probability of its words — the cheap statistical fluency signal
    (low = rare-word gibberish) complementing the heuristic quality score.
    Two shuffles: one groupBy(word) builds the corpus LM, one groupBy(doc)
    scores; the word join inherits the term-frequency skew of natural text —
    at 100 TB cap it with a max-df clamp or salt the hot stopword keys
    (same guard as dedup's shared-shingle join)."""
    from giranking_spark.functions.text import words

    d = load_table(spark, sf_dir, "documents")
    wx = d.select("doc_id", F.explode(words(F.col("text"))).alias("word"))
    vocab = wx.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    return (
        wx.join(vocab, "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.log(F.col("cnt") / F.col("total"))).alias("_lp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("_lp") / F.col("n_tokens"), 6).alias("mean_logprob"),
        )
    )


COOC_WINDOW = 3       # skip-gram context radius
COOC_MIN_COUNT = 5    # drop pairs rarer than this (vocabulary-noise floor)


def q_text_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts within ±COOC_WINDOW tokens — the
    corpus statistic embedding trainers (word2vec/GloVe) consume:
    (w1, w2, n) symmetric counts with a min-count floor.

    One window pass computes ALL the forward leads (Spark evaluates the
    lead(1..W) family in a single Window operator over (doc, pos)); the
    symmetric closure is a union, and the count is one map-side-combinable
    groupBy on the pair. No per-document self-join — the fan-out is exactly
    W rows per token, bounded by construction, so document length never
    quadratically explodes a hot partition at scale."""
    from giranking_spark.functions.text import words

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = load_table(spark, sf_dir, "documents").repartition(n)
    wx = d.select(
        "doc_id", F.posexplode(words(F.col("text"))).alias("pos", "word")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    leads = F.array(
        *[F.lead("word", o).over(win) for o in range(1, COOC_WINDOW + 1)]
    )
    fwd = (
        wx.select(F.col("word").alias("w1"), leads.alias("_ctx"))
        .select("w1", F.explode("_ctx").alias("w2"))
        .filter(F.col("w2").isNotNull())
    )
    sym = fwd.unionAll(fwd.select(F.col("w2").alias("w1"), F.col("w1").alias("w2")))
    return (
        sym.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .filter(F.col("n") >= COOC_MIN_COUNT)
    )


def q_text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix against the labeled ``lang`` column:
    (lang, lang_pred, n) — the evaluation query a pipeline owner runs
    before trusting the classifier as a corpus filter. One scan, one
    map-side-combinable groupBy on ≤|langs|² cells."""
    from giranking_spark.operators.textops import language_id

    d = load_table(spark, sf_dir, "documents")
    pred = language_id(d)
    return (
        d.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over the skip-gram co-occurrence pairs:
    pmi(w1, w2) = ln(n·N / (m(w1)·m(w2))) with N the total pair mass and
    m(·) the per-word marginal — the collocation statistic (Church & Hanks
    1990) used to mine multi-word expressions and to weight co-occurrence
    matrices before factorization (GloVe-style).

    All statistics derive from the already-min-count-floored symmetric pair
    relation (``text_cooc``): the marginals are one extra groupBy of it and
    the total is a broadcast one-row aggregate, so the added cost over the
    counting pass is two small shuffles on the pair vocabulary — nothing
    touches the corpus again.  Integer products inside the log keep the
    double deterministic cross-engine (exact long arithmetic, one divide,
    one ln, round-6)."""
    with cached(q_text_cooc(spark, sf_dir)) as pairs:
        tot = pairs.agg(F.sum("n").cast("long").alias("tot"))
        marg = pairs.groupBy("w1").agg(F.sum("n").cast("long").alias("m1"))
        return (
            pairs.join(marg, "w1")
            .join(
                marg.select(
                    F.col("w1").alias("w2"), F.col("m1").alias("m2")
                ),
                "w2",
            )
            .crossJoin(F.broadcast(tot))
            .select(
                "w1",
                "w2",
                "n",
                # double BEFORE the multiply: BIGINT*BIGINT overflows (DuckDB
                # raises, ANSI Spark throws) at large corpora, and the ln
                # doesn't need exact integer products — IEEE double multiply is
                # bit-identical cross-engine, so round-6 parity is unaffected
                F.round(
                    F.log(
                        (F.col("n").cast("double") * F.col("tot"))
                        / (F.col("m1").cast("double") * F.col("m2"))
                    ),
                    6,
                ).alias("pmi"),
            )
        ).localCheckpoint()


QUERIES = {
    "text_pmi": q_text_pmi,
    "text_cooc": q_text_cooc,
    "text_langid_eval": q_text_langid_eval,
    "text_unigram_logprob": q_text_unigram_logprob,
    "text_stats": q_text_stats,
    "text_quality": q_text_quality,
    "text_langid": q_text_langid,
    "text_fingerprint": q_text_fingerprint,
    "text_bpe_tokens": q_text_bpe_tokens,
    "text_repetition": q_text_repetition,
    "text_vocab": q_text_vocab,
    "text_ttr": q_text_ttr,
    "text_bpe_apply": q_text_bpe_apply,
    "text_bigram_vocab": q_text_bigram_vocab,
    "text_tfidf": q_text_tfidf,
}

# ---------------------------------------------------------------------------
# oracles

_WORDS_CTE = f"w AS (SELECT doc_id, text, {WORDS_SQL} AS words FROM documents)"


def _bpe_chain_sql() -> str:
    expr = "regexp_replace(w, '(.)', '<\\1>', 'g')"
    for a, b in BPE_APPLY_MERGES:
        expr = f"replace({expr}, '<{a}><{b}>', '<{a}{b}>')"
    return expr


_BPE_CHAIN_SQL = _bpe_chain_sql()

ORACLES = {
    # positional self-join formulation — a different algorithm than the
    # Spark side's single-window lead family, same exact counts
    "text_cooc": (
        f"WITH {_WORDS_CTE}, "
        "wx AS (SELECT doc_id, i AS pos, words[i] AS word "
        "FROM w, unnest(generate_series(1, len(words))) AS t(i)), "
        "p AS (SELECT a.word AS w1, b.word AS w2 FROM wx a JOIN wx b "
        "ON a.doc_id = b.doc_id AND b.pos > a.pos "
        f"AND b.pos <= a.pos + {COOC_WINDOW}), "
        "sym AS (SELECT w1, w2 FROM p UNION ALL SELECT w2 AS w1, w1 AS w2 FROM p) "
        "SELECT w1, w2, count(*)::BIGINT AS n FROM sym GROUP BY w1, w2 "
        f"HAVING count(*) >= {COOC_MIN_COUNT}"
    ),
    "text_langid_eval": (
        f"WITH w AS (SELECT doc_id, lang, {WORDS_SQL} AS words FROM documents), "
        "c AS (SELECT doc_id, lang, "
        + ", ".join(f"{_stop_count_sql(lang, 'words')} AS c_{lang}" for lang in LANG_ORDER)
        + " FROM w), "
        f"p AS (SELECT doc_id, lang, {_lang_case_sql()} AS lang_pred FROM c) "
        "SELECT lang, lang_pred, count(*)::BIGINT AS n FROM p "
        "GROUP BY lang, lang_pred"
    ),
    "text_unigram_logprob": (
        f"WITH {_WORDS_CTE}, "
        "wx AS (SELECT doc_id, unnest(words) AS word FROM w), "
        "vocab AS (SELECT word, count(*) AS cnt FROM wx GROUP BY word), "
        "tot AS (SELECT sum(cnt) AS total FROM vocab) "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
        "round(sum(ln(cnt / total)) / count(*), 6) AS mean_logprob "
        "FROM wx JOIN vocab USING (word) CROSS JOIN tot GROUP BY doc_id"
    ),
    "text_stats": (
        f"WITH {_WORDS_CTE} "
        "SELECT doc_id, length(text)::BIGINT AS n_chars, "
        f"len({TOKENS_SQL})::BIGINT AS n_tokens, "
        "len(words)::BIGINT AS n_words, "
        f"round({PUNCT_SQL} / greatest(length(text), 1), 6) AS punct_ratio, "
        "round(coalesce(list_sum(list_transform(words, x -> length(x))), 0) / greatest(len(words), 1), 6)"
        " AS mean_word_len "
        "FROM w"
    ),
    "text_quality": (
        f"WITH {_WORDS_CTE}, "
        f"m AS (SELECT doc_id, len({TOKENS_SQL}) AS n_tok, "
        f"{_stop_count_sql('en', 'words')} AS stop, "
        f"{PUNCT_SQL} / greatest(length(text), 1) AS punct FROM w) "
        "SELECT doc_id, round("
        "0.4 * least(n_tok / 100.0, 1.0) "
        "+ 0.3 * (1.0 - least(punct * 4, 1.0)) "
        "+ 0.3 * least(stop / greatest(n_tok, 1) * 5, 1.0), 6) AS quality "
        "FROM m"
    ),
    "text_langid": (
        f"WITH {_WORDS_CTE}, "
        "c AS (SELECT doc_id, "
        + ", ".join(f"{_stop_count_sql(lang, 'words')} AS c_{lang}" for lang in LANG_ORDER)
        + " FROM w) "
        f"SELECT doc_id, {_lang_case_sql()} AS lang_pred FROM c"
    ),
    "text_fingerprint": (
        f"WITH {_WORDS_CTE} "
        "SELECT doc_id, md5(array_to_string(words, ' ')) AS fp FROM w"
    ),
    "text_repetition": (
        f"WITH {_WORDS_CTE}, "
        "wx AS (SELECT doc_id, unnest(words) AS g FROM w), "
        "wc AS (SELECT doc_id, g, count(*) AS c FROM wx GROUP BY doc_id, g), "
        "wf AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS twf FROM wc GROUP BY doc_id), "
        "bx AS (SELECT doc_id, array_to_string(words[i:i+1], '_') AS g "
        "FROM w, unnest(generate_series(1, len(words) - 1)) AS t(i) WHERE len(words) >= 2), "
        "bc AS (SELECT doc_id, g, count(*) AS c FROM bx GROUP BY doc_id, g), "
        "bf AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS tbf FROM bc GROUP BY doc_id) "
        "SELECT d.doc_id, round(coalesce(wf.twf, 0.0), 6) AS top_word_frac, "
        "round(coalesce(bf.tbf, 0.0), 6) AS top_bigram_frac "
        "FROM documents d LEFT JOIN wf ON d.doc_id = wf.doc_id "
        "LEFT JOIN bf ON d.doc_id = bf.doc_id"
    ),
    "text_bpe_apply": (
        f"WITH {_WORDS_CTE} "
        "SELECT doc_id, "
        f"list_sum(list_transform(words, w -> length({_BPE_CHAIN_SQL}) - "
        f"length(replace({_BPE_CHAIN_SQL}, '<', ''))))::BIGINT AS n_symbols, "
        f"md5(array_to_string(list_transform(words, w -> {_BPE_CHAIN_SQL}), '|')) AS sym_fp "
        "FROM w"
    ),
    "text_ttr": (
        f"WITH {_WORDS_CTE} "
        "SELECT doc_id, len(words)::BIGINT AS n_tokens, "
        "len(list_distinct(words))::BIGINT AS n_types, "
        "round(CASE WHEN len(words) > 0 THEN "
        "len(list_distinct(words))::DOUBLE / len(words)::DOUBLE "
        "ELSE 0.0 END, 6) AS ttr, "
        "round(CASE WHEN len(words) > 0 THEN "
        "len(list_distinct(words))::DOUBLE / sqrt(len(words)::DOUBLE) "
        "ELSE 0.0 END, 6) AS root_ttr FROM w"
    ),
    "text_vocab": (
        f"WITH {_WORDS_CTE}, "
        "wx AS (SELECT unnest(words) AS word FROM w), "
        "c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM wx GROUP BY word), "
        f"t AS (SELECT word, cnt FROM c ORDER BY cnt DESC, word ASC LIMIT {VOCAB_SIZE}) "
        "SELECT word, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS BIGINT)"
        " AS vocab_id FROM t"
    ),
    "text_tfidf": (
        f"WITH {_WORDS_CTE}, "
        "wx AS (SELECT doc_id, unnest(words) AS word FROM w), "
        "tf AS (SELECT doc_id, word, count(*) AS tf FROM wx GROUP BY doc_id, word), "
        "df AS (SELECT word, count(*) AS df FROM tf GROUP BY word), "
        "n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents), "
        "scored AS (SELECT tf.doc_id, tf.word, "
        "round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf "
        "FROM tf JOIN df USING (word) CROSS JOIN n), "
        "ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
        "ORDER BY tfidf DESC, word ASC) AS rn FROM scored) "
        f"SELECT doc_id, word, tfidf FROM ranked WHERE rn <= {TFIDF_TOPK}"
    ),
    "text_bigram_vocab": (
        f"WITH {_WORDS_CTE}, "
        "bx AS (SELECT array_to_string(words[i:i+1], '_') AS word "
        "FROM w, unnest(generate_series(1, len(words) - 1)) AS t(i) "
        "WHERE len(words) >= 2), "
        "c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM bx GROUP BY word), "
        f"t AS (SELECT word, cnt FROM c ORDER BY cnt DESC, word ASC LIMIT {BIGRAM_VOCAB_SIZE}) "
        "SELECT word, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS BIGINT)"
        " AS vocab_id FROM t"
    ),
    "text_bpe_tokens": (
        f"WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '{BPE_REGEX}') AS toks "
        "FROM documents) "
        "SELECT doc_id, len(toks)::BIGINT AS n_bpe_tokens, "
        "md5(array_to_string(toks, '|')) AS tok_fp FROM t"
    ),
}

# PMI wraps the (already verified) co-occurrence oracle as a CTE: the
# marginals and total are one-groupBy derivations of the same pair relation
# the Spark side consumes, so parity composes.  Integer products inside the
# divide keep the double bit-deterministic before the round-6 ln.
ORACLES["text_pmi"] = (
    "WITH pairs AS (" + ORACLES["text_cooc"] + "), "
    "tot AS (SELECT sum(n)::BIGINT AS tot FROM pairs), "
    "marg AS (SELECT w1, sum(n)::BIGINT AS m FROM pairs GROUP BY w1) "
    "SELECT p.w1, p.w2, p.n, "
    "round(ln((p.n::DOUBLE * tot.tot) / (ma.m::DOUBLE * mb.m)), 6) AS pmi "
    "FROM pairs p CROSS JOIN tot "
    "JOIN marg ma ON p.w1 = ma.w1 JOIN marg mb ON p.w2 = mb.w1"
)


BACKOFF_ALPHA = 0.4   # stupid-backoff discount (Brants et al. 2007)
BACKOFF_MIN_BC = 2    # bigram counts below this back off to the unigram


def q_text_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram stupid-backoff LM score per document: mean ln P over its
    bigrams, where P = bc(w₁,w₂)/c(w₁) when the corpus bigram count clears
    ``BACKOFF_MIN_BC`` and α·c(w₂)/T otherwise (Brants et al. 2007,
    "Large Language Models in Machine Translation") — the fluency filter
    one tier above ``text_unigram_logprob``: it penalizes improbable word
    ORDER, not just rare words.

    Shapes: the bigram relation is one lag window per document (no
    self-join); uni/bigram count tables are map-side-combinable groupBys
    of it; the total rides as a broadcast one-row aggregate.  The count
    joins inherit natural-language skew — same 100 TB guard as
    ``text_unigram_logprob`` (max-df clamp or salt the stopword keys)."""
    from giranking_spark.functions.text import words

    d = load_table(spark, sf_dir, "documents")
    wx = d.select(
        "doc_id", F.posexplode(words(F.col("text"))).alias("pos", "word")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        wx.withColumn("w_prev", F.lag("word").over(win))
        .filter(F.col("w_prev").isNotNull())
        .select("doc_id", "w_prev", "word")
    )
    uni = wx.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = uni.agg(F.sum("cnt").cast("long").alias("tot"))
    big = pairs.groupBy("w_prev", "word").agg(
        F.count(F.lit(1)).cast("long").alias("bc")
    )
    prob = F.when(
        F.col("bc") >= BACKOFF_MIN_BC, F.col("bc") / F.col("cnt1")
    ).otherwise(F.lit(BACKOFF_ALPHA) * F.col("cnt2") / F.col("tot"))
    return (
        pairs.join(big, ["w_prev", "word"])
        .join(
            uni.select(F.col("word").alias("w_prev"), F.col("cnt").alias("cnt1")),
            "w_prev",
        )
        .join(uni.select("word", F.col("cnt").alias("cnt2")), "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(F.log(prob)).alias("_lp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(F.col("_lp") / F.col("n_bigrams"), 6).alias("mean_logprob"),
        )
    )


QUERIES["text_backoff_logprob"] = q_text_backoff_logprob
ORACLES["text_backoff_logprob"] = (
    f"WITH {_WORDS_CTE}, "
    "wx AS (SELECT doc_id, i AS pos, words[i] AS word "
    "FROM w, unnest(generate_series(1, len(words))) AS t(i)), "
    "pairs AS (SELECT a.doc_id, a.word AS w_prev, b.word AS word "
    "FROM wx a JOIN wx b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1), "
    "uni AS (SELECT word, count(*)::BIGINT AS cnt FROM wx GROUP BY word), "
    "tot AS (SELECT sum(cnt)::BIGINT AS tot FROM uni), "
    "big AS (SELECT w_prev, word, count(*)::BIGINT AS bc FROM pairs "
    "GROUP BY w_prev, word), "
    "s AS (SELECT p.doc_id, "
    f"CASE WHEN bc >= {BACKOFF_MIN_BC} THEN bc / u1.cnt "
    f"ELSE {BACKOFF_ALPHA} * u2.cnt / tot END AS prob "
    "FROM pairs p JOIN big USING (w_prev, word) "
    "JOIN uni u1 ON p.w_prev = u1.word JOIN uni u2 ON p.word = u2.word "
    "CROSS JOIN tot) "
    "SELECT doc_id, count(*)::BIGINT AS n_bigrams, "
    "round(sum(ln(prob)) / count(*), 6) AS mean_logprob "
    "FROM s GROUP BY doc_id"
)


def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the cheap gibberish
    / encoding-noise detector (natural language sits ~4 bits-per-char-ish;
    base64 blobs and keyboard mash sit far higher, repeated-char spam far
    lower).  One explode + two map-side-combinable groupBys; the state per
    document is its distinct-character histogram, bounded by the alphabet.
    Each entropy term is computed as -(p·ln p) (positive) so the sum never
    produces a negative zero to disagree on."""
    d = load_table(spark, sf_dir, "documents")
    cx = d.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("c")
    ).filter(F.col("c") != "")
    cc = cx.groupBy("doc_id", "c").agg(
        F.count(F.lit(1)).cast("long").alias("nc")
    )
    t = cc.groupBy("doc_id").agg(F.sum("nc").cast("long").alias("n"))
    p = F.col("nc") / F.col("n")
    return (
        cc.join(t, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
            F.round(F.sum(-(p * F.log(p))), 6).alias("entropy"),
        )
    )


QUERIES["text_entropy"] = q_text_entropy
ORACLES["text_entropy"] = (
    "WITH cx AS (SELECT doc_id, unnest(string_split_regex(text, '')) AS c "
    "FROM documents), "
    "cc AS (SELECT doc_id, c, count(*)::BIGINT AS nc FROM cx "
    "WHERE c <> '' GROUP BY doc_id, c), "
    "t AS (SELECT doc_id, sum(nc)::BIGINT AS n FROM cc GROUP BY doc_id) "
    "SELECT cc.doc_id, count(*)::BIGINT AS n_distinct_chars, "
    "round(sum(-((nc / n) * ln(nc / n))), 6) AS entropy "
    "FROM cc JOIN t USING (doc_id) GROUP BY cc.doc_id"
)


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction (Rose, Engel, Cramer & Cowley 2010 — the public
# Rapid Automatic Keyword Extraction algorithm)

RAKE_TOPK = 3
_RAKE_STOPS = STOPWORDS["en"]


def q_text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, phrase, score) — top-RAKE_TOPK candidate keyphrases per doc.

    RAKE per document: candidate phrases are maximal runs of non-stopword
    tokens (gaps-and-islands over word positions); each word scores
    deg(w)/freq(w) where deg sums the lengths of the phrases its
    occurrences sit in; a phrase scores the sum of its words' scores
    (with multiplicity). Ranking uses the 6-decimal-rounded score (shared
    rounding with the oracle, so cross-engine float noise cannot reorder
    near-ties), phrase text ascending as tie-break.

    Scale shape: one doc-keyed shuffle for the posexplode windows, then
    groupBys on (doc, word) and (doc, island) — all map-side combinable;
    top-k is a per-doc window, never a global sort."""
    wx = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(words(F.col("text"))).alias("pos", "word"),
        )
        .filter(~F.col("word").isin(*_RAKE_STOPS))
    )
    wisl = wx.withColumn(
        "isl",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    ).withColumn(
        "plen", F.count(F.lit(1)).over(Window.partitionBy("doc_id", "isl"))
    )
    wstats = wisl.groupBy("doc_id", "word").agg(
        (F.sum("plen") / F.count(F.lit(1))).alias("wscore")
    )
    phrases = (
        wisl.join(wstats, ["doc_id", "word"])
        .groupBy("doc_id", "isl")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda x: x["word"],
                ),
                " ",
            ).alias("phrase"),
            F.round(F.sum("wscore"), 6).alias("score"),
        )
        .select("doc_id", "phrase", "score")
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("phrase"))
    return (
        phrases.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RAKE_TOPK)
        .select("doc_id", "phrase", "score")
    )


_RAKE_STOP_LIST = ", ".join(f"'{s}'" for s in _RAKE_STOPS)

QUERIES["text_rake_keyphrases"] = q_text_rake_keyphrases
ORACLES["text_rake_keyphrases"] = (
    f"WITH w AS (SELECT doc_id, {WORDS_SQL} AS words FROM documents), "
    "wx AS (SELECT doc_id, i AS pos, words[i] AS word "
    "FROM w, unnest(generate_series(1, len(words))) AS t(i) "
    f"WHERE words[i] NOT IN ({_RAKE_STOP_LIST})), "
    "isl AS (SELECT doc_id, pos, word, pos - row_number() OVER "
    "(PARTITION BY doc_id ORDER BY pos) AS isl FROM wx), "
    "wisl AS (SELECT *, count(*) OVER (PARTITION BY doc_id, isl) AS plen "
    "FROM isl), "
    "wstats AS (SELECT doc_id, word, "
    "sum(plen) / count(*) AS wscore FROM wisl GROUP BY doc_id, word), "
    "phrases AS (SELECT DISTINCT i.doc_id, "
    "string_agg(i.word, ' ' ORDER BY i.pos) AS phrase, "
    "round(sum(s.wscore), 6) AS score "
    "FROM wisl i JOIN wstats s ON i.doc_id = s.doc_id AND i.word = s.word "
    "GROUP BY i.doc_id, i.isl) "
    "SELECT doc_id, phrase, score FROM ("
    "SELECT *, row_number() OVER (PARTITION BY doc_id "
    "ORDER BY score DESC, phrase ASC) AS rn FROM phrases) "
    f"WHERE rn <= {RAKE_TOPK}"
)


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, "Scaling Language Models: Methods,
# Analysis & Insights from Training Gopher", App. A1.1) — the doc-level
# subset; the fixture corpus has no newlines, so the line-level rules
# (bullet/ellipsis line fractions) are inapplicable by construction.

GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MWL_MIN, GOPHER_MWL_MAX = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_MIN_STOPWORDS = 2
#: Gopher's exact required-stopword list (App. A1.1)
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_signals(d: DataFrame) -> DataFrame:
    """Per-document Gopher quality signals + the combined keep/drop flag:
    word count in [50, 100k], mean word length in [3, 10], symbol-to-word
    ratio ('#'/'...'/'…') <= 0.1, >= 80% of words containing an alphabetic
    character, >= 2 of Gopher's eight required stopwords present. All pure
    Column expressions over the shared word tokenizer — scan-shaped, no
    shuffle, the archetypal 100 TB map-side curation filter. The pass flag
    compares UNROUNDED doubles (exact small-integer divisions, identical
    across engines); only output columns are rounded."""
    from giranking_spark.functions.text import words

    ws = words(F.col("text"))
    n_words = F.size(ws).cast("long")
    sum_len = F.aggregate(
        ws, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    mwl = F.when(n_words > 0, sum_len / n_words).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(ws, lambda x: x.rlike("[a-zà-ÿ]"))).cast("long")
    alpha_frac = F.when(n_words > 0, n_alpha / n_words).otherwise(F.lit(0.0))
    t = F.col("text")

    def _occ(token: str, width: int):
        diff = F.length(t) - F.length(F.replace(t, F.lit(token), F.lit("")))
        return (diff / F.lit(width)).cast("long") if width > 1 else diff

    n_sym = (_occ("#", 1) + _occ("...", 3) + _occ("…", 1)).cast("long")
    sym_ratio = F.when(n_words > 0, n_sym / n_words).otherwise(F.lit(0.0))
    n_stop = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPS]),
            lambda s: F.array_contains(ws, s),
        )
    ).cast("long")
    gpass = (
        n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mwl.between(GOPHER_MWL_MIN, GOPHER_MWL_MAX)
        & (sym_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (alpha_frac >= GOPHER_MIN_ALPHA_FRAC)
        & (n_stop >= GOPHER_MIN_STOPWORDS)
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        F.round(sym_ratio, 6).alias("symbol_ratio"),
        n_stop.alias("n_stopwords"),
        gpass.cast("long").alias("gopher_pass"),
    )


def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_signals(load_table(spark, sf_dir, "documents"))


_GOPHER_STOPS_SQL = ", ".join(f"'{s}'" for s in GOPHER_STOPS)

QUERIES["text_gopher_rules"] = q_text_gopher_rules
ORACLES["text_gopher_rules"] = (
    f"WITH w AS (SELECT doc_id, text, {WORDS_SQL} AS words FROM documents), "
    "m AS (SELECT doc_id, len(words)::BIGINT AS n_words, "
    "coalesce(list_sum(list_transform(words, x -> length(x))), 0)::BIGINT "
    "AS sum_len, "
    "len(list_filter(words, x -> regexp_matches(x, '[a-zà-ÿ]')))::BIGINT "
    "AS n_alpha, "
    "((length(text) - length(replace(text, '#', ''))) "
    "+ (length(text) - length(replace(text, '...', ''))) // 3 "
    "+ (length(text) - length(replace(text, '…', ''))))::BIGINT AS n_sym, "
    f"len(list_filter([{_GOPHER_STOPS_SQL}], "
    "s -> list_contains(words, s)))::BIGINT AS n_stop FROM w), "
    "x AS (SELECT doc_id, n_words, "
    "CASE WHEN n_words > 0 THEN sum_len / n_words ELSE 0.0 END AS mwl, "
    "CASE WHEN n_words > 0 THEN n_alpha / n_words ELSE 0.0 END AS afrac, "
    "CASE WHEN n_words > 0 THEN n_sym / n_words ELSE 0.0 END AS sratio, "
    "n_stop FROM m) "
    "SELECT doc_id, n_words, round(mwl, 6) AS mean_word_len, "
    "round(afrac, 6) AS alpha_frac, round(sratio, 6) AS symbol_ratio, "
    "n_stop AS n_stopwords, "
    f"(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} "
    f"AND mwl BETWEEN {GOPHER_MWL_MIN} AND {GOPHER_MWL_MAX} "
    f"AND sratio <= {GOPHER_MAX_SYMBOL_RATIO} "
    f"AND afrac >= {GOPHER_MIN_ALPHA_FRAC} "
    f"AND n_stop >= {GOPHER_MIN_STOPWORDS})::BIGINT AS gopher_pass FROM x"
)


# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling") — hashed bag-of-unigrams generative
# models for a target corpus vs the raw pool; each document's log importance
# weight is sum_b c_b(x) * (ln p_target(b) - ln p_raw(b)) with add-1
# smoothing over the hashed feature buckets.

DSIR_BUCKETS = 64
#: deterministic stand-in for the target corpus (in production: Wikipedia /
#: curated text): every 10th document plays the high-quality target
DSIR_TARGET_MOD = 10


def q_text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dsir_logw) — DSIR log importance weight of every document
    against the hashed-unigram target/raw models. Scale shape: tokenize →
    portable-hash bucket (map-side), ONE groupBy(doc, bucket), two
    64-row distribution aggregates that ride as broadcasts, and a final
    per-doc sum — no join ever exceeds |docs| x |their buckets|."""
    from giranking_spark.functions.hashing import md5_u32
    from giranking_spark.functions.text import words

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(words(F.col("text"))).alias("word")
    )
    # localCheckpoint (not persist): db feeds the target/raw
    # distributions, their totals and the final per-doc sum — the executed
    # plan showed the tokenize+hash pipeline running 5× without
    # materialization (Generate ×5, ReusedExchange never fired; r13).
    # Measured FASTER than the r13 persist at sf0.1 (1.61 vs 2.15 s), so
    # this query keeps the checkpoint form; the final output checkpoint
    # below cuts the returned plan's reference to db, so db's blocks die
    # at the first driver GC after return instead of living as long as the
    # caller holds the result.
    db = (
        toks.select(
            "doc_id", (md5_u32(F.col("word")) % DSIR_BUCKETS).alias("bkt")
        )
        .groupBy("doc_id", "bkt")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    tgt = (
        db.filter(F.col("doc_id") % DSIR_TARGET_MOD == 0)
        .groupBy("bkt")
        .agg(F.sum("c").alias("ct"))
    )
    raw = db.groupBy("bkt").agg(F.sum("c").alias("cr"))
    tt = tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"))
    tr = raw.agg(F.coalesce(F.sum("cr"), F.lit(0)).alias("tr"))
    spine = spark.range(DSIR_BUCKETS).select(F.col("id").alias("bkt"))
    dist = (
        spine.join(tgt, "bkt", "left")
        .join(raw, "bkt", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tr))
        .select(
            "bkt",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1)
                    / (F.col("tt") + DSIR_BUCKETS)
                )
                - F.log(
                    (F.coalesce(F.col("cr"), F.lit(0)) + 1)
                    / (F.col("tr") + DSIR_BUCKETS)
                )
            ).alias("ratio"),
        )
    )
    lw = (
        db.join(F.broadcast(dist), "bkt")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("ratio")).alias("lw"))
    )
    return (
        d.select("doc_id")
        .join(lw, "doc_id", "left")
        .select(
            "doc_id",
            F.round(F.coalesce(F.col("lw"), F.lit(0.0)), 6).alias("dsir_logw"),
        )
    ).localCheckpoint()


QUERIES["text_dsir_weights"] = q_text_dsir_weights
ORACLES["text_dsir_weights"] = (
    f"WITH w AS (SELECT doc_id, unnest({WORDS_SQL}) AS word FROM documents), "
    "db AS (SELECT doc_id, "
    + md5_u32_sql_duckdb("word")
    + f" % {DSIR_BUCKETS} AS bkt, count(*)::BIGINT AS c "
    "FROM w GROUP BY doc_id, bkt), "
    f"tgt AS (SELECT bkt, sum(c) AS ct FROM db "
    f"WHERE doc_id % {DSIR_TARGET_MOD} = 0 GROUP BY bkt), "
    "raw AS (SELECT bkt, sum(c) AS cr FROM db GROUP BY bkt), "
    f"tt AS (SELECT coalesce(sum(c), 0) AS tt FROM db "
    f"WHERE doc_id % {DSIR_TARGET_MOD} = 0), "
    "tr AS (SELECT coalesce(sum(c), 0) AS tr FROM db), "
    f"spine AS (SELECT unnest(generate_series(0, {DSIR_BUCKETS - 1})) "
    "AS bkt), "
    "dist AS (SELECT s.bkt, "
    f"ln((coalesce(ct, 0) + 1) / (tt + {DSIR_BUCKETS})) "
    f"- ln((coalesce(cr, 0) + 1) / (tr + {DSIR_BUCKETS})) AS ratio "
    "FROM spine s LEFT JOIN tgt USING (bkt) LEFT JOIN raw USING (bkt), "
    "tt, tr), "
    "lw AS (SELECT d.doc_id, sum(d.c * t.ratio) AS lw FROM db d "
    "JOIN dist t USING (bkt) GROUP BY d.doc_id) "
    "SELECT doc_id, round(coalesce(lw, 0.0), 6) AS dsir_logw "
    "FROM documents LEFT JOIN lw USING (doc_id)"
)


# ---------------------------------------------------------------------------
# Zipf rank-frequency diagnostic

ZIPF_TOP_RANKS = 200


def q_text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf diagnostic: OLS fit of ln(freq) against ln(rank) over
    the top word ranks (natural corpora slope toward -1; template/synthetic
    text flattens toward 0 — a cheap wholesale-corpus health check).
    Deterministic ranking: frequency desc, word asc on ties.

    Scale shape: word counts are one partial-agg shuffle; the global rank
    window runs over the VOCABULARY relation (bounded by distinct words,
    not corpus size) and the fit is a 1-row aggregate of ZIPF_TOP_RANKS
    points."""
    from giranking_spark.functions.text import words

    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    win = Window.orderBy(F.col("c").desc(), F.col("word").asc())
    ranked = (
        wc.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= ZIPF_TOP_RANKS)
        .select(F.log("rank").alias("x"), F.log("c").alias("y"))
    )
    a = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        den != 0,
        (n * F.col("sxy") - F.col("sx") * F.col("sy")) / den,
    ).otherwise(F.lit(0.0))
    return a.select(
        F.col("n").alias("n_ranks"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias(
            "zipf_intercept"
        ),
    )


QUERIES["text_zipf_slope"] = q_text_zipf_slope
ORACLES["text_zipf_slope"] = (
    f"WITH w AS (SELECT unnest({WORDS_SQL}) AS word FROM documents), "
    "wc AS (SELECT word, count(*)::BIGINT AS c FROM w GROUP BY word), "
    "r AS (SELECT ln(row_number() OVER (ORDER BY c DESC, word ASC)) AS x, "
    "ln(c) AS y FROM wc "
    f"QUALIFY row_number() OVER (ORDER BY c DESC, word ASC) <= "
    f"{ZIPF_TOP_RANKS}), "
    "a AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy, "
    "sum(x*y) AS sxy, sum(x*x) AS sxx FROM r) "
    "SELECT n AS n_ranks, "
    "round(CASE WHEN n*sxx - sx*sx <> 0 "
    "THEN (n*sxy - sx*sy) / (n*sxx - sx*sx) ELSE 0.0 END, 6) AS zipf_slope, "
    "round((sy - (CASE WHEN n*sxx - sx*sx <> 0 "
    "THEN (n*sxy - sx*sy) / (n*sxx - sx*sx) ELSE 0.0 END) * sx) / n, 6) "
    "AS zipf_intercept FROM a"
)


# ---------------------------------------------------------------------------
# DSIR resampling: Gumbel-top-k over the importance weights

DSIR_SAMPLE_K = 100
DSIR_TEMP = 1.0
#: 2^32 — the portable hash's value space, for uniform-(0,1) conversion
_U32_SPACE = 4294967296.0


def q_sample_dsir_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR paper's actual selection step: sample K documents WITHOUT
    replacement, proportionally to exp(logw/T), via the Gumbel-top-k trick
    (Kool et al. 2019) — score = logw/T + Gumbel(doc_id), take the top K.
    The Gumbel noise is derived from the portable hash
    (u = (H(doc_id)+0.5)/2^32, g = -ln(-ln u)), so the 'randomness' is a
    pure deterministic column and the oracle replays it exactly.

    Scale shape: everything up to the weights is q_text_dsir_weights'
    plan; the selection itself is a global top-K (TakeOrderedAndProject,
    never a full sort). Ranking compares ROUNDED scores with a doc_id
    tie-break — the shared rounded-ranking convention."""
    from giranking_spark.functions.hashing import md5_u32

    w = q_text_dsir_weights(spark, sf_dir)
    u = (md5_u32(F.col("doc_id").cast("string")) + F.lit(0.5)) / F.lit(
        _U32_SPACE
    )
    score = F.round(
        F.col("dsir_logw") / F.lit(DSIR_TEMP) - F.log(-F.log(u)), 6
    )
    return (
        w.select("doc_id", score.alias("gumbel_score"))
        .orderBy(F.col("gumbel_score").desc(), F.col("doc_id").asc())
        .limit(DSIR_SAMPLE_K)
    )


QUERIES["sample_dsir_gumbel"] = q_sample_dsir_gumbel
ORACLES["sample_dsir_gumbel"] = (
    "WITH dsir AS (" + ORACLES["text_dsir_weights"] + "), "
    "scored AS (SELECT doc_id, "
    f"round(dsir_logw / {DSIR_TEMP} - ln(-ln(("
    + md5_u32_sql_duckdb("doc_id::VARCHAR")
    + f" + 0.5) / {_U32_SPACE})), 6) AS gumbel_score FROM dsir) "
    "SELECT doc_id, gumbel_score FROM scored "
    f"ORDER BY gumbel_score DESC, doc_id ASC LIMIT {DSIR_SAMPLE_K}"
)


# ---- feature-hashing vectorizer ---------------------------------------------

#: hashing-trick bucket count (shared Spark/oracle contract)
HASHVEC_BUCKETS = 64


def q_text_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the "hashing trick", Weinberger et al. 2009) over
    the shared BPE-ish word tokenizer: every token maps to
    md5_u32(token) % B and the corpus-level bucket profile comes out as
    (bucket, document frequency, total term count) — the fixed-width
    featurization that needs NO vocabulary build, which is exactly why it
    scales: one explode + one aggregation, no global dictionary state,
    the same md5-derived hash family every sketch in this repo shares
    cross-engine. Collisions are part of the contract (both engines hash
    identically), not noise."""
    from giranking_spark.functions.hashing import md5_u32

    d = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(BPE_REGEX), F.lit(0)
    )
    tok = d.select("doc_id", F.explode(toks).alias("tok"))
    bucketed = tok.select(
        "doc_id", (md5_u32(F.col("tok")) % HASHVEC_BUCKETS).alias("bucket")
    )
    return bucketed.groupBy("bucket").agg(
        F.countDistinct("doc_id").cast("long").alias("doc_freq"),
        F.count(F.lit(1)).cast("long").alias("term_count"),
    )


from giranking_spark.functions.hashing import md5_u32_sql_duckdb as _hv_md5  # noqa: E402

QUERIES["text_hashing_vectorizer"] = q_text_hashing_vectorizer
ORACLES["text_hashing_vectorizer"] = (
    "WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), "
    f"'{BPE_REGEX}')) AS tok FROM documents), "
    "bucketed AS (SELECT doc_id, "
    + _hv_md5("tok") + f" % {HASHVEC_BUCKETS} AS bucket FROM tok) "
    "SELECT bucket, count(DISTINCT doc_id)::BIGINT AS doc_freq, "
    "count(*)::BIGINT AS term_count FROM bucketed GROUP BY bucket"
)


# ---- Heaps' law vocabulary-growth curve -------------------------------------

HEAPS_BUCKETS = 10


def q_text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: the corpus in doc_id order is cut
    into HEAPS_BUCKETS equal id-range slices; per prefix of slices, the
    cumulative token count and cumulative DISTINCT vocabulary — the
    diagnostic that tells a tokenizer-training pipeline whether vocab
    growth has flattened (V = K·nᵝ, β<1) or the crawl is still surfacing
    new material.

    Distributed-exact construction: cumulative distinct is NOT a running
    dedup — each word contributes to every prefix ≥ its FIRST bucket, so
    per-word min-bucket + a 10-row prefix sum gives the exact curve with
    one aggregate over the token stream and windows only on bucket-count
    relations."""
    d = load_table(spark, sf_dir, "documents")
    mx = d.agg(F.max(F.col("doc_id").cast("long")).alias("mx"))
    toks = d.crossJoin(F.broadcast(mx)).select(
        F.expr(f"doc_id * {HEAPS_BUCKETS} div (mx + 1)").alias("bucket"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_REGEX), F.lit(0))
        ).alias("tok"),
    )
    per_bucket = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    first_seen = toks.groupBy("tok").agg(F.min("bucket").alias("bucket"))
    vocab_new = first_seen.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_new_words")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_bucket.join(vocab_new, "bucket", "left")
        .select(
            "bucket",
            "n_tokens",
            F.coalesce("n_new_words", F.lit(0)).alias("n_new_words"),
        )
        .select(
            "bucket",
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
            F.sum("n_new_words").over(w).cast("long").alias("cum_vocab"),
        )
    )


QUERIES["text_heaps_law"] = q_text_heaps_law
ORACLES["text_heaps_law"] = (
    "WITH mx AS (SELECT max(doc_id) AS mx FROM documents), "
    "toks AS (SELECT doc_id * "
    f"{HEAPS_BUCKETS} // (mx + 1) AS bucket, "
    f"unnest(regexp_extract_all(lower(text), '{BPE_REGEX}')) AS tok "
    "FROM documents, mx), "
    "per_bucket AS (SELECT bucket, count(*)::BIGINT AS n_tokens "
    "FROM toks GROUP BY 1), "
    "first_seen AS (SELECT tok, min(bucket) AS bucket FROM toks GROUP BY 1), "
    "vocab_new AS (SELECT bucket, count(*)::BIGINT AS n_new_words "
    "FROM first_seen GROUP BY 1) "
    "SELECT p.bucket, "
    "CAST(sum(p.n_tokens) OVER w AS BIGINT) AS cum_tokens, "
    "CAST(sum(coalesce(v.n_new_words, 0)) OVER w AS BIGINT) AS cum_vocab "
    "FROM per_bucket p LEFT JOIN vocab_new v ON p.bucket = v.bucket "
    "WINDOW w AS (ORDER BY p.bucket ROWS BETWEEN UNBOUNDED PRECEDING "
    "AND CURRENT ROW)"
)


# ---- word burstiness (variance-to-mean ratio) -------------------------------

BURST_TOP = 20


def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of the BURST_TOP most frequent words: variance-to-mean
    ratio of per-document counts over ALL N documents (absent = 0) —
    Church & Gale's classic dispersion diagnostic separating topical
    words (bursty, VMR >> 1) from function words (Poisson-like, VMR ≈ 1),
    the signal term-weighting and stopword induction build on.

    Exactness: VMR = (N·Σc² − (Σc)²) / (N·Σc) — numerator and denominator
    are exact BIGINTs from one per-(word, doc) aggregate (zeros contribute
    nothing to either sum, so the implicit zero rows are free); only the
    final division rounds. Top-T selection orders by (total desc, word
    asc) — deterministic cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit(BPE_REGEX), F.lit(0)
                )
            ).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n_docs = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    per_word = wc.groupBy("word").agg(
        F.sum("c").cast("long").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_sq"),
        F.count(F.lit(1)).cast("long").alias("doc_freq"),
    )
    return (
        per_word.crossJoin(F.broadcast(n_docs))
        .orderBy(F.col("total").desc(), F.col("word").asc())
        .limit(BURST_TOP)
        .select(
            "word",
            "total",
            "doc_freq",
            F.round(
                (F.col("n") * F.col("sum_sq") - F.col("total") * F.col("total"))
                / (F.col("n") * F.col("total")),
                6,
            ).alias("vmr"),
        )
    )


QUERIES["text_burstiness"] = q_text_burstiness
ORACLES["text_burstiness"] = (
    "WITH wc AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), "
    f"'{BPE_REGEX}')) AS word FROM documents), "
    "cnt AS (SELECT doc_id, word, count(*)::BIGINT AS c "
    "FROM wc GROUP BY 1, 2), "
    "n_docs AS (SELECT count(*)::BIGINT AS n FROM documents), "
    "per_word AS (SELECT word, CAST(sum(c) AS BIGINT) AS total, "
    "CAST(sum(c * c) AS BIGINT) AS sum_sq, count(*)::BIGINT AS doc_freq "
    "FROM cnt GROUP BY 1) "
    "SELECT word, total, doc_freq, "
    "round((n * sum_sq - total * total) / (n * total * 1e0), 6) AS vmr "
    "FROM per_word, n_docs "
    f"ORDER BY total DESC, word ASC LIMIT {BURST_TOP}"
)


# ---- tokenizer fertility by language ----------------------------------------

def q_text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word and characters per token — the standard multilingual-tokenizer
    evaluation (high fertility = a language pays more sequence length per
    word, the signal behind vocab rebalancing decisions). One scan, three
    exact integer sums per language; only the two ratios divide."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(BPE_REGEX), F.lit(0)
    )
    words = F.regexp_extract_all(F.col("text"), F.lit("\\S+"), F.lit(0))
    g = d.select(
        "lang",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(words).cast("long").alias("n_words"),
        F.length("text").cast("long").alias("n_chars"),
    ).groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    return g.select(
        "lang",
        "n_docs",
        "n_tokens",
        "n_words",
        "n_chars",
        F.round(F.col("n_tokens") / F.col("n_words").cast("double"), 6).alias(
            "fertility"
        ),
        F.round(F.col("n_chars") / F.col("n_tokens").cast("double"), 6).alias(
            "chars_per_token"
        ),
    )


QUERIES["text_tokenizer_fertility"] = q_text_tokenizer_fertility
ORACLES["text_tokenizer_fertility"] = (
    "WITH g AS (SELECT lang, count(*)::BIGINT AS n_docs, "
    f"CAST(sum(len(regexp_extract_all(lower(text), '{BPE_REGEX}'))) AS BIGINT) "
    "AS n_tokens, "
    "CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS n_words, "
    "CAST(sum(length(text)) AS BIGINT) AS n_chars "
    "FROM documents GROUP BY lang) "
    "SELECT lang, n_docs, n_tokens, n_words, n_chars, "
    "round(n_tokens / (n_words * 1e0), 6) AS fertility, "
    "round(n_chars / (n_tokens * 1e0), 6) AS chars_per_token FROM g"
)


# ---- code-vs-prose detection signals ----------------------------------------

def q_text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose signals per document: brace/semicolon/assignment
    densities and indented-line share — the curation screen that routes
    documents to a code pipeline (or strips code blocks from a prose
    corpus). All exact integer counts from length-difference and regexp
    extraction; the flag is a threshold on exact integers so it can never
    flip cross-engine."""
    d = load_table(spark, sf_dir, "documents")

    def occurrences(ch: str):
        return (
            F.length("text") - F.length(F.replace(F.col("text"), F.lit(ch)))
        ).cast("long")

    n_braces = occurrences("{") + occurrences("}")
    n_semis = occurrences(";")
    n_lines = (F.size(F.split(F.col("text"), "\n", -1))).cast("long")
    n_indented = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("\\n(    |\\t)"), F.lit(0))
    ).cast("long")
    out = d.select(
        "doc_id",
        n_braces.alias("n_braces"),
        n_semis.alias("n_semicolons"),
        n_lines.alias("n_lines"),
        n_indented.alias("n_indented"),
    )
    return out.select(
        "doc_id",
        "n_braces",
        "n_semicolons",
        "n_lines",
        "n_indented",
        (
            (F.col("n_braces") * 20 >= F.col("n_lines"))
            & (F.col("n_semicolons") * 10 >= F.col("n_lines"))
        ).alias("code_like"),
    )


QUERIES["text_code_detect"] = q_text_code_detect
ORACLES["text_code_detect"] = (
    "WITH s AS (SELECT doc_id, "
    "CAST(length(text) - length(replace(text, '{', '')) "
    "+ length(text) - length(replace(text, '}', '')) AS BIGINT) AS n_braces, "
    "CAST(length(text) - length(replace(text, ';', '')) AS BIGINT) "
    "AS n_semicolons, "
    "CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines, "
    "CAST(len(regexp_extract_all(text, '\\n(    |\\t)')) AS BIGINT) "
    "AS n_indented FROM documents) "
    "SELECT doc_id, n_braces, n_semicolons, n_lines, n_indented, "
    "(n_braces * 20 >= n_lines AND n_semicolons * 10 >= n_lines) "
    "AS code_like FROM s"
)


# ---- Jensen-Shannon divergence between k-gram profiles ---------------------------

JS_K = 3

#: the per-gram JS term, ONE format string instantiated by both engines so
#: the double expression is textually identical (engine-shared constants
#: pattern): 0.5*(p*ln(2p/(p+q)) + q*ln(2q/(p+q))), quantized to integer
#: NANO-units per gram BEFORE the cross-row sum — accumulation order can
#: then never drift between engines.
_JS_TERM = (
    "cast(round((case when {p} > 0e0 then {p} * ln(2e0 * {p} / ({p} + {q})) "
    "else 0e0 end + case when {q} > 0e0 then {q} * ln(2e0 * {q} / ({p} + {q})) "
    "else 0e0 end) * 0.5e0 * 1e9) as bigint)"
)


def q_text_kgram_profile_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the character-3-gram profiles of
    two corpus halves (even vs odd doc_id) — the distribution-shift test
    dedup/contamination pipelines run between a new crawl slice and the
    existing corpus (JS is symmetric, bounded by ln 2, and defined even
    where one side has zero mass — unlike KL). Profiles are exact count
    ratios; each gram's JS term is quantized to integer nano-units before
    summation (_JS_TERM is one shared format string, so the float
    expression is character-identical in both engines)."""
    d = load_table(spark, sf_dir, "documents")
    # Guard: Spark's sequence(1, 0) DESCENDS to [1, 0] (DuckDB's
    # generate_series(1, 0) is empty), so a doc shorter than JS_K chars
    # would fabricate grams the oracle never sees. Filtering is exact:
    # such docs contribute zero grams on both engines.
    # r13: substring(text, i, K) per position rescans the string from the
    # byte level each call — O(len²) per document. Splitting to a char
    # array once and concatenating O(1) element_at lookups is O(len)
    # (measured 16× on the sibling 1-gram shape; identical output for BMP
    # text, which is what the fixtures and the substr-based oracle cover).
    grams = (
        d.filter(F.length(F.lower("text")) >= JS_K)
        .select(
            (F.col("doc_id") % 2 == 0).alias("even"),
            F.split(F.lower("text"), "").alias("_c"),
        )
        .select(
            "even",
            F.explode(
                F.expr(
                    f"transform(sequence(1, greatest(size(_c) - {JS_K - 1}, 0)), "
                    "i -> concat("
                    + ", ".join(
                        f"element_at(_c, i + {j})" for j in range(JS_K)
                    )
                    + "))"
                )
            ).alias("gram"),
        )
    )
    counts = (
        grams.groupBy("gram")
        .agg(
            F.sum(F.when(F.col("even"), 1).otherwise(0)).cast("long").alias("ca"),
            F.sum(F.when(F.col("even"), 0).otherwise(1)).cast("long").alias("cb"),
        )
    )
    tots = counts.agg(
        F.sum("ca").alias("tot_a"), F.sum("cb").alias("tot_b")
    )
    term = _JS_TERM.format(p="(ca / (tot_a * 1e0))", q="(cb / (tot_b * 1e0))")
    per_gram = counts.crossJoin(F.broadcast(tots)).select(
        F.expr(term).alias("t")
    )
    return per_gram.agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.round(F.sum("t") / F.lit(1e9), 6).alias("js_nats"),
    )


QUERIES["text_kgram_profile_js"] = q_text_kgram_profile_js
ORACLES["text_kgram_profile_js"] = (
    "WITH grams AS (SELECT doc_id % 2 = 0 AS even, "
    f"substr(lower(text), i, {JS_K}) AS gram FROM documents, "
    f"unnest(generate_series(1, greatest(len(lower(text)) - {JS_K - 1}, 0))) "
    "AS t(i)), "
    "counts AS (SELECT gram, "
    "CAST(sum(CASE WHEN even THEN 1 ELSE 0 END) AS BIGINT) AS ca, "
    "CAST(sum(CASE WHEN even THEN 0 ELSE 1 END) AS BIGINT) AS cb "
    "FROM grams GROUP BY 1), "
    "tots AS (SELECT CAST(sum(ca) AS BIGINT) AS tot_a, "
    "CAST(sum(cb) AS BIGINT) AS tot_b FROM counts), "
    "per_gram AS (SELECT "
    + _JS_TERM.format(p="(ca / (tot_a * 1e0))", q="(cb / (tot_b * 1e0))")
    + " AS t FROM counts, tots) "
    "SELECT count(*)::BIGINT AS n_grams, "
    "round(CAST(sum(t) AS BIGINT) / 1e9, 6) AS js_nats FROM per_gram"
)


# ---- corpus character entropy -----------------------------------------------------

def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the corpus character distribution (lowercased) —
    the compressibility / encoding-health one-liner (natural language sits
    ~4.0-4.5 bits/char; binary-contaminated or repetitive corpora fall
    out of band). Per-character counts are exact; each −p·log2(p) term is
    quantized to integer nano-units before the sum."""
    d = load_table(spark, sf_dir, "documents")
    # Same sequence(1, 0)-descends guard as q_text_kgram_profile_js: an
    # empty doc must contribute zero chars on both engines.
    # r13: same O(len²)→O(len) substring→split rewrite as
    # q_text_kgram_profile_js (measured 5.04 → 0.32 s for this explode+agg
    # at sf0.1, byte-identical counts)
    chars = d.filter(F.length(F.lower("text")) > 0).select(
        F.explode(F.split(F.lower("text"), "")).alias("ch")
    )
    per = chars.groupBy("ch").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = per.agg(F.sum("c").alias("n_chars"))
    term = (
        "cast(round((-(c / (n_chars * 1e0)) * "
        "ln(c / (n_chars * 1e0)) / ln(2e0)) * 1e9) as bigint)"
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select("n_chars", F.expr(term).alias("t"))
        .groupBy()
        .agg(
            F.max("n_chars").cast("long").alias("n_chars"),
            F.count(F.lit(1)).cast("long").alias("n_symbols"),
            F.round(F.sum("t") / F.lit(1e9), 6).alias("entropy_bits"),
        )
    )


QUERIES["text_char_entropy"] = q_text_char_entropy
ORACLES["text_char_entropy"] = (
    "WITH chars AS (SELECT substr(lower(text), i, 1) AS ch FROM documents, "
    "unnest(generate_series(1, len(lower(text)))) AS t(i)), "
    "per AS (SELECT ch, count(*)::BIGINT AS c FROM chars GROUP BY 1), "
    "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_chars FROM per), "
    "terms AS (SELECT n_chars, "
    "cast(round((-(c / (n_chars * 1e0)) * ln(c / (n_chars * 1e0)) / ln(2e0)) "
    "* 1e9) as bigint) AS t FROM per, tot) "
    "SELECT max(n_chars)::BIGINT AS n_chars, count(*)::BIGINT AS n_symbols, "
    "round(CAST(sum(t) AS BIGINT) / 1e9, 6) AS entropy_bits FROM terms"
)
