"""Positional document fingerprinting: winnowing and exact substring runs.

Two classic curation primitives the hash-set dedup family (minhash/simhash)
does not cover because both need gram POSITIONS, not just gram sets:

* **Winnowing** (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the MOSS
  algorithm): slide a window of ``w`` consecutive k-gram hashes over each
  document and keep the window minimum. Guarantees every shared substring of
  length >= w + k - 1 tokens yields at least one shared fingerprint, while
  storing only ~2/(w+1) of the gram hashes.

* **Exact substring runs** (the training-data dedup of Lee et al. 2021,
  "Deduplicating Training Data Makes Language Models Better"): the longest
  run of consecutive shared k-grams between a document pair, found by
  anchoring on shared gram hashes and extending along match diagonals with
  a gaps-and-islands grouping — never a character-level alignment.

Scale shape: everything is (doc-partitioned window) -> (equi-join on gram
hash) -> (window/groupBy). The only self-join is on the 60-bit gram hash
with a document-frequency cap (``max_df``) pruning boilerplate grams first —
the same skew guard as ngram_jaccard_pairs, mirrored in the oracles. No
cartesian products, no Python UDFs.

Reference parity note: the reference engine has no positional fingerprinting
(its dedup is URL-level, giraph-nutch LinkRank io); these are part of the
mandated training-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from giranking_spark.cache import cached
from giranking_spark.functions.hashing import md5_u32, md5_u60
from giranking_spark.functions.text import words
from giranking_spark.operators.dedup import _spread


def _gram_rows(
    docs: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, pos, gram) — one row per word-k-gram occurrence, 0-based pos.

    Same posexplode + lead() formulation as operators/dedup.shingle_rows
    (the array-lambda alternative is ~20x slower), but positions are kept
    because both fingerprint algorithms are positional."""
    wx = _spread(docs, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(words(F.col(text_col))).alias("pos", "word"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("word")] + [F.lead("word", i).over(w) for i in range(1, k)]
    return (
        wx.select(
            "id",
            "pos",
            F.concat_ws("_", *parts).alias("gram"),
            F.lead("word", k - 1).over(w).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select("id", "pos", "gram")
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, fp) — the distinct winnowing fingerprint set per document.

    Each window of ``w`` consecutive k-gram hashes contributes its minimum;
    documents shorter than w + k - 1 words contribute the min over whatever
    grams they have (one degenerate window), so no non-empty document is
    left fingerprint-less. Runs as two doc-partitioned windows + a distinct
    — one shuffle on the doc id total."""
    g = _gram_rows(docs, k, id_col, text_col).withColumn("h", md5_u32(F.col("gram")))
    wd = Window.partitionBy("id")
    wmin = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        g.withColumn("gcnt", F.count(F.lit(1)).over(wd))
        .withColumn("fp", F.min("h").over(wmin))
        .filter(F.col("pos") <= F.greatest(F.lit(0), F.col("gcnt") - F.lit(w)))
        .select(F.col("id").alias("doc_id"), "fp")
        .distinct()
    )


def winnow_pairs(
    docs: DataFrame,
    k: int = 4,
    w: int = 5,
    min_shared: int = 3,
    max_df: int = 400,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, shared) — pairs sharing >= min_shared winnowing
    fingerprints. The self-join runs on the fingerprint value with the
    document-frequency cap applied FIRST, so a boilerplate gram shared by
    every document can never explode the candidate join (the MOSS 'ignore
    fingerprints in too many submissions' rule, which is also the 100 TB
    skew guard)."""
    # cache: the fingerprint relation feeds the df-cap aggregate AND both
    # sides of the candidate self-join — without it the whole two-window
    # shingle pipeline re-executes per reference (the plan showed 24 Window
    # ops = ~6 copies; r13, guide §5 caching-for-reuse).
    # (A plain fp.localCheckpoint() was measured ~25% slower at sf0.1 —
    # the eager checkpoint pays a separate materialization job for the
    # full fingerprint relation; persist folds it into the first consumer.)
    fp = winnow_fingerprints(
        docs, k=k, w=w, id_col=id_col, text_col=text_col
    )
    with cached(fp):
        keep = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
            F.col("df") <= max_df
        )
        fpk = fp.join(keep.select("fp"), "fp")
        a = fpk.select(F.col("doc_id").alias("doc_a"), "fp")
        b = fpk.select(F.col("doc_id").alias("doc_b"), "fp")
        return (
            a.join(b, "fp")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("shared"))
            .filter(F.col("shared") >= min_shared)
        ).localCheckpoint()


def substring_runs(
    docs: DataFrame,
    k: int = 5,
    min_run: int = 12,
    max_df: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, longest_run) — longest exactly-shared token run (in
    tokens, >= min_run) between document pairs.

    Anchors are shared k-gram 60-bit hashes (doc-frequency-capped); matches
    on the same diagonal (pos_a - pos_b) with consecutive positions form one
    run, grouped with the gaps-and-islands trick (pos - row_number is
    constant within a consecutive stretch). A run of c consecutive matching
    k-grams certifies c + k - 1 exactly-equal tokens."""
    # same reuse cache as winnow_pairs: g feeds the df-cap aggregate and
    # both join sides — three executions of the gram+hash window pipeline
    # without it
    g = _gram_rows(docs, k, id_col, text_col).withColumn(
        "h", md5_u60(F.col("gram"))
    )
    with cached(g):
        keep = (
            g.groupBy("h")
            .agg(F.countDistinct("id").alias("df"))
            .filter(F.col("df") <= max_df)
        )
        gk = g.join(keep.select("h"), "h").select("id", "pos", "h")
        a = gk.select(F.col("id").alias("doc_a"), F.col("pos").alias("pa"), "h")
        b = gk.select(F.col("id").alias("doc_b"), F.col("pos").alias("pb"), "h")
        pairs = a.join(b, "h").filter(F.col("doc_a") < F.col("doc_b"))
        wdiag = Window.partitionBy(
            "doc_a", "doc_b", (F.col("pa") - F.col("pb"))
        ).orderBy("pa")
        runs = (
            pairs.withColumn("isl", F.col("pa") - F.row_number().over(wdiag))
            .groupBy("doc_a", "doc_b", (F.col("pa") - F.col("pb")).alias("d"), "isl")
            .agg((F.count(F.lit(1)) + F.lit(k - 1)).alias("run"))
        )
        return (
            runs.groupBy("doc_a", "doc_b")
            .agg(F.max("run").alias("longest_run"))
            .filter(F.col("longest_run") >= min_run)
        ).localCheckpoint()
