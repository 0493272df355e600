"""Deduplication operators for large-scale training-data pipelines.

Generalizes the reference's only dedup (edge-set DISTINCT, SURVEY.md §2.3) to
document-level exact and near-duplicate detection:

  * exact_dedup          — hash-groupBy on canonical bytes
  * ngram_jaccard_pairs  — exact word-n-gram Jaccard via shared-shingle join
  * minhash_signatures / minhash_lsh_pairs — MinHash sketch + banded LSH
  * simhash_signatures   — bitwise majority fingerprint

All hashing goes through the md5-based portable family
(functions/hashing.py) so the DuckDB oracle reproduces identical values.

Scale posture (100 TB): every operator is explode → shuffle-on-key →
aggregate; the classic near-dup blowup (a shingle shared by millions of docs)
is capped with ``max_df`` document-frequency pruning before the self-join —
the standard trick to keep LSH bucket joins skew-free. No driver-side state.

The shingle/word explode is a 50-100× row fan-out with real per-row
expression work — the ONE stage whose parallelism must not be inherited from
the scan (a compact parquet file yields few input splits; measured 6×
speedup at sf0.1 from spreading the fan-out across the shuffle width). Each
fan-out operator therefore repartitions the doc relation by id first: a
narrow shuffle of the small pre-explode rows that also pre-locates the
groupBy(id) aggregations that follow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark.cache import cached
from giranking_spark.functions.hashing import affine, md5_u32, md5_u60
from giranking_spark.functions.text import words


def _spread(docs: DataFrame, id_col: str) -> DataFrame:
    """Repartition the pre-explode doc relation to the session shuffle width,
    keyed on the doc id (see module docstring)."""
    n = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return docs.repartition(n, F.col(id_col))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (content_hash, n_docs, keep_id).

    keep_id = smallest doc id (deterministic survivor pick)."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def shingle_rows(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shingle) — one row per word-n-gram OCCURRENCE (duplicates kept).

    Formulated as posexplode(words) + window lead()s keyed on the doc id, not
    as an array-lambda expression: the transform/slice higher-order-function
    version evaluates ~20× slower per row and serializes under thread
    contention (measured 20.3s vs 0.98s at sf0.1 × 32 cores — same output,
    verified by checksum). The window's hashpartitioning(id) is exactly the
    _spread partitioning, so no extra exchange is introduced."""
    from pyspark.sql.window import Window

    wx = _spread(docs, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(words(F.col(text_col))).alias("pos", "word"),
    )
    if n == 1:
        return wx.select("id", F.col("word").alias("shingle"))
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("word")] + [F.lead("word", i).over(w) for i in range(1, n)]
    return (
        wx.select(
            "id",
            F.concat_ws("_", *parts).alias("shingle"),
            F.lead("word", n - 1).over(w).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select("id", "shingle")
    )


def doc_shingles(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle)."""
    return shingle_rows(docs, n, id_col, text_col).distinct()


def _pruned_shingles(
    docs: DataFrame,
    n: int,
    max_df: int | None,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Distinct hashed (id, shingle) rows with df > max_df shingles pruned,
    built with ONE exchange: an explicit repartition on the hashed shingle,
    after which both the (shingle, id) dedup and the per-shingle df window
    run in place (hash partitioning on shingle satisfies the subset
    clustering rule for both), and the result comes out shingle-partitioned
    so a downstream pair self-join needs sorts only."""
    from pyspark.sql.window import Window

    n_parts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sh = (
        shingle_rows(docs, n, id_col, text_col)
        .select("id", md5_u60(F.col("shingle")).alias("shingle"))
        .repartition(n_parts, "shingle")
        .distinct()
    )
    if max_df is not None:
        wdf = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("__df", F.count(F.lit(1)).over(wdf))
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )
    return sh


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Jaccard similarity over word-n-gram sets for every candidate pair
    sharing ≥1 shingle: (id_a, id_b, jaccard), id_a < id_b.

    ``max_df`` prunes shingles present in more than that many documents
    before the self-join (skew guard; None disables).

    Scale design: shingles are hashed to portable 60-bit ints BEFORE the
    per-doc distinct, so every downstream shuffle (dedup, df-prune, the
    self-join) moves 8-byte keys instead of n-gram strings (collision odds
    ~n²/2⁶¹ — effectively exact; the oracle applies the same hash). The
    pruned shingle set feeds three consumers (sizes + both self-join sides),
    so it is persisted for the job — otherwise the scan+explode pipeline
    re-runs ~4x.

    r11 single-exchange shape (measured at sf10-mut: the dedup-distinct +
    df-groupBy + prune-join chain cost 55 s of an 80 s stage): ONE explicit
    repartition on the hashed shingle, then the (shingle, id) dedup and the
    per-shingle df count both run WITHOUT further exchanges (hash
    partitioning on shingle satisfies the subset clustering rule for both
    the distinct and the window), and the persisted relation comes out
    shingle-partitioned so the pair self-join needs sorts only. Skew
    exposure is unchanged vs the old join-by-shingle prune: a viral
    pre-prune shingle lands in one partition either way, and max_df bounds
    what survives downstream."""
    with cached(_pruned_shingles(docs, n, max_df, id_col, text_col)) as sh:
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
        a = sh.select(F.col("id").alias("id_a"), "shingle")
        b = sh.select(F.col("id").alias("id_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        return (
            inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
            .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
            .withColumn(
                "jaccard",
                F.round(
                    F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        ).localCheckpoint()


def minhash_signatures(
    docs: DataFrame, k: int = 16, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """MinHash sketch: (id, s0..s{k-1}) where s_i = min over shingles of the
    i-th portable affine hash. One explode + ONE groupBy — fully distributed,
    sketch size k·8 bytes per doc.

    No shingle-dedup shuffle at all: min is multiset-insensitive, so
    min(affine(h)) over the raw exploded shingles equals min over the
    DISTINCT shingle set (which the DuckDB oracle uses). Map-side partial
    aggregation collapses each partition to one k-tuple per doc before the
    only shuffle — the groupBy(id) moves k·8 bytes per (doc, partition),
    independent of shingle count."""
    sh = shingle_rows(docs, n, id_col, text_col).select(
        "id", md5_u32(F.col("shingle")).alias("h")
    )
    aggs = [F.min(affine(F.col("h"), i)).alias(f"s{i}") for i in range(k)]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Banded-LSH candidate pairs: docs agreeing on ALL rows of ≥1 band.
    k/bands rows per band; returns (id_a, id_b, n_bands) sorted pairs.

    Scale: the pair join happens per-band on the band-hash key (a shuffle on
    a short string), never all-pairs. The banded signature relation feeds
    BOTH self-join sides, so it is persisted — otherwise the whole
    shingle+sketch pipeline runs twice."""
    sig = minhash_signatures(docs, k, n, id_col, text_col)
    return banded_pairs(sig, k, bands)


def band_keys(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """(id, band, bh) band-hash keys of a signature relation
    (id, s0..s{k-1}) — the bucketed join key both within-corpus pairing
    and incremental batch-vs-corpus matching hang off."""
    rows = k // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"s{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("_", *cols)).alias("bh"))
        )
    return sig.select(
        F.col("id"), F.explode(F.array(*band_cols)).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))


def banded_pairs(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """LSH candidate pairs from a signature relation (id, s0..s{k-1}):
    (id_a, id_b, n_bands) for docs agreeing on ALL rows of ≥1 band."""
    with cached(band_keys(sig, k, bands)) as exploded:
        a = exploded.select(F.col("id").alias("id_a"), "band", "bh")
        b = exploded.select(F.col("id").alias("id_b"), "band", "bh")
        return (
            a.join(b, ["band", "bh"])
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_bands"))
        ).localCheckpoint()


def incremental_lsh_matches(
    base: DataFrame,
    batch: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental (batch-vs-corpus) near-dup screen: for every NEW
    document, whether it LSH-collides with the EXISTING corpus — the
    production ingest mode, where the daily batch is checked against the
    accumulated index without ever recomparing corpus × corpus.

    Returns one row per batch document: (doc_id, n_base_matches, is_dup).
    The join is band-bucketed batch-side × base-side (never all-pairs,
    never base × base); at scale the base band-key relation is the
    persisted index artifact and only the batch side is computed fresh."""
    base_keys = band_keys(minhash_signatures(base, k=k, n=n, id_col=id_col, text_col=text_col), k, bands)
    batch_keys = band_keys(minhash_signatures(batch, k=k, n=n, id_col=id_col, text_col=text_col), k, bands)
    hits = (
        batch_keys.join(
            base_keys.select("band", "bh", F.col("id").alias("base_id")),
            ["band", "bh"],
        )
        .select(F.col("id"), "base_id")
        .distinct()
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_base_matches"))
    )
    return (
        batch.select(F.col(id_col).alias("id"))
        .distinct()
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_base_matches", F.lit(0)).cast("long").alias("n_base_matches"),
            (F.coalesce("n_base_matches", F.lit(0)) > 0).alias("is_dup"),
        )
    )


def minhash_jaccard_estimates(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sketch-based Jaccard ESTIMATES for the banded-LSH candidate pairs:
    (id_a, id_b, jaccard_est) with est = (#agreeing components) / k.

    This is the operator a 100 TB near-dup pipeline actually runs: banded
    LSH supplies the candidates, the sketch supplies the similarity — cost k
    comparisons per candidate pair, NO shared-shingle self-join and no
    second pass over the corpus (contrast :func:`ngram_jaccard_pairs`, the
    exact formulation). The signature relation feeds candidate generation
    and both estimate joins, so it is persisted."""
    with cached(minhash_signatures(docs, k, n, id_col, text_col)) as sig:
        pairs = banded_pairs(sig, k, bands)
        sa = sig.select(F.col("id").alias("id_a"), *[F.col(f"s{i}").alias(f"a{i}") for i in range(k)])
        sb = sig.select(F.col("id").alias("id_b"), *[F.col(f"s{i}").alias(f"b{i}") for i in range(k)])
        agree = None
        for i in range(k):
            term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), F.lit(1)).otherwise(F.lit(0))
            agree = term if agree is None else agree + term
        return (
            pairs.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(agree / F.lit(float(k)), 6).alias("jaccard_est"),
            )
        ).localCheckpoint()


def simhash_signatures(
    docs: DataFrame, bits: int = 32, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """SimHash: per document, the ``bits``-wide majority fingerprint of its
    word hashes (with multiplicity): (id, simhash BIGINT).

    bit b of the signature = 1 iff sum over words of (bit b of hash ? +1 : -1)
    is positive. Single explode + single groupBy with ``bits`` conditional
    sums — no UDFs."""
    w = _spread(docs, id_col).select(
        F.col(id_col).alias("id"), F.explode(words(F.col(text_col))).alias("word")
    )
    h = md5_u32(F.col("word"))
    aggs = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    per_bit = w.groupBy("id").agg(*aggs)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return per_bit.select("id", sig.cast("bigint").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance: (id_a, id_b, hamming)
    with hamming ≤ ``max_hamming``.

    EXACT under the band parameters, never all-pairs: with ``bands`` blocks of
    ``bits/bands`` signature bits, any pair within ``bands - 1`` bit flips
    shares at least one untouched block (pigeonhole), so the banded equi-join
    has 100% recall for ``max_hamming ≤ bands - 1``; the xor/bit_count
    re-check then drops false candidates. Each stage is a bucketed
    shuffle-on-key — the same 100 TB posture as minhash_lsh_pairs.

    The hamming re-check is fused INTO the bucket join predicate (r10):
    with ``bits/bands``-bit keys a bucket holds corpus/2^width rows, so
    materializing every bucket-sharing pair before the filter was ~2·10⁹
    rows and a heap OOM at sf10 (500k docs, 256 buckets/band). As a join
    residual the xor/bit_count runs DURING the hash-join probe and only
    true near-dup rows ever exist — same result, streaming memory. (The
    Σ depth² probe comparisons are inherent to exact pigeonhole pairing;
    the scale lever is wider band keys — bits=64/bands=8 gives 16-bit
    keys — which changes the recall contract and so stays a parameter.)"""
    assert max_hamming <= bands - 1, "recall guarantee needs max_hamming < bands"
    width = bits // bands
    sigs = simhash_signatures(docs, bits=bits, id_col=id_col, text_col=text_col)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("key"),
            )
            for b in range(bands)
        ]
    )
    keys = sigs.select("id", "simhash", F.explode(band_structs).alias("bk")).select(
        "id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a, b = keys.alias("a"), keys.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id"))
            & (ham <= max_hamming),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("bigint").alias("hamming"),
        )
        .distinct()
    )


def neardup_clusters(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup cluster canonicalization — the step that turns candidate
    PAIRS into a usable dedup decision: LSH pairs → connected components
    over the pair graph → one keeper per cluster (the minimum id).

    Returns every document as (``id_col``, cluster, keep): ``cluster`` is
    the smallest doc id reachable through near-dup pairs (docs with no
    candidate pair form singleton clusters), ``keep`` marks the canonical
    representative. Downstream, ``filter(keep)`` IS the deduplicated corpus.

    Scale: pairs come from the banded equi-join (never all-pairs); the
    component fixpoint is the hash-min loop (operators/components.py) whose
    per-round cost is one shuffle of the pair relation — and the pair graph
    is tiny relative to the corpus (only near-dup docs appear in it)."""
    from giranking_spark.operators.components import connected_components

    pairs = minhash_lsh_pairs(docs, k, bands, n, id_col, text_col)
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    ids = docs.select(F.col(id_col))
    return (
        ids.join(comp, ids[id_col] == comp.id, "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).cast("long").alias("cluster"),
        )
        .withColumn("keep", F.col(id_col) == F.col("cluster"))
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Directed n-gram containment |A∩B| / |A| for every candidate pair
    sharing ≥1 shingle: (id_a, id_b, containment), id_a ≠ id_b.

    Containment is the asymmetric near-dup measure Jaccard misses: a short
    document pasted verbatim inside a long one scores containment ≈ 1.0
    while its Jaccard stays near |A|/|B| — the standard screen for
    sub-document (quote/boilerplate/excerpt) duplication in training-corpus
    curation (Broder's containment, as in "On the resemblance and
    containment of documents", 1997).

    Scale design is identical to ngram_jaccard_pairs: shingles hashed to
    60-bit ints before the per-doc distinct, ``max_df`` document-frequency
    pruning caps the self-join fan-out (skew guard), and every stage is a
    bucketed shuffle-on-key — never all-pairs. The pair relation is emitted
    DIRECTED (both (a,b) and (b,a) when both clear the threshold) because
    containment is not symmetric."""
    with cached(_pruned_shingles(docs, n, max_df, id_col, text_col)) as sh:
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
        a = sh.select(F.col("id").alias("id_a"), "shingle")
        b = sh.select(F.col("id").alias("id_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") != F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        return (
            inter.join(
                sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"),
                "id_a",
            )
            .withColumn("containment", F.round(F.col("inter") / F.col("sz_a"), 6))
            .filter(F.col("containment") >= threshold)
            .select("id_a", "id_b", "containment")
        ).localCheckpoint()


def chunk_dedup(
    docs: DataFrame,
    chunk_words: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Chunk-level (paragraph-style) exact dedup with first-occurrence keep:
    (doc_id, n_chunks, n_kept).

    Documents are segmented into consecutive ``chunk_words``-word chunks; a
    chunk is KEPT iff its first global occurrence — the lexicographically
    smallest (doc_id, chunk_idx) over all byte-identical chunks — lies in
    this document. This is the sub-document granularity of C4/RefinedWeb
    style line/paragraph dedup: repeated boilerplate is removed corpus-wide
    while each unique passage survives exactly once. (The fixture corpus has
    no newline structure, so the segmenter is the fixed word window; on real
    corpora pass paragraphs through the same pipeline.)

    Scale: chunk strings assemble via posexplode + window ``lead()``s on
    (id, pos) — the shingle_rows formulation; the array-lambda
    transform/slice alternative is ~20× slower per row and serializes under
    thread contention (see the shingle_rows docstring; switching cut this
    operator 13.2 s → ~1 s at sf0.1). The window's hashpartitioning(id) is
    the _spread partitioning, so no extra exchange. Remaining shuffles: the
    groupBy on the 60-bit chunk hash (min-pair per hash, map-side
    combinable) and the equi-join back. First-occurrence choice is a
    deterministic arg-min — no window over the full corpus."""
    from pyspark.sql.window import Window

    wx = _spread(docs, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(words(F.col(text_col))).alias("pos", "word"),
    )
    win = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("word")] + [
        F.lead("word", i).over(win) for i in range(1, chunk_words)
    ]
    # concat_ws skips NULLs, so the trailing partial chunk joins exactly its
    # present words — identical to array_join over a clipped slice
    ch = (
        wx.select(
            "id",
            F.col("pos").alias("p"),
            F.concat_ws(" ", *parts).alias("chunk"),
        )
        .filter(F.col("p") % chunk_words == 0)
        .select(
            "id",
            (F.col("p") / chunk_words).cast("int").alias("chunk_idx"),
            md5_u60(F.col("chunk")).alias("h"),
        )
    )
    first = ch.groupBy("h").agg(
        F.min(F.struct("id", "chunk_idx")).alias("first")
    )
    return (
        ch.join(first, "h")
        .withColumn(
            "keep",
            (F.col("id") == F.col("first.id"))
            & (F.col("chunk_idx") == F.col("first.chunk_idx")),
        )
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
        )
    )


def banded_hamming_pairs(
    sigs: DataFrame,
    bits: int,
    bands: int = 4,
    max_hamming: int = 3,
    id_col: str = "id",
    sig_col: str = "sig",
) -> DataFrame:
    """Generic pigeonhole-banded hamming join over any integer signature
    column: (id_a, id_b, hamming) with hamming ≤ ``max_hamming``.

    The simhash_pairs candidate machinery, factored for reuse by other
    fixed-width fingerprints (image perceptual hashes, audio fingerprints):
    split the ``bits``-wide signature into ``bands`` blocks, equi-join on
    (band, block value) — any pair within ``bands − 1`` bit flips shares an
    untouched block, so recall is exact for ``max_hamming ≤ bands − 1`` —
    then verify with xor/bit_count. Bucketed shuffles only; never
    all-pairs."""
    assert max_hamming <= bands - 1, "recall guarantee needs max_hamming < bands"
    width = bits // bands
    s = sigs.select(F.col(id_col).alias("id"), F.col(sig_col).alias("sig"))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("sig"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("key"),
            )
            for b in range(bands - 1)
        ]
        + [
            # last band takes the remaining high bits (handles bits % bands)
            F.struct(
                F.lit(bands - 1).alias("band"),
                F.shiftright(F.col("sig"), (bands - 1) * width).alias("key"),
            )
        ]
    )
    keys = s.select("id", F.explode(band_structs).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = s.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = s.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(ham <= max_hamming)
        .select("id_a", "id_b", ham.cast("bigint").alias("hamming"))
    )
