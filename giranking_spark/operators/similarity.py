"""Similarity search over embedding columns (array<float>).

Three paths, as a large-scale pipeline needs all of them:

  * brute-force cosine top-k — exact; hash-bucketed Arrow-GEMM candidate
    generation (gemm_topk_candidates) + JVM re-rank of the rounded cosine.
    The baseline and the oracle-checkable path; |C|·|Q| flops happen in
    BLAS, only ~k+ties rows per (query, bucket) reach the JVM rank.
  * IVF (inverted-file) top-k — the scale path: corpus assigned once to the
    nearest of C centroids (coarse quantizer), queries probe only
    ``nprobe`` cells → the expensive join touches ~nprobe/C of the corpus.
    At 100 TB the assignment is a narrow shuffle on cell id and the probe
    join is cell-partitioned.
  * sign-random-projection LSH top-k — the other scale path: B bands of R
    hyperplane sign bits per vector; candidates = pairs agreeing on a whole
    band (equi-join on (band, bucket), never all-pairs), then exact cosine
    re-rank of candidates only. Hyperplanes are fixed pseudo-random
    constants inlined into both the Spark plan and the oracle SQL.

Centroids here are picked deterministically (first C vectors by id) so the
whole pipeline stays oracle-reproducible; plugging in k-means centroids is a
drop-in (same schema).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from giranking_spark.cache import cached


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def cosine(a, b):
    # Zero-norm guard: a zero vector would make 0/0 — NaN with ANSI off,
    # a hard DIVIDE_BY_ZERO error with ANSI on (the driver's mode). The
    # when-guard yields NULL instead on BOTH ANSI modes; downstream rank /
    # range paths drop NULL scores, so "zero vector never matches" is the
    # defined semantics. For nonzero norms the value is unchanged.
    denom = _norm(a) * _norm(b)
    return F.when(denom != F.lit(0.0), _dot(a, b) / denom)


def _partial_topk(scored: DataFrame, k: int, score_col: str) -> DataFrame:
    """Per-Arrow-batch partial top-k trim ahead of the per-query rank.

    The exact brute-force baselines score |C|x|Q| pairs; ranking them with
    a row_number window alone shuffles and sorts that entire relation.
    This narrow (shuffle-free) mapInPandas stage keeps, within each Arrow
    batch, only the k best (score desc, neighbor_id asc) rows per query, so
    the window's input shrinks from |C|x|Q| rows to <= n_batches*|Q|*k.
    Exactness: any row dropped here is dominated by >= k rows from the SAME
    batch that do reach the final rank, under the same comparator the final
    window uses (scores are pre-rounded, so the comparator cannot flip).
    Python sees only the three skinny rank columns — the dot products stay
    JVM-side.

    NaN/NULL scores (a zero-norm vector makes cosine 0/0 → NULL via the
    :func:`cosine` guard; other score definitions may produce NaN) are
    dropped HERE, on the JVM side, before the trim: pandas sorts NaN last
    (it would be trimmed away) while Spark's desc window orders NaN first
    (it would rank top), so without this filter the trimmed and untrimmed
    pipelines disagree exactly on those rows. Dropping them makes "no
    score, no match" the defined semantics on both paths by construction."""

    cols = ["query_id", "neighbor_id", score_col]
    scored = scored.filter(
        F.col(score_col).isNotNull() & ~F.isnan(F.col(score_col))
    )
    schema = scored.select(*cols).schema

    def trim(batches):
        for pdf in batches:
            if len(pdf):
                pdf = pdf.sort_values(
                    ["query_id", score_col, "neighbor_id"],
                    ascending=[True, False, True],
                    kind="mergesort",
                )
                yield pdf.groupby("query_id", sort=False).head(k)

    return scored.select(*cols).mapInPandas(trim, schema)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query: (query_id, neighbor_id, cos) —
    neighbor != query.

    r10 shape: the |C|·|Q| scoring runs as a hash-bucketed Arrow GEMM
    (:func:`gemm_topk_candidates` over :func:`bucket_for_gemm` blocks —
    the registry's query set is every 50th corpus vector, so the scored
    relation is quadratic in the corpus and per-pair Column expressions
    stopped being viable at the second measured decade). The JVM then
    recomputes the exact rounded cosine on the ~k+ties-per-bucket
    candidates, so the final comparator — and the oracle — is identical
    to the original broadcast-join formulation. Zero-norm vectors drop on
    both paths (cosine-NULL contract)."""
    cbk, qbk = bucket_for_gemm(
        corpus.select(id_col, vec_col),
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ),
        buckets=GEMM_BUCKETS,
        id_col=id_col,
    )
    cand = gemm_topk_candidates(
        cbk, qbk, k=k, metric="cos", id_col=id_col, vec_col=vec_col
    )
    scored = (
        cand.join(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
            ),
            "query_id",
        )
        .join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
            ),
            "neighbor_id",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv").cast("array<double>"), F.col("cv").cast("array<double>")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos")
    )


def brute_force_range(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine RANGE search: every (query, neighbor) pair with
    cos ≥ ``threshold`` — the radius-query twin of :func:`brute_force_topk`
    (same bucketed-GEMM shape, k=None range mode) with NO window shuffle
    at all: result size, not candidate count, bounds the output — the
    GEMM emits only pairs within the 2-step margin of the threshold and
    the exact JVM filter below decides the boundary. The comparison
    happens on the 6-decimal ROUNDED score (mirrored in the oracle) so
    the boundary can never flip between engines."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    cbk, qbk = bucket_for_gemm(
        c, q.withColumnRenamed("query_id", "qid"),
        buckets=GEMM_BUCKETS, id_col="neighbor_id",
    )
    cand = gemm_topk_candidates(
        cbk,
        qbk,
        k=None,
        metric="cos",
        id_col="neighbor_id",
        vec_col="cv",
        qid_col="qid",
        min_score=threshold,
    ).withColumnRenamed("qid", "query_id")
    return (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine(
                    F.col("qv").cast("array<double>"),
                    F.col("cv").cast("array<double>"),
                ),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(threshold))
    )


#: ivf_assign dispatches to the GEMM path above this many |corpus|·|cells|
#: scored pairs — the Column-expression crossJoin is fine at the fixed-c
#: fixture scales (39M pairs at sf10) and cliffs when the cell count grows
#: with the corpus (3.9e9 pairs at sf100 with cells = |C|/1024).
ASSIGN_GEMM_MIN_PAIRS = 200_000_000


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    gemm: bool | None = None,
    corpus_count: int | None = None,
    cells_count: int | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine:
    (vec_id, cell, embedding). One broadcast join + map-side-combinable
    argmax — the IVF build.

    Precondition: ``id_col`` is unique in ``corpus``. The two dispatch
    arms agree only under that contract (the Column arm collapses a
    duplicated id to one row, the GEMM arm's corpus-left-join keeps each
    input row); every in-repo corpus satisfies it.

    ``gemm=None`` decides the arm from |corpus|·|cells|; pass
    ``corpus_count``/``cells_count`` when the caller already knows them so
    plan construction stays job-free (otherwise two bounded count jobs run
    here — callers that only need the plan shape should pin ``gemm``).

    r10: the argmax is max(struct(sim, -cell)) under a groupBy instead of
    a row_number window: identical result (largest sim, ties to the
    LOWEST cell; an all-NULL sim row — zero-norm vector — still lands in
    the lowest cell because struct comparison ranks NULL below any value
    on both paths), but the partial aggregation combines map-side, so the
    shuffle carries |corpus| rows instead of sorting |corpus|·c.

    r11: when |corpus|·|cells| exceeds ASSIGN_GEMM_MIN_PAIRS (the
    corpus-scaled quantizer regime — cells ∝ |C| makes the crossJoin
    quadratic), the top-1 candidate comes from the blocked GEMM (centroid
    side is one block; vectors grid by id) and the EXACT argmax — same
    max(struct(sim, -cell)) comparator — runs on ~1+ties candidates per
    vector. Zero-norm vectors, which the cosine-GEMM drops, are re-attached
    to the lowest cell, matching the Column path's NULL-sim behavior."""
    cent = centroids.select(F.col("cell"), F.col("cv"))
    if gemm is None:
        n = corpus_count if corpus_count is not None else corpus.count()
        c = cells_count if cells_count is not None else centroids.count()
        gemm = n * c > ASSIGN_GEMM_MIN_PAIRS
    if gemm:
        cbk, qbk = bucket_for_gemm(
            cent, corpus.select(id_col, vec_col),
            buckets=1, id_col="cell", qid_col=id_col,
        )
        cand = gemm_topk_candidates(
            cbk, qbk, k=1, metric="cos",
            id_col="cell", vec_col="cv", qid_col=id_col, qvec_col=vec_col,
            exclude_self=False,  # vec ids and cell ids are disjoint spaces
        ).withColumnRenamed("neighbor_id", "cell")
        scored = (
            cand.join(corpus.select(id_col, vec_col), id_col)
            .join(F.broadcast(cent), "cell")
            .select(
                F.col(id_col),
                F.col("cell"),
                cosine(
                    F.col(vec_col).cast("array<double>"),
                    F.col("cv").cast("array<double>"),
                ).alias("sim"),
            )
        )
        argmax = (
            scored.groupBy(id_col)
            .agg(
                F.max(
                    F.struct(F.col("sim"), (-F.col("cell")).alias("negc"))
                ).alias("m")
            )
            .select(id_col, (-F.col("m.negc")).alias("cell"))
        )
        low = cent.agg(F.min("cell").alias("__lowcell"))
        return (
            corpus.select(id_col, vec_col)
            .join(argmax, id_col, "left")
            .crossJoin(F.broadcast(low))
            .select(
                id_col,
                vec_col,
                F.coalesce(F.col("cell"), F.col("__lowcell")).alias("cell"),
            )
        )
    scored = corpus.crossJoin(F.broadcast(cent)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cell"),
        cosine(F.col(vec_col).cast("array<double>"), F.col("cv").cast("array<double>")).alias("sim"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.max(
                F.struct(F.col("sim"), (-F.col("cell")).alias("negc"))
            ).alias("m"),
            F.first(vec_col).alias(vec_col),
        )
        .select(id_col, vec_col, (-F.col("m.negc")).alias("cell"))
    )


def deterministic_centroids(
    corpus: DataFrame, c: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """First C vectors by id as coarse centroids (deterministic, oracle-able)."""
    return (
        corpus.orderBy(F.asc(id_col))
        .limit(c)
        .select(
            F.row_number().over(Window.orderBy(F.asc(id_col))).alias("cell"),
            F.col(vec_col).alias("cv"),
        )
    )


def kmeans_centroids(
    corpus: DataFrame,
    c: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_count: int | None = None,
) -> DataFrame:
    """Deterministic spherical-k-means coarse quantizer for IVF:
    (cell, cv array<double>) after ``iters`` Lloyd iterations.

    Init = first ``c`` vectors by id (reproducible); assignment = cosine
    argmax (same rule as :func:`ivf_assign`, ties to the lowest cell);
    update = elementwise mean of the assigned vectors; an emptied cell keeps
    its previous centroid. Fully distributed: assignment is a broadcast
    crossJoin + window, the mean is posexplode → groupBy(cell, dim) →
    rebuild via array_sort(collect_list(struct(dim, m))) — no driver-side
    vectors at any point; the per-iteration centroid relation (c rows) is
    localCheckpoint'ed so the corpus-wide assignment lineage does not nest
    across iterations."""
    cents = deterministic_centroids(corpus, c, id_col, vec_col).select(
        "cell", F.col("cv").cast("array<double>").alias("cv")
    )
    for _ in range(iters):
        assigned = ivf_assign(
            corpus, cents, id_col, vec_col,
            corpus_count=corpus_count, cells_count=c,
        )
        means = (
            assigned.select(
                "cell",
                F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "val"),
            )
            .groupBy("cell", "dim")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dv"))
            .select("cell", F.transform("dv", lambda s: s["m"]).alias("cv_new"))
        )
        cents = (
            cents.join(means, "cell", "left")
            .select("cell", F.coalesce("cv_new", "cv").alias("cv"))
            .localCheckpoint(eager=True)
        )
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    c: int = 8,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    gemm: bool | None = None,
    corpus_count: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k: probe the ``nprobe`` nearest cells only.
    Returns (query_id, neighbor_id, cos). ``centroids`` (cell, cv) overrides
    the deterministic first-c quantizer — e.g. :func:`kmeans_centroids`.
    ``gemm``/``corpus_count`` thread through to :func:`ivf_assign` so
    callers that already know the corpus size (or only need the plan
    shape) avoid its dispatch count jobs."""
    cents = (
        centroids
        if centroids is not None
        else deterministic_centroids(corpus, c, id_col, vec_col)
    )
    assigned = ivf_assign(
        corpus, cents, id_col, vec_col,
        gemm=gemm, corpus_count=corpus_count,
        cells_count=None if centroids is not None else c,
    )
    # which cells each query probes
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    qcells = q.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "qv",
        "cell",
        cosine(F.col("qv").cast("array<double>"), F.col("cv").cast("array<double>")).alias("sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cell"))
    probes = (
        qcells.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "cell")
    )
    # r10: the probe join used to score |Q|·|cell| pairs with per-pair
    # Column expressions — quadratic once |Q| grows with the corpus (the
    # registry queries sample every 50th vector). The cell-cogrouped GEMM
    # emits ~k+ties candidates per (query, probed cell); the JVM rescore
    # below recomputes the EXACT rounded cosine so comparator and oracle
    # are unchanged (margin proof: gemm_topk_candidates docstring).
    cand = gemm_topk_candidates(
        assigned.select("cell", id_col, F.col(vec_col).alias("v")),
        probes.select("cell", "query_id", "qv"),
        k=k,
        metric="cos",
        block_col="cell",
        id_col=id_col,
        vec_col="v",
    )
    scored = (
        cand.join(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
            ),
            "query_id",
        )
        .join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
            ),
            "neighbor_id",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv").cast("array<double>"), F.col("nv").cast("array<double>")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos")
    )


def random_hyperplanes(n: int, dim: int, seed: int = 7) -> list[list[float]]:
    """n fixed pseudo-random hyperplanes (components rounded to 6 dp so the
    SAME decimal literals parse to the SAME doubles in Spark and DuckDB)."""
    rng = random.Random(seed)
    return [
        [round(rng.uniform(-1.0, 1.0), 6) for _ in range(dim)] for _ in range(n)
    ]


def _band_bucket(
    vec, planes: list[list[float]], band: int, rows: int,
    stride: int | None = None,
):
    """Bucket id of one band: integer of the R hyperplane sign bits.
    ``stride`` is the plane-table row pitch — band b reads planes
    [b*stride, b*stride+rows). Defaults to ``rows`` (dense table); the
    corpus-scaled variant allocates ``stride`` = max rows per band so a
    count-derived ``rows`` never re-maps which plane serves which band."""
    pitch = stride if stride is not None else rows
    bits = None
    for r in range(rows):
        p = planes[band * pitch + r]
        dot = _dot(vec, F.array(*[F.lit(x) for x in p]))
        term = F.when(dot > 0, F.lit(2**r)).otherwise(F.lit(0))
        bits = term if bits is None else bits + term
    return bits.cast("bigint")


def scaled_lsh_rows(n: int, base_rows: int, max_rows: int, target: int) -> int:
    """Sign bits per band for an n-row corpus: smallest r in
    [base_rows, max_rows] with n <= target·2^r (so a band's expected
    bucket occupancy stays <= ``target``). Integer comparisons only — the
    DuckDB oracle evaluates the SAME sum-of-CASE formula on count(*), so
    both engines derive the identical r with no float log2 edge cases."""
    return base_rows + sum(
        1 for j in range(base_rows, max_rows) if n > target * (2 ** j)
    )


def lsh_buckets(
    df: DataFrame,
    planes: list[list[float]],
    bands: int,
    rows: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
    stride: int | None = None,
) -> DataFrame:
    """(id, *keep_cols, band, bucket) — one row per vector per band.
    ``keep_cols`` rides extra columns (e.g. a blocking label) through the
    explode so callers don't need a second join to recover them."""
    vec = F.col(vec_col).cast("array<double>")
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            _band_bucket(vec, planes, b, rows, stride).alias("bucket"),
        )
        for b in range(bands)
    ]
    return df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in keep_cols],
        F.explode(F.array(*entries)).alias("bb"),
    ).select(
        "id",
        *keep_cols,
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def lsh_query_probes(
    df: DataFrame,
    planes: list[list[float]],
    bands: int,
    rows: int,
    flips: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stride: int | None = None,
) -> DataFrame:
    """Multi-probe query-side bucket expansion (Lv et al., VLDB'07 applied
    to sign-LSH): per band, probe the vector's own bucket PLUS the
    ``flips`` buckets reached by flipping its least-confident sign bits —
    the bits whose hyperplane dot product is smallest in |·|, i.e. where
    the vector sits closest to the boundary and a true neighbor most
    likely landed on the other side. Returns (id, band, bucket) with
    1 + min(flips, rows) rows per (id, band): same schema as
    :func:`lsh_buckets`, so the candidate join is unchanged.

    Scale shape: this multiplies only the QUERY-side bucket rows (the
    corpus-side table and the per-vector bucketing cost are untouched),
    so candidate volume stays (1+flips)·bands·occupancy per query —
    corpus-independent when occupancy is pinned by scaled rows-per-band.

    Tie rule: equal |dot| breaks to the lowest plane index on both
    engines (lexicographic (|d|, index) sort; the DuckDB oracle sorts the
    same struct list — dot products are bitwise identical across engines,
    verified on the fixtures)."""
    pitch = stride if stride is not None else rows
    vec = F.col(vec_col).cast("array<double>")
    nf = min(flips, rows)
    band_arrays = []
    for b in range(bands):
        dots = [
            _dot(vec, F.array(*[F.lit(x) for x in planes[b * pitch + r]]))
            for r in range(rows)
        ]
        bucket = None
        for r in range(rows):
            term = F.when(dots[r] > 0, F.lit(2**r)).otherwise(F.lit(0))
            bucket = term if bucket is None else bucket + term
        bucket = bucket.cast("bigint")
        # (|d|, index, bit-weight) sorted ascending: the first nf entries
        # are the least-confident bits; carrying the weight in the struct
        # avoids a column-valued shift (shiftleft needs a literal count)
        confs = F.array_sort(
            F.array(
                *[
                    F.struct(
                        F.abs(dots[r]).alias("a"),
                        F.lit(r).alias("i"),
                        F.lit(2**r).cast("bigint").alias("w"),
                    )
                    for r in range(rows)
                ]
            )
        )
        probes = F.concat(
            F.array(bucket),
            F.transform(
                F.slice(confs, 1, nf), lambda s: bucket.bitwiseXOR(s["w"])
            ),
        )
        band_arrays.append(
            F.transform(
                probes,
                lambda p: F.struct(F.lit(b).alias("band"), p.alias("bucket")),
            )
        )
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.flatten(F.array(*band_arrays))).alias("bb"),
    ).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    bands: int = 4,
    rows: int = 4,
    k: int = 5,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    gemm: bool | None = None,
    stride: int | None = None,
    corpus_count: int | None = None,
    flips: int = 0,
) -> DataFrame:
    """Approximate cosine top-k via banded hyperplane LSH: candidates share
    ≥1 full band, re-ranked by exact cosine. (query_id, neighbor_id, cos).
    ``stride`` (plane-table pitch, see :func:`_band_bucket`) lets the
    corpus-scaled caller vary ``rows`` per corpus size over one fixed
    plane table; ``corpus_count`` skips the dispatch count job when the
    caller already ran one. ``flips`` > 0 enables query-side multi-probe
    (:func:`lsh_query_probes`): measured at sf0.1 the single-probe scaled
    point finds only half the true top-5 (recall@5 0.505); flips=3 lifts
    it to 0.9+ at every measured decade for ~4x candidate volume that
    stays corpus-independent."""
    planes = random_hyperplanes(bands * (stride or rows), dim, seed)
    cb = lsh_buckets(corpus, planes, bands, rows, id_col, vec_col, stride=stride)
    qb = (
        lsh_query_probes(
            queries, planes, bands, rows, flips, id_col, vec_col, stride=stride
        )
        if flips > 0
        else lsh_buckets(queries, planes, bands, rows, id_col, vec_col, stride=stride)
    )
    if gemm is None and corpus_count is not None:
        gemm = corpus_count > GEMM_MIN_CORPUS
    # r10: with few sign bits per band a bucket holds corpus/2^rows rows,
    # so enumerating every bucket-sharing pair is |Q|·bands·|bucket| rows
    # (2e8 at sf10) through distinct + per-pair cosine. Instead each
    # (band, bucket) is a GEMM block emitting its own top-k candidate
    # superset; the global top-k among ALL bucket-mates of a query is, for
    # some block, inside that block's top-k — so the union (dedup'd, since
    # a pair can share several bands) still contains the exact answer the
    # original pair enumeration produced, and the JVM re-rank below is
    # unchanged. r11: row-count dispatch — under GEMM_MIN_CORPUS the
    # bucket-sharing pair enumeration is small and the equi-join +
    # distinct shape beats the cogroup's fixed setup.
    if _use_gemm(corpus, gemm):
        blk = (
            F.col("band").cast("long") * (1 << 32) + F.col("bucket")
        ).alias("__blk")
        cand = (
            gemm_topk_candidates(
                cb.join(corpus.select(F.col(id_col).alias("id"), vec_col), "id")
                .select(blk, F.col("id").alias(id_col), vec_col),
                qb.join(queries.select(F.col(id_col).alias("id"), vec_col), "id")
                .select(
                    blk, F.col("id").alias("query_id"), F.col(vec_col).alias("qv")
                ),
                k=k,
                metric="cos",
                block_col="__blk",
                id_col=id_col,
                vec_col=vec_col,
            )
            .distinct()
        )
    else:
        cand = (
            qb.withColumnRenamed("id", "query_id")
            .join(cb.withColumnRenamed("id", "neighbor_id"), ["band", "bucket"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .distinct()
        )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine(
                    F.col("qv").cast("array<double>"), F.col("cv").cast("array<double>")
                ),
                6,
            ).alias("cos"),
        )
        # cosine-NULL contract: zero-norm rows never rank. The GEMM path
        # drops them at the cogroup stage (cok/qok); the Column path must
        # drop them here or the two dispatch arms diverge on inputs with
        # zero-norm vectors (NULL cos rows would survive the window when a
        # query has fewer than k non-null candidates).
        .filter(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos")
    )


def lsh_neardup_pairs(
    df: DataFrame,
    threshold: float,
    bands: int = 12,
    rows: int = 2,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, round(cos,6) >= threshold) within
    ``label_col`` blocks — candidates via banded sign-LSH, then exact cosine
    re-rank of candidates only.

    Scale design: the candidate self-join is keyed on (label, band, bucket),
    never on the label alone — a hot label is split across 2^rows buckets per
    band, so no single join key degenerates quadratically the way a plain
    within-label all-pairs join does. Candidate recall is the standard banded
    bound 1-(1-p^rows)^bands with p = 1 - θ/π; pick ``rows`` by threshold
    (rows=2 for low thresholds like the fixture's 0.30, rows>=8 for the
    realistic near-dup regime >=0.8, where the bucketing also prunes hard).
    The defaults give 100% recall vs the exact within-label oracle on the
    test fixtures (verified empirically at sf0.001 and sf0.01 across seeds)."""
    planes = random_hyperplanes(bands * rows, dim, seed)
    # NULL-label rows never matched under the original (label, band,
    # bucket) equi-join (SQL equality never holds on NULL); concat_ws
    # SKIPS null arguments, which would collapse them into a shared
    # "band_bucket" pseudo-block — so exclude them from blocking outright.
    bk = lsh_buckets(
        df.filter(F.col(label_col).isNotNull()),
        planes, bands, rows, id_col, vec_col, keep_cols=(label_col,),
    )
    # r10: with rows=2 a band has only 4 buckets, so the bucket-keyed
    # self-join still enumerates |block|²/4-ish pair rows per band — 1.5e9
    # rows and a heap OOM at sf10. Range-mode GEMM per (label, band,
    # bucket) block emits only pairs within the 2-step margin of the
    # threshold; the exact JVM filter below is unchanged, so the result
    # set is identical to the exhaustive enumeration.
    # r11: first-shared-band dedup — a pair sharing B bands was GEMM-scored
    # and emitted B times (measured ~5× emission volume at sf10-mut: 89.4M
    # candidate rows for 18.3M unique pairs), then collapsed by the
    # distinct. Each row carries its bucket keys for all EARLIER bands
    # (one window over the band-ordered bucket relation); the candidate
    # stage masks pairs already covered by an earlier band, so every pair
    # is scored exactly once and the distinct is a no-op safety net.
    # Range mode only (same floor in every block): the union is unchanged.
    wprev = (
        Window.partitionBy("id")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bk = bk.withColumn("__prev", F.collect_list("bucket").over(wprev))
    blk = F.concat_ws(
        "_", F.col(label_col), F.col("band"), F.col("bucket")
    ).alias("__blk")
    side = bk.join(df.select(F.col(id_col).alias("id"), vec_col), "id")
    cand = (
        gemm_topk_candidates(
            side.select(blk, F.col("id").alias(id_col), vec_col, "__prev"),
            side.select(
                blk,
                F.col("id").alias("qid"),
                F.col(vec_col).alias("qv"),
                "__prev",
            ),
            k=None,
            metric="cos",
            block_col="__blk",
            id_col=id_col,
            vec_col=vec_col,
            qid_col="qid",
            min_score=threshold,
            prev_col="__prev",
        )
        .filter(F.col("qid") < F.col("neighbor_id"))
        .select(F.col("qid").alias("id_a"), F.col("neighbor_id").alias("id_b"))
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cos",
            F.round(
                cosine(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")),
                6,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def label_centroids(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label embedding centroid via grouped ``applyInPandas`` (the
    Arrow-batched custom per-group UDF surface, SURVEY.md §2.10): one numpy
    mean per group, rows pre-sorted by id for a deterministic fold order.

    (label, n_vecs, centroid array<double>). At scale this is one shuffle on
    the label key; the Python stage sees whole groups as pandas frames."""
    import numpy as np
    import pandas as pd

    def centroid(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col)
        m = np.stack(pdf[vec_col].values).astype("float64")
        return pd.DataFrame(
            {
                "label": [pdf[label_col].iloc[0]],
                "n_vecs": [len(pdf)],
                "centroid": [m.mean(axis=0).tolist()],
            }
        )

    return embeddings.groupBy(label_col).applyInPandas(
        centroid, "label bigint, n_vecs long, centroid array<double>"
    )


def scalar_quantize(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Per-vector int8 scalar quantization + reconstruction error — the
    embedding-compression step that cuts a float32 vector store 4× (the
    difference between fitting a 100 TB embedding corpus in cluster storage
    or not).

    Each vector gets its own affine code: ``scale = (max-min)/255``,
    ``q_i = clamp(floor((x_i-min)/scale + 0.5), 0, 255)``. The output
    reports the codebook (q_min, q_max, q_scale) and the reconstruction
    MSE — per-row map over JVM higher-order functions, no shuffle, no
    Python. floor(x+0.5) replaces round() because the two engines disagree
    on round-half-even vs half-up; elements are widened float32→double
    before any arithmetic so both engines fold identical doubles in
    identical order (left-to-right), making the oracle exact.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = emb.select(F.col(id_col), v.alias("__v")).select(
        id_col,
        "__v",
        F.array_min("__v").alias("__mn"),
        F.greatest(
            (F.array_max("__v") - F.array_min("__v")) / F.lit(255.0),
            F.lit(1e-12),
        ).alias("__scale"),
    )
    mn, scale = F.col("__mn"), F.col("__scale")
    clamp = lambda x: F.least(  # noqa: E731
        F.greatest(F.floor((x - mn) / scale + F.lit(0.5)), F.lit(0.0)),
        F.lit(255.0),
    )
    err = F.transform(
        F.col("__v"), lambda x: F.pow(x - (mn + clamp(x) * scale), F.lit(2.0))
    )
    return out.select(
        id_col,
        F.round(mn, 6).alias("q_min"),
        F.round(mn + F.lit(255.0) * scale, 6).alias("q_max"),
        F.round(scale, 6).alias("q_scale"),
        F.round(
            F.aggregate(err, F.lit(0.0), lambda a, b: a + b)
            / F.size(F.col("__v")),
            6,
        ).alias("mse"),
    )


def _l2sq(a, b):
    """Squared L2 distance via the dot-product identity — each term is a
    sequential fold, so both engines evaluate bit-identical arithmetic."""
    return _dot(a, a) - 2 * _dot(a, b) + _dot(b, b)


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks: (sub, code, cv) — the vector space
    split into ``m`` subspaces of dim/m dims, each with ``ksub`` codewords.

    Codewords are the sub-slices of the first ``ksub`` vectors by id —
    deterministic and oracle-reproducible, exactly like
    deterministic_centroids for IVF; per-subspace Lloyd refinement plugs in
    the same way kmeans_centroids upgrades the IVF quantizer. The codebook
    is m·ksub·(dim/m) doubles — kilobytes — and broadcasts everywhere it is
    used."""
    dsub = dim // m
    base = (
        corpus.orderBy(F.asc(id_col))
        .limit(ksub)
        .select(
            (F.row_number().over(Window.orderBy(F.asc(id_col))) - 1).alias("code"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    )
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(F.col("v"), s * dsub + 1, dsub).alias("cv"),
            )
            for s in range(m)
        ]
    )
    return base.select("code", F.explode(subs).alias("sc")).select(
        F.col("sc.sub").alias("sub"), "code", F.col("sc.cv").alias("cv")
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoding: (id, sub, code) — each vector's subspace slice mapped to
    its nearest codeword by squared L2 (ties to the lowest code). This is
    the ×(dim→m·log₂ksub bits) compression that makes billion-vector
    indexes RAM-resident. Map-side work against the broadcast codebook;
    the argmin is a map-side-combinable min(struct(d, code)) groupBy
    (r10 — was a row_number window, which sorted the full
    |corpus|·m·ksub scored relation through one shuffle)."""
    dsub = dim // m
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(F.col(vec_col).cast("array<double>"), s * dsub + 1, dsub).alias("sv"),
            )
            for s in range(m)
        ]
    )
    sv = corpus.select(F.col(id_col), F.explode(subs).alias("sc")).select(
        F.col(id_col), F.col("sc.sub").alias("sub"), F.col("sc.sv").alias("sv")
    )
    scored = sv.join(F.broadcast(codebooks), "sub").select(
        F.col(id_col),
        "sub",
        "code",
        _l2sq(F.col("sv"), F.col("cv")).alias("d"),
    )
    return (
        scored.groupBy(id_col, "sub")
        .agg(F.min(F.struct("d", "code")).alias("m"))
        .select(id_col, "sub", F.col("m.code").alias("code"))
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 4,
    ksub: int = 16,
    dim: int = 64,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    gemm: bool | None = None,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) approximate top-k:
    (query_id, neighbor_id, adist) — smallest Σ_s ‖q_s − codeword_s(x)‖²
    per query, ties to the lowest neighbor id.

    The scale shape of Jégou et al.'s IVFADC scoring half: per query a
    (m × ksub) distance TABLE is computed once against the broadcast
    codebook, and every corpus vector is scored by m table lookups on its
    codes — no full-vector arithmetic in the corpus-sized stage. Here the
    lookup is the (sub, code) equi-join on the code relation, and the m
    partial distances are summed in FIXED subspace order (d0+d1+…) so the
    oracle's addition order matches bit-for-bit."""
    dsub = dim // m
    cb = pq_codebooks(corpus, m, ksub, dim, id_col, vec_col)
    codes = pq_encode(corpus, cb, m, dim, id_col, vec_col)
    qsubs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(F.col(vec_col).cast("array<double>"), s * dsub + 1, dsub).alias("sv"),
            )
            for s in range(m)
        ]
    )
    dtab = (
        queries.select(F.col(id_col).alias("query_id"), F.explode(qsubs).alias("sc"))
        .select("query_id", F.col("sc.sub").alias("sub"), F.col("sc.sv").alias("sv"))
        .join(F.broadcast(cb), "sub")
        .select(
            "query_id", "sub", "code", _l2sq(F.col("sv"), F.col("cv")).alias("d")
        )
    )
    # r10: the (sub, code) equi-join used to materialize |corpus|·m·|Q|
    # rows (3.2e9 at sf10 with |Q| = corpus/50) before the per-pair
    # aggregation. ADC distance == ‖q − recon(x)‖² (subspaces partition
    # the dims), so the hash-bucketed GEMM over PQ reconstructions emits
    # ~k+ties candidates per (query, bucket) and the ORIGINAL fixed-order
    # d0+…+d{m-1} expression is recomputed on candidates only — bit-equal
    # final adist, same oracle. r11: row-count dispatch — under
    # GEMM_MIN_CORPUS the code join is small enough that the cogroup's
    # fixed setup dominates, so the direct (sub, code) lookup runs.
    if _use_gemm(corpus, gemm):
        recon = pq_reconstruct(codes, cb, id_col)
        cbk, qbk = bucket_for_gemm(
            recon,
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).cast("array<double>").alias("qv"),
            ),
            buckets=GEMM_BUCKETS,
            id_col=id_col,
        )
        cand = gemm_topk_candidates(
            cbk, qbk, k=k, metric="l2sq", id_col=id_col, vec_col="recon"
        )
        pairs = cand.join(
            codes.select(F.col(id_col).alias("neighbor_id"), "sub", "code"),
            "neighbor_id",
        ).join(F.broadcast(dtab), ["query_id", "sub", "code"])
    else:
        pairs = codes.select(
            F.col(id_col).alias("neighbor_id"), "sub", "code"
        ).join(F.broadcast(dtab), ["sub", "code"])
    per = pairs.groupBy("query_id", "neighbor_id").agg(
        *[
            F.sum(F.when(F.col("sub") == s, F.col("d"))).alias(f"d{s}")
            for s in range(m)
        ]
    )
    adist = sum((F.col(f"d{s}") for s in range(1, m)), F.col("d0"))
    w = Window.partitionBy("query_id").orderBy(F.asc(adist), F.asc("neighbor_id"))
    return (
        per.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round(adist, 6).alias("adist"))
    )


#: hash buckets for the flat (whole-corpus) PQ GEMM scan — sizes one
#: cogroup group to |corpus|/B reconstructions; 32 matches local[32] and a
#: 100 TB run raises it with the cluster width
GEMM_BUCKETS = 32

#: row-count dispatch for the GEMM candidate stages: below this many corpus
#: rows the Arrow cogroup's fixed setup (Python worker fork, schema
#: negotiation, per-group batch assembly) costs more than BLAS saves —
#: measured at sf0.1 (20k vectors) as +50-70% on the pq/ivf_pq/lsh walls —
#: while at the second decade (200k vectors, sf10-mut) the per-pair
#: Column-expression relations cliff (3.2e9-row code joins, >9 min walls).
#: Both paths produce identical rounded scores (the GEMM margin tests pin
#: that), so the dispatch is a pure physical choice, the same pattern as
#: triangles.should_orient.
GEMM_MIN_CORPUS = 100_000


def _use_gemm(corpus: DataFrame, gemm: bool | None) -> bool:
    """Resolve a GEMM-vs-Column-expression dispatch: explicit override, or
    one bounded count job on the corpus side (metadata-cheap on parquet
    scans, block-cheap on checkpointed inputs)."""
    if gemm is not None:
        return gemm
    return corpus.count() > GEMM_MIN_CORPUS


#: default-on runtime QA for the GEMM candidate stages: on sampled query
#: rows per block (row 0 + every GEMM_MARGIN_SAMPLE-th), recompute the
#: scores in the JVM/oracle's ELEMENT ORDER (sequential column-by-column
#: accumulation; for l2sq the direct Σ(q_i−c_i)² form instead of the
#: ‖q‖²+‖c‖²−2qc expansion the GEMM uses) and raise if the GEMM-rounded
#: value drifts beyond ONE rounding step — the exact empirical premise of
#: the 2-step trim margin. A violation means the margin could silently
#: drop a true neighbor (e.g. huge-norm cancellation under the l2sq
#: expansion), so failing the task is the correct behavior. Cost per
#: sampled row: one O(n·d) vectorized pass.
GEMM_MARGIN_CHECK = True
GEMM_MARGIN_SAMPLE = 997


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    c: int = 8,
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 16,
    dim: int = 64,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    gemm: bool | None = None,
) -> DataFrame:
    """IVFADC (Jégou et al., "Product Quantization for Nearest Neighbor
    Search"): the production billion-vector index — coarse IVF cells bound
    the search to ``nprobe`` probe lists, and within them vectors are scored
    by PQ asymmetric distance on RESIDUALS (vector − its cell centroid), so
    the stored index is m·log2(ksub) bits per vector and no full-vector
    arithmetic touches the corpus-sized stage.

    Returns (query_id, neighbor_id, adist): smallest Σ_s ‖(q−c_cell)_s −
    codeword_s(x)‖² over the probed cells, ties to the lowest neighbor id.

    Scale shape: centroids (c rows) and codebooks (m·ksub rows) broadcast;
    residual computation is a map (zip_with); encoding is the per-(id,sub)
    argmin window; each query's distance TABLE is nprobe·m·ksub rows
    computed once and broadcast; the corpus-sized stage is an equi-join on
    (cell, sub, code) + a fixed-order m-way partial sum — the exact IVFADC
    lookup structure, shuffle keyed on the probed cells only."""
    cents = deterministic_centroids(corpus, c, id_col, vec_col).select(
        "cell", F.col("cv").cast("array<double>").alias("cv")
    )
    assigned = ivf_assign(corpus, cents, id_col, vec_col, cells_count=c)
    # residuals feed three consumers (codebook seed, encoding, cell re-join);
    # checkpoint once so the assign crossJoin+window lineage runs once
    res = (
        assigned.join(F.broadcast(cents), "cell")
        .select(
            F.col(id_col),
            "cell",
            F.zip_with(
                F.col(vec_col).cast("array<double>"), "cv", lambda x, cc: x - cc
            ).alias("rv"),
        )
        .localCheckpoint(eager=True)
    )
    cb = pq_codebooks(res, m, ksub, dim, id_col, "rv")
    codes = pq_encode(res, cb, m, dim, id_col, "rv").join(
        res.select(id_col, "cell"), id_col
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    qcells = q.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "qv",
        "cell",
        cosine(F.col("qv"), F.col("cv")).alias("sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cell"))
    probes = (
        qcells.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "cell")
    )
    dsub = dim // m
    qr = probes.join(F.broadcast(cents), "cell").select(
        "query_id",
        "cell",
        F.zip_with("qv", "cv", lambda x, cc: x - cc).alias("qr"),
    )
    qsubs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(F.col("qr"), s * dsub + 1, dsub).alias("sv"),
            )
            for s in range(m)
        ]
    )
    dtab = (
        qr.select("query_id", "cell", F.explode(qsubs).alias("sc"))
        .select("query_id", "cell", F.col("sc.sub").alias("sub"), F.col("sc.sv").alias("sv"))
        .join(F.broadcast(cb), "sub")
        .select(
            "query_id", "cell", "sub", "code",
            _l2sq(F.col("sv"), F.col("cv")).alias("d"),
        )
    )
    # r10: same GEMM candidate treatment as pq_topk, blocked by the IVF
    # cell instead of a hash bucket — ADC-on-residuals == ‖qr − recon‖²,
    # so candidates come from one cogrouped matmul per probed cell and the
    # exact fixed-order ADC sum below runs on ~k+ties rows per query
    # instead of |Q|·|cell|·m. r11: row-count dispatch (the checkpointed
    # residual relation makes the count block-cheap) — under
    # GEMM_MIN_CORPUS the direct (cell, sub, code) lookup runs instead.
    if _use_gemm(res, gemm):
        recon = pq_reconstruct(
            codes.select(id_col, "sub", "code"), cb, id_col
        ).join(res.select(id_col, "cell"), id_col)
        cand = gemm_topk_candidates(
            recon.select("cell", id_col, "recon"),
            qr.select("cell", "query_id", F.col("qr").alias("qv")),
            k=k,
            metric="l2sq",
            block_col="cell",
            id_col=id_col,
            vec_col="recon",
        )
        pairs = cand.join(
            codes.select(
                F.col(id_col).alias("neighbor_id"), "cell", "sub", "code"
            ),
            "neighbor_id",
        ).join(F.broadcast(dtab), ["query_id", "cell", "sub", "code"])
    else:
        pairs = codes.select(
            F.col(id_col).alias("neighbor_id"), "cell", "sub", "code"
        ).join(F.broadcast(dtab), ["cell", "sub", "code"])
    per = pairs.groupBy("query_id", "neighbor_id").agg(
        *[
            F.sum(F.when(F.col("sub") == s, F.col("d"))).alias(f"d{s}")
            for s in range(m)
        ]
    )
    adist = sum((F.col(f"d{s}") for s in range(1, m)), F.col("d0"))
    w = Window.partitionBy("query_id").orderBy(F.asc(adist), F.asc("neighbor_id"))
    return (
        per.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round(adist, 6).alias("adist"))
    )


def semdedup(
    corpus: DataFrame,
    threshold: float,
    c: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_count: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023, arXiv:2303.09540): semantic
    deduplication — cluster the embedding space with k-means, then inside
    each cluster drop every vector whose cosine to a LOWER-id cluster-mate
    is ≥ ``threshold`` (the paper keeps one arbitrary representative per
    semantic-duplicate group; lowest id is the deterministic choice).

    Returns the DROP list: (vec_id, dup_of, cos) where ``dup_of`` is the
    lower-id near-duplicate this vector matched best (highest rounded
    cosine, ties to the lowest id; ``dup_of`` may itself be dropped — the
    minimum id of every duplicate chain never matches a lower id, so
    exactly one representative per chain survives). Keep-set = corpus ∖
    drop list.

    Scale design: the within-cluster pair join is the SemDeDup trick — the
    quadratic all-pairs cost is bounded to Σ|cell|², so the cluster count
    must GROW with the corpus (the paper uses 50k clusters for LAION;
    c ≈ n/1000 keeps cells ~10⁶ pairs). The join is an equi-join on cell
    (bucketed shuffle, never a cross join), and the k-means build is the
    distributed Lloyd loop of :func:`kmeans_centroids` (broadcast
    centroids, no driver-side vectors)."""
    cents = kmeans_centroids(
        corpus, c=c, iters=iters, id_col=id_col, vec_col=vec_col,
        corpus_count=corpus_count,
    )
    # both the GEMM candidate stage and the exact-rescore joins read the
    # assignment — cache it or the broadcast crossJoin + argmax window
    # lineage executes twice
    assigned = ivf_assign(
        corpus, cents, id_col, vec_col,
        corpus_count=corpus_count, cells_count=c,
    )
    with cached(assigned):
        # within-cell scoring via the blocked GEMM candidate stage (r10): the
        # per-pair Column-expression equi-join it replaces was Σ|cell|²
        # Catalyst expression eval — quadratic once cells densify (the cell
        # count is a fixture/oracle constant here; the paper grows it with the
        # corpus). directed=lower-id-only + the threshold floor mirror the
        # filters below; the margin proof is in blocked_knn_candidates.
        cand_pairs = blocked_knn_candidates(
            assigned.select("cell", id_col, F.col(vec_col).alias("v")),
            k=1,
            id_col=id_col,
            vec_col="v",
            block_col="cell",
            directed=True,
            min_score=threshold,
        ).withColumnRenamed("nbr_id", "dup_of")
        keep = assigned.select(
            F.col(id_col).alias("dup_of"), F.col(vec_col).alias("av")
        )
        cand = assigned.select(id_col, F.col(vec_col).alias("bv"))
        pairs = (
            cand_pairs.join(cand, id_col)
            .join(keep, "dup_of")
            .select(
                id_col,
                "dup_of",
                F.round(
                    cosine(F.col("av").cast("array<double>"), F.col("bv").cast("array<double>")),
                    6,
                ).alias("cos"),
            )
            .filter(F.col("cos") >= F.lit(threshold))
        )
        w = Window.partitionBy(id_col).orderBy(F.desc("cos"), F.asc("dup_of"))
        return (
            pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(id_col, "dup_of", "cos")
        ).localCheckpoint()


def blocked_knn_candidates(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "v",
    block_col: str = "label",
    round_to: int = 6,
    directed: bool = False,
    min_score: float | None = None,
    chunk_elems: int = 1 << 25,
    margin_check: bool | None = None,
) -> DataFrame:
    """Per-block exact-kNN CANDIDATE pairs via Arrow-batched blocked GEMM:
    for every vector, a provable SUPERSET of its k nearest same-block
    neighbors by rounded cosine — the downstream JVM window (exact cosine,
    round, rank) picks the final k from ~k + ties candidates per vector
    instead of from the full |block|² pair relation.

    Why this exists: scoring same-block pairs with per-pair Column
    expressions is |block|² work through Catalyst expression eval — fine
    while blocks are fixtures, quadratic death when block size grows with
    the corpus (the r10 second-decade measurement: 110 s at 10× rows,
    ~100× that at the next decade). A normalized numpy matmul over the
    block scores the same pairs at BLAS speed and emits only the
    candidate ids; Python never sees more than (block × k)-ish rows.

    Exactness contract: numpy's pairwise-blocked float64 summation can
    differ from the JVM/oracle sequential sum by ~1e-14, i.e. by AT MOST
    ONE rounding step at round_to=6. The trim keeps every row whose
    numpy-rounded score is >= (k-th numpy-rounded score) - 2·10^-round_to.
    For any true final-top-k row p with final k-th score t: g(p) >= f(p) -
    step >= t - step, and the numpy threshold t_g <= t + step (pointwise
    g <= f + step), so g(p) >= t_g - 2·step — p always survives. The
    final comparator (score desc, id asc, pre-rounded) then runs JVM-side
    on candidates only, so trimmed and untrimmed plans agree exactly.

    ``directed=True`` restricts neighbors to LOWER ids (the SemDeDup
    "match against earlier cluster-mates" shape); ``min_score`` prunes
    candidates below a score floor (again with the 2-step margin, so a
    JVM-side ``>= min_score`` filter on the recomputed exact score can
    never lose a row the untrimmed plan would keep).

    Scale bound: one applyInPandas group = one block; the block's vectors
    must fit one executor (n×d float64 — 200k×64 ≈ 100 MB). At corpus
    scale the block key must therefore be BOUNDED (an IVF cell id — same
    machinery, coarser key), not an unbounded label. The n×n score matrix
    is never materialized: query rows stream through in chunks sized to
    ~256 MB of scores."""
    import numpy as np
    import pandas as pd

    step = 10.0 ** (-round_to)
    margin_check = GEMM_MARGIN_CHECK if margin_check is None else margin_check
    sample = GEMM_MARGIN_SAMPLE

    def margin_guard(q, mat_, rounded_row):
        # same check as gemm_topk_candidates (see GEMM_MARGIN_CHECK):
        # sequential-order dot on the sampled row vs the GEMM's value
        terms = q[None, :] * mat_
        ref = terms[:, 0].copy()
        for j in range(1, terms.shape[1]):
            ref += terms[:, j]
        drift = np.abs(np.round(ref, round_to) - rounded_row).max()
        if drift > step * 1.000001:
            raise AssertionError(
                f"GEMM margin violation: sampled row's sequential-order "
                f"cosine differs from the GEMM score by {drift:.3e} > one "
                f"rounding step {step:.0e}; the 2-step trim margin is "
                "unsafe for this data — rescale the vectors or raise "
                "round_to"
            )

    def cands(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy()
        mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        ok = norms > 0.0  # zero-norm: cosine NULL -> never matches
        ids, mat = ids[ok], mat[ok] / norms[ok, None]
        n = len(ids)
        if n < 2:
            return pd.DataFrame({id_col: ids[:0], "nbr_id": ids[:0]})
        kk = min(k, n - 1)
        chunk = max(1, chunk_elems // n)  # default ~256 MB of float64 scores
        floor = -np.inf if min_score is None else min_score - 2.0 * step
        out_src, out_nbr = [], []
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            scores = np.round(mat[lo:hi] @ mat.T, round_to)
            if margin_check:
                for r in range(lo + (-lo) % sample, hi, sample):
                    margin_guard(mat[r], mat, scores[r - lo])
            scores[np.arange(lo, hi) - lo, np.arange(lo, hi)] = -np.inf
            if directed:
                scores[ids[None, :] >= ids[lo:hi, None]] = -np.inf
            kth = np.partition(scores, n - kk, axis=1)[:, n - kk]
            thresh = np.maximum(kth - 2.0 * step, floor)
            rows, cols = np.nonzero(
                (scores >= thresh[:, None]) & np.isfinite(scores)
            )
            out_src.append(ids[rows + lo])
            out_nbr.append(ids[cols])
        return pd.DataFrame(
            {id_col: np.concatenate(out_src), "nbr_id": np.concatenate(out_nbr)}
        )

    id_t = dict(vectors.dtypes)[id_col]
    return vectors.groupBy(block_col).applyInPandas(
        cands, f"{id_col} {id_t}, nbr_id {id_t}"
    )


def gemm_topk_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    k: int | None,
    metric: str = "cos",
    block_col: str = "__block",
    id_col: str = "vec_id",
    vec_col: str = "v",
    qid_col: str = "query_id",
    qvec_col: str = "qv",
    round_to: int = 6,
    chunk_elems: int = 1 << 25,
    min_score: float | None = None,
    margin_check: bool | None = None,
    prev_col: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Two-sided blocked-GEMM top-k CANDIDATE pairs: for every query row, a
    provable superset of its k best same-block corpus neighbors under
    ``metric`` — the batch-kNN engine stage behind ivf/pq/brute-force
    search once |Q| grows with the corpus.

    ``prev_col`` (RANGE mode only — asserted): first-shared-band
    deduplication for banded-LSH blocks. Both sides carry an array column
    of this row's bucket keys in every EARLIER band; a pair sharing some
    earlier band's bucket is masked here because that earlier block emits
    it (same score floor everywhere, so the union is unchanged — measured
    at sf10-mut: 89.4M emitted candidate rows for 18.3M unique pairs
    without it, i.e. ~5× the Arrow emission + distinct volume).

    Why: the scored pair relation (probe join, or codes x distance-table
    join) is |Q|·|block| rows of per-pair Column expressions — quadratic
    when both sides scale with the corpus (the r10 second-decade finding:
    simsearch_ivf alone held 32 threads >9 min at sf10; the PQ code-join
    reaches 3.2e9 rows). A cogrouped numpy matmul scores the same pairs at
    BLAS speed and emits only ~k+ties candidate ids per query; the caller
    then recomputes the EXACT score JVM-side on candidates only, so the
    final comparator — and therefore the oracle — is untouched.

    metric: "cos" (normalized dot, descending; zero-norm rows dropped on
    both sides per the cosine-NULL contract), "dot" (raw inner product,
    descending), "l2sq" (squared L2, ASCENDING — the ADC shape: feed PQ
    reconstructions as the corpus side and residual queries as the query
    side, since Σ_s‖q_s − cw_s‖² = ‖q − recon‖²).

    ``k=None`` switches to RANGE mode: candidates are every same-block
    pair clearing ``min_score`` (a lower bound on cos/dot, an upper bound
    on l2sq distance), again with the 2-step margin so the caller's exact
    JVM threshold filter keeps precisely the rows the unblocked plan
    would. With both ``k`` and ``min_score``, the tighter bound wins
    per query (the SemDeDup argmax-above-τ shape).

    Exactness margin: identical to blocked_knn_candidates — numpy's summed
    scores sit within one round_to step of the JVM/oracle values, so
    keeping everything within 2 steps of the per-query numpy k-th score
    (and of ``min/max score`` bounds the caller applies after rescoring)
    preserves the exact top-k through the JVM re-rank. Self-pairs
    (neighbor id == query id) are excluded here AND must stay excluded in
    the rescore, mirroring the production queries.

    ``margin_check`` (default GEMM_MARGIN_CHECK, on) re-derives sampled
    rows' scores in sequential element order — and for l2sq by the direct
    Σ(q_i−c_i)² form, since the GEMM's norm expansion is the one place
    catastrophic cancellation (huge-norm near-identical vectors) can
    exceed the one-step premise — and RAISES on violation instead of
    letting the trim silently drop a true neighbor.

    Scale: one cogroup group = one block of corpus rows + the query rows
    routed to it. Block sizing is the caller's contract (an IVF cell, or
    a hash bucket from :func:`bucket_for_gemm` for flat scans)."""
    import numpy as np
    import pandas as pd

    assert metric in ("cos", "dot", "l2sq")
    assert prev_col is None or k is None, "prev-band dedup is range-mode only"
    step = 10.0 ** (-round_to)
    sign = -1.0 if metric == "l2sq" else 1.0  # unify as "largest wins"
    # resolve the module flag at CALL time (None = follow GEMM_MARGIN_CHECK)
    # so `similarity.GEMM_MARGIN_CHECK = False` is a usable runtime switch,
    # then close over plain values — workers never read module globals
    margin_check = GEMM_MARGIN_CHECK if margin_check is None else margin_check
    sample = GEMM_MARGIN_SAMPLE  # close over the value (worker-safe)

    def margin_guard(q, cmat_, rounded_row):
        # rounded_row: this query's GEMM scores as ROUNDED metric values
        terms = (q[None, :] - cmat_) ** 2 if metric == "l2sq" else q[None, :] * cmat_
        ref = terms[:, 0].copy()
        for j in range(1, terms.shape[1]):  # sequential (JVM/oracle) order
            ref += terms[:, j]
        drift = np.abs(np.round(ref, round_to) - rounded_row).max()
        if drift > step * 1.000001:
            raise AssertionError(
                f"GEMM margin violation (metric={metric}): sampled row's "
                f"sequential-order score differs from the GEMM score by "
                f"{drift:.3e} > one rounding step {step:.0e}; the 2-step "
                "trim margin is unsafe for this data — rescale the vectors "
                "or raise round_to"
            )

    def cands(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {qid_col: right[qid_col][:0], "neighbor_id": left[id_col][:0]}
        )
        if not len(left) or not len(right):
            return empty
        cids = left[id_col].to_numpy()
        cmat = np.stack(left[vec_col].to_numpy()).astype(np.float64)
        qids = right[qid_col].to_numpy()
        qmat = np.stack(right[qvec_col].to_numpy()).astype(np.float64)
        cprev = qprev = None
        if prev_col is not None:
            cprev = np.array(left[prev_col].tolist(), dtype=np.int64).reshape(
                len(cids), -1
            )
            qprev = np.array(right[prev_col].tolist(), dtype=np.int64).reshape(
                len(qids), -1
            )
        if metric == "cos":
            cn = np.linalg.norm(cmat, axis=1)
            qn = np.linalg.norm(qmat, axis=1)
            cok, qok = cn > 0.0, qn > 0.0
            cids, cmat = cids[cok], cmat[cok] / cn[cok, None]
            qids, qmat = qids[qok], qmat[qok] / qn[qok, None]
            if cprev is not None:
                cprev, qprev = cprev[cok], qprev[qok]
            if not len(cids) or not len(qids):
                return empty
        n = len(cids)
        kk = min(k, n) if k is not None else None
        c2 = (cmat * cmat).sum(axis=1) if metric == "l2sq" else None
        floor = (
            -np.inf
            if min_score is None
            else (min_score if sign > 0 else -min_score) - 2.0 * step
        )
        chunk = max(1, chunk_elems // n)
        out_q, out_n = [], []
        for lo in range(0, len(qids), chunk):
            hi = min(lo + chunk, len(qids))
            dots = qmat[lo:hi] @ cmat.T
            if metric == "l2sq":
                q2 = (qmat[lo:hi] * qmat[lo:hi]).sum(axis=1)
                scores = -(q2[:, None] + c2[None, :] - 2.0 * dots)
            else:
                scores = dots
            scores = sign * np.round(sign * scores, round_to)
            if margin_check:
                for r in range(lo + (-lo) % sample, hi, sample):
                    margin_guard(qmat[r], cmat, sign * scores[r - lo])
            if cprev is not None:
                for b in range(cprev.shape[1]):  # first-shared-band dedup
                    scores[qprev[lo:hi, b][:, None] == cprev[None, :, b]] = (
                        -np.inf
                    )
            if exclude_self:
                # id-equality masking assumes BOTH sides share an id space
                # (search queries sampled from the corpus); assignment-style
                # callers with disjoint id spaces pass exclude_self=False
                scores[qids[lo:hi, None] == cids[None, :]] = -np.inf
            if kk is not None:
                kth = np.partition(scores, n - kk, axis=1)[:, n - kk]
                thresh = np.maximum(kth - 2.0 * step, floor)[:, None]
            else:  # range mode: the score floor alone selects candidates
                thresh = floor
            rows, cols = np.nonzero((scores >= thresh) & np.isfinite(scores))
            out_q.append(qids[rows + lo])
            out_n.append(cids[cols])
        return pd.DataFrame(
            {qid_col: np.concatenate(out_q), "neighbor_id": np.concatenate(out_n)}
        )

    qid_t = dict(queries.dtypes)[qid_col]
    id_t = dict(corpus.dtypes)[id_col]
    # re-alias every column to a FRESH attribute on both sides: corpus and
    # query relations often share lineage (queries sampled from the corpus,
    # probes derived from the same centroid relation), and cogroup's two
    # groupBys on the same attribute id trip the ambiguous-self-join check
    prev_sel = [F.col(prev_col).alias("__prev")] if prev_col else []
    c_side = corpus.select(
        F.col(block_col).alias("__gb"),
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        *prev_sel,
    )
    q_side = queries.select(
        F.col(block_col).alias("__gb"),
        F.col(qid_col).alias("__qid"),
        F.col(qvec_col).alias("__qv"),
        *prev_sel,
    )

    def cands_renamed(left: "pd.DataFrame", right: "pd.DataFrame"):
        left = left.rename(columns={"__cid": id_col, "__cv": vec_col})
        right = right.rename(columns={"__qid": qid_col, "__qv": qvec_col})
        if prev_col:
            left = left.rename(columns={"__prev": prev_col})
            right = right.rename(columns={"__prev": prev_col})
        return cands(left, right)

    return (
        c_side.groupBy("__gb")
        .cogroup(q_side.groupBy("__gb"))
        .applyInPandas(cands_renamed, f"{qid_col} {qid_t}, neighbor_id {id_t}")
    )


#: grid-blocking memory target: the query side of one cogroup group is
#: capped at this many rows, so per-Python-worker memory is
#: O(QBUCKET_TARGET_ROWS·d + |corpus|/buckets·d) — BOTH terms shrink as
#: the cluster lever (buckets) rises, instead of the query term staying
#: O(|Q|·d) no matter the width.
QBUCKET_TARGET_ROWS = 65_536


def bucket_for_gemm(
    corpus: DataFrame,
    queries: DataFrame,
    buckets: int,
    id_col: str = "vec_id",
    qbuckets: int | None = None,
    qid_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Grid blocking for FLAT (unpartitioned) exact scans: corpus rows hash
    into ``buckets`` blocks and query rows into ``qbuckets`` blocks; one
    cogroup group is a (corpus-block × query-block) grid cell, so the
    per-group GEMM is (|corpus|/buckets)·(|Q|/qbuckets) and per-worker
    memory is bounded by BOTH factors (not O(|Q|·d) however wide the
    cluster — the r10 shape replicated every query row to all corpus
    blocks and np.stack'ed the full query set per group). Exact: a global
    top-k row is its own grid cell's top-k row for its query, so the
    union of per-cell candidates contains the global answer; the caller's
    JVM re-rank over all cells finishes it.

    ``qbuckets=None`` sizes the query grid from one bounded count job
    (ceil(|Q| / QBUCKET_TARGET_ROWS)) — 1 at the shipped fixtures (the
    plan is then identical to the pre-grid shape), growing only when the
    query set alone would blow a worker. Cost model: corpus rows shuffle
    qbuckets×, query rows buckets× — the corpus replication factor stays
    1 until |Q| actually needs splitting."""
    if qbuckets is None:
        qbuckets = max(
            1, -(-queries.count() // QBUCKET_TARGET_ROWS)  # ceil div
        )
    # every call site selects the query id as the leading column
    qid = qid_col or queries.columns[0]
    c = corpus.withColumn(
        "__cb", F.pmod(F.hash(F.col(id_col)), F.lit(buckets)).cast("int")
    )
    q = queries.withColumn(
        "__qb", F.pmod(F.hash(F.col(qid)), F.lit(qbuckets)).cast("int")
    )
    if qbuckets == 1:
        c = c.withColumn("__block", F.col("__cb")).drop("__cb")
        q = q.withColumn(
            "__block", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
        ).drop("__qb")
        return c, q
    c = c.select(
        "*",
        F.explode(
            F.array(*[F.lit(j) for j in range(qbuckets)])
        ).alias("__qb"),
    ).withColumn(
        "__block", (F.col("__cb") * qbuckets + F.col("__qb")).cast("int")
    ).drop("__cb", "__qb")
    q = q.select(
        "*",
        F.explode(F.array(*[F.lit(i) for i in range(buckets)])).alias("__cb"),
    ).withColumn(
        "__block", (F.col("__cb") * qbuckets + F.col("__qb")).cast("int")
    ).drop("__cb", "__qb")
    return c, q


def pq_reconstruct(
    codes: DataFrame, codebooks: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """(id, recon): each PQ-coded vector rebuilt as the concatenation of
    its subspace codewords. Since the subspaces partition the dimensions,
    ADC distance == ‖q − recon(x)‖² — which is what lets the blocked-GEMM
    candidate stage (:func:`gemm_topk_candidates`, metric="l2sq") drive
    the PQ search paths without touching their ADC oracle semantics.
    One broadcast join + one groupBy of m rows per vector."""
    return (
        codes.join(F.broadcast(codebooks), ["sub", "code"])
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub", "cv"))),
                    lambda s: s["cv"],
                )
            ).alias("recon")
        )
    )
