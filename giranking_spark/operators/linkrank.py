"""LinkRank / HostRank / TrustRank — the core iterative fixpoint
(SURVEY.md §2.4-§2.7, §3).

The reference runs these as Giraph BSP vertex programs
(LinkRankComputation.java, TrustRankComputation.java). Spark-first mapping:

* message passing  -> edges JOIN scores ON src = id, groupBy(dst).sum()
  (LinkRankComputation.java:266-283 "sendMessageToAllEdges")
* aggregators      -> single-row aggregate DataFrames broadcast back into the
  plan (no driver-side collect inside the loop)
* superstep loop   -> bounded Python loop, localCheckpoint() to truncate
  lineage each iteration (SURVEY.md §4.2 #1); :class:`Fixpoint` is that loop
  for the whole rank family (HITS, SALSA, PPR, Katz, OPIC, weighted
  PageRank and label propagation run on it too)
* normalization    -> one statement: avg/stddev_pop of log-scores + Normal-CDF
  squash (LinkRankComputation.java:216-255 spread over 3 supersteps collapses
  to a single Spark stage)

Scale design (100 TB posture): the edge table is the big side — it is
augmented with out-degrees once, hash-partitioned by ``src`` and persisted;
every iteration then shuffles ONLY the vertex-state (message groupBy on
``dst``), never the edges. The per-iteration global scalar (dangling mass,
LinkRankComputation.java:275-276,290-296) rides along as a broadcast
single-row cross join, so nothing but final results ever reaches the driver.

Schedule parity (SURVEY.md §3): K = superstep_count ⇒ exactly K-1 score
updates, then the CDF epilogue; no convergence test (voteToHalt at fixed
step, LinkRankComputation.java:280-282).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from giranking_spark.config import LinkRankConfig, TrustRankConfig
from giranking_spark.functions.stats import normal_cdf
from giranking_spark.operators.clean import dedup_edges

SIGMA_FLOOR = 1e-10  # σ==0 guard, LinkRankComputation.java:242-244


def all_vertex_ids(vertices: DataFrame | None, edges: DataFrame) -> DataFrame:
    """Implicit vertex creation (SURVEY.md §2.4): Giraph auto-creates message
    targets, so the vertex set is vertices ∪ edges.src ∪ edges.dst."""
    ids = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    )
    if vertices is not None:
        ids = ids.unionByName(vertices.select("id"))
    return ids.distinct()


def out_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))


def initial_state_ext(
    vertices: DataFrame | None, edges: DataFrame, default_score: float = 1.0
) -> DataFrame:
    """state(id, score, outdeg, indeg) for every vertex incl. implicit ones,
    built with ONE shuffle: endpoint rows (src carries out=1, dst carries
    in=1) and optional vertex rows (carrying the initial score) union into a
    single groupBy(id) whose integer sums are exactly the out-/in-degrees
    and whose max(score) recovers the (unique-per-id) vertex score. The
    previous formulation — union-distinct of ids + out-degree aggregate +
    two joins — was three exchanges of endpoint-shaped relations; this is
    one, at any scale (guide §2.4).

    ``indeg`` rides along because the rank loops' hub-skew probe needs
    max/sum of per-dst contribution rows — with the column carried in the
    checkpointed state, that probe becomes a 1-row aggregate over |V|
    cached rows instead of a separate |E|-shuffle job.

    Precondition (unchanged from the join formulation's intent): ids in
    ``vertices`` are unique — a duplicate formerly fanned out the left
    join; now max(score) keeps one row."""
    score_t = (
        dict(vertices.dtypes)["score"] if vertices is not None else "double"
    )
    rows = edges.select(
        F.col("src").alias("id"),
        F.lit(1).alias("_out"),
        F.lit(0).alias("_in"),
        F.lit(None).cast(score_t).alias("_vscore"),
    ).unionByName(
        edges.select(
            F.col("dst").alias("id"),
            F.lit(0).alias("_out"),
            F.lit(1).alias("_in"),
            F.lit(None).cast(score_t).alias("_vscore"),
        )
    )
    if vertices is not None:
        rows = rows.unionByName(
            vertices.select(
                "id",
                F.lit(0).alias("_out"),
                F.lit(0).alias("_in"),
                F.col("score").alias("_vscore"),
            )
        )
    return rows.groupBy("id").agg(
        F.coalesce(F.max("_vscore"), F.lit(default_score)).alias("score"),
        F.sum("_out").cast("long").alias("outdeg"),
        F.sum("_in").cast("long").alias("indeg"),
    ).select("id", "score", "outdeg", "indeg")


def initial_state(
    vertices: DataFrame | None, edges: DataFrame, default_score: float = 1.0
) -> DataFrame:
    """state(id, score, outdeg) for every vertex incl. implicit ones.
    Thin projection over :func:`initial_state_ext` (one shuffle)."""
    return initial_state_ext(vertices, edges, default_score).select(
        "id", "score", "outdeg"
    )


def edges_with_outdeg(edges: DataFrame) -> DataFrame:
    """edges(src, dst, outdeg) — static per run. Computed as a window count
    over ``src``: ONE shuffle yields both the degree column and
    hashpartitioning(src) for the output, replacing the groupBy + join +
    explicit repartition formulation (three exchanges of the big side)."""
    from pyspark.sql.window import Window

    return edges.select(
        "src", "dst", F.count(F.lit(1)).over(Window.partitionBy("src")).alias("outdeg")
    )


#: per-row overhead on top of the id payload in a broadcast hash relation:
#: UnsafeRow header + null bits + 2-3 fixed-width score/degree columns +
#: hash-map entry — measured ballpark, deliberately on the high side.
_STATE_ROW_OVERHEAD = 48


def _conf_int(spark, key: str, default: int) -> int:
    try:
        return int(spark.conf.get(key))
    except (TypeError, ValueError):
        return default


def _broadcast_rule(n: int, avg_id_width: float | None, thr: int) -> bool:
    """The ONE broadcast-dispatch rule, applied by the :class:`Fixpoint`
    probe: state broadcasts iff n·max(64, avg_id_width + overhead) ≤ thr.
    localCheckpoint truncates lineage AND size statistics, so Catalyst can
    never auto-broadcast loop state; the probe decides from the exact row
    count and the MEASURED id width, so long URL ids (100+ B) cannot
    undershoot the estimate."""
    if thr <= 0 or n <= 0:
        return False
    width = 64.0
    if avg_id_width is not None:
        width = max(width, float(avg_id_width) + _STATE_ROW_OVERHEAD)
    return n * width <= thr


def _salt_rule(mx: int, tot: int, parts: int, min_hot_rows: int) -> int | None:
    """The ONE hot-key salting rule (r14, shared — see _broadcast_rule):
    salt iff the hottest target's rows exceed both the absolute floor and
    SALT_HOT_KEY_FACTOR × the average shuffle partition's rows."""
    if mx >= max(min_hot_rows, SALT_HOT_KEY_FACTOR * tot / max(parts, 1)):
        return SALT_AUTO_BUCKETS
    return None


#: bucket count the auto decision enables (the r9 skew load test measured
#: 22.3x -> 3.0x exchange imbalance at 32 on the 2M-degree hub fixture)
SALT_AUTO_BUCKETS = 32
#: a hot target only justifies two-phase salting when its contribution rows
#: exceed this many TIMES an average shuffle partition's rows...
SALT_HOT_KEY_FACTOR = 4.0
#: ...AND this absolute floor: a key under ~100k rows is trivial for one
#: reducer, and the floor keeps small/medium graphs (all shipped fixtures)
#: on the single-phase plan — bit-identical to prior rounds' value hashes.
SALT_MIN_HOT_ROWS = 100_000


def _state_side(df: DataFrame, do_broadcast: bool) -> DataFrame:
    """Prepare the vertex-state side of an edges-x-state join: broadcast
    when it fits, otherwise SHUFFLE_HASH with the state as build side so
    the persisted src-partitioned edge relation is never re-exchanged or
    re-sorted per round (sort-merge would re-sort it every iteration — the
    sort, unlike the partitioning, is not persisted; measured superlinear
    at the sf1->sf10 decade once state passed the broadcast threshold)."""
    return F.broadcast(df) if do_broadcast else df.hint("shuffle_hash")


def _contribution_rows(
    edges_x: DataFrame,
    state: DataFrame,
    salt_buckets: int | None = None,
    broadcast_state: bool = False,
) -> DataFrame:
    """(dst, contrib) message rows: each src sends score/outdeg along every
    out-edge (LinkRankComputation.java:266-283). With ``salt_buckets`` > 1
    the rows are first pre-summed on (dst, hash(src) % N), so a spam-hub
    target's mass is reduced across N reducers before the caller's final
    per-target sum (SURVEY.md §4.2 #5)."""
    s = _state_side(state.select(F.col("id"), F.col("score")), broadcast_state)
    joined = edges_x.join(s, edges_x.src == F.col("id"))
    contrib = (F.col("score") / F.col("outdeg")).alias("contrib")
    if salt_buckets is None or salt_buckets <= 1:
        return joined.select(F.col("dst"), contrib)
    return (
        joined.select(
            F.col("dst"),
            contrib,
            F.pmod(F.xxhash64(edges_x.src), F.lit(salt_buckets)).alias("_salt"),
        )
        .groupBy("dst", "_salt")
        .agg(F.sum("contrib").alias("contrib"))
        .select("dst", "contrib")
    )


def contributions(
    edges_x: DataFrame, state: DataFrame, broadcast_state: bool = False
) -> DataFrame:
    """Message generation: (dst, contrib) per out-edge. With
    ``broadcast_state`` the edge side is never shuffled or sorted — see
    :func:`_state_side`."""
    return _contribution_rows(edges_x, state, None, broadcast_state)


def message_sums(
    edges_x: DataFrame,
    state: DataFrame,
    salt_buckets: int | None = None,
    broadcast_state: bool = False,
) -> DataFrame:
    """Per-target sum of incoming contributions (LinkRankComputation.java:193-196).

    ``salt_buckets``: two-phase salted aggregation for hub-skewed graphs —
    partial sums on (dst, hash(src) % N), then the final sum on dst. Default
    single-phase relies on map-side partial aggregation, which already caps
    a hot dst at one row per map task."""
    return _contribution_rows(
        edges_x, state, salt_buckets, broadcast_state
    ).groupBy("dst").agg(F.sum("contrib").alias("msg"))


def fused_message_state(
    edges_x: DataFrame,
    state: DataFrame,
    carry: list[str],
    salt_buckets: int | None = None,
    broadcast_state: bool = False,
) -> DataFrame:
    """Per-vertex message totals FUSED with the state carry-through in ONE
    shuffle: contribution rows (id, contrib) are unioned with one 0-contrib
    row per vertex carrying the loop-invariant columns (``carry``), then
    aggregated by id — ``sum(contrib)`` is the message total and
    ``max(col)`` recovers each carried column (exactly one non-null per id,
    the state row). Returns (id, msg, *carry).

    This replaces ``state JOIN msgs`` in the rank loops: the message
    relation is never broadcast or joined back, and the single groupBy(id)
    is the iteration's only shuffle — one exchange + one driver roundtrip
    fewer per superstep than the join formulation, at any scale.

    Float parity: the union adds one exact +0.0 term to each vertex's sum —
    IEEE identity — and partial-sum order inside an aggregate was already
    engine-chosen, so results match the join formulation bit-for-bit
    whenever the aggregation tree happens to coincide and to 1 ulp
    otherwise (the oracles round to 6 decimals far above that).
    """
    msg_rows = _contribution_rows(
        edges_x, state, salt_buckets, broadcast_state
    ).select(F.col("dst").alias("id"), "contrib")
    types = {f.name: f.dataType for f in state.schema.fields}
    for c in carry:
        msg_rows = msg_rows.withColumn(c, F.lit(None).cast(types[c]))
    srows = state.select("id", F.lit(0.0).alias("contrib"), *carry)
    return (
        msg_rows.unionByName(srows)
        .groupBy("id")
        .agg(
            F.sum("contrib").alias("msg"),
            *[F.max(c).alias(c) for c in carry],
        )
    )


def dangling_mass(state: DataFrame) -> DataFrame:
    """Single-row DF: total score of zero-outdegree vertices
    (LinkRankComputation.java:275-276,290-296)."""
    return state.filter(F.col("outdeg") == 0).agg(
        F.coalesce(F.sum("score"), F.lit(0.0)).alias("dangling")
    )


def _set_checkpoint_dir_once(df: DataFrame, checkpoint_dir: str | None) -> bool:
    """Set the reliable-checkpoint dir ONCE per dir (returns whether reliable
    checkpointing is on); every :func:`_barrier` asks. setCheckpointDir
    mints a fresh UUID subdirectory on every call — calling it per barrier
    leaks one full state copy per interval — so the call is skipped when
    the context already checkpoints into a UUID subdirectory of
    ``checkpoint_dir``: every barrier of a run (bow-tie's four closures,
    SCC's peel and reach labels) shares one UUID dir.
    Superseded checkpoint data within the run is reclaimed by the
    ContextCleaner when ``spark.cleaner.referenceTracking.cleanCheckpoints
    =true`` (set in :func:`giranking_spark.session.get_spark`), and the
    whole dir is safe to delete after the run."""
    if not checkpoint_dir:
        return False
    sc = df.sparkSession.sparkContext
    Path = sc._jvm.org.apache.hadoop.fs.Path
    want = Path(checkpoint_dir)
    want = want.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(want)
    current = sc.getCheckpointDir()  # qualified, e.g. file:/tmp/ck/<uuid>
    if current is None or Path(current).getParent().toString() != want.toString():
        sc.setCheckpointDir(checkpoint_dir)
    return True


#: vertex/state row count above which the per-round GC nudge fires — the
#: one place the gate lives (r12 ADVICE: it was duplicated inline at four
#: loop sites). Fixture-scale runs stay below it and pay nothing.
GC_NUDGE_MIN_ROWS = 1_000_000


def _gc_nudge(df: DataFrame, n_rows: int) -> None:
    """Dead-shuffle-file reclamation inside long fixpoint loops (r12,
    BASELINE.md round-12 cliff 1): each superstep's checkpoint makes the
    previous superstep's shuffle dead, but the ContextCleaner deletes dead
    shuffle files only after a JVM GC — at one superstep per ~minute the
    periodic 2-min GC lags and local disk fills across a K-superstep run
    (sf100 kcore died on ENOSPC from exactly this lifecycle). One driver
    GC per superstep bounds live shuffle files to ~the current round;
    gated to big states so fixture-scale runs pay nothing.

    The py4j ``_jvm`` accessor is private API, but the config-driven
    alternative (lowering spark.cleaner.periodicGC.interval) cannot track
    the loop cadence: rounds range from seconds (fixtures) to minutes
    (sf100), and any fixed interval either thrashes the former or lags the
    latter — the nudge fires exactly once per dead generation."""
    if n_rows > GC_NUDGE_MIN_ROWS:
        df.sparkSession.sparkContext._jvm.System.gc()


def _observe(df: DataFrame, *scalars: Column) -> dict:
    """The named aggregate ``scalars`` over every row of ``df``, read in
    ONE job that has no shuffle of its own: a ``noop`` write of ``df``
    observed with them (Giraph's aggregators, which a superstep reduces and
    hands over at its barrier). A plain ``df.agg(...).first()`` runs as two
    jobs under AQE: the partial aggregate's shuffle map stage, then the
    final aggregate."""
    obs = Observation()
    df.observe(obs, *scalars).write.format("noop").mode("overwrite").save()
    return obs.get


def _barrier(
    df: DataFrame,
    *scalars: Column,
    checkpoint_dir: str | None = None,
    scan=None,
) -> tuple[DataFrame, dict]:
    """The superstep barrier: truncate ``df``'s lineage and read the loop's
    ``scalars`` (named aggregates, e.g. a convergence count) at it.
    Returns (checkpointed df, {name: value}).

    The checkpoint is local (blocks on the executors: fast, not
    resilient), or reliable when ``checkpoint_dir`` is given, so a cluster
    run survives executor loss mid-fixpoint (SURVEY.md §4.2 #1). With no
    scalars the checkpoint is eager: one job beyond ``df``'s shuffle
    stages, and measured faster than the lazy shape on a one-shuffle step
    (medians of 15 interleaved reps on local[4], 4 cores: 150 vs 177 ms). With scalars it is lazy and :func:`_observe` reads
    them: the observed write scans every partition, so it fills the
    checkpoint and returns the scalars in the same one job. ``scan(ck)``
    widens what that write reads (the seeded dispatch probe adds the
    edges' ``src`` ids); it must read every row of ``ck``."""
    reliable = _set_checkpoint_dir_once(df, checkpoint_dir)
    eager = not scalars
    ck = df.checkpoint(eager) if reliable else df.localCheckpoint(eager)
    return ck, {} if eager else _observe(scan(ck) if scan else ck, *scalars)


class Fixpoint:
    """The one driver of the rank-loop family: a bounded vertex program
    over a static edge relation.

    Pregelix (VLDB 2014) writes a Pregel superstep as a join of the vertex
    state with the edge relation followed by a group-by. Every ranking loop
    here has that shape and differs only in its initial state and its step
    expression, which the operator supplies; the driver owns the rest:

    * **edge layout** — the edge relation is persisted columnar (never a
      localCheckpoint: raw row blocks of a 600M-edge relation blew task
      memory at sf100). With ``layout="src"`` and a state too big to
      broadcast, the loop reads a hash(src)-partitioned copy, so the
      shuffle-hash join exchanges only the state; the input copy is
      released after the first in-loop barrier has filled it, leaving ONE
      copy at steady state. ``layout=None`` keeps the relation as given
      (already src-laid-out, or read on both orientations).
    * **dispatch probe** (:meth:`start`) — the scalars of state0's
      barrier (:func:`_barrier`, one job beyond state0's shuffle stages):
      the vertex count ``n``, the broadcast decision (:func:`_broadcast_rule`
      on the measured id width), the salt decision (:func:`_salt_rule`;
      only ``salt="auto"`` reads the ``indeg`` column) and the caller's
      ``extras`` (``row``).
    * **state side** (:meth:`join`) — broadcast when the state fits, else
      shuffle-hash with the state as build side (:func:`_state_side`).
    * **checkpointing** (:meth:`checkpoint`) — a :func:`_barrier`, local,
      or reliable when a ``checkpoint_dir`` is given; :meth:`run` places
      one after every ``checkpoint_interval``-th superstep (0: the step
      places its own).
    * **convergence** (``run(converge=True)``, the min-relax loops: see
      :func:`min_relax`) — every superstep's barrier also counts the rows
      its step flagged ``_changed``, in the same job; the loop stops at
      the first superstep that changes nothing, or at the caller's cap.
    * **hygiene** — one :func:`_gc_nudge` per superstep, and every cache
      the driver persisted is released when :meth:`run` returns. The
      relation is cached under :func:`giranking_spark.cache.cached`'s
      ownership rule: the driver persists it only when it is not cached
      yet and releases only what it persisted, so a caller's cache
      outlives the loop. ``caller_owned`` skips the persist for a relation
      already materialized another way (SCC's checkpointed live edges).
    """

    def __init__(
        self,
        edges: DataFrame,
        layout: str | None = "src",
        checkpoint_dir: str | None = None,
        checkpoint_interval: int = 1,
        caller_owned: bool = False,
    ):
        self.checkpoint_dir = checkpoint_dir
        self.interval = checkpoint_interval
        self._layout = layout
        # storageLevel is a driver-side cache-manager lookup: no Spark job
        self._owned = not caller_owned and edges.storageLevel == StorageLevel.NONE
        self.edges = edges.persist() if self._owned else edges
        self._held = [self.edges] if self._owned else []  # released on return
        self._stale: DataFrame | None = None  # input copy of a layout swap
        self.changed = 0  # rows the last converge-mode barrier counted

    def checkpoint(self, df: DataFrame, *scalars: Column) -> tuple[DataFrame, dict]:
        """A superstep :func:`_barrier` in the run's checkpoint mode. Its
        full scan of the edge relation fills a swapped layout copy, so the
        input copy is released after the first one."""
        out = _barrier(df, *scalars, checkpoint_dir=self.checkpoint_dir)
        if self._stale is not None:
            self._stale.unpersist()
            self._stale = None
        return out

    def start(
        self,
        state: DataFrame,
        salt: int | str | None = None,
        extras=(),
        keys: tuple[str, ...] = ("id",),
        seeded: bool = False,
    ) -> DataFrame:
        """Barrier state0 (must carry ``keys``, and ``indeg`` when
        ``salt == "auto"``) with the dispatch probe as its scalars; returns
        the checkpointed state and sets ``n``, ``bcast``, ``salt``, ``row``.

        ``n`` is state0's row count, unless ``seeded``: then state0 holds
        only seed rows and grows along the edges to every vertex they
        reach, so ``n`` bounds the grown state — the edges' distinct ``src``
        ids (an HLL estimate read in the same job: the barrier's write
        scans state0 ∪ edges.src; inflated 5% so its ~2%
        error can only overcount and fall back to the always-safe
        shuffle-hash join), once per seed row when the state is keyed by
        more than ``id``. The row width is measured over ``keys``."""
        self.keys = keys
        spark = state.sparkSession
        scan, n_rows = None, F.count(F.lit(1))
        if seeded:

            def scan(ck: DataFrame) -> DataFrame:
                return ck.withColumn("_s", F.lit(1)).unionByName(
                    self.edges.select(F.col("src").alias("_v")),
                    allowMissingColumns=True,
                )

            n_rows = F.count("_s")
        widths = [F.octet_length(F.col(k).cast("string")) for k in keys]
        probes = [
            n_rows.alias("_n"),
            F.avg(sum(widths[1:], widths[0])).alias("_aw"),
        ]
        if seeded:
            probes.append(F.approx_count_distinct("_v").alias("_nv"))
        if salt == "auto":
            probes += [F.max("indeg").alias("_mx"), F.sum("indeg").alias("_tot")]
        state, self.row = _barrier(
            state, *probes, *extras, checkpoint_dir=self.checkpoint_dir, scan=scan
        )
        row = self.row
        self.n = int(row["_n"] or 0)
        if seeded:
            reach = int((row["_nv"] or 0) * 1.05)
            self.n = reach * (self.n if len(keys) > 1 else 1)
        thr = _conf_int(spark, "spark.sql.autoBroadcastJoinThreshold", -1)
        self.bcast = _broadcast_rule(self.n, row["_aw"], thr)
        parts = _conf_int(spark, "spark.sql.shuffle.partitions", 200)
        self.salt = (
            _salt_rule(
                int(row["_mx"] or 0), int(row["_tot"] or 0), parts,
                SALT_MIN_HOT_ROWS,  # read at call time (testable)
            )
            if salt == "auto"
            else salt
        )
        if self._layout == "src" and self.n and not self.bcast:
            self._stale = self.edges if self._owned else None
            self.edges = self.edges.repartition(parts, "src").persist()
            self._held.append(self.edges)
        return state

    def join(self, state: DataFrame, on: str = "src") -> DataFrame:
        """edges ⋈ state on edges[on] = state.id, state side dispatched."""
        s = _state_side(state, self.bcast)
        return self.edges.join(s, self.edges[on] == s["id"])

    def run(
        self,
        state: DataFrame,
        step,
        iterations: int,
        observe=None,
        converge: bool = False,
        then=None,
    ):
        """``iterations`` supersteps ``state = step(state)`` (none on an
        empty graph); ``observe(k, state)`` sees each superstep's result.
        Releases the driver's caches before returning the final state.

        ``converge`` is the min-relax loops' mode: every superstep is
        barriered and counted on the step's ``_changed`` flag, the loop
        stops at the first one that changes nothing (``iterations`` is
        only the cap; ``changed`` > 0 after the return means the cap was
        hit), and the flag is dropped from the result. ``then`` is a second
        pass behind its own barrier after every superstep that changed
        something (the components' pointer doubling)."""
        try:
            for k in range(1, (iterations if self.n else 0) + 1):
                state = step(state)
                if converge:
                    state, got = self.checkpoint(
                        state, F.count_if("_changed").alias("changed")
                    )
                    self.changed = got["changed"]
                elif self.interval and k % self.interval == 0:
                    state, _ = self.checkpoint(state)
                # each barrier leaves the previous superstep's shuffle dead
                _gc_nudge(state, self.n)
                if observe is not None:
                    observe(k, state)
                if converge and not self.changed:
                    break
                if then is not None:
                    state, _ = self.checkpoint(then(state))
        finally:
            self.release()
        return state.drop("_changed") if converge else state

    def release(self) -> None:
        """Unpersist every cache the driver created."""
        for df in self._held:
            df.unpersist()


def min_relax(
    fx: Fixpoint, state: DataFrame, value: str, msg: Column | None = None
) -> DataFrame:
    """One min-relax superstep on ``fx`` (components, BFS, SSSP, per-seed
    BFS, SCC reach labels): the frontier sends ``msg`` (an expression over
    edges ⋈ frontier; default its ``value``) to every ``dst``, and each
    key's new ``value`` is the min over its own row and its messages. ONE
    union + min-aggregate shuffle, no join back: the tagged self row
    recovers the old value, so change detection is free. Returns
    (keys…, value, _changed) with ``_changed`` = the key is new this
    superstep or its value dropped.

    Frontier messaging: only rows flagged ``_changed`` by the previous
    superstep send (every row of an unflagged state0). An unchanged row
    would re-send exactly what it sent the superstep after it last
    changed, and min() is idempotent, so every per-superstep state is
    IDENTICAL to full messaging while the join shrinks from |state| to
    |frontier| rows (total message volume O(|E|) instead of
    O(supersteps × |E|))."""
    frontier = own = state
    if "_changed" in state.columns:
        frontier = state.filter(F.col("_changed")).drop("_changed")
        own = state.drop("_changed")
    to = [F.col("dst").alias("id") if k == "id" else k for k in fx.keys]
    msgs = fx.join(frontier).select(
        *to, (F.col(value) if msg is None else msg).alias(value)
    )
    mixed = msgs.withColumn("_self", F.lit(False)).unionByName(
        own.withColumn("_self", F.lit(True))
    )
    return (
        mixed.groupBy(*fx.keys)
        .agg(
            F.min(value).alias(value),
            F.min(F.when(F.col("_self"), F.col(value))).alias("_old"),
        )
        .select(
            *fx.keys,
            value,
            (F.col("_old").isNull() | (F.col(value) < F.col("_old"))).alias(
                "_changed"
            ),
        )
    )


def pointer_double(fx: Fixpoint, state: DataFrame, value: str) -> DataFrame:
    """One pointer-doubling pass over a min-label state:
    value(v) <- min(value(v), value(value(v))), which drops convergence
    from O(diameter) to O(log diameter) supersteps. Sound whenever a
    vertex's label is itself a vertex whose label bounds it (components:
    same component; SCC reach labels: lbl(v) reaches v, so whatever
    reaches lbl(v) reaches v). As components' ``then`` it reads the
    checkpointed state, so the relax plan is never re-executed to build
    the lookup side. The ``_changed`` flag becomes relax OR doubling
    improved, so the next frontier holds the rows either pass moved, with
    their post-doubling labels."""
    lookup = state.select(F.col("id").alias("_lid"), F.col(value).alias("_lv"))
    lookup = F.broadcast(lookup) if fx.bcast else lookup
    hop = F.coalesce(F.col("_lv"), F.col(value))
    return state.join(lookup, state[value] == lookup["_lid"], "left").select(
        "id",
        F.least(F.col(value), hop).alias(value),
        (F.col("_changed") | (hop < F.col(value))).alias("_changed"),
    )


def linkrank_raw(
    vertices: DataFrame | None,
    edges: DataFrame,
    cfg: LinkRankConfig = LinkRankConfig(),
    num_updates: int | None = None,
) -> DataFrame:
    """Run the rank fixpoint WITHOUT the CDF epilogue; returns
    state(id, score, outdeg). Useful standalone (stage-level oracle queries)
    and as the core of :func:`run_linkrank`."""
    if cfg.remove_duplicates:
        edges = dedup_edges(edges)
    # the out-degree window leaves edges_x hash-partitioned by src: it is
    # already the loop layout, and the only edge copy the run persists
    fx = Fixpoint(
        edges_with_outdeg(edges),
        layout=None,
        checkpoint_dir=cfg.checkpoint_dir,
        checkpoint_interval=cfg.checkpoint_interval,
    )
    # n is getTotalNumVertices, counted after implicit vertex creation
    state = fx.start(
        initial_state_ext(vertices, fx.edges, cfg.default_score),
        cfg.salt_buckets,
    ).drop("indeg")
    n, d, teleport = fx.n, cfg.damping, cfg.teleport

    def step(state: DataFrame) -> DataFrame:
        msgs = fused_message_state(fx.edges, state, ["outdeg"], fx.salt, fx.bcast)
        return msgs.crossJoin(F.broadcast(dangling_mass(state))).select(
            "id",
            (
                F.lit(teleport / n)
                + F.lit(d) * (F.col("msg") + F.col("dangling") / n)
            ).alias("score"),
            "outdeg",
        )

    updates = cfg.num_updates if num_updates is None else num_updates
    return fx.run(state, step, updates)


def run_linkrank(
    vertices: DataFrame | None,
    edges: DataFrame,
    cfg: LinkRankConfig = LinkRankConfig(),
) -> DataFrame:
    """Full LinkRank pipeline: optional dedup → K-1 rank updates → CDF
    normalize. Returns (id, score) with score ∈ [0, scale]."""
    state = linkrank_raw(vertices, edges, cfg)
    return normalize_scores(state.select("id", "score"), cfg.scale)


def trustrank_raw(
    vertices: DataFrame,
    edges: DataFrame,
    cfg: TrustRankConfig = TrustRankConfig(),
    num_updates: int | None = None,
) -> DataFrame:
    """TrustRank fixpoint WITHOUT the CDF epilogue; returns
    state(id, score, outdeg, trusted). Seeds are vertices with initial score
    ≈ 1.0; dangling mass is redistributed only to trusted-set members,
    divided by the trusted count (intended semantics,
    TrustRankComputation.java:214-236,321-329).

    Bug-compat switches (SURVEY.md §2.6; see TrustRankConfig):
      * ``bug_compat`` — bug #1, the dangling term vanishes for everyone.
      * ``bug_compat_empty_member`` — bug #2, "" is a trusted-set member.
      * ``bug_compat_nan_dangling`` — bug #3, numTrusted==0 divides anyway
        (±Inf/NaN per Java double semantics instead of the 0.0 guard).

    Scale note: the reference ships the whole trusted set to every worker as
    one ';'-joined aggregator string (TextAppendAggregator, :207-209) —
    gigabytes of driver state on a big graph. Here membership is a boolean
    STATE COLUMN carried through the fixpoint; only two scalar counts
    (``n``, ``num_trusted``) ever reach the driver
    (tests/test_scale_plans.py locks this)."""
    if cfg.remove_duplicates:
        edges = dedup_edges(edges)
    fx = Fixpoint(
        edges_with_outdeg(edges),
        layout=None,
        checkpoint_dir=cfg.checkpoint_dir,
        checkpoint_interval=cfg.checkpoint_interval,
    )
    state = initial_state_ext(vertices, fx.edges, cfg.default_score)
    # trusted detection at superstep 0 (TrustRankComputation.java:203-211):
    # initial score within epsilon of 1.0; num_trusted (IntSumAggregator
    # NUM_TRUSTED) rides the dispatch probe
    state = fx.start(
        state.withColumn("trusted", F.abs(F.col("score") - 1.0) < cfg.trusted_epsilon),
        cfg.salt_buckets,
        extras=[F.sum(F.col("trusted").cast("long")).alias("_nt")],
    ).drop("indeg")
    num_trusted = int(fx.row["_nt"] or 0)

    # trusted-SET membership (the `trusteds.contains(...)` test, :220-224) —
    # distinct from the trusted FLAG: bug #2 makes "" a permanent member
    member = F.col("trusted")
    if cfg.bug_compat_empty_member:
        member = member | (F.col("id") == "")
    if cfg.bug_compat:
        dangling_term = F.lit(0.0)
    elif num_trusted == 0:
        if cfg.bug_compat_nan_dangling:
            # Java: danglingSum / 0.0 (:321-329). Spark's Divide returns
            # NULL on a zero divisor, so the IEEE result is spelled out.
            java_div0 = (
                F.when(F.col("dangling") > 0, F.lit(float("inf")))
                .when(F.col("dangling") < 0, F.lit(float("-inf")))
                .otherwise(F.lit(float("nan")))
            )
            dangling_term = F.when(member, java_div0).otherwise(F.lit(0.0))
        else:
            dangling_term = F.lit(0.0)
    else:
        dangling_term = F.when(
            member, F.col("dangling") / num_trusted
        ).otherwise(F.lit(0.0))
    n, d, teleport = fx.n, cfg.damping, cfg.teleport

    def step(state: DataFrame) -> DataFrame:
        msgs = fused_message_state(
            fx.edges, state, ["outdeg", "trusted"], fx.salt, fx.bcast
        )
        return msgs.crossJoin(F.broadcast(dangling_mass(state))).select(
            "id",
            (
                F.lit(teleport / n)
                + F.lit(d) * (F.col("msg") + dangling_term)
            ).alias("score"),
            "outdeg",
            "trusted",
        )

    updates = cfg.num_updates if num_updates is None else num_updates
    return fx.run(state, step, updates)


def run_trustrank(
    vertices: DataFrame,
    edges: DataFrame,
    cfg: TrustRankConfig = TrustRankConfig(),
) -> DataFrame:
    """Full TrustRank pipeline: :func:`trustrank_raw` fixpoint → CDF
    normalize. Returns (id, score) with score ∈ [0, scale]."""
    state = trustrank_raw(vertices, edges, cfg)
    return normalize_scores(state.select("id", "score"), cfg.scale)


# HostRank IS LinkRankComputation run on the host-level graph
# (HostRankHBaseTest.java:185-194) — same operator, different source.
run_hostrank = run_linkrank


def normalize_scores(scores: DataFrame, scale: float = 10.0) -> DataFrame:
    """Normal-CDF normalization epilogue (SURVEY.md §2.7): x = log(score),
    final = Φ((x-μ)/σ_pop) · scale. Single Spark stage: one global aggregate
    broadcast back over the rows."""
    logs = scores.select("id", F.log("score").alias("lx"))
    stats = logs.agg(
        F.avg("lx").alias("mu"), F.coalesce(F.stddev_pop("lx"), F.lit(0.0)).alias("sigma_raw")
    )
    return (
        logs.crossJoin(F.broadcast(stats))
        .select(
            "id",
            (
                normal_cdf(
                    F.col("lx"),
                    F.col("mu"),
                    F.when(F.col("sigma_raw") == 0.0, F.lit(SIGMA_FLOOR)).otherwise(
                        F.col("sigma_raw")
                    ),
                )
                * F.lit(scale)
            ).alias("score"),
        )
    )
