"""Exact triangle enumeration with adaptive orientation (compact-forward /
Chiba–Nishizeki).

Every exact triangle algorithm enumerates wedges; the only scale question
is WHOSE wedges. Orienting each undirected edge by vertex id makes the
wedge relation Sigma_v outdeg_id(v)^2 — a single celebrity hub with a
small id turns that quadratic in its degree. Orienting instead from the
(degree, id)-SMALLER endpoint to the larger bounds every vertex's
out-degree by O(sqrt(m)) (more precisely by the graph's arboricity:
Chiba & Nishizeki 1985), so the wedge relation is O(m * alpha) no matter
how skewed the degree distribution — the difference between "works on the
fixture" and "works when one page has 2M in-links".

The (degree, id) orientation is not free, though: it costs a degree
aggregate, two equi-joins and one materialization BEFORE the first wedge
is produced — measured at roughly half an 11 s wall at sf0.1 on a
substrate whose id-oriented wedge relation is only ~44x the edge count.
``triangle_relation`` therefore DECIDES per input from one cheap stats
job over the (checkpointed) edge set: when the id-oriented wedge relation
Sigma od_id^2 is within ``WEDGE_REL_CAP`` x m (or under an absolute
``WEDGE_ABS_CAP``), the orientation cannot buy back its own overhead and
the plain id-oriented two-equi-join shape runs; above it, the hub-proof
(degree, id) orientation takes over. Both bounds are explicit, so the
id path's wedge intermediate is never silently unbounded.

Counts are EXACT and orientation-invariant: every triangle is produced
exactly once, from its orientation-minimal vertex (id-minimal on the
compact path, (degree, id)-minimal on the oriented path — the row SETS
differ only in which vertex lands in which column; the set of triangles,
and hence every count/edge derivation, is identical). The DuckDB oracles
keep their simpler id-oriented form — same value, different plan — which
is the point: orientation is a physical choice, not a semantic one.

Reference parity note: the reference engine has no triangle operator; this
is extension surface (SURVEY.md LLM-pipeline ops), shaped for the 100 TB
navigation/citation graphs the rank family already handles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: id-oriented wedge budget: below this ABSOLUTE wedge count the wedge
#: join is trivially cheap on any executor, whatever the ratio to m.
WEDGE_ABS_CAP = 4_000_000
#: ... and below this RELATIVE bound (wedges per edge) the degree
#: orientation cannot reduce the wedge relation by more than it costs to
#: build (degree aggregate + two joins + a materialization, i.e. a few
#: edge-relation scans). Measured at sf0.1: a 44x-m id-wedge relation ran
#: ~2x faster un-oriented; a 605x-m one needs the orientation.
WEDGE_REL_CAP = 64
#: when the edge relation itself has at most this many rows (a few tens of
#: MB — routine broadcast size on any executor profile), every join in the
#: enumeration broadcasts the edge/closing side: the wedge relation is then
#: produced AND semi-filtered map-side and never shuffled — the wedge join
#: cost drops from a Sigma-od^2-row exchange to a map-local hash probe.
#: Above the cap the equi-join shapes shuffle on their keys as usual.
BROADCAST_EDGE_CAP = 2_000_000


def should_orient(id_wedges: int, m: int) -> bool:
    """The dispatch rule, as pure math so tests can pin it against the
    measured substrates: orient iff the id-oriented wedge relation exceeds
    BOTH the absolute budget and the relative (per-edge) budget."""
    return id_wedges > max(WEDGE_ABS_CAP, WEDGE_REL_CAP * m)


def degree_oriented(co: DataFrame, small: bool = False) -> DataFrame:
    """Orient canonical undirected edges by (degree, id).

    ``co`` holds each undirected edge once as (u, v) with u < v (ids).
    Returns (a, b, db): the edge re-oriented from the (degree, id)-smaller
    endpoint ``a`` to the larger ``b``, carrying b's degree ``db`` so wedge
    construction can compare endpoints in ≺ order without re-joining the
    degree relation. Two map-side-combinable aggregates + two broadcastable
    equi-joins (the degree relation is vertex-sized, typically orders of
    magnitude under the edge relation); ``small`` broadcasts them
    explicitly (checkpointed inputs are LogicalRDDs with no stats, so the
    optimizer cannot discover the size on its own)."""
    und = co.select("u", "v").unionByName(
        co.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    du = deg.select(F.col("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
    if small:
        du, dv = F.broadcast(du), F.broadcast(dv)
    j = co.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return j.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    )


def oriented_wedges(o: DataFrame, small: bool = False) -> DataFrame:
    """Wedges (a; b1 ≺ b2) of the degree-oriented edge relation ``o`` —
    the candidate relation whose size the orientation bounds by m·alpha.
    One self-equi-join on the wedge apex (broadcast when ``small``)."""
    e1 = o.select(F.col("a"), F.col("b").alias("b1"), F.col("db").alias("db1"))
    e2 = o.select(F.col("a"), F.col("b").alias("b2"), F.col("db").alias("db2"))
    if small:
        e2 = F.broadcast(e2)
    return e1.join(e2, "a").filter(
        (F.col("db1") < F.col("db2"))
        | ((F.col("db1") == F.col("db2")) & (F.col("b1") < F.col("b2")))
    )


def _id_oriented_triangles(co: DataFrame, small: bool = False) -> DataFrame:
    """The compact id-oriented shape (the oracles' own form): wedges
    (a; b1 < b2) from a single self-equi-join on the canonical edge set,
    semi-probed against the closing canonical edge. No degree relation,
    no extra materialization — latency-optimal whenever the dispatch has
    certified Sigma od_id^2 small. ``small`` (edge rows under
    BROADCAST_EDGE_CAP, certified by the dispatch stats) broadcasts one
    wedge leg and the closing probe so the wedge relation never hits an
    exchange."""
    e1 = co.select(F.col("u").alias("a"), F.col("v").alias("b1"))
    e2 = co.select(F.col("u").alias("a"), F.col("v").alias("b2"))
    closing = co.select(F.col("u").alias("b1"), F.col("v").alias("b2"))
    if small:
        e2, closing = F.broadcast(e2), F.broadcast(closing)
    return (
        e1.join(e2, "a")
        .filter(F.col("b1") < F.col("b2"))
        .join(closing, ["b1", "b2"], "left_semi")
        .select("a", "b1", "b2")
    )


def triangle_relation(co: DataFrame, orient: bool | None = None) -> DataFrame:
    """All triangles of the canonical edge set ``co``, one row (a, b1, b2)
    per triangle (a minimal in the chosen orientation's total order; the
    triangle SET is orientation-invariant). The oriented path semi-probes
    oriented wedges against the closing oriented edge (b1, b2): since
    b1 ≺ b2, the closing edge — if it exists — is stored oriented exactly
    as (b1 → b2), so the probe is a two-key LEFT SEMI equi-join (key-only,
    no payload shuffle).

    ``co`` is localCheckpointed once — the edge relation feeds the stats
    job, both wedge legs and the closing probe, so without it the substrate
    (often an expensive distinct self-join) executes once per consumer —
    then the one-row dispatch stats job runs (Sigma od_id^2 vs
    WEDGE_{ABS,REL}_CAP, see module docstring). localCheckpoint (not
    persist) so the blocks die with the DataFrame instead of leaking across
    bench reps. A caller that already cached ``co`` for its own consumers
    still gets this second copy: A/B at sf0.1 showed the two-copy shape
    FASTER for graph_local_bridges (the caller's persist keeps accurate
    size stats on its own consumers — a checkpoint's LogicalRDD defaults
    to huge sizeInBytes and flips broadcastable joins to SMJ).

    ``orient`` forces the path (True = degree-oriented, False = compact
    id-oriented); None decides from the stats job."""
    co = co.localCheckpoint(eager=True)
    stats = (
        co.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("od"))
        .agg(
            F.sum(F.col("od") * F.col("od")).alias("id_wedges"),
            F.sum("od").alias("m"),
        )
        .first()
    )
    id_wedges = int(stats["id_wedges"] or 0)
    m = int(stats["m"] or 0)
    small = m <= BROADCAST_EDGE_CAP
    if orient is None:
        orient = should_orient(id_wedges, m)
    if not orient:
        return _id_oriented_triangles(co, small=small)
    o = degree_oriented(co, small=small).localCheckpoint(eager=True)
    closing = o.select(F.col("a").alias("b1"), F.col("b").alias("b2"))
    if small:
        closing = F.broadcast(closing)
    return (
        oriented_wedges(o, small=small)
        .join(closing, ["b1", "b2"], "left_semi")
        .select("a", "b1", "b2")
    )


def triangle_edges(co: DataFrame) -> DataFrame:
    """Distinct canonical (u, v) edges that close ≥1 triangle — the
    NOT-a-local-bridge relation. Emits the 3 edges of each triangle
    (canonicalized back to id order, since the enumeration order and id
    order may disagree) and dedups; intermediate size is 3·#triangles on
    top of the dispatch-bounded wedge relation, never the Sigma d^2 full
    neighbor expansion."""
    tri = triangle_relation(co)
    pairs = (
        tri.select(F.col("a").alias("x"), F.col("b1").alias("y"))
        .unionByName(tri.select(F.col("a").alias("x"), F.col("b2").alias("y")))
        .unionByName(tri.select(F.col("b1").alias("x"), F.col("b2").alias("y")))
    )
    return pairs.select(
        F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
    ).distinct()
