"""Window-frame / quantile / funnel analytics queries with DuckDB oracles.

Completes the §2.10 window surface with frame-based running aggregates,
latest-record-per-key resolution (the standard CDC/SCD "current version"
pattern), exact interpolated quantiles (Spark ``percentile`` and DuckDB
``quantile_cont`` share linear interpolation — verified to match to the
last bit on the fixture), and a two-step event funnel.

Timestamp discipline: events.ts is TIMESTAMP(MICROS) parquet (NTZ) — event
arithmetic happens on epoch-µs on both sides (load_events ``ts_us`` vs
DuckDB ``epoch_us``). orders.o_orderdate is also TIMESTAMP(MICROS) — both
engines use the raw column directly.

Money discipline: running sums go through exact integer cents
(round(price*100) as BIGINT) — float running sums are addition-order
sensitive and window implementations don't promise an order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from giranking_spark.cache import cached
from giranking_spark.queries.relational import load_events
from giranking_spark.sources.tables import load_table

FUNNEL_STEPS = ["signup", "purchase"]

# ---------------------------------------------------------------------------
# Spark callables


def q_rel_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most recent order per customer — window row_number, one shuffle on
    the key; at scale this is the dedup-by-recency pattern for CDC
    snapshots (pairs with dedup_exact for content dedup).

    orders.o_orderdate is TIMESTAMP(MICROS) (unlike events.ts's nanos), so
    both engines order the raw column — identical µs values, no conversion."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


def q_rel_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running spend in exact integer cents (rows-frame
    running sum; the window streams — no frame buffering)."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100).cast("bigint")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum("cents").over(w).alias("running_spend_cents"),
    )


def q_rel_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per order status. At 100 TB the exact
    percentile needs a per-group sort; swap in approx_percentile when a
    bounded-error sketch is acceptable (not oracle-pairable — engines'
    sketches differ)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 6).alias("p75"),
    )


def q_events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap distribution (n_gaps, P50/P90/max gap in
    seconds) — the arrival-cadence diagnostic behind session-gap tuning and
    bot detection.  Gaps are exact integer epoch-µs differences from ONE
    lag window per user (deterministic (ts_us, event_id) order).

    The quantiles use linear interpolation computed EXACTLY: for q = p/10,
    rank t = (n-1)·p/10 splits into integer base = (n-1)p div 10 and tenth
    m = (n-1)p mod 10, and the interpolated value (a(10-m) + bm)/10 is an
    exact-integer weighted sum — the engines' builtin
    percentile/quantile_cont pair agrees only to ~1 ulp, which a
    strict-hash gate catches the moment a value lands on a rounding
    boundary (observed at sf0.01; the engines also disagree on
    round-half-at-the-edge, so NO rounding appears here at all).  Outputs
    are exact: integer microseconds for max, and the quantiles as one IEEE
    division of an exact integer by 10 — bit-identical cross-engine.  Two
    windows on the same user key + one grouped aggregate — still a single
    data-sized shuffle."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    g = (
        ev.select("user_id", "ts_us", "event_id")
        .withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w))
        .filter(F.col("gap_us").isNotNull())
    )
    wr = Window.partitionBy("user_id").orderBy("gap_us")
    wc = Window.partitionBy("user_id")
    g2 = g.select(
        "user_id",
        "gap_us",
        (F.row_number().over(wr) - 1).alias("r"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )

    def q_sum(p: int):
        base = F.expr(f"((n - 1) * {p}) div 10")
        m = F.expr(f"((n - 1) * {p}) % 10")
        contrib = (
            F.when(F.col("r") == base, F.col("gap_us") * (F.lit(10) - m))
            .when(F.col("r") == base + 1, F.col("gap_us") * m)
            .otherwise(F.lit(0))
        )
        return F.sum(contrib) / F.lit(10.0)

    return g2.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        q_sum(5).alias("p50_gap_us"),
        q_sum(9).alias("p90_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step signup→purchase funnel: users who signed up, and users whose
    first purchase strictly follows their first signup. One aggregation per
    user (conditional-min, map-side combinable) then a 2-row rollup —
    no per-step self-joins, so the plan is two shuffles total at any scale."""
    ev = load_events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == FUNNEL_STEPS[0], F.col("ts_us"))).alias(
            "t_signup"
        ),
        F.min(F.when(F.col("event_type") == FUNNEL_STEPS[1], F.col("ts_us"))).alias(
            "t_purchase"
        ),
    )
    return per_user.agg(
        F.count(F.col("t_signup")).cast("long").alias("n_signup"),
        F.count(
            F.when(
                F.col("t_purchase") > F.col("t_signup"), F.lit(1)
            )
        )
        .cast("long")
        .alias("n_purchase_after_signup"),
    )


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day; for each
    (cohort_day, day_offset) the count of users active that many days after
    their first event. Two aggregations + one key join — the per-(user, day)
    distinct is map-side combinable, and the cohort join broadcasts (one row
    per user, bounded by the user dimension, not the event volume)."""
    ev = load_events(spark, sf_dir).select(
        "user_id", F.expr("t div 86400").alias("day")
    )
    ud = ev.distinct()
    first = ud.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ud.join(first, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (|value − μ| > 3σ): the standard streaming
    QA pass over an event feed. Two-phase shape — per-type stats via one
    map-side-combinable groupBy, broadcast back over the events — instead
    of a window over the full partition, which would shuffle every event
    row by a low-cardinality (skew-prone) key. The z filter and output are
    computed on the same broadcast stats, so no second pass."""
    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.coalesce(F.stddev_pop("value"), F.lit(0.0)).alias("sigma"),
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(
            (F.col("sigma") > 0)
            & (F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sigma"))
        )
        .select(
            "event_id",
            "event_type",
            F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6).alias("z"),
        )
    )


ZORDER_BITS = 16
#: bit-interleave of (x, y) into a Morton/Z value — plain shift/mask
#: arithmetic valid verbatim in BOTH SQL dialects (shared fragment)
ZVAL_SQL = " + ".join(
    f"(((x >> {i}) & 1) * {1 << (2 * i)}) + (((y >> {i}) & 1) * {1 << (2 * i + 1)})"
    for i in range(ZORDER_BITS)
)


def q_rel_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) key over (l_partkey, l_suppkey): the clustering key
    that makes ONE sorted layout serve range predicates on either dimension
    (parquet min/max row-group skipping). At scale: compute zval, then
    ``repartitionByRange(zval).sortWithinPartitions(zval)`` before the
    write — this query checks the key computation itself, bit for bit."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_partkey") % (1 << ZORDER_BITS)).alias("x"),
        (F.col("l_suppkey") % (1 << ZORDER_BITS)).alias("y"),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(ZVAL_SQL).cast("bigint").alias("zval"),
    )


def q_rel_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS trend of order value over time WITHOUT regr_* agg
    functions: the five sufficient statistics (n, Σx, Σy, Σxy, Σx²) are
    exact BIGINT sums (map-side combinable, one shuffle on the nation key),
    and the closed-form slope/intercept is a fixed sequence of double ops on
    those exact integers — deterministic across engines, unlike a float
    accumulation whose partial-sum order differs. x = epoch day, y = cents."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
        ).alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = o.join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    ).join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    sums = joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    return sums.select(
        "n_name",
        F.col("n").alias("n_orders"),
        F.round(slope, 6).alias("slope_cents_per_day"),
        F.round((sy - slope * sx) / nd, 6).alias("intercept_cents"),
    )


def q_events_trailing_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-hour spend: a RANGE frame over the event-time key
    (completes the window surface next to the ROWS frame of
    rel_window_running). RANGE frames stream within the partition sort —
    one shuffle on user_id, no per-row rescans."""
    ev = load_events(spark, sf_dir).select("event_id", "user_id", "t", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t").asc())
        .rangeBetween(-3599, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 6).alias("trailing_1h"),
    )


#: hopping-window geometry shared by the batch query, the streaming twin
#: (streaming/ops.stream_sliding_window) and both oracles
SLIDE_S = 1800
WIDTH_S = 3600


def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows in batch: width 1 h, slide 30 min — every
    event lands in exactly width/slide = 2 windows. Expressed as a bounded
    2-row fan-out (explode over the overlap factor) + one groupBy: the
    fan-out is proportional to the overlap, never the data, and the single
    shuffle is on (window_start, event_type)."""
    ev = load_events(spark, sf_dir).select("event_type", "t", "value")
    x = ev.select(
        "event_type",
        "t",
        "value",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("k"),
    )
    start = (F.expr(f"t div {SLIDE_S}") - F.col("k")) * SLIDE_S
    return x.groupBy(start.alias("window_start"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


def q_rel_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe revenue per supplier via the generic two-phase salted
    sum (operators/skew.py). Exact integer cents so the salted addition
    order cannot drift from the oracle's one-phase GROUP BY."""
    from giranking_spark.operators.skew import salted_sum

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "cents", F.round(F.col("l_extendedprice") * 100).cast("bigint")
    )
    return salted_sum(li, ["l_suppkey"], "cents", out="revenue_cents")


def q_rel_anti_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti-join surface: every customer flagged by order existence.
    Both branches are key-only joins (the orders side projects one column,
    so the scan is pruned to o_custkey; semi/anti never materialize the
    right side's payload)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").withColumn(
        "has_orders", F.lit(True)
    )
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").withColumn(
        "has_orders", F.lit(False)
    )
    return semi.unionByName(anti)


HIST_WIDTH = 10_000       # fixed-bound histogram bucket width (price units)
HIST_BUCKETS = 11         # l_extendedprice spans ~[900, 105000)
SKEW_KEYS = 5             # synthetic hot-key count for the salted join
SKEW_SALTS = 8


def q_rel_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound histogram of l_extendedprice: bucket counts + per-bucket
    extrema in ONE scan, no joins. Fixed bounds (not data-driven min/max)
    keep it single-pass — the profiling companion to rel_quantiles; at
    100 TB it is a pure map-side-combine aggregation on ≤ HIST_BUCKETS
    groups."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.least(
        F.floor(F.col("l_extendedprice") / HIST_WIDTH),
        F.lit(HIST_BUCKETS - 1),
    ).cast("int")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("l_extendedprice"), 6).alias("lo"),
            F.round(F.max("l_extendedprice"), 6).alias("hi"),
        )
    )


def q_rel_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact⋈dim join under synthetic hot keys (operators/skew.py:
    salted_join): every lineitem routes to one of SKEW_KEYS keys — a
    worst-case 'five values across 600k rows' skew — and the dim is
    replicated ×SKEW_SALTS so each hot key spreads over SKEW_SALTS
    reducers. The oracle is the PLAIN join + aggregate: salting must be
    invisible in the result. Sums ride exact integer types (cents /
    quantity longs) so reducer addition order cannot drift the values."""
    from giranking_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % SKEW_KEYS).cast("int").alias("seg"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    dim = spark.range(SKEW_KEYS).select(
        F.col("id").cast("int").alias("seg"),
        F.concat(F.lit("segment-"), F.col("id")).alias("seg_name"),
    )
    joined = salted_join(li, dim, "seg", salts=SKEW_SALTS)
    return joined.groupBy("seg", "seg_name").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").alias("revenue_cents"),
        F.sum("qty").alias("total_qty"),
    )


QUERIES = {
    "rel_histogram": q_rel_histogram,
    "rel_skew_join": q_rel_skew_join,
    "rel_latest_by_key": q_rel_latest_by_key,
    "rel_window_running": q_rel_window_running,
    "rel_quantiles": q_rel_quantiles,
    "events_funnel": q_events_funnel,
    "events_gap_stats": q_events_gap_stats,
    "events_sliding_window": q_events_sliding_window,
    "events_trailing_1h": q_events_trailing_1h,
    "rel_zorder_layout": q_rel_zorder_layout,
    "rel_regression": q_rel_regression,
    "events_retention": q_events_retention,
    "events_anomaly": q_events_anomaly,
    "rel_salted_agg": q_rel_salted_agg,
    "rel_anti_semi": q_rel_anti_semi,
}

# ---------------------------------------------------------------------------
# oracles

ORACLES = {
    "rel_histogram": (
        f"SELECT CAST(least(floor(l_extendedprice / {HIST_WIDTH}), "
        f"{HIST_BUCKETS - 1}) AS INT) AS bucket, "
        "count(*)::BIGINT AS n, "
        "round(min(l_extendedprice), 6) AS lo, "
        "round(max(l_extendedprice), 6) AS hi "
        "FROM lineitem GROUP BY 1"
    ),
    # the PLAIN join+agg — the salted plan must be result-identical
    "rel_skew_join": (
        f"WITH li AS (SELECT CAST(l_orderkey % {SKEW_KEYS} AS INT) AS seg, "
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents, "
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem), "
        f"dim AS (SELECT CAST(i AS INT) AS seg, 'segment-' || i AS seg_name "
        f"FROM unnest(generate_series(0, {SKEW_KEYS - 1})) AS t(i)) "
        "SELECT seg, seg_name, count(*)::BIGINT AS n, "
        "sum(cents)::BIGINT AS revenue_cents, sum(qty)::BIGINT AS total_qty "
        "FROM li JOIN dim USING (seg) GROUP BY seg, seg_name"
    ),
    "rel_latest_by_key": (
        "SELECT o_custkey, o_orderkey, o_totalprice FROM ("
        "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER ("
        "PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC"
        ") AS rn FROM orders) WHERE rn = 1"
    ),
    "rel_window_running": (
        "SELECT o_custkey, o_orderkey, "
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER ("
        "PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        " AS running_spend_cents FROM orders"
    ),
    "events_gap_stats": (
        "WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us "
        "FROM events), "
        "g AS (SELECT user_id, ts_us - lag(ts_us) OVER "
        "(PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us FROM ev), "
        "g2 AS (SELECT user_id, gap_us, "
        "row_number() OVER (PARTITION BY user_id ORDER BY gap_us) - 1 AS r, "
        "count(*) OVER (PARTITION BY user_id) AS n "
        "FROM g WHERE gap_us IS NOT NULL) "
        "SELECT user_id, count(*)::BIGINT AS n_gaps, "
        "sum(CASE WHEN r = ((n - 1) * 5) // 10 THEN gap_us * (10 - ((n - 1) * 5) % 10) WHEN r = ((n - 1) * 5) // 10 + 1 THEN gap_us * (((n - 1) * 5) % 10) ELSE 0 END) / 10.0 AS p50_gap_us, "
        "sum(CASE WHEN r = ((n - 1) * 9) // 10 THEN gap_us * (10 - ((n - 1) * 9) % 10) WHEN r = ((n - 1) * 9) // 10 + 1 THEN gap_us * (((n - 1) * 9) % 10) ELSE 0 END) / 10.0 AS p90_gap_us, "
        "max(gap_us)::BIGINT AS max_gap_us "
        "FROM g2 GROUP BY user_id"
    ),
    "rel_quantiles": (
        "SELECT o_orderstatus, "
        "round(quantile_cont(o_totalprice, 0.25), 6) AS p25, "
        "round(quantile_cont(o_totalprice, 0.5), 6) AS p50, "
        "round(quantile_cont(o_totalprice, 0.75), 6) AS p75 "
        "FROM orders GROUP BY o_orderstatus"
    ),
    "events_funnel": (
        "WITH pu AS (SELECT user_id, "
        f"min(CASE WHEN event_type = '{FUNNEL_STEPS[0]}' THEN epoch_us(ts) END) AS t_signup, "
        f"min(CASE WHEN event_type = '{FUNNEL_STEPS[1]}' THEN epoch_us(ts) END) AS t_purchase "
        "FROM events GROUP BY user_id) "
        "SELECT CAST(count(t_signup) AS BIGINT) AS n_signup, "
        "CAST(count(CASE WHEN t_purchase > t_signup THEN 1 END) AS BIGINT)"
        " AS n_purchase_after_signup FROM pu"
    ),
    "events_anomaly": (
        "WITH s AS (SELECT event_type, avg(value) AS mu, "
        "coalesce(stddev_pop(value), 0.0) AS sigma "
        "FROM events GROUP BY event_type) "
        "SELECT e.event_id, e.event_type, "
        "round((e.value - s.mu) / s.sigma, 6) AS z "
        "FROM events e JOIN s USING (event_type) "
        "WHERE s.sigma > 0 AND abs(e.value - s.mu) > 3 * s.sigma"
    ),
    "events_retention": (
        "WITH ud AS (SELECT DISTINCT user_id, "
        "floor(epoch(ts))::BIGINT // 86400 AS day FROM events), "
        "first AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id) "
        "SELECT f.cohort_day, u.day - f.cohort_day AS day_offset, "
        "CAST(count(*) AS BIGINT) AS n_users "
        "FROM ud u JOIN first f ON u.user_id = f.user_id "
        "GROUP BY f.cohort_day, u.day - f.cohort_day"
    ),
    "events_trailing_1h": (
        "WITH ev AS (SELECT event_id, user_id, "
        "floor(epoch(ts))::BIGINT AS t, value FROM events) "
        "SELECT event_id, user_id, round(sum(value) OVER ("
        "PARTITION BY user_id ORDER BY t ASC "
        "RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW), 6) AS trailing_1h "
        "FROM ev"
    ),
    "rel_zorder_layout": (
        "WITH b AS (SELECT l_orderkey, l_linenumber, "
        f"l_partkey % {1 << ZORDER_BITS} AS x, "
        f"l_suppkey % {1 << ZORDER_BITS} AS y FROM lineitem) "
        f"SELECT l_orderkey, l_linenumber, CAST({ZVAL_SQL} AS BIGINT) AS zval "
        "FROM b"
    ),
    "rel_regression": (
        "WITH o AS (SELECT o_custkey, "
        "epoch(o_orderdate)::BIGINT // 86400 AS x, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS y FROM orders), "
        "s AS (SELECT n_name, count(*) AS n, sum(x) AS sx, sum(y) AS sy, "
        "sum(x * y) AS sxy, sum(x * x) AS sxx "
        "FROM o JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name) "
        "SELECT n_name, n AS n_orders, "
        "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) "
        "/ (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope_cents_per_day, "
        "round((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) "
        "/ (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE)) "
        "/ CAST(n AS DOUBLE), 6) AS intercept_cents "
        "FROM s"
    ),
    "events_sliding_window": (
        "WITH ev AS (SELECT event_type, floor(epoch(ts))::BIGINT AS t, value "
        "FROM events), "
        "x AS (SELECT event_type, t, value, unnest([0, 1]) AS k FROM ev) "
        f"SELECT (t // {SLIDE_S} - k) * {SLIDE_S} AS window_start, event_type, "
        "count(*) AS n_events, round(sum(value), 6) AS sum_value "
        "FROM x GROUP BY 1, 2"
    ),
    # one-phase GROUP BY on purpose: the salted two-phase plan must produce
    # the identical result (commutative exact-integer sum)
    "rel_salted_agg": (
        "SELECT l_suppkey, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
        " AS BIGINT) AS revenue_cents FROM lineitem GROUP BY l_suppkey"
    ),
    "rel_anti_semi": (
        "SELECT c_custkey, c_custkey IN (SELECT o_custkey FROM orders)"
        " AS has_orders FROM customer"
    ),
}


# -- time-series wave: transitions / sweep-line concurrency / gap-fill ------

#: active-interval length for the concurrency sweep (seconds)
CONCURRENCY_HOLD_S = 300


def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral transition counts (Markov-chain corpus
    statistic): lag the event type within each user's timeline, count
    (prev→next) pairs. One shuffle on user_id for the window, one
    aggregation — the standard sequence-mining primitive."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("event_type").over(w)
    return (
        ev.withColumn("prev_type", prev)
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_trans"))
    )


def q_events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent active sessions per event type via the distributed
    sweep line: each event holds a [t, t+300 s) interval; boundaries become
    ±1 deltas, a running sum ordered by (time, delta) — ends before starts
    at ties, the half-open-interval rule — gives instantaneous concurrency,
    and the max per type is the answer.  One shuffle (window on type),
    no self-join: the naive interval-overlap formulation is O(n²).

    Tie-safety: among equal (x, d) rows the prefix values are a
    deterministic set (all -1s first is monotone down, then +1s monotone
    up), so the MAX is order-invariant even though ROWS frames break ties
    arbitrarily — both engines agree."""
    ev = load_events(spark, sf_dir)
    starts = ev.select("event_type", F.col("t").alias("x"), F.lit(1).alias("d"))
    ends = ev.select(
        "event_type",
        (F.col("t") + CONCURRENCY_HOLD_S).alias("x"),
        F.lit(-1).alias("d"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("x", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sweep = starts.union(ends).withColumn("cur", F.sum("d").over(w))
    return sweep.groupBy("event_type").agg(
        F.max("cur").cast("long").alias("max_concurrent")
    )


def q_events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily resample with forward fill: generate the day grid
    spanning each user's first→last event (sequence + explode — no
    driver-side calendar), attach the last event value of each day
    (row_number dedup), and forward-fill gaps with a last(ignorenulls)
    window.  Output is grid-sized (users × ≤31 days), never events-sized.
    This is the gap-filling primitive behind per-entity daily feature
    tables at training scale."""
    ev = load_events(spark, sf_dir).select(
        "user_id",
        "ts_us",
        "event_id",
        F.expr("ts_us div 86400000000").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    span = ev.groupBy("user_id").agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("d")
    )
    wlast = Window.partitionBy("user_id", "d").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    daily = (
        ev.withColumn("__rn", F.row_number().over(wlast))
        .filter(F.col("__rn") == 1)
        .select("user_id", "d", "cents")
    )
    wff = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "d"], "left")
        .withColumn(
            "has_event", F.col("cents").isNotNull().cast("int")
        )
        .withColumn(
            "filled_cents", F.last("cents", ignorenulls=True).over(wff)
        )
        .select("user_id", "d", "has_event", "filled_cents")
    )


QUERIES["events_transitions"] = q_events_transitions
QUERIES["events_concurrency"] = q_events_concurrency
QUERIES["events_resample_ffill"] = q_events_resample_ffill

ORACLES["events_transitions"] = (
    "WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type "
    "FROM events), "
    "lg AS (SELECT event_type AS next_type, lag(event_type) OVER ("
    "PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type FROM ev) "
    "SELECT prev_type, next_type, count(*)::BIGINT AS n_trans FROM lg "
    "WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type"
)
ORACLES["events_concurrency"] = (
    "WITH ev AS (SELECT event_type, epoch_us(ts) // 1000000 AS t FROM events), "
    "b AS (SELECT event_type, t AS x, 1 AS d FROM ev "
    f"UNION ALL SELECT event_type, t + {CONCURRENCY_HOLD_S}, -1 FROM ev), "
    "sw AS (SELECT event_type, sum(d) OVER (PARTITION BY event_type "
    "ORDER BY x, d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur "
    "FROM b) "
    "SELECT event_type, max(cur)::BIGINT AS max_concurrent FROM sw "
    "GROUP BY event_type"
)
ORACLES["events_resample_ffill"] = (
    "WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, "
    "epoch_us(ts) // 86400000000 AS d, "
    "round(value * 100)::BIGINT AS cents FROM events), "
    "span AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM ev "
    "GROUP BY user_id), "
    "grid AS (SELECT user_id, unnest(generate_series(d0, d1)) AS d FROM span), "
    "daily AS (SELECT user_id, d, cents FROM ("
    "SELECT user_id, d, cents, row_number() OVER (PARTITION BY user_id, d "
    "ORDER BY ts_us DESC, event_id DESC) AS rn FROM ev) WHERE rn = 1) "
    "SELECT g.user_id, g.d, "
    "CASE WHEN daily.cents IS NULL THEN 0 ELSE 1 END AS has_event, "
    "last_value(daily.cents IGNORE NULLS) OVER (PARTITION BY g.user_id "
    "ORDER BY g.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
    "AS filled_cents "
    "FROM grid g LEFT JOIN daily ON g.user_id = daily.user_id AND g.d = daily.d"
)


# ---------------------------------------------------------------------------
# mergeable histogram quantile sketch

#: fixed bounds/width make the sketch MERGEABLE: every partition can build
#: its 256-bin histogram map-side and the merge is elementwise addition —
#: the scale path when an exact `percentile` (full sort / large state per
#: group) is too expensive. o_totalprice at any TPC-H SF lies well inside
#: [0, 700k); out-of-range values clamp into the edge bins.
QSKETCH_LO = 0.0
QSKETCH_HI = 700_000.0
QSKETCH_BINS = 256
QSKETCH_WIDTH = (QSKETCH_HI - QSKETCH_LO) / QSKETCH_BINS
QSKETCH_QS = (0.5, 0.9, 0.99)


def q_rel_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles from a fixed-width histogram sketch over
    orders.o_totalprice: assign each value to one of ``QSKETCH_BINS``
    equi-width bins, aggregate bin counts (map-side combinable — the only
    shuffle moves ≤256 rows), then estimate P50/P90/P99 by linear
    interpolation inside the first bin whose cumulative count reaches
    q·N.  Unlike the exact ``rel_quantiles`` (which sorts), this is the
    100 TB path: one narrow pass, constant-size state, mergeable across
    partitions/days.  Every arithmetic step (bin assignment, cumulative
    window over ≤256 rows, interpolation) is float-deterministic and
    mirrored in the oracle, so the ESTIMATES match bit-for-bit, not just
    approximately."""
    o = load_table(spark, sf_dir, "orders")
    binned = o.select(
        F.least(
            F.lit(QSKETCH_BINS - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("o_totalprice") - QSKETCH_LO)
                    / (QSKETCH_HI - QSKETCH_LO)
                    * QSKETCH_BINS
                ),
            ),
        )
        .cast("long")
        .alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    # cumulative over the ≤256-row histogram: the single-partition window is
    # bounded by BINS, not by data size — safe at any scale
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bin"))
    )
    tot = hist.agg(F.sum("cnt").cast("long").alias("n"))
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in QSKETCH_QS])).alias("q")
    )
    cand = (
        qs.crossJoin(F.broadcast(tot))
        .join(cum, F.col("cum") >= F.col("q") * F.col("n"))
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("q").orderBy("bin")),
        )
        .filter(F.col("rn") == 1)
    )
    return cand.select(
        "q",
        "bin",
        F.round(
            F.lit(QSKETCH_LO)
            + F.lit(QSKETCH_WIDTH) * F.col("bin")
            + F.lit(QSKETCH_WIDTH)
            * (F.col("q") * F.col("n") - (F.col("cum") - F.col("cnt")))
            / F.col("cnt"),
            6,
        ).alias("est"),
    )


QUERIES["rel_quantile_sketch"] = q_rel_quantile_sketch
ORACLES["rel_quantile_sketch"] = (
    "WITH b AS (SELECT least("
    f"{QSKETCH_BINS - 1}, greatest(0, floor((o_totalprice - {QSKETCH_LO}) "
    f"/ ({QSKETCH_HI} - {QSKETCH_LO}) * {QSKETCH_BINS})))::BIGINT AS bin "
    "FROM orders), "
    "c AS (SELECT bin, count(*)::BIGINT AS cnt FROM b GROUP BY bin), "
    "cc AS (SELECT bin, cnt, "
    "(sum(cnt) OVER (ORDER BY bin))::BIGINT AS cum FROM c), "
    "t AS (SELECT sum(cnt)::BIGINT AS n FROM c), "
    "qs AS (SELECT unnest(["
    + ", ".join(f"{q}::DOUBLE" for q in QSKETCH_QS)
    + "]) AS q), "
    "cand AS (SELECT q, bin, cnt, cum, n, "
    "row_number() OVER (PARTITION BY q ORDER BY bin) AS rn "
    "FROM qs CROSS JOIN t JOIN cc ON cum >= q * n) "
    f"SELECT q, bin, round({QSKETCH_LO} + {QSKETCH_WIDTH} * bin "
    f"+ {QSKETCH_WIDTH} * (q * n - (cum - cnt)) / cnt, 6) AS est "
    "FROM cand WHERE rn = 1"
)


# ---------------------------------------------------------------------------
# CUSUM changepoint / drift detection


def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift statistic over daily event counts per type —
    the pipeline-monitoring changepoint detector (C_t = max(0,
    C_{t-1} + (x_t − mean)); a sustained upward shift accumulates instead
    of averaging away).  Day key is the epoch-day integer, baseline is the
    per-type mean over observed days.

    Spark computes C_t WITHOUT recursion via the prefix-sum identity
    C_t = S_t − min(0, min_{j≤t} S_j): two streaming windows per type
    (running sum, running min), no iteration, no UDF.  The oracle runs the
    textbook recursion itself (recursive CTE stepping day rank r → r+1) —
    a genuinely different algorithm agreeing value-for-value at round-6."""
    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.expr("ts_us div 86400000000").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    mean = daily.groupBy("event_type").agg(F.avg("n").alias("mean"))
    w = Window.partitionBy("event_type").orderBy("day")
    d = daily.join(mean, "event_type").withColumn(
        "_s", F.sum(F.col("n") - F.col("mean")).over(w)
    )
    d = d.withColumn("_smin", F.min("_s").over(w))
    return d.select(
        "event_type",
        "day",
        "n",
        F.round(F.col("_s") - F.least(F.col("_smin"), F.lit(0.0)), 6).alias(
            "cusum"
        ),
    )


QUERIES["events_cusum"] = q_events_cusum
ORACLES["events_cusum"] = (
    "WITH RECURSIVE daily AS (SELECT event_type, "
    "epoch_us(ts) // 86400000000 AS day, count(*)::BIGINT AS n "
    "FROM events GROUP BY 1, 2), "
    "m AS (SELECT event_type, avg(n) AS mean FROM daily GROUP BY 1), "
    "d AS (SELECT daily.event_type, day, n, n - mean AS dev, "
    "row_number() OVER (PARTITION BY daily.event_type ORDER BY day) AS r "
    "FROM daily JOIN m USING (event_type)), "
    "c AS (SELECT event_type, day, n, r, greatest(0.0, dev) AS cusum "
    "FROM d WHERE r = 1 "
    "UNION ALL "
    "SELECT d.event_type, d.day, d.n, d.r, "
    "greatest(0.0, c.cusum + d.dev) "
    "FROM c JOIN d ON d.event_type = c.event_type AND d.r = c.r + 1) "
    "SELECT event_type, day, n, round(cusum, 6) AS cusum FROM c"
)


# ---- multi-touch attribution ----------------------------------------------

ATTR_WINDOW_S = 604800  # 7-day lookback
#: (t, event_id) packed into one BIGINT so first/last click resolve via
#: plain integer min/max inside the RANGE frame — no join-back, no argmin
#: tie ambiguity (event_id disambiguates equal timestamps identically in
#: both engines). Bounds: t < 2^32 (epoch seconds to year 2106) and
#: event_id < 2^31 keep t*2^31 + id < 2^63; an id >= 2^31 would bleed into
#: the timestamp field and silently mis-rank, so the width is part of the
#: contract (at larger id spaces, re-derive compact ids first).
_ATTR_ENC = 1 << 31


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch marketing attribution: for every purchase, the
    earliest and latest click of the same user within the 7-day lookback,
    plus the touch count (the linear-attribution denominator).

    Scale shape: ONE shuffle on user_id — a RANGE frame over event time
    computes min/max/count of the encoded click key while streaming the
    partition sort; purchases filter afterwards.  No purchase x click
    inequality join anywhere."""
    ev = load_events(spark, sf_dir).select("event_id", "user_id", "event_type", "t")
    enc = F.when(
        F.col("event_type") == "click",
        F.col("t") * F.lit(_ATTR_ENC) + F.col("event_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t").asc())
        .rangeBetween(-ATTR_WINDOW_S, Window.currentRow)
    )
    return (
        ev.withColumn("_first", F.min(enc).over(w))
        .withColumn("_last", F.max(enc).over(w))
        .withColumn("n_touches", F.count(enc).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            (F.col("_first") % F.lit(_ATTR_ENC)).alias("first_click_id"),
            (F.col("_last") % F.lit(_ATTR_ENC)).alias("last_click_id"),
            "n_touches",
        )
    )


QUERIES["events_attribution"] = q_events_attribution
ORACLES["events_attribution"] = (
    "WITH ev AS (SELECT event_id, user_id, event_type, "
    "floor(epoch(ts))::BIGINT AS t FROM events), "
    "x AS (SELECT event_id, user_id, event_type, t, "
    f"CASE WHEN event_type = 'click' THEN t * {_ATTR_ENC} + event_id END AS enc "
    "FROM ev), "
    "f AS (SELECT event_id, user_id, event_type, "
    "min(enc) OVER w AS fe, max(enc) OVER w AS le, count(enc) OVER w AS n "
    "FROM x WINDOW w AS (PARTITION BY user_id ORDER BY t ASC "
    f"RANGE BETWEEN {ATTR_WINDOW_S} PRECEDING AND CURRENT ROW)) "
    "SELECT event_id AS purchase_id, user_id, "
    f"fe % {_ATTR_ENC} AS first_click_id, le % {_ATTR_ENC} AS last_click_id, "
    "n AS n_touches FROM f WHERE event_type = 'purchase'"
)


# ---- forecast baselines ----------------------------------------------------

_FC_MODELS = [("naive", 86400), ("snaive", 604800)]  # lag-1-day, lag-7-day


def q_events_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline evaluation over the daily event-count series: the
    naive (yesterday's count) and seasonal-naive (same weekday last week)
    predictors scored by MAE per event type — the sanity floor any real
    forecasting deployment must beat (public M-competition practice).
    Calendar lags are equi-joins on (type, day - offset), so days missing
    from the series simply don't score (no imputation).

    Scale shape: the daily aggregate is one partial-agg shuffle; each
    model's lag is a self-equi-join of the tiny (type, day) relation; MAE
    sums are exact integers until the final divide."""
    ev = load_events(spark, sf_dir)
    c = ev.groupBy(
        "event_type",
        F.expr("t div 86400").alias("day"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    outs = []
    for model, off in _FC_MODELS:
        days = off // 86400
        pred = c.select(
            "event_type",
            (F.col("day") + F.lit(days)).alias("day"),
            F.col("cnt").alias("pred"),
        )
        outs.append(
            c.join(pred, ["event_type", "day"])
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_days"),
                F.round(F.avg(F.abs(F.col("cnt") - F.col("pred"))), 6).alias("mae"),
            )
            .select("event_type", F.lit(model).alias("model"), "n_days", "mae")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


QUERIES["events_forecast_eval"] = q_events_forecast_eval
_FC_PARTS = []
for _m, _off in _FC_MODELS:
    _d = _off // 86400
    _FC_PARTS.append(
        "SELECT c.event_type, '" + _m + "' AS model, "
        "count(*)::BIGINT AS n_days, "
        "round(avg(abs(c.cnt - p.cnt)), 6) AS mae "
        "FROM c JOIN c p ON c.event_type = p.event_type "
        f"AND c.day = p.day + {_d} GROUP BY c.event_type"
    )
ORACLES["events_forecast_eval"] = (
    "WITH c AS (SELECT event_type, floor(epoch(ts))::BIGINT // 86400 AS day, "
    "count(*)::BIGINT AS cnt FROM events GROUP BY 1, 2) "
    + " UNION ALL ".join(_FC_PARTS)
)


# ---- EWMA smoothing ---------------------------------------------------------

EWMA_ALPHA = 0.3


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of the daily event-count
    series per type (the classic monitoring smoother): the recursion
    ewma_d = α·x_d + (1-α)·ewma_{d-1}, seeded ewma_first = x_first, written
    in closed form so both engines compute the identical weighted sum —
    weight(d', d) = (1-α)^(d-d') · (α, or 1 for the seed day). Calendar
    gaps keep decaying (exponent is the day difference, not the row lag).

    Scale shape: the daily aggregate is one partial-agg shuffle; the
    weighted sum is a type-keyed equi self-join of the (type, day) relation
    — bounded by the calendar horizon squared per type, never by event
    volume. A production streaming deployment would carry the recursion as
    per-key state; this batch form is its replayable equivalent."""
    ev = load_events(spark, sf_dir)
    c = ev.groupBy(
        "event_type", F.expr("t div 86400").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    first = c.groupBy("event_type").agg(F.min("day").alias("day0"))
    hist = c.select(
        "event_type", F.col("day").alias("dp"), F.col("cnt").alias("xp")
    )
    w = (
        c.join(hist, "event_type")
        .filter(F.col("dp") <= F.col("day"))
        .join(F.broadcast(first), "event_type")
        .select(
            "event_type",
            "day",
            "cnt",
            (
                F.pow(F.lit(1.0 - EWMA_ALPHA), F.col("day") - F.col("dp"))
                * F.when(F.col("dp") == F.col("day0"), F.lit(1.0)).otherwise(
                    F.lit(EWMA_ALPHA)
                )
                * F.col("xp")
            ).alias("term"),
        )
    )
    return w.groupBy("event_type", "day", "cnt").agg(
        F.round(F.sum("term"), 6).alias("ewma")
    )


QUERIES["events_ewma"] = q_events_ewma
ORACLES["events_ewma"] = (
    "WITH c AS (SELECT event_type, floor(epoch(ts))::BIGINT // 86400 AS day, "
    "count(*)::BIGINT AS cnt FROM events GROUP BY 1, 2), "
    "f AS (SELECT event_type, min(day) AS day0 FROM c GROUP BY event_type) "
    "SELECT c.event_type, c.day, c.cnt, "
    f"round(sum(pow({1.0 - EWMA_ALPHA}, c.day - p.day) "
    f"* CASE WHEN p.day = f.day0 THEN 1.0 ELSE {EWMA_ALPHA} END "
    "* p.cnt), 6) AS ewma "
    "FROM c JOIN c p ON c.event_type = p.event_type AND p.day <= c.day "
    "JOIN f ON f.event_type = c.event_type "
    "GROUP BY c.event_type, c.day, c.cnt"
)


# ---- CEP-style sequence pattern matching ------------------------------------

#: regex patterns over the per-user event-initial string (event types start
#: with distinct letters: e,v,c,s,p). Both engines count non-overlapping
#: leftmost matches (Java Matcher.find == RE2 extract_all semantics for
#: these constructs).
PATTERN_FUNNEL = "vc*p"      # view, any clicks, purchase — contiguous funnel
PATTERN_ERROR_BURST = "e{2,}"  # runs of consecutive errors


def q_events_pattern_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-shaped complex-event detection, Spark-first: each
    user's timeline collapses to an ordered event-initial string (one
    groupBy shuffle; array_sort over (ts, id, initial) structs makes the
    order total), and sequence patterns become ordinary regexes counted
    JVM-side — contiguous view→clicks→purchase funnels and error bursts
    here. Sequences are bounded by per-user event counts (the sessionize
    assumption), so the state is a string, not a join."""
    ev = load_events(spark, sf_dir)
    init = F.substring("event_type", 1, 1)
    seq = F.concat_ws(
        "",
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts_us", "event_id", init.alias("c")))
            ),
            lambda x: x["c"],
        ),
    )
    return ev.groupBy("user_id").agg(
        F.length(seq).cast("long").alias("seq_len"),
        F.regexp_count(seq, F.lit(PATTERN_FUNNEL)).cast("long").alias(
            "n_funnels"
        ),
        F.regexp_count(seq, F.lit(PATTERN_ERROR_BURST)).cast("long").alias(
            "n_error_bursts"
        ),
    )


QUERIES["events_pattern_regex"] = q_events_pattern_regex
ORACLES["events_pattern_regex"] = (
    "WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, "
    "substr(event_type, 1, 1) AS c FROM events), "
    "s AS (SELECT user_id, string_agg(c, '' ORDER BY ts_us, event_id) "
    "AS seq FROM ev GROUP BY user_id) "
    "SELECT user_id, length(seq)::BIGINT AS seq_len, "
    f"len(regexp_extract_all(seq, '{PATTERN_FUNNEL}'))::BIGINT AS n_funnels, "
    f"len(regexp_extract_all(seq, '{PATTERN_ERROR_BURST}'))::BIGINT "
    "AS n_error_bursts FROM s"
)


# ---- two-sample statistics ---------------------------------------------------

TTEST_A, TTEST_B = "click", "view"


def q_events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two event types' value
    distributions — the A/B-experiment readout: per-group n/mean/variance
    from one aggregate pass, then the t statistic and Welch–Satterthwaite
    degrees of freedom as closed-form column math. Sample variance uses the
    sum-of-squares identity on exact double sums; every output is rounded
    under the shared convention."""
    ev = load_events(spark, sf_dir)
    g = (
        ev.filter(F.col("event_type").isin(TTEST_A, TTEST_B))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value").alias("s"),
            F.sum(F.col("value") * F.col("value")).alias("ss"),
        )
    )
    a = g.filter(F.col("event_type") == TTEST_A).select(
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("ss").alias("ssa")
    )
    b = g.filter(F.col("event_type") == TTEST_B).select(
        F.col("n").alias("nb"), F.col("s").alias("sb"), F.col("ss").alias("ssb")
    )
    j = a.crossJoin(F.broadcast(b))  # two 1-row sides — scalar attach
    ma, mb = F.col("sa") / F.col("na"), F.col("sb") / F.col("nb")
    va = (F.col("ssa") - F.col("sa") * F.col("sa") / F.col("na")) / (
        F.col("na") - 1
    )
    vb = (F.col("ssb") - F.col("sb") * F.col("sb") / F.col("nb")) / (
        F.col("nb") - 1
    )
    sea, seb = va / F.col("na"), vb / F.col("nb")
    t = (ma - mb) / F.sqrt(sea + seb)
    dof = (sea + seb) * (sea + seb) / (
        sea * sea / (F.col("na") - 1) + seb * seb / (F.col("nb") - 1)
    )
    return j.select(
        F.col("na"),
        F.col("nb"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 6).alias("welch_df"),
    )


QUERIES["events_welch_ttest"] = q_events_welch_ttest
ORACLES["events_welch_ttest"] = (
    "WITH g AS (SELECT event_type, count(*)::BIGINT AS n, sum(value) AS s, "
    "sum(value * value) AS ss FROM events "
    f"WHERE event_type IN ('{TTEST_A}', '{TTEST_B}') GROUP BY event_type), "
    f"a AS (SELECT n AS na, s AS sa, ss AS ssa FROM g "
    f"WHERE event_type = '{TTEST_A}'), "
    f"b AS (SELECT n AS nb, s AS sb, ss AS ssb FROM g "
    f"WHERE event_type = '{TTEST_B}'), "
    "x AS (SELECT na, nb, sa / na AS ma, sb / nb AS mb, "
    "((ssa - sa * sa / na) / (na - 1)) / na AS sea, "
    "((ssb - sb * sb / nb) / (nb - 1)) / nb AS seb FROM a, b) "
    "SELECT na, nb, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b, "
    "round((ma - mb) / sqrt(sea + seb), 6) AS t_stat, "
    "round((sea + seb) * (sea + seb) / "
    "(sea * sea / (na - 1) + seb * seb / (nb - 1)), 6) AS welch_df FROM x"
)


# ---- Benford first-digit screen ---------------------------------------------

def q_rel_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit screen over order totals —
    the classic forensic-accounting / data-quality check: observed digit
    frequencies vs log10(1 + 1/d) expectation and the chi-square distance,
    one scan + a 9-row aggregate. Digit extraction is string-based
    (first char of the integer part) so both engines agree exactly."""
    from giranking_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("int")
    counts = o.select(d.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs")
    )
    tot = counts.agg(F.sum("n_obs").alias("t"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs") / F.col("t"), 6).alias("p_obs"),
            F.round(
                F.log10(1.0 + 1.0 / F.col("digit")), 6
            ).alias("p_benford"),
            F.round(
                F.pow(
                    F.col("n_obs") / F.col("t")
                    - F.log10(1.0 + 1.0 / F.col("digit")),
                    F.lit(2.0),
                )
                / F.log10(1.0 + 1.0 / F.col("digit")),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


QUERIES["rel_benford_digits"] = q_rel_benford_digits
ORACLES["rel_benford_digits"] = (
    "WITH o AS (SELECT substr(o_totalprice::DECIMAL(18,2)::VARCHAR, 1, 1)"
    "::INT AS digit FROM orders WHERE o_totalprice > 0), "
    "c AS (SELECT digit, count(*)::BIGINT AS n_obs FROM o GROUP BY digit), "
    "t AS (SELECT sum(n_obs) AS t FROM c) "
    "SELECT digit, n_obs, round(n_obs / t, 6) AS p_obs, "
    "round(log10(1.0 + 1.0 / digit), 6) AS p_benford, "
    "round(pow(n_obs / t - log10(1.0 + 1.0 / digit), 2) "
    "/ log10(1.0 + 1.0 / digit), 6) AS chi2_term "
    "FROM c, t ORDER BY digit"
)


# ---- RFM segmentation ---------------------------------------------------------

RFM_BUCKETS = 5


def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (the classic marketing-analytics cut):
    per user, Recency (seconds from last purchase to the corpus horizon),
    Frequency (purchase count), Monetary (value sum), each scored into
    RFM_BUCKETS quintiles by ntile — ordering totalized with a user_id
    tie-break so both engines bucket identically (ntile's
    equal-buckets-remainder-first definition matches across engines).
    One aggregate + three vocabulary-sized windows over the per-user
    relation — never the raw event volume."""
    ev = load_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    horizon = ev.agg(F.max("ts_us").alias("h"))
    per = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts_us").alias("last_us"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.round(F.sum("value"), 6).alias("monetary"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            F.expr("(h - last_us) div 1000000").alias("recency_s"),
            "freq",
            "monetary",
        )
    )
    r = F.ntile(RFM_BUCKETS).over(
        Window.orderBy(F.col("recency_s").asc(), F.col("user_id").asc())
    )
    f = F.ntile(RFM_BUCKETS).over(
        Window.orderBy(F.col("freq").desc(), F.col("user_id").asc())
    )
    m = F.ntile(RFM_BUCKETS).over(
        Window.orderBy(F.col("monetary").desc(), F.col("user_id").asc())
    )
    return per.select(
        "user_id",
        "recency_s",
        "freq",
        "monetary",
        r.cast("long").alias("r_score"),
        f.cast("long").alias("f_score"),
        m.cast("long").alias("m_score"),
    )


QUERIES["events_rfm"] = q_events_rfm
ORACLES["events_rfm"] = (
    "WITH p AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events "
    "WHERE event_type = 'purchase'), "
    "h AS (SELECT max(ts_us) AS h FROM p), "
    "per AS (SELECT user_id, (h - max(ts_us)) // 1000000 AS recency_s, "
    "count(*)::BIGINT AS freq, round(sum(value), 6) AS monetary "
    "FROM p, h GROUP BY user_id, h) "
    "SELECT user_id, recency_s, freq, monetary, "
    f"ntile({RFM_BUCKETS}) OVER (ORDER BY recency_s ASC, user_id ASC)"
    "::BIGINT AS r_score, "
    f"ntile({RFM_BUCKETS}) OVER (ORDER BY freq DESC, user_id ASC)"
    "::BIGINT AS f_score, "
    f"ntile({RFM_BUCKETS}) OVER (ORDER BY monetary DESC, user_id ASC)"
    "::BIGINT AS m_score FROM per"
)


# ---- Holt's linear-trend smoothing ------------------------------------------

HOLT_ALPHA = 0.5   # level smoothing — shared literal with the oracle
HOLT_BETA = 0.3    # trend smoothing


def q_events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend smoothing of the per-type daily count series,
    with a one-step-ahead forecast-accuracy readout (sum |err| for Holt vs
    the naive last-value forecast) — the standard capacity-planning
    smoother one notch above events_ewma.

    The recursion l_t = α·x_t + (1-α)(l_{t-1}+b_{t-1}),
    b_t = β(l_t − l_{t-1}) + (1-β)b_{t-1} is inherently sequential — the
    Spark expression is a JVM higher-order ``aggregate`` fold over the
    per-type ordered daily array (bounded by the calendar horizon, never
    event volume; zero Python, one partial-agg shuffle + one type-keyed
    collect). The DuckDB oracle replays the identical double arithmetic
    with a recursive CTE in the same order, so the floats match bit for
    bit and round(6) is stable."""
    ev = load_events(spark, sf_dir)
    c = ev.groupBy(
        "event_type", F.expr("t div 86400").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    arr = c.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "cnt"))),
            lambda s: s["cnt"].cast("double"),
        ).alias("xs")
    )
    a, b1 = HOLT_ALPHA, HOLT_BETA
    fold = F.expr(
        "aggregate("
        " slice(xs, 2, size(xs) - 1),"
        " named_struct("
        "   'l', cast(xs[0] as double), 'b', cast(0.0 as double),"
        "   'prev', cast(xs[0] as double), 'eh', cast(0.0 as double),"
        "   'en', cast(0.0 as double), 'n', cast(0 as bigint)),"
        " (acc, x) -> named_struct("
        f"   'l', {a} * x + {1.0 - a} * (acc.l + acc.b),"
        f"   'b', {b1} * (({a} * x + {1.0 - a} * (acc.l + acc.b)) - acc.l)"
        f"        + {1.0 - b1} * acc.b,"
        "   'prev', x,"
        "   'eh', acc.eh + abs(x - (acc.l + acc.b)),"
        "   'en', acc.en + abs(x - acc.prev),"
        "   'n', acc.n + cast(1 as bigint)),"
        " acc -> acc)"
    )
    return arr.select(
        "event_type",
        F.size("xs").cast("long").alias("n_days"),
        fold.alias("_f"),
    ).select(
        "event_type",
        "n_days",
        F.round(F.col("_f.l"), 6).alias("level"),
        F.round(F.col("_f.b"), 6).alias("trend"),
        F.round(F.col("_f.eh"), 6).alias("abs_err_holt"),
        F.round(F.col("_f.en"), 6).alias("abs_err_naive"),
    )


QUERIES["events_holt_winters"] = q_events_holt_winters
ORACLES["events_holt_winters"] = f"""
WITH RECURSIVE c AS (
    SELECT event_type, floor(epoch(ts))::BIGINT // 86400 AS day,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
),
s AS (
    SELECT event_type, cnt::DOUBLE AS x,
           row_number() OVER (PARTITION BY event_type ORDER BY day) - 1
               AS idx,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM c
),
r AS (
    SELECT event_type, idx, n, x AS l, 0.0::DOUBLE AS b, x AS prev,
           0.0::DOUBLE AS eh, 0.0::DOUBLE AS en
    FROM s WHERE idx = 0
    UNION ALL
    SELECT s.event_type, s.idx, s.n,
           {HOLT_ALPHA}e0 * s.x + {1.0 - HOLT_ALPHA}e0 * (r.l + r.b),
           {HOLT_BETA}e0 * (({HOLT_ALPHA}e0 * s.x
               + {1.0 - HOLT_ALPHA}e0 * (r.l + r.b)) - r.l)
               + {1.0 - HOLT_BETA}e0 * r.b,
           s.x,
           r.eh + abs(s.x - (r.l + r.b)),
           r.en + abs(s.x - r.prev)
    FROM r JOIN s ON s.event_type = r.event_type AND s.idx = r.idx + 1
)
SELECT event_type, n::BIGINT AS n_days, round(l, 6) AS level,
       round(b, 6) AS trend, round(eh, 6) AS abs_err_holt,
       round(en, 6) AS abs_err_naive
FROM r WHERE idx = n - 1
"""


# ---- seasonal (day-of-week) anomaly screen ----------------------------------

#: z-threshold for the seasonal anomaly flag (integerized: the comparison
#: runs as (n·x − s)² > K²·(n·q − s²) — no mean, no sqrt, no float anywhere)
ANOM_K = 2


def q_events_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal anomaly screen over the per-type daily count
    series: each (type, weekday) forms its own baseline, and a day flags
    when it sits more than K σ from its weekday mean — the screen that
    catches 'this Tuesday is unlike other Tuesdays' where a global
    baseline sees nothing.

    Exactness: with s = Σx, q = Σx², n per (type, dow), the test
    |x − s/n| > K·σ is algebraically (n·x − s)² > K²·(n·q − s²) — pure
    BIGINT arithmetic, no division/sqrt, so both engines agree exactly.
    One partial-agg shuffle to days, one broadcast-sized baseline join."""
    ev = load_events(spark, sf_dir)
    c = ev.groupBy(
        "event_type", F.expr("t div 86400").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    c = c.withColumn("dow", F.col("day") % 7)
    base = c.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("q"),
    )
    j = c.join(F.broadcast(base), ["event_type", "dow"])
    lhs = (F.col("n") * F.col("cnt") - F.col("s"))
    rhs = F.lit(ANOM_K * ANOM_K) * (
        F.col("n") * F.col("q") - F.col("s") * F.col("s")
    )
    return j.select(
        "event_type",
        "day",
        "cnt",
        F.col("n").alias("n_base"),
        (lhs * lhs > rhs).alias("is_anomaly"),
    )


QUERIES["events_anomaly_seasonal"] = q_events_anomaly_seasonal
ORACLES["events_anomaly_seasonal"] = f"""
WITH c AS (
    SELECT event_type, floor(epoch(ts))::BIGINT // 86400 AS day,
           count(*)::BIGINT AS cnt
    FROM events GROUP BY 1, 2
),
d AS (SELECT *, day % 7 AS dow FROM c),
b AS (
    SELECT event_type, dow, count(*)::BIGINT AS n,
           CAST(sum(cnt) AS BIGINT) AS s,
           CAST(sum(cnt * cnt) AS BIGINT) AS q
    FROM d GROUP BY 1, 2
)
SELECT d.event_type, d.day, d.cnt, b.n AS n_base,
       (b.n * d.cnt - b.s) * (b.n * d.cnt - b.s)
           > {ANOM_K * ANOM_K} * (b.n * b.q - b.s * b.s) AS is_anomaly
FROM d JOIN b ON d.event_type = b.event_type AND d.dow = b.dow
"""


# ---- difference-in-differences A/B readout ----------------------------------

DID_SPLIT_DAY = 15  # days past the corpus start where "treatment" begins


def q_events_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on per-user daily activity: variant = the
    deterministic user hash split, period = before/after DID_SPLIT_DAY;
    the causal readout is (Ā_after − Ā_before) − (B̄_after − B̄_before)
    over per-user-day event counts. Every cell mean is an exact integer
    sum over an exact integer count, so the four means — and the DiD
    itself, derived from them with identical arithmetic — match
    bit-for-bit cross-engine. One aggregate pass; the 2×2 readout is a
    broadcast-sized pivot."""
    ev = load_events(spark, sf_dir)
    c = ev.groupBy(
        (F.col("user_id") % 2 == 0).alias("treat"),
        F.expr("t div 86400").alias("day"),
        "user_id",
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    day0 = c.agg(F.min("day").alias("d0"))
    cells = (
        c.crossJoin(F.broadcast(day0))
        .select(
            "treat",
            (F.col("day") - F.col("d0") >= DID_SPLIT_DAY).alias("after"),
            "cnt",
        )
        .groupBy("treat", "after")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cnt").cast("long").alias("s"),
        )
        .withColumn("mean", F.col("s") / F.col("n"))
    )
    def cell(treat: bool, after: bool):
        cond = (F.col("treat") == treat) & (F.col("after") == after)
        return F.max(F.when(cond, F.col("mean")))

    label = F.concat(
        F.when(F.col("treat"), F.lit("treat")).otherwise(F.lit("control")),
        F.when(F.col("after"), F.lit("_after")).otherwise(F.lit("_before")),
    )
    did = cells.agg(
        F.round(
            (cell(True, True) - cell(True, False))
            - (cell(False, True) - cell(False, False)),
            6,
        ).alias("mean")
    ).select(
        F.lit("did").alias("cell"),
        F.lit(-1).cast("long").alias("n"),
        F.lit(-1).cast("long").alias("s"),
        "mean",
    )
    return cells.select(
        label.alias("cell"), "n", "s", F.round("mean", 6).alias("mean")
    ).unionByName(did)


QUERIES["events_did"] = q_events_did
ORACLES["events_did"] = f"""
WITH c AS (
    SELECT user_id % 2 = 0 AS treat,
           floor(epoch(ts))::BIGINT // 86400 AS day, user_id,
           count(*)::BIGINT AS cnt
    FROM events GROUP BY 1, 2, 3
),
d0 AS (SELECT min(day) AS d0 FROM c),
cells AS (
    SELECT treat, (day - d0 >= {DID_SPLIT_DAY}) AS after,
           count(*)::BIGINT AS n, CAST(sum(cnt) AS BIGINT) AS s,
           CAST(sum(cnt) AS BIGINT) / count(*)::BIGINT AS mean
    FROM c, d0 GROUP BY 1, 2
)
SELECT (CASE WHEN treat THEN 'treat' ELSE 'control' END ||
        CASE WHEN after THEN '_after' ELSE '_before' END) AS cell,
       n, s, round(mean, 6) AS mean
FROM cells
UNION ALL
SELECT 'did', -1::BIGINT, -1::BIGINT,
       round((max(CASE WHEN treat AND after THEN mean END)
              - max(CASE WHEN treat AND NOT after THEN mean END))
             - (max(CASE WHEN NOT treat AND after THEN mean END)
                - max(CASE WHEN NOT treat AND NOT after THEN mean END)), 6)
FROM cells
"""


# ---- Kaplan-Meier survival (user-lifetime retention curve) ------------------

#: users whose last event falls in the final KM_CENSOR_TAIL days of the
#: corpus are right-censored (they may still be active)
KM_CENSOR_TAIL = 3


def q_events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over user lifetimes (days between first and
    last event; right-censored near the corpus edge): per distinct
    lifetime t, the at-risk count n_t, event count d_t, and the product-
    limit estimate S(t) = Π_{u<=t} (1 − d_u/n_u) — the standard retention
    curve with correct censoring, which a naive "% still active" readout
    gets wrong.

    The running product is inherently ordered — like the Holt fold it runs
    as a JVM ``aggregate`` over the lifetime-sorted array (bounded by the
    calendar horizon), and the oracle replays the identical multiply order
    in a recursive CTE, so the doubles match bit for bit. Everything
    upstream is exact integers; the at-risk counts come from one
    ~horizon-sized suffix-sum window."""
    ev = load_events(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.min(F.expr("t div 86400")).alias("f"),
        F.max(F.expr("t div 86400")).alias("l"),
    )
    mx = u.agg(F.max("l").alias("mx"))
    per = u.crossJoin(F.broadcast(mx)).select(
        (F.col("l") - F.col("f")).alias("lt"),
        (F.col("mx") - F.col("l") < KM_CENSOR_TAIL).alias("cens"),
    )
    lts = per.groupBy("lt").agg(
        F.sum((~F.col("cens")).cast("long")).alias("d"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    # UNBOUNDED FOLLOWING frames are O(rows^2) in Spark (see
    # rel_skyline_2d) — safe HERE ONLY because this relation is distinct
    # user lifetimes in DAYS, bounded by the observation window (~35 rows
    # at any corpus size), not by corpus cardinality
    w = Window.orderBy("lt").rowsBetween(0, Window.unboundedFollowing)
    lts = lts.withColumn("n", F.sum("m").over(w).cast("long"))
    arr = lts.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("lt", "d", "n"))
        ).alias("xs")
    )
    acc_t = (
        "array<struct<lt: bigint, n: bigint, d: bigint, s: double>>"
    )
    fold = F.expr(
        "aggregate(xs, "
        f"named_struct('s', cast(1.0 as double), 'out', cast(array() as {acc_t})), "
        "(acc, x) -> named_struct("
        "  's', acc.s * (1.0 - x.d / x.n),"
        "  'out', array_append(acc.out, named_struct("
        "    'lt', x.lt, 'n', x.n, 'd', x.d,"
        "    's', acc.s * (1.0 - x.d / x.n)))), "
        "acc -> acc.out)"
    )
    return arr.select(F.explode(fold).alias("r")).select(
        F.col("r.lt").alias("lifetime_days"),
        F.col("r.n").alias("n_risk"),
        F.col("r.d").alias("d_events"),
        F.round(F.col("r.s"), 6).alias("survival"),
    )


QUERIES["events_survival_km"] = q_events_survival_km
ORACLES["events_survival_km"] = f"""
WITH RECURSIVE u AS (
    SELECT user_id, min(floor(epoch(ts))::BIGINT // 86400) AS f,
           max(floor(epoch(ts))::BIGINT // 86400) AS l
    FROM events GROUP BY user_id
),
mx AS (SELECT max(l) AS mx FROM u),
per AS (SELECT l - f AS lt, (mx - l < {KM_CENSOR_TAIL}) AS cens FROM u, mx),
lts AS (
    SELECT lt, CAST(sum(CASE WHEN cens THEN 0 ELSE 1 END) AS BIGINT) AS d,
           count(*)::BIGINT AS m
    FROM per GROUP BY lt
),
s AS (
    SELECT lt, d,
           CAST(sum(m) OVER (ORDER BY lt ROWS BETWEEN CURRENT ROW AND
               UNBOUNDED FOLLOWING) AS BIGINT) AS n,
           row_number() OVER (ORDER BY lt) - 1 AS idx,
           count(*) OVER () AS cnt
    FROM lts
),
r AS (
    SELECT idx, cnt, lt, n, d, 1.0e0 * (1.0e0 - d / n) AS surv
    FROM s WHERE idx = 0
    UNION ALL
    SELECT s.idx, s.cnt, s.lt, s.n, s.d, r.surv * (1.0e0 - s.d / s.n)
    FROM r JOIN s ON s.idx = r.idx + 1
)
SELECT lt AS lifetime_days, n AS n_risk, d AS d_events,
       round(surv, 6) AS survival
FROM r
"""


# ---- association rules over per-user event-type baskets ---------------------


def q_events_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules a→b over per-user event-type baskets (support /
    confidence / lift — the market-basket readout): baskets are distinct
    (user, type) pairs, pairs come from a type-keyed self-join of the
    deduplicated basket relation (bounded by types² per user, never raw
    event volume). Counts are exact; confidence and lift are ratios of
    exact integers, so the doubles match cross-engine."""
    ev = load_events(spark, sf_dir)
    basket = ev.select("user_id", "event_type").distinct()
    n_users = basket.agg(
        F.countDistinct("user_id").cast("long").alias("_nu")
    )
    per_type = basket.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = basket.select("user_id", F.col("event_type").alias("a"))
    b = basket.select("user_id", F.col("event_type").alias("b"))
    ab = (
        a.join(b, "user_id")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    na = per_type.select(F.col("event_type").alias("a"), F.col("n").alias("n_a"))
    nb = per_type.select(F.col("event_type").alias("b"), F.col("n").alias("n_b"))
    return (
        ab.join(F.broadcast(na), "a")
        .join(F.broadcast(nb), "b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "a",
            "b",
            "n_a",
            "n_ab",
            F.round(F.col("n_ab") / F.col("n_a"), 6).alias("confidence"),
            F.round(
                (F.col("n_ab") * F.col("_nu"))
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


QUERIES["events_assoc_rules"] = q_events_assoc_rules
ORACLES["events_assoc_rules"] = """
WITH basket AS (SELECT DISTINCT user_id, event_type FROM events),
u AS (SELECT count(DISTINCT user_id) AS n_users FROM basket),
t AS (SELECT event_type, count(*)::BIGINT AS n FROM basket GROUP BY 1),
ab AS (
    SELECT x.event_type AS a, y.event_type AS b, count(*)::BIGINT AS n_ab
    FROM basket x JOIN basket y ON x.user_id = y.user_id
    WHERE x.event_type <> y.event_type
    GROUP BY 1, 2
)
SELECT ab.a, ab.b, ta.n AS n_a, ab.n_ab,
       round(ab.n_ab / ta.n, 6) AS confidence,
       round((ab.n_ab * u.n_users) / (ta.n * tb.n), 6) AS lift
FROM ab JOIN t ta ON ta.event_type = ab.a
        JOIN t tb ON tb.event_type = ab.b, u
"""


# ---- deterministic Poisson-bootstrap confidence interval --------------------

import math as _math  # noqa: E402

#: Poisson(1) inverse-CDF thresholds (cumulative P(X<=k), k = 0..3; weight
#: caps at 4) — shared double literals on both engines, so the hash-derived
#: resample weights are identical by construction (the RNG-free bootstrap:
#: Poisson resampling per Chamandy et al., "Estimating Uncertainty for
#: Massive Data Streams", Google TR 2012)
BOOT_CUM = (
    _math.exp(-1.0),
    2.0 * _math.exp(-1.0),
    2.5 * _math.exp(-1.0),
    2.5 * _math.exp(-1.0) + _math.exp(-1.0) / 6.0,
)
BOOT_B = 32  # resamples


def q_events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean event value WITHOUT any
    RNG: each of BOOT_B resamples weights every row by a Poisson(1) draw
    derived from the portable hash (inverse-CDF on hash/2³², literal
    thresholds) — deterministic, replayable, and embarrassingly parallel
    (the classic streaming-bootstrap trick for CIs over data too big to
    resample by shuffling). Per-resample sums are exact integers (cents ×
    small weights), so all 32 resample means are identical doubles
    cross-engine; the CI bounds are the 2nd-smallest / 2nd-largest means
    (~94% coverage at B=32). The 32-row rank window is bounded by B."""
    from giranking_spark.functions.hashing import md5_u32

    ev = load_events(spark, sf_dir).select(
        "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    fan = ev.select(
        "event_id",
        "cents",
        F.explode(
            F.array(*[F.lit(i) for i in range(BOOT_B)])
        ).alias("b"),
    )
    u = md5_u32(
        F.concat(F.lit("bs:"), F.col("b"), F.lit(":"), F.col("event_id"))
    ) / F.lit(4294967296.0)
    w = (
        F.when(u < BOOT_CUM[0], 0)
        .when(u < BOOT_CUM[1], 1)
        .when(u < BOOT_CUM[2], 2)
        .when(u < BOOT_CUM[3], 3)
        .otherwise(4)
        .cast("long")
    )
    means = (
        fan.select("b", (w * F.col("cents")).alias("wc"), w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum("wc").cast("long").alias("s"),
            F.sum("w").cast("long").alias("n"),
        )
        .select("b", (F.col("s") / F.col("n")).alias("m"))
    )
    rn = F.row_number().over(Window.orderBy(F.col("m").asc(), F.col("b").asc()))
    ranked = means.withColumn("rn", rn)
    full = ev.agg(
        (F.sum("cents") / F.count(F.lit(1))).alias("mean_full"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    ci = ranked.agg(
        F.max(F.when(F.col("rn") == 2, F.col("m"))).alias("lo"),
        F.max(F.when(F.col("rn") == BOOT_B - 1, F.col("m"))).alias("hi"),
    )
    return full.crossJoin(F.broadcast(ci)).select(
        "n_rows",
        F.lit(BOOT_B).cast("long").alias("n_resamples"),
        F.round("mean_full", 6).alias("mean_cents"),
        F.round("lo", 6).alias("ci_lo_cents"),
        F.round("hi", 6).alias("ci_hi_cents"),
    )


QUERIES["events_bootstrap_ci"] = q_events_bootstrap_ci

from giranking_spark.functions.hashing import md5_u32_sql_duckdb as _m32b  # noqa: E402

_BOOT_U = (
    "(" + _m32b("'bs:' || b || ':' || event_id") + " / 4294967296.0e0)"
)
ORACLES["events_bootstrap_ci"] = f"""
WITH ev AS (SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
            FROM events),
fan AS (SELECT ev.*, range::BIGINT AS b FROM ev, range(0, {BOOT_B})),
wtd AS (SELECT b, cents,
               CASE WHEN {_BOOT_U} < {BOOT_CUM[0]!r}e0 THEN 0
                    WHEN {_BOOT_U} < {BOOT_CUM[1]!r}e0 THEN 1
                    WHEN {_BOOT_U} < {BOOT_CUM[2]!r}e0 THEN 2
                    WHEN {_BOOT_U} < {BOOT_CUM[3]!r}e0 THEN 3
                    ELSE 4 END::BIGINT AS w
        FROM fan),
means AS (SELECT b, CAST(sum(w * cents) AS BIGINT) /
                 CAST(sum(w) AS BIGINT) AS m
          FROM wtd GROUP BY b),
ranked AS (SELECT m, row_number() OVER (ORDER BY m ASC, b ASC) AS rn
           FROM means),
allrows AS (SELECT CAST(sum(cents) AS BIGINT) / count(*)::BIGINT
                AS mean_full, count(*)::BIGINT AS n_rows FROM ev)
SELECT allrows.n_rows, {BOOT_B}::BIGINT AS n_resamples,
       round(allrows.mean_full, 6) AS mean_cents,
       round(max(CASE WHEN rn = 2 THEN m END), 6) AS ci_lo_cents,
       round(max(CASE WHEN rn = {BOOT_B - 1} THEN m END), 6) AS ci_hi_cents
FROM ranked, allrows
GROUP BY allrows.n_rows, allrows.mean_full
"""


# ---- Mann-Whitney U rank-sum test -------------------------------------------

def q_events_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between the two A/B event types'
    value distributions — the nonparametric sibling of events_welch_ttest
    (the readout experiment platforms prefer when values are skewed).

    Exact-parity construction: values go to integer cents first; ranks are
    computed per DISTINCT cent value (counts of smaller values + tie
    midpoint), so the big relation is touched by ONE aggregation and the
    rank table is value-cardinality-sized (bounded, window-safe). Doubled
    rank sums (2R = Σ n_a(v)·(2·cum_lt(v) + n(v) + 1)) keep every
    intermediate an exact BIGINT — the tie midpoint ½ never materializes —
    and only the final z statistic (tie-corrected normal approximation:
    sigma^2 = na*nb/12 * ((n+1) - sum(t^3-t)/(n*(n-1))); values are
    quantized to integer cents so ties are pervasive and the correction
    matters; both engines share the exact formula and operation order)
    rounds to 6 decimals."""
    ev = load_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    per_v = (
        ev.filter(F.col("event_type").isin(TTEST_A, TTEST_B))
        .select(F.col("event_type"), cents.alias("v"))
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("event_type") == TTEST_A, 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.count(F.lit(1)).cast("long").alias("n_all"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.select(
        "v",
        "n_a",
        "n_all",
        F.coalesce(F.sum("n_all").over(w), F.lit(0)).alias("cum_lt"),
    )
    agg = ranked.agg(
        F.sum("n_a").cast("long").alias("na"),
        (F.sum("n_all") - F.sum("n_a")).cast("long").alias("nb"),
        F.sum(
            F.col("n_a") * (2 * F.col("cum_lt") + F.col("n_all") + 1)
        ).cast("long").alias("r2_a"),
        F.sum(
            F.col("n_all") * F.col("n_all") * F.col("n_all") - F.col("n_all")
        ).cast("long").alias("tsum"),
    )
    na, nb, r2a = F.col("na"), F.col("nb"), F.col("r2_a")
    u2 = r2a - na * (na + 1)  # 2·U_a, exact
    # tie-corrected variance; 4*sigma^2 = na*nb/3 * ((n+1) - T/(n*(n-1)))
    n_tot = na + nb
    tie_term = F.col("tsum") / (n_tot * (n_tot - 1) * F.lit(1.0))
    z = (u2 - na * nb) / F.sqrt(
        na * nb * ((n_tot + 1) - tie_term) / F.lit(3.0)
    )
    return agg.select(
        na,
        nb,
        r2a,
        (u2 / 2.0).alias("u_stat"),
        F.round(z, 6).alias("z_stat"),
    )


QUERIES["events_mann_whitney"] = q_events_mann_whitney
ORACLES["events_mann_whitney"] = (
    "WITH per_v AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS v, "
    f"CAST(sum(CASE WHEN event_type = '{TTEST_A}' THEN 1 ELSE 0 END) AS BIGINT) AS n_a, "
    "count(*)::BIGINT AS n_all FROM events "
    f"WHERE event_type IN ('{TTEST_A}', '{TTEST_B}') GROUP BY 1), "
    "ranked AS (SELECT v, n_a, n_all, "
    "coalesce(sum(n_all) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING "
    "AND 1 PRECEDING), 0) AS cum_lt FROM per_v), "
    "agg AS (SELECT CAST(sum(n_a) AS BIGINT) AS na, "
    "CAST(sum(n_all) - sum(n_a) AS BIGINT) AS nb, "
    "CAST(sum(n_a * (2 * cum_lt + n_all + 1)) AS BIGINT) AS r2_a, "
    "CAST(sum(n_all * n_all * n_all - n_all) AS BIGINT) AS tsum FROM ranked) "
    "SELECT na, nb, r2_a, (r2_a - na * (na + 1)) / 2e0 AS u_stat, "
    "round((r2_a - na * (na + 1) - na * nb) / "
    "sqrt(na * nb * (((na + nb + 1) - tsum / "
    "((na + nb) * (na + nb - 1) * 1e0))) / 3e0), 6) AS z_stat FROM agg"
)


# ---- top-k navigation paths -------------------------------------------------

PATH_K = 20


def q_events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step navigation paths (the Sankey-diagram feed): per
    user timeline ordered by (ts_us, event_id), path = k₀>k₁>k₂ over the
    page ids of consecutive events; count each path corpus-wide and keep a
    DETERMINISTIC top-k (count desc, path asc). One user-partitioned
    window (the same shuffle the timeline derivation always costs) + one
    path aggregate; the top-k is a TakeOrdered, never a global sort."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    steps = (
        ev.select("user_id", "ts_us", "event_id", k.alias("k0"))
        .withColumn("k1", F.lead("k0").over(w))
        .withColumn("k2", F.lead("k0", 2).over(w))
        .filter(F.col("k1").isNotNull() & F.col("k2").isNotNull())
    )
    path = F.concat_ws(">", "k0", "k1", "k2")
    return (
        steps.select(path.alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(PATH_K)
    )


QUERIES["events_path_topk"] = q_events_path_topk
ORACLES["events_path_topk"] = (
    "WITH steps AS (SELECT user_id, "
    "json_extract(props, '$.k')::BIGINT AS k0, "
    "lead(json_extract(props, '$.k')::BIGINT) OVER w AS k1, "
    "lead(json_extract(props, '$.k')::BIGINT, 2) OVER w AS k2 "
    "FROM events WINDOW w AS "
    "(PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) "
    "SELECT k0 || '>' || k1 || '>' || k2 AS path, count(*)::BIGINT AS n "
    "FROM steps WHERE k1 IS NOT NULL AND k2 IS NOT NULL "
    f"GROUP BY 1 ORDER BY n DESC, path ASC LIMIT {PATH_K}"
)


# ---- gaps-and-islands activity streaks --------------------------------------

def q_events_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity streaks (classic gaps-and-islands): distinct
    active days per user; island id = day − row_number over the user's
    sorted days (constant within a consecutive run); outputs per user the
    island count, longest streak and total active days — the
    engagement-streak readout. The distinct is map-side combinable and
    the window rides the same user-keyed shuffle; everything is exact
    integers."""
    ev = load_events(spark, sf_dir)
    ud = ev.select("user_id", F.expr("t div 86400").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = ud.withColumn(
        "island", F.col("day") - F.row_number().over(w)
    )
    per_island = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    return per_island.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("len").cast("long").alias("longest_streak"),
        F.sum("len").cast("long").alias("active_days"),
    )


QUERIES["events_gaps_islands"] = q_events_gaps_islands
ORACLES["events_gaps_islands"] = (
    "WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 1000000 // 86400 "
    "AS day FROM events), "
    "isl AS (SELECT user_id, day - row_number() OVER "
    "(PARTITION BY user_id ORDER BY day) AS island FROM ud), "
    "per_island AS (SELECT user_id, island, count(*)::BIGINT AS len "
    "FROM isl GROUP BY 1, 2) "
    "SELECT user_id, count(*)::BIGINT AS n_streaks, "
    "max(len)::BIGINT AS longest_streak, sum(len)::BIGINT AS active_days "
    "FROM per_island GROUP BY user_id"
)


# ---- Lorenz / Gini concentration of user activity ---------------------------

def q_events_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event volume plus Lorenz-curve
    checkpoints (share of events from the bottom 50% / 90% of users) —
    the concentration readout behind "how skewed is our traffic",
    load-balancing and whale-detection decisions.

    Exact construction: G = Σᵢ(2i − n − 1)·xᵢ / (n·Σx) over users ranked
    ascending by (count, user_id) — the numerator is an exact BIGINT (the
    deterministic tie order makes it a shared contract; for tied counts
    any order yields the same sum anyway since Σ(2i−n−1) over a tie block
    is order-invariant), and the Lorenz checkpoints are exact-integer
    cumulative sums read at rank floors. One aggregate + one
    user-cardinality window."""
    ev = load_events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.orderBy("x", "user_id")
    tot = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )
    ranked = (
        per_user.crossJoin(F.broadcast(tot))
        .select(
            "x",
            "n",
            "sx",
            F.row_number().over(w).cast("long").alias("i"),
            F.sum("x").over(
                Window.orderBy("x", "user_id").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ).cast("long").alias("cum_x"),
        )
    )
    return ranked.agg(
        F.max("n").alias("n_users"),
        F.max("sx").alias("n_events"),
        F.round(
            F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("x"))
            / (F.max("n").cast("double") * F.max("sx")),
            6,
        ).alias("gini"),
        F.round(
            F.max(F.when(F.col("i") == F.expr("n div 2"), F.col("cum_x")))
            / F.max("sx").cast("double"),
            6,
        ).alias("bottom50_share"),
        F.round(
            F.max(
                F.when(
                    F.col("i") == F.expr("n * 9 div 10"), F.col("cum_x")
                )
            )
            / F.max("sx").cast("double"),
            6,
        ).alias("bottom90_share"),
    )


QUERIES["events_lorenz_gini"] = q_events_lorenz_gini
ORACLES["events_lorenz_gini"] = (
    "WITH per_user AS (SELECT user_id, count(*)::BIGINT AS x "
    "FROM events GROUP BY 1), "
    "tot AS (SELECT count(*)::BIGINT AS n, CAST(sum(x) AS BIGINT) AS sx "
    "FROM per_user), "
    "ranked AS (SELECT x, n, sx, "
    "CAST(row_number() OVER w AS BIGINT) AS i, "
    "CAST(sum(x) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
    "AS BIGINT) AS cum_x FROM per_user, tot "
    "WINDOW w AS (ORDER BY x, user_id)) "
    "SELECT max(n)::BIGINT AS n_users, max(sx)::BIGINT AS n_events, "
    "round(sum((2 * i - n - 1) * x) / (max(n) * 1e0 * max(sx)), 6) AS gini, "
    "round(max(CASE WHEN i = n // 2 THEN cum_x END) "
    "/ (max(sx) * 1e0), 6) AS bottom50_share, "
    "round(max(CASE WHEN i = n * 9 // 10 THEN cum_x END) "
    "/ (max(sx) * 1e0), 6) AS bottom90_share "
    "FROM ranked"
)


# ---- daily-count autocorrelation --------------------------------------------

ACF_MAX_LAG = 7


def q_events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily event-count series — the
    seasonality detector (a weekly cycle shows as a lag-7 peak) feeding
    capacity planning and anomaly baselines. Pearson r per lag over the
    (day, day+k) pairs both present in the series; every sum inside the
    formula (Σx, Σy, Σxy, Σx², Σy², n) is an exact BIGINT from one
    day-relation self-join with the lags exploded from a literal array
    (ONE pass, not one job per lag); the two sqrts and one division are
    the only float steps."""
    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(F.expr("t div 86400").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    ks = F.array(*[F.lit(k) for k in range(1, ACF_MAX_LAG + 1)])
    a = daily.select(
        F.explode(ks).alias("k"), "day", F.col("x").alias("xa")
    ).withColumn("match_day", F.col("day") + F.col("k"))
    b = daily.select(F.col("day").alias("match_day"), F.col("x").alias("xb"))
    pairs = a.join(b, "match_day")
    g = pairs.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xa").cast("long").alias("sx"),
        F.sum("xb").cast("long").alias("sy"),
        F.sum(F.col("xa") * F.col("xb")).cast("long").alias("sxy"),
        F.sum(F.col("xa") * F.col("xa")).cast("long").alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).cast("long").alias("syy"),
    )
    num = g["n"] * g["sxy"] - g["sx"] * g["sy"]
    den = F.sqrt(
        (g["n"] * g["sxx"] - g["sx"] * g["sx"]).cast("double")
    ) * F.sqrt((g["n"] * g["syy"] - g["sy"] * g["sy"]).cast("double"))
    return g.select(
        F.col("k").cast("long").alias("k"),
        "n",
        F.when(den == 0, F.lit(0.0))
        .otherwise(F.round(num / den, 6))
        .alias("acf"),
    )


QUERIES["events_autocorr"] = q_events_autocorr
ORACLES["events_autocorr"] = (
    "WITH daily AS (SELECT epoch_us(ts) // 1000000 // 86400 AS day, "
    "count(*)::BIGINT AS x FROM events GROUP BY 1), "
    f"ks AS (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS k), "
    "pairs AS (SELECT k, a.x AS xa, b.x AS xb FROM daily a, ks "
    "JOIN daily b ON b.day = a.day + k), "
    "g AS (SELECT k, count(*)::BIGINT AS n, "
    "CAST(sum(xa) AS BIGINT) AS sx, CAST(sum(xb) AS BIGINT) AS sy, "
    "CAST(sum(xa * xb) AS BIGINT) AS sxy, "
    "CAST(sum(xa * xa) AS BIGINT) AS sxx, "
    "CAST(sum(xb * xb) AS BIGINT) AS syy FROM pairs GROUP BY k) "
    "SELECT k::BIGINT AS k, n, "
    "CASE WHEN sqrt((n * sxx - sx * sx) * 1e0) * "
    "sqrt((n * syy - sy * sy) * 1e0) = 0 THEN 0e0 ELSE "
    "round((n * sxy - sx * sy) / (sqrt((n * sxx - sx * sx) * 1e0) * "
    "sqrt((n * syy - sy * sy) * 1e0)), 6) END AS acf FROM g"
)


# ---- late-arrival watermark audit -------------------------------------------

#: allowed lateness before an event counts as late (seconds)
LATE_DELAY_S = 300


def q_events_late_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark lateness audit (batch replay of the streaming question
    "how much allowed-lateness do we need"): per event_type stream, with
    arrival order = event_id, an event is late if the running max event
    time at its arrival exceeds its own timestamp by more than
    LATE_DELAY_S — exactly the rows a 5-minute watermark would drop.
    Output per stream: volume, late count and the maximum observed
    lateness. ONE window per event_type partition (the per-source
    watermark scope — never a global ordering), exact integer seconds."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    lateness = (F.max("ts_us").over(w) - F.col("ts_us")) / 1000000
    flagged = ev.select(
        "event_type",
        F.coalesce(lateness, F.lit(0.0)).alias("late_s"),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(F.col("late_s") > LATE_DELAY_S, 1).otherwise(0)
        ).cast("long").alias("n_late"),
        F.floor(F.max("late_s")).cast("long").alias("max_late_s"),
    )


QUERIES["events_late_arrivals"] = q_events_late_arrivals
ORACLES["events_late_arrivals"] = (
    "WITH flagged AS (SELECT event_type, coalesce((max(epoch_us(ts)) OVER "
    "(PARTITION BY event_type ORDER BY event_id ROWS BETWEEN UNBOUNDED "
    "PRECEDING AND 1 PRECEDING) - epoch_us(ts)) / 1000000, 0e0) AS late_s "
    "FROM events) "
    "SELECT event_type, count(*)::BIGINT AS n_events, "
    f"CAST(sum(CASE WHEN late_s > {LATE_DELAY_S} THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_late, "
    "CAST(floor(max(late_s)) AS BIGINT) AS max_late_s "
    "FROM flagged GROUP BY event_type"
)


# ---- conversion latency + stickiness ----------------------------------------

def q_events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion latency: per user, the gap from FIRST
    signup to the first purchase at-or-after it; output the converting
    user count plus exact interpolated P25/P50/P90 latency in seconds —
    the growth-funnel readout events_funnel (which counts) doesn't give.
    Two per-user min-aggregates + one join; latencies are exact integer
    seconds and both engines share linear-interpolation percentile
    semantics (verified bit-equal on the fixture by rel_quantiles)."""
    ev = load_events(spark, sf_dir)
    signup = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts_us").alias("t_signup")
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_us").alias("t_pur")
    )
    lat = (
        signup.join(pur, "user_id")
        .filter(F.col("t_pur") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(
            (
                (F.min("t_pur") - F.max("t_signup")) / F.lit(1000000)
            ).alias("lat_s")
        )
    )
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.expr("percentile(lat_s, 0.25)"), 6).alias("p25_s"),
        F.round(F.expr("percentile(lat_s, 0.5)"), 6).alias("p50_s"),
        F.round(F.expr("percentile(lat_s, 0.9)"), 6).alias("p90_s"),
    )


QUERIES["events_time_to_convert"] = q_events_time_to_convert
ORACLES["events_time_to_convert"] = (
    "WITH signup AS (SELECT user_id, min(epoch_us(ts)) AS t_signup "
    "FROM events WHERE event_type = 'signup' GROUP BY 1), "
    "lat AS (SELECT s.user_id, "
    "(min(epoch_us(e.ts)) - max(s.t_signup)) / 1000000 AS lat_s "
    "FROM signup s JOIN events e ON e.user_id = s.user_id "
    "AND e.event_type = 'purchase' AND epoch_us(e.ts) >= s.t_signup "
    "GROUP BY 1) "
    "SELECT count(*)::BIGINT AS n_converted, "
    "round(quantile_cont(lat_s, 0.25), 6) AS p25_s, "
    "round(quantile_cont(lat_s, 0.5), 6) AS p50_s, "
    "round(quantile_cont(lat_s, 0.9), 6) AS p90_s FROM lat"
)


def q_events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per 30-day epoch window (NOT calendar months —
    the bucket is t div 86400 div 30, a fixed-width period; the column is
    named ``period30d`` accordingly): average daily active users over
    distinct period actives — the canonical product-engagement ratio. One
    distinct on (period, day, user); both aggregates are map-side
    combinable; avg DAU = exact-int user-day count over exact day count,
    so the ratio divides exact integers."""
    ev = load_events(spark, sf_dir)
    ud = ev.select(
        F.expr("t div 86400").alias("day"),
        F.expr("t div 86400 div 30").alias("period30d"),
        "user_id",
    ).distinct()
    per_month = ud.groupBy("period30d").agg(
        F.count(F.lit(1)).cast("long").alias("n_user_days"),
        F.countDistinct("day").cast("long").alias("n_days"),
        F.countDistinct("user_id").cast("long").alias("mau"),
    )
    return per_month.select(
        "period30d",
        "n_days",
        "mau",
        F.round(F.col("n_user_days") / F.col("n_days").cast("double"), 6).alias(
            "avg_dau"
        ),
        F.round(
            F.col("n_user_days")
            / (F.col("n_days") * F.col("mau")).cast("double"),
            6,
        ).alias("stickiness"),
    )


QUERIES["events_dau_mau"] = q_events_dau_mau
ORACLES["events_dau_mau"] = (
    "WITH ud AS (SELECT DISTINCT epoch_us(ts) // 1000000 // 86400 AS day, "
    "epoch_us(ts) // 1000000 // 86400 // 30 AS period30d, user_id FROM events), "
    "per_month AS (SELECT period30d, count(*)::BIGINT AS n_user_days, "
    "count(DISTINCT day)::BIGINT AS n_days, "
    "count(DISTINCT user_id)::BIGINT AS mau FROM ud GROUP BY 1) "
    "SELECT period30d, n_days, mau, "
    "round(n_user_days / (n_days * 1e0), 6) AS avg_dau, "
    "round(n_user_days / (n_days * mau * 1e0), 6) AS stickiness "
    "FROM per_month"
)


# ---- weekly retention cohorts ------------------------------------------------

RETENTION_WEEKS = 4


def q_events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic weekly retention triangle: users cohorted by first-activity
    week (epoch-week buckets), then for offsets k = 0..RETENTION_WEEKS-1
    the share of the cohort active in week cohort+k — the growth-team
    readout every product warehouse computes nightly.

    Exactness: cohort sizes and retained counts are exact BIGINTs from two
    distinct-aggregations (per-user first week; per (user, week) activity);
    only the final rate divides, rounded to 6. Scale: both aggregations are
    map-side combinable on user-keyed relations; the cohort join is
    vertex-sized (users, not events)."""
    ev = load_events(spark, sf_dir)
    uw = ev.select("user_id", F.expr("t div 604800").alias("week")).distinct()
    first = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    ret = (
        uw.join(first, "user_id")
        .select("cohort_week", (F.col("week") - F.col("cohort_week")).alias("k"), "user_id")
        .filter(F.col("k") < RETENTION_WEEKS)
        .groupBy("cohort_week", "k")
        .agg(F.countDistinct("user_id").cast("long").alias("n_retained"))
    )
    return ret.join(sizes, "cohort_week").select(
        "cohort_week",
        "k",
        "n_users",
        "n_retained",
        F.round(F.col("n_retained") / F.col("n_users").cast("double"), 6).alias("rate"),
    )


QUERIES["events_retention_cohort"] = q_events_retention_cohort
ORACLES["events_retention_cohort"] = f"""
WITH uw AS (SELECT DISTINCT user_id,
                   epoch_us(ts) // 1000000 // 604800 AS week FROM events),
first AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1),
sizes AS (SELECT cohort_week, count(*)::BIGINT AS n_users FROM first GROUP BY 1),
ret AS (SELECT f.cohort_week, uw.week - f.cohort_week AS k,
               count(DISTINCT uw.user_id)::BIGINT AS n_retained
        FROM uw JOIN first f ON uw.user_id = f.user_id
        WHERE uw.week - f.cohort_week < {RETENTION_WEEKS}
        GROUP BY 1, 2)
SELECT r.cohort_week, r.k, s.n_users, r.n_retained,
       round(r.n_retained / (s.n_users * 1e0), 6) AS rate
FROM ret r JOIN sizes s ON r.cohort_week = s.cohort_week
"""


# ---- first-order event-type Markov chain ------------------------------------

def q_events_markov_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: P(next = b | current = a) — the navigation model behind
    next-action prediction and anomalous-session scoring.

    Sequences order by (ts_us, event_id) — a total order, so lead() is
    deterministic in both engines; transition counts are exact BIGINTs and
    the row-conditional probability is the only division (rounded to 6).
    One window shuffle on user_id + one vertex-sized aggregate."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        ev.select("user_id", "ts_us", "event_id", F.col("event_type").alias("cur"))
        .withColumn("nxt", F.lead("cur").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = Window.partitionBy("cur")
    return pairs.select(
        "cur",
        "nxt",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot).cast("double"), 6).alias("p"),
    )


QUERIES["events_markov_chain"] = q_events_markov_chain
ORACLES["events_markov_chain"] = (
    "WITH seq AS (SELECT user_id, event_type AS cur, "
    "lead(event_type) OVER (PARTITION BY user_id "
    "ORDER BY epoch_us(ts), event_id) AS nxt FROM events), "
    "pairs AS (SELECT cur, nxt, count(*)::BIGINT AS n FROM seq "
    "WHERE nxt IS NOT NULL GROUP BY 1, 2) "
    "SELECT cur, nxt, n, "
    "round(n / (sum(n) OVER (PARTITION BY cur) * 1e0), 6) AS p FROM pairs"
)


# ---- RFM quintile segmentation ----------------------------------------------

def q_events_rfm_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation of the
    user base — the marketing-warehouse staple. Per user: recency = last
    activity second, frequency = event count, monetary = exact value cents;
    each scored into quintiles with ntile(5) under a TOTAL order
    (metric desc, user_id asc — both engines implement the same standard
    ntile bucket-remainder rule, and the tiebreak makes the assignment
    engine-identical); output = users per (r, f, m) segment."""
    ev = load_events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.max("t").alias("last_t"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
    )
    seg = per_user.select(
        F.ntile(5).over(Window.orderBy(F.desc("last_t"), F.asc("user_id"))).alias("r_q"),
        F.ntile(5).over(Window.orderBy(F.desc("freq"), F.asc("user_id"))).alias("f_q"),
        F.ntile(5).over(Window.orderBy(F.desc("cents"), F.asc("user_id"))).alias("m_q"),
    )
    return seg.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


QUERIES["events_rfm_segment"] = q_events_rfm_segment
ORACLES["events_rfm_segment"] = (
    "WITH per_user AS (SELECT user_id, "
    "max(epoch_us(ts) // 1000000) AS last_t, count(*)::BIGINT AS freq, "
    "CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents "
    "FROM events GROUP BY 1), "
    "seg AS (SELECT "
    "ntile(5) OVER (ORDER BY last_t DESC, user_id ASC) AS r_q, "
    "ntile(5) OVER (ORDER BY freq DESC, user_id ASC) AS f_q, "
    "ntile(5) OVER (ORDER BY cents DESC, user_id ASC) AS m_q FROM per_user) "
    "SELECT r_q, f_q, m_q, count(*)::BIGINT AS n_users "
    "FROM seg GROUP BY 1, 2, 3"
)


# ---- last-touch conversion attribution --------------------------------------

ATTR_HORIZON_S = 3600


def q_events_step_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the SAME
    user's most recent preceding click within ATTR_HORIZON_S seconds; the
    output is conversions credited per click page (props.k) plus an
    'unattributed' bucket — the ad-measurement query every events
    warehouse runs.

    One user-keyed window pass (last_value IGNORE NULLS over a
    (ts_us, event_id)-total order carries the latest click's (time, page)
    struct forward); the horizon test subtracts exact microsecond BIGINTs.
    """
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    k = F.expr("try_cast(get_json_object(props, '$.k') AS long)")
    tagged = ev.select(
        "user_id", "ts_us", "event_id", "event_type",
        F.last(
            F.when(F.col("event_type") == "click", F.struct(F.col("ts_us").alias("ct"), k.alias("ck"))),
            ignorenulls=True,
        ).over(w).alias("last_click"),
    )
    conv = tagged.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("last_click").isNotNull()
            & (F.col("ts_us") - F.col("last_click.ct") <= ATTR_HORIZON_S * 1_000_000),
            F.col("last_click.ck").cast("string"),
        ).otherwise(F.lit("unattributed")).alias("page_k")
    )
    return conv.groupBy("page_k").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions")
    )


QUERIES["events_step_attribution"] = q_events_step_attribution
ORACLES["events_step_attribution"] = f"""
WITH tagged AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
         last_value(CASE WHEN event_type = 'click' THEN
             struct_pack(ct := epoch_us(ts),
                         ck := try_cast(json_extract_string(props, '$.k') AS BIGINT))
           END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click
  FROM events),
conv AS (
  SELECT CASE WHEN last_click IS NOT NULL
               AND ts_us - last_click.ct <= {ATTR_HORIZON_S}::BIGINT * 1000000
              THEN CAST(last_click.ck AS VARCHAR)
              ELSE 'unattributed' END AS page_k
  FROM tagged WHERE event_type = 'purchase')
SELECT page_k, count(*)::BIGINT AS n_conversions FROM conv GROUP BY 1
"""


# ---- inter-event gap medians for power users ---------------------------------

POWER_USERS = 10


def q_events_power_users_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median inter-event gap for the POWER_USERS most active users — the
    cadence diagnostic behind bot/power-user triage (humans have bursty
    multi-minute medians; scripts tick uniformly).

    Exactness: gaps are floor-integer seconds from microsecond BIGINTs;
    the LOWER median is selected by row_number (rank (n+1) div 2 under
    (gap, ts_us) total order) so no averaging ever happens — every output
    is an exact BIGINT. Top-user selection ties break on user_id."""
    ev = load_events(spark, sf_dir)
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(POWER_USERS)
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = (
        ev.join(F.broadcast(top), "user_id")
        .select(
            "user_id", "n_events", "ts_us",
            (F.expr("ts_us div 1000000") - F.expr("lag(ts_us div 1000000) over "
             "(partition by user_id order by ts_us, event_id)")).alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull())
    )
    wr = Window.partitionBy("user_id").orderBy("gap_s", "ts_us")
    ranked = gaps.select(
        "user_id", "n_events", "gap_s",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_gaps"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("(n_gaps + 1) div 2")
    ).select("user_id", "n_events", F.col("gap_s").alias("median_gap_s"))


QUERIES["events_power_users_gap"] = q_events_power_users_gap
ORACLES["events_power_users_gap"] = f"""
WITH top AS (SELECT user_id, count(*)::BIGINT AS n_events FROM events
             GROUP BY 1 ORDER BY n_events DESC, user_id ASC LIMIT {POWER_USERS}),
gaps AS (SELECT e.user_id, top.n_events, epoch_us(e.ts) AS ts_us,
                epoch_us(e.ts) // 1000000 -
                lag(epoch_us(e.ts) // 1000000) OVER
                  (PARTITION BY e.user_id ORDER BY epoch_us(e.ts), e.event_id)
                  AS gap_s
         FROM events e JOIN top ON e.user_id = top.user_id),
ranked AS (SELECT user_id, n_events, gap_s,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY gap_s, ts_us) AS rn,
                  count(*) OVER (PARTITION BY user_id) AS n_gaps
           FROM gaps WHERE gap_s IS NOT NULL)
SELECT user_id, n_events, gap_s AS median_gap_s
FROM ranked WHERE rn = (n_gaps + 1) // 2
"""


# ---- Benford first-digit screen -----------------------------------------------

def q_events_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit census of the value column —
    the classic fabricated-data / instrumentation-bug screen (organic
    transaction amounts follow log-uniform leading digits; synthetic or
    capped feeds don't). Digit extraction is pure string-of-BIGINT algebra
    (first char of the exact cent count), so both engines agree exactly;
    the expected Benford share rides along from the same micro-int ln
    discipline as text_zipf_slope."""
    ev = load_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    digits = ev.select(cents.alias("cents")).filter(F.col("cents") > 0).select(
        F.substring(F.col("cents").cast("string"), 1, 1).alias("digit")
    )
    per = digits.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = Window.partitionBy()
    return per.select(
        "digit",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot).cast("double"), 6).alias("share"),
        F.round(
            F.expr("ln(1e0 + 1e0 / cast(digit as double)) / ln(10e0)"), 6
        ).alias("benford_expected"),
    )


QUERIES["events_benford"] = q_events_benford
ORACLES["events_benford"] = (
    "WITH cents AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents "
    "FROM events), "
    "digits AS (SELECT substr(CAST(cents AS VARCHAR), 1, 1) AS digit "
    "FROM cents WHERE cents > 0), "
    "per AS (SELECT digit, count(*)::BIGINT AS n FROM digits GROUP BY 1) "
    "SELECT digit, n, "
    "round(n / (sum(n) OVER () * 1e0), 6) AS share, "
    "round(ln(1e0 + 1e0 / CAST(digit AS DOUBLE)) / ln(10e0), 6) "
    "AS benford_expected FROM per"
)


# ---- MAD-based daily anomaly screen --------------------------------------------

MAD_K = 3


def q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation anomaly screen over daily event counts —
    the robust outlier detector (median ± K·MAD survives the outliers it
    hunts, unlike z-scores). Both medians are exact LOWER medians selected
    by row_number rank, so every statistic is an exact BIGINT and the
    anomaly threshold |c − med| > K·MAD compares integers only."""
    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(F.expr("t div 86400").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    with cached(daily):
        wm = Window.orderBy("c", "day")
        med = (
            daily.select("c", F.row_number().over(wm).alias("rn"),
                         F.count(F.lit(1)).over(Window.partitionBy()).alias("n"))
            .filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .select(F.col("c").alias("med"))
        )
        dev = daily.crossJoin(F.broadcast(med)).select(
            "day", "c", "med", F.abs(F.col("c") - F.col("med")).alias("adev")
        )
        wd = Window.orderBy("adev", "day")
        mad = (
            dev.select("adev", F.row_number().over(wd).alias("rn"),
                       F.count(F.lit(1)).over(Window.partitionBy()).alias("n"))
            .filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .select(F.col("adev").alias("mad"))
        )
        return (
            dev.crossJoin(F.broadcast(mad))
            .groupBy()
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_days"),
                F.max("med").cast("long").alias("med"),
                F.max("mad").cast("long").alias("mad"),
                F.sum(
                    F.when(F.col("adev") > MAD_K * F.col("mad"), 1).otherwise(0)
                ).cast("long").alias("n_anomalies"),
            )
        ).localCheckpoint()


QUERIES["events_anomaly_mad"] = q_events_anomaly_mad
ORACLES["events_anomaly_mad"] = f"""
WITH daily AS (SELECT epoch_us(ts) // 1000000 // 86400 AS day,
                      count(*)::BIGINT AS c FROM events GROUP BY 1),
medr AS (SELECT c, row_number() OVER (ORDER BY c, day) AS rn,
                count(*) OVER () AS n FROM daily),
med AS (SELECT c AS med FROM medr WHERE rn = (n + 1) // 2),
dev AS (SELECT day, c, med, abs(c - med) AS adev FROM daily, med),
madr AS (SELECT adev, row_number() OVER (ORDER BY adev, day) AS rn,
                count(*) OVER () AS n FROM dev),
mad AS (SELECT adev AS mad FROM madr WHERE rn = (n + 1) // 2)
SELECT count(*)::BIGINT AS n_days, max(med)::BIGINT AS med,
       max(mad)::BIGINT AS mad,
       CAST(sum(CASE WHEN adev > {MAD_K} * mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies
FROM dev, mad
"""


# ---- per-user event-type entropy ------------------------------------------------

ENTROPY_TOP = 20


def q_events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix for the ENTROPY_TOP
    most active users — the behavioral-diversity score (bots concentrate
    on one action, organic users spread). Per-(user,type) counts are exact;
    each −p·log2(p) term is quantized to integer nano-units before the
    per-user sum (same engine-shared-expression discipline as
    text_kgram_profile_js)."""
    ev = load_events(spark, sf_dir)
    ut = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_user = ut.groupBy("user_id").agg(F.sum("c").alias("n_events"))
    top = (
        per_user.orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(ENTROPY_TOP)
    )
    term = (
        "cast(round((-(c / (n_events * 1e0)) * "
        "ln(c / (n_events * 1e0)) / ln(2e0)) * 1e9) as bigint)"
    )
    return (
        ut.join(F.broadcast(top), "user_id")
        .select("user_id", "n_events", F.expr(term).alias("t"))
        .groupBy("user_id", "n_events")
        .agg(F.round(F.sum("t") / F.lit(1e9), 6).alias("entropy_bits"))
        .select("user_id", F.col("n_events").cast("long").alias("n_events"),
                "entropy_bits")
    )


QUERIES["events_user_entropy"] = q_events_user_entropy
ORACLES["events_user_entropy"] = f"""
WITH ut AS (SELECT user_id, event_type, count(*)::BIGINT AS c
            FROM events GROUP BY 1, 2),
per_user AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events
             FROM ut GROUP BY 1),
top AS (SELECT * FROM per_user ORDER BY n_events DESC, user_id ASC
        LIMIT {ENTROPY_TOP}),
terms AS (SELECT ut.user_id, top.n_events,
                 cast(round((-(c / (n_events * 1e0)) *
                 ln(c / (n_events * 1e0)) / ln(2e0)) * 1e9) as bigint) AS t
          FROM ut JOIN top ON ut.user_id = top.user_id)
SELECT user_id, n_events,
       round(CAST(sum(t) AS BIGINT) / 1e9, 6) AS entropy_bits
FROM terms GROUP BY 1, 2
"""


# ---- weekday activity profile + uniformity chi-square ---------------------------

def q_events_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event counts by day-of-week plus the chi-square statistic against a
    uniform profile — the seasonality sanity check behind alert-threshold
    calendars (epoch day 0 = Thursday, so dow = (day + 4) % 7 with Sunday
    = 0; pure integer algebra, identical in both engines). The chi-square
    term (c - mean)^2/mean is computed per weekday in micro-int units from
    exact counts; only the final scaling divides."""
    ev = load_events(spark, sf_dir)
    per = ev.groupBy(F.expr("(t div 86400 + 4) % 7").alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    return per.select(
        "dow",
        "n_events",
        F.round(
            F.expr(
                "(n_events * 7e0 - sum(n_events) over ()) * "
                "(n_events * 7e0 - sum(n_events) over ()) / "
                "(7e0 * sum(n_events) over ())"
            ),
            6,
        ).alias("chi2_term"),
    )


QUERIES["events_weekday_profile"] = q_events_weekday_profile
ORACLES["events_weekday_profile"] = (
    "WITH per AS (SELECT (epoch_us(ts) // 1000000 // 86400 + 4) % 7 AS dow, "
    "count(*)::BIGINT AS n_events FROM events GROUP BY 1) "
    "SELECT dow, n_events, "
    "round((n_events * 7e0 - sum(n_events) OVER ()) * "
    "(n_events * 7e0 - sum(n_events) OVER ()) / "
    "(7e0 * sum(n_events) OVER ()), 6) AS chi2_term FROM per"
)
