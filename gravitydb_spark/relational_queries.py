"""Relational/analytics queries over the TPC-H-ish tables.

The reference has NO first-class aggregations/windows/sorts (SURVEY.md
§2.5-2.7) — its tests compute them host-side. Here they are Catalyst plans:
partial aggregation map-side, broadcast joins for dimensions, window
functions for deterministic top-k. These are the headline BENCH queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .registry import load, register

# ---------------------------------------------------------------------------
# Aggregations (SURVEY.md §2.5 made first-class)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity)::DOUBLE, 2)                                   AS sum_qty,
           round(sum(l_extendedprice)::DOUBLE, 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount))::DOUBLE, 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))::DOUBLE, 2) AS sum_charge,
           round(avg(l_quantity)::DOUBLE, 4)                                   AS avg_qty,
           round(avg(l_extendedprice)::DOUBLE, 4)                              AS avg_price,
           round(avg(l_discount)::DOUBLE, 4)                                   AS avg_disc,
           count(*)::BIGINT                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: two-column groupBy, 8 aggregates. One shuffle;
    partial aggregation happens map-side automatically."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_top_orders",
    oracle="""
    SELECT o.o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount))::DOUBLE, 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey ASC
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter broadcast into the fact
    join, then top-k with deterministic tiebreak."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-01-01")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount))::DOUBLE, 2) AS revenue
    FROM customer c
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join; dimensions broadcast, facts shuffle once."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "agg_order_priority",
    oracle="""
    SELECT o_orderpriority,
           count(*)::BIGINT AS n_orders,
           count(DISTINCT o_custkey)::BIGINT AS n_customers,
           round(avg(o_totalprice)::DOUBLE, 4) AS avg_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count + distinct-count + avg per group (distinct agg expands to a
    two-phase plan under AQE)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


@register(
    "agg_rollup_region_nation",
    oracle="""
    SELECT coalesce(r.r_name, 'ALL') AS region_name,
           coalesce(n.n_name, 'ALL') AS nation_name,
           count(*)::BIGINT AS n_customers,
           round(sum(c.c_acctbal)::DOUBLE, 2) AS total_acctbal
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
         JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
)
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set rollup — absent in the reference (SURVEY.md §2.5),
    free via Catalyst's Expand."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "n_customers",
            "total_acctbal",
        )
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k / windows (SURVEY.md §2.6-2.7)
# ---------------------------------------------------------------------------


@register(
    "topk_parts_by_quantity",
    oracle="""
    SELECT l_partkey, round(sum(l_quantity)::DOUBLE, 2) AS total_qty
    FROM lineitem GROUP BY l_partkey
    ORDER BY total_qty DESC, l_partkey ASC LIMIT 10
    """,
)
def topk_parts_by_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with the reference tests' deterministic tiebreak (count desc,
    key asc — gravitydb-test-utils/src/lib.rs:298-312). Spark executes
    orderBy+limit as TakeOrderedAndProject (no full sort)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.desc("total_qty"), F.asc("l_partkey"))
        .limit(10)
    )


@register(
    "window_top_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, rnk FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      FROM orders) t
    WHERE rnk <= 3
    """,
)
def window_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        load(spark, sf_dir, "orders")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


@register(
    "window_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE, 2)
             AS running_total
    FROM orders
    """,
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-total analytic window (frame spec), absent in reference."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        load(spark, sf_dir, "orders")
        .withColumn("running_total", F.round(F.sum("o_totalprice").over(w), 2))
        .select("o_custkey", "o_orderkey", "running_total")
    )


# ---------------------------------------------------------------------------
# Events: time-series / JSON / sessionization (streaming-shaped, batch SQL)
#
# The events parquet has shipped as TIMESTAMP(NANOS) (rounds 1-2) and as
# TIMESTAMP(MICROS, NTZ) (round 3+). Either way, every downstream query
# does exact integer-epoch arithmetic on a BIGINT nanosecond column
# (ns ~1.7e18 does NOT fit a double's 53-bit mantissa, so float division
# would corrupt timestamps — integer DIV only; also timezone-free on both
# engines, matching DuckDB's epoch_ns() on a naive timestamp).
# ``load_events`` normalizes both physical encodings to that contract:
# NANOS files read as BIGINT via the legacy nanosAsLong conf; MICROS files
# read as TIMESTAMP_NTZ and are converted with unix_micros (session tz is
# UTC, so the naive wall clock maps to the same epoch as the oracle).
# ---------------------------------------------------------------------------

NS_PER_HOUR = 3_600_000_000_000
NS_PER_SEC = 1_000_000_000


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Return events with ``ts`` as BIGINT nanoseconds since epoch."""
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df
    ts = F.col("ts")
    if isinstance(dt, T.TimestampNTZType):
        # session tz is UTC (session.py), so NTZ wall clock == UTC instant
        ts = ts.cast("timestamp")
    return df.withColumn("ts", (F.unix_micros(ts) * F.lit(1000)).cast("long"))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))


@register(
    "events_hourly_rollup",
    oracle=f"""
    SELECT (epoch_ns(ts) // {NS_PER_HOUR}) * 3600 AS hour_epoch_s,
           event_type,
           count(*)::BIGINT AS n,
           round(sum(value)::DOUBLE, 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-bucket rollup: tumbling 1h windows batch-side
    (the streaming twin is stream_hourly_rollup)."""
    return (
        load_events(spark, sf_dir)
        .groupBy(
            (F.expr(f"ts DIV {NS_PER_HOUR}") * 3600).alias("hour_epoch_s"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value")
        )
    )


@register(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           count(*)::BIGINT AS n,
           round(avg(json_extract_string(props, '$.k')::INT)::DOUBLE, 4) AS avg_k,
           max(json_extract_string(props, '$.k')::INT)::BIGINT AS max_k
    FROM events GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON property access (the reference's properties are
    JSON blobs — schema.rs:72-83; here: JSON functions in the scan)."""
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        load_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(k), 4).alias("avg_k"),
            F.max(k).cast("long").alias("max_k"),
        )
    )


_SESSIONIZE_ORACLE = f"""
    WITH gaps AS (
      SELECT user_id, event_id,
             CASE WHEN epoch_ns(ts) // {NS_PER_SEC}
                    - lag(epoch_ns(ts) // {NS_PER_SEC})
                        OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                    > 1800
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                     IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events)
    SELECT user_id,
           sum(new_session)::BIGINT AS n_sessions,
           count(*)::BIGINT AS n_events
    FROM gaps GROUP BY user_id
    """


@register("events_sessionize", oracle=_SESSIONIZE_ORACLE)
def events_sessionize(
    spark: SparkSession, sf_dir: str, bounded: bool = False
) -> DataFrame:
    """Sessionization via lag + gap>30min — the classic window idiom.

    ``bounded=True`` (r5 VERDICT directive #4) is the SKEW-BOUNDED
    formulation for celebrity users: an ordered per-user window is
    single-task by construction (AQE cannot split ordered state), so a
    user with billions of events straggles the default plan. The bounded
    plan partitions the window by (user, day) — per-task state is one
    user-DAY of history — computes per-bucket session counts, then
    merges across buckets with a per-(user,day) window over BUCKET
    SUMMARY rows (users×days rows, O(1) each): a bucket's first event
    starts a new session only if the gap from the previous bucket's last
    event exceeds the threshold, so one count is subtracted per
    continuing boundary. Result is HASH-IDENTICAL to the unbounded plan
    (equivalence-tested at sf0.1): gaps compare epoch seconds, and
    simultaneous events share a second, so bucket-internal tie order
    cannot change any gap decision."""
    sec = F.expr(f"ts DIV {NS_PER_SEC}")
    ev = load_events(spark, sf_dir)
    if not bounded:
        w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
        prev = F.lag(sec).over(w)
        new_session = F.when(prev.isNull() | ((sec - prev) > 1800), 1).otherwise(0)
        return (
            ev.withColumn("new_session", new_session)
            .groupBy("user_id")
            .agg(
                F.sum("new_session").alias("n_sessions"),
                F.count("*").alias("n_events"),
            )
        )
    day = F.expr(f"ts DIV {NS_PER_SEC * 86400}")
    wb = Window.partitionBy("user_id", "day").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    prev = F.lag("sec").over(wb)
    new_session = F.when(
        prev.isNull() | ((F.col("sec") - prev) > 1800), 1
    ).otherwise(0)
    buckets = (
        ev.select("user_id", "event_id", "ts", sec.alias("sec"), day.alias("day"))
        .withColumn("ns", new_session)
        .groupBy("user_id", "day")
        .agg(
            F.sum("ns").alias("s"),
            F.count("*").alias("n"),
            F.min("sec").alias("first_sec"),
            F.max("sec").alias("last_sec"),
        )
    )
    wd = Window.partitionBy("user_id").orderBy("day")
    prev_last = F.lag("last_sec").over(wd)
    continuing = F.when(
        prev_last.isNotNull() & ((F.col("first_sec") - prev_last) <= 1800), 1
    ).otherwise(0)
    return (
        buckets.withColumn("cont", continuing)
        .groupBy("user_id")
        .agg(
            (F.sum("s") - F.sum("cont")).cast("long").alias("n_sessions"),
            F.sum("n").cast("long").alias("n_events"),
        )
    )


_OVERLAP_BIN_S = 3600  # ≥ max session duration (measured ~4,000s gap-
# bounded at every SF — a session spans ≤ 2-3 bins; the bin only affects
# candidate count, never correctness)


@register(
    "events_session_overlap",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id, ts, epoch_ns(ts) // {NS_PER_SEC} AS sec,
             CASE WHEN epoch_ns(ts) // {NS_PER_SEC}
                    - lag(epoch_ns(ts) // {NS_PER_SEC})
                        OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                    > 1800
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                     IS NULL
             THEN 1 ELSE 0 END AS ns
      FROM events),
    sid AS (
      SELECT user_id, sec,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM g),
    sess AS (
      SELECT user_id, sid, min(sec) AS s, max(sec) AS e
      FROM sid GROUP BY 1, 2),
    ov AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             least(a.e, b.e) - greatest(a.s, b.s) AS osec
      FROM sess a JOIN sess b
        ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e)
    SELECT user_a, user_b, count(*)::BIGINT AS n_overlaps,
           sum(osec)::BIGINT AS overlap_s_total
    FROM ov GROUP BY 1, 2
    """,
)
def events_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL OVERLAP JOIN without a cartesian product — per user
    pair, how many of their sessions overlapped in time and for how
    many total seconds (the co-activity / concurrency analytic;
    interval joins are also the fraud-detection and ad-attribution
    staple). A naive overlap join is a range predicate — Spark would
    compile it to BroadcastNestedLoopJoin over sessions² — so the
    engine uses the standard BINNED interval join: each session
    [s, e] explodes to its covered {_OVERLAP_BIN_S}s time bins
    (≤ 2-3 per session — sessions are gap-bounded), candidates
    equi-join on bin, the exact overlap predicate filters, and
    per-pair dropDuplicates folds multi-bin matches. Overlapping
    intervals ALWAYS share the bin of any overlap second, so the
    binning loses nothing; candidate count is output-proportional
    (sessions co-active in an hour genuinely overlap each other).

    Session intervals come from the same lag-gap sessionization as
    events_sessionize (running-sum session ids over the identical
    (ts, event_id) order), memoized so the self-join shares ONE cached
    plan. Oracle: the naive quadratic overlap join over identically
    derived sessions — an independent formulation, exact-integer
    everywhere."""
    sec = F.expr(f"ts DIV {NS_PER_SEC}")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))

    def _build_sessions():
        ev = load_events(spark, sf_dir).withColumn("sec", sec)
        prev = F.lag("sec").over(w)
        ns = F.when(prev.isNull() | ((F.col("sec") - prev) > 1800), 1).otherwise(0)
        return (
            ev.withColumn("ns", ns)
            .withColumn(
                "sid",
                F.sum("ns").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            )
            .groupBy("user_id", "sid")
            .agg(F.min("sec").alias("s"), F.max("sec").alias("e"))
        )

    sess = _memo_cache(spark, sf_dir, "session_intervals", _build_sessions)
    binned = sess.withColumn(
        "bin",
        F.explode(
            F.expr(f"sequence(s DIV {_OVERLAP_BIN_S}, e DIV {_OVERLAP_BIN_S})")
        ),
    )
    a = binned.select(
        F.col("user_id").alias("user_a"),
        F.col("sid").alias("sid_a"),
        F.col("s").alias("s_a"),
        F.col("e").alias("e_a"),
        "bin",
    )
    b = binned.select(
        F.col("user_id").alias("user_b"),
        F.col("sid").alias("sid_b"),
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
        "bin",
    )
    pairs = (
        a.join(b, "bin")
        .filter(
            (F.col("user_a") < F.col("user_b"))
            & (F.col("s_a") <= F.col("e_b"))
            & (F.col("s_b") <= F.col("e_a"))
        )
        .dropDuplicates(["user_a", "sid_a", "user_b", "sid_b"])
    )
    osec = F.least(F.col("e_a"), F.col("e_b")) - F.greatest(
        F.col("s_a"), F.col("s_b")
    )
    return pairs.groupBy("user_a", "user_b").agg(
        F.count("*").cast("long").alias("n_overlaps"),
        F.sum(osec).cast("long").alias("overlap_s_total"),
    )


@register(
    "agg_quantiles",
    oracle="""
    SELECT l_returnflag,
           round(median(l_extendedprice)::DOUBLE, 4) AS median_price,
           round(quantile_cont(l_extendedprice, 0.9)::DOUBLE, 4) AS p90_price,
           round(quantile_cont(l_extendedprice, 0.99)::DOUBLE, 4) AS p99_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quantiles (linear interpolation — the same definition in both
    engines, so they hash-match; approx sketches never would). At scale
    exact percentiles sort within groups; swap to percentile_approx when
    a bounded-error sketch is acceptable."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias(
                "median_price"
            ),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
            F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99_price"),
        )
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT round((sum(l_extendedprice) / 7.0)::DOUBLE, 2) AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery — Catalyst decorrelates
    it into an aggregate + join (no per-row re-execution), exactly the
    rewrite the reference lacks any machinery for (SURVEY.md §4)."""
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_q17")
    load(spark, sf_dir, "part").createOrReplaceTempView("part_q17")
    return spark.sql(
        """
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem_q17 l JOIN part_q17 p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                              FROM lineitem_q17 l2
                              WHERE l2.l_partkey = l.l_partkey)
        """
    )


@register(
    "q7_nation_volume",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume)::DOUBLE, 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate)::BIGINT AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
          OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')))
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): fact joined to two differently-
    filtered copies of the same dimension. Both nation copies broadcast;
    the OR-of-pairs predicate stays above the joins (it references both
    sides) but the per-side IN ('NATION_1','NATION_2') restriction is
    pushed into each broadcast."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    pair = ("NATION_18", "NATION_19")
    n1 = (
        load(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    )
    n2 = (
        load(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           round(sum((l.l_extendedprice * (1 - l.l_discount))::DECIMAL(30,10)), 2)::DOUBLE AS revenue,
           round(c.c_acctbal::DOUBLE, 2) AS acctbal, n.n_name
    FROM customer c
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): both selective filters
    (quarter, returnflag) push into their scans; top-k compiles to
    TakeOrderedAndProject, never a global sort."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            # sum in exact DECIMAL and round BEFORE casting to double:
            # a double-typed round diverges on representation (Spark rounds
            # the shortest decimal rendering "…595"->.60, DuckDB rounds the
            # binary value …59499->.59); decimal sum + decimal round is
            # exact and identical on both engines
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(30,10)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q18_large_volume_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS sq
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           round(o.o_totalprice::DOUBLE, 2) AS totalprice,
           round(sq::DOUBLE, 2) AS sum_qty
    FROM big
      JOIN orders o   ON o.o_orderkey = big.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY totalprice DESC, o.o_orderkey ASC
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): the HAVING aggregate is
    computed ONCE on the fact (map-side partial sum, shuffle carries one
    row per order) and reused as the output column — no second lineitem
    pass, no IN-subquery re-scan."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 250)
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round(F.col("o_totalprice"), 2).alias("totalprice"),
            F.round(F.col("sq"), 2).alias("sum_qty"),
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "events_asof_join",
    oracle=f"""
    WITH ordered AS (
      SELECT event_id, user_id, event_type, value, ts,
             last_value(CASE WHEN event_type = 'purchase' THEN value END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_purchase_value
      FROM events)
    SELECT event_id, user_id,
           round(coalesce(last_purchase_value, 0.0)::DOUBLE, 2)
             AS last_purchase_value
    FROM ordered WHERE event_type = 'click'
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one — SURVEY/pyspark guide): for
    each click, the most recent STRICTLY PRIOR purchase value of the same
    user, via a single ignore-nulls last_value window over the merged
    event stream — one shuffle on user_id, no range join explosion. The
    same window formulation runs verbatim on the oracle."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return (
        load_events(spark, sf_dir)
        .withColumn("last_purchase_value", F.last(purchase_val, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            F.round(F.coalesce("last_purchase_value", F.lit(0.0)), 2).alias(
                "last_purchase_value"
            ),
        )
    )


_FEATURE_TYPES = ("view", "click", "signup", "error")


@register(
    "events_feature_snapshot",
    oracle=f"""
    WITH snap AS (
      SELECT event_id, user_id, event_type,
             {", ".join(
                 f"round(last_value(CASE WHEN event_type = '{t}' THEN value END"
                 f" IGNORE NULLS) OVER w, 2) AS f_{t}"
                 for t in _FEATURE_TYPES
             )}
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY epoch_ns(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT event_id, user_id, {", ".join(f"f_{t}" for t in _FEATURE_TYPES)}
    FROM snap WHERE event_type = 'purchase'
    """,
)
def events_feature_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME feature-snapshot join — the feature-store primitive
    behind leakage-free training tables: for every label event (purchase)
    take, per feature stream ({', '.join(_FEATURE_TYPES)}), the user's
    latest STRICTLY PRECEDING value. "Strictly preceding" (frame ends at
    -1, event_id tie-break) is the leakage guarantee: a feature written
    in the same instant as the label can never leak into it, and both
    engines cut the frame identically.

    Plan shape: all {len(_FEATURE_TYPES)} features resolve in ONE
    user-partitioned window pass over the merged stream (4 ignore-nulls
    last_value's sharing a frame) — one shuffle total, vs the naive
    4 as-of self-joins. At 100 TB this is the same single sort the as-of
    join pays; adding feature streams adds window FUNCTIONS, not
    shuffles. Users with no prior feature event yield NULL (both
    engines), which downstream imputation owns."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev = load_events(spark, sf_dir)
    for t in _FEATURE_TYPES:
        ev = ev.withColumn(
            f"f_{t}",
            F.round(
                F.last(
                    F.when(F.col("event_type") == t, F.col("value")),
                    ignorenulls=True,
                ).over(w),
                2,
            ),
        )
    return ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", *[f"f_{t}" for t in _FEATURE_TYPES]
    )


# ---------------------------------------------------------------------------
# Range scan + pruning (PropertyQuery::FromTo's relational face, §2.1)
# ---------------------------------------------------------------------------


@register(
    "range_shipdate_scan",
    oracle="""
    SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
           count(*)::BIGINT AS n,
           round(sum(l_extendedprice)::DOUBLE, 2) AS total_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
    GROUP BY 1
    """,
)
def range_shipdate_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range predicate pushed to the parquet scan (check PushedFilters in
    .explain) — the FromTo range-scan capability at relational scale."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-07-01")
        )
        .groupBy(F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("ship_month"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount)::DOUBLE, 2) AS revenue,
           count(*)::BIGINT AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-side revenue forecast — every predicate
    (shipdate range, discount band, quantity cap) is a pushed-down
    parquet filter and the whole query is one partial-aggregated global
    sum. The canonical 'is the scan path healthy' probe: no join, no
    window, one exchange carrying one row per task."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
            .alias("revenue"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


@register(
    "q12_priority_lines",
    oracle="""
    SELECT l.l_returnflag,
           sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (conditional-count split after a fact-fact join),
    adapted to this schema: the generated lineitem has no l_shipmode, so
    the split keys on l_returnflag — the plan shape (pushed range filter,
    orderkey equi-join, two CASE-sum aggregates) is Q12's. The join keys
    on l_orderkey/o_orderkey: co-partitioned bucketed storage makes it
    shuffle-free via graph.save_bucketed at scale."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT round(
             (100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)
              / sum(l.l_extendedprice * (1 - l.l_discount)))::DOUBLE,
             2) AS promo_revenue_pct,
           count(*)::BIGINT AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion revenue share — conditional revenue
    ratio over a part-dimension join. The part side broadcasts (it's the
    small dimension); the shipdate quarter filter is pushed to the
    lineitem scan."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 2).alias("promo_revenue_pct"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


@register(
    "q4_priority_exists",
    oracle="""
    SELECT o.o_orderpriority, count(*)::BIGINT AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelates to a LEFT-SEMI join — the
    order counts per priority among orders with at least one returned
    line (this schema has no commit/receipt dates, so the EXISTS
    predicate keys on l_returnflag; the plan shape — pushed date range,
    semi-join on orderkey, single-key agg — is Q4's)."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*)::BIGINT AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
          FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
          GROUP BY c.c_custkey) _o
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the two-level aggregation histogram — orders per
    customer (LEFT join keeps order-less customers at 0), then customer
    count per order count. The outer agg's input is customer-cardinality,
    so its shuffle is tiny regardless of the orders fact size."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("long").alias("custdist")
    )


@register(
    "q16_supplier_cnt",
    oracle="""
    SELECT p.p_brand, count(DISTINCT l.l_suppkey)::BIGINT AS supplier_cnt
    FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size >= 20
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per brand with a NOT-IN
    exclusion list — the exclusion compiles to a broadcast LEFT-ANTI join
    (the complaint-supplier list is dimension-sized), the brand join
    broadcasts part, and the distinct count is the only wide shuffle."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") >= 20)
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount))::DOUBLE, 2)
             AS revenue,
           count(*)::BIGINT AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: a three-branch disjunctive predicate across both
    join sides. Catalyst extracts the common-side conjuncts so each scan
    still prunes (the quantity disjunction lands on the lineitem scan,
    the brand/size disjunction on the part scan) before the join applies
    the cross-side residual — the classic disjunction-pushdown probe."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#12") & s.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#23") & s.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#34") & s.between(1, 35) & q.between(20, 30))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue"),
        F.count("*").cast("long").alias("n_lines"),
    )


@register(
    "q22_idle_customers",
    oracle="""
    SELECT c.c_nationkey::BIGINT AS nationkey,
           count(*)::BIGINT AS numcust,
           round(sum(c.c_acctbal)::DOUBLE, 2) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer
                         WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c.c_nationkey
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: wealthy-but-idle customers — an uncorrelated
    scalar-subquery threshold (broadcast 1-row aggregate) plus a NOT
    EXISTS that compiles to a LEFT-ANTI join against the recent-orders
    side, then a per-nation rollup (no phone column in this schema, so
    the group key is the nation)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "2000-01-01")
    thresh = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(
            F.count("*").cast("long").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "events_funnel",
    oracle="""
    WITH e AS (SELECT user_id, epoch_ns(ts) AS ts, event_type FROM events),
    v AS (SELECT user_id, min(ts) AS t1 FROM e
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
    SELECT u.user_id, v.t1, c.t2, p.t3,
           (CASE WHEN p.t3 IS NOT NULL THEN 3
                 WHEN c.t2 IS NOT NULL THEN 2
                 WHEN v.t1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS funnel_depth
    FROM (SELECT DISTINCT user_id FROM e) u
    LEFT JOIN v ON v.user_id = u.user_id
    LEFT JOIN c ON c.user_id = u.user_id
    LEFT JOIN p ON p.user_id = u.user_id
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click-after-view →
    purchase-after-click): per user, the earliest timestamp of each step
    that STRICTLY follows the previous step's, and the depth reached —
    the conversion query every event pipeline runs. min() per step makes
    the result deterministic without per-event ordering state.

    Plan shape: three per-user min-aggregations chained by user_id
    equi-joins — every shuffle keys on user_id, so at 100 TB the whole
    funnel is one partitioning reused across stages (AQE coalesces the
    tiny intermediate steps); no windows, no state store."""
    e = load_events(spark, sf_dir).select("user_id", "ts", "event_type")
    users = e.select("user_id").distinct()
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    depth = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
    )
    return (
        users.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "t1", "t2", "t3", depth.alias("funnel_depth"))
    )


# ---------------------------------------------------------------------------
# TPC-H completion: the seven shapes not yet covered (Q2, Q8, Q9, Q11, Q15,
# Q20, Q21), adapted to this schema (no partsupp table — lineitem is the
# supply relation; no p_mfgr/phone — nations and part words stand in).
# With these, all 22 TPC-H query SHAPES have a first-class, oracle-checked
# plan: correlated-min decorrelation, conditional-share aggregation,
# profit expression joins, group-HAVING vs global scalar, max-view
# equality, nested-IN semi chains, and the multi-EXISTS self-join.
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supply",
    oracle="""
    WITH supply AS (
      SELECT l.l_partkey AS partkey, l.l_suppkey AS suppkey,
             round(min(l.l_extendedprice / l.l_quantity)::DOUBLE, 2) AS unit_cost
      FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY l.l_partkey, l.l_suppkey),
    best AS (SELECT partkey, min(unit_cost) AS min_cost
             FROM supply GROUP BY partkey)
    SELECT p.p_partkey, p.p_name, s.s_name, n.n_name, sp.unit_cost
    FROM supply sp
      JOIN best ON best.partkey = sp.partkey AND sp.unit_cost = best.min_cost
      JOIN part p     ON p.p_partkey = sp.partkey
      JOIN supplier s ON s.s_suppkey = sp.suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size >= 40
    """,
)
def q2_min_cost_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each large part, the EUROPE supplier(s) whose
    unit cost equals the per-part minimum — the classic correlated-min
    subquery DECORRELATED into (per-part-supplier agg) ⋈ (per-part min)
    on equality of the aggregate. Equality compares the ROUNDED cost on
    both engines so IEEE division noise can't split a tie.

    Plan shape: the supply aggregation shuffles lineitem once on
    (partkey, suppkey); the per-part min re-shuffles only the aggregated
    (part × supplier)-sized relation; part/supplier/nation are broadcast.
    Ties at the minimum are all returned, exactly like Q2."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") >= 40)
    supply = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.round(
                F.min(F.col("l_extendedprice") / F.col("l_quantity")), 2
            ).alias("unit_cost")
        )
    )
    best = (
        supply.groupBy("partkey")
        .agg(F.min("unit_cost").alias("min_cost"))
        .withColumnRenamed("partkey", "b_partkey")
    )
    # fresh projections for the final dimension joins: supplier/nation
    # already appear inside `supply`, so re-joining the same attribute
    # ids would be ambiguous — rename to role-specific columns instead
    s2 = s.select(
        F.col("s_suppkey").alias("s2_suppkey"),
        "s_name",
        F.col("s_nationkey").alias("s2_nationkey"),
    )
    n2 = n.select(F.col("n_nationkey").alias("n2_nationkey"), "n_name")
    return (
        supply.join(
            best,
            (F.col("partkey") == F.col("b_partkey"))
            & (F.col("unit_cost") == F.col("min_cost")),
        )
        .join(F.broadcast(p), F.col("partkey") == p.p_partkey)
        .join(F.broadcast(s2), F.col("suppkey") == F.col("s2_suppkey"))
        .join(F.broadcast(n2), F.col("n2_nationkey") == F.col("s2_nationkey"))
        .select("p_partkey", "p_name", "s_name", "n_name", "unit_cost")
    )


@register(
    "q8_market_share",
    oracle="""
    SELECT year(o.o_orderdate)::BIGINT AS o_year,
           round(sum(CASE WHEN n2.n_name = 'NATION_7'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS mkt_share
    FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n1.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'EUROPE'
    GROUP BY year(o.o_orderdate)
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — the CONDITIONAL-share
    aggregation sum(CASE WHEN nation THEN vol END)/sum(vol) per order
    year, over a two-sided dimension closure (customer→nation→region on
    one side, supplier→nation on the other, so `nation` joins twice
    under different roles). One fact shuffle on the group key; every
    dimension broadcasts."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    s = load(spark, sf_dir, "supplier")
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("c_nkey") == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == F.col("c_rkey"))
        .join(F.broadcast(s), s.s_suppkey == li.l_suppkey)
        .join(F.broadcast(n2), F.col("s_nkey") == s.s_nationkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_7", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
    )


@register(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name, year(o.o_orderdate)::BIGINT AS o_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)
                     - 0.1 * p.p_retailprice * l.l_quantity)::DOUBLE, 2)
             AS profit
    FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit per supplier nation per year.
    The profit EXPRESSION spans two join sides (lineitem price/discount
    vs part cost — this schema has no partsupp, so unit cost is a fixed
    fraction of p_retailprice), which forces the classic
    filter-part-early plan: the LIKE prunes part BEFORE the broadcast,
    so the fact scan only keeps matching partkeys."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.1 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), s.s_suppkey == li.l_suppkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).alias("profit"))
    )


@register(
    "q11_important_stock",
    oracle="""
    WITH stock AS (
      SELECT l.l_partkey AS partkey,
             sum(l.l_quantity * p.p_retailprice) AS value
      FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE s.s_nationkey = 3
      GROUP BY l.l_partkey)
    SELECT partkey, round(value::DOUBLE, 2) AS value
    FROM stock
    WHERE value > (SELECT avg(value) * 2 FROM stock)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: group-HAVING against a GLOBAL scalar — parts
    whose single-nation stock value exceeds twice the per-part average. The
    scalar subquery is the same aggregate re-totalled, so the plan
    computes the per-part aggregation ONCE (cached), derives the 1-row
    threshold from it, and broadcasts that into the filter — at 100 TB
    the fact is read and shuffled a single time. The filter compares
    UNROUNDED sums on both engines (rounding only the output), so the
    threshold can't flip on a representation edge."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 3)
    stock = _memo_cache(
        spark,
        sf_dir,
        "q11_stock",
        lambda: li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), s.s_suppkey == li.l_suppkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(F.col("l_quantity") * F.col("p_retailprice")).alias("value")),
    )
    thresh = stock.agg((F.avg("value") * 2).alias("thresh"))
    return (
        stock.crossJoin(F.broadcast(thresh))
        .filter(F.col("value") > F.col("thresh"))
        .select("partkey", F.round(F.col("value"), 2).alias("value"))
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
             round(sum(l_extendedprice * (1 - l_discount))::DOUBLE, 2)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, rev.total_revenue
    FROM supplier s JOIN rev ON rev.suppkey = s.s_suppkey
    WHERE rev.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue VIEW reused twice — once as the join
    input, once under max() — with equality against the scalar maximum
    (all ties returned). The view is computed once (cached aggregate of
    quarter-filtered lineitem), the 1-row max broadcasts back; comparing
    the ROUNDED revenue on both engines keeps the equality stable."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load(spark, sf_dir, "supplier")
    rev = _memo_cache(
        spark,
        sf_dir,
        "q15_rev",
        lambda: li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        ),
    )
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q20_promo_suppliers",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        WHERE l.l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE 'small%')
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_suppkey
        HAVING sum(l.l_quantity) > 50)
    """,
)
def q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: the NESTED-IN chain — part-name subquery inside
    a grouped-HAVING lineitem subquery inside the supplier IN — each
    level decorrelating to a semi-join: partkeys semi-restrict the fact
    scan (broadcast), the year's shipments aggregate per supplier, the
    HAVING filters the aggregate, and the surviving supplier keys
    semi-join the region-restricted supplier dimension."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    parts = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    heavy = (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey, "semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .join(heavy, s.s_suppkey == heavy.l_suppkey, "semi")
        .select("s_suppkey", "s_name")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, count(*)::BIGINT AS numwait
    FROM lineitem l1
      JOIN supplier s ON s.s_suppkey = l1.l_suppkey
      JOIN orders o   ON o.o_orderkey = l1.l_orderkey
                     AND o.o_orderstatus = 'F'
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the triple self-join — suppliers who were the
    SOLE failing supplier on a multi-supplier finalized order (this
    schema has no commit/receipt dates, so l_returnflag='R' marks the
    failed delivery). EXISTS(other supplier) compiles to a LEFT-SEMI and
    NOT EXISTS(other failing supplier) to a LEFT-ANTI, both equi-keyed
    on l_orderkey with the supplier inequality as the join residual —
    all three shuffles share one orderkey partitioning, then
    TakeOrderedAndProject caps the per-supplier counts."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .alias("l3")
    )
    return (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "anti",
        )
        .join(o, F.col("l1.l_orderkey") == o.o_orderkey, "semi")
        .join(F.broadcast(s), F.col("l1.l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Time-series analytics over events: gap-filled resampling, trailing-window
# anomaly detection, truncated EWMA smoothing. The reference's docs describe
# time-bucketed rollups as the hypertable use case; these extend the rollup
# into the standard continuous-aggregate toolkit. All three share one
# gap-filled hourly grid: per event_type, the FULL [global min hour, global
# max hour] bucket range with per-bucket count (0 in gaps) and rounded
# hourly value sum (NULL in gaps).
#
# Scale posture: the grid is built from the ALREADY-AGGREGATED hourly
# relation (types x hours — years of data are still only ~10^4 rows per
# type), so the window functions and the sequence-explode run over the
# rollup output, never the raw fact; the only fact-sized work is the
# initial hourly aggregation (one shuffle, map-side partial).
# ---------------------------------------------------------------------------

_DUCK_HOURLY_GRID = f"""
    hourly AS MATERIALIZED (
      SELECT event_type, epoch_ns(ts) // {NS_PER_HOUR} AS h,
             count(*)::BIGINT AS n, round(sum(value)::DOUBLE, 2) AS v
      FROM events GROUP BY 1, 2),
    bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM hourly),
    grid AS MATERIALIZED (
      SELECT t.event_type, g.h, coalesce(hh.n, 0)::BIGINT AS n, hh.v AS v
      FROM (SELECT DISTINCT event_type FROM hourly) t
      CROSS JOIN (SELECT unnest(generate_series(h0, h1)) AS h FROM bounds) g
      LEFT JOIN hourly hh ON hh.event_type = t.event_type AND hh.h = g.h)
"""



_plan_cache: dict = {}


def _session_key(spark: SparkSession) -> str:
    """Stable identity for a live session: applicationId is unique per
    SparkContext lifetime, so a stopped-and-GC'd session can never alias
    a new one (id(jobj) could be reused by the allocator — r4 ADVICE)."""
    return spark.sparkContext.applicationId


def _memo_cache(spark: SparkSession, sf_dir: str, tag: str, build):
    """Memoize a .cache()d DataFrame per (session, sf_dir, tag): repeat
    invocations (standalone query + gate compound + bench) reuse ONE
    cached plan instead of stacking fresh identical cache entries (the
    'Asked to cache already cached data' noise the r3 bench tail showed
    for the streaming band index). Keyed on applicationId (stable — not
    id(), which can be reused after GC); clear_memo_cache() unpersists
    and drops entries for long-lived sessions spanning many sf_dirs."""
    key = (_session_key(spark), sf_dir, tag)
    if key not in _plan_cache:
        _plan_cache[key] = build().cache()
    return _plan_cache[key]


def clear_memo_cache(spark: SparkSession | None = None) -> int:
    """Unpersist and drop ALL per-session memoized cache entries across
    the query modules (relational memo, shingle/signature/pair caches,
    stream band index, TPC-H graph). With a session, only that session's
    entries; without, all (best-effort unpersist — dead sessions just
    drop the dict entry). Returns the number removed. The hook long-lived
    sessions spanning many sf_dirs call between corpora (r4 ADVICE:
    entries were never unpersisted)."""
    from . import graph_queries, pipeline_queries

    caches = [
        _plan_cache,
        pipeline_queries._shingle_cache,
        pipeline_queries._sigs_cache,
        pipeline_queries._pair_cache,
        pipeline_queries._rep_pair_cache,
        pipeline_queries._stream_index_cache,
        pipeline_queries._pq_book_memo,
        pipeline_queries._pq_shortlist_memo,
        pipeline_queries._emb_count_memo,
        pipeline_queries._ivf_params_memo,
        pipeline_queries._ivfpq_model_memo,
        pipeline_queries._docs_count_memo,
        pipeline_queries._seed_keys_cache,
        pipeline_queries._sq8_codes_memo,
        graph_queries._graph_cache,
        graph_queries._scalar_memo,
    ]
    sk = _session_key(spark) if spark is not None else None
    removed = 0
    for cache in caches:
        for k in [k for k in cache if sk is None or k[0] == sk]:
            val = cache.pop(k)
            vals = (
                val
                if isinstance(val, (list, tuple))
                else [val]
            )
            for v in vals:
                try:
                    v.unpersist()
                except Exception:
                    pass  # not a DataFrame / session already stopped
            removed += 1
    return removed


def _hourly_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, h, n, v) over the dense global hour range; n=0 and
    v=NULL in gap buckets. The sequence+explode builds each type's grid
    from one broadcast 1-row bounds aggregate — no driver loop.

    The hourly rollup is CACHED (memoized per session+sf_dir via
    _memo_cache): it feeds the bounds aggregate, the distinct-type list,
    and the grid join — uncached, Catalyst inlines the subtree into all
    three consumers and scans the fact 3x (measured); cached, the fact
    is read and aggregated once and the three consumers read the tiny
    rollup."""
    hourly = _memo_cache(
        spark,
        sf_dir,
        "hourly_rollup",
        lambda: load_events(spark, sf_dir)
        .groupBy("event_type", F.expr(f"ts DIV {NS_PER_HOUR}").alias("h"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v")),
    )
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (
        hourly.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("h0", "h1")).alias("h"))
    )
    return grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        "v",
    )


@register(
    "events_resample_gapfill",
    oracle=f"""
    WITH {_DUCK_HOURLY_GRID}
    SELECT event_type, h * 3600 AS hour_epoch_s, n,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
    FROM grid
    """,
)
def events_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resampling with forward fill: every hour in the
    observed range is materialized per event_type (count 0 where nothing
    happened), and the hourly value sum carries the last observed value
    through gaps — the time_bucket_gapfill + locf contract of hypertable
    engines. Forward fill is last-non-null over an UNBOUNDED PRECEDING
    row window on the rollup-sized relation."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _hourly_grid(spark, sf_dir).select(
        "event_type",
        (F.col("h") * 3600).alias("hour_epoch_s"),
        "n",
        F.last("v", ignorenulls=True).over(w).alias("v_ffill"),
    )


_CUSUM_SLACK = 0.5  # slack in σ units subtracted from each deviation
_CUSUM_H = 3.0  # decision threshold in σ units (on the ROUNDED stat)


@register(
    "events_changepoint_cusum",
    oracle=f"""
    WITH {_DUCK_HOURLY_GRID},
    base AS (
      SELECT event_type, h, n,
             avg(n::DOUBLE) OVER t AS mu,
             coalesce(stddev_pop(n::DOUBLE) OVER t, 0) AS sd
      FROM grid
      WINDOW t AS (PARTITION BY event_type)),
    rs_t AS (
      SELECT event_type, h, n, sd,
             sum(n - mu - {_CUSUM_SLACK} * sd) OVER w AS rs
      FROM base
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    cum AS (
      SELECT event_type, h, n, sd, rs,
             min(rs) OVER w AS lo
      FROM rs_t
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_type, h * 3600 AS hour_epoch_s, n,
           round(rs - lo, 2) AS cusum
    FROM cum
    WHERE sd > 0 AND round(rs - lo, 2) > round({_CUSUM_H} * sd, 2)
    """,
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the hourly event-volume series:
    per type, cumulative sum of slack-adjusted deviations from the
    type's mean, reset-free via the running-minimum identity
    S⁺_t = RS_t − min_{i≤t}(RS_i) (exactly the max(0, S+x) recursion,
    but expressible as two windows instead of an un-SQL-able recurrence).
    Hours where S⁺ exceeds {_CUSUM_H}σ are flagged — the level-shift
    detector that catches 'traffic permanently moved', which the
    pointwise z-score (events_anomaly_zscore) misses by design.

    Plan shape: everything runs on the memoized types×hours grid — one
    per-type stats window, one ordered cumulative window pair; the fact
    is scanned once (cached rollup). Threshold compares ROUNDED doubles
    on both engines so IEEE noise can't flip a boundary hour."""
    grid = _hourly_grid(spark, sf_dir)
    t = Window.partitionBy("event_type")
    base = grid.select(
        "event_type",
        "h",
        "n",
        F.avg(F.col("n").cast("double")).over(t).alias("mu"),
        F.coalesce(
            F.stddev_pop(F.col("n").cast("double")).over(t), F.lit(0.0)
        ).alias("sd"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dev = F.col("n") - F.col("mu") - _CUSUM_SLACK * F.col("sd")
    rs_t = base.select(
        "event_type", "h", "n", "sd", F.sum(dev).over(w).alias("rs")
    )
    cum = rs_t.select(
        "event_type", "h", "n", "sd", "rs", F.min("rs").over(w).alias("lo")
    )
    s = F.round(F.col("rs") - F.col("lo"), 2)
    return cum.filter(
        (F.col("sd") > 0) & (s > F.round(_CUSUM_H * F.col("sd"), 2))
    ).select(
        "event_type",
        (F.col("h") * 3600).cast("long").alias("hour_epoch_s"),
        "n",
        s.alias("cusum"),
    )


_Z_TRAIL = 24  # trailing window (hours) for the anomaly baseline
_Z_MIN_OBS = 12  # minimum trailing buckets before scoring
_Z_CUT = 2.0  # |z| threshold, applied to the ROUNDED score on both engines


@register(
    "events_anomaly_zscore",
    oracle=f"""
    WITH {_DUCK_HOURLY_GRID},
    scored AS (
      SELECT event_type, h, n,
             count(*) OVER w AS n_obs,
             round((n - avg(n::DOUBLE) OVER w)
                   / nullif(stddev_samp(n::DOUBLE) OVER w, 0), 2) AS z
      FROM grid
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN {_Z_TRAIL} PRECEDING AND 1 PRECEDING))
    SELECT event_type, h * 3600 AS hour_epoch_s, n, z
    FROM scored
    WHERE n_obs >= {_Z_MIN_OBS} AND abs(z) >= {_Z_CUT}
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: each hourly event count scored
    against the mean/stddev of the PRECEDING {_Z_TRAIL} buckets (current
    bucket excluded, so a spike can't inflate its own baseline), flagged
    when |z| >= {_Z_CUT}. The threshold compares the ROUNDED score on
    both engines — the dedup-cosine trick — so IEEE noise can't flip a
    boundary row. Gap buckets count as 0, which is exactly what makes a
    dead-quiet hour after steady traffic an anomaly."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-_Z_TRAIL, -1)
    )
    x = F.col("n").cast("double")
    return (
        _hourly_grid(spark, sf_dir)
        .select(
            "event_type",
            "h",
            "n",
            F.count("*").over(w).alias("n_obs"),
            F.round(
                (x - F.avg(x).over(w))
                / F.nullif(F.stddev_samp(x).over(w), F.lit(0.0)),
                2,
            ).alias("z"),
        )
        .filter(
            (F.col("n_obs") >= _Z_MIN_OBS) & (F.abs(F.col("z")) >= _Z_CUT)
        )
        .select(
            "event_type",
            (F.col("h") * 3600).alias("hour_epoch_s"),
            "n",
            "z",
        )
    )


_EWMA_ALPHA = 0.3
_EWMA_TAPS = 12  # truncated impulse response length (hours)
# literal weights alpha*(1-alpha)^j — repr() round-trips the exact double,
# so DuckDB and Spark parse bit-identical coefficients
_EWMA_W = [_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j for j in range(_EWMA_TAPS)]


@register(
    "events_ewma_smooth",
    oracle=f"""
    WITH {_DUCK_HOURLY_GRID}
    SELECT event_type, h * 3600 AS hour_epoch_s, n,
           round(({' + '.join(f'{w!r}::DOUBLE * coalesce(lag(n, {j}) OVER w, 0)' for j, w in enumerate(_EWMA_W))})::DOUBLE,
                 3) AS ewma
    FROM grid
    WINDOW w AS (PARTITION BY event_type ORDER BY h)
    """,
)
def events_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the hourly event rate,
    TRUNCATED to {_EWMA_TAPS} taps: y_t = sum_j alpha*(1-alpha)^j *
    x_(t-j). The closed-form FIR truncation replaces the recursive
    definition (which would need sequential state) with {_EWMA_TAPS}
    lag() terms — pure window codegen over the rollup-sized grid, and
    the tail mass below the truncation is < (1-alpha)^{_EWMA_TAPS} ~ 1%.
    Both engines sum the SAME literal coefficients in the same order."""
    w = Window.partitionBy("event_type").orderBy("h")
    terms = [
        F.lit(wj) * F.coalesce(F.lag("n", j).over(w), F.lit(0))
        for j, wj in enumerate(_EWMA_W)
    ]
    ewma = terms[0]
    for t in terms[1:]:
        ewma = ewma + t
    return _hourly_grid(spark, sf_dir).select(
        "event_type",
        (F.col("h") * 3600).alias("hour_epoch_s"),
        "n",
        F.round(ewma, 3).alias("ewma"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "events_pivot_wide",
    oracle=f"""
    SELECT user_id,
           {', '.join(f"sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)::BIGINT AS n_{t}" for t in _EVENT_TYPES)},
           round(sum(CASE WHEN event_type = 'purchase' THEN value
                          ELSE 0 END)::DOUBLE, 2) AS purchase_value
    FROM events GROUP BY user_id
    """,
)
def events_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot: one row per user with per-event-type counts and
    total purchase value — the feature-matrix shape every behavioral
    model ingests. Uses the DataFrame pivot API with an EXPLICIT value
    list (no hidden distinct-values pass — at 100 TB an implicit pivot
    first runs a full distinct over the pivot column), compiling to one
    user_id shuffle of conditional aggregates."""
    e = load_events(spark, sf_dir)
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("val"),
        )
    )
    return wide.select(
        "user_id",
        *[
            F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
        F.coalesce(F.col("purchase_val"), F.lit(0.0)).alias("purchase_value"),
    )


@register(
    "agg_cube_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*)::BIGINT AS n,
           round(sum(l_quantity)::DOUBLE, 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation — all 2^2 grouping sets (flag×status, flag,
    status, grand total) in one pass, completing the grouping trio next
    to plain GROUP BY (q1) and ROLLUP (agg_rollup_region_nation). Spark
    expands the cube map-side into the same shuffle as a plain
    aggregation (rows replicated per grouping set, partial-agg
    combined); NULL marks the rolled-up dimensions identically on both
    engines (the group columns contain no real NULLs here)."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


_RANGE_WIN_NS = 600 * 1_000_000_000  # 10 minutes


@register(
    "events_range_window",
    oracle=f"""
    SELECT event_id, event_type, epoch_ns(ts) AS ts,
           count(*) OVER w AS n_win,
           round(sum(value) OVER w, 2) AS sum_win
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY epoch_ns(ts)
                 RANGE BETWEEN {_RANGE_WIN_NS} PRECEDING AND CURRENT ROW)
    """,
)
def events_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per event, the count and value sum of all
    same-type events in the PRECEDING 10 minutes — a frame defined by
    the ORDER-BY VALUE (epoch nanos), not row offsets, so ties at the
    same timestamp all join the frame on both engines (the semantics a
    ROWS frame cannot express). The trailing-rate-per-entity shape of
    rate limiting and burst detection; one event_type shuffle, frame
    evaluation streams within each sorted partition."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts")
        .rangeBetween(-_RANGE_WIN_NS, 0)
    )
    return load_events(spark, sf_dir).select(
        "event_id",
        "event_type",
        "ts",
        F.count("*").over(w).alias("n_win"),
        F.round(F.sum("value").over(w), 2).alias("sum_win"),
    )


@register(
    "data_quality_audit",
    oracle="""
    WITH col_checks AS (
      SELECT * FROM (
        SELECT 'li_qty_range' AS chk,
               sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)::BIGINT AS n_bad,
               count(*)::BIGINT AS n_checked
        FROM lineitem
        UNION ALL
        SELECT 'li_price_positive',
               sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END)::BIGINT,
               count(*)::BIGINT
        FROM lineitem
        UNION ALL
        SELECT 'li_discount_range',
               sum(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 0 ELSE 1 END)::BIGINT,
               count(*)::BIGINT
        FROM lineitem)),
    fk_li_orders AS (
      SELECT 'li_orderkey_fk' AS chk,
             count(*) FILTER (WHERE o.o_orderkey IS NULL)::BIGINT AS n_bad,
             count(*)::BIGINT AS n_checked
      FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey),
    fk_orders_cust AS (
      SELECT 'orders_custkey_fk' AS chk,
             count(*) FILTER (WHERE c.c_custkey IS NULL)::BIGINT AS n_bad,
             count(*)::BIGINT AS n_checked
      FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey),
    pk AS (
      SELECT 'orders_pk_unique' AS chk,
             (count(*) - count(DISTINCT o_orderkey))::BIGINT AS n_bad,
             count(*)::BIGINT AS n_checked
      FROM orders)
    SELECT chk, n_bad, n_checked FROM col_checks
    UNION ALL SELECT * FROM fk_li_orders
    UNION ALL SELECT * FROM fk_orders_cust
    UNION ALL SELECT * FROM pk
    """,
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit — the constraint-validation suite
    (Deequ-style) every ingest pipeline gates on: per-check violation
    counts for column-range rules, referential integrity, and key
    uniqueness, in one result relation.

    Plan shape: the three lineitem column rules share ONE scan (a single
    aggregation of conditional sums — adding rules is free); each FK
    rule is one broadcast-able left join counted without materializing
    violations; PK uniqueness is count vs distinct-count in one agg. At
    100 TB the audit is two fact scans + two dimension joins total —
    never per-rule passes. Violating ROWS (not just counts) come free by
    swapping the aggregate for the filter; the graph-side twin is
    doctor() (dangling edges / refcount checks) on the property store."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")

    def chk(name, bad, total):
        return F.struct(
            F.lit(name).alias("chk"),
            bad.cast("long").alias("n_bad"),
            total.cast("long").alias("n_checked"),
        )

    bad = lambda cond: F.sum(F.when(cond, 0).otherwise(1))  # noqa: E731
    col_checks = li.agg(
        F.explode(
            F.array(
                chk("li_qty_range", bad(F.col("l_quantity").between(1, 50)), F.count("*")),
                chk("li_price_positive", bad(F.col("l_extendedprice") > 0), F.count("*")),
                chk("li_discount_range", bad(F.col("l_discount").between(0, 1)), F.count("*")),
            )
        ).alias("s")
    ).select("s.*")
    fk1 = (
        li.join(o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left")
        .agg(
            F.lit("li_orderkey_fk").alias("chk"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_bad"),
            F.count("*").cast("long").alias("n_checked"),
        )
    )
    fk2 = (
        o.join(F.broadcast(c.select("c_custkey")), o.o_custkey == F.col("c_custkey"), "left")
        .agg(
            F.lit("orders_custkey_fk").alias("chk"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_bad"),
            F.count("*").cast("long").alias("n_checked"),
        )
    )
    pk = o.agg(
        F.lit("orders_pk_unique").alias("chk"),
        (F.count("*") - F.countDistinct("o_orderkey")).cast("long").alias("n_bad"),
        F.count("*").cast("long").alias("n_checked"),
    )
    return col_checks.unionByName(fk1).unionByName(fk2).unionByName(pk)


_NS_PER_DAY = 86_400 * 1_000_000_000


@register(
    "events_cohort_retention",
    oracle=f"""
    WITH e AS (SELECT user_id, epoch_ns(ts) // {_NS_PER_DAY} AS day
               FROM events),
    cohort AS (SELECT user_id, min(day) AS c_day FROM e GROUP BY user_id)
    SELECT c.c_day AS cohort_day,
           (e.day - c.c_day) AS day_offset,
           count(DISTINCT e.user_id)::BIGINT AS active_users
    FROM e JOIN cohort c ON c.user_id = e.user_id
    GROUP BY c.c_day, (e.day - c.c_day)
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — THE product-analytics matrix: users grouped by
    first-seen day (the cohort), counted as active at each day offset
    from that first day. Reads as 'of the users who arrived on day X,
    how many came back on day X+k'.

    Plan shape: one per-user min aggregation (cohort assignment), joined
    back onto the day-bucketed events by user_id — the join and both
    aggregations all shuffle on user_id, so one partitioning serves the
    whole query; the output is cohort×offset-sized (days², tiny at any
    fact scale)."""
    e = load_events(spark, sf_dir).select(
        "user_id", F.expr(f"ts DIV {_NS_PER_DAY}").alias("day")
    )
    cohort = e.groupBy("user_id").agg(F.min("day").alias("c_day"))
    return (
        e.join(cohort, "user_id")
        .groupBy(
            F.col("c_day").alias("cohort_day"),
            (F.col("day") - F.col("c_day")).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("active_users"))
    )


def _global_rank(df: DataFrame, order_cols, buckets: int = 32):
    """EXACT distributed global rank without a single-task window (the
    classic range-partition + offset-stitch): range-partition on the
    sort keys, row_number WITHIN each (pid-partitioned) range, then add
    the cumulative per-range counts — one bounded collect (≤ ``buckets``
    rows). The localCheckpoint pins the sampled range boundaries so the
    count job and the rank job see identical partitions. Returns
    (df + _rn, total_rows). Every key must be unique under order_cols
    for downstream positional bucketing to be exact."""
    spark = df.sparkSession
    s = (
        df.repartitionByRange(buckets, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    cnt = sorted(
        (r["_pid"], r["n"])
        for r in s.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    )
    offs, acc = [], 0
    for pid, n_ in cnt:
        offs.append((pid, acc))
        acc += n_
    off = spark.createDataFrame(offs or [(0, 0)], "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    ranked = (
        s.join(F.broadcast(off), "_pid")
        .withColumn(
            "_rn", F.row_number().over(w).cast("long") + F.col("_off")
        )
        .drop("_pid", "_off")
    )
    return ranked, acc


@register(
    "events_rfm_scores",
    oracle=f"""
    WITH p AS (
      SELECT user_id,
             max(epoch_ns(ts)) AS last_ts,
             count(*)::BIGINT AS frequency,
             round(sum(value)::DOUBLE, 2) AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT user_id,
           ((SELECT max(last_ts) FROM p) - last_ts) // {_NS_PER_DAY}
             AS recency_days,
           frequency, monetary,
           ntile(4) OVER (ORDER BY last_ts DESC, user_id)   AS r_quartile,
           ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_quartile,
           ntile(4) OVER (ORDER BY monetary DESC, user_id)  AS m_quartile
    FROM p
    """,
)
def events_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM scoring — recency / frequency / monetary quartiles per
    purchasing user, the segmentation every CRM pipeline computes. One
    per-user aggregation of the purchase stream, then three EXACT
    global rankings over the user-sized aggregate.

    The r6 formulation ran three unpartitioned ntile windows — a
    single-task total sort each, the shape the no-unbounded-global-
    windows plan guard now bans (the purchasing-user relation is
    corpus-scaled at 100 TB). Replaced by :func:`_global_rank` — range
    partition + per-range row_number + cumulative-offset stitch (one
    ≤32-row collect per metric) — and the exact positional ntile
    bucketing (first N mod 4 buckets hold ceil(N/4) rows), valid
    because the user_id tie-break makes every sort key unique and rank
    therefore positional. Deterministic,
    engine-exact, and every window in the plan is partitioned. Recency
    is measured against the corpus max timestamp (1-row broadcast), so
    the query is reproducible rather than wall-clock-dependent."""
    p = (
        load_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").cast("long").alias("frequency"),
            F.round(F.sum("value"), 2).alias("monetary"),
        )
    )
    mx = p.agg(F.max("last_ts").alias("corpus_max"))
    base = (
        p.crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.expr(f"(corpus_max - last_ts) DIV {_NS_PER_DAY}").alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
            "last_ts",
        )
        .localCheckpoint(eager=True)  # barrier: feeds 3 rankings + output
    )
    out = base
    for metric, key, qcol in (
        ("r", "last_ts", "r_quartile"),
        ("f", "frequency", "f_quartile"),
        ("m", "monetary", "m_quartile"),
    ):
        ranked, n_users = _global_rank(
            base.select("user_id", key), [F.desc(key), F.asc("user_id")]
        )
        # exact ntile(4) positionally: the first (N mod 4) buckets hold
        # ceil(N/4) rows, the rest floor(N/4) — pure integer arithmetic
        # (ceil(a/b) = (a+b-1) div b), no float boundary risk
        qsz, rem = divmod(max(n_users, 1), 4)
        r1 = rem * (qsz + 1)
        bucket = (
            f"CAST(CASE WHEN _rn <= {r1} THEN (_rn + {qsz}) DIV {qsz + 1} "
            f"ELSE {rem} + (_rn - {r1} + {max(qsz, 1) - 1}) "
            f"DIV {max(qsz, 1)} END AS INT)"
        )
        q = ranked.select("user_id", F.expr(bucket).alias(qcol))
        out = out.join(q, "user_id")
    return out.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        "r_quartile",
        "f_quartile",
        "m_quartile",
    )


_BASKET_MIN_CO = 3


@register(
    "basket_part_lift",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
    n_orders AS (SELECT count(DISTINCT okey) AS n FROM items),
    supp AS (SELECT part, count(*)::BIGINT AS n_part FROM items GROUP BY part),
    co AS (
      SELECT a.part AS part_a, b.part AS part_b, count(*)::BIGINT AS n_co
      FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
      GROUP BY a.part, b.part
      HAVING count(*) >= {_BASKET_MIN_CO})
    SELECT co.part_a, co.part_b, co.n_co,
           round((co.n_co * (SELECT n FROM n_orders))::DOUBLE
                 / (sa.n_part * sb.n_part), 3) AS lift
    FROM co
      JOIN supp sa ON sa.part = co.part_a
      JOIN supp sb ON sb.part = co.part_b
    """,
)
def basket_part_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: part pairs co-ordered more often than
    chance — co-occurrence count and LIFT (= P(a,b) / P(a)P(b), >1 means
    genuinely associated). The association-rule primitive behind
    bought-together recommendations.

    Scale posture: the pair self-join is keyed on the order and bounded
    BY THE BASKET SIZE (pairs per order = k², k = lines per order ≈
    constant), so candidate volume is linear in orders — the same
    bounded-candidates contract as every dedup join here. Support counts
    live in a part-cardinality aggregate that is UNBOUNDED (billions of
    parts at 100 TB), so it is never broadcast whole: the min-support
    HAVING prunes the pair set first, supp is LEFT-SEMI-joined to the
    surviving pair parts (≤ 2·|co| rows by construction), and only that
    pruned relation is broadcast back (r4 VERDICT 'weak' item fixed)."""
    # memoized cache barrier: items feeds FOUR consumers (order count,
    # support, both pair-join sides) — uncached, Catalyst inlines the
    # distinct into each and the fact is scanned+shuffled four times
    items = _memo_cache(
        spark,
        sf_dir,
        "basket_items",
        lambda: load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part"))
        .distinct(),
    )
    n_orders = items.agg(F.countDistinct("okey").alias("n"))
    supp = items.groupBy("part").agg(F.count("*").cast("long").alias("n_part"))

    def _build_co() -> DataFrame:
        a = items.select("okey", F.col("part").alias("part_a"))
        b = items.select(
            F.col("okey").alias("okey_b"), F.col("part").alias("part_b")
        )
        return (
            a.join(
                b,
                (F.col("okey") == F.col("okey_b"))
                & (F.col("part_a") < F.col("part_b")),
            )
            .groupBy("part_a", "part_b")
            .agg(F.count("*").cast("long").alias("n_co"))
            .filter(F.col("n_co") >= _BASKET_MIN_CO)
        )

    # memoized: co feeds THREE consumers (both surviving-part unions +
    # the final lift join) — uncached, the expensive pair join runs 3x
    co = _memo_cache(spark, sf_dir, "basket_co", _build_co)
    surviving = (
        co.select(F.col("part_a").alias("part"))
        .union(co.select(F.col("part_b").alias("part")))
        .distinct()
    )
    # prune the unbounded support aggregate to the pair-surviving parts
    # BEFORE any broadcast: the semi-join streams supp past a broadcast
    # of the small surviving-part set, and only the pruned result
    # (≤ 2·|co| rows) is broadcast into the lift join
    supp_pruned = supp.join(F.broadcast(surviving), "part", "left_semi")
    sa = supp_pruned.select(
        F.col("part").alias("part_a"), F.col("n_part").alias("na")
    )
    sb = supp_pruned.select(
        F.col("part").alias("part_b"), F.col("n_part").alias("nb")
    )
    return (
        co.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_co",
            F.round(
                (F.col("n_co") * F.col("n")) / (F.col("na") * F.col("nb")), 3
            ).alias("lift"),
        )
    )


_TRANSITION_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_ns(ts), event_id)
               AS next_type
      FROM events),
    cnt AS (
      SELECT event_type AS from_type, next_type AS to_type,
             count(*)::BIGINT AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type)
    SELECT from_type, to_type, n,
           round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type), 4) AS p
    FROM cnt
    """


@register("events_transition_matrix", oracle=_TRANSITION_ORACLE)
def events_transition_matrix(
    spark: SparkSession, sf_dir: str, bounded: bool = False
) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    ordered (current → next) event-type pair, the transition count and
    conditional probability P(next | current) — the sequence model
    behind funnel diagnostics and next-action prediction.

    Plan shape: one lead() window per user (shuffle on user_id, ordered
    by time with event_id tie-break so simultaneous events are
    deterministic on both engines), then a types²-sized aggregation and
    a row-normalizing window over that tiny matrix.

    ``bounded=True`` (r5 VERDICT directive #4): the celebrity-user-safe
    plan — lead() windows partition by (user, day) so ordered state per
    task is one user-day; the one transition each day boundary hides is
    recovered from per-bucket summaries (first/last event type by
    (ts, event_id), users×days rows) via a per-user lead over buckets,
    and the boundary pairs union with the in-bucket pairs before the
    same tiny aggregation. Hash-identical to the unbounded plan
    (equivalence-tested at sf0.1); day buckets are disjoint time
    ranges, so ordering buckets by day IS the event order."""
    ev = load_events(spark, sf_dir)
    if not bounded:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        seq = ev.select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        )
    else:
        day = F.expr(f"ts DIV {NS_PER_SEC * 86400}")
        e = ev.select("user_id", "event_id", "ts", "event_type", day.alias("day"))
        wb = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
        within = e.select(
            "event_type", F.lead("event_type").over(wb).alias("next_type")
        )
        # (ts, event_id) is unique, so the struct min/max never falls
        # through to comparing event_type itself
        buckets = e.groupBy("user_id", "day").agg(
            F.min(F.struct("ts", "event_id", "event_type"))
            .getField("event_type")
            .alias("first_type"),
            F.max(F.struct("ts", "event_id", "event_type"))
            .getField("event_type")
            .alias("last_type"),
        )
        wd = Window.partitionBy("user_id").orderBy("day")
        boundary = buckets.select(
            F.col("last_type").alias("event_type"),
            F.lead("first_type").over(wd).alias("next_type"),
        )
        seq = within.unionByName(boundary)
    cnt = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    norm = Window.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(norm), 4).alias("p"),
    )


@register("events_sessionize_bounded", oracle=_SESSIONIZE_ORACLE)
def events_sessionize_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate surface for the skew-bounded sessionize plan: same oracle as
    events_sessionize — hash-matching it IS the equivalence claim (the
    (user, day) sub-windows + cross-bucket merge reproduce the unbounded
    window exactly; see events_sessionize(bounded=True))."""
    return events_sessionize(spark, sf_dir, bounded=True)


@register("events_transition_bounded", oracle=_TRANSITION_ORACLE)
def events_transition_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate surface for the skew-bounded transition plan: same oracle as
    events_transition_matrix (see bounded=True there)."""
    return events_transition_matrix(spark, sf_dir, bounded=True)


def profile_table(df: DataFrame, columns=None) -> DataFrame:
    """Generic one-pass column profiler: per column — row count, nulls,
    approximate-free EXACT distinct count, and min/max rendered as
    strings (so one relation covers every type). The auto-profiling
    primitive behind catalog UIs and drift alerts.

    ALL columns profile in ONE aggregation pass (a single scan +
    map-side partial aggs); count_distinct per column adds expand-style
    work but no extra scan. Output is columns-count-sized."""
    from pyspark.sql import types as T

    cols = columns or df.columns
    types = dict(df.dtypes)

    def render(expr, col):
        # applied to the AGGREGATED value (min/max compare in the native
        # type — rendering first would make them lexicographic).
        # float/double -> string diverges between engines once Spark
        # switches to E-notation (|x| >= 1e7); round to a fixed-scale
        # DECIMAL first so the text form is engine-stable
        if types[col] in ("double", "float"):
            return F.round(expr, 2).cast(T.DecimalType(38, 2)).cast("string")
        return expr.cast("string")

    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).cast("long").alias(f"{c}__nn"),
            F.countDistinct(F.col(c)).cast("long").alias(f"{c}__nd"),
            render(F.min(F.col(c)), c).alias(f"{c}__mn"),
            render(F.max(F.col(c)), c).alias(f"{c}__mx"),
        ]
    row = df.agg(F.count("*").cast("long").alias("__n"), *aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                (F.col("__n") - F.col(f"{c}__nn")).alias("n_null"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__mn").alias("min_str"),
                F.col(f"{c}__mx").alias("max_str"),
                F.col("__n").alias("n_rows"),
            )
            for c in cols
        ]
    )
    return row.select(F.explode(structs).alias("s")).select("s.*")


@register(
    "profile_orders",
    oracle="""
    WITH n AS (SELECT count(*) AS n FROM orders)
    SELECT 'o_orderkey' AS col_name,
           (SELECT n FROM n) - count(o_orderkey) AS n_null,
           count(DISTINCT o_orderkey)::BIGINT AS n_distinct,
           min(o_orderkey)::VARCHAR AS min_str,
           max(o_orderkey)::VARCHAR AS max_str,
           (SELECT n FROM n)::BIGINT AS n_rows
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', (SELECT n FROM n) - count(o_orderstatus),
           count(DISTINCT o_orderstatus)::BIGINT,
           min(o_orderstatus), max(o_orderstatus), (SELECT n FROM n)::BIGINT
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', (SELECT n FROM n) - count(o_totalprice),
           count(DISTINCT o_totalprice)::BIGINT,
           round(min(o_totalprice), 2)::DECIMAL(38,2)::VARCHAR,
           round(max(o_totalprice), 2)::DECIMAL(38,2)::VARCHAR,
           (SELECT n FROM n)::BIGINT
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', (SELECT n FROM n) - count(o_orderpriority),
           count(DISTINCT o_orderpriority)::BIGINT,
           min(o_orderpriority), max(o_orderpriority), (SELECT n FROM n)::BIGINT
    FROM orders
    """,
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the orders table (gate instance of
    :func:`profile_table` over the string/int/double columns — the
    timestamp column is excluded because raw timestamps never cross the
    oracle boundary; profile it via epoch ints in practice)."""
    return profile_table(
        load(spark, sf_dir, "orders"),
        ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"],
    )


@register(
    "events_seasonality_profile",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, epoch_ns(ts) // {NS_PER_HOUR} AS h,
             count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2)
    SELECT event_type, (h % 24)::BIGINT AS hour_of_day,
           round(avg(n), 3) AS avg_events,
           max(n) AS max_events,
           count(*)::BIGINT AS n_buckets
    FROM hourly
    GROUP BY event_type, h % 24
    """,
)
def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal seasonality profile — average and peak events per
    hour-of-day per type, the seasonal baseline that completes the
    time-series quartet (gap-fill, anomaly z-score, EWMA, seasonality):
    an anomaly detector at scale compares against THIS profile, not a
    flat mean. Two tiny aggregations: the hourly rollup (the same
    fact-sized shuffle every time-series op here starts from) re-grouped
    into a 24×types-sized profile. Hour buckets are epoch-hour mod 24
    (UTC), deterministic on both engines."""
    hourly = (
        load_events(spark, sf_dir)
        .groupBy("event_type", F.expr(f"ts DIV {NS_PER_HOUR}").alias("h"))
        .agg(F.count("*").alias("n"))
    )
    return (
        hourly.groupBy(
            "event_type", (F.col("h") % 24).cast("long").alias("hour_of_day")
        )
        .agg(
            F.round(F.avg("n"), 3).alias("avg_events"),
            F.max("n").alias("max_events"),
            F.count("*").cast("long").alias("n_buckets"),
        )
    )


# ---------------------------------------------------------------------------
# Data layout: z-order zonemap (operators/layout.py)
# ---------------------------------------------------------------------------

_Z_BITS = 16
_Z_BUCKETS_SHIFT = 2 * _Z_BITS - 5  # top 5 bits -> 32 z-range buckets


def _zorder_zonemap_oracle() -> str:
    from .operators.layout import duck_zvalue

    top = (1 << _Z_BITS) - 1
    nx = f"((l_partkey - b.xmn) * {top}) // GREATEST(b.xmx - b.xmn, 1)"
    ny = f"((l_suppkey - b.ymn) * {top}) // GREATEST(b.ymx - b.ymn, 1)"
    return f"""
    WITH b AS (SELECT min(l_partkey) AS xmn, max(l_partkey) AS xmx,
                      min(l_suppkey) AS ymn, max(l_suppkey) AS ymx
               FROM lineitem),
    zed AS (
      SELECT l_partkey, l_suppkey,
             {duck_zvalue(f'({nx})', f'({ny})', _Z_BITS)} >> {_Z_BUCKETS_SHIFT}
               AS bucket
      FROM lineitem, b)
    SELECT bucket, count(*)::BIGINT AS n_rows,
           min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
           min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max
    FROM zed GROUP BY bucket ORDER BY bucket
    """


@register("layout_zorder_zonemap", oracle=_zorder_zonemap_oracle())
def layout_zorder_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The zonemap a z-ordered layout of lineitem over (l_partkey,
    l_suppkey) would produce: Morton-interleave the min/max-normalized
    keys (operators/layout.py — the same expression write_zordered lays
    files out by), split the z range into 32 fixed-width buckets (top 5
    bits — NO global sort or ntile window; the bucket id is a per-row
    projection), and report each bucket's row count and min/max of BOTH
    keys. The per-bucket spans are what parquet footers would carry
    per file — tight in both dimensions simultaneously, which is the
    data-skipping property a single-column sort cannot give (measured in
    tests/test_layout.py: real footer stats, z-ordered vs unsorted).

    Plan shape: one bounded 1-row bounds collect (inlined as literals →
    the z expression is pure codegen bit arithmetic over the scan), one
    partial-agg groupBy on the 32 bucket ids. Scale-invariant: no
    window, no sort, shuffle carries 32 groups.
    """
    from .operators.layout import norm_sql, zvalue_sql

    li = load(spark, sf_dir, "lineitem")
    b = li.agg(
        F.min("l_partkey").alias("xmn"),
        F.max("l_partkey").alias("xmx"),
        F.min("l_suppkey").alias("ymn"),
        F.max("l_suppkey").alias("ymx"),
    ).collect()[0]
    z = zvalue_sql(
        f"({norm_sql('l_partkey', b.xmn, b.xmx, _Z_BITS)})",
        f"({norm_sql('l_suppkey', b.ymn, b.ymx, _Z_BITS)})",
        _Z_BITS,
    )
    return (
        li.withColumn(
            "bucket", F.expr(f"{z} >> {_Z_BUCKETS_SHIFT}")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("l_partkey").alias("pk_min"),
            F.max("l_partkey").alias("pk_max"),
            F.min("l_suppkey").alias("sk_min"),
            F.max("l_suppkey").alias("sk_max"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Profiling: exact-arithmetic correlation matrix (lineitem numerics)
# ---------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_CORR_SCALE = 10_000  # column scaling cancels in the correlation


def _corr_matrix_oracle() -> str:
    sums = ["count(*)::BIGINT AS n"]
    for c in _CORR_COLS:
        sums.append(f"sum(x_{c})::DECIMAL(38,0) AS s_{c}")
        sums.append(f"sum(x_{c} * x_{c})::DECIMAL(38,0) AS ss_{c}")
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    ]
    for a, b in pairs:
        sums.append(f"sum(x_{a} * x_{b})::DECIMAL(38,0) AS sp_{a}_{b}")
    scaled = ", ".join(
        f"CAST(round({c} * {_CORR_SCALE}) AS BIGINT) AS x_{c}"
        for c in _CORR_COLS
    )
    arms = []
    for a, b in pairs:
        num = f"(n::DOUBLE * sp_{a}_{b}::DOUBLE - s_{a}::DOUBLE * s_{b}::DOUBLE)"
        da = f"(n::DOUBLE * ss_{a}::DOUBLE - s_{a}::DOUBLE * s_{a}::DOUBLE)"
        db = f"(n::DOUBLE * ss_{b}::DOUBLE - s_{b}::DOUBLE * s_{b}::DOUBLE)"
        arms.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, n, "
            f"round({num} / sqrt({da} * {db}), 4) AS corr FROM agg"
        )
    return (
        f"WITH sc AS (SELECT {scaled} FROM lineitem),\n"
        f"    agg AS (SELECT {', '.join(sums)} FROM sc)\n    "
        + "\n    UNION ALL ".join(arms)
        + "\n    ORDER BY col_a, col_b"
    )


@register("lineitem_corr_matrix", oracle=_corr_matrix_oracle())
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over the lineitem numeric columns —
    the profiling step a BI/feature pipeline runs before modeling. The
    moments are EXACT integer sums (columns scaled to ints — scaling
    cancels in the correlation — products summed as DECIMAL(38,0), so
    no float summation order exists); the final ratio is one fixed
    double expression per pair, rounded to 4dp, identical on both
    engines. ONE corpus scan computes all 15 moment aggregates
    map-side; the 6 output rows derive from the single 1-row aggregate
    (a broadcast-sized stack, no second scan)."""
    sc = load(spark, sf_dir, "lineitem").select(
        *[
            F.expr(f"CAST(round({c} * {_CORR_SCALE}) AS BIGINT)").alias(f"x_{c}")
            for c in _CORR_COLS
        ]
    )
    aggs = [F.count("*").cast("long").alias("n")]
    for c in _CORR_COLS:
        aggs.append(
            F.sum(F.col(f"x_{c}").cast("decimal(38,0)")).alias(f"s_{c}")
        )
        aggs.append(
            F.sum(
                (F.col(f"x_{c}") * F.col(f"x_{c}")).cast("decimal(38,0)")
            ).alias(f"ss_{c}")
        )
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    ]
    for a, b in pairs:
        aggs.append(
            F.sum(
                (F.col(f"x_{a}") * F.col(f"x_{b}")).cast("decimal(38,0)")
            ).alias(f"sp_{a}_{b}")
        )
    # localCheckpoint: the 1-row aggregate feeds 6 union arms — without
    # the barrier Catalyst inlines the corpus aggregation into each arm
    # (6 scans; the shared-subtree rule)
    agg = sc.agg(*aggs).localCheckpoint(eager=True)
    arms = []
    for a, b in pairs:
        num = (
            f"(CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        )
        da = (
            f"(CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
        )
        db = (
            f"(CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        )
        arms.append(
            agg.select(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col("n"),
                F.expr(f"round({num} / sqrt({da} * {db}), 4)").alias("corr"),
            )
        )
    out = arms[0]
    for arm in arms[1:]:
        out = out.unionByName(arm)
    return out.orderBy("col_a", "col_b")


_MAD_K = 3.0  # flag beyond 3 robust standard deviations
_MAD_CONSISTENCY = 1.4826  # MAD -> sigma under normality


@register(
    "events_outliers_mad",
    oracle=f"""
    WITH ev AS (SELECT event_type, value FROM events),
    med AS (
      SELECT event_type, median(value)::DOUBLE AS med
      FROM ev GROUP BY 1),
    dev AS (
      SELECT ev.event_type, ev.value, med.med,
             abs(ev.value - med.med) AS d
      FROM ev JOIN med USING (event_type)),
    mad AS (
      SELECT event_type, median(d)::DOUBLE AS mad
      FROM dev GROUP BY 1)
    SELECT dev.event_type,
           count(*)::BIGINT AS n,
           round(any_value(dev.med), 4) AS med,
           round(any_value(mad.mad), 4) AS mad,
           sum(CASE WHEN dev.d > {_MAD_K} * {_MAD_CONSISTENCY} * mad.mad
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY 1
    """,
)
def events_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier detection by median absolute deviation — the
    companion to events_anomaly_zscore that a heavy-tailed value
    distribution needs (mean/stddev are themselves dragged by the
    outliers; median/MAD are 50%-breakdown robust). Flags values whose
    absolute deviation exceeds 3 robust sigmas (MAD x 1.4826, the
    normal-consistency constant) and reports per-type counts.

    Parity: both engines compute the SAME linear-interpolation median
    (percentile == quantile_cont/median — the agg_quantiles precedent),
    so med/mad are bit-identical and the flag comparisons agree
    everywhere; displayed stats round to 4dp, flags compare unrounded.

    Plan: two grouped medians (per-type sorts — exact by design; the
    approx_percentile swap is the documented scale knob) and one
    counting pass, each joined back via a BROADCAST of the small
    per-type stats dim."""
    ev = load_events(spark, sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(d, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.first("med"), 4).alias("med"),
            F.round(F.first("mad"), 4).alias("mad"),
            F.sum(
                F.when(
                    F.col("d") > _MAD_K * _MAD_CONSISTENCY * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )
