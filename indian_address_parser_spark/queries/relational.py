"""Relational family over the TPC-H-style and events tables: aggregates
and ROLLUP, joins (Q5 shape, as-of), windows, sessionization, set
operations, quantiles and distinct counts."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def q_agg_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").alias("count_order"),
        )
    )


def q_join_mktsegment_orders(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 4).alias("total"))
    )


def q_window_top_order_per_cust(spark, sf_dir):
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 4).alias("top_price"))
    )


def q_join_regional_revenue(spark, sf_dir, region: str = "ASIA"):
    """TPC-H Q5 shape: revenue per nation inside one region — the 6-table
    join-reordering/broadcast benchmark. Scale shape: ``region`` and
    ``nation`` are O(10²) rows at ANY data scale → explicit broadcast
    (their filters then prune customer/supplier before the fact joins);
    the fact-side joins (orders⋈lineitem⋈supplier) stay shuffle joins
    that AQE can re-plan. Declared-only join order — Catalyst/CBO picks
    the physical order, which is the point of the exercise."""
    reg = spark.read.parquet(f"{sf_dir}/region.parquet").where(F.col("r_name") == region)
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
    )


def q_agg_pricing_rollup(spark, sf_dir):
    """ROLLUP (grouping-sets) coverage: pricing summary with subtotal and
    grand-total rows — one Expand + partial-agg pass in Catalyst, no extra
    shuffles vs the flat groupBy."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


def q_agg_events_windowed(spark, sf_dir):
    """Tumbling event-time windows in BATCH over the events table:
    1-hour epoch-aligned buckets per event_type, one partial-aggregated
    hash agg (window start is a row-local expression, no Python)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


ASOF_LEFT_TYPE = "click"
ASOF_RIGHT_TYPE = "purchase"


def q_join_asof_events(spark, sf_dir, hot_key_bucket_s: int | None = None):
    """AS-OF join — each left-type event matched to the LATEST right-type
    event by the same user at-or-before it (the time-series join Spark has
    no native operator for; reference-domain analog: attach the most
    recent crawl snapshot to every extraction run).

    Scale shape — union-and-carry: tag both sides, ONE shuffle by user_id,
    sort by (ts, side, id), and carry the last-seen right row forward with
    ``last(struct, ignorenulls)`` over a running frame. O(n log n) per
    key, single pass, no range self-join (a join on ``l.ts >= r.ts`` is
    O(n·m) per key and is the shape that melts at crawl scale), no Python.
    Right rows are pre-deduped to one per (user_id, ts) — max event_id
    wins — so the as-of match is well-defined under timestamp ties; the
    matched (id, value) travel in ONE struct so they can never come from
    different rows. The DuckDB oracle uses its native ASOF LEFT JOIN — a
    genuinely independent implementation of the semantics.

    ``hot_key_bucket_s``: per-key cardinality is human-bounded by default,
    but an adversarial hot key (a bot user with 10⁵+ events) serializes
    the per-user window into one task — window partitions are NOT
    skew-splittable (the measured CC lesson). Passing a bucket width
    composes the SAME carry shape in two bounded phases instead:
      1. window over (user_id, time_bucket) — running last-right WITHIN
         each bucket; hot keys now split across buckets/tasks;
      2. a per-user window over the tiny per-BUCKET spine (one row per
         distinct bucket) carries each bucket's final right into the next
         buckets (strictly-preceding frame), joined back on the same
         (user_id, bucket) partitioning; per-row match =
         coalesce(within-bucket, carried-in).
    Output is row-identical to the single-window plan (pytest-asserted on
    a planted 10⁵-event bot and against the driver oracle's fixture)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return asof_union_carry(e, hot_key_bucket_s=hot_key_bucket_s)


def asof_union_carry(
    e, hot_key_bucket_s: int | None = None
) -> DataFrame:
    """The as-of operator proper over an events frame (see
    q_join_asof_events for semantics and the hot-key pre-pass shape)."""
    from pyspark.sql import Window

    rights = (
        e.where(F.col("event_type") == ASOF_RIGHT_TYPE)
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("r_event_id"),
            F.max_by("value", "event_id").alias("r_value"),
        )
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("side"),
            F.struct("r_event_id", "r_value").alias("r"),
            F.lit(None).cast("long").alias("l_event_id"),
            F.col("r_event_id").alias("ord_id"),
        )
    )
    lefts = e.where(F.col("event_type") == ASOF_LEFT_TYPE).select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None)
        .cast("struct<r_event_id:bigint,r_value:double>")
        .alias("r"),
        F.col("event_id").alias("l_event_id"),
        F.col("event_id").alias("ord_id"),
    )
    unified = rights.unionByName(lefts)
    out_cols = (
        "l_event_id",
        "user_id",
        F.col("ts").alias("l_ts"),
        F.col("m.r_event_id").alias("r_event_id"),
        F.round(F.col("m.r_value"), 4).alias("r_value"),
    )

    if hot_key_bucket_s is None:
        w = (
            Window.partitionBy("user_id")
            .orderBy("ts", "side", "ord_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            unified.withColumn("m", F.last("r", ignorenulls=True).over(w))
            .where(F.col("side") == 1)
            .select(*out_cols)
        )

    # hot-key pre-pass: bounded windows over (user_id, bucket), then a
    # per-user carry over the tiny bucket spine
    bucket_us = int(hot_key_bucket_s) * 1_000_000
    unified = unified.withColumn(
        "bucket",
        (F.unix_micros(F.col("ts").cast("timestamp")) / bucket_us).cast("long"),
    )
    w_in = (
        Window.partitionBy("user_id", "bucket")
        .orderBy("ts", "side", "ord_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rows = unified.withColumn("m_in", F.last("r", ignorenulls=True).over(w_in))
    # one row per (user, bucket): that bucket's FINAL right (null when the
    # bucket holds only lefts) — partial-aggregated map-side
    spine = unified.groupBy("user_id", "bucket").agg(
        F.max_by(
            "r", F.when(F.col("side") == 0, F.struct("ts", "ord_id"))
        ).alias("bf")
    )
    w_carry = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = spine.withColumn(
        "carry", F.last("bf", ignorenulls=True).over(w_carry)
    ).select("user_id", "bucket", "carry")
    return (
        rows.join(carry, ["user_id", "bucket"])
        .withColumn("m", F.coalesce("m_in", "carry"))
        .where(F.col("side") == 1)
        .select(*out_cols)
    )


SESSION_GAP_US = 1_800 * 1_000_000  # 30-minute inactivity gap


def q_events_sessionize(spark, sf_dir):
    """Gap-based SESSIONIZATION in batch: per user, a new session starts
    after >30 min of inactivity; one row per session with start, event
    count, exact duration, summed value.

    All gap arithmetic is EXACT integer microseconds (``unix_micros`` here,
    ``epoch_us`` in the oracle) — casting timestamps to double seconds
    loses sub-second bits at 2024 epoch magnitudes (ULP ≈ 0.5 µs) and the
    two engines would round differently at gap boundaries. Scale shape:
    one shuffle by user_id, two window passes over the same sort (lag +
    running sum — Spark plans ONE sort), then a partial-aggregated
    groupBy; per-user row counts are human-bounded, so the window
    partitions cannot skew the way crawl-graph components do."""
    from pyspark.sql import Window

    e = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        # parquet ts arrives TIMESTAMP_NTZ; the session tz is pinned UTC, so
        # the cast is instant-preserving and unix_micros is exact int64
        "mu",
        F.unix_micros(F.col("ts").cast("timestamp")),
    )
    w = Window.partitionBy("user_id").orderBy("mu", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = (
        e.withColumn("prev_mu", F.lag("mu").over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_mu").isNull()
                | (F.col("mu") - F.col("prev_mu") > SESSION_GAP_US),
                1,
            ).otherwise(0),
        )
        .withColumn("sess_no", F.sum("is_new").over(run))
    )
    return numbered.groupBy("user_id", "sess_no").agg(
        F.min("ts").alias("session_start"),
        F.count("*").alias("n_events"),
        (F.max("mu") - F.min("mu")).alias("duration_us"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def q_agg_distinct_users(spark, sf_dir):
    """Exact DISTINCT-COUNT per group (Catalyst's Expand + two-phase agg
    path). Exact distinct shuffles the full (group, key) domain once; at
    100 TB cardinalities the drop-in is ``approx_count_distinct`` (HLL++,
    constant memory, mergeable map-side) — pytest bounds its relative
    error against this exact plan."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


SLIDE_WIN = "1 hour"
SLIDE_STEP = "30 minutes"


def q_agg_events_sliding(spark, sf_dir):
    """SLIDING event-time windows in batch (1 h window, 30 min slide) —
    every event lands in exactly window/slide = 2 overlapping buckets.
    Spark's ``F.window`` expands rows JVM-side before one partial-agg
    shuffle; the DuckDB oracle reconstructs the same assignment by
    unnesting each event into its two epoch-aligned starts. The batch
    twin of a sliding streaming aggregation — same bucketing, no state."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.groupBy(F.window("ts", SLIDE_WIN, SLIDE_STEP).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n_events",
        )
    )


def q_set_ops_custkeys(spark, sf_dir):
    """Relational SET OPERATIONS as first-class plan nodes: customers who
    placed an order, INTERSECT those in the BUILDING segment, EXCEPT those
    who ever placed an urgent order (standard-SQL precedence: INTERSECT
    binds tighter, so the Spark chain mirrors `(A ∩ B) − C`). Catalyst
    compiles intersect→left-semi + aggregate and subtract→left-anti +
    aggregate — shuffled on the key, AQE-coalesced; no driver-side set
    arithmetic."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with_orders = orders.select(F.col("o_custkey").alias("c_custkey"))
    building = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return with_orders.intersect(building).subtract(urgent)


QUANTILE_PROBS = (0.5, 0.9, 0.99)


def q_agg_quantiles(spark, sf_dir):
    """EXACT grouped percentiles (interpolated, type-7/``quantile_cont``
    semantics — Spark's ``percentile`` and DuckDB's ``quantile_cont`` both
    interpolate at rank p·(n−1), so the values hash-match). Exact
    percentile buffers each group's values, which is the correct tool for
    bounded group sizes; at 100 TB-scale value sets the drop-in is
    ``approx_percentile`` (t-digest sketch, mergeable map-side) — the
    pytest bounds its error against this exact plan."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    probs = {f"p{int(p * 100)}": p for p in QUANTILE_PROBS}
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        *[
            F.round(F.expr(f"percentile(o_totalprice, {p})"), 4).alias(name)
            for name, p in probs.items()
        ],
    )


def oracles() -> dict[str, str]:
    """DuckDB oracle SQL per registered relational query."""
    return {
        "agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "join_mktsegment_orders": """
            SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 4) AS total
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "window_top_order_per_cust": """
            SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS top_price FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
              FROM orders
            ) WHERE rk = 1
        """,
        "join_regional_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM region
            JOIN nation   ON n_regionkey = r_regionkey
            JOIN customer ON c_nationkey = n_nationkey
            JOIN orders   ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
        """,
        "agg_pricing_rollup": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS n_rows,
                   round(sum(l_quantity), 4) AS sum_qty
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "agg_events_windowed": """
            SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "join_asof_events": f"""
            WITH rights AS (
              SELECT user_id, ts, max(event_id) AS r_event_id,
                     max_by(value, event_id) AS r_value
              FROM events WHERE event_type = '{ASOF_RIGHT_TYPE}'
              GROUP BY user_id, ts
            ),
            lefts AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = '{ASOF_LEFT_TYPE}'
            )
            SELECT l.event_id AS l_event_id, l.user_id, l.ts AS l_ts,
                   r.r_event_id, round(r.r_value, 4) AS r_value
            FROM lefts l ASOF LEFT JOIN rights r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "events_sessionize": f"""
            WITH seq AS (
              SELECT user_id, event_id, ts, value, epoch_us(ts) AS mu,
                     lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ) AS prev_mu
              FROM events
            ),
            numbered AS (
              SELECT *,
                     sum(CASE WHEN prev_mu IS NULL
                              OR mu - prev_mu > {SESSION_GAP_US}
                         THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY mu, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS sess_no
              FROM seq
            )
            SELECT user_id, cast(sess_no AS bigint) AS sess_no,
                   min(ts) AS session_start,
                   count(*) AS n_events,
                   max(mu) - min(mu) AS duration_us,
                   round(sum(value), 4) AS sum_value
            FROM numbered GROUP BY user_id, sess_no
        """,
        "agg_quantiles": f"""
            SELECT o_orderpriority,
                   count(*) AS n_orders,
                   {", ".join(
                       f"round(quantile_cont(o_totalprice, {p}), 4) AS p{int(p * 100)}"
                       for p in QUANTILE_PROBS
                   )}
            FROM orders GROUP BY o_orderpriority
        """,
        "agg_distinct_users": """
            SELECT event_type,
                   count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "agg_events_sliding": """
            WITH assigned AS (
              SELECT event_type,
                     unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                             time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]
                     ) AS win_start
              FROM events
            )
            SELECT win_start, event_type, count(*) AS n_events
            FROM assigned GROUP BY win_start, event_type
        """,
        "set_ops_custkeys": """
            SELECT o_custkey AS c_custkey FROM orders
            INTERSECT
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            EXCEPT
            SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        """,
    }
