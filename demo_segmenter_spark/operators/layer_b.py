"""Layer B — relational/batch surface for the DuckDB-oracle acceptance
metric (SURVEY.md §2 Layer B). Provenance: driver contract
(BASELINE.json:2), not the reference (a Kafka Streams demo has no
optimizer-visible relational surface — SURVEY.md §2 exhaustiveness
note).

Cross-engine typing discipline (see registry docstring):
- integer-valued computed columns are BIGINT on both sides (Spark
  ``.cast("long")`` where a builtin returns int32; DuckDB
  ``CAST(... AS BIGINT)`` where a builtin returns HUGEINT/INTEGER);
- double aggregates rounded to 2dp (4dp for rates/ratios) on both;
- every ranking/limit has a unique-key total order.

Scale notes (100 TB) are given per operator; the common themes:
dimension joins broadcast; fact-fact joins shuffle on the join key and
rely on AQE for skew; aggregations are partial+final (map-side combine)
automatically via HashAggregateExec; filters/projections are pushed to
the parquet scan (asserted in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from demo_segmenter_spark.functions.compat import (
    EPS,
    cents,
    money_avg,
    money_sum,
    rnd,
    sql_cents,
    sql_money_avg,
    sql_money_sum,
    sql_rnd,
)
from demo_segmenter_spark.functions.lanes import (
    block_lane,
    np_dedup,
    np_gather,
    np_rnd,
)
from demo_segmenter_spark.functions.scratch import scratch_dir
from demo_segmenter_spark.registry import Bound, query
from demo_segmenter_spark.sources import load_table
from demo_segmenter_spark.streaming.sinks import run_to_memory
from demo_segmenter_spark.streaming.sources import (
    SESSION_STATE_PARTS,
    STREAM_STATE_PARTS,
)


# ---------------------------------------------------------------------------
# Scans, filters, projections
# ---------------------------------------------------------------------------


@query(
    "b_scan_project",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
""",
)
def b_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan + projection. Column pruning: the scan's ReadSchema
    must contain only these 4 of 11 columns (asserted in test_plans)."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@query(
    "b_filter_pred",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
FROM lineitem
WHERE l_quantity BETWEEN 5 AND 30
  AND l_returnflag IN ('A', 'R')
  AND (l_discount >= 0.05 OR l_tax < 0.02)
  AND l_shipdate >= TIMESTAMP '1996-01-01'
""",
)
def b_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive/disjunctive predicates with BETWEEN, IN, comparison —
    all pushable to the parquet scan (PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(5, 30)
        & F.col("l_returnflag").isin("A", "R")
        & ((F.col("l_discount") >= 0.05) | (F.col("l_tax") < 0.02))
        & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@query(
    "b_join_inner",
    oracle=f"""
SELECT o_orderstatus,
       count(*) AS n_items,
       {sql_money_sum("l_extendedprice")} AS sum_price
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
""",
)
def b_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join (orders ⋈ lineitem on orderkey). At scale both
    sides shuffle on the key (SMJ/shuffled-hash chosen by Catalyst+AQE);
    co-locating via bucketing on orderkey would remove the shuffle."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            money_sum(F.col("l_extendedprice")).alias("sum_price"),
        )
    )


@query(
    "b_join_broadcast",
    oracle=f"""
SELECT p_brand,
       count(*) AS n_items,
       {sql_money_sum("l_quantity")} AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""",
)
def b_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension join with an explicit broadcast hint: `part` is the
    small side, so the 100 TB fact table never shuffles — the plan must
    show BroadcastHashJoin (asserted in test_plans)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            money_sum(F.col("l_quantity")).alias("sum_qty"),
        )
    )


@query(
    "b_join_outer",
    oracle=f"""
SELECT c_custkey, c_mktsegment,
       count(o_orderkey) AS n_big_orders,
       {sql_rnd(f'coalesce(sum({sql_cents("o_totalprice")}) / 100.0, 0.0)', 2)} AS big_order_value
FROM customer
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
  ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
""",
)
def b_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with genuinely unmatched rows (orders filtered to
    >400k), then count(col) semantics over the null-extended side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_big_orders"),
            rnd(
                F.coalesce(F.sum(cents(F.col("o_totalprice"))) / 100.0, F.lit(0.0)), 2
            ).alias("big_order_value"),
        )
    )


@query(
    "b_join_semi",
    oracle="""
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
GROUP BY c_mktsegment
""",
)
def b_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one 300k+ order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "b_join_anti",
    oracle="""
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
GROUP BY c_mktsegment
""",
)
def b_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no 300k+ order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "b_join_theta",
    oracle="""
SELECT c_custkey, s_suppkey,
       round(c_acctbal - s_acctbal + 1e-06, 2) AS bal_gap
FROM customer JOIN supplier
  ON abs(c_acctbal - s_acctbal) < 25 AND c_nationkey <> s_nationkey
""",
)
def b_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi band) join: customer×supplier with |Δacctbal|<25
    in different nations. Plans to BroadcastNestedLoopJoin with the tiny
    side broadcast — the only viable strategy for pure inequality
    conditions; at scale you'd band-bucket acctbal to make it equi."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    cond = (F.abs(c.c_acctbal - s.s_acctbal) < 25) & (c.c_nationkey != s.s_nationkey)
    return c.join(F.broadcast(s), cond).select(
        "c_custkey",
        "s_suppkey",
        rnd(c.c_acctbal - s.s_acctbal, 2).alias("bal_gap"),
    )


@query(
    "b_join_asof",
    oracle="""
SELECT event_id, user_id, asof_orderkey, asof_totalprice
FROM (
    SELECT e.event_id, e.user_id,
           o.o_orderkey AS asof_orderkey,
           o.o_totalprice AS asof_totalprice,
           row_number() OVER (PARTITION BY e.event_id
                              ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
    FROM events e
    JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
)
WHERE rn = 1
""",
)
def b_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the latest order of the same user with
    o_orderdate <= ts (ties broken by o_orderkey desc).

    Spark has no native as-of exec; implemented with the scalable
    union-tag + running last_value rewrite (SURVEY.md §4c): tag orders
    kind=0 and events kind=1, union, sort within user by (ts, kind,
    o_orderkey) and carry the last non-null order forward. One shuffle
    on user_id + one sort — no O(events × orders) pairwise join, which
    is the difference between this and the naive rewrite at 100 TB.
    The oracle is the naive-but-obviously-correct window formulation.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ts"),
        F.lit(0).alias("kind"),
        "o_orderkey",
        "o_totalprice",
    )
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", F.lit(1).alias("kind"), "event_id"
    )
    u = o.unionByName(e.withColumns({"o_orderkey": F.lit(None).cast("long"),
                                     "o_totalprice": F.lit(None).cast("double")}),
                      allowMissingColumns=True)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", F.col("o_orderkey").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        u.withColumn("asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w))
        .withColumn(
            "asof_totalprice", F.last("o_totalprice", ignorenulls=True).over(w)
        )
        .filter((F.col("kind") == 1) & F.col("asof_orderkey").isNotNull())
        .select("event_id", "user_id", "asof_orderkey", "asof_totalprice")
    )


ASOF_TOLERANCE_DAYS = 8400  # staleness bound: fixture order dates sit
# 8209-9311 days before event timestamps (TPC-H dates vs synthetic event
# clock), so 8400 splits matches ~half fresh / ~half stale — both
# outcomes exercised


@query(
    "b_join_asof_tolerance",
    oracle=f"""
SELECT event_id, user_id,
       CASE WHEN age_days <= {ASOF_TOLERANCE_DAYS} THEN asof_orderkey END
           AS asof_orderkey,
       CASE WHEN age_days <= {ASOF_TOLERANCE_DAYS} THEN asof_totalprice END
           AS asof_totalprice,
       CASE WHEN age_days <= {ASOF_TOLERANCE_DAYS} THEN age_days END
           AS age_days
FROM (
    SELECT e.event_id, e.user_id,
           o.o_orderkey AS asof_orderkey,
           o.o_totalprice AS asof_totalprice,
           CAST(date_diff('day', o.o_orderdate, CAST(e.ts AS DATE))
                AS BIGINT) AS age_days,
           row_number() OVER (PARTITION BY e.event_id
                              ORDER BY o.o_orderdate DESC, o.o_orderkey DESC)
               AS rn
    FROM events e
    JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
)
WHERE rn = 1
""",
)
def b_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE — pandas merge_asof's ``tolerance``
    semantics on b_join_asof's plan: each event still matches its
    latest preceding order, but a match older than
    {ASOF_TOLERANCE_DAYS} days is considered STALE and nulls out
    (the feature-store freshness rule: a feature older than the
    window must not leak into training). Matched events are emitted
    either way, with (asof_orderkey, asof_totalprice, age_days)
    nulled past the bound — so the output exposes both outcomes and
    the oracle certifies the staleness decision row by row.

    Same scalable union-tag + running last_value rewrite as
    b_join_asof — ONE user_id exchange and one sort; the tolerance is
    a post-carry scan-local predicate, never a second join. The
    oracle stays the naive window formulation."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ts"),
        F.lit(0).alias("kind"),
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").alias("o_date"),
    )
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", F.lit(1).alias("kind"), "event_id"
    )
    u = o.unionByName(
        e.withColumns(
            {
                "o_orderkey": F.lit(None).cast("long"),
                "o_totalprice": F.lit(None).cast("double"),
                "o_date": F.lit(None).cast("date"),
            }
        ),
        allowMissingColumns=True,
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", F.col("o_orderkey").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    age = F.datediff(F.col("ts").cast("date"), F.col("asof_date")).cast("long")
    fresh = F.col("age_days") <= ASOF_TOLERANCE_DAYS
    return (
        u.withColumn(
            "asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w)
        )
        .withColumn(
            "asof_totalprice", F.last("o_totalprice", ignorenulls=True).over(w)
        )
        .withColumn("asof_date", F.last("o_date", ignorenulls=True).over(w))
        .filter((F.col("kind") == 1) & F.col("asof_orderkey").isNotNull())
        .withColumn("age_days", age)
        .select(
            "event_id",
            "user_id",
            F.when(fresh, F.col("asof_orderkey")).alias("asof_orderkey"),
            F.when(fresh, F.col("asof_totalprice")).alias("asof_totalprice"),
            F.when(fresh, F.col("age_days")).alias("age_days"),
        )
    )


@query(
    "b_join_interval",
    oracle="""
SELECT a.o_custkey AS c_key, count(*) AS n_close_pairs
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND a.o_orderkey < b.o_orderkey
 AND abs(date_diff('day', a.o_orderdate, b.o_orderdate)) <= 7
GROUP BY a.o_custkey
""",
)
def b_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range self-join: pairs of orders by the same customer
    within 7 days of each other. Equi on custkey carries the shuffle;
    the range predicate is applied as a post-join filter, so the plan
    stays a hash/merge join rather than a nested loop."""
    o = load_table(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_custkey").alias("c_key"),
        F.col("o_orderkey").alias("a_key"),
        F.col("o_orderdate").alias("a_date"),
    )
    b = o.select(
        F.col("o_custkey").alias("b_cust"),
        F.col("o_orderkey").alias("b_key"),
        F.col("o_orderdate").alias("b_date"),
    )
    return (
        a.join(
            b,
            (a.c_key == b.b_cust)
            & (a.a_key < b.b_key)
            & (
                F.abs(F.datediff(b.b_date, a.a_date)) <= 7
            ),
        )
        .groupBy("c_key")
        .agg(F.count("*").alias("n_close_pairs"))
    )


@query(
    "b_multiway_star",
    oracle=f"""
SELECT n_name,
       count(*) AS n_items,
       {sql_money_sum("l_extendedprice * (1 - l_discount)")} AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
)
def b_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join (TPC-H Q5 shape): region→nation→customer→orders→
    lineitem, revenue per nation for ASIA 1996-97. Dims broadcast; the
    two fact tables shuffle on orderkey; the region filter prunes the
    nation/customer side before it ever touches the facts."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_items"),
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@query(
    "b_agg_basic",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {sql_money_sum("l_quantity")} AS sum_qty,
       {sql_money_sum("l_extendedprice")} AS sum_base_price,
       {sql_money_sum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       {sql_money_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       {sql_money_avg("l_quantity")} AS avg_qty,
       {sql_money_avg("l_extendedprice")} AS avg_price,
       {sql_money_avg("l_discount", 4)} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def b_agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shape pricing summary: hash aggregate with partial+final
    phases (map-side combine) — the canonical scale-out aggregation."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        money_sum(F.col("l_quantity")).alias("sum_qty"),
        money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
        money_sum(disc_price).alias("sum_disc_price"),
        money_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
        money_avg(F.col("l_quantity")).alias("avg_qty"),
        money_avg(F.col("l_extendedprice")).alias("avg_price"),
        money_avg(F.col("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "b_rollup_hierarchy",
    oracle=f"""
SELECT event_type,
       CAST(date_trunc('day', ts) AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum({sql_cents("value")}) AS BIGINT) AS sum_cents,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS n_purchases
FROM events
GROUP BY event_type, date_trunc('day', ts)
""",
)
def b_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIERARCHICAL ROLLUP COMPOSITION — the continuous-aggregate /
    hypertable story (TimescaleDB caggs, Druid rollup segments, every
    streaming OLAP serving layer): maintain a FINE pre-aggregate
    (hourly per event type, counts + integer-cent sums) and answer
    coarser queries by RE-AGGREGATING THE ROLLUP, never the raw data.
    This query materializes the hourly level and derives the DAILY
    level strictly from it (sums of sums, counts of counts); the
    oracle computes the daily answer from RAW events — so the hash
    match certifies the algebraic re-aggregation property (all
    maintained aggregates are commutative monoids; avg is derived,
    never stored) across the hierarchy. Integer cents make the
    two-level sum bit-exact regardless of addition order.

    Scale: the raw scan happens ONCE at the finest level (map-side
    partials into ~types×hours rows); every coarser level is a rollup
    of a rollup — at 100 TB the hourly table is what a serving layer
    stores per segment, and day/week/month queries never touch raw
    events. The plan shows two tiny exchanges over rollup-sized rows
    after the one corpus agg."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hour")
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(cents(F.col("value"))).alias("sum_cents"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purchases"),
        )
    )
    return (
        hourly.groupBy(
            "event_type", F.to_date(F.date_trunc("day", "hour")).alias("day")
        )
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
            F.sum("n_purchases").cast("long").alias("n_purchases"),
        )
    )


@query(
    "b_rollup_hierarchy_stream",
    oracle=f"""
SELECT event_type,
       CAST(date_trunc('day', ts) AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum({sql_cents("value")}) AS BIGINT) AS sum_cents,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS n_purchases
FROM events
GROUP BY event_type, date_trunc('day', ts)
""",
)
def b_rollup_hierarchy_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of b_rollup_hierarchy, SAME oracle: the HOURLY
    level is maintained as a streaming windowed aggregation (the
    continuous-aggregate refresh loop — counts and integer-cent sums
    are the mergeable state a serving layer keeps per hour bucket),
    run to completion with availableNow in complete mode; the DAILY
    level is report-time re-aggregation of the completed hourly table,
    exactly the batch twin's derivation. Certifies that incremental
    maintenance of the fine level composes to the same coarse answers
    as a batch rebuild — the correctness contract behind every
    materialized-rollup refresh pipeline."""
    from demo_segmenter_spark.streaming.sources import stream_events

    hourly = (
        stream_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents(F.col("value"))).alias("sum_cents"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purchases"),
        )
        .select("w", "event_type", "n_events", "sum_cents", "n_purchases")
    )
    return (
        run_to_memory(hourly, "complete", SESSION_STATE_PARTS)
        .groupBy(
            "event_type",
            F.to_date(F.date_trunc("day", F.col("w.start"))).alias("day"),
        )
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
            F.sum("n_purchases").cast("long").alias("n_purchases"),
        )
    )


@query(
    "b_agg_distinct",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers,
       count(DISTINCT o_orderstatus) AS n_statuses
FROM orders
GROUP BY o_orderpriority
""",
)
def b_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT): Catalyst plans multi-distinct via expand +
    two-phase aggregate. (Approx HLL++ twin: b_agg_approx, bound-checked.)"""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderstatus").alias("n_statuses"),
        )
    )


@query(
    "b_agg_approx",
    bound=Bound(
        sql="""
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS approx_customers,
       quantile_cont(o_totalprice, 0.5) AS approx_median_price
FROM orders
GROUP BY o_orderpriority
""",
        keys=("o_orderpriority",),
        tol={"approx_customers": ("rel", 0.05), "approx_median_price": ("rel", 0.05)},
    ),
)
def b_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates: HLL++ distinct count + approximate
    percentiles. At 100 TB these replace exact distinct/percentile
    entirely — constant memory per group vs a shuffle of all distinct
    values. Sketch results are engine-specific, so the check is a
    bound, not a hash: per priority, both columns within 5% relative
    error of DuckDB's exact count(DISTINCT) and interpolated median
    (quantile_cont)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("approx_median_price"),
    )


@query(
    "b_agg_cube_rollup",
    oracle=f"""
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       {sql_money_sum("o_totalprice")} AS total_value
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def b_agg_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (status → priority → grand total); null group
    markers coalesced to 'ALL' on both sides so the hash can't diverge
    on null rendering."""
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum(F.col("o_totalprice")).alias("total_value"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_value",
        )
    )


@query(
    "b_agg_stats",
    oracle=f"""
WITH s AS (
    SELECT l_returnflag,
           count(*) AS n,
           sum({sql_cents("l_quantity")}) AS s1,
           sum({sql_cents("l_quantity")} * {sql_cents("l_quantity")}) AS s2,
           min(l_extendedprice) AS min_p,
           max(l_extendedprice) AS max_p,
           median(l_extendedprice) AS med_p,
           quantile_cont(l_extendedprice, 0.9) AS p90_p
    FROM lineitem
    GROUP BY l_returnflag
)
SELECT l_returnflag,
       {sql_rnd("sqrt((s2 * 1.0 - (s1 * 1.0) * s1 / n) / (n - 1)) / 100.0", 4)} AS sd_qty,
       {sql_rnd("(s2 * 1.0 - (s1 * 1.0) * s1 / n) / (n - 1) / 10000.0", 4)} AS var_qty,
       {sql_rnd("min_p", 2)} AS min_price,
       {sql_rnd("max_p", 2)} AS max_price,
       {sql_rnd("med_p", 2)} AS median_price,
       {sql_rnd("p90_p", 2)} AS p90_price
FROM s
""",
)
def b_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: sample stddev/variance computed from
    exact integer-cents moment sums (Σc, Σc² as BIGINT) so the result
    double is bit-identical to the oracle's — built-in stddev_samp uses
    an engine-specific summation order that cannot hash-match. Median /
    p90 interpolate the same two order statistics on both engines
    (Spark `percentile` == DuckDB `quantile_cont`)."""
    c = cents(F.col("l_quantity"))
    n = F.count(F.lit(1))
    s1 = F.sum(c)
    s2 = F.sum(c * c)
    var_cents = (s2 * 1.0 - (s1 * 1.0) * s1 / n) / (n - 1)
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            rnd(F.sqrt(var_cents) / 100.0, 4).alias("sd_qty"),
            rnd(var_cents / 10000.0, 4).alias("var_qty"),
            rnd(F.min("l_extendedprice"), 2).alias("min_price"),
            rnd(F.max("l_extendedprice"), 2).alias("max_price"),
            rnd(F.expr("percentile(l_extendedprice, 0.5)"), 2).alias("median_price"),
            rnd(F.expr("percentile(l_extendedprice, 0.9)"), 2).alias("p90_price"),
        )
    )


@query(
    "b_grouped_filter",
    oracle=f"""
SELECT c_nationkey, c_mktsegment, count(*) AS n_customers,
       {sql_money_avg("c_acctbal")} AS avg_bal
FROM customer
GROUP BY c_nationkey, c_mktsegment
HAVING count(*) >= 2 AND sum({sql_cents("c_acctbal")}) > 0
""",
)
def b_grouped_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING: post-aggregation filter on both count and avg."""
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            money_avg(F.col("c_acctbal")).alias("avg_bal"),
            F.sum(cents(F.col("c_acctbal"))).alias("_sum_cents"),
        )
        .filter((F.col("n_customers") >= 2) & (F.col("_sum_cents") > 0))
        .drop("_sum_cents")
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@query(
    "b_window_rank",
    oracle="""
SELECT c_custkey, c_mktsegment, c_acctbal,
       CAST(row_number() OVER w2 AS BIGINT) AS rn,
       CAST(rank() OVER w1 AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w1 AS BIGINT) AS drnk,
       CAST(ntile(4) OVER w2 AS BIGINT) AS quartile
FROM customer
WINDOW w1 AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC),
       w2 AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
""",
)
def b_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family. row_number/ntile use the total order (custkey
    tiebreak); rank/dense_rank use the value order so ties share ranks."""
    w1 = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc())
    w2 = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w2).cast("long").alias("rn"),
        F.rank().over(w1).cast("long").alias("rnk"),
        F.dense_rank().over(w1).cast("long").alias("drnk"),
        F.ntile(4).over(w2).cast("long").alias("quartile"),
    )


@query(
    "b_window_analytic",
    oracle="""
SELECT event_id, user_id,
       lag(value) OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       first_value(value) OVER (w ROWS UNBOUNDED PRECEDING) AS first_value_seen,
       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
       round(cume_dist() OVER (PARTITION BY user_id ORDER BY value), 6) AS value_cume
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def b_window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic family: lag/lead/first_value/cume_dist over the per-user
    event timeline (the raw material of sessionization)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wval = Window.partitionBy("user_id").orderBy("value")
    us = F.unix_micros("ts")
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("value").over(wrun).alias("first_value_seen"),
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.round(F.cume_dist().over(wval), 6).alias("value_cume"),
    )


@query(
    "b_window_frame",
    oracle=f"""
SELECT o_orderkey, o_custkey,
       {sql_rnd(f'sum({sql_cents("o_totalprice")}) OVER w_run / 100.0', 2)} AS running_spend,
       {sql_rnd(f'sum({sql_cents("o_totalprice")}) OVER w_roll / 100.0 / count(*) OVER w_roll', 2)} AS rolling3_avg
FROM orders
WINDOW w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING),
       w_roll AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
""",
)
def b_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit frames: running cumulative sum + 3-row rolling average
    per customer order history."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_roll = w.rowsBetween(-2, Window.currentRow)
    c = cents(F.col("o_totalprice"))
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        rnd(F.sum(c).over(w_run) / 100.0, 2).alias("running_spend"),
        rnd(
            F.sum(c).over(w_roll) / 100.0 / F.count(F.lit(1)).over(w_roll), 2
        ).alias("rolling3_avg"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k / set ops
# ---------------------------------------------------------------------------


@query(
    "b_sort_limit",
    oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 25
""",
)
def b_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit → TakeOrderedAndProject (per-partition top-25
    then merge on the driver: no full global sort materialized, which is
    what makes top-k viable on 100 TB). Total order via key tiebreaks."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .orderBy(
            F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
        )
        .limit(25)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


@query(
    "b_topk_per_group",
    oracle="""
SELECT c_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
FROM (
    SELECT c_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY c_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM customer JOIN orders ON c_custkey = o_custkey
)
WHERE rn <= 3
""",
)
def b_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: row_number ≤ k. Spark 3.5+ pushes the
    rank filter into the window exec (WindowGroupLimit) so each group
    keeps only k rows through the shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("c_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "b_set_ops",
    oracle="""
(SELECT o_custkey AS custkey FROM orders
 WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
 INTERSECT
 SELECT o_custkey FROM orders
 WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
EXCEPT
SELECT o_custkey FROM orders WHERE o_totalprice > 450000
""",
)
def b_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra: (1996 buyers ∩ 1997 buyers) − 450k+ spenders.
    INTERSECT/EXCEPT plan to left-semi/left-anti joins over distinct."""
    o = load_table(spark, sf_dir, "orders")

    def buyers(y0: str, y1: str) -> DataFrame:
        return o.filter(
            (F.col("o_orderdate") >= F.lit(y0).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(y1).cast("timestamp"))
        ).select(F.col("o_custkey").alias("custkey"))

    big = o.filter(F.col("o_totalprice") > 450000).select(
        F.col("o_custkey").alias("custkey")
    )
    return (
        buyers("1996-01-01", "1997-01-01")
        .intersect(buyers("1997-01-01", "1998-01-01"))
        .exceptAll(big.distinct())
    )


# ---------------------------------------------------------------------------
# Scalar-function surface + subqueries
# ---------------------------------------------------------------------------


@query(
    "b_scalar_string",
    oracle="""
SELECT p_partkey,
       lower(p_name) AS name_lc,
       upper(p_brand) AS brand_uc,
       trim(substr(p_name, 1, 12)) AS name_prefix,
       CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words,
       string_split(p_name, ' ')[1] AS first_word,
       p_brand || '/' || p_type AS brand_type,
       regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
       CAST(length(p_name) AS BIGINT) AS name_len,
       CAST(levenshtein(p_brand, 'Brand#13') AS BIGINT) AS lev_to_b13
FROM part
""",
)
def b_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface: case, substring/trim, split + element
    access, concat, regexp_extract, length, levenshtein — all
    codegen'd JVM expressions."""
    p = load_table(spark, sf_dir, "part")
    words = F.split("p_name", " ")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lc"),
        F.upper("p_brand").alias("brand_uc"),
        F.trim(F.substring("p_name", 1, 12)).alias("name_prefix"),
        F.size(words).cast("long").alias("n_words"),
        words.getItem(0).alias("first_word"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
        F.length("p_name").cast("long").alias("name_len"),
        F.levenshtein("p_brand", F.lit("Brand#13")).cast("long").alias("lev_to_b13"),
    )


@query(
    "b_scalar_datetime",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(month(o_orderdate) AS BIGINT) AS o_month,
       CAST(dayofmonth(o_orderdate) AS BIGINT) AS o_day,
       CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter,
       epoch_us(date_trunc('month', o_orderdate)) AS month_start_us,
       CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT)
           AS days_since_95,
       CAST(epoch(o_orderdate) AS BIGINT) AS unix_sec,
       epoch_us(o_orderdate + INTERVAL 90 DAY) AS due_us,
       strftime(o_orderdate, '%Y-%m-%d') AS iso_day
FROM orders
""",
)
def b_scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime scalar surface: extract fields, truncation, differences,
    epoch conversion, interval arithmetic, formatting."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("o_day"),
        F.quarter("o_orderdate").cast("long").alias("o_quarter"),
        F.unix_micros(F.date_trunc("month", F.col("o_orderdate"))).alias(
            "month_start_us"
        ),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        )
        .cast("long")
        .alias("days_since_95"),
        F.unix_timestamp("o_orderdate").cast("long").alias("unix_sec"),
        F.unix_micros(
            F.col("o_orderdate").cast("timestamp") + F.expr("INTERVAL 90 DAYS")
        ).alias("due_us"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
    )


@query(
    "b_scalar_math",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * l_discount + 1e-06, 2) AS discount_amt,
       abs(l_discount - 0.05) AS disc_dev,
       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
       round(ln(l_extendedprice + 1.0) + 1e-08, 4) AS price_ln,
       round(sqrt(l_quantity) + 1e-08, 4) AS qty_sqrt,
       round(pow(l_quantity, 2) + 1e-06, 2) AS qty_sq,
       CAST(CASE WHEN l_discount > 0.05 THEN 1
                 WHEN l_discount < 0.05 THEN -1 ELSE 0 END AS BIGINT) AS disc_sign
FROM lineitem
""",
)
def b_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar surface: rounding, abs, ceil/floor, ln/sqrt/pow,
    three-way sign (spelled as CASE so both engines agree on type)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rnd(F.col("l_extendedprice") * F.col("l_discount"), 2).alias("discount_amt"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil("l_extendedprice").cast("long").alias("price_ceil"),
        F.floor("l_extendedprice").cast("long").alias("price_floor"),
        rnd(F.log(F.col("l_extendedprice") + 1.0), 4).alias("price_ln"),
        rnd(F.sqrt("l_quantity"), 4).alias("qty_sqrt"),
        rnd(F.pow("l_quantity", F.lit(2)), 2).alias("qty_sq"),
        F.when(F.col("l_discount") > 0.05, 1)
        .when(F.col("l_discount") < 0.05, -1)
        .otherwise(0)
        .cast("long")
        .alias("disc_sign"),
    )


@query(
    "b_scalar_cond",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_acctbal >= 7500 THEN 'platinum'
            WHEN c_acctbal >= 5000 THEN 'gold'
            WHEN c_acctbal >= 2500 THEN 'silver'
            ELSE 'bronze' END AS tier,
       coalesce(nullif(c_mktsegment, 'AUTOMOBILE'), 'CAR') AS segment_renamed,
       CAST(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS BIGINT) AS in_debt,
       greatest(c_acctbal, 0.0) AS bal_clamped,
       least(CAST(c_nationkey AS BIGINT), 9) AS nation_capped
FROM customer
""",
)
def b_scalar_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional scalar surface: CASE WHEN ladders, nullif/coalesce,
    greatest/least clamps."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") >= 7500, "platinum")
        .when(F.col("c_acctbal") >= 5000, "gold")
        .when(F.col("c_acctbal") >= 2500, "silver")
        .otherwise("bronze")
        .alias("tier"),
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("AUTOMOBILE")), F.lit("CAR")
        ).alias("segment_renamed"),
        F.when(F.col("c_acctbal") < 0, 1).otherwise(0).cast("long").alias("in_debt"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_clamped"),
        F.least(F.col("c_nationkey").cast("long"), F.lit(9)).alias("nation_capped"),
    )


@query(
    "b_scalar_array",
    oracle="""
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       (round(CAST(embedding[1] AS DOUBLE) + 1e-08, 4) + 0.0) AS first_elem,
       (round((SELECT sum(CAST(x AS DOUBLE)) FROM unnest(embedding) AS t(x)) + 1e-08, 4)
           + 0.0) AS elem_sum,
       (round((SELECT max(CAST(x AS DOUBLE)) FROM unnest(embedding) AS t(x)) + 1e-08, 4)
           + 0.0) AS elem_max,
       (round((SELECT sum(CASE WHEN x > 0 THEN CAST(x AS DOUBLE) ELSE 0.0 END)
              FROM unnest(embedding) AS t(x)) + 1e-08, 4) + 0.0) AS pos_sum,
       CAST((SELECT count(*) FROM unnest(embedding) AS t(x) WHERE x > 0) AS BIGINT)
           AS n_pos
FROM embeddings
""",
)
def b_scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar + higher-order surface on array<float>: size,
    element access, HOF aggregate/filter/transform — the Spark side
    never leaves codegen; the oracle uses correlated unnest."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    fold = lambda col: F.aggregate(col, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        rnd(F.element_at(v, 1), 4).alias("first_elem"),
        rnd(fold(v), 4).alias("elem_sum"),
        rnd(F.array_max(v), 4).alias("elem_max"),
        rnd(fold(F.transform(v, lambda x: F.when(x > 0, x).otherwise(0.0))), 4).alias(
            "pos_sum"
        ),
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_pos"),
    )


@query(
    "b_scalar_json",
    oracle="""
SELECT event_id,
       CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_value,
       CAST(CASE WHEN regexp_extract(props, '"k": ([0-9]+)', 1) <> ''
                 THEN 1 ELSE 0 END AS BIGINT) AS has_k
FROM events
""",
)
def b_scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar surface via get_json_object (Jackson path
    evaluation JVM-side). Oracle mirrors with a regexp so the check
    does not depend on DuckDB's JSON extension being loadable."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        k.cast("long").alias("k_value"),
        F.when(k.isNotNull(), 1).otherwise(0).cast("long").alias("has_k"),
    )


@query(
    "b_scalar_map",
    oracle="""
SELECT event_id,
       'k' AS map_key,
       CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS map_value,
       CAST(1 AS BIGINT) AS map_size
FROM events
""",
)
def b_scalar_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map surface: from_json to map<string,bigint>, explode to
    key/value rows, map_keys/size. The oracle leans on the fixture's
    single-key JSON shape ({"k": n}) to stay SQL-expressible."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return ev.select(
        "event_id", F.explode(m).alias("map_key", "map_value"), F.size(m).alias("sz")
    ).select(
        "event_id", "map_key", "map_value", F.col("sz").cast("long").alias("map_size")
    )


@query(
    "b_subquery",
    oracle="""
SELECT c_custkey, c_nationkey, c_acctbal,
       round((SELECT avg(x.c_acctbal) FROM customer x
              WHERE x.c_nationkey = customer.c_nationkey) + 1e-06, 2) AS nation_avg
FROM customer
WHERE c_acctbal > (SELECT avg(x.c_acctbal) FROM customer x
                   WHERE x.c_nationkey = customer.c_nationkey)
""",
)
def b_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (customers above their nation's mean
    balance), written as actual SQL so Catalyst's decorrelation
    (RewriteCorrelatedScalarSubquery → aggregate + join) is exercised
    rather than hand-rewritten."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey, c_acctbal,
               round((SELECT avg(x.c_acctbal) FROM customer_v x
                      WHERE x.c_nationkey = c.c_nationkey) + 1e-06, 2) AS nation_avg
        FROM customer_v c
        WHERE c_acctbal > (SELECT avg(x.c_acctbal) FROM customer_v x
                           WHERE x.c_nationkey = c.c_nationkey)
        """
    )


@query(
    "b_pivot",
    oracle=f"""
SELECT o_orderpriority,
       {sql_money_sum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS F_total,
       {sql_money_sum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS O_total,
       {sql_money_sum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS P_total
FROM orders
GROUP BY o_orderpriority
""",
)
def b_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order totals per priority, one column per status. Spark's
    `pivot` with an explicit value list plans to conditional aggregates
    (no extra pass to discover values — important at scale); the oracle
    is the equivalent CASE-WHEN formulation."""
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(money_sum(F.when(F.lit(True), F.col("o_totalprice"))))
    )
    return piv.select(
        "o_orderpriority",
        F.col("F").alias("F_total"),
        F.col("O").alias("O_total"),
        F.col("P").alias("P_total"),
    )


@query(
    "b_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
""",
)
def b_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide measure columns to long (measure, val) rows —
    the inverse of b_pivot. Spark's `unpivot` plans to a single Expand
    node (one scan, rows duplicated 4x in-operator), NOT the 4-scan
    UNION ALL the oracle spells out — strictly better at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    )


@query(
    "b_agg_cube",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
       count(*) AS n_rows,
       {sql_money_sum("l_extendedprice")} AS sum_price
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def b_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE (all 4 grouping sets over flag×status) with GROUPING()
    markers disambiguating roll-up nulls from data nulls. Catalyst plans
    cube via a single Expand (4 replicas) + one hash aggregate — same
    one-pass shape ROLLUP gets; at 100 TB the Expand multiplies shuffle
    volume by #sets, which is why you cube low-cardinality dims only."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.count("*").alias("n_rows"),
            money_sum(F.col("l_extendedprice")).alias("sum_price"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status",
            "n_rows", "sum_price",
        )
    )


@query(
    "b_join_bucketed",
    oracle=f"""
SELECT o_orderpriority,
       count(*) AS n_items,
       {sql_money_sum("l_extendedprice")} AS sum_price
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
""",
)
def b_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (bucketed) fact-fact join — the 100 TB answer to
    b_join_inner's shuffle: both sides are written `bucketBy(8,
    orderkey)` once, then every subsequent join on the bucket key is
    shuffle-free (SortMergeJoin with zero Exchange on either side —
    asserted in tests/test_plans.py). At 100 TB you pay one write-side
    shuffle when landing the table, then amortize it over every
    downstream join/agg on that key."""
    import os
    import shutil

    loc = scratch_dir("bucketed", sf_dir)
    db = f"bucketed_{os.path.basename(loc)}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        if not spark.catalog.tableExists(f"{db}.{name}"):
            # bucketing metadata lives in the session catalog; a stale
            # location from an earlier session must go before re-landing
            shutil.rmtree(f"{loc}/{name}", ignore_errors=True)
            (
                load_table(spark, sf_dir, name)
                .write.bucketBy(8, key)
                .sortBy(key)
                .mode("overwrite")
                .saveAsTable(f"{db}.{name}")
            )
    o = spark.table(f"{db}.orders")
    li = spark.table(f"{db}.lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            money_sum(F.col("l_extendedprice")).alias("sum_price"),
        )
    )


@query(
    "b_join_skew_salted",
    oracle="""
SELECT event_id, c_mktsegment
FROM events JOIN customer ON user_id = c_custkey
""",
)
def b_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicitly salted equi-join (functions/skew.py): the left side
    scatters each hot key over 8 salt buckets, the right side is
    replicated 8x, and the shuffle key becomes (key, salt) — the manual
    fix for the one case AQE's skew splitting can't touch (a hot key on
    BOTH sides / stateful aggregation downstream). Row-identical to the
    plain join, which is exactly what the oracle hash checks."""
    from demo_segmenter_spark.functions.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return salted_join(ev, cust, "user_id").select("event_id", "c_mktsegment")


@query(
    "b_window_range",
    oracle=f"""
SELECT o_custkey, o_orderkey,
       {sql_rnd("sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY epoch(o_orderdate) RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)", 2)} AS sum_30d
FROM orders
""",
)
def b_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, vs b_window_frame's ROWS): per-customer
    rolling 30-day order-value sum. Spark's rangeBetween takes numeric
    offsets, so the order key is epoch seconds — the same trick needed
    for any interval frame at scale. All rows of equal orderdate are
    frame-peers (that's the RANGE semantic the oracle mirrors), so the
    output needs no tiebreaker to hash-match."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        rnd(F.sum("o_totalprice").over(w), 2).alias("sum_30d"),
    )


@query(
    "b_sample",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE (l_orderkey * 31 + l_linenumber) % 20 = 7
""",
)
def b_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic sampling: keep rows whose key-hash lands
    in 1 of 20 residue classes — the reproducible ~5% sample every
    training-data pipeline needs (TABLESAMPLE/`df.sample` is
    partition-layout-dependent and can't be replayed across engines or
    re-runs; key-modulo sampling is stable, joins cleanly with other
    samples of the same key space, and pushes down to the scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_orderkey") * 31 + F.col("l_linenumber")) % 20 == 7
    ).select("l_orderkey", "l_linenumber", "l_quantity")


def _roundtrip_dir(sf_dir: str, fmt: str) -> str:
    return f"{scratch_dir('roundtrip', sf_dir)}/{fmt}"


@query(
    "b_source_csv",
    oracle=f"""
SELECT c_mktsegment, count(*) AS n_customers, {sql_money_sum("c_acctbal")} AS sum_bal
FROM customer
GROUP BY c_mktsegment
""",
)
def b_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink round trip: write `customer` as headered CSV,
    read it back with an explicit schema (never infer on a 100 TB lake —
    inference is a full extra scan), aggregate. The oracle over the
    original parquet proves the text round trip is lossless for
    int/string/double. CSV scans can't push predicates or prune columns
    like parquet — which is the point of keeping this surface separate."""
    out = _roundtrip_dir(sf_dir, "csv")
    cust = load_table(spark, sf_dir, "customer")
    cust.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(cust.schema).option("header", True).csv(out)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        money_sum(F.col("c_acctbal")).alias("sum_bal"),
    )


@query(
    "b_source_json",
    oracle=f"""
SELECT event_type,
       count(*) AS n_events,
       {sql_money_sum("value")} AS sum_value,
       count(DISTINCT json_extract(props, '$.k')) AS n_distinct_k
FROM events
GROUP BY event_type
""",
)
def b_source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source/sink round trip on `events` — including the
    JSON-in-string `props` column (nested quoting is where JSON codecs
    break). Timestamps stay out of the projection: JSON serializes them
    as strings, and this query's contract is value fidelity of the
    numeric/string/nested columns."""
    out = _roundtrip_dir(sf_dir, "json")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "props"
    )
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(ev.schema).json(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        money_sum(F.col("value")).alias("sum_value"),
        F.countDistinct(F.get_json_object("props", "$.k")).alias("n_distinct_k"),
    )


@query(
    "b_source_orc",
    oracle=f"""
SELECT l_returnflag,
       count(*) AS n_items,
       {sql_money_sum("l_extendedprice")} AS sum_price,
       epoch_us(max(l_shipdate)) AS max_ship_us
FROM lineitem
GROUP BY l_returnflag
""",
)
def b_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round trip on `lineitem` including a µs
    timestamp column — ORC is the other columnar lake format Spark
    reads natively (predicate pushdown + column pruning apply the same
    way as parquet)."""
    out = _roundtrip_dir(sf_dir, "orc")
    li = load_table(spark, sf_dir, "lineitem")
    li.write.mode("overwrite").orc(out)
    # explicit schema: Spark 4 infers TIMESTAMP_NTZ from bare ORC reads
    back = spark.read.schema(li.schema).orc(out)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        money_sum(F.col("l_extendedprice")).alias("sum_price"),
        F.unix_micros(F.max("l_shipdate").cast("timestamp")).alias("max_ship_us"),
    )


@query(
    "b_source_xml",
    oracle=f"""
SELECT n_regionkey, count(*) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation
GROUP BY n_regionkey
""",
)
def b_source_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink round trip (built into Spark since 4.0 — the
    spark-xml merge): write `nation` as row-tagged XML, read it back
    with an explicit schema (XML inference is an extra full scan, same
    rule as CSV/JSON at lake scale), aggregate with a sorted string_agg
    so the hash pins row-level fidelity. XML scans are record-at-a-time
    like JSON — no pushdown, no pruning — which is why this stays an
    ingest-edge format feeding parquet, never the lake format."""
    out = _roundtrip_dir(sf_dir, "xml")
    nat = load_table(spark, sf_dir, "nation")
    nat.write.mode("overwrite").format("xml").option("rootTag", "nations").option(
        "rowTag", "nation"
    ).save(out)
    back = (
        spark.read.schema(nat.schema)
        .format("xml")
        .option("rowTag", "nation")
        .load(out)
    )
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
    )


@query(
    "b_agg_grouping_sets",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       {sql_money_sum("o_totalprice")} AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def b_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of cube/rollup): per-
    status totals, per-priority totals, and the grand total in ONE pass
    (single Expand + hash aggregate — not three scans unioned)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               {_spark_money_sum_sql("o_totalprice")} AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def _spark_money_sum_sql(expr: str) -> str:
    """Spark-SQL twin of compat.money_sum (same cents discipline)."""
    return (
        f"round(sum(cast(round({expr} * 100 + 1e-4, 0) as bigint)) / 100.0"
        " + 1e-6, 2)"
    )


@query(
    "b_upsert",
    oracle="""
SELECT o_orderkey, src, round(o_totalprice + 1e-06, 2) AS o_totalprice
FROM (
    SELECT o_orderkey, src, o_totalprice,
           row_number() OVER (PARTITION BY o_orderkey ORDER BY pri) AS rn
    FROM (
        SELECT o_orderkey, round(o_totalprice * 1.1 + 1e-06, 2) AS o_totalprice,
               'update' AS src, 0 AS pri
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey, round(o_totalprice + 1e-06, 2), 'base', 1
        FROM orders
    )
)
WHERE rn = 1
""",
)
def b_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert / MERGE INTO emulation (last-writer-wins): a
    simulated change batch (10% of keys, price bumped 10%) merged into
    the base table via union + priority row_number — the portable
    pattern when the table format has no native MERGE. One shuffle on
    the merge key; at 100 TB the same rewrite is what Delta/Iceberg
    compile MERGE into (join on key + copy-on-write), and partitioning
    the base by the merge-key bucket keeps the rewrite local."""
    o = load_table(spark, sf_dir, "orders")
    updates = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            rnd(F.col("o_totalprice") * 1.1, 2).alias("o_totalprice"),
            F.lit("update").alias("src"),
            F.lit(0).alias("pri"),
        )
    )
    base = o.select(
        "o_orderkey",
        rnd(F.col("o_totalprice"), 2).alias("o_totalprice"),
        F.lit("base").alias("src"),
        F.lit(1).alias("pri"),
    )
    w = Window.partitionBy("o_orderkey").orderBy("pri")
    return (
        updates.unionAll(base)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "src", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance under a retraction changelog — the
# Materialize/Flink-retract-stream contract: a grouped aggregate view
# is maintained from signed deltas (insert = +1, delete = -1, update =
# a delete+insert retraction PAIR), never recomputed from the base
# table. SUM/COUNT/AVG are self-maintainable because signed increments
# commute (MIN/MAX are the known exceptions — a retraction of the
# current extremum needs per-group multiset state, which is why real
# engines demote them to "recompute on retract"). The fixture derives
# a deterministic changelog from `orders`, folds it, and certifies the
# maintained view against the direct recompute over net-surviving rows
# IN-SCHEMA — the equality that defines IVM correctness.
# ---------------------------------------------------------------------------

_IVM_NEW_CENTS = f"CAST(round({sql_cents('o_totalprice')} * 1.1 + {EPS[0]!r}) AS BIGINT)"

_IVM_ORACLE = f"""
WITH ch AS (
    SELECT o_orderstatus, o_orderpriority, 1 AS op,
           {sql_cents("o_totalprice")} AS c
    FROM orders
    UNION ALL
    SELECT o_orderstatus, o_orderpriority, -1, {sql_cents("o_totalprice")}
    FROM orders WHERE o_orderkey % 7 = 3
    UNION ALL
    SELECT o_orderstatus, o_orderpriority, -1, {sql_cents("o_totalprice")}
    FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 7 <> 3
    UNION ALL
    SELECT o_orderstatus, o_orderpriority, 1, {_IVM_NEW_CENTS}
    FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 7 <> 3
), m AS (
    SELECT o_orderstatus, o_orderpriority,
           CAST(sum(op) AS BIGINT) AS n_rows,
           CAST(sum(op * c) AS BIGINT) AS cents
    FROM ch GROUP BY o_orderstatus, o_orderpriority
), d AS (
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_direct,
           CAST(sum(CASE WHEN o_orderkey % 10 = 0 THEN {_IVM_NEW_CENTS}
                         ELSE {sql_cents("o_totalprice")} END) AS BIGINT)
               AS dcents
    FROM orders WHERE o_orderkey % 7 <> 3
    GROUP BY o_orderstatus, o_orderpriority
)
SELECT m.o_orderstatus, m.o_orderpriority, m.n_rows,
       {sql_rnd("m.cents / 100.0", 2)} AS sum_price,
       {sql_rnd("m.cents / 100.0 / m.n_rows", 2)} AS avg_price,
       d.n_direct,
       {sql_rnd("d.dcents / 100.0", 2)} AS sum_direct
FROM m JOIN d USING (o_orderstatus, o_orderpriority)
"""


def _ivm_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic retraction changelog over `orders`: seq 0
    inserts every row, seq 1 deletes keys ≡3 (mod 7), seq 2 updates
    keys ≡0 (mod 10) among survivors (price +10%) as delete+insert
    pairs — exact integer cents throughout."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        cents(F.col("o_totalprice")).alias("c"),
    )
    new_c = F.round(F.col("c") * 1.1 + F.lit(EPS[0])).cast("long")
    deleted = F.col("o_orderkey") % 7 == 3
    updated = (F.col("o_orderkey") % 10 == 0) & ~deleted
    ins = o.select(
        "o_orderstatus", "o_orderpriority",
        F.lit(1).alias("op"), "c", F.lit(0).alias("seq"),
    )
    dels = o.filter(deleted).select(
        "o_orderstatus", "o_orderpriority",
        F.lit(-1).alias("op"), "c", F.lit(1).alias("seq"),
    )
    upd_out = o.filter(updated).select(
        "o_orderstatus", "o_orderpriority",
        F.lit(-1).alias("op"), "c", F.lit(2).alias("seq"),
    )
    upd_in = o.filter(updated).select(
        "o_orderstatus", "o_orderpriority",
        F.lit(1).alias("op"), new_c.alias("c"), F.lit(2).alias("seq"),
    )
    return ins.unionByName(dels).unionByName(upd_out).unionByName(upd_in)


def _ivm_direct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct recompute over net-surviving rows — the ground truth the
    maintained view must equal."""
    o = load_table(spark, sf_dir, "orders")
    c = cents(F.col("o_totalprice"))
    new_c = F.round(c * 1.1 + F.lit(EPS[0])).cast("long")
    return (
        o.filter(F.col("o_orderkey") % 7 != 3)
        .select(
            "o_orderstatus", "o_orderpriority",
            F.when(F.col("o_orderkey") % 10 == 0, new_c)
            .otherwise(c)
            .alias("dc"),
        )
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_direct"),
            F.sum("dc").cast("long").alias("dcents"),
        )
    )


def _ivm_finish(maintained: DataFrame, direct: DataFrame) -> DataFrame:
    """Join the maintained signed-fold state to the direct recompute
    and render the certified output columns (shared by the batch query
    and its streaming twin)."""
    return (
        maintained.join(
            F.broadcast(direct), ["o_orderstatus", "o_orderpriority"]
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "n_rows",
            rnd(F.col("cents") / 100.0, 2).alias("sum_price"),
            rnd(F.col("cents") / 100.0 / F.col("n_rows"), 2).alias(
                "avg_price"
            ),
            "n_direct",
            rnd(F.col("dcents") / 100.0, 2).alias("sum_direct"),
        )
    )


@query("b_ivm_agg", oracle=_IVM_ORACLE)
def b_ivm_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE of a grouped SUM/COUNT/AVG view
    under an insert/update/delete changelog with retractions — the
    capability that separates a batch engine from one that can keep a
    100 TB materialized view fresh: updates arrive as delete+insert
    PAIRS (the retract-stream encoding), and the view is maintained
    purely from signed deltas — sum(op) is the live row count,
    sum(op·cents) the live total, avg their quotient (algebraic
    decomposition) — without ever touching the base table. The direct
    recompute over net-surviving rows rides IN-SCHEMA (n_direct /
    sum_direct) so the hash certifies the defining IVM equality, not
    just plausible numbers. Scale: the fold is ONE map-side-partial
    aggregation over the changelog scan — commutative signed BIGINT
    sums, so no sequencing, no per-key ordering, no base-table read;
    exactly why Materialize/Flink retract streams incrementalize
    SUM/COUNT/AVG for free while MIN/MAX need multiset state. The
    15-row maintained state broadcast-joins the (equally tiny) direct
    recompute."""
    ch = _ivm_changelog(spark, sf_dir)
    m = ch.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.sum("op").cast("long").alias("n_rows"),
        F.sum(F.col("op") * F.col("c")).cast("long").alias("cents"),
    )
    return _ivm_finish(m, _ivm_direct(spark, sf_dir))


@query("b_ivm_agg_stream", oracle=_IVM_ORACLE)
def b_ivm_agg_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of b_ivm_agg, SAME oracle: the retraction
    changelog arrives as seq-ordered micro-batches (inserts, then
    deletes, then the update retraction pairs — four chunk files via
    maxFilesPerTrigger=1) and the view is maintained as complete-mode
    aggregation state: one state row per realized group holding the
    running (sum(op), sum(op·cents)) — the live view after every
    micro-batch, final snapshot certified against the batch oracle.
    This is the retract-stream path end-to-end: a CDC feed keyed by
    nothing but group columns and signed deltas, state bounded at the
    group count (≤15 — status × priority), stream-length-independent.
    The scratch feed dir is removed before returning (the no-leak
    convention); state budget pinned in test_stream_state_budgets."""
    import shutil
    base = scratch_dir("ivm_stream")
    shutil.rmtree(base, ignore_errors=True)
    ch = _ivm_changelog(spark, sf_dir)
    try:
        # Round-12 (guide §2.4): the seq/parity chunk files are
        # written in ONE job instead of one filtered changelog scan each.
        from demo_segmenter_spark.streaming.sources import chunked_parquet_src

        # 4 seq-ordered chunks (round-13, measured): the per-batch
        # floor is ~0.45 s of WAL/planning/state-commit machinery, so
        # the two parity splits of the insert and delete phases paid
        # pure replay framing. Inserts / deletes / update-retractions
        # still land in SEPARATE triggers (>= 4 batches pinned in
        # tests/test_ivm_stream.py) and the complete-mode signed fold
        # is chunking-independent.
        src = chunked_parquet_src(
            ch,
            F.col("seq")
            + F.when(F.col("seq") == 2, F.abs(F.col("c")) % 2).otherwise(0),
            4,
            base,
            drop_cols=("seq",),
        )
        schema = ch.drop("seq").schema
        agg = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .groupBy("o_orderstatus", "o_orderpriority")
            .agg(
                F.sum("op").cast("long").alias("n_rows"),
                F.sum(F.col("op") * F.col("c")).cast("long").alias("cents"),
            )
        )
        # ≤15-group state: a handful of state partitions (guide §2.2)
        table = run_to_memory(agg, "complete", STREAM_STATE_PARTS)
        m = spark.createDataFrame(table.collect(), table.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return _ivm_finish(m, _ivm_direct(spark, sf_dir))


@query(
    "b_agg_linreg",
    oracle=f"""
WITH pts AS (
    SELECT l_returnflag,
           CAST(l_quantity AS BIGINT) AS x,
           {sql_cents("l_extendedprice")} // 100 AS y
    FROM lineitem
), s AS (
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy,
           CAST(sum(x * y) AS BIGINT) AS sxy
    FROM pts GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       {sql_rnd("(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
                " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)", 6)}
           AS slope,
       {sql_rnd("(CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * sxy"
                " - CAST(sx AS DOUBLE) * sy)"
                " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
                " * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)", 2)}
           AS intercept,
       {sql_rnd("((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
                " * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))"
                " / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
                " * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))", 6)}
           AS r2
FROM s
""",
)
def b_agg_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED LINEAR REGRESSION — the SQL-standard REGR_SLOPE /
    REGR_INTERCEPT / REGR_R2 aggregate family (price-per-unit fit of
    extendedprice on quantity per returnflag), done the only way that
    hash-certifies across engines: the six sufficient statistics
    (n, Σx, Σy, Σx², Σy², Σxy) are EXACT BIGINTs (y floored to whole
    dollars from exact cents so Σy² stays inside int64 at sf0.1), and
    only the closed-form combination runs in doubles — each BIGINT is
    < 2⁵³ so the casts are exact, and the combination expressions are
    written with IDENTICAL association on both engines, so every IEEE
    multiply/divide matches bit-for-bit before the final 6dp
    quantization. This is also the 100 TB shape: one map-side-partial
    aggregation (the statistics are commutative sums — they merge
    across partitions, days, micro-batches like every sketch here),
    no second pass, no centering (the textbook two-pass mean-centered
    form needs the mean first; the sufficient-statistic form does
    not). A deployment whose Σy² outgrows int64 swaps the sums to
    DECIMAL(38,0) — b_agg_decimal's ledger discipline."""
    pts = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.expr(
            f"CAST(round(l_extendedprice * 100 + {EPS[0]!r}) AS BIGINT)"
            " DIV 100"
        ).alias("y"),
    )
    s = pts.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    cov_n = nd * F.col("sxy") - sxd * F.col("sy")
    var_x = nd * F.col("sxx") - sxd * F.col("sx")
    var_y = nd * F.col("syy") - syd * F.col("sy")
    return s.select(
        "l_returnflag",
        "n",
        rnd(cov_n / var_x, 6).alias("slope"),
        rnd((syd - cov_n / var_x * sxd) / nd, 2).alias("intercept"),
        rnd((cov_n * cov_n) / (var_x * var_y), 6).alias("r2"),
    )


JB_M = 131072  # join-bloom bits: ~0.09 load (k=3) at the sf0.1 build
# side (~3.9k keys), fp ~0.1% — the filter is <=2081 words (<=16 KB)
JB_W = 63  # bits per word, sign bit never touched (c_dedup_bloom's rule)

_JB_PRED = "o_orderdate >= TIMESTAMP '2001-06-01'"


@query(
    "b_join_bloom_pushdown",
    oracle=f"""
WITH sel AS (
    SELECT o_orderkey FROM orders WHERE {_JB_PRED}
), spos AS (
    SELECT DISTINCT
           CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                    8 * j - 7, 8)) AS BIGINT) % {JB_M}
               AS pos
    FROM sel CROSS JOIN (SELECT unnest([1, 2, 3]) AS j)
), bloom AS (
    SELECT pos // {JB_W} AS wi,
           bit_or(1::BIGINT << CAST(pos % {JB_W} AS INT)) AS w
    FROM spos GROUP BY pos // {JB_W}
), probe AS (
    SELECT l_orderkey,
           CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)),
                                    8 * j - 7, 8)) AS BIGINT) % {JB_M}
               AS pos
    FROM (SELECT DISTINCT l_orderkey FROM lineitem)
    CROSS JOIN (SELECT unnest([1, 2, 3]) AS j)
), flags AS (
    SELECT p.l_orderkey,
           min(CASE WHEN b.w IS NOT NULL
                     AND ((b.w >> CAST(pos % {JB_W} AS INT)) & 1) = 1
                    THEN 1 ELSE 0 END) AS hit
    FROM probe p LEFT JOIN bloom b ON pos // {JB_W} = b.wi
    GROUP BY p.l_orderkey
), cand AS (
    SELECT CAST(count(*) AS BIGINT) AS n_candidates
    FROM lineitem l JOIN flags f USING (l_orderkey)
    WHERE f.hit = 1
), joined AS (
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_joined,
           {sql_money_sum("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM sel)
    GROUP BY l_returnflag
)
SELECT j.l_returnflag, j.n_joined, j.revenue,
       (SELECT n_candidates FROM cand) AS n_candidates,
       CAST((SELECT count(*) FROM sel) AS BIGINT) AS n_build_keys
FROM joined j
""",
)
def b_join_bloom_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER JOIN PUSHDOWN — the runtime-filter optimization
    every warehouse engine applies to selective joins, made explicit:
    the build side (orders after a selective date predicate) is folded
    into a {JB_M}-bit k=3 Bloom filter (c_dedup_bloom's word-packed
    bit_or build, md5 hex-window hashes), broadcast as ONE map column,
    and every lineitem row probes it MAP-SIDE — three element_at bit
    tests inside the scan, no explode, no shuffle — so only candidate
    rows (true matches + the measured fp sliver) ever reach the
    verification semi join. No false negatives by construction, and
    the hash certifies it: the rollup (n_joined, revenue per
    returnflag) is computed from the BLOOM-GATED path in Spark but
    from the PLAIN semi join in the oracle — any dropped match would
    hash-mismatch — while n_candidates replays the filter itself
    bit-exactly in DuckDB (the filter is deterministic, so even the
    false positives are certified). Scale: this is Spark's own
    spark.sql.optimizer.runtime.bloomFilter shape done by hand — at
    100 TB the ~16 KB filter rides the broadcast while the probe stays
    inside whole-stage codegen, cutting the shuffle to candidate-sized;
    the 1-row filter build is the only driver-adjacent state and it is
    an aggregate, never a collect of keys."""
    from demo_segmenter_spark.functions.cache import persist

    o = load_table(spark, sf_dir, "orders")
    sel = persist(o.filter(F.expr(_JB_PRED)).select("o_orderkey"))
    j = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j")
    # NOTE no distinct() on pos: bit_or is idempotent, so duplicate
    # positions change nothing — the dedup exchange bought nothing
    # (round-12, guide §2.4; the map-side partial bit_or collapses
    # duplicates inside each task anyway)
    spos = sel.select(
        F.md5(F.col("o_orderkey").cast("string")).alias("h"), j
    ).select(
        (
            F.conv(F.expr("substr(h, 8 * j - 7, 8)"), 16, 10).cast("long")
            % JB_M
        ).alias("pos")
    )
    bloom = spos.groupBy(F.expr(f"pos DIV {JB_W}").alias("wi")).agg(
        F.bit_or(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {JB_W} AS INT))"
            )
        ).alias("w")
    )
    bmap = bloom.groupBy().agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("wi").cast("int"), F.col("w")))
        ).alias("bm")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        "l_extendedprice",
        "l_discount",
        F.md5(F.col("l_orderkey").cast("string")).alias("h"),
    )
    bit_tests = " AND ".join(
        f"((coalesce(element_at(bm, CAST(p{i} DIV {JB_W} AS INT)),"
        f" CAST(0 AS BIGINT)) >> CAST(p{i} % {JB_W} AS INT)) & 1) = 1"
        for i in (1, 2, 3)
    )
    cand = (
        li.crossJoin(F.broadcast(bmap))
        .withColumns(
            {
                f"p{i}": F.conv(
                    F.expr(f"substr(h, {8 * i - 7}, 8)"), 16, 10
                ).cast("long")
                % JB_M
                for i in (1, 2, 3)
            }
        )
        .filter(F.expr(bit_tests))
        # project the filter map + probe scratch away BEFORE persist:
        # the bm column is ~16 KB PER ROW if it survives into the
        # materialized candidates (measured 1.1 GiB/partition at the
        # 10M-row smoke before this select)
        .select("l_orderkey", "l_returnflag", "l_extendedprice",
                "l_discount")
    )
    cand = persist(cand)
    n_cand = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    n_keys = sel.agg(F.count("*").cast("long").alias("n_build_keys"))
    joined = (
        cand.join(F.broadcast(sel), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n_joined"),
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
    )
    return joined.crossJoin(F.broadcast(n_cand)).crossJoin(
        F.broadcast(n_keys)
    )


@query(
    "b_pipeline_tpch_q3",
    oracle=f"""
SELECT l_orderkey,
       {sql_money_sum("l_extendedprice * (1 - l_discount)")} AS revenue,
       epoch_us(o_orderdate) AS orderdate_us,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def b_pipeline_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed classic (TPC-H Q3 shape, shipping priority): selective
    filters on all three tables, customer→orders→lineitem join, grouped
    revenue, top-10. The plan to want at 100 TB and asserted in
    tests/test_plans.py: filtered `customer` broadcasts (it is the
    small side after the segment filter), orders⋈lineitem shuffles on
    orderkey, both date filters push to the parquet scans, and the
    ORDER BY..LIMIT plans as TakeOrderedAndProject (no global sort).
    Revenue ties broken by l_orderkey → total order for the hash gate."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1997-01-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-01-01"
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "orderdate_us"
            ),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "b_pipeline_tpch_q5",
    oracle=f"""
SELECT n_name,
       {sql_money_sum("l_extendedprice * (1 - l_discount)")} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def b_pipeline_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed classic (TPC-H Q5 shape, local supplier volume):
    six-table join where the LOCALITY predicate (customer and supplier
    share a nation) rides the supplier join, the region filter prunes
    the nation dim BEFORE it joins, and the one-year date window
    pushes to the orders scan. The 100 TB plan: lineitem⋈orders is
    the single big co-partitioned shuffle; customer / supplier /
    nation(⋈region, pre-filtered) all broadcast; the final groupBy
    collapses to ≤25 nation rows map-side. Revenue in integer cents;
    nation-name tiebreak for a total order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").join(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(sup),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


Q18_MIN_QTY = 250  # ~top 1% of orders by total quantity at every sf


@query(
    "b_pipeline_tpch_q18",
    oracle=f"""
WITH big AS (
    SELECT l_orderkey, sum(l_quantity) AS total_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING sum(l_quantity) > {Q18_MIN_QTY}
)
SELECT c_name, c_custkey, o_orderkey,
       epoch_us(o_orderdate) AS orderdate_us,
       {sql_rnd(sql_cents("o_totalprice") + " / 100.0", 2)} AS total_price,
       CAST(total_qty AS BIGINT) AS total_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY total_price DESC, o_orderkey
LIMIT 100
""",
)
def b_pipeline_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed classic (TPC-H Q18 shape, large-volume customers):
    HAVING-filtered aggregate as a semi-join driver — orders whose
    line quantities sum past Q18_MIN_QTY, joined back to orders and
    customer, top-100 by price. The 100 TB plan: ONE groupBy(orderkey)
    shuffle builds the big-order set (map-side partials — quantities
    are integral doubles, the sum is exact), the orders join reuses
    the orderkey partitioning, customer broadcasts, and the
    ORDER BY..LIMIT is TakeOrderedAndProject, never a global sort.
    All-integer quantities + cents prices; orderkey tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > Q18_MIN_QTY)
    )
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "orderdate_us"
            ),
            rnd(cents(F.col("o_totalprice")) / 100.0, 2).alias("total_price"),
            F.col("total_qty").cast("long").alias("total_qty"),
        )
        .orderBy(F.col("total_price").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "b_agg_percentiles",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       (round(quantile_cont(c, 0.5) / 100.0 + 1e-6, 2) + 0.0) AS p50,
       (round(quantile_cont(c, 0.9) / 100.0 + 1e-6, 2) + 0.0) AS p90,
       (round(quantile_cont(c, 0.99) / 100.0 + 1e-6, 2) + 0.0) AS p99
FROM (
    SELECT event_type, CAST(round(value * 100 + 1e-4) AS BIGINT) AS c
    FROM events
)
GROUP BY event_type
""",
)
def b_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles (p50/p90/p99) of event value per type — the
    latency-dashboard aggregate. Exactness across engines is usually
    hopeless for interpolated quantiles; here it holds because the
    values are integer CENTS first (so sort order and the (n−1)·p
    interpolation arithmetic are identical IEEE on both sides), then
    the result is rounded — probed at all three sfs before
    registration. Spark's `percentile` is the sort-based exact
    aggregate; one shuffle on event_type with map-side partial
    collection. At 100 TB you'd swap in `percentile_approx` (GK
    sketch, mergeable, bounded memory) and accept ε-rank error — this
    query pins the exact baseline that approximation must track."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", cents(F.col("value")).alias("c")
    )
    pct = F.expr("percentile(c, array(0.5, 0.9, 0.99))")
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), pct.alias("ps"))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            rnd(F.col("ps")[0] / 100.0, 2).alias("p50"),
            rnd(F.col("ps")[1] / 100.0, 2).alias("p90"),
            rnd(F.col("ps")[2] / 100.0, 2).alias("p99"),
        )
    )


@query(
    "b_pipeline_tpch_q1",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {sql_money_sum("l_quantity")} AS sum_qty,
       {sql_money_sum("l_extendedprice")} AS sum_base_price,
       {sql_money_sum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       {sql_money_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       {sql_money_avg("l_quantity", 4)} AS avg_qty,
       {sql_money_avg("l_extendedprice", 4)} AS avg_price,
       {sql_money_avg("l_discount", 4)} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-06-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def b_pipeline_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report) — THE canonical scan-heavy
    aggregate: one pass over lineitem below the shipdate cutoff, eight
    aggregates over 6 (returnflag, linestatus) groups. Money/quantity
    sums in integer cents, averages as (Σcents/100)/n at 4dp — the
    engine-independent discipline. Scale: the textbook map-side
    partial aggregation — 60k (or 600M) rows collapse to 6 partials
    per task before the one tiny exchange; the shipdate predicate and
    the 7-column projection push to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-06-01").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(F.col("l_quantity")).alias("sum_qty"),
            money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            money_sum(disc).alias("sum_disc_price"),
            money_sum(charge).alias("sum_charge"),
            money_avg(F.col("l_quantity"), 4).alias("avg_qty"),
            money_avg(F.col("l_extendedprice"), 4).alias("avg_price"),
            money_avg(F.col("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "b_pipeline_tpch_q10",
    oracle=f"""
SELECT c_custkey, c_name,
       {sql_money_sum("l_extendedprice * (1 - l_discount)")} AS revenue,
       {sql_rnd("any_value(c_acctbal)", 2)} AS acctbal,
       n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def b_pipeline_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): customers who returned
    items in a quarter, ranked by lost revenue, top 20. The 4-way
    star: customer⋈orders co-partitioned on custkey, the
    orders⋈lineitem hop on orderkey, nation broadcast. Ranking on the
    ROUNDED 2dp revenue with c_custkey as the total-order tiebreak so
    the LIMIT is engine-independent. Scale: both date predicates and
    the returnflag filter push to the scans (quarter pruning on a
    date-partitioned orders table at 100 TB); top-20 is
    TakeOrderedAndProject — no global sort materializes."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    na = load_table(spark, sf_dir, "nation")
    return (
        cu.join(od, cu.c_custkey == od.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            rnd(F.first("c_acctbal"), 2).alias("acctbal"),
        )
        .select("c_custkey", "c_name", "revenue", "acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "b_pipeline_tpch_q7",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       {sql_money_sum("volume")} AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           l_extendedprice * (1 - l_discount) AS volume
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
)
GROUP BY supp_nation, cust_nation, l_year
""",
)
def b_pipeline_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade revenue between two
    nations by year — the five-way join with a DISJUNCTIVE cross-table
    predicate ((n1,n2) ∈ {{(A,B),(B,A)}}) that only applies after both
    nation hops, the shape join-reordering optimizers are graded on.
    Scale: both nation joins broadcast (25 rows), supplier broadcasts
    at this sf; the lineitem⋈orders⋈customer chain shuffles on
    orderkey/custkey; the shipdate range prunes the fact scan. Cents
    discipline on the volume sum; (supp_nation, cust_nation, l_year)
    is a natural total-order grouping key."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    sup = load_table(spark, sf_dir, "supplier")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    n1 = na.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = na.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair_ok = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        sup.join(li, sup.s_suppkey == li.l_suppkey)
        .join(od, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cu, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair_ok)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


@query(
    "b_pipeline_tpch_q4",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
""",
)
def b_pipeline_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking), adapted to the fixture's
    columns: orders in a quarter having at least one LATE line
    (shipdate > orderdate + 90 days — the fixture has no commit/
    receipt dates; the correlated-EXISTS shape is the point), counted
    by priority. The EXISTS compiles to a LEFT SEMI join on orderkey —
    each order counted once however many lines are late. Scale: the
    quarter predicate prunes the orders scan; the semi join shuffles
    on orderkey (or broadcasts the filtered orders side); the priority
    agg is map-side partial over ≤5 groups."""
    od = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = od.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


@query(
    "b_pipeline_tpch_q12",
    oracle="""
SELECT l_returnflag AS ship_group,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
""",
)
def b_pipeline_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping-priority split), adapted: lines shipped in a
    year, grouped by returnflag (the fixture's shipmode stand-in),
    split into high/low order-priority counts via conditional
    aggregation — the CASE-inside-SUM pivot pattern. Scale: the year
    predicate prunes the lineitem scan; one orderkey join (broadcast
    of the pruned side at this sf, co-partitioned shuffle at 100 TB);
    3-group conditional agg is map-side partial."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    od = load_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        od.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("l_returnflag").alias("ship_group"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias(
                "low_line_count"
            ),
        )
    )


@query(
    "b_pipeline_tpch_q14",
    oracle=f"""
WITH rev AS (
    SELECT p_type,
           sum({sql_cents("l_extendedprice * (1 - l_discount)")}) AS tc
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate < TIMESTAMP '1997-04-01'
    GROUP BY p_type
), tot AS (
    SELECT sum(tc) AS total FROM rev
)
SELECT p_type,
       {sql_rnd("tc / 100.0", 2)} AS revenue,
       {sql_rnd("100.0 * tc / total", 4)} AS share_pct
FROM rev CROSS JOIN tot
""",
)
def b_pipeline_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect), widened to the full per-type
    breakdown: revenue by part type in one shipping month and each
    type's share of the month's total — the PROMO row is Q14's
    headline number. Ratio-of-sums discipline: both operands are exact
    BIGINT cents, so the single share division is identical IEEE on
    both engines. Scale: the month predicate prunes the lineitem
    scan; part broadcasts (or the join co-partitions on partkey at
    100 TB); the share join is against a 1-row broadcast total."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    pt = load_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type")
        .agg(
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("tc")
        )
    )
    tot = rev.agg(F.sum("tc").alias("total"))
    return rev.crossJoin(F.broadcast(tot)).select(
        "p_type",
        rnd(F.col("tc") / 100.0, 2).alias("revenue"),
        rnd(F.lit(100.0) * F.col("tc") / F.col("total"), 4).alias(
            "share_pct"
        ),
    )


@query(
    "b_pipeline_tpch_q19",
    oracle=f"""
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_lines,
       {sql_money_sum("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 25
       AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40
       AND l_quantity >= 20 AND l_quantity <= 50)
GROUP BY p_brand
""",
)
def b_pipeline_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, the disjunctive-bracket query):
    three OR'd conjunctions mixing per-PART predicates (brand, size)
    with per-LINEITEM predicates (quantity) — the shape that tests
    whether an optimizer splits a cross-table disjunction into
    single-table prefilters (brand IN (...) and the quantity hull CAN
    push to the scans; the full bracket only resolves after the
    join). Grouped by brand so each bracket's contribution hashes
    separately. Scale: part broadcasts; Catalyst pushes the derivable
    single-table disjuncts below the join — at 100 TB the residual
    bracket predicate runs post-join on a pre-pruned row set."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    bracket = (
        ((b == "Brand#1") & s.between(1, 15) & (q >= 1) & (q <= 20))
        | ((b == "Brand#2") & s.between(5, 25) & (q >= 10) & (q <= 30))
        | ((b == "Brand#3") & s.between(10, 40) & (q >= 20) & (q <= 50))
    )
    return (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .filter(bracket)
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
    )


@query(
    "b_scalar_variant",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
       CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) >= 50
            THEN 'high' ELSE 'low' END AS k_bucket
FROM events
""",
)
def b_scalar_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType surface: parse_json -> VARIANT, typed access
    via variant_get with a JSON path. Variant stores the parsed binary
    form once, so repeated path accesses don't re-parse the string —
    the Spark-4 answer to schema-on-read semi-structured columns (vs
    get_json_object's per-call Jackson parse in b_scalar_json). At
    100 TB variant shredding in parquet readers keeps pushdown
    available; the oracle is plain json_extract."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    return ev.select(
        "event_id",
        k.alias("k_val"),
        F.when(k >= 50, "high").otherwise("low").alias("k_bucket"),
    )


@query(
    "b_sql_cte",
    oracle=f"""
WITH per_cust AS (
    SELECT o_custkey, count(*) AS n_orders,
           {sql_money_sum("o_totalprice")} AS spend
    FROM orders GROUP BY o_custkey
), ranked AS (
    SELECT c_mktsegment, c_name, spend, n_orders,
           row_number() OVER (PARTITION BY c_mktsegment
                              ORDER BY spend DESC, c_custkey) AS rn
    FROM per_cust JOIN customer ON o_custkey = c_custkey
)
SELECT c_mktsegment, c_name, spend, n_orders
FROM ranked WHERE rn <= 3
""",
)
def b_sql_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry path: the same engine surface through spark.sql()
    over registered temp views — CTEs, a join, a window, top-3 per
    segment. Proves the catalog/view route works alongside the
    DataFrame route (same Catalyst plan underneath; SQL text and
    DataFrame chains are interchangeable front-ends)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(f"""
WITH per_cust AS (
    SELECT o_custkey, count(*) AS n_orders,
           round(sum(CAST(round(o_totalprice * 100 + 1e-04) AS BIGINT)) / 100.0
                 + 1e-06, 2) AS spend
    FROM v_orders GROUP BY o_custkey
), ranked AS (
    SELECT c_mktsegment, c_name, spend, n_orders,
           row_number() OVER (PARTITION BY c_mktsegment
                              ORDER BY spend DESC, c_custkey) AS rn
    FROM per_cust JOIN v_customer ON o_custkey = c_custkey
)
SELECT c_mktsegment, c_name, spend, n_orders
FROM ranked WHERE rn <= 3
""")


@query(
    "b_scd2_intervals",
    oracle="""
SELECT user_id, event_type,
       epoch_us(ts) AS valid_from_us,
       coalesce(epoch_us(lead(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)), 0)
           AS valid_to_us,
       CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                 THEN 1 ELSE 0 END AS BIGINT) AS is_current
FROM events
""",
)
def b_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 validity intervals built from a change stream: each
    per-user event becomes a [valid_from, valid_to) row via lead(),
    with the open row flagged current — the standard dimension-
    versioning build (one window, one shuffle on the key). At 100 TB
    this runs incrementally per partition-of-change-date and the
    open-interval rows are the MERGE target (b_upsert shows that
    half)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("valid_from_us"),
        F.coalesce(F.unix_micros(nxt), F.lit(0)).alias("valid_to_us"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("long").alias("is_current"),
    )


@query(
    "b_null_semantics",
    oracle="""
WITH n AS (
    SELECT l_returnflag,
           nullif(l_discount, 0.0) AS disc,
           nullif(l_tax, 0.0) AS tax
    FROM lineitem
)
SELECT l_returnflag,
       count(*) AS n_rows,
       count(disc) AS n_disc_nonnull,
       CAST(sum(CASE WHEN disc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_disc_null,
       CAST(sum(CASE WHEN (disc IS NOT DISTINCT FROM tax) THEN 1 ELSE 0 END)
           AS BIGINT) AS n_null_safe_eq,
       (round(avg(disc) + 1e-06, 4) + 0.0) AS avg_disc_nonnull
FROM n
GROUP BY l_returnflag
""",
)
def b_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics surface (the fixture itself is NULL-free, so
    nulls are synthesized via nullif): count(*) vs count(col) null
    skipping, explicit null counting, null-safe equality (<=> / IS NOT
    DISTINCT FROM — NULL<=>NULL is true where = yields NULL), and
    avg() ignoring nulls. These engine-default behaviors are exactly
    where silent corruption hides in a 100 TB pipeline with optional
    columns — pinned here against the oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    n = li.select(
        "l_returnflag",
        F.nullif(F.col("l_discount"), F.lit(0.0)).alias("disc"),
        F.nullif(F.col("l_tax"), F.lit(0.0)).alias("tax"),
    )
    return n.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.count("disc").alias("n_disc_nonnull"),
        F.sum(F.when(F.col("disc").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_disc_null"),
        F.sum(F.col("disc").eqNullSafe(F.col("tax")).cast("long"))
        .cast("long")
        .alias("n_null_safe_eq"),
        rnd(F.avg("disc"), 4).alias("avg_disc_nonnull"),
    )


@query(
    "b_agg_histogram",
    oracle="""
SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                 WHEN o_totalprice >= 600000 THEN 13
                 ELSE floor(o_totalprice / 50000) + 1 END AS BIGINT) AS bucket,
       count(*) AS n_orders,
       (round(min(o_totalprice) + 1e-06, 2) + 0.0) AS lo,
       (round(max(o_totalprice) + 1e-06, 2) + 0.0) AS hi
FROM orders
GROUP BY 1
""",
)
def b_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket — the one-pass data-
    profiling shape (value distribution without a sort). Bucketing is
    a pure scalar inside codegen, so the whole histogram is one
    partial+final aggregate: at 100 TB this is how you profile a
    column without sampling. min/max per bucket double as bucket-edge
    sanity. (DuckDB 1.0 has no width_bucket — the oracle mirrors its
    floor-division semantics explicitly, including the under/overflow
    buckets 0 and n+1.)"""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bucket",
            F.width_bucket(F.col("o_totalprice"), F.lit(0), F.lit(600000), F.lit(12))
            .cast("long"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            rnd(F.min("o_totalprice"), 2).alias("lo"),
            rnd(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "b_agg_sketch_merge",
    bound=Bound(
        sql="""
SELECT n_regionkey, count(DISTINCT c_custkey) AS approx_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_regionkey
""",
        keys=("n_regionkey",),
        tol={"approx_customers": ("rel", 0.05)},
    ),
)
def b_agg_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-nation customer sketches built in
    one pass, then UNIONED to region level with hll_union_agg — the
    two-level pattern that makes 100 TB distinct-counting cheap:
    partial sketches are tiny, re-aggregatable to any coarser grain,
    and storable for incremental refresh (unlike exact distinct, which
    re-shuffles raw keys per grain). DataSketches HLL estimates are
    engine-specific, so the check is a bound: per region, under 5%
    relative error against DuckDB's exact per-region customer count."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    per_nation = cust.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk")
    )
    return (
        per_nation.join(
            F.broadcast(nat), per_nation.c_nationkey == nat.n_nationkey
        )
        .groupBy("n_regionkey")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                "approx_customers"
            )
        )
    )


@query(
    "b_agg_top_k",
    oracle="""
SELECT o_orderpriority, count(*) AS n
FROM orders GROUP BY o_orderpriority
ORDER BY n DESC, o_orderpriority
""",
)
def b_agg_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the approx_top_k frequent-items sketch (Spark
    4): one pass, bounded memory, mergeable partials — the 100 TB
    replacement for a full GROUP BY when only the head of the
    distribution matters. The sketch is EXACT whenever distinct values
    fit maxItemsTracked (5 priorities << 10000 tracked), which is what
    makes this hash-checkable against the exact GROUP BY; beyond
    capacity the counts become estimates with documented error. Output
    re-sorted by (count desc, item) so the sketch's internal tie order
    never reaches the hash."""
    o = load_table(spark, sf_dir, "orders")
    topk = o.agg(F.expr("approx_top_k(o_orderpriority, 5)").alias("tk"))
    return (
        topk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("o_orderpriority"), F.col("e.count").alias("n")
        )
        .orderBy(F.col("n").desc(), "o_orderpriority")
    )


@query(
    "b_sql_lateral",
    oracle="""
SELECT n_name, l.c_custkey, l.c_acctbal
FROM nation, LATERAL (
    SELECT c_custkey, c_acctbal FROM customer
    WHERE c_nationkey = n_nationkey
    ORDER BY c_acctbal DESC, c_custkey LIMIT 3
) l
""",
)
def b_sql_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (Spark >= 3.4 lateral joins): top-3
    customers per nation expressed as a per-row subquery instead of the
    window rewrite (b_topk_per_group is the window form of the same
    question — two front-ends, one answer). Catalyst decorrelates the
    LIMIT-per-group into a join + window plan rather than executing
    row-at-a-time, which is exactly why the construct survives scale."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql("""
SELECT n_name, l.c_custkey, l.c_acctbal
FROM v_nation, LATERAL (
    SELECT c_custkey, c_acctbal FROM v_customer
    WHERE c_nationkey = n_nationkey
    ORDER BY c_acctbal DESC, c_custkey LIMIT 3
) l
""")


@query(
    "b_sql_recursive",
    oracle="""
WITH RECURSIVE months(m) AS (
    SELECT date_trunc('month', (SELECT min(o_orderdate) FROM orders))
    UNION ALL
    SELECT m + INTERVAL 1 MONTH FROM months
    WHERE m < date_trunc('month', (SELECT max(o_orderdate) FROM orders))
)
SELECT strftime(m, '%Y-%m') AS month, count(o_orderkey) AS n_orders
FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
GROUP BY strftime(m, '%Y-%m')
""",
)
def b_sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (new in Spark 4): generate the continuous month
    spine between the first and last order date by recursion, then
    left-join monthly order counts — the gap-free time-spine idiom
    (empty months surface as 0, which a plain GROUP BY can never
    show). The recursion is bounded (~80 iterations) and each step is
    a one-row frame, so the driver-side loop cost is nil; the join +
    count is ordinary distributed work. DuckDB runs the identical
    WITH RECURSIVE."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql("""
WITH RECURSIVE months(m) AS (
    SELECT date_trunc('month', (SELECT min(o_orderdate) FROM v_orders))
    UNION ALL
    SELECT m + INTERVAL '1' MONTH FROM months
    WHERE m < date_trunc('month', (SELECT max(o_orderdate) FROM v_orders))
)
SELECT date_format(m, 'yyyy-MM') AS month, count(o_orderkey) AS n_orders
FROM months LEFT JOIN v_orders ON date_trunc('month', o_orderdate) = m
GROUP BY date_format(m, 'yyyy-MM')
""")


# PageRank iteration count and damping for b_graph_pagerank. Per-
# iteration ranks are quantized to 6 decimals on BOTH engines so the
# next iteration's inputs are bit-identical — the same unrolled-
# iteration determinism recipe as c_sim_kmeans.
PAGERANK_ITERS = 3
PAGERANK_DAMP = 0.85

# ---------------------------------------------------------------------------
# Graph BLOCK LANE (round-12 optimization; guide §1.2 "fix the
# distributed algorithm first"): the bounded-round graph queries run
# 2-3 exchanges per unrolled round (join + groupBy + argmax window) on
# a graph whose EDGE LIST fits one task by orders of magnitude at
# fixture scale. Below CAPS["graph"] edges, the edge list coalesces
# into ONE mapInPandas task that replays every round in numpy. The
# lineitem-pair lanes read the filtered, projected scan and dedup the
# pairs in the kernel (lanes.np_dedup), so they build without a Spark
# job; triangles and kcore build their self-join edges distributed
# (the wedge/distinct joins stay on the certified path). In the task,
# integer label votes / peels are bit-exact by construction;
# pagerank's per-iteration rnd(·, 6) replays through the HALF_UP +
# Decimal-audit kernel (lanes.np_rnd), with the same noise-floor
# argument that already certifies Spark-vs-DuckDB float sums under
# the EPS nudge. At 100 TB these graphs exceed the cap and
# the distributed rounds run unchanged — the lane is the "subgraph
# fits a task" tier (per-tenant graphs, filtered slices), exactly how
# a production graph engine local-solves small components.
# Row-identity of the two lanes is pinned in tests/test_lanes.py and
# every oracle hash is re-certified at three scale factors.
# ---------------------------------------------------------------------------


def _grouped_counts(keys_a, keys_b):
    """Sorted run-length counts of (a, b) pairs: returns (a', b', cnt)
    one row per distinct pair — the numpy twin of groupBy(a, b).count
    (integer-exact, order-free)."""
    import numpy as np

    order = np.lexsort((keys_b, keys_a))
    a2, b2 = keys_a[order], keys_b[order]
    brk = np.r_[True, (a2[1:] != a2[:-1]) | (b2[1:] != b2[:-1])]
    starts = np.flatnonzero(brk)
    cnt = np.diff(np.r_[starts, len(a2)])
    return a2[starts], b2[starts], cnt


def _pair_scan(spark, sf_dir, keep=None, *extra):
    """The bipartite node pair (o, p) = (2·orderkey, 2·partkey+1) of
    every lineitem row that ``keep`` passes, plus the ``extra``
    columns, with NO dedup: the lane input of the pair-graph queries.
    It stays a filtered, projected parquet scan, so the lane gate reads
    its row bound from the footers without a Spark job; the kernels
    dedup with ``np_dedup`` and the distributed chains persist the
    distinct pairs themselves."""
    li = load_table(spark, sf_dir, "lineitem")
    if keep is not None:
        li = li.filter(keep)
    return li.select(
        (F.col("l_orderkey") * 2).alias("o"),
        (F.col("l_partkey") * 2 + 1).alias("p"),
        *extra,
    )


_PAGERANK_EDGES_SQL = """
WITH pairs AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), edges AS (
    SELECT o * 2 AS src, p * 2 + 1 AS dst FROM pairs
    UNION ALL
    SELECT p * 2 + 1 AS src, o * 2 AS dst FROM pairs
), deg AS (
    SELECT src AS node, count(*) AS d FROM edges GROUP BY src
)
"""


def _pagerank_iter_sql(i: int) -> str:
    prev = "p0" if i == 1 else f"p{i - 1}"
    prev_pr = "1.0" if i == 1 else f"{prev}.pr"
    prev_join = (
        ""
        if i == 1
        else f" JOIN {prev} ON e.src = {prev}.node"
    )
    return f"""
, p{i} AS (
    SELECT e.dst AS node,
           {sql_rnd(f"0.15 + {PAGERANK_DAMP} * sum({prev_pr} / d.d)", 6)} AS pr
    FROM edges e JOIN deg d ON e.src = d.node{prev_join}
    GROUP BY e.dst
)"""


@query(
    "b_graph_pagerank",
    oracle=_PAGERANK_EDGES_SQL
    + "".join(_pagerank_iter_sql(i) for i in range(1, PAGERANK_ITERS + 1))
    + f"""
SELECT node, pr, CAST(rank AS BIGINT) AS rank
FROM (
    SELECT node, pr,
           row_number() OVER (ORDER BY pr DESC, node) AS rank
    FROM p{PAGERANK_ITERS}
)
WHERE rank <= 100
""",
)
def b_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, PAGERANK_ITERS=3 iterations unrolled, over the
    bipartite orders↔parts co-purchase graph (nodes 2·orderkey /
    2·partkey+1, every lineitem edge in both directions) — the second
    iterative-algorithm showcase next to c_sim_kmeans, hash-certified
    by an oracle that replays every iteration: rank mass 0.15 + 0.85 ·
    Σ pr(src)/deg(src), per-iteration ranks rounded to 6 decimals on
    both engines so iteration n+1's inputs are identical. Top-100 by
    (pr DESC, node) keeps the output deterministic and small. Scale
    story: the rank/degree division happens per NODE before touching
    edges, so each iteration joins the (persisted, edge-count) edge
    list against a node-count `share` table — small enough for AQE to
    broadcast at fixture scale, and at 100 TB still the node table,
    not an edge-wide enrichment (the first cut joined degrees onto
    edges per iteration and measured 4.9 s vs ~2 s for this shape).
    One groupBy(dst) shuffle per iteration with map-side partial sums;
    never a driver-side loop over collect()ed ranks. The iteration
    count is the driver loop; it is unrolled here so Catalyst sees one
    plan and the oracle can replay it. Below CAPS["graph"] lineitem
    pair rows the block lane reads the projected scan, dedups the pairs
    and replays the iterations in one task (HALF_UP + Decimal-audit
    kernel; same noise-floor argument the DuckDB oracle already
    certifies); the persisted distinct edge list exists only on the
    distributed chain."""
    from demo_segmenter_spark.functions.cache import persist

    raw = _pair_scan(spark, sf_dir)
    r6 = np_rnd(6)
    iters, damp = PAGERANK_ITERS, PAGERANK_DAMP

    def kern(batches):
        import numpy as np
        import pandas as pd

        o, p = np_dedup(*np_gather(batches, ["o", "p"]))
        src = np.concatenate([o, p])
        dst = np.concatenate([p, o])
        # unique + searchsorted instead of return_inverse: this numpy's
        # stable-sort inverse path allocates several extra array copies
        # (costly under the sandbox's first-touch page faults)
        nodes = np.unique(src)
        sidx = np.searchsorted(nodes, src)
        didx = np.searchsorted(nodes, dst)
        deg = np.bincount(sidx, minlength=len(nodes)).astype(np.float64)
        pr = None
        # one reused edge-sized gather buffer for share[sidx] (the
        # _nd_block_fns.score first-touch discipline): same values,
        # 2/3 fewer fresh edge-sized pages per build
        wbuf = np.empty(len(sidx))
        for _ in range(iters):
            share = (1.0 / deg) if pr is None else (pr / deg)
            np.take(share, sidx, out=wbuf)
            s = np.bincount(didx, weights=wbuf, minlength=len(nodes))
            pr = r6(0.15 + damp * s)
        order = np.lexsort((nodes, -pr))[:100]
        yield pd.DataFrame(
            {
                "node": nodes[order],
                "pr": pr[order],
                "rank": np.arange(1, len(order) + 1, dtype=np.int64),
            }
        )

    blk = block_lane(raw, "graph", kern, "node long, pr double, rank long")
    if blk is not None:
        return blk
    pairs = persist(raw.distinct())
    both = F.array(
        F.struct(F.col("o").alias("src"), F.col("p").alias("dst")),
        F.struct(F.col("p").alias("src"), F.col("o").alias("dst")),
    )
    edges = persist(
        pairs.select(F.explode(both).alias("e")).select("e.src", "e.dst")
    )
    deg = persist(
        edges.groupBy("src")
        .agg(F.count("*").alias("d"))
        .withColumnRenamed("src", "node")
    )
    pr = None  # iteration 0: every node has pr 1.0 (implicit)
    for _ in range(PAGERANK_ITERS):
        share = (
            deg.select("node", (F.lit(1.0) / F.col("d")).alias("share"))
            if pr is None
            else pr.join(deg, "node").select(
                "node", (F.col("pr") / F.col("d")).alias("share")
            )
        )
        pr = (
            edges.join(share, edges.src == share.node)
            .groupBy("dst")
            .agg(
                rnd(
                    F.lit(0.15) + F.lit(PAGERANK_DAMP) * F.sum("share"), 6
                ).alias("pr")
            )
            .withColumnRenamed("dst", "node")
        )
    w = Window.orderBy(F.col("pr").desc(), F.col("node"))
    return (
        pr.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 100)
        .select("node", "pr", "rank")
    )


@query(
    "b_scalar_try",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0 THEN NULL
            ELSE CAST(o_orderkey AS DOUBLE) / (o_orderkey % 3)
       END AS safe_div,
       TRY_CAST(o_orderpriority AS INT) AS bad_int,
       CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_num,
       TRY_CAST(o_orderpriority AS TIMESTAMP) IS NULL AS bad_ts_null,
       CAST(NULL AS BIGINT) AS overflowed
FROM orders
""",
)
def b_scalar_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe scalar surface (Spark 4 defaults ANSI on,
    where 1/0 and bad casts THROW): try_divide / try_cast /
    try_to_timestamp / try_add turn per-row errors into NULLs — the
    only sane contract for a 100 TB batch job, where one malformed row
    must not kill hour N of the run. The oracle mirrors results, not
    mechanisms: DuckDB has TRY_CAST but no try_add, so the guaranteed
    bigint overflow is CAST(NULL AS BIGINT) there. prio_num pins that
    the try_* family still succeeds on well-formed input."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.try_divide(
            F.col("o_orderkey").cast("double"), F.col("o_orderkey") % 3
        ).alias("safe_div"),
        F.expr("try_cast(o_orderpriority AS INT)").alias("bad_int"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("prio_num"),
        F.try_to_timestamp(F.col("o_orderpriority")).isNull().alias("bad_ts_null"),
        F.try_add(F.lit(9223372036854775807), F.col("o_orderkey") + 1).alias(
            "overflowed"
        ),
    )


@query(
    "b_agg_corr",
    oracle=f"""
SELECT l_returnflag,
       {sql_rnd('corr(l_extendedprice, l_quantity)', 4)} AS price_qty_corr,
       {sql_rnd('covar_samp(l_extendedprice, l_quantity)', 2)} AS price_qty_cov,
       {sql_rnd('regr_slope(l_extendedprice, l_quantity)', 2)} AS slope,
       {sql_rnd('regr_intercept(l_extendedprice, l_quantity)', 2)} AS intercept
FROM lineitem
GROUP BY l_returnflag
""",
)
def b_agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates — corr / covar_samp /
    regr_slope / regr_intercept per group: the in-engine regression
    family that replaces a driver-side scikit fit for simple trends.
    All four are one-pass co-moment aggregates (partial+final merges,
    same cost as avg) — exactly what survives 100 TB where a
    collect-and-fit cannot. Both engines accumulate co-moments in
    floating point, so results agree to ~1e-12 relative; rounding to
    4/2 decimals puts the hash far from that noise floor."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        rnd(F.corr("l_extendedprice", "l_quantity"), 4).alias("price_qty_corr"),
        rnd(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias(
            "price_qty_cov"
        ),
        rnd(F.expr("regr_slope(l_extendedprice, l_quantity)"), 2).alias("slope"),
        rnd(F.expr("regr_intercept(l_extendedprice, l_quantity)"), 2).alias(
            "intercept"
        ),
    )


@query(
    "b_agg_listagg",
    oracle="""
WITH ranked AS (
    SELECT c_nationkey, c_name,
           row_number() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey) AS rn
    FROM customer
)
SELECT c_nationkey,
       string_agg(c_name, ',' ORDER BY rn) AS top_names
FROM ranked WHERE rn <= 5 GROUP BY c_nationkey
""",
)
def b_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — LISTAGG ... WITHIN GROUP (new in
    Spark 4; DuckDB spells it string_agg(x, d ORDER BY k)): the top-5
    richest customers per nation concatenated in rank order. The
    explicit WITHIN GROUP ordering is what makes the result
    deterministic and hash-checkable — an unordered collect would
    depend on partitioning. Rank tiebreaks on c_custkey (total order
    discipline)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql("""
WITH ranked AS (
    SELECT c_nationkey, c_name,
           row_number() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey) AS rn
    FROM v_customer
)
SELECT c_nationkey,
       listagg(c_name, ',') WITHIN GROUP (ORDER BY rn) AS top_names
FROM ranked WHERE rn <= 5 GROUP BY c_nationkey
""")


# ---------------------------------------------------------------------------
# Label-propagation connected components (min-label / "hash-to-min"):
# the third iterative-algorithm showcase next to b_graph_pagerank and
# c_sim_kmeans — and unlike those, ALL-INTEGER, so the replay oracle
# needs no quantization at all.
# ---------------------------------------------------------------------------

LABELPROP_ITERS = 3
LABELPROP_MIN_QTY = 48  # sparsifies lineitem to ~6% so components are many

_LABELPROP_EDGES_SQL = f"""
WITH pairs AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p
    FROM lineitem WHERE l_quantity >= {LABELPROP_MIN_QTY}
), half AS (
    SELECT o * 2 AS src, p * 2 + 1 AS dst FROM pairs
    UNION ALL
    SELECT p * 2 + 1 AS src, o * 2 AS dst FROM pairs
), edges AS (
    SELECT src, dst FROM half
    UNION ALL
    SELECT DISTINCT src, src FROM half
), l0 AS (
    SELECT DISTINCT src AS node, src AS lbl FROM half
)
"""


def _labelprop_iter_sql(i: int) -> str:
    prev = f"l{i - 1}"
    return f"""
, l{i} AS (
    SELECT e.dst AS node, min(p.lbl) AS lbl
    FROM edges e JOIN {prev} p ON p.node = e.src
    GROUP BY e.dst
)"""


@query(
    "b_graph_components",
    oracle=_LABELPROP_EDGES_SQL
    + "".join(_labelprop_iter_sql(i) for i in range(1, LABELPROP_ITERS + 1))
    + f"""
SELECT lbl AS component, count(*) AS n_nodes, min(node) AS min_node
FROM l{LABELPROP_ITERS}
GROUP BY lbl
ORDER BY n_nodes DESC, component
LIMIT 100
""",
)
def b_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by min-label propagation, LABELPROP_ITERS=3
    rounds unrolled, over the SPARSIFIED orders<->parts co-purchase
    graph (l_quantity >= LABELPROP_MIN_QTY keeps ~6% of lineitem so the
    graph fractures into many components instead of one giant one).
    Each round every node takes the minimum label among itself and its
    neighbors — the standard "hash-to-min" CC step (k rounds resolve
    components of diameter <= k; c_dedup_cluster holds the
    run-to-fixpoint contraction variant, this is the bounded-round
    relational form whose every iteration the DuckDB oracle replays
    EXACTLY — integer labels, no quantization). The edge list carries a
    SELF-LOOP per node so "min over itself and its neighbors" is one
    min over incoming labels — the label table is referenced ONCE per
    round, keeping the unrolled plan linear in rounds (the
    least(self, min(nbr)) form references it twice and the static plan
    doubled per round: 31 exchanges vs ~10). Output: the 100 largest
    components by (size desc, label). Scale story: identical to
    pagerank's — labels live in a node-count table that AQE broadcasts
    against the persisted edge list, one groupBy(dst) shuffle per
    round with map-side MIN partials; never a driver-side loop. Below
    CAPS["graph"] lineitem pair rows the block lane dedups the pairs
    and replays the rounds in one task — integer min-labels, bit-exact
    by construction; the persisted edge list exists only on the
    distributed chain."""
    from demo_segmenter_spark.functions.cache import persist

    raw = _pair_scan(spark, sf_dir, F.col("l_quantity") >= LABELPROP_MIN_QTY)
    iters = LABELPROP_ITERS

    def kern(batches):
        import numpy as np
        import pandas as pd

        o, p = np_dedup(*np_gather(batches, ["o", "p"]))
        src = np.concatenate([o, p])
        dst = np.concatenate([p, o])
        nodes = np.unique(src)
        # self-loops ride the index arrays, exactly as the distributed
        # lane unions (src, src) edges into the edge list
        sidx = np.searchsorted(nodes, np.concatenate([src, nodes]))
        didx = np.searchsorted(nodes, np.concatenate([dst, nodes]))
        lbl = nodes.copy()
        for _ in range(iters):
            new = np.full(len(nodes), np.iinfo(np.int64).max)
            np.minimum.at(new, didx, lbl[sidx])
            lbl = new  # every node has a self-loop, so none stays at max
        order = np.lexsort((nodes, lbl))  # by label, nodes asc within
        l2, n2 = lbl[order], nodes[order]
        starts = np.flatnonzero(np.r_[True, l2[1:] != l2[:-1]])
        n_nodes = np.diff(np.r_[starts, len(l2)])
        comp, min_node = l2[starts], n2[starts]
        top = np.lexsort((comp, -n_nodes))[:100]
        yield pd.DataFrame(
            {
                "component": comp[top],
                "n_nodes": n_nodes[top],
                "min_node": min_node[top],
            }
        )

    blk = block_lane(
        raw, "graph", kern, "component long, n_nodes long, min_node long"
    )
    if blk is not None:
        return blk
    pairs = persist(raw.distinct())
    both = F.array(
        F.struct(F.col("o").alias("src"), F.col("p").alias("dst")),
        F.struct(F.col("p").alias("src"), F.col("o").alias("dst")),
    )
    half = persist(
        pairs.select(F.explode(both).alias("e")).select("e.src", "e.dst")
    )
    nodes = half.select("src").distinct()
    edges = persist(
        half.unionByName(nodes.select("src", F.col("src").alias("dst")))
    )
    lbl = nodes.select(F.col("src").alias("node"), F.col("src").alias("lbl"))
    for _ in range(LABELPROP_ITERS):
        lbl = (
            edges.join(
                lbl.select(
                    F.col("node").alias("src"), F.col("lbl").alias("src_lbl")
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.min("src_lbl").alias("lbl"))
            .withColumnRenamed("dst", "node")
        )
    return (
        lbl.groupBy(F.col("lbl").alias("component"))
        .agg(F.count("*").alias("n_nodes"), F.min("node").alias("min_node"))
        .orderBy(F.col("n_nodes").desc(), "component")
        .limit(100)
    )


COMMUNITY_ITERS = 3
COMMUNITY_MIN_QTY = 40  # the denser bulk-co-purchase graph (same slice
# as triangle counting): communities are only interesting when label
# frequency has something to vote over — the >=48 components graph is
# too fragmented for majorities to differ from min-labels


_COMMUNITY_EDGES_SQL = f"""
WITH pairs AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p
    FROM lineitem WHERE l_quantity >= {COMMUNITY_MIN_QTY}
), half AS (
    SELECT o * 2 AS src, p * 2 + 1 AS dst FROM pairs
    UNION ALL
    SELECT p * 2 + 1 AS src, o * 2 AS dst FROM pairs
), edges AS (
    SELECT src, dst FROM half
    UNION ALL
    SELECT DISTINCT src, src FROM half
), l0 AS (
    SELECT DISTINCT src AS node, src AS lbl FROM half
)
"""


def _community_iter_sql(i: int) -> str:
    prev = f"l{i - 1}"
    return f"""
, c{i} AS (
    SELECT e.dst AS node, p.lbl, count(*) AS cnt
    FROM edges e JOIN {prev} p ON p.node = e.src
    GROUP BY e.dst, p.lbl
), l{i} AS (
    SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (
                   PARTITION BY node ORDER BY cnt DESC, lbl
               ) AS rn
        FROM c{i}
    ) WHERE rn = 1
)"""


def _community_kernel(batches, iters=COMMUNITY_ITERS):
    """b_graph_community's block lane: dedup the (o, p) pair rows,
    replay ``iters`` synchronous label-propagation rounds over the
    undirected edges plus one self-loop per node, and yield the top
    100 communities. All-integer votes, bit-exact against the
    distributed rounds."""
    import numpy as np
    import pandas as pd

    o, p = np_dedup(*np_gather(batches, ["o", "p"]))
    src = np.concatenate([o, p])
    dst = np.concatenate([p, o])
    nodes = np.unique(src)
    # self-loop damping rides the edge list, exactly as the
    # distributed lane unions nodes as (src, src) edges
    sidx = np.searchsorted(nodes, np.concatenate([src, nodes]))
    didx = np.searchsorted(nodes, np.concatenate([dst, nodes]))
    lbl = nodes.copy()
    for _ in range(iters):
        gd, gl, cnt = _grouped_counts(didx, lbl[sidx])
        order = np.lexsort((gl, -cnt, gd))
        gd2, gl2 = gd[order], gl[order]
        first = np.r_[True, gd2[1:] != gd2[:-1]]
        lbl = gl2[first]  # gd2[first] == 0..n-1 (every node votes)
    order = np.lexsort((nodes, lbl))  # by label, nodes asc within
    l2, n2 = lbl[order], nodes[order]
    starts = np.flatnonzero(np.r_[True, l2[1:] != l2[:-1]])
    n_nodes = np.diff(np.r_[starts, len(l2)])
    comm, min_node = l2[starts], n2[starts]
    top = np.lexsort((comm, -n_nodes))[:100]
    yield pd.DataFrame(
        {
            "community": comm[top],
            "n_nodes": n_nodes[top],
            "min_node": min_node[top],
        }
    )


@query(
    "b_graph_community",
    oracle=_COMMUNITY_EDGES_SQL
    + "".join(_community_iter_sql(i) for i in range(1, COMMUNITY_ITERS + 1))
    + f"""
SELECT lbl AS community, count(*) AS n_nodes, min(node) AS min_node
FROM l{COMMUNITY_ITERS}
GROUP BY lbl
ORDER BY n_nodes DESC, community
LIMIT 100
""",
)
def b_graph_community(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMUNITY DETECTION by synchronous label propagation (Raghavan
    et al. 2007's LPA, the deterministic fixed-round relational form) —
    b_graph_components' sibling with a DIFFERENT vote: each round every
    node adopts the MOST FREQUENT label among itself and its neighbors
    (components takes the MINIMUM — a reachability fold that always
    floods a whole component; frequency voting stops at density
    boundaries, which is what makes it a community algorithm).
    Synchronous LPA is order-independent, so three unrolled rounds are
    exactly replayable by the DuckDB oracle — all-integer state (label
    counts, node ids), ZERO floats anywhere. Two deterministic choices
    close LPA's two classic nondeterminisms: ties break (count DESC,
    label ASC) via one row_number per round, and the self-loop keeps
    each node's own label in its vote (the damping that prevents the
    bipartite two-coloring oscillation pure synchronous LPA exhibits).
    Scale: per round ONE groupBy(node, lbl) count and ONE per-node
    argmax window — both keyed on the node the edge list already
    carries; labels live in a node-count table joined against the
    persisted edge list (broadcast at fixture sf, co-partitioned
    shuffle at 100 TB). Rounds are a constant, not a convergence loop —
    the bounded-round contract that makes the plan static. Below
    CAPS["graph"] lineitem pair rows the block lane dedups the pairs
    and replays the rounds in one task — all-integer votes, bit-exact
    by construction; the persisted edge list exists only on the
    distributed chain."""
    from demo_segmenter_spark.functions.cache import persist

    raw = _pair_scan(spark, sf_dir, F.col("l_quantity") >= COMMUNITY_MIN_QTY)
    blk = block_lane(
        raw,
        "graph",
        _community_kernel,
        "community long, n_nodes long, min_node long",
    )
    if blk is not None:
        return blk
    pairs = persist(raw.distinct())
    both = F.array(
        F.struct(F.col("o").alias("src"), F.col("p").alias("dst")),
        F.struct(F.col("p").alias("src"), F.col("o").alias("dst")),
    )
    half = persist(
        pairs.select(F.explode(both).alias("e")).select("e.src", "e.dst")
    )
    nodes = half.select("src").distinct()
    edges = persist(
        half.unionByName(nodes.select("src", F.col("src").alias("dst")))
    )
    lbl = nodes.select(F.col("src").alias("node"), F.col("src").alias("lbl"))
    w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), "lbl")
    for _ in range(COMMUNITY_ITERS):
        lbl = (
            edges.join(
                lbl.select(
                    F.col("node").alias("src"), F.col("lbl").alias("src_lbl")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"), F.col("src_lbl").alias("lbl"))
            .agg(F.count("*").alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    return (
        lbl.groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").alias("n_nodes"), F.min("node").alias("min_node"))
        .orderBy(F.col("n_nodes").desc(), "community")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Triangle counting with degree-ordered orientation — the classic
# "count without exploding" graph join: orient every undirected edge
# from its (degree, id)-smaller endpoint, enumerate wedges at each
# source, and close them against the oriented edge list. Orientation
# bounds every node's out-degree by O(sqrt(m)), which is what keeps
# the wedge join sub-quadratic on power-law graphs at 100 TB.
# ---------------------------------------------------------------------------

TRIANGLE_MIN_QTY = 40  # bulk co-purchases only: full graph has avg
# degree ~90 at sf0.1 (20k parts / 900k edges) and its wedge set is
# tens of millions — measured 22-37 s; the >=40 subgraph keeps the
# identical algorithm on a business-meaningful slice at ~2 s

_TRIANGLE_SQL = f"""
WITH op AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p
    FROM lineitem WHERE l_quantity >= {TRIANGLE_MIN_QTY}
), e AS (
    SELECT DISTINCT a.p AS u, b.p AS v
    FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
), deg AS (
    SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
    ) GROUP BY node
), oe AS (
    SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
           CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
           CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS ddeg
    FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
), tri AS (
    SELECT x.src AS a, x.dst AS b, y.dst AS c
    FROM oe x
    JOIN oe y ON x.src = y.src AND (x.ddeg, x.dst) < (y.ddeg, y.dst)
    JOIN oe z ON z.src = x.dst AND z.dst = y.dst
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b AS node FROM tri
    UNION ALL SELECT c AS node FROM tri
)
GROUP BY node
ORDER BY n_triangles DESC, node
LIMIT 20
"""


@query("b_graph_triangles", oracle=_TRIANGLE_SQL)
def b_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by triangle participation in the BULK co-purchase
    graph (parts are adjacent when some order contains both at
    quantity >= TRIANGLE_MIN_QTY — the full graph's wedge set is
    dense-random and tens of millions at sf0.1, see the constant's
    note; the subgraph keeps the identical algorithm). Degree-ordered
    orientation: each undirected edge points from its (degree, id)-
    smaller endpoint, every triangle is then counted exactly once as a
    wedge at its smallest vertex closed by one oriented edge — two
    equi-joins, no direction double-counting, and the wedge fan-out at
    any node is bounded by its oriented OUT-degree, which the
    orientation caps at O(sqrt(m)) — the standard trick that keeps
    triangle enumeration feasible on skewed graphs at 100 TB (a
    hub-part with 10k co-purchases contributes wedges only from edges
    where it is the LARGER endpoint). All-integer, total-order
    tiebreaks everywhere — the oracle replays the identical
    orientation and wedge ordering. Below CAPS["graph"] edges the
    orientation + wedge close replay in one task (the co-purchase
    self-join that BUILDS the edge list stays distributed — it is the
    corpus-sized step); integer degrees and ids, bit-exact."""
    from demo_segmenter_spark.functions.cache import persist

    li = load_table(spark, sf_dir, "lineitem")
    op = (
        li.filter(F.col("l_quantity") >= TRIANGLE_MIN_QTY)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = op.alias("a"), op.alias("b")
    e = persist(
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )

    def kern(batches):
        import numpy as np
        import pandas as pd

        u, v = np_gather(batches, ["u", "v"])
        nodes = np.unique(np.r_[u, v])
        ui = np.searchsorted(nodes, u)
        vi = np.searchsorted(nodes, v)
        deg = np.bincount(np.r_[ui, vi], minlength=len(nodes))
        du, dv = deg[ui], deg[vi]
        u_first = (du < dv) | ((du == dv) & (u < v))
        src = np.where(u_first, u, v)
        dst = np.where(u_first, v, u)
        ddeg = np.where(u_first, dv, du)
        # wedges at each src over its (ddeg, dst)-sorted out-edges:
        # within a group, position i pairs with every later position —
        # exactly the struct(bdeg,b) < struct(cdeg,c) filter, since
        # (ddeg, dst) is strictly increasing within a src group
        order = np.lexsort((dst, ddeg, src))
        s2, d2 = src[order], dst[order]
        starts = np.flatnonzero(np.r_[True, s2[1:] != s2[:-1]])
        sizes = np.diff(np.r_[starts, len(s2)])
        loc = np.arange(len(s2)) - np.repeat(starts, sizes)
        cnt_i = np.repeat(sizes, sizes) - 1 - loc  # later partners
        first = np.repeat(np.arange(len(s2)), cnt_i)
        csum = np.cumsum(cnt_i)
        offs = np.arange(int(csum[-1]) if len(csum) else 0) - np.repeat(
            csum - cnt_i, cnt_i
        )
        second = first + offs + 1
        wa, wb, wc = s2[first], d2[first], d2[second]
        # close the wedge against the oriented edge set via sorted keys
        big = np.int64(len(nodes))
        ek = np.sort(
            np.searchsorted(nodes, src) * big + np.searchsorted(nodes, dst)
        )
        wk = np.searchsorted(nodes, wb) * big + np.searchsorted(nodes, wc)
        pos = np.searchsorted(ek, wk)
        hit = (pos < len(ek)) & (ek[np.minimum(pos, len(ek) - 1)] == wk)
        tri = np.r_[wa[hit], wb[hit], wc[hit]]
        tn, cnt = np.unique(tri, return_counts=True)
        top = np.lexsort((tn, -cnt))[:20]
        yield pd.DataFrame(
            {"node": tn[top], "n_triangles": cnt[top].astype(np.int64)}
        )

    blk = block_lane(e, "graph", kern, "node long, n_triangles long")
    if blk is not None:
        return blk
    # explode-array instead of unionAll-of-projections: references the
    # persisted e subtree ONCE (the union form doubled the static plan)
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    u_first = F.struct("du", "u") < F.struct("dv", "v")
    oe = persist(
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("ddeg"),
        )
    )
    x = oe.select(
        F.col("src"), F.col("dst").alias("b_node"), F.col("ddeg").alias("bdeg")
    )
    y = oe.select(
        F.col("src"), F.col("dst").alias("c_node"), F.col("ddeg").alias("cdeg")
    )
    wedges = x.join(y, "src").filter(
        F.struct("bdeg", "b_node") < F.struct("cdeg", "c_node")
    )
    z = oe.select(F.col("src").alias("b_node"), F.col("dst").alias("c_node"))
    tri = wedges.join(z, ["b_node", "c_node"]).select(
        F.col("src").alias("a"), F.col("b_node").alias("b"), F.col("c_node").alias("c")
    )
    nodes = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return (
        nodes.groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# k-hop BFS distances (min-plus relaxation) — the frontier-expansion
# member of the graph family (pagerank = weighted push, components =
# min-label, triangles = oriented join, THIS = shortest distance).
# Same linear-plan discipline: self-loops carry weight 0 so each round
# is ONE min over incoming (dist + w) and the distance table is
# referenced once per round.
# ---------------------------------------------------------------------------

BFS_ROUNDS = 3
BFS_SOURCE_MAX_PARTKEY = 10  # sources: part nodes with partkey <= 10

_BFS_EDGES_SQL = f"""
WITH pairs AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p
    FROM lineitem WHERE l_quantity >= {LABELPROP_MIN_QTY}
), half AS (
    SELECT o * 2 AS src, p * 2 + 1 AS dst FROM pairs
    UNION ALL
    SELECT p * 2 + 1 AS src, o * 2 AS dst FROM pairs
), edges AS (
    SELECT src, dst, 1 AS w FROM half
    UNION ALL
    SELECT DISTINCT src, src, 0 AS w FROM half
), d0 AS (
    SELECT DISTINCT src AS node,
           CASE WHEN src % 2 = 1 AND src <= {2 * BFS_SOURCE_MAX_PARTKEY + 1}
                THEN 0 END AS dist
    FROM half
)
"""


def _bfs_iter_sql(i: int) -> str:
    prev = f"d{i - 1}"
    return f"""
, d{i} AS (
    SELECT e.dst AS node, min(p.dist + e.w) AS dist
    FROM edges e JOIN {prev} p ON p.node = e.src
    GROUP BY e.dst
)"""


@query(
    "b_graph_bfs",
    oracle=_BFS_EDGES_SQL
    + "".join(_bfs_iter_sql(i) for i in range(1, BFS_ROUNDS + 1))
    + f"""
SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_nodes, min(node) AS min_node
FROM d{BFS_ROUNDS}
WHERE dist IS NOT NULL
GROUP BY dist
ORDER BY dist
""",
)
def b_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS distance histogram after BFS_ROUNDS=3 min-plus relaxation
    rounds over the sparsified co-purchase graph, from the fixed
    source set (part nodes with partkey <= BFS_SOURCE_MAX_PARTKEY).
    Each round every node takes min over incoming (dist + w); real
    edges carry w=1 and self-loops w=0, so "keep my own distance" is
    part of the same single aggregate and the distance table is
    referenced ONCE per round — the unrolled static plan stays linear
    (the b_graph_components discipline). Unreached nodes stay NULL
    (min skips NULLs identically on both engines) and are excluded
    from the histogram; distances are exact integers, the oracle
    replays every round with zero tolerance. Scale story: one
    groupBy(dst) shuffle per round with map-side MIN partials against
    the persisted edge list — textbook distributed frontier expansion
    (Pregel's BFS) as pure dataflow. Below CAPS["graph"] lineitem pair
    rows the block lane dedups the pairs and replays the rounds in one
    task — +inf stands for the NULL "unreached" distance (min over
    all-inf stays inf, exactly NULL-skipping MIN), distances stay exact
    small integers; the persisted edge list exists only on the
    distributed chain."""
    from demo_segmenter_spark.functions.cache import persist

    raw = _pair_scan(spark, sf_dir, F.col("l_quantity") >= LABELPROP_MIN_QTY)
    rounds, src_max = BFS_ROUNDS, 2 * BFS_SOURCE_MAX_PARTKEY + 1

    def kern(batches):
        import numpy as np
        import pandas as pd

        o, p = np_dedup(*np_gather(batches, ["o", "p"]))
        src = np.concatenate([o, p])
        dst = np.concatenate([p, o])
        nodes = np.unique(src)
        sidx = np.searchsorted(nodes, np.concatenate([src, nodes]))
        didx = np.searchsorted(nodes, np.concatenate([dst, nodes]))
        # real edges w=1, self-loops w=0 (keep-my-distance)
        w = np.r_[
            np.ones(len(src)), np.zeros(len(nodes))
        ]
        dist = np.where(
            (nodes % 2 == 1) & (nodes <= src_max), 0.0, np.inf
        )
        for _ in range(rounds):
            new = np.full(len(nodes), np.inf)
            np.minimum.at(new, didx, dist[sidx] + w)
            dist = new
        reach = np.isfinite(dist)
        d = dist[reach].astype(np.int64)
        n = nodes[reach]
        order = np.lexsort((n, d))
        d2, n2 = d[order], n[order]
        starts = np.flatnonzero(np.r_[True, d2[1:] != d2[:-1]])
        yield pd.DataFrame(
            {
                "dist": d2[starts],
                "n_nodes": np.diff(np.r_[starts, len(d2)]),
                "min_node": n2[starts],  # nodes asc within dist
            }
        )

    blk = block_lane(
        raw, "graph", kern, "dist long, n_nodes long, min_node long"
    )
    if blk is not None:
        return blk
    pairs = persist(raw.distinct())
    both = F.array(
        F.struct(F.col("o").alias("src"), F.col("p").alias("dst")),
        F.struct(F.col("p").alias("src"), F.col("o").alias("dst")),
    )
    half = persist(
        pairs.select(F.explode(both).alias("e")).select("e.src", "e.dst")
    )
    nodes = half.select("src").distinct()
    edges = persist(
        half.select("src", "dst", F.lit(1).alias("w")).unionByName(
            nodes.select("src", F.col("src").alias("dst"), F.lit(0).alias("w"))
        )
    )
    is_src = (F.col("src") % 2 == 1) & (
        F.col("src") <= 2 * BFS_SOURCE_MAX_PARTKEY + 1
    )
    dist = nodes.select(
        F.col("src").alias("node"),
        F.when(is_src, F.lit(0)).alias("dist"),
    )
    for _ in range(BFS_ROUNDS):
        dist = (
            edges.join(
                dist.select(
                    F.col("node").alias("src"), F.col("dist").alias("src_dist")
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.min(F.col("src_dist") + F.col("w")).alias("dist"))
            .withColumnRenamed("dst", "node")
        )
    return (
        dist.filter(F.col("dist").isNotNull())
        .groupBy(F.col("dist").cast("long").alias("dist"))
        .agg(F.count("*").alias("n_nodes"), F.min("node").alias("min_node"))
        .orderBy("dist")
    )


# ---------------------------------------------------------------------------
# Bounded-round k-core peeling — iterative subgraph REDUCTION (the
# dual of the propagation family): repeatedly drop nodes of degree < K
# and the edges they carry. Full k-core decomposition iterates to
# fixpoint; KCORE_ROUNDS bounded rounds are unrolled here so the
# DuckDB oracle replays every peel exactly (integer degrees, no
# tolerance). Coreness filters are a standard curation primitive —
# e.g. keeping only densely co-occurring vocabulary/entities.
# ---------------------------------------------------------------------------

KCORE_K = 3
KCORE_ROUNDS = 3


def _kcore_round_sql(r: int) -> str:
    prev = f"e{r - 1}"
    return f"""
, d{r} AS (
    SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM {prev} UNION ALL SELECT v AS node FROM {prev}
    ) GROUP BY node
), s{r} AS (
    SELECT node FROM d{r} WHERE d >= {KCORE_K}
), e{r} AS (
    SELECT u, v FROM {prev}
    WHERE u IN (SELECT node FROM s{r}) AND v IN (SELECT node FROM s{r})
)"""


@query(
    "b_graph_kcore",
    oracle=f"""
WITH op AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p
    FROM lineitem WHERE l_quantity >= {TRIANGLE_MIN_QTY}
), e0 AS (
    SELECT DISTINCT a.p AS u, b.p AS v
    FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
)"""
    + "".join(_kcore_round_sql(r) for r in range(1, KCORE_ROUNDS + 1))
    + f"""
, df AS (
    SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e{KCORE_ROUNDS}
        UNION ALL SELECT v AS node FROM e{KCORE_ROUNDS}
    ) GROUP BY node
)
SELECT node, CAST(d AS BIGINT) AS degree
FROM df ORDER BY d DESC, node LIMIT 100
""",
)
def b_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KCORE_ROUNDS=3 peeling rounds toward the KCORE_K-core of the bulk
    co-purchase graph (same edge set as b_graph_triangles): each round
    recomputes degrees over the CURRENT edge set, drops nodes with
    degree < KCORE_K via two semi-joins, and the oracle replays every
    peel with exact integer degrees. Output: top-100 surviving nodes
    by post-peel degree. Scale story: per round one explode+groupBy
    degree shuffle (map-side partials) and two semi-joins against the
    small survivor set (AQE broadcasts it); the edge list persists per
    round so the static repetition of prior rounds' subtrees (degree
    pass + restriction base both read it) is paid once at runtime —
    the same bounded-round discipline as components/BFS, on the one
    graph pattern that SHRINKS its input each round. Below
    CAPS["graph"] edges the peels replay in one task — integer
    degrees, bit-exact by construction."""
    from demo_segmenter_spark.functions.cache import persist

    li = load_table(spark, sf_dir, "lineitem")
    op = (
        li.filter(F.col("l_quantity") >= TRIANGLE_MIN_QTY)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = op.alias("a"), op.alias("b")
    edges = persist(
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )
    rounds, k = KCORE_ROUNDS, KCORE_K

    def kern(batches):
        import numpy as np
        import pandas as pd

        u, v = np_gather(batches, ["u", "v"])
        for _ in range(rounds):
            nodes, counts = np.unique(np.r_[u, v], return_counts=True)
            surv = nodes[counts >= k]
            keep = np.isin(u, surv) & np.isin(v, surv)
            u, v = u[keep], v[keep]
        nodes, deg = np.unique(np.r_[u, v], return_counts=True)
        top = np.lexsort((nodes, -deg))[:100]
        yield pd.DataFrame(
            {"node": nodes[top], "degree": deg[top].astype(np.int64)}
        )

    blk = block_lane(edges, "graph", kern, "node long, degree long")
    if blk is not None:
        return blk

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )

    for _ in range(KCORE_ROUNDS):
        surv = degrees(edges).filter(F.col("d") >= KCORE_K).select("node")
        edges = persist(
            edges.join(
                surv.withColumnRenamed("node", "u"), "u", "left_semi"
            ).join(surv.withColumnRenamed("node", "v"), "v", "left_semi")
        )
    return (
        degrees(edges)
        .select("node", F.col("d").cast("long").alias("degree"))
        .orderBy(F.col("degree").desc(), "node")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# TPC-H continuation: Q6 / Q8 / Q13 / Q15 / Q17 / Q21 / Q22 shapes
# (adapted to the driver fixture's narrower schemas — no partsupp,
# no commit/receipt dates, no comment/phone columns; each query keeps
# its classic optimizer-relevant SHAPE: Q6 scan-only aggregate, Q8
# ratio-of-sums market share, Q13 outer-join histogram, Q15 scalar-max
# subquery, Q17 correlated per-group threshold, Q21 exists/not-exists
# wait analysis, Q22 anti-join with a global scalar gate.)
# ---------------------------------------------------------------------------


@query(
    "b_pipeline_tpch_q6",
    oracle=f"""
SELECT CAST(round(l_discount * 100) AS BIGINT) AS discount_pct,
       CAST(count(*) AS BIGINT) AS n_lines,
       {sql_money_sum("l_extendedprice * l_discount")} AS revenue_delta
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
GROUP BY 1
""",
)
def b_pipeline_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure scan-aggregate
    query — no joins, three pushable predicates, one map-side partial
    aggregate. Broken out by discount step (3 groups) so each bucket's
    contribution hashes separately instead of Q6's single row. THE
    probe for predicate pushdown + whole-stage codegen: at 100 TB this
    is a parquet scan with all three filters in PushedFilters, zero
    wide rows ever materialized, and a 3-row exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .groupBy(
            F.round(F.col("l_discount") * 100)
            .cast("long")
            .alias("discount_pct")
        )
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            money_sum(
                F.col("l_extendedprice") * F.col("l_discount")
            ).alias("revenue_delta"),
        )
    )


@query(
    "b_pipeline_tpch_q8",
    oracle=f"""
WITH vol AS (
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           {sql_cents("l_extendedprice * (1 - l_discount)")} AS v,
           sn.n_name AS supp_nation
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region   ON cn.n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
)
SELECT o_year,
       {sql_rnd("sum(CASE WHEN supp_nation = 'NATION_9' THEN v ELSE 0 END) * 1.0 / sum(v)", 4)} AS mkt_share,
       {sql_rnd("sum(v) / 100.0", 2)} AS total_volume
FROM vol
GROUP BY o_year
""",
)
def b_pipeline_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_9's share of STANDARD-
    part revenue sold into ASIA-region customers, per order year. The
    widest dimension fan in the suite — two roles for nation (supplier
    side and customer side) plus region, part, supplier, customer
    around the lineitem⋈orders fact join. Ratio-of-sums on exact
    BIGINT cents: one IEEE division per year row, identical on both
    engines. Scale: all five dims broadcast; lineitem⋈orders is the
    one co-partitioned shuffle at 100 TB (AQE collapses it to
    broadcast at fixture sf); the year rollup is a ≤7-row exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "STANDARD"
    )
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    sn = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nat.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    vol = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == F.col("r_regionkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            cents(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("v"),
            "supp_nation",
        )
    )
    return vol.groupBy("o_year").agg(
        rnd(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_9", F.col("v")).otherwise(
                    F.lit(0)
                )
            )
            * 1.0
            / F.sum("v"),
            4,
        ).alias("mkt_share"),
        rnd(F.sum("v") / 100.0, 2).alias("total_volume"),
    )


@query(
    "b_pipeline_tpch_q13",
    oracle="""
WITH per_cust AS (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
                    AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(count(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY c_count
""",
)
def b_pipeline_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): histogram of orders-per-
    customer INCLUDING zero-order customers — the query whose whole
    point is the left outer join with the filter inside the join
    condition (pushing `o_orderpriority <> '1-URGENT'` below the join
    as a WHERE would silently drop the c_count=0 bucket). count()
    over a nullable key counts only matches, exactly the outer-join
    histogram semantics. Scale: the join shuffles on custkey (or
    customer broadcasts), first rollup reuses that partitioning, the
    second is a ≤40-row exchange. All-integer output — hash-exact."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy(F.col("c_count").cast("long").alias("c_count"))
        .agg(F.count("*").cast("long").alias("custdist"))
    )


@query(
    "b_pipeline_tpch_q15",
    oracle=f"""
WITH rev AS (
    SELECT l_suppkey,
           sum({sql_cents("l_extendedprice * (1 - l_discount)")}) AS tc
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       {sql_rnd("tc / 100.0", 2)} AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE tc = (SELECT max(tc) FROM rev)
""",
)
def b_pipeline_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the scalar-max-subquery query — a
    quarter's revenue per supplier, keep the supplier(s) achieving the
    global max. The max gate compares exact BIGINT cents, so the
    classic Q15 float-equality trap (revenue = max(revenue) on
    doubles) cannot misfire on either engine. Scale: one groupBy
    suppkey exchange; the max is a 1-row broadcast back-join; supplier
    dim broadcasts. Ties (multiple max suppliers) surface as multiple
    rows on both engines by construction."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("tc")
    )
    mx = rev.agg(F.max("tc").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("tc") == F.col("mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            rnd(F.col("tc") / 100.0, 2).alias("total_revenue"),
        )
    )


@query(
    "b_pipeline_tpch_q17",
    oracle=f"""
WITH joined AS (
    SELECT p_size, l_quantity, l_extendedprice, l_partkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#1' AND p_size <= 10
), thresh AS (
    SELECT l_partkey AS tk, 0.5 * (sum(l_quantity) / count(*)) AS cutoff
    FROM joined GROUP BY l_partkey
)
SELECT p_size,
       CAST(count(*) AS BIGINT) AS n_small_lines,
       {sql_money_sum("l_extendedprice")} AS small_revenue
FROM joined JOIN thresh ON l_partkey = tk
WHERE l_quantity < cutoff
GROUP BY p_size
""",
)
def b_pipeline_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): the correlated-
    aggregate query — lines whose quantity is below half their PART's
    average quantity. The threshold `0.5 * avg(qty)` is cross-engine
    exact: quantities are small integers (sum exact in double), the
    avg division is one IEEE op, and 0.5* is a power-of-two scale, so
    the `<` gate can never flip between engines. Grouped by p_size for
    a multi-row hash. Scale: part broadcasts; the per-part threshold
    is a groupBy on the SAME partkey the join just hashed on (one
    exchange, reused); final rollup is a ≤10-row exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10)
    )
    joined = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    ).select("p_size", "l_quantity", "l_extendedprice", "l_partkey")
    thresh = joined.groupBy(F.col("l_partkey").alias("tk")).agg(
        (
            F.lit(0.5)
            * (F.sum("l_quantity") / F.count(F.lit(1)))
        ).alias("cutoff")
    )
    return (
        joined.join(F.broadcast(thresh), F.col("l_partkey") == F.col("tk"))
        .filter(F.col("l_quantity") < F.col("cutoff"))
        .groupBy("p_size")
        .agg(
            F.count("*").cast("long").alias("n_small_lines"),
            money_sum(F.col("l_extendedprice")).alias("small_revenue"),
        )
    )


@query(
    "b_pipeline_tpch_q21",
    oracle="""
WITH ps AS (
    SELECT l_orderkey, l_suppkey, max(l_shipdate) AS smax
    FROM lineitem GROUP BY l_orderkey, l_suppkey
), winged AS (
    SELECT l_suppkey, smax,
           max(smax) OVER (PARTITION BY l_orderkey) AS omax,
           count(*) OVER (PARTITION BY l_orderkey) AS nsupp,
           l_orderkey
    FROM ps
), marked AS (
    SELECT l_suppkey, smax, omax, nsupp,
           sum(CASE WHEN smax = omax THEN 1 ELSE 0 END)
               OVER (PARTITION BY l_orderkey) AS nachievers
    FROM winged
)
SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
FROM marked JOIN supplier ON l_suppkey = s_suppkey
WHERE nsupp >= 2 AND smax = omax AND nachievers = 1
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
LIMIT 25
""",
)
def b_pipeline_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), adapted to the
    fixture's dateless-receipt schema: in every multi-supplier order,
    the supplier whose lineitems shipped STRICTLY last (unique
    achiever of the order's max shipdate) is the one the order waited
    on — same exists(other supplier) / not-exists(later supplier)
    shape as the classic query, resolved with one window pass instead
    of two correlated subqueries. The unique-achiever gate (13 orders
    in the sf0.01 fixture tie on max shipdate) makes the row set
    deterministic on both engines. Scale: groupBy (orderkey,suppkey)
    is one exchange; the order-partitioned window reuses orderkey
    partitioning 1:1 (same-key window after a finer groupBy still
    re-exchanges once); the supplier rollup is bounded by |supplier|;
    top-25 is TakeOrderedAndProject with the suppkey tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    ps = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("smax")
    )
    w = Window.partitionBy("l_orderkey")
    marked = ps.select(
        "l_suppkey",
        "smax",
        F.max("smax").over(w).alias("omax"),
        F.count("*").over(w).alias("nsupp"),
        F.sum(
            F.when(F.col("smax") == F.max("smax").over(w), 1).otherwise(0)
        )
        .over(w)
        .alias("nachievers"),
    )
    return (
        marked.filter(
            (F.col("nsupp") >= 2)
            & (F.col("smax") == F.col("omax"))
            & (F.col("nachievers") == 1)
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(25)
    )


@query(
    "b_pipeline_tpch_q22",
    oracle=f"""
WITH pool AS (
    SELECT c_custkey, c_nationkey,
           {sql_cents("c_acctbal")} AS bal_cents
    FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9)
), stat AS (
    SELECT sum(bal_cents) AS total_cents,
           count(*) AS cnt
    FROM pool WHERE bal_cents > 0
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_cust,
       {sql_rnd("sum(bal_cents) / 100.0", 2)} AS total_acctbal
FROM pool CROSS JOIN stat
WHERE bal_cents * cnt > total_cents
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
""",
)
def b_pipeline_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): customers in a 5-nation
    pool with above-average balance and no RECENT orders (none since
    2000-01-01 — the fixture has almost no zero-order customers, so
    the classic 7-year dormancy window is expressed against the
    fixture's 1995–2001 date range) — the anti-join query gated by a
    global scalar aggregate. The above-average test
    is exact integer math: `bal_cents * cnt > total_cents` cross-
    multiplies BIGINTs instead of comparing against a float average,
    so no boundary customer can flip between engines (magnitudes
    ~1e6 * 1e5 stay far under 2^63). Scale: the stat row is a 1-row
    broadcast; the anti join shuffles on custkey (or broadcasts the
    order-key projection); the nation rollup is a 5-row exchange."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    pool = cust.filter(F.col("c_nationkey").isin(1, 3, 5, 7, 9)).select(
        "c_custkey", "c_nationkey", cents(F.col("c_acctbal")).alias("bal_cents")
    )
    stat = pool.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("total_cents"),
        F.count("*").alias("cnt"),
    )
    return (
        pool.crossJoin(F.broadcast(stat))
        .filter(F.col("bal_cents") * F.col("cnt") > F.col("total_cents"))
        .join(
            orders.filter(
                F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
            ).select(F.col("o_custkey")),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            rnd(F.sum("bal_cents") / 100.0, 2).alias("total_acctbal"),
        )
    )


@query(
    "b_agg_mode",
    oracle="""
WITH counts AS (
    SELECT l_returnflag, l_linestatus,
           CAST(l_quantity AS BIGINT) AS q, count(*) AS c
    FROM lineitem GROUP BY 1, 2, 3
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY l_returnflag, l_linestatus
                                 ORDER BY c DESC, q) AS rn
    FROM counts
)
SELECT l_returnflag, l_linestatus,
       q AS modal_quantity,
       CAST(c AS BIGINT) AS n_occurrences
FROM ranked WHERE rn = 1
""",
)
def b_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Groupwise MODE with a deterministic tie policy: the modal
    l_quantity per (returnflag, linestatus), ties broken toward the
    SMALLEST modal value. Built as count-then-argmax (groupBy + one
    row_number window) instead of Spark's builtin `mode()` / DuckDB's
    `mode()`, both of which leave tie resolution undefined — exactly
    the kind of cross-engine nondeterminism the oracle harness exists
    to catch. Quantities are integral doubles, so the BIGINT cast is
    exact on both engines. Scale: the value-level groupBy is the one
    real exchange (partial counts map-side); the argmax window runs
    over |distinct quantities| = 50 rows per group — the
    count-then-rank shape stays flat however hot one value gets."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = (
        li.groupBy(
            "l_returnflag",
            "l_linestatus",
            F.col("l_quantity").cast("long").alias("q"),
        )
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("l_returnflag", "l_linestatus").orderBy(
        F.col("c").desc(), "q"
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("q").alias("modal_quantity"),
            F.col("c").cast("long").alias("n_occurrences"),
        )
    )


@query(
    "b_join_range_binned",
    oracle="""
WITH e AS (
    SELECT event_id, event_type, epoch_us(ts) AS us FROM events
), pc AS (
    SELECT p.event_id AS pid, c.event_id AS cid,
           c.us - p.us AS diff_us,
           abs(c.us - p.us) AS adiff
    FROM e p JOIN e c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.us BETWEEN p.us - 60000000 AND p.us + 60000000
)
SELECT event_id, nearest_click_id, diff_us
FROM (
    SELECT pid AS event_id, cid AS nearest_click_id, diff_us,
           row_number() OVER (PARTITION BY pid
                              ORDER BY adiff, cid) AS rn
    FROM pc
)
WHERE rn = 1
""",
)
def b_join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join with NO equi key — each purchase's nearest
    click (any user) within ±60 s — via the BINNED rewrite: time is
    quantized into 120 s bins (width ≥ the full ±60 s span), clicks
    are replicated into every bin their match window can touch (≤ 2
    replicas each, by construction of width ≥ span), purchases join
    their single home bin EQUI on the bin id, and the exact ±60 s
    predicate runs as a residual filter. This is the rewrite that
    turns an otherwise keyless inequality join — BroadcastNestedLoop,
    quadratic death at 100 TB — into a hash join whose pair space is
    bounded by events-per-bin, and it is how range-join hints work in
    engines that have them. Nearest = (|Δt|, click id) rank, exact
    integer microseconds on both engines; the oracle is the naive
    inequality-join formulation (DuckDB's IEJoin runs it). Scale:
    bins are time-uniform so the bin key has no inherent skew; one
    exchange per join side + the per-purchase rank window."""
    BIN = 120_000_000  # 120 s in µs: one bin spans the whole ±60 s window
    R = 60_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("us").alias("p_us"),
        F.expr(f"us div {BIN}").alias("bin"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        F.col("us").alias("c_us"),
        F.explode(
            F.sequence(
                F.expr(f"(us - {R}) div {BIN}"),
                F.expr(f"(us + {R}) div {BIN}"),
            )
        ).alias("bin"),
    )
    pairs = p.join(c, "bin").filter(
        F.abs(F.col("c_us") - F.col("p_us")) <= R
    )
    w = Window.partitionBy("pid").orderBy(
        F.abs(F.col("c_us") - F.col("p_us")), "cid"
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("pid").alias("event_id"),
            F.col("cid").alias("nearest_click_id"),
            (F.col("c_us") - F.col("p_us")).alias("diff_us"),
        )
    )


@query(
    "b_join_asof_forward",
    oracle="""
SELECT event_id, user_id, next_click_id, gap_us
FROM (
    SELECT e.event_id, e.user_id, c.event_id AS next_click_id,
           epoch_us(c.ts) - epoch_us(e.ts) AS gap_us,
           row_number() OVER (PARTITION BY e.event_id
                              ORDER BY c.ts, c.event_id) AS rn
    FROM events e
    JOIN events c ON e.user_id = c.user_id
                 AND c.event_type = 'click'
                 AND c.ts >= e.ts
    WHERE e.event_type = 'error'
)
WHERE rn = 1
""",
)
def b_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (pandas merge_asof direction='forward'): for
    each error event, the same user's next click at-or-after it — the
    error-recovery pairing. Same scalable union-tag rewrite as the
    backward b_join_asof but time-reversed: errors kind=0 sort before
    clicks kind=1 at equal ts (>= semantics), and the carried value
    comes from a (currentRow, unboundedFollowing) frame instead of a
    trailing one — one user_id exchange + one sort, never an
    events×events pairwise join. Equal-ts clicks break by event_id
    via the sort key, mirroring the oracle's rank tiebreak. The
    oracle is the naive correlated-rank formulation."""
    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.lit(0).alias("kind"), "event_id"
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("click_us"),
    )
    u = err.withColumns(
        {"click_id": F.lit(None).cast("long"), "click_us": F.lit(None).cast("long")}
    ).unionByName(
        clk.withColumn("event_id", F.lit(None).cast("long")),
        allowMissingColumns=True,
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", F.col("click_id").asc_nulls_last())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return (
        u.withColumn(
            "next_click_id", F.first("click_id", ignorenulls=True).over(w)
        )
        .withColumn(
            "next_click_us", F.first("click_us", ignorenulls=True).over(w)
        )
        .filter((F.col("kind") == 0) & F.col("next_click_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            "next_click_id",
            (F.col("next_click_us") - F.unix_micros("ts")).alias("gap_us"),
        )
    )


@query(
    "b_pipeline_tpch_q9",
    oracle=f"""
SELECT sn.n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(count(*) AS BIGINT) AS n_lines,
       {sql_money_sum(
           "l_extendedprice * (1 - l_discount)"
           " - 0.6 * p_retailprice * l_quantity"
       )} AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY sn.n_name, year(o_orderdate)
""",
)
def b_pipeline_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year),
    adapted to the partsupp-less fixture: supply cost is imputed as
    60% of the part's retail price per unit, keeping Q9's
    characteristic profit expression (revenue minus quantity-scaled
    cost), its LIKE filter on p_name, its two-hop supplier→nation
    dimension path, and its (nation, year) rollup. The whole profit
    expression converts to exact integer cents BEFORE summing (profit
    can be negative; cents round-half-up is sign-safe on both
    engines). Scale: part/supplier/nation broadcast; lineitem⋈orders
    is the one co-partitioned shuffle; the ≤(25 nations × 7 years)
    rollup is a tiny exchange. LIKE '%widget%' cannot push as a
    parquet filter but prunes 1/3 of parts at the broadcast build."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    )
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    orders = load_table(spark, sf_dir, "orders")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            money_sum(amount).alias("profit"),
        )
    )


# The four remaining TPC-H shapes (Q2/Q11/Q16/Q20) need the partsupp
# relation the fixture lacks. Q2 derives it exactly the way dbgen
# does: each part is supplied by FOUR suppliers at arithmetic key
# ps_suppkey = (p + i*(S/4 + (p-1)/S)) % S + 1 for i in 0..3 (TPC-H
# spec 4.2.3's PS_SUPPKEY rule, S = |supplier|), at imputed integer
# cost (s_suppkey*31 + p_partkey*17) % 1000. The expansion is a
# 4-row-per-part explode — LINEAR in sf (the round-11 verdict flagged
# the previous supplier×part cross-product generator as quadratic) —
# and both engines evaluate the pure-integer rule bit-identically.
# Q11/Q16/Q20 route through lineitem's (l_partkey, l_suppkey) pairs
# instead, so only Q2 carries the derived relation.


@query(
    "b_pipeline_tpch_q2",
    oracle="""
WITH scnt AS (
    SELECT count(*) AS s_cnt FROM supplier
), supply AS (
    SELECT p_partkey, p_size,
           ((p_partkey + i * (s_cnt // 4 + (p_partkey - 1) // s_cnt))
            % s_cnt) + 1 AS ps_suppkey
    FROM part
    CROSS JOIN scnt
    CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) quad
), priced AS (
    SELECT s_suppkey, s_name, s_acctbal, s_nationkey, p_partkey, p_size,
           (s_suppkey * 31 + p_partkey * 17) % 1000 AS cost
    FROM supply JOIN supplier ON ps_suppkey = s_suppkey
), eligible AS (
    SELECT priced.*, n_name
    FROM priced
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE' AND p_size <= 15
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY p_partkey
                                 ORDER BY cost, s_suppkey) AS rn
    FROM eligible
)
SELECT s_acctbal, s_name, n_name, p_partkey,
       CAST(cost AS BIGINT) AS supply_cost
FROM ranked WHERE rn = 1
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def b_pipeline_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): for each small EUROPE-
    supplied part, the supplier achieving the MINIMUM supply cost —
    the classic correlated-scalar-subquery query, resolved as one
    per-part argmin window instead of a rescan-per-row subquery (the
    rewrite every optimizer applies). Cost ties break by suppkey, the
    final top-100 carries Q2's full ORDER BY with p_partkey making it
    total. The supply relation is derived by dbgen's own arithmetic
    rule (module comment): a 4-row-per-part explode + one supplier
    equi-join — LINEAR in sf, replacing the round-11-flagged
    supplier×part cross-product generator. Scale: the explode is
    scan-local, the supplier side broadcasts (nation/region pruned
    BEFORE the join), the argmin window shuffles on p_partkey once
    over ≤4 candidate rows per part, top-100 is
    TakeOrderedAndProject."""
    sup = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 15)
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    eu_sup = (
        sup.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # |supplier| enters as an uncorrelated SCALAR SUBQUERY (planned as
    # a ScalarSubquery literal, reused across the three uses), not a
    # 1-row crossJoin — the plan carries NO nested-loop/cartesian node
    # (round-11 verdict ask #8).
    sup.createOrReplaceTempView("v_q2_supplier")
    part.select("p_partkey").createOrReplaceTempView("v_q2_part")
    supply = spark.sql(
        """
        SELECT p_partkey,
               (p_partkey + i * ((SELECT count(*) FROM v_q2_supplier) DIV 4
                + (p_partkey - 1) DIV (SELECT count(*) FROM v_q2_supplier)))
               % (SELECT count(*) FROM v_q2_supplier) + 1 AS ps_suppkey
        FROM v_q2_part
        LATERAL VIEW explode(array(0, 1, 2, 3)) q AS i
        """
    )
    priced = supply.join(
        F.broadcast(eu_sup), F.col("ps_suppkey") == F.col("s_suppkey")
    ).withColumn(
        "cost", (F.col("s_suppkey") * 31 + F.col("p_partkey") * 17) % 1000
    )
    w = Window.partitionBy("p_partkey").orderBy("cost", "s_suppkey")
    return (
        priced.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            F.col("cost").cast("long").alias("supply_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "b_pipeline_tpch_q11",
    oracle=f"""
WITH val AS (
    SELECT sn.n_name AS nation, p_type,
           sum({sql_cents("l_extendedprice * (1 - l_discount)")}) AS v
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    GROUP BY sn.n_name, p_type
), tot AS (
    SELECT sum(v) AS total FROM val
)
SELECT nation, p_type,
       {sql_rnd("v / 100.0", 2)} AS value
FROM val CROSS JOIN tot
WHERE v * 120 > total
""",
)
def b_pipeline_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification): (nation, part-type)
    revenue cells whose value exceeds 1/120 of the GLOBAL total — the
    share-of-total HAVING query whose subquery every engine must
    evaluate once and broadcast. The gate is the exact-integer
    cross-multiply v*120 > total (no float share), so no boundary
    cell can flip between engines. Scale: part/supplier/nation
    broadcast; one groupBy exchange for the cells; the global total
    is a 1-row broadcast back-join."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    val = (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("nation", "p_type")
        .agg(
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("v")
        )
    )
    tot = val.agg(F.sum("v").alias("total"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("v") * 120 > F.col("total"))
        .select("nation", "p_type", rnd(F.col("v") / 100.0, 2).alias("value"))
    )


@query(
    "b_pipeline_tpch_q16",
    oracle="""
SELECT p_brand, p_type,
       CAST(p_size // 10 AS BIGINT) AS size_bucket,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#3'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size // 10
""",
)
def b_pipeline_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): how many DISTINCT
    suppliers ship each (brand, type, size-bucket), excluding one
    brand and every blacklisted supplier (negative account balance) —
    the distinct-count + NOT IN query. The blacklist is an anti-join
    against a broadcast-small list (Spark turns NOT IN on a non-null
    key into left_anti; the oracle keeps the literal NOT IN). Scale:
    part broadcasts, the anti join broadcasts the blacklist, and the
    countDistinct runs as the standard two-phase partial-distinct
    aggregate on the group exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#3")
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy(
            "p_brand",
            "p_type",
            F.expr("p_size div 10").cast("long").alias("size_bucket"),
        )
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@query(
    "b_pipeline_tpch_q20",
    oracle="""
WITH shipped AS (
    SELECT l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS qty
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE '%widget%'
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, n_name, qty AS widget_qty
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN shipped ON s_suppkey = l_suppkey
WHERE qty > 400
ORDER BY s_suppkey
""",
)
def b_pipeline_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers who moved MORE
    than a threshold quantity of widget parts in 1996 — the nested
    semi-join chain (part filter -> lineitem rollup -> supplier gate)
    that classic Q20 writes as two nested IN subqueries; here the
    inner aggregate joins back to supplier directly (the decorrelated
    form optimizers produce). Quantities are integral doubles summed
    exactly -> BIGINT gate, no float boundary. Scale: part broadcasts
    into the pruned lineitem scan (shipdate pushdown), one suppkey
    rollup bounded by |supplier|, then a broadcast-joined gate; the
    final sort is bounded by |supplier|."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    pt = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    )
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    shipped = (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").cast("long").alias("qty"))
        .filter(F.col("qty") > 400)
    )
    return (
        sup.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(shipped, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "n_name", F.col("qty").alias("widget_qty"))
        .orderBy("s_suppkey")
    )


# Count-min sketch geometry: depth 3, width 64, universal-hash family
# h_d(k) = ((a_d*k + b_d) % P) % W with integer constants both engines
# evaluate exactly — the rare sketch whose WHOLE estimate path can be
# hash-certified rather than checked rows-only.
CM_W = 64
CM_P = 2147483647
CM_A = (31, 37, 41)
CM_B = (7, 11, 13)


@query(
    "b_agg_countmin",
    oracle=f"""
WITH buckets AS (
    SELECT 0 AS d, ((31 * user_id + 7) % {CM_P}) % {CM_W} AS b FROM events
    UNION ALL
    SELECT 1, ((37 * user_id + 11) % {CM_P}) % {CM_W} FROM events
    UNION ALL
    SELECT 2, ((41 * user_id + 13) % {CM_P}) % {CM_W} FROM events
), sketch AS (
    SELECT d, b, count(*) AS c FROM buckets GROUP BY d, b
), probes AS (
    SELECT user_id, count(*) AS exact_count
    FROM events WHERE user_id < 20 GROUP BY user_id
), est AS (
    SELECT p.user_id, p.exact_count, min(s.c) AS cm_estimate
    FROM probes p
    JOIN sketch s
      ON (s.d = 0 AND s.b = ((31 * p.user_id + 7) % {CM_P}) % {CM_W})
      OR (s.d = 1 AND s.b = ((37 * p.user_id + 11) % {CM_P}) % {CM_W})
      OR (s.d = 2 AND s.b = ((41 * p.user_id + 13) % {CM_P}) % {CM_W})
    GROUP BY p.user_id, p.exact_count
)
SELECT user_id,
       CAST(exact_count AS BIGINT) AS exact_count,
       CAST(cm_estimate AS BIGINT) AS cm_estimate,
       CAST(cm_estimate - exact_count AS BIGINT) AS overestimate
FROM est
""",
)
def b_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH per-key frequency estimation — the bounded-
    memory answer to \"how often did key k occur\" on a stream: a
    3×64 counter grid updated via three universal hashes, point
    queries answered by the MIN over the three hashed counters.
    Because the hash family is plain integer arithmetic (not an
    engine-private xxhash), the ENTIRE estimate path hash-certifies
    against the SQL replay — and every probe row carries the
    `overestimate` column, which count-min guarantees is >= 0 (the
    sketch never undercounts; pinned in tests). Scale: the sketch
    build is one Expand (3 rows/event) into a ≤192-cell groupBy —
    partial aggregation collapses it map-side, the exchange is 192
    rows regardless of corpus size; probes join the broadcast-tiny
    sketch. The exact twin rides along only for the invariant (at
    100 TB you keep the sketch, not the groupBy)."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    pairs = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (((F.lit(a) * F.col("user_id") + b) % CM_P) % CM_W).alias("b"),
            )
            for d, (a, b) in enumerate(zip(CM_A, CM_B))
        ]
    )
    sketch = (
        ev.select(F.explode(pairs).alias("p"))
        .select("p.d", "p.b")
        .groupBy("d", "b")
        .agg(F.count("*").alias("c"))
    )
    probes = (
        ev.filter(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_count"))
    )
    probe_b = [
        (((F.lit(a) * F.col("user_id") + b) % CM_P) % CM_W)
        for a, b in zip(CM_A, CM_B)
    ]
    cond = None
    for d in range(3):
        c = (F.col("d") == d) & (F.col("b") == probe_b[d])
        cond = c if cond is None else (cond | c)
    return (
        probes.join(F.broadcast(sketch), cond)
        .groupBy("user_id", "exact_count")
        .agg(F.min("c").alias("cm_estimate"))
        .select(
            "user_id",
            F.col("exact_count").cast("long").alias("exact_count"),
            F.col("cm_estimate").cast("long").alias("cm_estimate"),
            (F.col("cm_estimate") - F.col("exact_count"))
            .cast("long")
            .alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted single-source shortest paths (Bellman-Ford relaxation) — the
# general min-plus member of the graph family (b_graph_bfs is its w=1
# special case). Distinct sparsification (l_quantity <= 3) gives
# heterogeneous integer weights 1..3, so relaxation genuinely reorders
# the frontier: a 2-hop path of weight 1+1 beats a 1-hop edge of
# weight 3 — the case hop-counting BFS cannot express.
# ---------------------------------------------------------------------------

SSSP_ROUNDS = 3
SSSP_MAX_QTY = 3  # sparsifier AND the edge-weight domain (1..3)
SSSP_SOURCE_MAX_PARTKEY = 10

_SSSP_EDGES_SQL = f"""
WITH pairs AS (
    SELECT l_orderkey * 2 AS o, l_partkey * 2 + 1 AS p,
           CAST(min(l_quantity) AS BIGINT) AS w
    FROM lineitem WHERE l_quantity <= {SSSP_MAX_QTY}
    GROUP BY 1, 2
), half AS (
    SELECT o AS src, p AS dst, w FROM pairs
    UNION ALL
    SELECT p AS src, o AS dst, w FROM pairs
), edges AS (
    SELECT src, dst, w FROM half
    UNION ALL
    SELECT DISTINCT src, src, CAST(0 AS BIGINT) FROM half
), d0 AS (
    SELECT DISTINCT src AS node,
           CASE WHEN src % 2 = 1 AND src <= {2 * SSSP_SOURCE_MAX_PARTKEY + 1}
                THEN 0 END AS dist
    FROM half
)
"""


def _sssp_iter_sql(i: int) -> str:
    prev = f"d{i - 1}"
    return f"""
, d{i} AS (
    SELECT e.dst AS node, min(p.dist + e.w) AS dist
    FROM edges e JOIN {prev} p ON p.node = e.src
    GROUP BY e.dst
)"""


@query(
    "b_graph_sssp",
    oracle=_SSSP_EDGES_SQL
    + "".join(_sssp_iter_sql(i) for i in range(1, SSSP_ROUNDS + 1))
    + f"""
SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_nodes, min(node) AS min_node
FROM d{SSSP_ROUNDS}
WHERE dist IS NOT NULL
GROUP BY dist
ORDER BY dist
""",
)
def b_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED SSSP — SSSP_ROUNDS=3 Bellman-Ford relaxation rounds
    over the low-quantity co-purchase graph: per (order, part) pair
    the edge weight is the exact integer min(l_quantity) in 1..3, so
    min-plus relaxation actually re-routes (cheap 2-hop paths beat
    expensive direct edges — b_graph_bfs's w=1 histogram cannot see
    this). Same linear-plan discipline as the rest of the family:
    self-loops carry w=0 so "keep my current distance" folds into the
    ONE min aggregate per round and the distance table is referenced
    once per round. Distances are exact BIGINTs; the oracle replays
    every round with zero tolerance. Scale story: one groupBy(dst)
    shuffle per round with map-side MIN partials against the persisted
    weighted edge list — Pregel's SSSP as pure dataflow; rounds at
    100 TB are the driver loop with the same per-round cost. Below
    CAPS["graph"] lineitem pair rows the block lane keeps each pair's
    minimum weight and replays the rounds in one task — integer
    weights, +inf for the NULL "unreached" distance (the b_graph_bfs
    kernel generalized to w in 1..3); the persisted weighted edge list
    exists only on the distributed chain."""
    from demo_segmenter_spark.functions.cache import persist

    # min(l_quantity) then cast equals cast then min: the cast is
    # monotone, so the lane's per-pair min over cast weights is the
    # chain's rollup
    raw = _pair_scan(
        spark,
        sf_dir,
        F.col("l_quantity") <= SSSP_MAX_QTY,
        F.col("l_quantity").cast("long").alias("w"),
    )
    rounds, src_max = SSSP_ROUNDS, 2 * SSSP_SOURCE_MAX_PARTKEY + 1

    def kern(batches):
        import numpy as np
        import pandas as pd

        o, p, ew = np_dedup(*np_gather(batches, ["o", "p", "w"]))
        src = np.concatenate([o, p])
        dst = np.concatenate([p, o])
        nodes = np.unique(src)
        sidx = np.searchsorted(nodes, np.concatenate([src, nodes]))
        didx = np.searchsorted(nodes, np.concatenate([dst, nodes]))
        # both directions carry the pair weight; self-loops w=0
        w = np.r_[ew, ew, np.zeros(len(nodes), dtype=np.int64)].astype(
            np.float64
        )
        dist = np.where(
            (nodes % 2 == 1) & (nodes <= src_max), 0.0, np.inf
        )
        for _ in range(rounds):
            new = np.full(len(nodes), np.inf)
            np.minimum.at(new, didx, dist[sidx] + w)
            dist = new
        reach = np.isfinite(dist)
        d = dist[reach].astype(np.int64)
        n = nodes[reach]
        order = np.lexsort((n, d))
        d2, n2 = d[order], n[order]
        starts = np.flatnonzero(np.r_[True, d2[1:] != d2[:-1]])
        yield pd.DataFrame(
            {
                "dist": d2[starts],
                "n_nodes": np.diff(np.r_[starts, len(d2)]),
                "min_node": n2[starts],
            }
        )

    blk = block_lane(
        raw, "graph", kern, "dist long, n_nodes long, min_node long"
    )
    if blk is not None:
        return blk
    pairs = persist(raw.groupBy("o", "p").agg(F.min("w").alias("w")))
    both = F.array(
        F.struct(F.col("o").alias("src"), F.col("p").alias("dst"), F.col("w")),
        F.struct(F.col("p").alias("src"), F.col("o").alias("dst"), F.col("w")),
    )
    half = persist(
        pairs.select(F.explode(both).alias("e")).select("e.src", "e.dst", "e.w")
    )
    nodes = half.select("src").distinct()
    edges = persist(
        half.unionByName(
            nodes.select(
                "src", F.col("src").alias("dst"), F.lit(0).cast("long").alias("w")
            )
        )
    )
    is_src = (F.col("src") % 2 == 1) & (
        F.col("src") <= 2 * SSSP_SOURCE_MAX_PARTKEY + 1
    )
    dist = nodes.select(
        F.col("src").alias("node"), F.when(is_src, F.lit(0)).alias("dist")
    )
    for _ in range(SSSP_ROUNDS):
        dist = (
            edges.join(
                dist.select(
                    F.col("node").alias("src"), F.col("dist").alias("src_dist")
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.min(F.col("src_dist") + F.col("w")).alias("dist"))
            .withColumnRenamed("dst", "node")
        )
    return (
        dist.filter(F.col("dist").isNotNull())
        .groupBy(F.col("dist").cast("long").alias("dist"))
        .agg(F.count("*").alias("n_nodes"), F.min("node").alias("min_node"))
        .orderBy("dist")
    )


@query(
    "b_join_asof_nearest",
    oracle="""
WITH e AS (
    SELECT event_id, user_id, ts, epoch_us(ts) AS us
    FROM events WHERE event_type = 'error'
), bk AS (
    SELECT e.event_id, c.event_id AS cid, epoch_us(c.ts) AS cus,
           row_number() OVER (PARTITION BY e.event_id
                              ORDER BY c.ts DESC, c.event_id DESC) AS rn
    FROM e JOIN events c ON c.user_id = e.user_id
                        AND c.event_type = 'click' AND c.ts <= e.ts
), fw AS (
    SELECT e.event_id, c.event_id AS cid, epoch_us(c.ts) AS cus,
           row_number() OVER (PARTITION BY e.event_id
                              ORDER BY c.ts, c.event_id) AS rn
    FROM e JOIN events c ON c.user_id = e.user_id
                        AND c.event_type = 'click' AND c.ts > e.ts
), j AS (
    SELECT e.event_id, e.user_id, e.us,
           b.cid AS bcid, b.cus AS bcus, f.cid AS fcid, f.cus AS fcus
    FROM e
    LEFT JOIN (SELECT event_id, cid, cus FROM bk WHERE rn = 1) b
           USING (event_id)
    LEFT JOIN (SELECT event_id, cid, cus FROM fw WHERE rn = 1) f
           USING (event_id)
)
SELECT event_id, user_id,
       CASE WHEN bcid IS NOT NULL AND (fcid IS NULL OR us - bcus <= fcus - us)
            THEN bcid ELSE fcid END AS nearest_click_id,
       CASE WHEN bcid IS NOT NULL AND (fcid IS NULL OR us - bcus <= fcus - us)
            THEN bcus - us ELSE fcus - us END AS diff_us
FROM j
WHERE bcid IS NOT NULL OR fcid IS NOT NULL
""",
)
def b_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (pandas merge_asof direction='nearest',
    unbounded): each error pairs with the same user's closest click in
    EITHER direction; at equal distance the BACKWARD click wins (the
    deterministic convention; equal-timestamp clicks count as
    backward). Completes the as-of family: backward (b_join_asof),
    forward (_forward), tolerance-bounded (b_join_range_binned), and
    now nearest. The scalable shape is the union-tag rewrite with ONE
    user_id exchange and ONE sort: clicks tag kind=0 so they sort
    before same-ts errors, then a trailing last() frame carries the
    backward candidate and a leading first() frame the forward one —
    two frames over the same ordered partitioning, never two sorts,
    never an events x events join (the oracle IS that naive
    double-rank join). Per-direction ties break by event_id via the
    shared sort key, mirroring both oracle ranks. diff_us is SIGNED
    (negative = backward) so the output also certifies which
    direction won every pairing."""
    ev = load_table(spark, sf_dir, "events")
    clk = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("click_us"),
    )
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.lit(1).alias("kind"), "event_id"
    )
    u = clk.withColumn("event_id", F.lit(None).cast("long")).unionByName(
        err.withColumns(
            {
                "click_id": F.lit(None).cast("long"),
                "click_us": F.lit(None).cast("long"),
            }
        ),
        allowMissingColumns=True,
    )
    base = Window.partitionBy("user_id").orderBy(
        "ts", "kind", F.col("click_id").asc_nulls_last()
    )
    w_back = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_fwd = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    us = F.unix_micros("ts")
    m = (
        u.withColumn("bcid", F.last("click_id", ignorenulls=True).over(w_back))
        .withColumn("bcus", F.last("click_us", ignorenulls=True).over(w_back))
        .withColumn("fcid", F.first("click_id", ignorenulls=True).over(w_fwd))
        .withColumn("fcus", F.first("click_us", ignorenulls=True).over(w_fwd))
        .filter(
            (F.col("kind") == 1)
            & (F.col("bcid").isNotNull() | F.col("fcid").isNotNull())
        )
    )
    back_wins = F.col("bcid").isNotNull() & (
        F.col("fcid").isNull() | (us - F.col("bcus") <= F.col("fcus") - us)
    )
    return m.select(
        "event_id",
        "user_id",
        F.when(back_wins, F.col("bcid")).otherwise(F.col("fcid")).alias(
            "nearest_click_id"
        ),
        F.when(back_wins, F.col("bcus") - us)
        .otherwise(F.col("fcus") - us)
        .alias("diff_us"),
    )


@query(
    "b_join_anti_null_aware",
    oracle="""
SELECT
    (SELECT count(*) FROM customer WHERE c_custkey NOT IN
        (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END
         FROM orders)) AS n_raw,
    (SELECT count(*) FROM customer WHERE c_custkey NOT IN
        (SELECT o_custkey FROM orders WHERE o_orderstatus <> 'P'))
        AS n_filtered,
    (SELECT count(*) FROM customer WHERE c_custkey NOT IN
        (SELECT o_custkey FROM orders)) AS n_no_orders
""",
)
def b_join_anti_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-AWARE ANTI JOIN — NOT IN's tri-state trap, certified on
    both engines: a subquery that can yield NULL (orderkeys of 'P'
    orders mapped to NULL) makes `x NOT IN (...)` UNKNOWN for every
    candidate, so n_raw collapses to 0 the moment one 'P' order
    exists — the production incident the IS NOT NULL guard
    (n_filtered) prevents, and the semantic difference between NOT IN
    and the plain anti join (b_join_anti / NOT EXISTS, which treats
    NULL as simply not-a-match). Spark plans the raw form as
    BroadcastNestedLoopJoin's null-aware anti (one build-side scan
    flags whether ANY null exists — O(|orders|), not a cross
    product); the filtered forms plan as hash anti joins. All three
    counts in one statement through the SQL front-end — the same
    Catalyst engine as the DataFrame route (b_sql_cte's argument)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_na_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "v_na_customer"
    )
    return spark.sql("""
SELECT
    (SELECT count(*) FROM v_na_customer WHERE c_custkey NOT IN
        (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END
         FROM v_na_orders)) AS n_raw,
    (SELECT count(*) FROM v_na_customer WHERE c_custkey NOT IN
        (SELECT o_custkey FROM v_na_orders WHERE o_orderstatus <> 'P'))
        AS n_filtered,
    (SELECT count(*) FROM v_na_customer WHERE c_custkey NOT IN
        (SELECT o_custkey FROM v_na_orders)) AS n_no_orders
""")


@query(
    "b_scalar_bitwise",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderkey & 255 AS BIGINT) AS lo_byte,
       CAST(o_orderkey | 4096 AS BIGINT) AS with_flag,
       CAST(xor(o_orderkey, o_custkey) AS BIGINT) AS key_mix,
       CAST(o_orderkey << 2 AS BIGINT) AS shl2,
       CAST(o_orderkey >> 3 AS BIGINT) AS shr3,
       CAST(bit_count(o_orderkey) AS BIGINT) AS popcount
FROM orders WHERE o_orderkey <= 512
""",
)
def b_scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITWISE scalar surface — AND/OR/XOR, shifts, popcount: the ops
    behind bitmap indexes, bloom/bucket addressing (c_sim_lsh_native
    packs hyperplane signs with them) and feature-flag words. All
    exact integer arithmetic on BIGINT — zero cross-engine tolerance;
    the popcount (Spark bit_count = DuckDB bit_count on BIGINT)
    covers the sketch-cardinality primitive. Pure scan-local codegen;
    the orderkey filter pushes to the parquet scan."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 512)
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(255).cast("long").alias("lo_byte"),
        k.bitwiseOR(4096).cast("long").alias("with_flag"),
        k.bitwiseXOR(c).cast("long").alias("key_mix"),
        F.shiftleft(k, 2).cast("long").alias("shl2"),
        F.shiftright(k, 3).cast("long").alias("shr3"),
        F.bit_count(k).cast("long").alias("popcount"),
    )


@query(
    "b_agg_bitmap_distinct",
    oracle="""
WITH w AS (
    SELECT event_type, user_id // 32 AS word,
           bit_or(1::BIGINT << CAST(user_id % 32 AS INT)) AS m
    FROM events GROUP BY 1, 2
), bm AS (
    SELECT event_type,
           CAST(sum(bit_count(m)) AS BIGINT) AS n_users_bitmap,
           CAST(count(*) AS BIGINT) AS n_words
    FROM w GROUP BY 1
), ex AS (
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact
    FROM events GROUP BY 1
)
SELECT event_type, n_users_bitmap, n_words, n_users_exact
FROM bm JOIN ex USING (event_type)
""",
)
def b_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITMAP exact-distinct aggregation — the roaring-bitmap pattern
    OLAP engines use to make COUNT(DISTINCT user) cheap and MERGEABLE:
    pack each user into bit (user_id % 32) of word (user_id div 32),
    bit_or the words per (event_type, word), then sum popcounts. The
    word table is the reusable artifact: unlike a countDistinct expand
    it composes across time partitions with a further bit_or (the
    exact analogue of b_agg_sketch_merge's HLL union, with zero
    error), so at 100 TB the daily word tables merge in O(|ids|/32)
    instead of re-shuffling raw events. n_users_exact (the classic
    expand) rides in-schema as the self-certification twin — the two
    columns must be equal on every row. Dense-id domains only; sparse
    ids first pass through a dictionary (c_embed_quantize's trick).
    Budget: word groupBy + popcount rollup + the exact twin's expand
    pair; the ≤5-row twin join broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    words = ev.groupBy(
        "event_type", F.expr("user_id div 32").alias("word")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(1L, cast(user_id % 32 as int))")
        ).alias("m")
    )
    bm = words.groupBy("event_type").agg(
        F.sum(F.bit_count("m")).cast("long").alias("n_users_bitmap"),
        F.count("*").cast("long").alias("n_words"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_users_exact")
    )
    return bm.join(F.broadcast(ex), "event_type")


@query(
    "b_agg_bitmap_distinct_stream",
    oracle="""
WITH w AS (
    SELECT event_type, user_id // 32 AS word,
           bit_or(1::BIGINT << CAST(user_id % 32 AS INT)) AS m
    FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(sum(bit_count(m)) AS BIGINT) AS n_users_bitmap,
       CAST(count(*) AS BIGINT) AS n_words
FROM w GROUP BY event_type
""",
)
def b_agg_bitmap_distinct_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of b_agg_bitmap_distinct — exact distinct users
    per event_type maintained as MERGEABLE bitmap state: the streaming
    aggregation keys on (event_type, word) and bit_or's each user's
    bit in, so state is one 64-bit word per 32 present users — the
    compact exact alternative to a dropDuplicates store (one state row
    PER USER) that a_window_dau_stream documents, with bit_or's
    commutativity giving order/batch-split insensitivity for free.
    Streaming countDistinct is rejected by Spark; this is the shape
    that replaces it when exactness is required and ids are dense
    (sparse ids dictionary-encode first). The word table lands in a
    memory sink (complete mode, availableNow replay) and the popcount
    rollup runs as batch post-processing — same topology as
    a_trending. Checked against the SAME word-table oracle as the
    batch twin (minus its in-schema countDistinct certification
    column, which is itself not streamable)."""
    from demo_segmenter_spark.streaming.sources import stream_events

    words = (
        stream_events(spark, sf_dir)
        .groupBy(
            "event_type", F.expr("user_id div 32").alias("word")
        )
        .agg(
            F.bit_or(
                F.expr("shiftleft(1L, cast(user_id % 32 as int))")
            ).alias("m")
        )
    )
    return (
        run_to_memory(words, "complete", SESSION_STATE_PARTS)
        .groupBy("event_type")
        .agg(
            F.sum(F.bit_count("m")).cast("long").alias("n_users_bitmap"),
            F.count("*").cast("long").alias("n_words"),
        )
    )


@query(
    "b_agg_decimal",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
           AS sum_price,
       CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
           AS min_price,
       CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
           AS max_price,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))
                * CAST(0.07 AS DECIMAL(4,2))) AS DECIMAL(38,4)) AS sum_tax
FROM orders GROUP BY o_orderstatus
""",
)
def b_agg_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT DECIMAL money aggregation — the no-float ledger path the
    integer-cents helpers (compat.py) approximate: cast once to
    DECIMAL(18,2) at the scan, then sum/min/max and a fixed-point tax
    multiply (x DECIMAL(4,2) 0.07 -> scale-4 products) all stay in
    exact decimal arithmetic, so the result is bit-identical on both
    engines REGARDLESS of summation order — the property double sums
    lose at 100 TB (a_anomaly_zscore's docstring caveat, answered).
    Output scales are pinned with explicit final casts so the two
    engines' internal precision-widening rules (Spark dec(28,2) vs
    DuckDB dec(38,2) accumulators) can't leak into the value hash.
    One map-side-partial exchange over <=3 groups — b_agg_basic's
    budget with exact arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_totalprice").cast("decimal(18,2)")
    tax = d * F.lit("0.07").cast("decimal(4,2)")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(d).cast("decimal(38,2)").alias("sum_price"),
        F.min(d).cast("decimal(38,2)").alias("min_price"),
        F.max(d).cast("decimal(38,2)").alias("max_price"),
        F.sum(tax).cast("decimal(38,4)").alias("sum_tax"),
    )


# Planted semi-structured payloads (identical CASE on both engines):
# clicks and errors carry evolved schemas next to the legacy {"k": n}
# baseline, so the profiler sees real key/type drift.
_JSON_SHAPES_SQL = """CASE event_type
 WHEN 'click' THEN '{"k": ' || CAST(user_id % 100 AS STRING)
      || ', "page": "p' || CAST(user_id % 20 AS STRING) || '"}'
 WHEN 'error' THEN '{"k": ' || CAST(user_id % 100 AS STRING)
      || ', "code": ' || CAST(user_id % 7 AS STRING)
      || ', "fatal": ' || (CASE WHEN user_id % 2 = 0 THEN 'true'
                                ELSE 'false' END) || '}'
 ELSE props END"""


@query(
    "b_json_schema_profile",
    oracle=f"""
WITH j AS (
    SELECT {_JSON_SHAPES_SQL} AS js FROM events
), kv AS (
    SELECT key, json_extract_string(js, '$.' || key) AS val
    FROM (SELECT unnest(json_keys(js)) AS key, js FROM j) t
)
SELECT key,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
       CAST(sum(CASE WHEN regexp_full_match(val, '-?[0-9]+')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
       CAST(sum(CASE WHEN val IN ('true', 'false')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_bool,
       min(val) AS min_val
FROM kv GROUP BY key
""",
)
def b_json_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMI-STRUCTURED SCHEMA PROFILING — the data-quality pass that
    catches payload drift before it breaks a pipeline: explode every
    JSON key/value pair and report, per key, its frequency, value
    cardinality, and a type census (integer-shaped vs boolean-shaped
    values, lexicographic min as the example). Payload shapes are
    planted per event_type (legacy {{"k": n}} rows next to evolved
    click/error schemas) so the profiler demonstrates actual drift
    detection: 'fatal' appears only on errors and types 100% bool,
    'k' spans all rows. Values are profiled AS STRINGS (Spark
    from_json map<string,string> == DuckDB json_extract_string — both
    render 87 -> '87', true -> 'true', probed before registration), so
    the census needs no engine-specific typeof. Map-side parse +
    explode, one key rollup with its countDistinct expand — at 100 TB
    this is the same shape as word count."""
    ev = load_table(spark, sf_dir, "events")
    kv = ev.select(
        F.explode(
            F.from_json(F.expr(_JSON_SHAPES_SQL), "map<string,string>")
        ).alias("key", "val")
    )
    return kv.groupBy("key").agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("val").cast("long").alias("n_distinct"),
        F.sum(
            F.when(F.col("val").rlike("^-?[0-9]+$"), 1).otherwise(0)
        ).cast("long").alias("n_int"),
        F.sum(
            F.when(F.col("val").isin("true", "false"), 1).otherwise(0)
        ).cast("long").alias("n_bool"),
        F.min("val").alias("min_val"),
    )


@query(
    "b_completeness_audit",
    oracle="""
WITH feed AS (
    SELECT event_id FROM events WHERE event_id % 97 <> 13
), mx AS (
    SELECT max(event_id) AS max_id FROM feed
), bins AS (
    SELECT event_id // 256 AS bin, count(*) AS n_obs
    FROM feed GROUP BY 1
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(n_obs AS BIGINT) AS n_obs,
       CAST(CASE WHEN bin = max_id // 256
            THEN max_id + 1 - bin * 256 ELSE 256 END AS BIGINT)
           AS n_expected,
       CAST(CASE WHEN bin = max_id // 256
            THEN max_id + 1 - bin * 256 ELSE 256 END - n_obs AS BIGINT)
           AS n_missing
FROM bins, mx
WHERE (CASE WHEN bin = max_id // 256
       THEN max_id + 1 - bin * 256 ELSE 256 END) > n_obs
""",
)
def b_completeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE COMPLETENESS AUDIT — the "did we drop messages?"
    monitor every ingestion pipeline runs against a dense id sequence:
    bin event_ids into 256-wide ranges, compare observed counts to the
    bin's expected span, and report every bin with missing ids. A ~1%
    loss is PLANTED (event_id % 97 == 13 filtered at the source, the
    same deterministic-planting discipline as c_pii_scrub) so the
    audit demonstrably FINDS gaps rather than vacuously passing on the
    gap-free fixture. The tail bin's expectation derives from the
    observed max id (what a real monitor has — it cannot know about
    ids never seen past the high-water mark; the planted residue is
    chosen to never hit the fixture maxima, verified at all three
    sfs). One bin rollup plus a 1-row max broadcast — no global sort,
    no window over the data: at 100 TB this is the cheapest possible
    full-feed integrity check, and the bin width trades resolution
    for rollup size."""
    feed = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 97 != 13
    ).select("event_id")
    mx = feed.agg(F.max("event_id").alias("max_id"))
    bins = feed.groupBy(F.expr("event_id div 256").alias("bin")).agg(
        F.count("*").alias("n_obs")
    )
    j = bins.join(F.broadcast(mx))
    expected = F.when(
        F.col("bin") == F.expr("max_id div 256"),
        F.col("max_id") + 1 - F.col("bin") * 256,
    ).otherwise(F.lit(256))
    return (
        j.withColumn("n_expected", expected)
        .filter(F.col("n_expected") > F.col("n_obs"))
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.col("n_obs").cast("long").alias("n_obs"),
            F.col("n_expected").cast("long").alias("n_expected"),
            (F.col("n_expected") - F.col("n_obs")).cast("long").alias(
                "n_missing"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic reservoir sampling (round-10 widening): uniform
# sampling without replacement as BOTTOM-K OVER A HASH RANK — the
# distributed/streaming formulation of reservoir sampling. Classic
# reservoir (Vitter's R) is sequential and RNG-stateful; ranking every
# row by an id-derived 60-bit md5 value and keeping the k smallest is
# the same uniform draw, but the "keep k smallest" operator is an
# idempotent, commutative, associative bounded semilattice: any
# partitioning, arrival order, or replay of the data yields the
# IDENTICAL sample — which is what makes it a partition-parallel
# TakeOrdered at 100 TB and an exactly-once streaming state for free.
# ---------------------------------------------------------------------------

RES_K = 100  # reservoir size

_RES_RANK_SQL = (
    "CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15))"
    " AS BIGINT)"
)

_RES_ORACLE = f"""
WITH r AS (
    SELECT event_id, user_id, event_type, {_RES_RANK_SQL} AS rk
    FROM events
)
SELECT event_id, user_id, event_type, rk, CAST(rank AS BIGINT) AS rank
FROM (
    SELECT *, row_number() OVER (ORDER BY rk, event_id) AS rank FROM r
)
WHERE rank <= {RES_K}
"""


def _res_rank() -> F.Column:
    return F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10
    ).cast("long")


@query("b_sample_reservoir", oracle=_RES_ORACLE)
def b_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform {RES_K}-row sample without replacement as deterministic
    HASH-RANK BOTTOM-K: rank every event by the first 15 hex chars of
    md5(event_id) (60 bits, sign-safe BIGINT), keep the k smallest
    (event_id tiebreak). Identical in distribution to reservoir
    sampling, but deterministic, mergeable and replayable — the form
    every distributed engine actually ships (Spark's takeOrdered /
    the bottom-k sketch). Full hash oracle — including the rank keys.

    Scale: orderBy(...).limit(k) plans as TakeOrderedAndProject —
    each partition keeps its local k, only p·k rows move, no global
    sort (pinned in test_sort_limit_is_top_k_not_global_sort's
    sibling below); the final k-row rank window is on a single
    bounded partition."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", _res_rank().alias("rk")
    )
    samp = ev.orderBy("rk", "event_id").limit(RES_K)
    w = Window.orderBy("rk", "event_id")
    return samp.select(
        "event_id",
        "user_id",
        "event_type",
        "rk",
        F.row_number().over(w).cast("long").alias("rank"),
    )


_RES_STATE_SCHEMA = (
    "event_id long, user_id long, event_type string, rk long"
)


def _events_chunked_src(
    spark: SparkSession, sf_dir: str, base: str, n_chunks: int = 6
) -> str:
    """events replayed as event_id-range-chunked parquet files with
    increasing mtimes so maxFilesPerTrigger=1 delivers ordered
    micro-batches (the _incdedup_chunked_src idiom on the events
    table; ts is projected away up front so the ns-encoding question
    never reaches the stream reader). Round-12: written in ONE job
    (chunked_parquet_src) instead of n_chunks filtered scans."""
    from demo_segmenter_spark.streaming.sources import (
        chunked_parquet_src,
        range_chunk_col,
    )

    df = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", _res_rank().alias("rk")
    )
    hi = df.agg(F.max("event_id")).first()[0] + 1
    cuts = [i * hi // n_chunks for i in range(n_chunks)] + [hi]
    return chunked_parquet_src(
        df, range_chunk_col("event_id", cuts), n_chunks, base
    )


def run_reservoir_stream(spark: SparkSession, src: str, base: str) -> None:
    """Drive the streaming reservoir to completion: per micro-batch,
    merge the batch's local bottom-k with the previous snapshot and
    keep the k smallest — the semilattice step. State = the k-row
    snapshot, versioned through the jsonl_dir manifest; no replay
    bookkeeping is needed because merging already-absorbed rows is a
    set-union no-op (idempotence IS the exactly-once story here)."""
    from pyspark.sql import types as T

    from demo_segmenter_spark.sources.python_source import (
        manifest_files,
        register_sink,
    )

    register_sink(spark)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("rk", T.LongType()),
        ]
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cand = batch_df.orderBy("rk", "event_id").limit(RES_K)
        prev_files = manifest_files(f"{base}/res")
        if prev_files:
            prev = sp.read.schema(_RES_STATE_SCHEMA).json(prev_files)
            cand = prev.unionByName(cand).distinct()
        merged = cand.orderBy("rk", "event_id").limit(RES_K)
        # k-row-bounded snapshot: driver-local commit, one job (r12)
        from demo_segmenter_spark.sources.python_source import (
            snapshot_write_local,
        )

        snapshot_write_local(merged, f"{base}/res", batch_id)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


from demo_segmenter_spark.registry import REGISTRY as _REGISTRY  # noqa: E402


@query("b_sample_reservoir_stream", oracle=_REGISTRY["b_sample_reservoir"].oracle)
def b_sample_reservoir_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of b_sample_reservoir, SAME oracle: events
    arrive as six event_id-range micro-batches; each batch's local
    bottom-k merges with the snapshot and the k smallest survive —
    because hash-rank bottom-k is an idempotent commutative
    semilattice, ANY chunking (or a crash-replayed batch) converges
    to the batch query's exact sample, pinned per-batch in
    tests/test_reservoir_stream.py. State is k rows regardless of
    stream length — the property that makes this THE uniform-sample
    operator for unbounded streams. The final k-row snapshot gets its
    rank column batch-side, like the batch twin."""
    import shutil

    from demo_segmenter_spark.sources.python_source import manifest_files

    base = scratch_dir("res_stream")
    shutil.rmtree(base, ignore_errors=True)
    src = _events_chunked_src(spark, sf_dir, base)
    run_reservoir_stream(spark, src, base)
    res = spark.read.schema(_RES_STATE_SCHEMA).json(
        manifest_files(f"{base}/res")
    )
    w = Window.orderBy("rk", "event_id")
    return res.select(
        "event_id",
        "user_id",
        "event_type",
        "rk",
        F.row_number().over(w).cast("long").alias("rank"),
    )


@query("b_agg_countmin_stream", oracle=_REGISTRY["b_agg_countmin"].oracle)
def b_agg_countmin_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of b_agg_countmin, SAME oracle: the count-min
    grid is THE textbook streaming sketch — a complete-mode
    aggregation keyed by (depth, bucket) whose StateStore is the
    sketch itself, hard-bounded at 3x{CM_W} counters regardless of
    stream length (the memory guarantee that is the sketch's entire
    reason to exist). Counter updates are commutative sums, so any
    micro-batch split or arrival order yields the identical grid
    (cell-wise mergeability is pinned separately in
    tests/test_sketch_sample.py's countmin split test). The probe
    phase (min over the three hashed counters + the exact twin for
    the overestimate invariant) runs batch-side on the final grid —
    exactly the batch query's gated join. Scale: state 192 rows, the
    exchange carries map-side partials only."""
    from demo_segmenter_spark.streaming.sources import stream_events

    pairs = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (((F.lit(a) * F.col("user_id") + b) % CM_P) % CM_W).alias(
                    "b"
                ),
            )
            for d, (a, b) in enumerate(zip(CM_A, CM_B))
        ]
    )
    grid = (
        stream_events(spark, sf_dir)
        .select(F.explode(pairs).alias("p"))
        .select("p.d", "p.b")
        .groupBy("d", "b")
        .agg(F.count("*").alias("c"))
    )
    sketch = run_to_memory(grid, "complete", SESSION_STATE_PARTS)
    ev = load_table(spark, sf_dir, "events").select("user_id")
    probes = (
        ev.filter(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_count"))
    )
    probe_b = [
        (((F.lit(a) * F.col("user_id") + b) % CM_P) % CM_W)
        for a, b in zip(CM_A, CM_B)
    ]
    cond = None
    for d in range(3):
        c = (F.col("d") == d) & (F.col("b") == probe_b[d])
        cond = c if cond is None else (cond | c)
    return (
        probes.join(F.broadcast(sketch), cond)
        .groupBy("user_id", "exact_count")
        .agg(F.min("c").alias("cm_estimate"))
        .select(
            "user_id",
            F.col("exact_count").cast("long").alias("exact_count"),
            F.col("cm_estimate").cast("long").alias("cm_estimate"),
            (F.col("cm_estimate") - F.col("exact_count"))
            .cast("long")
            .alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# Native HyperLogLog (round-10 widening): b_agg_sketch_merge exercises
# Spark's built-in HLL sketches but can only be bound-checked (the
# sketch internals are engine-private). This is the repo's own HLL
# over the proven cross-engine primitive (md5): register index =
# low 6 hash bits, rank = trailing-zero count of the remaining 54
# bits (the integer-only (w & -w) - 1 popcount trick — no float, no
# log), register maxima are the mergeable state, and the harmonic
# sum Σ 2^(-M_j) is scaled by 2^55 into an EXACT BIGINT before the
# one division — so the full estimate path hash-certifies, like
# c_dedup_minhash_native does for MinHash.
# ---------------------------------------------------------------------------

HLL_M = 64  # registers (p = 6)
HLL_WBITS = 55  # max rank: 54 payload bits -> rho in [1, 55]
HLL_ALPHA = 0.709  # alpha_64 (Flajolet et al. bias constant)

_HLL_REG_SQL = f"""
WITH h AS (
    SELECT event_type,
           CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                AS BIGINT) AS hv
    FROM events
), reg AS (
    SELECT event_type, hv % {HLL_M} AS j,
           max(CASE WHEN hv // {HLL_M} = 0 THEN {HLL_WBITS}
                    ELSE bit_count(((hv // {HLL_M}) & -(hv // {HLL_M})) - 1)
                         + 1 END) AS rho
    FROM h GROUP BY event_type, hv % {HLL_M}
)
"""

_HLL_TAIL_SQL = f"""
, s AS (
    SELECT event_type,
           sum(1::BIGINT << CAST({HLL_WBITS} - rho AS INT)) AS s_part,
           count(*) AS n_reg
    FROM reg GROUP BY event_type
), e0 AS (
    SELECT event_type, n_reg, {HLL_M} - n_reg AS v,
           {HLL_ALPHA} * {HLL_M} * {HLL_M}
           * CAST(1::BIGINT << {HLL_WBITS} AS DOUBLE)
           / (s_part + ({HLL_M} - n_reg) * (1::BIGINT << {HLL_WBITS}))
               AS e_raw
    FROM s
), fin AS (
    SELECT event_type, v,
           CASE WHEN e_raw < 2.5 * {HLL_M} AND v > 0
                THEN {HLL_M} * ln({HLL_M} * 1.0 / v) ELSE e_raw END AS e,
           CASE WHEN e_raw < 2.5 * {HLL_M} AND v > 0 THEN 1 ELSE 0 END AS lc
    FROM e0
), ex AS (
    SELECT event_type, count(DISTINCT user_id) AS n_exact
    FROM events GROUP BY event_type
)
SELECT f.event_type,
       CAST(ex.n_exact AS BIGINT) AS n_exact,
       {{est}} AS hll_estimate,
       CAST(f.lc AS INT) AS used_linear_counting,
       CAST(f.v AS BIGINT) AS n_zero_registers
FROM fin f JOIN ex USING (event_type)
"""


def _hll_registers(ev: DataFrame) -> DataFrame:
    """(event_type, j, rho) register maxima — the mergeable HLL state,
    identical on batch and streaming rows."""
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = F.expr(f"hv DIV {HLL_M}")
    rho = F.when(w == 0, F.lit(HLL_WBITS)).otherwise(
        F.expr(
            f"bit_count(((hv DIV {HLL_M}) & -(hv DIV {HLL_M})) - 1) + 1"
        )
    )
    return (
        ev.select("event_type", hv.alias("hv"))
        .select("event_type", (F.col("hv") % HLL_M).alias("j"), rho.alias("rho"))
        .groupBy("event_type", "j")
        .agg(F.max("rho").alias("rho"))
    )


def _hll_estimate(reg: DataFrame, ex: DataFrame) -> DataFrame:
    """Shared HLL estimate tail over the register table: exact BIGINT
    harmonic sum, one double division, small-range linear-counting
    switch on the identical IEEE comparison both engines make."""
    s = reg.groupBy("event_type").agg(
        F.sum(
            F.expr(f"shiftleft(1L, CAST({HLL_WBITS} - rho AS INT))")
        ).alias("s_part"),
        F.count("*").alias("n_reg"),
    )
    e_raw = (
        HLL_ALPHA
        * HLL_M
        * HLL_M
        * float(1 << HLL_WBITS)
        / (
            F.col("s_part")
            + (HLL_M - F.col("n_reg")) * F.lit(1 << HLL_WBITS)
        )
    )
    e0 = s.select(
        "event_type",
        (HLL_M - F.col("n_reg")).alias("v"),
        e_raw.alias("e_raw"),
    )
    lc_cond = (F.col("e_raw") < 2.5 * HLL_M) & (F.col("v") > 0)
    fin = e0.select(
        "event_type",
        "v",
        F.when(
            lc_cond, HLL_M * F.log(HLL_M * 1.0 / F.col("v"))
        ).otherwise(F.col("e_raw")).alias("e"),
        lc_cond.cast("int").alias("lc"),
    )
    return fin.join(F.broadcast(ex), "event_type").select(
        "event_type",
        F.col("n_exact").cast("long").alias("n_exact"),
        rnd(F.col("e"), 2).alias("hll_estimate"),
        F.col("lc").alias("used_linear_counting"),
        F.col("v").cast("long").alias("n_zero_registers"),
    )


@query(
    "b_agg_hll_native",
    oracle=_HLL_REG_SQL
    + _HLL_TAIL_SQL.format(est=sql_rnd("f.e", 2)),
)
def b_agg_hll_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native HYPERLOGLOG distinct-count per event_type, fully
    hash-certified: md5-derived 60-bit hashes split into a {HLL_M}-way
    register index + 54 payload bits; rank = trailing zeros + 1 via
    the integer-only (w & -w) - 1 popcount; per-register maxima are
    the sketch; the harmonic mean's Σ 2^(-rho) scales by 2^{HLL_WBITS}
    into an exact BIGINT sum (dyadic terms — no float accumulation at
    all), leaving ONE double division and the standard small-range
    linear-counting switch. n_exact rides in-schema as the
    certification twin; the +/-1.04/sqrt(m) (~13%) error band is
    pinned in tests/test_sketch_sample.py. Scale: the register table
    is the mergeable artifact — daily sketches union with a further
    max, the exchange carries <=types x {HLL_M} rows regardless of
    corpus size (the exact twin rides along only for the invariant;
    at 100 TB you keep the registers, not the countDistinct)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    reg = _hll_registers(ev)
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return _hll_estimate(reg, ex)


@query(
    "b_agg_hll_native_stream",
    oracle=_HLL_REG_SQL + _HLL_TAIL_SQL.format(est=sql_rnd("f.e", 2)),
)
def b_agg_hll_native_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of b_agg_hll_native, SAME oracle: the register
    maxima are maintained as complete-mode streaming state — max is
    commutative/idempotent, so any micro-batch split, arrival order
    or crash-replay yields the identical sketch, and the StateStore
    is bounded at types x {HLL_M} rows no matter how much data
    streams through (THE canonical streaming-sketch contract). The
    estimate tail (+ the exact twin column for certification) runs
    batch-side on the final register emission."""
    from demo_segmenter_spark.streaming.sources import stream_events

    reg_s = _hll_registers(
        stream_events(spark, sf_dir).select("event_type", "user_id")
    )
    reg = run_to_memory(reg_s, "complete", SESSION_STATE_PARTS)
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return _hll_estimate(reg, ex)


# ---------------------------------------------------------------------------
# Z-order data layout (round-10 widening): multi-dimensional
# clustering for data skipping — the OPTIMIZE ZORDER operation every
# lake format ships. Interleave the bits of two filter columns into a
# Morton code, lay rows out in z order, cut the sequence into files,
# and emit each file's per-column [min, max] zone map: point/range
# predicates on EITHER column can then prune most files, which a
# single-column sort only delivers for its leading column. Bit
# interleaving is pure integer arithmetic (an unrolled 16-term sum
# shared verbatim with the oracle), so layout, file assignment and
# zone maps all hash-certify.
# ---------------------------------------------------------------------------

ZORD_BITS = 16  # per-dimension bits in the Morton code
ZORD_FILES = 16  # target file count


def _zord_expr(div: str) -> str:
    """The unrolled Morton interleave as engine SQL (div = '//' for
    DuckDB, 'DIV' for Spark) — one shared arithmetic string, so the
    two engines cannot drift."""
    return " + ".join(
        f"((a {div} {1 << i}) % 2) * {1 << (2 * i)}"
        f" + ((b {div} {1 << i}) % 2) * {1 << (2 * i + 1)}"
        for i in range(ZORD_BITS)
    )


@query(
    "b_layout_zorder",
    oracle=f"""
WITH src AS (
    SELECT l_orderkey, l_linenumber,
           l_partkey AS av, l_suppkey AS bv
    FROM lineitem
), bkt AS (
    SELECT l_orderkey, l_linenumber, av, bv,
           (rank() OVER (ORDER BY av) - 1) * {1 << ZORD_BITS}
               // count(*) OVER () AS a,
           (rank() OVER (ORDER BY bv) - 1) * {1 << ZORD_BITS}
               // count(*) OVER () AS b
    FROM src
), zt AS (
    SELECT l_orderkey, l_linenumber, av, bv,
           {_zord_expr('//')} AS z
    FROM bkt
), ranked AS (
    SELECT av, bv,
           row_number() OVER (ORDER BY z, l_orderkey, l_linenumber) AS rn,
           count(*) OVER () AS n
    FROM zt
)
SELECT CAST((rn - 1) * {ZORD_FILES} // n AS BIGINT) AS file_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(av) AS BIGINT) AS amin, CAST(max(av) AS BIGINT) AS amax,
       CAST(min(bv) AS BIGINT) AS bmin, CAST(max(bv) AS BIGINT) AS bmax
FROM ranked
GROUP BY (rn - 1) * {ZORD_FILES} // n
""",
)
def b_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering of lineitem on (l_partkey, l_suppkey) with
    per-file ZONE MAPS — the layout half of the data-skipping story
    (the jsonl_dir sink's manifest stats are the reader half). Each
    column is first normalized to a rank-derived {ZORD_BITS}-bit
    bucket ((rank-1)*2^bits DIV n; rank() keeps equal values in equal
    buckets) — the normalization real OPTIMIZE ZORDER does, because
    interleaving RAW values lets the wider column's high bits dominate
    and the narrow column degenerates to a trailing sort key (measured
    here: raw interleave pruned 1% on l_suppkey, rank interleave
    prunes both dims — tests/test_zorder.py). Morton codes come from
    an unrolled integer sum shared verbatim with the oracle, the file
    cut is the exact ((rank-1)*{ZORD_FILES} DIV n) integer split (no
    ntile tie ambiguity), and each file reports min/max of both RAW
    columns. The payoff test: a point predicate on either column
    prunes most z files; a single-column sort's trailing dim prunes
    (almost) nothing.

    Scale: at 100 TB the rank buckets come from range-partitioner
    sample boundaries and the global z sort becomes
    repartitionByRange(z) + sortWithinPartitions (the engines' actual
    OPTIMIZE path — boundaries need not be exact ranks); the fixture
    form keeps exact integer ranks so the layout itself
    hash-certifies. Zone-map emission is one groupBy over the
    laid-out scan."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_partkey").alias("av"),
        F.col("l_suppkey").alias("bv"),
    )
    n_all = F.count("*").over(Window.partitionBy())
    bkt = li.select(
        "l_orderkey",
        "l_linenumber",
        "av",
        "bv",
        # rank() is INT in Spark: widen BEFORE the 2^bits multiply or
        # ANSI mode overflows past ~32k rows
        F.expr(
            f"(CAST(rank() OVER (ORDER BY av) AS BIGINT) - 1)"
            f" * {1 << ZORD_BITS}"
        ).alias("ra"),
        F.expr(
            f"(CAST(rank() OVER (ORDER BY bv) AS BIGINT) - 1)"
            f" * {1 << ZORD_BITS}"
        ).alias("rb"),
        n_all.alias("n"),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "av",
        "bv",
        F.expr("ra DIV n").alias("a"),
        F.expr("rb DIV n").alias("b"),
    )
    zt = bkt.withColumn("z", F.expr(_zord_expr("DIV")))
    w = Window.orderBy("z", "l_orderkey", "l_linenumber")
    ranked = zt.select(
        "av",
        "bv",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    return (
        ranked.select(
            F.expr(f"(rn - 1) * {ZORD_FILES} DIV n").alias("file_id"),
            "av",
            "bv",
        )
        .groupBy("file_id")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("av").cast("long").alias("amin"),
            F.max("av").cast("long").alias("amax"),
            F.min("bv").cast("long").alias("bmin"),
            F.max("bv").cast("long").alias("bmax"),
        )
    )


# ---------------------------------------------------------------------------
# Small-file COMPACTION (round-12, verdict r11 ask #5): the
# operational sibling of OPTIMIZE ZORDER — a streaming/CDC table
# accretes many small files, and the maintenance job concatenates
# them in file order into target-sized bins (never splitting a file,
# the standard lake-format compaction heuristic), preserving each new
# file's zone map as the merge of its inputs'. The packing rule is
# pure integer arithmetic over per-file stats (prefix-sum DIV target),
# so the ENTIRE compaction plan — bin assignment, per-bin row counts,
# byte totals and merged zone maps — hash-certifies against DuckDB;
# tests/test_compaction.py then EXECUTES the plan (64 real parquet
# files rewritten) and pins that the physical file count equals the
# closed-form bin count while the table's row set is byte-identical.
# ---------------------------------------------------------------------------

COMPACT_SRC_FILES = 64  # fragmented-input simulation: o_orderkey % 64
COMPACT_TARGET = 1 << 20  # 1 MiB target bin size
# deterministic per-row byte proxy both engines compute identically
_COMPACT_ROW_BYTES = "32 + length(o_orderpriority) + length(o_orderstatus)"


@query(
    "b_layout_compaction",
    oracle=f"""
WITH src AS (
    SELECT o_orderkey, o_orderkey % {COMPACT_SRC_FILES} AS old_file,
           {_COMPACT_ROW_BYTES} AS row_bytes
    FROM orders
), files AS (
    SELECT old_file, count(*) AS n_rows, sum(row_bytes) AS bytes,
           min(o_orderkey) AS kmin, max(o_orderkey) AS kmax
    FROM src GROUP BY old_file
), packed AS (
    SELECT *, coalesce(sum(bytes) OVER (ORDER BY old_file
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {COMPACT_TARGET} AS new_file
    FROM files
)
SELECT CAST(new_file AS BIGINT) AS file_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n_rows) AS BIGINT) AS n_rows,
       CAST(sum(bytes) AS BIGINT) AS bytes,
       CAST(min(kmin) AS BIGINT) AS kmin,
       CAST(max(kmax) AS BIGINT) AS kmax
FROM packed GROUP BY new_file
""",
)
def b_layout_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION plan (OPTIMIZE bin-packing): orders
    fragmented into {COMPACT_SRC_FILES} simulated small files
    (o_orderkey % {COMPACT_SRC_FILES} — the shape a per-trigger
    streaming sink leaves behind), packed in file order into
    {COMPACT_TARGET}-byte bins by the prefix-sum rule new_file =
    (bytes-before DIV target): files are CONCATENATED, never split —
    the heuristic every lake format's OPTIMIZE runs — so a bin
    overruns the target by at most one input file. Emits the rewrite
    manifest: per new file its input-file count, row count, byte
    total (a deterministic integer per-row proxy shared with the
    oracle) and the MERGED zone map (min/max o_orderkey over the
    inputs — the stats the skipping reader needs survive the
    rewrite). tests/test_compaction.py executes this exact plan
    against {COMPACT_SRC_FILES} real parquet files and pins physical
    file count == the closed-form bin count with byte-identical
    read-back.

    Scale: per-file stats come from the manifest (file-count-sized,
    not row-count-sized — at 100 TB the planner never scans data);
    the packing is one window over the file list; the rewrite itself
    is one repartition-by-bin pass whose output commits atomically
    through the versioned-manifest sink exactly like the snapshot
    writers."""
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % COMPACT_SRC_FILES).alias("old_file"),
        F.expr(_COMPACT_ROW_BYTES).alias("row_bytes"),
    )
    files = src.groupBy("old_file").agg(
        F.count("*").alias("n_rows"),
        F.sum("row_bytes").alias("bytes"),
        F.min("o_orderkey").alias("kmin"),
        F.max("o_orderkey").alias("kmax"),
    )
    w_pre = (
        Window.orderBy("old_file")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = files.withColumn(
        "pre", F.sum("bytes").over(w_pre)
    ).withColumn(
        "new_file", F.expr(f"coalesce(pre, 0) DIV {COMPACT_TARGET}")
    )
    return packed.groupBy("new_file").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("bytes").cast("long").alias("bytes"),
        F.min("kmin").cast("long").alias("kmin"),
        F.max("kmax").cast("long").alias("kmax"),
    ).withColumnRenamed("new_file", "file_id").select(
        F.col("file_id").cast("long"), "n_files", "n_rows", "bytes",
        "kmin", "kmax",
    )


_EXPIRE_SLICE = "o_orderkey % 5"

_EXPIRE_ORACLE = f"""
WITH s AS (
    SELECT {_EXPIRE_SLICE} AS k, CAST(count(*) AS BIGINT) AS n,
           CAST(sum({sql_cents("o_totalprice")}) AS BIGINT) AS c
    FROM orders GROUP BY {_EXPIRE_SLICE}
), v AS (
    SELECT 1 AS version, 0 AS retained, 1 AS n_files,
           (SELECT n FROM s WHERE k = 0) AS n_rows
    UNION ALL SELECT 2, 0, 2,
           (SELECT n FROM s WHERE k = 0) + (SELECT n FROM s WHERE k = 1)
    UNION ALL SELECT 3, 0, 1, (SELECT n FROM s WHERE k = 2)
    UNION ALL SELECT 4, 1, 2,
           (SELECT n FROM s WHERE k = 2) + (SELECT n FROM s WHERE k = 3)
    UNION ALL SELECT 5, 1, 3,
           (SELECT n FROM s WHERE k = 2) + (SELECT n FROM s WHERE k = 3)
           + (SELECT n FROM s WHERE k = 4)
)
SELECT CAST(version AS BIGINT) AS version,
       CAST(retained AS BIGINT) AS retained,
       CAST(n_files AS BIGINT) AS n_files,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(2 AS BIGINT) AS files_removed,
       CAST(3 AS BIGINT) AS files_live,
       CAST((SELECT sum(n) FROM s WHERE k IN (2, 3, 4)) AS BIGINT)
           AS n_latest,
       {sql_rnd("(SELECT sum(c) FROM s WHERE k IN (2, 3, 4)) / 100.0", 2)}
           AS sum_latest
FROM v
"""


_TTD_ORACLE = f"""
WITH s AS (
    SELECT {_EXPIRE_SLICE} AS k, CAST(count(*) AS BIGINT) AS n,
           CAST(sum({sql_cents("o_totalprice")}) AS BIGINT) AS c
    FROM orders GROUP BY {_EXPIRE_SLICE}
), agg AS (
    SELECT
        (SELECT sum(n) FROM s WHERE k IN (2, 3, 4)) AS n234,
        (SELECT sum(c) FROM s WHERE k IN (2, 3, 4)) AS c234,
        (SELECT n FROM s WHERE k = 0) AS n0,
        (SELECT c FROM s WHERE k = 0) AS c0,
        (SELECT sum(n) FROM s) AS nall,
        (SELECT sum(c) FROM s) AS call
)
SELECT * FROM (
    SELECT CAST(1 AS BIGINT) AS from_version, CAST(3 AS BIGINT) AS to_version,
           CAST(2 AS BIGINT) AS files_added, CAST(0 AS BIGINT) AS files_removed,
           CAST(n234 AS BIGINT) AS rows_added,
           {sql_rnd("c234 / 100.0", 2)} AS sum_added,
           CAST(0 AS BIGINT) AS rows_removed,
           {sql_rnd("0 / 100.0", 2)} AS sum_removed
    FROM agg
    UNION ALL
    SELECT 3, 4, 1, 3,
           CAST(n0 AS BIGINT), {sql_rnd("c0 / 100.0", 2)},
           CAST(nall AS BIGINT), {sql_rnd("call / 100.0", 2)}
    FROM agg
)
"""


@query("b_time_travel_diff", oracle=_TTD_ORACLE)
def b_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT DIFF / CDC READ between manifest versions — the reader
    that makes a lake table's history queryable (Delta CDF / Iceberg
    incremental scan at file granularity): four commits go through the
    versioned sink (v1 = slices 0∪1, v2 appends slice 2, v3 appends
    slices 3∪4, v4 OVERWRITES with slice 0 alone), then two diffs are
    materialized — the append window v1→v3 (two added files, nothing
    removed) and the overwrite v3→v4 (one added, ALL three removed).
    ``manifest_diff`` is pure set algebra over two immutable file
    lists (O(files) metadata, no scan), and the changed ROWS are then
    aggregated by scanning ONLY the added/removed files — the whole
    point of CDC-reading: the cost is proportional to the change, not
    the table. Both the file counts and the changed-row aggregates
    (rows/sum per direction, exact cents) hash-certify against a
    closed-form DuckDB oracle over `orders`. The removed-file read
    works because expiry hasn't run — time travel and VACUUM are
    separate operators by design (b_snapshot_expire is the one that
    makes removed files unreadable)."""
    import shutil

    from demo_segmenter_spark.sources.python_source import (
        manifest_diff,
        register_sink,
    )

    register_sink(spark)
    base = scratch_dir("ttd")
    shutil.rmtree(base, ignore_errors=True)
    tbl = f"{base}/t"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 5).alias("k"),
        cents(F.col("o_totalprice")).alias("c"),
    )
    try:
        for ks, mode in [
            ((0, 1), "overwrite"),
            ((2,), "append"),
            ((3, 4), "append"),
            ((0,), "overwrite"),
        ]:
            (
                o.filter(F.col("k").isin(*ks))
                .select("o_orderkey", "c")
                .coalesce(1)
                .write.format("jsonl_dir")
                .option("path", tbl)
                .mode(mode)
                .save()
            )

        def change(files):
            if not files:
                return (0, 0)
            r = (
                spark.read.schema("o_orderkey long, c long")
                .json(files)
                .agg(F.count("*").cast("long"), F.sum("c").cast("long"))
                .first()
            )
            return (r[0], r[1] or 0)

        rows = []
        for v_from, v_to in [(1, 3), (3, 4)]:
            d = manifest_diff(tbl, v_from, v_to)
            na, ca = change(d["added"])
            nr, cr = change(d["removed"])
            rows.append(
                (v_from, v_to, len(d["added"]), len(d["removed"]),
                 na, ca, nr, cr)
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    df = spark.createDataFrame(
        rows,
        "from_version long, to_version long, files_added long, "
        "files_removed long, rows_added long, cents_added long, "
        "rows_removed long, cents_removed long",
    )
    return df.select(
        "from_version", "to_version", "files_added", "files_removed",
        "rows_added",
        rnd(F.col("cents_added") / 100.0, 2).alias("sum_added"),
        "rows_removed",
        rnd(F.col("cents_removed") / 100.0, 2).alias("sum_removed"),
    )


@query("b_snapshot_expire", oracle=_EXPIRE_ORACLE)
def b_snapshot_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT EXPIRY / VACUUM — b_layout_compaction's operational
    sibling and the missing third of the table-maintenance triad
    (compact, re-cluster, EXPIRE): five real commits go through the
    versioned jsonl_dir manifest sink (overwrite v1, append v2,
    overwrite v3 — which orphans v1/v2's files from every LATER
    snapshot — append v4, append v5), then
    ``expire_snapshots(retain=2)`` drops manifests v1–v3 and deletes
    exactly the data files no retained snapshot references (the two
    orphans), while v4's and v5's shared files survive untouched.
    The certified table is the whole audit: per version its recorded
    file/row accounting AS THE SINK COMMITTED IT (not recomputed),
    the expiry counts, and the post-expiry READ-BACK aggregate of the
    latest snapshot — so the hash proves retention removed the right
    files and ONLY the right files, with the surviving data
    bit-intact, against a DuckDB oracle that derives every number
    closed-form from `orders`. Scale: expiry is manifest-sized driver
    metadata work (reachability over retained file lists — O(files),
    no data scan), the same contract as Iceberg expire_snapshots /
    Delta VACUUM; the five commits and the read-back are the only
    distributed passes here, and the final 5-row audit is
    driver-assembled like the stream twins' snapshots."""
    import json
    import shutil

    from demo_segmenter_spark.sources.python_source import (
        expire_snapshots,
        manifest_files,
        register_sink,
    )

    register_sink(spark)
    base = scratch_dir("expire")
    shutil.rmtree(base, ignore_errors=True)
    tbl = f"{base}/t"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 5).alias("k"),
        cents(F.col("o_totalprice")).alias("c"),
    )
    try:
        for version, (k, mode) in enumerate(
            [(0, "overwrite"), (1, "append"), (2, "overwrite"),
             (3, "append"), (4, "append")],
            start=1,
        ):
            (
                o.filter(F.col("k") == k)
                .select("o_orderkey", "c")
                .coalesce(1)
                .write.format("jsonl_dir")
                .option("path", tbl)
                .mode(mode)
                .save()
            )
        mans = []
        for v in range(1, 6):
            with open(f"{tbl}/_MANIFEST.v{v}.json") as f:
                mans.append(json.load(f))
        acct = expire_snapshots(tbl, retain=2)
        back = (
            spark.read.schema("o_orderkey long, c long")
            .json(manifest_files(tbl))
            .agg(F.count("*").cast("long"), F.sum("c").cast("long"))
            .first()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    retained = {4, 5}
    rows = [
        (
            v,
            1 if v in retained else 0,
            len(mans[v - 1]["files"]),
            mans[v - 1]["rows"],
            acct["files_removed"],
            acct["files_live"],
            back[0],
            back[1],
        )
        for v in range(1, 6)
    ]
    df = spark.createDataFrame(
        rows,
        "version long, retained long, n_files long, n_rows long, "
        "files_removed long, files_live long, n_latest long, "
        "cents_latest long",
    )
    return df.select(
        "version", "retained", "n_files", "n_rows", "files_removed",
        "files_live", "n_latest",
        rnd(F.col("cents_latest") / 100.0, 2).alias("sum_latest"),
    )


# ---------------------------------------------------------------------------
# Histogram quantile sketch (round-10 widening): mergeable approximate
# quantiles — the streaming/partitioned answer to "p50/p95 per key"
# when an exact sort is off the table. A fixed 64-bin grid is the
# simplest mergeable quantile state (counts add across partitions,
# days, micro-batches); the estimate is rank interpolation inside the
# covering bin. Both the bin targets and the covering-bin choice are
# pure integer arithmetic (ceil via (a + b - 1) DIV b), the exact
# order-statistic twin rides in-schema (rank-based, engine-neutral —
# Spark percentile() and DuckDB quantile() interpolate differently,
# k-th order statistics do not), so the whole thing hash-certifies.
# ---------------------------------------------------------------------------

QSK_BINS = 64
QSK_W = 8  # bin width over the fixture's value span (0.03 - 327.5)

_QSK_REG_SQL = f"""
WITH e AS (
    SELECT event_id, event_type, {sql_cents('value')} AS c FROM events
), hist AS (
    SELECT event_type,
           least(c // {100 * QSK_W}, {QSK_BINS - 1}) AS bin,
           count(*) AS bn
    FROM e GROUP BY event_type, least(c // {100 * QSK_W}, {QSK_BINS - 1})
)
"""

_QSK_TAIL_SQL = f"""
, tot AS (
    SELECT event_type, sum(bn) AS n FROM hist GROUP BY event_type
), cum AS (
    SELECT h.event_type, h.bin, h.bn, t.n,
           sum(h.bn) OVER (PARTITION BY h.event_type ORDER BY h.bin)
               AS cum
    FROM hist h JOIN tot t USING (event_type)
), tgt AS (
    SELECT event_type, n,
           (n + 1) // 2 AS t50, (19 * n + 19) // 20 AS t95
    FROM tot
), pick AS (
    SELECT c.event_type, g.q, g.t, c.bin, c.bn, c.cum,
           row_number() OVER (PARTITION BY c.event_type, g.q
                              ORDER BY c.bin) AS rn
    FROM cum c
    JOIN (SELECT event_type, 50 AS q, t50 AS t FROM tgt
          UNION ALL
          SELECT event_type, 95, t95 FROM tgt) g
      ON c.event_type = g.event_type AND c.cum >= g.t
), est AS (
    SELECT event_type, q,
           bin * {QSK_W}
           + {QSK_W} * (t - (cum - bn)) * 1.0 / bn AS e
    FROM pick WHERE rn = 1
), ranked AS (
    SELECT event_type, c,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY c, event_id) AS r
    FROM e
), ex AS (
    SELECT r.event_type,
           max(CASE WHEN r.r = t.t50 THEN r.c END) AS x50,
           max(CASE WHEN r.r = t.t95 THEN r.c END) AS x95
    FROM ranked r JOIN tgt t USING (event_type)
    GROUP BY r.event_type
)
SELECT t.event_type, CAST(t.n AS BIGINT) AS n,
       {{e50}} AS est_p50,
       CAST(ex.x50 AS BIGINT) AS exact_p50_cents,
       {{e95}} AS est_p95,
       CAST(ex.x95 AS BIGINT) AS exact_p95_cents
FROM tgt t
JOIN (SELECT event_type, e AS e50 FROM est WHERE q = 50) a
  USING (event_type)
JOIN (SELECT event_type, e AS e95 FROM est WHERE q = 95) b
  USING (event_type)
JOIN ex USING (event_type)
"""


def _qsk_hist(ev: DataFrame) -> DataFrame:
    """(event_type, bin, bn) fixed-grid histogram — the mergeable
    quantile state, identical on batch and streaming rows."""
    b = F.least(
        F.expr(f"c DIV {100 * QSK_W}"), F.lit(QSK_BINS - 1)
    )
    return (
        ev.select("event_type", b.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("bn"))
    )


def _qsk_tail(hist: DataFrame, e: DataFrame) -> DataFrame:
    """Shared estimate tail over the histogram state + the in-schema
    exact order-statistic twin over the raw rows."""
    tot = hist.groupBy("event_type").agg(F.sum("bn").alias("n"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        hist.join(tot, "event_type")
        .withColumn("cum", F.sum("bn").over(w_cum))
    )
    tgt = tot.select(
        "event_type",
        "n",
        F.expr("(n + 1) DIV 2").alias("t50"),
        F.expr("(19 * n + 19) DIV 20").alias("t95"),
    )
    g = tgt.selectExpr("event_type", "50 AS q", "t50 AS t").unionByName(
        tgt.selectExpr("event_type", "95 AS q", "t95 AS t")
    )
    w_pick = Window.partitionBy("event_type", "q").orderBy("bin")
    est = (
        cum.join(F.broadcast(g), "event_type")
        .filter(F.col("cum") >= F.col("t"))
        .withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "q",
            (
                F.col("bin") * QSK_W
                + QSK_W
                * (F.col("t") - (F.col("cum") - F.col("bn")))
                * 1.0
                / F.col("bn")
            ).alias("e"),
        )
    )
    w_rank = Window.partitionBy("event_type").orderBy("c", "event_id")
    ex = (
        e.withColumn("r", F.row_number().over(w_rank))
        .join(F.broadcast(tgt), "event_type")
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("r") == F.col("t50"), F.col("c"))).alias(
                "x50"
            ),
            F.max(F.when(F.col("r") == F.col("t95"), F.col("c"))).alias(
                "x95"
            ),
        )
    )
    # one conditional-agg pivot instead of an e50/e95 self-join of the
    # est subtree (the self-join form hit a conflicting-references
    # resolution error when hist comes from a memory-sink table)
    epiv = est.groupBy("event_type").agg(
        F.max(F.when(F.col("q") == 50, F.col("e"))).alias("e50"),
        F.max(F.when(F.col("q") == 95, F.col("e"))).alias("e95"),
    )
    return (
        tgt.select("event_type", F.col("n").cast("long").alias("n"))
        .join(F.broadcast(epiv), "event_type")
        .join(F.broadcast(ex), "event_type")
        .select(
            "event_type",
            "n",
            rnd(F.col("e50"), 4).alias("est_p50"),
            F.col("x50").cast("long").alias("exact_p50_cents"),
            rnd(F.col("e95"), 4).alias("est_p95"),
            F.col("x95").cast("long").alias("exact_p95_cents"),
        )
    )


@query(
    "b_agg_quantile_sketch",
    oracle=_QSK_REG_SQL
    + _QSK_TAIL_SQL.format(
        e50=sql_rnd("a.e50", 4), e95=sql_rnd("b.e95", 4)
    ),
)
def b_agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE QUANTILE SKETCH per event_type — p50/p95 from a fixed
    {QSK_BINS}-bin integer-cents histogram with rank interpolation
    inside the covering bin: rank targets are exact integer ceils
    ((n+1) DIV 2, (19n+19) DIV 20), the covering bin is the first with
    cum >= target, and the only float op is the final one-division
    interpolation (identical IEEE both engines). The exact k-th order
    statistics ride in-schema as the certification twin — rank-based
    rather than percentile() because Spark and DuckDB INTERPOLATE
    differently but agree perfectly on order statistics. The |est −
    exact| <= bin-width guarantee is pinned in tests.

    Scale: the histogram is the whole point — counts ADD across
    partitions/days/micro-batches (unlike an exact sort), the exchange
    carries <=types x {QSK_BINS} cells with map-side partials, and
    daily histograms roll up with a further sum. The exact twin's
    per-type rank window exists only for certification (at 100 TB you
    keep the histogram)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", cents(F.col("value")).alias("c")
    )
    return _qsk_tail(_qsk_hist(e), e)


@query(
    "b_agg_quantile_sketch_stream",
    oracle=_QSK_REG_SQL
    + _QSK_TAIL_SQL.format(
        e50=sql_rnd("a.e50", 4), e95=sql_rnd("b.e95", 4)
    ),
)
def b_agg_quantile_sketch_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING twin of b_agg_quantile_sketch, SAME oracle: the
    histogram is maintained as complete-mode streaming state — counts
    are commutative sums, so any batch split yields the identical
    grid and the StateStore is bounded at types x {QSK_BINS} cells no
    matter how much data streams through (THE production shape for
    latency percentiles on a live stream). The estimate tail + exact
    certification twin run batch-side on the final grid emission."""
    from demo_segmenter_spark.streaming.sources import stream_events

    hist_s = _qsk_hist(
        stream_events(spark, sf_dir).select(
            "event_type", cents(F.col("value")).alias("c")
        )
    )
    hist = run_to_memory(hist_s, "complete", SESSION_STATE_PARTS)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", cents(F.col("value")).alias("c")
    )
    # the memory-sink View hands out the SAME attribute ids on every
    # spark.table() reference, so the tail's hist ⋈ agg(hist)
    # self-join dies with conflicting-references; localCheckpoint
    # (tracked, <= types x QSK_BINS rows) re-roots the plan
    from demo_segmenter_spark.functions.cache import local_checkpoint

    return _qsk_tail(local_checkpoint(hist), e)


# Two-level refinement (round-11, verdict r10 ask #7): the flat grid's
# |est - exact| <= QSK_W guarantee is loose when mass concentrates in
# one bin (skewed latency distributions — exactly where percentiles
# matter). Round 1 is the SAME mergeable coarse histogram; the covering
# bin per (type, q) is a deterministic function of the MERGED grid, so
# round 2 — a per-hot-bin sub-histogram at QSK_W/16 resolution,
# counts again, integer-exact — is equally mergeable. This is the
# standard two-round distributed-quantile protocol: each round's state
# adds across partitions/days/micro-batches; only the ≤2-bins-per-type
# hot set crosses rounds.

QSK_SUB = 16   # sub-bins per refined coarse bin
QSK_SUBW = QSK_W / QSK_SUB   # 0.5 value units — the refined bound

_QSK2_TAIL_SQL = f"""
, tot AS (
    SELECT event_type, sum(bn) AS n FROM hist GROUP BY event_type
), cum AS (
    SELECT h.event_type, h.bin, h.bn, t.n,
           sum(h.bn) OVER (PARTITION BY h.event_type ORDER BY h.bin)
               AS cum
    FROM hist h JOIN tot t USING (event_type)
), tgt AS (
    SELECT event_type, n,
           (n + 1) // 2 AS t50, (19 * n + 19) // 20 AS t95
    FROM tot
), pick AS (
    SELECT c.event_type, g.q, c.bin, c.bn, c.cum, g.t,
           g.t - (c.cum - c.bn) AS tl,
           c.bin * {QSK_W}
           + {QSK_W} * (g.t - (c.cum - c.bn)) * 1.0 / c.bn AS e1,
           row_number() OVER (PARTITION BY c.event_type, g.q
                              ORDER BY c.bin) AS rn
    FROM cum c
    JOIN (SELECT event_type, 50 AS q, t50 AS t FROM tgt
          UNION ALL
          SELECT event_type, 95, t95 FROM tgt) g
      ON c.event_type = g.event_type AND c.cum >= g.t
), hot AS MATERIALIZED (
    SELECT event_type, q, bin, tl, e1 FROM pick WHERE rn = 1
), fine AS (
    SELECT h.event_type, h.q,
           least(e.c // {100 * QSK_W // QSK_SUB},
                 {QSK_BINS * QSK_SUB - 1}) - h.bin * {QSK_SUB} AS sub,
           count(*) AS sn
    FROM e
    JOIN hot h ON e.event_type = h.event_type
       AND least(e.c // {100 * QSK_W}, {QSK_BINS - 1}) = h.bin
    GROUP BY h.event_type, h.q,
             least(e.c // {100 * QSK_W // QSK_SUB},
                   {QSK_BINS * QSK_SUB - 1}) - h.bin * {QSK_SUB}
), cum2 AS (
    SELECT event_type, q, sub, sn,
           sum(sn) OVER (PARTITION BY event_type, q ORDER BY sub) AS cm
    FROM fine
), pick2 AS (
    SELECT c2.event_type, c2.q, h.bin, c2.sub, c2.sn, c2.cm, h.tl, h.e1,
           row_number() OVER (PARTITION BY c2.event_type, c2.q
                              ORDER BY c2.sub) AS rn
    FROM cum2 c2
    JOIN hot h ON c2.event_type = h.event_type AND c2.q = h.q
    WHERE c2.cm >= h.tl
), est2 AS (
    SELECT event_type, q, e1,
           bin * {QSK_W} + sub * {QSK_SUBW!r}
           + {QSK_SUBW!r} * (tl - (cm - sn)) * 1.0 / sn AS e2
    FROM pick2 WHERE rn = 1
), ranked AS (
    SELECT event_type, c,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY c, event_id) AS r
    FROM e
), ex AS (
    SELECT r.event_type,
           max(CASE WHEN r.r = t.t50 THEN r.c END) AS x50,
           max(CASE WHEN r.r = t.t95 THEN r.c END) AS x95
    FROM ranked r JOIN tgt t USING (event_type)
    GROUP BY r.event_type
), piv AS (
    SELECT event_type,
           max(CASE WHEN q = 50 THEN e1 END) AS e150,
           max(CASE WHEN q = 50 THEN e2 END) AS e250,
           max(CASE WHEN q = 95 THEN e1 END) AS e195,
           max(CASE WHEN q = 95 THEN e2 END) AS e295
    FROM est2 GROUP BY event_type
)
SELECT t.event_type, CAST(t.n AS BIGINT) AS n,
       {{e150}} AS est_p50, {{e250}} AS est2_p50,
       CAST(ex.x50 AS BIGINT) AS exact_p50_cents,
       {{e195}} AS est_p95, {{e295}} AS est2_p95,
       CAST(ex.x95 AS BIGINT) AS exact_p95_cents
FROM tgt t
JOIN piv USING (event_type)
JOIN ex USING (event_type)
"""


def _qsk2_tail(hist: DataFrame, e: DataFrame) -> DataFrame:
    """Two-level estimate tail: covering bin + local rank target from
    the merged coarse grid, sub-histogram refinement pass over the hot
    bins only, exact order-statistic twin in-schema."""
    from demo_segmenter_spark.functions.cache import persist

    tot = hist.groupBy("event_type").agg(F.sum("bn").alias("n"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.join(tot, "event_type").withColumn(
        "cum", F.sum("bn").over(w_cum)
    )
    tgt = tot.select(
        "event_type",
        "n",
        F.expr("(n + 1) DIV 2").alias("t50"),
        F.expr("(19 * n + 19) DIV 20").alias("t95"),
    )
    g = tgt.selectExpr("event_type", "50 AS q", "t50 AS t").unionByName(
        tgt.selectExpr("event_type", "95 AS q", "t95 AS t")
    )
    w_pick = Window.partitionBy("event_type", "q").orderBy("bin")
    hot = persist(
        cum.join(F.broadcast(g), "event_type")
        .filter(F.col("cum") >= F.col("t"))
        .withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "q",
            "bin",
            (F.col("t") - (F.col("cum") - F.col("bn"))).alias("tl"),
            (
                F.col("bin") * QSK_W
                + QSK_W
                * (F.col("t") - (F.col("cum") - F.col("bn")))
                * 1.0
                / F.col("bn")
            ).alias("e1"),
        )
    )
    coarse = F.least(F.expr(f"c DIV {100 * QSK_W}"), F.lit(QSK_BINS - 1))
    fine_idx = F.least(
        F.expr(f"c DIV {100 * QSK_W // QSK_SUB}"),
        F.lit(QSK_BINS * QSK_SUB - 1),
    )
    hb = hot.select("event_type", "q", F.col("bin").alias("hbin"))
    fine = (
        e.withColumn("cb", coarse)
        .join(
            F.broadcast(hb),
            (F.col("cb") == F.col("hbin"))
            & (e["event_type"] == hb["event_type"]),
        )
        .drop(hb["event_type"])
        .select(
            "event_type",
            "q",
            (fine_idx - F.col("hbin") * QSK_SUB).alias("sub"),
        )
        .groupBy("event_type", "q", "sub")
        .agg(F.count("*").alias("sn"))
    )
    w_cum2 = (
        Window.partitionBy("event_type", "q")
        .orderBy("sub")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_pick2 = Window.partitionBy("event_type", "q").orderBy("sub")
    est2 = (
        fine.withColumn("cm", F.sum("sn").over(w_cum2))
        .join(F.broadcast(hot), ["event_type", "q"])
        .filter(F.col("cm") >= F.col("tl"))
        .withColumn("rn", F.row_number().over(w_pick2))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "q",
            "e1",
            (
                F.col("bin") * QSK_W
                + F.col("sub") * F.lit(QSK_SUBW)
                + F.lit(QSK_SUBW)
                * (F.col("tl") - (F.col("cm") - F.col("sn")))
                * 1.0
                / F.col("sn")
            ).alias("e2"),
        )
    )
    w_rank = Window.partitionBy("event_type").orderBy("c", "event_id")
    ex = (
        e.withColumn("r", F.row_number().over(w_rank))
        .join(F.broadcast(tgt), "event_type")
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("r") == F.col("t50"), F.col("c"))).alias(
                "x50"
            ),
            F.max(F.when(F.col("r") == F.col("t95"), F.col("c"))).alias(
                "x95"
            ),
        )
    )
    epiv = est2.groupBy("event_type").agg(
        F.max(F.when(F.col("q") == 50, F.col("e1"))).alias("e150"),
        F.max(F.when(F.col("q") == 50, F.col("e2"))).alias("e250"),
        F.max(F.when(F.col("q") == 95, F.col("e1"))).alias("e195"),
        F.max(F.when(F.col("q") == 95, F.col("e2"))).alias("e295"),
    )
    return (
        tgt.select("event_type", F.col("n").cast("long").alias("n"))
        .join(F.broadcast(epiv), "event_type")
        .join(F.broadcast(ex), "event_type")
        .select(
            "event_type",
            "n",
            rnd(F.col("e150"), 4).alias("est_p50"),
            rnd(F.col("e250"), 4).alias("est2_p50"),
            F.col("x50").cast("long").alias("exact_p50_cents"),
            rnd(F.col("e195"), 4).alias("est_p95"),
            rnd(F.col("e295"), 4).alias("est2_p95"),
            F.col("x95").cast("long").alias("exact_p95_cents"),
        )
    )


@query(
    "b_agg_quantile_refined",
    oracle=_QSK_REG_SQL
    + _QSK2_TAIL_SQL.format(
        e150=sql_rnd("piv.e150", 4),
        e250=sql_rnd("piv.e250", 4),
        e195=sql_rnd("piv.e195", 4),
        e295=sql_rnd("piv.e295", 4),
    ),
)
def b_agg_quantile_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-LEVEL refined quantile sketch — b_agg_quantile_sketch's
    coarse grid plus a per-hot-bin refinement round (verdict r10 ask
    #7): the flat grid guarantees |est − exact| <= QSK_W, which is
    loose exactly where percentiles matter (mass piled into one bin —
    skewed latencies). Round 1 is the identical mergeable coarse
    histogram; the covering bin and local rank target per (type, q)
    are deterministic functions of the MERGED grid; round 2
    histograms ONLY the rows of those <=2 bins per type at
    QSK_W/QSK_SUB resolution (integer sub-bin ids, counts again — as
    mergeable as round 1), and the estimate interpolates inside the
    covering SUB-bin: |est2 − exact| <= QSK_SUBW = QSK_W/16.
    Both estimates plus the exact order statistics ride in-schema so
    the tightening is measurable per row; the refined-beats-flat
    bound on a skew-crafted fixture is pinned in
    tests/test_sketch_sample.py.

    Scale: the standard two-round distributed-quantile protocol —
    each round's state is an additive count grid (<= types x
    64 then <= types x 2 x 16 cells), rounds merge
    across partitions/days/micro-batches, and only the hot-bin ids
    cross rounds (broadcast). The second corpus pass reads only the
    hot bins' rows (predicate on the scan at 100 TB when the data is
    value-partitioned; a full re-scan otherwise — still two passes
    for a 16x tighter bound than one)."""
    from demo_segmenter_spark.functions.cache import persist

    e = persist(
        load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", cents(F.col("value")).alias("c")
        )
    )
    return _qsk2_tail(persist(_qsk_hist(e)), e)
