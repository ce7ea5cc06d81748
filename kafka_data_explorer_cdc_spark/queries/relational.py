"""Relational breadth — SURVEY.md §2B B1-B15 + B21 (batch form).

Every query here is a declarative DataFrame plan (Catalyst picks the
physical strategy) paired with a DuckDB oracle. Scale notes per query
explain why the plan survives 100 TB: filters/projections reach the
parquet scan, small dimensions broadcast, aggregations are partial+final,
and no operator collects to the driver.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (resolves pandas-UDF type hints)
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..io import derived, load
from ..operators import layout as L
from .helpers import (
    LAST_TOUCH_ORACLE,
    MULTITOUCH_ORACLE,
    SCD2_MERGE_ORACLE,
    SESSION_WINDOW_ORACLE,
    SQL_CHARGE,
    SQL_DAVG,
    SQL_DISC_PRICE,
    SQL_DSUM,
    WELCH_TTEST_ORACLE,
    charge_dec,
    davg,
    disc_price_dec,
    dsum,
)
from .registry import query


@query(
    "b01_scan_region",
    oracle="SELECT r_regionkey, r_name FROM region",
    tags=("relational", "scan"),
)
def b01_scan_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain column-pruned parquet scan (B1)."""
    return load(spark, sf_dir, "region").select("r_regionkey", "r_name")


@query(
    "b02_filter_projection",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS revenue,
       l_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_quantity < 24
""",
    tags=("relational", "filter"),
)
def b02_filter_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + filter (B2). Both predicates and the 5-column
    ReadSchema push into the parquet scan — at 100 TB this is the
    difference between reading 11 columns and 5, and between scanning
    all row groups and the shipdate-matching ones (min/max stats).
    Per-row double arithmetic is bit-identical across engines.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_quantity") < 24)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            "l_shipdate",
        )
    )


@query(
    "b03_join_broadcast",
    oracle=f"""
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {SQL_DSUM.format(col="o_totalprice")} AS total_revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    tags=("relational", "join"),
)
def b03_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join (B3) with an explicit broadcast of the dimension
    side: customer is ~1/10 the fact table and grows sub-linearly, so at
    cluster scale this stays a map-side hash join — zero shuffle of the
    orders fact. Aggregate is partial+final by Catalyst.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        o.join(broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "total_revenue"),
        )
    )


@query(
    "b04_q3_shipping_priority",
    oracle=f"""
SELECT l_orderkey,
       CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
       o_orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    tags=("relational", "join"),
)
def b04_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped multi-way join (B4). Filters sit below the joins
    (Catalyst pushes them to the scans), the customer dim broadcasts,
    and the final top-10 is TakeOrdered — no global sort. The
    revenue product is cast to DECIMAL before SUM so the aggregate is
    order-independent, which is what makes the result reproducible on a
    1000-executor shuffle as well as in DuckDB.
    """
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    revenue = disc_price_dec()
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast(c.select("c_custkey")), o.o_custkey == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@query(
    "b05a_left_join_counts",
    oracle="""
SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
FROM customer LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey
""",
    tags=("relational", "join"),
)
def b05a_left_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders (B5)."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "b05b_semi_join",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
""",
    tags=("relational", "join"),
)
def b05b_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (B5): existence check without row multiplication —
    the join never widens, so no dedup pass is needed afterward.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi")


@query(
    "b05c_anti_join",
    oracle="""
SELECT c_custkey, c_mktsegment FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
""",
    tags=("relational", "join"),
)
def b05c_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (B5): customers with no high-value order. (The
    unfiltered variant is degenerate on this data — every customer has
    at least one order — so the filter keeps the check non-trivial.)
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti")


@query(
    "b05d_full_outer_join",
    oracle="""
SELECT n_name, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT n.n_name, c.c_mktsegment
  FROM customer c FULL OUTER JOIN nation n
    ON c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9000
) GROUP BY n_name, c_mktsegment
""",
    tags=("relational", "join"),
)
def b05d_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join (B5 completion): the acctbal predicate in the
    join condition leaves unmatched rows on BOTH sides (nations with no
    rich customers, rich-customer rows with a nulled nation), aggregated
    so the null-extension semantics are value-checked."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = c.join(
        n,
        (c.c_nationkey == n.n_nationkey) & (c.c_acctbal > 9000),
        "full_outer",
    )
    return j.groupBy("n_name", "c_mktsegment").agg(F.count("*").alias("n"))


@query(
    "b28_collect_sorted_list",
    oracle="""
SELECT o_orderpriority,
       array_to_string(list(DISTINCT o_orderstatus ORDER BY o_orderstatus), ',')
         AS statuses,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY o_orderpriority
""",
    tags=("relational", "agg", "array"),
)
def b28_collect_sorted_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List aggregation with deterministic ordering:
    sort_array(collect_set()) — collect order is partition-dependent in
    any distributed engine, so list-valued results are only reproducible
    sorted; the oracle pins the same contract. Joined to a scalar string
    (array_join / array_to_string) so the differential gate can hash the
    value — array-typed result columns crash the driver's canonicalizer."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(
            F.sort_array(F.collect_set("o_orderstatus")), ","
        ).alias("statuses"),
        F.count("*").alias("n"),
    )


@query(
    "b06_range_join_funnel",
    oracle="""
SELECT e1.user_id,
       CAST(COUNT(*) AS BIGINT) AS conversions
FROM events e1 JOIN events e2
  ON e1.user_id = e2.user_id
 AND e2.ts > e1.ts
 AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
WHERE e1.event_type = 'click' AND e2.event_type = 'purchase'
GROUP BY e1.user_id
""",
    tags=("relational", "join", "range"),
)
def b06_range_join_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join (B6): click→purchase funnel within 10 minutes.
    The equi-key (user_id) carries the shuffle; the range predicate is
    evaluated post-shuffle per key group, so the pair explosion is
    bounded per user — the shape that keeps a self-join feasible on
    100 TB of events (never a pure cross join).
    """
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user_id"), F.col("ts").alias("buy_ts")
    )
    return (
        clicks.join(
            buys,
            (F.col("user_id") == F.col("b_user_id"))
            & (F.col("buy_ts") > F.col("click_ts"))
            & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("conversions"))
    )


@query(
    "b29_asof_join",
    oracle="""
WITH clicks AS (
  SELECT user_id, ts, MAX(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), purchases AS (
  SELECT user_id, ts, event_id AS purchase_id, value
  FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.purchase_id, p.value,
       c.click_id AS asof_click_id
FROM purchases p ASOF JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
    tags=("relational", "join", "asof"),
)
def b29_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each purchase matched with the
    user's most recent click at or before it — union + one window pass,
    O(|L|+|R|) rows and one key shuffle instead of a theta-join
    explosion. DuckDB's native ASOF JOIN is the oracle, pinning the
    inclusive right.ts <= left.ts semantics exactly."""
    from ..operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        "value",
    )
    out = asof_join(
        purchases, clicks, ["user_id"], "ts", ["click_id"], how="inner"
    )
    return out.select("user_id", "purchase_id", "value", "asof_click_id")


@query(
    "b07_q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
       {SQL_DSUM.format(col="l_extendedprice")} AS sum_base_price,
       CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
       CAST(SUM({SQL_CHARGE}) AS DOUBLE) AS sum_charge,
       CAST(SUM(l_quantity) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       {SQL_DAVG.format(col="l_extendedprice")} AS avg_price,
       {SQL_DAVG.format(col="l_discount")} AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("relational", "agg"),
)
def b07_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (B7): the canonical partial+final hash aggregate.
    l_quantity is integral-valued so its double SUM is exact and
    order-independent; every money aggregate rides DECIMAL. One shuffle
    on a 6-value grouping key; map-side partial aggregation collapses
    ~all rows before the exchange — the plan is flat-scalable.
    """
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2001-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        F.sum(disc_price_dec()).cast("double").alias("sum_disc_price"),
        F.sum(charge_dec()).cast("double").alias("sum_charge"),
        (F.sum("l_quantity").cast("double") / F.count("l_quantity")).alias("avg_qty"),
        davg("l_extendedprice", "avg_price"),
        davg("l_discount", "avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "b08_count_distinct",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("relational", "agg"),
)
def b08_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column COUNT DISTINCT (B8). Catalyst expands to
    partial dedup + final count (one expand + two-stage shuffle)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_rows"),
    )


def approx_distinct_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of b08x: HLL++ approximate distinct per group —
    at 100 TB this replaces the expensive exact expand with a
    constant-size sketch that merges map-side."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("n_orders_approx")
    )


@query(
    "b08x_approx_count_distinct",
    oracle="""
SELECT l_returnflag, TRUE AS within_5pct
FROM lineitem GROUP BY l_returnflag
""",
    tags=("relational", "agg", "approx"),
)
def b08x_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-comparison gate form of HLL++ approximate distinct (B8
    approx): sketch estimates are merge-order dependent, so the raw
    values can't hash-match a portable oracle — instead the query emits
    ``|approx − exact| / exact ≤ 5%`` per group against an all-TRUE
    oracle, making the error bound itself the mechanically-checked
    contract (VERDICT r3 #7). Production callers use
    :func:`approx_distinct_by_flag` (sketch only — the exact recount
    here exists to measure the sketch, not to run at scale)."""
    li = load(spark, sf_dir, "lineitem")
    both = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx"),
        F.countDistinct("l_orderkey").alias("exact"),
    )
    return both.select(
        "l_returnflag",
        (F.abs(F.col("approx") - F.col("exact")) / F.col("exact") <= 0.05).alias(
            "within_5pct"
        ),
    )


@query(
    "b09_rollup_revenue",
    oracle=f"""
SELECT n_name, year(o_orderdate) AS order_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {SQL_DSUM.format(col="o_totalprice")} AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP(n_name, year(o_orderdate))
""",
    tags=("relational", "agg"),
)
def b09_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (B9): (nation, year) → (nation) → grand total.
    Catalyst expands the grouping sets before the single shuffle; both
    dims broadcast.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = o.join(broadcast(c), o.o_custkey == c.c_custkey).join(
        broadcast(n), c.c_nationkey == n.n_nationkey
    )
    return (
        joined.withColumn("order_year", F.year("o_orderdate"))
        .rollup("n_name", "order_year")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "revenue"))
    )


@query(
    "b09x_cube_priority_status",
    oracle="""
SELECT o_orderpriority, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY CUBE(o_orderpriority, o_orderstatus)
""",
    tags=("relational", "agg"),
)
def b09x_cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status) — all four grouping sets in one
    shuffle (B9 companion to the rollup); the expand happens map-side,
    so the exchange still carries pre-aggregated partials."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_orders")
    )


@query(
    "b10_window_topk_per_group",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
         ) AS BIGINT) AS rn
  FROM orders
) WHERE rn <= 3
""",
    tags=("relational", "window"),
)
def b10_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ranking window (B10). One shuffle on the
    partition key; the unique-key tie-breaker (o_orderkey) makes the
    ranking deterministic under any partitioning.
    """
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "b11_window_running_revenue",
    oracle=f"""
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS running_revenue,
       lag(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) AS prev_price
FROM orders
""",
    tags=("relational", "window"),
)
def b11_window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window with an explicit frame + lag (B11): running
    revenue per customer. DECIMAL accumulation keeps the running sum
    exact regardless of frame evaluation order.
    """
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(frame)
        .cast("double")
        .alias("running_revenue"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
    )


@query(
    "b12_global_topk",
    oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 10
""",
    tags=("relational", "sort"),
)
def b12_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (B12): TakeOrderedAndProject — each partition keeps
    its local top-10, the driver merges k×partitions rows. No global
    sort ever materializes, so this is O(k) memory at any scale.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(10)
    )


@query(
    "b13a_union_all_counts",
    oracle="""
SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT o_custkey AS k FROM orders
  UNION ALL
  SELECT c_custkey AS k FROM customer
) GROUP BY k
""",
    tags=("relational", "setop"),
)
def b13a_union_all_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (B13) — a zero-shuffle concatenation feeding one agg."""
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return o.unionByName(c).groupBy("k").agg(F.count("*").alias("n"))


@query(
    "b13b_intersect",
    oracle="""
SELECT o_custkey AS k FROM orders
INTERSECT
SELECT c_custkey AS k FROM customer
""",
    tags=("relational", "setop"),
)
def b13b_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) — planned as an aggregate+semi-join."""
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return o.intersect(c)


@query(
    "b13c_except",
    oracle="""
SELECT c_custkey AS k FROM customer
EXCEPT
SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000
""",
    tags=("relational", "setop"),
)
def b13c_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — customer keys minus big-order customer keys
    (filtered so the result is non-empty on this data). ``subtract`` IS
    Spark's EXCEPT DISTINCT; the previous ``exceptAll().distinct()``
    differs when a left value occurring >1× also occurs on the right
    (it would survive), matching the oracle only because c_custkey is
    unique here."""
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("k"))
    )
    return c.subtract(o)


@query(
    "b14_scalar_functions",
    oracle="""
SELECT p_partkey,
       substr(p_name, 1, 4) AS name_prefix,
       upper(p_brand) AS brand_upper,
       CAST(length(p_name) AS INTEGER) AS name_len,
       (p_name LIKE '%gear%') AS is_gear,
       concat(p_brand, ':', p_type) AS brand_type,
       CAST(abs(p_size - 25) AS INTEGER) AS size_dist,
       floor(p_retailprice / 100) AS price_bucket
FROM part
WHERE p_size BETWEEN 10 AND 40
""",
    tags=("relational", "scalar"),
)
def b14_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string/math function surface (B14) — all JVM built-ins
    inside whole-stage codegen; no Python in the row path.
    """
    p = load(spark, sf_dir, "part").filter(F.col("p_size").between(10, 40))
    return p.select(
        "p_partkey",
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.upper("p_brand").alias("brand_upper"),
        F.length("p_name").alias("name_len"),
        F.col("p_name").like("%gear%").alias("is_gear"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        F.floor(F.col("p_retailprice") / 100).cast("double").alias("price_bucket"),
    )


@query(
    "b14b_date_functions",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(month(o_orderdate) AS INTEGER) AS order_month,
       CAST(day(o_orderdate) AS INTEGER) AS order_day,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start
FROM orders
WHERE o_orderdate >= TIMESTAMP '2000-01-01'
""",
    tags=("relational", "scalar"),
)
def b14b_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime function surface (B14): extraction + truncation, all in
    the pinned UTC session zone so both engines agree.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "2000-01-01")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
    )


@query(
    "b15a_json_extract",
    oracle="""
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
""",
    tags=("relational", "json"),
)
def b15a_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from a string column (B15) — the same
    capability as the reference's JSONPath ingestion mapping
    (README.md:123), here as a JVM-side get_json_object.
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        F.count("*").alias("n"),
    )


@query(
    "b15b_array_functions",
    oracle="""
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dim,
       CAST(embedding[1] AS DOUBLE) AS first_elem,
       sqrt(list_reduce(list_transform(embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS l2_norm
FROM embeddings
""",
    tags=("relational", "array"),
)
def b15b_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface (B15) on the embedding column: size,
    indexing, and an L2 norm computed as a sequential fold. Spark's
    ``aggregate`` and DuckDB's ``list_reduce`` fold in the same index
    order, so the double result is bit-identical — this is the pattern
    all the vector math below builds on (JVM-side, no Python).
    """
    em = load(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return em.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_elem"),
        F.sqrt(sq_sum).alias("l2_norm"),
    )


@query(
    "b26_salted_skew_agg",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS total_millis
FROM events GROUP BY event_type
""",
    tags=("relational", "agg", "skew"),
)
def b26_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation on a low-cardinality (= maximally
    skewed) key: partial agg on (key, salt) spreads each hot key over
    16 reducers, final agg merges partials. The oracle is the UNSALTED
    aggregation — the differential gate proves salting rewrites the
    shuffle, not the answer (operators/skew.py; integer domain so the
    two summation orders agree exactly)."""
    from ..operators.skew import salted_aggregate

    ev = load(spark, sf_dir, "events").withColumn(
        "value_millis", F.floor(F.col("value") * 1000).cast("long")
    )
    return salted_aggregate(
        ev,
        ["event_type"],
        {"n": ("*", "count"), "total_millis": ("value_millis", "sum")},
        buckets=16,
    )


@query(
    "b27_percentiles",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS p50,
       quantile_cont(l_extendedprice, 0.95) AS p95,
       quantile_cont(l_extendedprice, 0.99) AS p99
FROM lineitem GROUP BY l_returnflag
""",
    tags=("relational", "agg"),
)
def b27_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (median/p95/p99) per group — Spark ``percentile``
    and DuckDB ``quantile_cont`` share linear-interpolation semantics.
    At 100 TB swap in ``percentile_approx`` (mergeable KLL-style sketch,
    constant memory) — kept exact here for the differential gate."""
    li = load(spark, sf_dir, "lineitem")
    # one percentile buffer per group answering all three quantiles
    # (array form) instead of three independent buffers each holding
    # every group value — same interpolation, same values, a third of
    # the aggregate's memory and sort work
    return li.groupBy("l_returnflag").agg(
        F.percentile(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))
        ).alias("ps")
    ).select(
        "l_returnflag",
        F.col("ps")[0].alias("p50"),
        F.col("ps")[1].alias("p95"),
        F.col("ps")[2].alias("p99"),
    )


def approx_percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of b27x: ``percentile_approx`` (Greenwald-Khanna
    sketch — mergeable, constant memory per group) at accuracy 10000,
    i.e. rank error ≤ n/10000 per group. Exact percentiles buffer every
    group value in memory and cannot scale past it; the sketch is what
    actually runs at 100 TB."""
    li = load(spark, sf_dir, "lineitem")
    # array form: ONE GK sketch per group answers all three quantiles
    # (three scalar calls each built an identical sketch)
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice",
            F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)),
            F.lit(10000),
        ).alias("ps")
    ).select(
        "l_returnflag",
        F.col("ps")[0].alias("p50"),
        F.col("ps")[1].alias("p95"),
        F.col("ps")[2].alias("p99"),
    )


@query(
    "b27x_percentiles_approx",
    oracle="""
SELECT l_returnflag, TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
FROM lineitem GROUP BY l_returnflag
""",
    tags=("relational", "agg", "approx"),
)
def b27x_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-comparison gate form of the GK-sketch percentiles: sketch
    output is merge-order dependent, so raw values can't hash-match a
    portable oracle — instead each group checks the sketch value against
    the bound Greenwald-Khanna actually guarantees: a RANK error of at
    most max(n/accuracy, 1), i.e. the returned value's rank lies within
    ±max(n/10000, 1) of the target. That is checked distribution-free by
    re-counting the sketch value's true rank interval (lt, le] in a
    second pass and intersecting it with the guaranteed band — unlike a
    relative-VALUE bound, a heavier price tail cannot flip the all-TRUE
    oracle red without a real code bug (ADVICE r4). Production
    callers use :func:`approx_percentiles_by_flag` (sketch only — the
    exact percentiles here exist to measure the sketch, not to run at
    scale)."""
    li = load(spark, sf_dir, "lineitem")
    quantiles = ((0.5, "50"), (0.95, "95"), (0.99, "99"))

    # one GK sketch per group answering all three quantiles (array
    # form); identical per-quantile answers to three scalar calls,
    # which each built the same sketch from the same insertion order
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice",
            F.array(*[F.lit(q) for q, _ in quantiles]),
            F.lit(10000),
        ).alias("aps")
    ).select(
        "l_returnflag",
        *[F.col("aps")[i].alias(f"a{nm}") for i, (_, nm) in enumerate(quantiles)],
    )
    # Second pass measures each sketch value's true rank in its group:
    # lt = #values strictly below, le = #values at-or-below, so the
    # value occupies ranks (lt, le]. GK promises that interval meets
    # [(q-eps)n, (q+eps)n]; +/-1 rank of slack absorbs the discrete
    # floor/ceil at group boundaries.
    joined = li.join(F.broadcast(approx), "l_returnflag")
    rank_aggs = [F.count("*").alias("n")]
    for _, nm in quantiles:
        rank_aggs.append(
            F.sum(
                (F.col("l_extendedprice") < F.col(f"a{nm}")).cast("long")
            ).alias(f"lt{nm}")
        )
        rank_aggs.append(
            F.sum(
                (F.col("l_extendedprice") <= F.col(f"a{nm}")).cast("long")
            ).alias(f"le{nm}")
        )
    ranks = joined.groupBy("l_returnflag").agg(*rank_aggs)

    def ok(q: float, nm: str) -> F.Column:
        eps_ranks = F.greatest(F.col("n") / 10000, F.lit(1.0))
        lo = q * F.col("n") - eps_ranks - 1
        hi = q * F.col("n") + eps_ranks + 1
        return (F.col(f"le{nm}") >= lo) & (F.col(f"lt{nm}") <= hi)

    return ranks.select(
        "l_returnflag",
        *[ok(q, nm).alias(f"p{nm}_ok") for q, nm in quantiles],
    )


@query(
    "b25_session_window",
    oracle=SESSION_WINDOW_ORACLE,
    tags=("relational", "window", "session"),
)
def b25_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event sessionization via ``session_window`` (30-min inactivity
    gap): Spark's dynamic-gap session operator, one shuffle on
    (user_id). Session windows are half-open — an event exactly at
    prev_ts + gap starts a NEW session — so the oracle's
    gaps-and-islands break condition is ``>=``. The same plan fragment
    runs incrementally under Structured Streaming with watermark-based
    state eviction (s25)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


@query(
    "b21_tumbling_window_agg",
    oracle=f"""
SELECT time_bucket(INTERVAL '1 minute', ts) AS win_start,
       time_bucket(INTERVAL '1 minute', ts) + INTERVAL 1 MINUTE AS win_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {SQL_DSUM.format(col="value")} AS sum_value
FROM events
GROUP BY 1, 2, 3
""",
    tags=("streaming", "window"),
)
def b21_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregate (B21, batch form — the
    streaming form in streaming/windows.py shares this exact plan
    fragment). Epoch-aligned 1-minute buckets match DuckDB time_bucket.
    """
    ev = load(spark, sf_dir, "events")
    win = F.window("ts", "1 minute")
    return ev.groupBy(win, "event_type").agg(
        F.count("*").alias("n_events"), dsum("value", "sum_value")
    ).select(
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        "event_type",
        "n_events",
        "sum_value",
    )


@query(
    "b21b_sliding_window_agg",
    oracle="""
SELECT win_start, win_start + INTERVAL 10 MINUTE AS win_end, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM (
  SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                 time_bucket(INTERVAL '5 minutes', ts) - INTERVAL 5 MINUTE]) AS win_start,
         event_type
  FROM events
)
GROUP BY 1, 2, 3
""",
    tags=("streaming", "window"),
)
def b21b_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10-minute length, 5-minute slide): each event
    lands in exactly two windows; Spark's window() expands them before
    the single aggregate shuffle.
    """
    ev = load(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes", "5 minutes")
    return ev.groupBy(win, "event_type").agg(F.count("*").alias("n_events")).select(
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        "event_type",
        "n_events",
    )


@query(
    "b14c_edit_distance",
    oracle="""
SELECT p.p_partkey,
       p.p_brand,
       CAST(levenshtein(p.p_brand, 'Brand#33') AS INTEGER) AS dist,
       CASE WHEN levenshtein(p.p_brand, 'Brand#33') <= 1 THEN 1 ELSE 0 END
         AS near_match
FROM part p
WHERE p.p_partkey <= 2000
""",
    tags=("relational", "scalar"),
)
def b14c_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance (B14 string-scalar breadth): the fuzzy
    string matcher behind typo-tolerant joins and entity resolution.
    JVM expression, whole-stage codegen — at 100 TB a fuzzy probe runs
    as a plain projected scan (blocking/candidate generation is the
    dedup family's job, e.g. d05/d06)."""
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 2000)
    dist = F.levenshtein(F.col("p_brand"), F.lit("Brand#33"))
    return p.select(
        "p_partkey",
        "p_brand",
        dist.cast("int").alias("dist"),
        F.when(dist <= 1, 1).otherwise(0).alias("near_match"),
    )


@query(
    "b30_window_distribution",
    oracle="""
SELECT c_custkey,
       c_mktsegment,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
""",
    tags=("relational", "window"),
)
def b30_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (B10/B11 breadth): ntile quartiles,
    percent_rank, cume_dist per market segment — the analytics used for
    cohort bucketing and percentile bands. One shuffle on the partition
    key; the deterministic (c_acctbal, c_custkey) order makes ntile's
    bucket boundaries engine-portable."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# --- Subquery decorrelation family (B31-B35) ----------------------------
#
# The SQL-subquery surface (EXISTS / NOT EXISTS, IN / NOT IN, correlated
# scalar subqueries, CTE + scalar aggregate) is its own operator class:
# Catalyst must DECORRELATE — rewrite the correlated form into
# joins/aggregates — before any physical planning. Expressed via
# spark.sql with DataFrame args so the actual subquery rewrite paths
# (RewritePredicateSubquery, RewriteCorrelatedScalarSubquery,
# null-aware anti join) are exercised, not hand-decorrelated DataFrame
# twins of b05b/b05c. At 100 TB each decorrelates to a shuffled-or-
# broadcast hash join, never a per-row re-scan: the plan-shape tests in
# tests/test_plans.py pin that.


@query(
    "b31_exists_subquery",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""",
    tags=("relational", "subquery"),
)
def b31_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape adapted to this schema (no commit/receipt dates):
    priority counts of orders with at least one line shipped >60 days
    after the order date. The EXISTS predicate is correlated on BOTH an
    equality (orderkey) and a non-equi condition (shipdate vs. the
    outer row's orderdate) — Catalyst decorrelates it to a LEFT SEMI
    hash join on l_orderkey with the date comparison as a join-side
    filter. One shuffle on the key; the orders date filter pushes into
    the parquet scan before the join."""
    return spark.sql(
        """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM {orders} o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM {lineitem} l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL '60' DAY)
GROUP BY o_orderpriority
""",
        orders=load(spark, sf_dir, "orders"),
        lineitem=load(spark, sf_dir, "lineitem"),
    )


@query(
    "b32_scalar_correlated",
    oracle="""
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
       AS avg_yearly
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#4'
  AND l.l_quantity < (
    SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                  / COUNT(*))
    FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
""",
    tags=("relational", "subquery"),
)
def b32_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue that would be lost by only filling
    small-quantity orders — each lineitem compared against 20% of ITS
    part's average quantity (the correlated-scalar-subquery semantics
    in the oracle).

    Scale shape (VERDICT r5 #4): Catalyst decorrelates the subquery to
    a per-partkey aggregate over ALL of lineitem and only then joins
    the Brand#4 filter — at 100x that aggregates ~25x more fact rows
    than survive. The classic Q17 hand-optimization applied here
    instead: broadcast-join lineitem to the filtered partkeys FIRST
    (part.p_partkey is unique, so the inner broadcast join is an exact
    semi-join that keeps lineitem's multiplicity), then compute the
    per-partkey threshold and the probe from that same reduced
    intermediate — both the aggregate and the probe read only Brand#4
    rows, and the correlated average is unchanged because the semi-join
    filters on the correlation key itself. The threshold side after
    the aggregate is |Brand#4 parts| rows -> broadcast back.
    Exactness matches the oracle: threshold is decimal-sum/count cast
    to double; the outer sum goes through DECIMAL(18,2)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_parts = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#4")
        .select("p_partkey")
    )
    li_b4 = li.join(
        F.broadcast(brand_parts),
        li["l_partkey"] == brand_parts["p_partkey"],
    ).drop("p_partkey")
    thresholds = li_b4.groupBy("l_partkey").agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double")
                / F.count("*")
            )
        ).alias("qty_thr")
    )
    return (
        li_b4.join(F.broadcast(thresholds), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thr"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "double"
                )
                / 7.0
            ).alias("avg_yearly")
        )
    )


@query(
    "b33_in_subquery_having",
    oracle="""
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l2.l_orderkey FROM lineitem l2
  GROUP BY l2.l_orderkey
  HAVING SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) > 240)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
""",
    tags=("relational", "subquery"),
)
def b33_in_subquery_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds a threshold, found by an IN subquery over a grouped HAVING.
    The IN becomes a LEFT SEMI join against the aggregated subquery —
    at scale the subquery side is the small (post-aggregation,
    post-HAVING) side, so AQE can broadcast it into the orders scan.
    Quantity sums are exact DECIMAL so the HAVING threshold cannot
    flip on summation order."""
    return spark.sql(
        """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM {customer} c
JOIN {orders} o ON c.c_custkey = o.o_custkey
JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l2.l_orderkey FROM {lineitem} l2
  GROUP BY l2.l_orderkey
  HAVING SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) > 240)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
""",
        customer=load(spark, sf_dir, "customer"),
        orders=load(spark, sf_dir, "orders"),
        lineitem=load(spark, sf_dir, "lineitem"),
    )


@query(
    "b34_not_in_null_aware",
    oracle="""
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE c.c_custkey NOT IN (
  SELECT o.o_custkey FROM orders o
  WHERE o.o_orderstatus = 'F' AND o.o_totalprice > 150000)
""",
    tags=("relational", "subquery"),
)
def b34_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with three-valued-logic semantics: customers with no
    high-value finished order. NOT IN is NOT an anti join — one NULL in
    the subquery result empties the output — so Spark plans a
    null-aware anti join (broadcast; single-column NAAJ is the
    supported fast path). Distinct from b05c's NOT EXISTS/anti-join
    exactly because of that null semantics difference; at scale the
    subquery side is aggregated small and broadcast."""
    return spark.sql(
        """
SELECT c.c_custkey, c.c_name
FROM {customer} c
WHERE c.c_custkey NOT IN (
  SELECT o.o_custkey FROM {orders} o
  WHERE o.o_orderstatus = 'F' AND o.o_totalprice > 150000)
""",
        customer=load(spark, sf_dir, "customer"),
        orders=load(spark, sf_dir, "orders"),
    )


@query(
    "b35_top_supplier_cte",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(1 - l_discount AS DECIMAL(12,2))) AS total_revenue_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name,
       CAST(r.total_revenue_dec AS DOUBLE) AS total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue_dec = (SELECT MAX(total_revenue_dec) FROM revenue)
""",
    tags=("relational", "subquery"),
)
def b35_top_supplier_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): a CTE computed once, consumed both as
    the join input and inside an uncorrelated scalar subquery (MAX over
    the CTE). The scalar subquery is one extra reduce producing a
    1-row broadcast; revenue is an exact decimal sum so the MAX
    equality cannot be lost to double rounding (the classic Q15
    pitfall). The winner join side is tiny and broadcasts."""
    return spark.sql(
        """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(1 - l_discount AS DECIMAL(12,2))) AS total_revenue_dec
  FROM {lineitem}
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name,
       CAST(r.total_revenue_dec AS DOUBLE) AS total_revenue
FROM {supplier} s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue_dec = (SELECT MAX(total_revenue_dec) FROM revenue)
""",
        lineitem=load(spark, sf_dir, "lineitem"),
        supplier=load(spark, sf_dir, "supplier"),
    )


@query(
    "b36_unpivot_measures",
    oracle="""
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-06-01'
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-06-01'
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-06-01'
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-06-01'
""",
    tags=("relational", "reshape"),
)
def b36_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (wide→long reshape, the inverse of k35's pivot):
    four lineitem measures unpivoted to (key, measure, value) rows.
    Spark's native ``unpivot`` (Catalyst Expand) emits all measure rows
    in ONE pass over the scan — no self-union re-reading the table per
    measure (the oracle's UNION ALL spelling reads it 4×; at 100 TB
    Expand reads it once). Shipdate filter + 6-column pruning still
    reach the scan below the Expand."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= "1998-06-01"
    )
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@query(
    "b37_salted_skew_join",
    oracle="""
WITH dim AS (
  SELECT DISTINCT event_type, upper(event_type) AS type_label FROM events)
SELECT e.event_type, d.type_label,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type, d.type_label
""",
    tags=("relational", "join", "skew"),
)
def b37_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew JOIN (operators/skew.py:65, b26's join-side twin):
    events ⋈ a per-type dimension on the maximally skewed event_type
    key (~5 distinct values → 5 hot reducers in a plain shuffle join).
    The skewed side is salted over 16 buckets and the dim replicated
    16×, joined on (key, salt) — each hot key spreads over 16 reducers.
    ``shuffle_hash`` hint keeps the demo on the shuffle path (the real
    target is a dim too big to broadcast, where salting is the only
    lever AQE's sort-merge-only skew splitting doesn't cover). The
    oracle is the UNSALTED join — salting must rewrite the shuffle,
    never the answer."""
    from ..operators.skew import salted_join

    ev = load(spark, sf_dir, "events")
    dim = (
        ev.select("event_type").distinct()
        .withColumn("type_label", F.upper(F.col("event_type")))
        .hint("shuffle_hash")
    )
    joined = salted_join(ev, dim, on="event_type", buckets=16)
    return joined.groupBy("event_type", "type_label").agg(
        F.count("*").alias("n"), dsum("value", "total_value")
    )


@query(
    "b38_range_interval_window",
    oracle="""
SELECT event_id, event_type,
       CAST(COUNT(*) OVER (
         PARTITION BY event_type ORDER BY epoch_us(ts)
         RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_prev_10m
FROM events
""",
    tags=("relational", "window"),
)
def b38_range_interval_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame (b11's rows-frame sibling): per
    event, how many same-type events occurred in the trailing 10
    minutes — the frame is bounded by VALUE distance on the ordering
    key (exact epoch MICROSECONDS on both engines: second-granularity
    casts disagree — DuckDB rounds, Spark truncates), not row count,
    so co-timestamped events share one frame. One shuffle on the partition key; the frame scan is a
    per-partition sliding pointer, O(n) per partition at any scale."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-600_000_000, 0)
    )
    return ev.select(
        "event_id", "event_type",
        F.count("*").over(w).alias("n_prev_10m"),
    )


@query(
    "b39_lateral_topn_per_group",
    oracle="""
SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
""",
    tags=("relational", "subquery", "lateral"),
)
def b39_lateral_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT (top-2 orders
    per customer) — the SQL spelling of per-group top-k. Catalyst
    decorrelates it into a WindowGroupLimit (partial per-partition
    top-k heaps, then final — rows beyond rank 2 never reach the
    shuffle) joined back to customer by hash; the naive reading (run
    the subquery once per customer row) appears nowhere in the plan.
    Completes the subquery family (b31-b35) with the lateral-join
    decorrelation path; tie on price breaks on o_orderkey so the LIMIT
    edge is deterministic across engines."""
    return spark.sql(
        """
SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
FROM {customer} c,
LATERAL (SELECT o_orderkey, o_totalprice FROM {orders} o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
""",
        customer=load(spark, sf_dir, "customer"),
        orders=load(spark, sf_dir, "orders"),
    )


@query(
    "b40_grouping_sets",
    oracle="""
SELECT n_name, o_orderpriority,
       CAST(GROUPING(n_name) AS INTEGER) AS g_nation,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name, o_orderpriority), (o_orderpriority), ())
""",
    tags=("relational", "agg"),
)
def b40_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (B9's general form — rollup/cube are its
    prefix/powerset specializations): (nation, priority), (priority),
    and grand total in ONE Expand+aggregate pass over the join — not
    three scans unioned. GROUPING() flags disambiguate a NULL group
    value from a rollup row, which is what makes the result joinable /
    hashable deterministically. Both dims broadcast."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    joined = o.join(broadcast(c), o.o_custkey == c.c_custkey).join(
        broadcast(n), c.c_nationkey == n.n_nationkey
    )
    return spark.sql(
        """
SELECT n_name, o_orderpriority,
       CAST(GROUPING(n_name) AS INT) AS g_nation,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM {j}
GROUP BY GROUPING SETS ((n_name, o_orderpriority), (o_orderpriority), ())
""",
        j=joined,
    )


@query(
    "b41_hll_sketch_rollup",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS within_bound
FROM events GROUP BY event_type
""",
    tags=("relational", "sketch", "agg"),
)
def b41_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches at rest (Datasketches ``hll_sketch_agg``,
    b08x's industrial-strength sibling): distinct users per event type
    computed as a TWO-LEVEL rollup — per-(type, day) sketches built in
    one pass (the binary column a 100 TB pipeline would PERSIST
    alongside each daily partition), then ``hll_union_agg`` merges
    arbitrary slices without re-touching raw data. That
    re-aggregability is what COUNT(DISTINCT) can never give a rollup
    table. Bounded-comparison gate (b08x pattern): the sketch estimate
    must land within 5% of the exact count per group (HLL lgK=12 ⇒
    ~1.6% typical), emitted as an all-TRUE boolean against the oracle;
    the exact recount exists only to verify the sketch."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sketch"))
    merged = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias("est")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("est") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("within_bound"),
    )


@query(
    "b42_variant_shred",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_high,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS min_k
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
GROUP BY event_type
""",
    tags=("relational", "json", "variant"),
)
def b42_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics via the VARIANT type (Spark 4 /
    Parquet variant shredding — b15a's get_json_object successor): the
    JSON column is parsed ONCE into a binary variant value, and every
    downstream ``variant_get`` is a typed path lookup into that
    encoding, not a re-parse of the string (get_json_object re-parses
    per call — the b15a/a10 json_tuple lesson, solved at the type
    system level). At rest, variant columns shred into parquet
    subcolumns, restoring pushdown/pruning over semi-structured data."""
    ev = load(spark, sf_dir, "events")
    shredded = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    ).select(
        "event_type",
        F.expr("variant_get(v, '$.k', 'bigint')").alias("k"),
    )
    return (
        shredded.filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_high"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
        )
    )


@query(
    "b44_zorder_skipping",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE user_id BETWEEN 3 AND 14
  AND ts < TIMESTAMP '2024-01-04 00:00:00'
""",
    tags=("relational", "layout"),
)
def b44_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered layout + multi-dimensional scan pruning
    (operators/layout.py — the engine-native form of Delta's OPTIMIZE
    ZORDER BY): rewrite `events` range-partitioned and sorted on the
    z-curve over (user_id, ts), then answer a 2-dimensional range query
    from the clustered copy. Because the layout pass only REORDERS
    rows, the result is byte-identical to querying the raw table — the
    oracle reads the raw parquet; the entry reads the z-ordered copy,
    proving the rewrite is lossless while the clustered files carry
    tight min/max stats on BOTH predicate columns (skipping itself is
    pinned in tests/test_plans.py::test_zorder_layout_clusters_files
    via per-file parquet stats + PushedFilters)."""
    ev = load(spark, sf_dir, "events")
    out = derived(
        "b44_zorder",
        f"{sf_dir}/events.parquet",
        lambda d: L.zorder_write(ev, d, ["user_id", "ts"], num_files=8),
    )
    z = spark.read.parquet(out)
    return z.filter(
        F.col("user_id").between(3, 14)
        & (F.col("ts") < F.lit("2024-01-04 00:00:00").cast("timestamp"))
    ).agg(
        F.count("*").alias("n_events"),
        F.sum("event_id").alias("sum_ids"),
        F.countDistinct("user_id").alias("n_users"),
    )


# -- b45: mergeable bottom-sketch (k-mins) distinct counting with set algebra

#: k-mins sketch width: k independent pairwise-affine hash minima per
#: group. Relative stderr ~ 1/sqrt(k) ≈ 6%; the gate bound below is
#: ~3 sigma plus small-n absolute slack. Deterministic (fixed perms).
_B45_K = 256
_B45_P = 1_000_000_007


def _b45_perms() -> list[tuple[int, int]]:
    import random

    rng = random.Random(4242)
    return [
        (rng.randrange(1, _B45_P), rng.randrange(_B45_P)) for _ in range(_B45_K)
    ]


@query(
    "b45_kmins_distinct_sketch",
    oracle="""
SELECT event_type AS label,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS within_bound
FROM events GROUP BY event_type
UNION ALL
SELECT 'union:click+view',
       (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
        WHERE event_type IN ('click', 'view')), TRUE
UNION ALL
SELECT 'intersect:click+view',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM
          (SELECT DISTINCT user_id FROM events WHERE event_type = 'click') a
          JOIN
          (SELECT DISTINCT user_id FROM events WHERE event_type = 'view') b
          USING (user_id)), TRUE
""",
    tags=("relational", "sketch", "agg"),
)
def b45_kmins_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable k-mins bottom sketch (Flajolet-Martin '85 / Cohen '97
    — the estimator family behind theta sketches) with the set algebra
    HLL cannot do: per-group sketches SUPPORT UNION (elementwise min —
    what b41's HLL union does too) AND INTERSECTION via
    inclusion-exclusion on the union estimate. k=256 affine-permuted
    minima of one xxhash64 are plain MIN aggregates: map-side
    combinable, one tiny shuffle of 5 groups x 256 doubles, mergeable
    at rest exactly like b41's sketch column.

    Estimator: n̂ = k / Σ_i m_i − 1 (each group min ~ Beta(1, n), so
    Σ minima ~ Gamma(k, 1/(n+1))); ∩̂(A,B) = n̂_A + n̂_B − n̂_{A∪B}.
    Bounded-comparison gate (b41 pattern): every estimate must land
    within 20% + 3 of the exact count (~3x the 6% stderr at k=256,
    plus absolute slack for the tiny-corpus case); the exact recount
    exists only to verify the sketch."""
    ev = load(spark, sf_dir, "events")
    perms = _b45_perms()
    h1 = F.pmod(F.xxhash64("user_id"), F.lit(_B45_P))
    # Dedup to (event_type, user_id) FIRST: every downstream quantity —
    # the 256 affine MINIMA (min over duplicates == min over the set),
    # the exact per-type counts, the exact union count, and the exact
    # intersection — is a function of the distinct pairs, and the 256
    # pmod expressions per row are the entry's hot loop, so evaluating
    # them on ~20x fewer rows is the dominant win (7.2 s -> ~3 s at
    # sf0.1). One shuffle builds the set; everything reuses it.
    du = ev.select("event_type", "user_id").distinct().persist()
    # LONG-FORM minima, not 256 aggregate expressions: the wide
    # 256-MIN agg was this entry's real cost — not data volume but
    # CATALYST, ~3 s planning + a multi-thousand-line codegen unit for
    # 256 aggregates (profiled: the same agg over only 7 500 distinct
    # rows still took 8.7 s). Broadcasting the 256 (i, a, b) perm rows
    # against the distinct pairs gives |pairs| x 256 simple rows, ONE
    # scalar MIN per (event_type, i), and a trivial plan. min(x)/P ==
    # min(x/P) (monotone), so values are bit-identical to the wide
    # form; array_sort on i restores the fixed fold order
    # collect_list does not guarantee. (7.2 s -> ~1.5 s at sf0.1.)
    perms_df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(perms)],
        "i int, a long, b long",
    )
    minlong = (
        du.crossJoin(broadcast(perms_df))
        .groupBy("event_type", "i")
        .agg(
            F.min(
                F.pmod(h1 * F.col("a") + F.col("b"), F.lit(_B45_P))
            ).alias("mlong")
        )
    )
    marr = (
        minlong.select(
            "event_type",
            "i",
            (F.col("mlong").cast("double") / F.lit(float(_B45_P))).alias("m"),
        )
        .groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))),
                lambda st: st["m"],
            ).alias("ms")
        )
        .persist()
    )
    _fsum = lambda col: F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x)  # noqa: E731
    est = marr.select(
        "event_type",
        (F.lit(float(_B45_K)) / _fsum(F.col("ms")) - 1).alias("est"),
    )
    exact = du.groupBy("event_type").agg(F.count("*").alias("n_exact"))
    ok = (
        exact.join(est, "event_type")
        .select(
            F.col("event_type").alias("label"),
            "n_exact",
            (
                F.abs(F.col("est") - F.col("n_exact"))
                <= 0.2 * F.col("n_exact") + 3
            ).alias("within_bound"),
        )
    )
    # union + intersection of two sketches (pure sketch merge — the raw
    # rows are NOT re-touched; only the 2 x 256 minima are combined)
    a = marr.filter(F.col("event_type") == "click").select(
        F.col("ms").alias("as_")
    )
    b = marr.filter(F.col("event_type") == "view").select(
        F.col("ms").alias("bs")
    )
    ab = a.crossJoin(b)
    usum = _fsum(F.zip_with("as_", "bs", lambda x, y: F.least(x, y)))
    est_u = ab.select((F.lit(float(_B45_K)) / usum - 1).alias("est_u"))
    cv = du.filter(F.col("event_type").isin("click", "view"))
    exact_u = cv.select("user_id").distinct().agg(
        F.count("*").alias("n_u")
    )
    exact_i = (
        cv.groupBy("user_id")
        .agg(F.count("*").alias("nt"))
        .filter(F.col("nt") == 2)
        .agg(F.count("*").alias("n_i"))
    )
    ea = est.filter(F.col("event_type") == "click").select(
        F.col("est").alias("est_a")
    )
    eb = est.filter(F.col("event_type") == "view").select(
        F.col("est").alias("est_b")
    )
    merged = (
        exact_u.crossJoin(exact_i)
        .crossJoin(est_u)
        .crossJoin(ea)
        .crossJoin(eb)
    )
    union_row = merged.select(
        F.lit("union:click+view").alias("label"),
        F.col("n_u").alias("n_exact"),
        (F.abs(F.col("est_u") - F.col("n_u")) <= 0.2 * F.col("n_u") + 3).alias(
            "within_bound"
        ),
    )
    inter_row = merged.select(
        F.lit("intersect:click+view").alias("label"),
        F.col("n_i").alias("n_exact"),
        (
            F.abs(F.col("est_a") + F.col("est_b") - F.col("est_u") - F.col("n_i"))
            <= 0.25 * F.col("n_u") + 3
        ).alias("within_bound"),
    )
    return ok.unionByName(union_row).unionByName(inter_row)


@query(
    "b46_quantile_sketch_rollup",
    oracle="""
SELECT 0.5 AS q, CAST(COUNT(*) AS BIGINT) AS n_rows, TRUE AS within_bound
FROM lineitem
UNION ALL
SELECT 0.9, CAST(COUNT(*) AS BIGINT), TRUE FROM lineitem
UNION ALL
SELECT 0.99, CAST(COUNT(*) AS BIGINT), TRUE FROM lineitem
""",
    tags=("relational", "sketch", "agg"),
)
def b46_quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile summaries at rest (b41's HLL rollup, for
    percentiles): per ship-month, a 128-point equi-spaced quantile
    summary of l_extendedprice plus its row count — the compact column
    a 100 TB pipeline PERSISTS per partition — then any slice's
    percentile is answered by merging summaries (weighted cumulative
    rank over summary points) without re-touching raw rows. Per-group
    summaries come from one ``percentile_approx`` pass (GK sketch,
    map-side combinable); the merge handles ~months x 128 rows.

    Bounded-comparison gate (b41 pattern): for q in {0.5, 0.9, 0.99}
    the merged estimate's EXACT rank (one counting scan) must be
    within 2.5% of q*N — the merge's theoretical rank error is
    ~1/128 per group, so 2.5% is ~3x slack. All-TRUE oracle."""
    li = load(spark, sf_dir, "lineitem").select("l_shipdate", "l_extendedprice")
    qs128 = [i / 128.0 for i in range(1, 129)]
    summaries = li.groupBy(F.trunc("l_shipdate", "month").alias("mon")).agg(
        F.percentile_approx("l_extendedprice", qs128, 10000).alias("pts"),
        F.count("*").alias("cnt"),
    )
    pts = summaries.select(
        F.explode("pts").alias("v"), (F.col("cnt") / 128.0).alias("w")
    )
    wsorted = pts.withColumn(
        "cum_w",
        F.sum("w").over(
            Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    total = pts.agg(F.sum("w").alias("tot_w"), F.count("*").alias("npts"))
    targets = spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "q double")
    # N rides the summaries: sum(w) == sum(cnt) == COUNT(*) EXACTLY
    # (w = cnt/128.0 divides by a power of two — exact in binary FP —
    # and every partial sum is an integer multiple of 2^-7, exact up
    # to 2^53 units ≈ 7e13 rows), so the third full lineitem scan the
    # round-13 form paid just to run `li.count()` — plus its driver
    # action — is free (guide §1.2 fewer passes; round-14).
    ests = (
        wsorted.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(targets))
        .filter(F.col("cum_w") >= F.col("q") * F.col("tot_w"))
        .groupBy("q", "tot_w")
        .agg(F.min("v").alias("est"))
    )
    ranks = (
        li.crossJoin(F.broadcast(ests))
        .groupBy("q", "est", "tot_w")
        .agg(
            F.sum(
                F.when(F.col("l_extendedprice") <= F.col("est"), 1).otherwise(0)
            ).alias("rank")
        )
    )
    return ranks.select(
        "q",
        F.col("tot_w").cast("long").alias("n_rows"),
        (
            F.abs(F.col("rank") - F.col("q") * F.col("tot_w"))
            <= 0.025 * F.col("tot_w")
        ).alias("within_bound"),
    )


@query(
    "b47_bucketed_colocated_join",
    oracle=f"""
SELECT c_custkey,
       CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
       {SQL_DSUM.format(col="o_totalprice")} AS total_spent
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
HAVING COUNT(o_orderkey) >= 10
""",
    tags=("relational", "join", "layout"),
)
def b47_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join + aggregation (io.write_bucketed made a
    first-class queryable path): customer and orders are materialized
    hash-bucketed on the join key, so the join needs NO exchange on
    either side AND the following per-custkey aggregation reuses the
    same bucketing — the write-once/amortize-forever layout decision
    that dominates nightly 100 TB fact-dim workloads. The zero-Exchange
    plan shape is pinned in tests/test_plans.py; this entry verifies
    the VALUES through the full bucketed write→catalog→join→agg path
    against the plain-join oracle (bucketing must be invisible to
    results)."""
    import os as _os
    import tempfile as _tmp

    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    from ..io import write_bucketed

    # write once per session+SF (the bucket spec lives in the session
    # catalog); later invocations reuse the layout
    if not spark.catalog.tableExists(f"b47_cust_{tag}"):
        base = _tmp.mkdtemp(prefix=f"b47_{tag}_")
        write_bucketed(
            cust, f"b47_cust_{tag}", ["c_custkey"], 16,
            path=_os.path.join(base, "cust"),
        )
        write_bucketed(
            orders, f"b47_ord_{tag}", ["o_custkey"], 16,
            path=_os.path.join(base, "ord"),
        )
    c = spark.table(f"b47_cust_{tag}")
    o = spark.table(f"b47_ord_{tag}")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum("o_totalprice", "total_spent"),
        )
        .filter(F.col("n_orders") >= 10)
    )


@query(
    "b48_multiformat_scan",
    oracle="""
SELECT 'parquet' AS fmt, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
UNION ALL
SELECT 'csv', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM orders
UNION ALL
SELECT 'json', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM orders
""",
    tags=("relational", "io"),
)
def b48_multiformat_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format source parity (B1's format breadth): the same
    orders projection served from parquet, CSV, and JSON line files
    must aggregate identically — the engine-side guarantee that lets a
    pipeline ingest whatever the upstream emits. CSV/JSON copies are
    materialized once per session+SF (declared schemas on read — no
    inference scan, the 100 TB-safe form) and each format's plan is an
    independent codegen scan + one-shuffle agg."""
    proj = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    def build(d: str) -> None:
        proj.write.mode("overwrite").option("header", True).csv(f"{d}/csv")
        proj.write.mode("overwrite").json(f"{d}/json")

    base = derived("b48", f"{sf_dir}/orders.parquet", build)
    csv_p, json_p = f"{base}/csv", f"{base}/json"
    schema = "o_orderkey bigint, o_totalprice double"
    srcs = {
        "parquet": proj,
        "csv": spark.read.schema(schema).option("header", True).csv(csv_p),
        "json": spark.read.schema(schema).json(json_p),
    }
    out = None
    for fmt, df in srcs.items():
        agg = df.agg(
            F.count("*").alias("n_rows"),
            dsum("o_totalprice", "total"),
        ).select(F.lit(fmt).alias("fmt"), "n_rows", "total")
        out = agg if out is None else out.unionByName(agg)
    return out


@query(
    "b49_sessionize_events",
    oracle="""
WITH o AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
), f AS (
  SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                   OR tus - lag(tus) OVER w > 1800000000
            THEN 1 ELSE 0 END AS is_new
  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
), s AS (
  SELECT *, SUM(is_new) OVER (
    PARTITION BY user_id ORDER BY tus, event_id
    ROWS UNBOUNDED PRECEDING) AS sess
  FROM f
), g AS (
  SELECT user_id, sess, COUNT(*) AS n_ev, MAX(tus) - MIN(tus) AS dur_us
  FROM s GROUP BY 1, 2
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_ev) AS BIGINT) AS n_events,
       CAST(MAX(n_ev) AS BIGINT) AS longest_session_events,
       CAST(SUM(dur_us) AS DOUBLE) / 1e6 AS total_active_sec
FROM g GROUP BY user_id
""",
    tags=("relational", "analytics", "sessionize"),
)
def b49_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (the batch twin of s25's streaming session
    window): a session is a run of events per user with no gap longer
    than 30 minutes; emit per-user session statistics.

    Plan shape: ONE shuffle on user_id serves all three steps — the
    lag() gap flag, the running-sum session id, and the per-(user,
    session) aggregate all share the same partitioning, and the final
    per-user rollup is partial-agg'd map-side. Gap math is exact
    integer microseconds (unix_micros), so the oracle comparison is
    engine-independent. At 100 TB, sessionization is embarrassingly
    parallel in user_id; skewed power users are bounded by the session
    cap inherent in the time range, not by corpus size."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("tus")
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gap = F.col("tus") - F.lag("tus").over(w)
    is_new = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = (
        ev.withColumn("is_new", is_new)
        .withColumn("sess", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess")
        .agg(
            F.count("*").alias("n_ev"),
            (F.max("tus") - F.min("tus")).alias("dur_us"),
        )
    )
    return sess.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_ev").alias("n_events"),
        F.max("n_ev").alias("longest_session_events"),
        (F.sum("dur_us").cast("double") / F.lit(1e6)).alias("total_active_sec"),
    )


@query(
    "b50_cohort_retention",
    oracle="""
WITH act AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
), coh AS (
  SELECT *, MIN(week) OVER (PARTITION BY user_id) AS cohort_week FROM act
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, week) / 7 AS BIGINT) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM coh GROUP BY 1, 2
""",
    tags=("relational", "analytics", "retention"),
)
def b50_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: bucket each user into the Monday-start
    week of their first event (their cohort), then count how many of
    each cohort's users are active 0, 1, 2, ... weeks later — the
    standard retention-triangle query.

    Plan shape: distinct (user, week) pairs first (the only pass over
    the raw fact table — partial distinct map-side), then a window MIN
    per user on the already-tiny distinct set, then the final
    (cohort, offset) count. No join: the cohort assignment rides the
    same user_id shuffle the distinct produced. date_trunc('week') is
    Monday-start in both Spark and DuckDB; offsets are exact integer
    day differences / 7."""
    ev = load(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    coh = act.withColumn(
        "cohort_week", F.min("week").over(Window.partitionBy("user_id"))
    )
    return coh.groupBy(
        "cohort_week",
        (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
        .cast("long")
        .alias("week_offset"),
    ).agg(F.count("*").alias("n_users"))


@query(
    "b51_gap_fill_locf",
    oracle="""
WITH daily AS (
  SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS dy,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_rev
  FROM orders
  WHERE year(o_orderdate) = 1995 AND o_totalprice > 400000
  GROUP BY 1, 2
), span AS (
  SELECT pri, MIN(dy) AS d0, MAX(dy) AS d1 FROM daily GROUP BY 1
), cal AS (
  SELECT pri, UNNEST(generate_series(d0::TIMESTAMP, d1::TIMESTAMP,
                                     INTERVAL 1 DAY))::DATE AS dy
  FROM span
)
SELECT c.pri, c.dy,
       LAST_VALUE(d.day_rev IGNORE NULLS) OVER (
         PARTITION BY c.pri ORDER BY c.dy
         ROWS UNBOUNDED PRECEDING) AS revenue_locf,
       d.day_rev IS NULL AS is_gap
FROM cal c LEFT JOIN daily d ON c.pri = d.pri AND c.dy = d.dy
""",
    tags=("relational", "timeseries", "gapfill"),
)
def b51_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with last-observation-carried-forward:
    the sparse daily revenue series of high-value 1995 orders, densified
    to one row per (priority, calendar day) with missing days filled by
    the most recent observed value and flagged as gaps.

    Plan shape: the dense calendar is generated PER KEY with
    sequence(min_day, max_day) exploded from the per-key span aggregate
    — no driver-side collect, no literal date range; the grid is
    time-bounded (days in span), not data-bound, so it stays tiny at
    100 TB. The LOCF is one ordered window per key (last(ignorenulls))
    riding the same partitioning as the left join. Daily revenue sums
    in DECIMAL (exact, order-independent) before the double cast, so
    the carried values are bit-identical across engines."""
    o = load(spark, sf_dir, "orders")
    daily = (
        o.filter(
            (F.year("o_orderdate") == 1995) & (F.col("o_totalprice") > 400000)
        )
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderdate").cast("date").alias("dy"),
        )
        .agg(dsum("o_totalprice", "day_rev"))
    )
    span = daily.groupBy("pri").agg(
        F.min("dy").alias("d0"), F.max("dy").alias("d1")
    )
    cal = span.select(
        "pri", F.explode(F.sequence("d0", "d1")).alias("dy")
    )
    w = (
        Window.partitionBy("pri")
        .orderBy("dy")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return cal.join(daily, ["pri", "dy"], "left").select(
        "pri",
        # emitted as timestamp: pandas renders a DATE from either engine
        # as midnight-timestamp, so both sides canonicalize identically
        F.col("dy").cast("timestamp").alias("dy"),
        F.last("day_rev", ignorenulls=True).over(w).alias("revenue_locf"),
        F.col("day_rev").isNull().alias("is_gap"),
    )


@query(
    "b52_pivot_status_matrix",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
FROM orders GROUP BY o_orderpriority
""",
    tags=("relational", "reshape", "pivot"),
)
def b52_pivot_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (long-to-wide, the inverse of b36's UNPIVOT): order counts
    as a priority x status matrix via DataFrame.pivot with an EXPLICIT
    value list — the scale-critical detail, since an implicit pivot
    first runs a distinct scan over the pivot column to discover values
    (an extra full pass at 100 TB) while the explicit list compiles
    straight to one partial-aggregated shuffle, exactly like a manual
    conditional aggregation."""
    o = load(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    )


@query(
    "b53_anomaly_zscore",
    oracle="""
WITH daily AS (
  SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS dy,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
  FROM orders GROUP BY 1, 2
), win AS (
  SELECT pri, dy, rev_dec,
         COUNT(*) OVER w AS n,
         SUM(rev_dec) OVER w AS s,
         SUM(rev_dec * rev_dec) OVER w AS sq
  FROM daily
  WINDOW w AS (PARTITION BY pri ORDER BY dy
               ROWS BETWEEN 30 PRECEDING AND 1 PRECEDING)
), stats AS (
  SELECT pri, dy, CAST(rev_dec AS DOUBLE) AS revenue, n,
         CAST(s AS DOUBLE) / n AS mean,
         CAST(sq AS DOUBLE) / n AS msq
  FROM win WHERE n >= 20
), z AS (
  SELECT pri, dy, revenue,
         (revenue - mean) / sqrt((msq - mean * mean) * n / (n - 1.0)) AS zscore
  FROM stats WHERE (msq - mean * mean) > 0
)
SELECT pri, dy::TIMESTAMP AS dy, revenue, zscore
FROM z WHERE abs(zscore) > 2.5
""",
    tags=("relational", "timeseries", "anomaly"),
)
def b53_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed anomaly detection: flag days whose revenue deviates
    more than 2.5 sigma from the trailing 30-observation mean of their
    priority class — the rolling z-score monitor every ingestion
    pipeline runs over its arrival metrics.

    Determinism design: the rolling mean/variance come from EXACT
    decimal window sums (SUM(dec), SUM(dec*dec) — associative, order
    independent), cast to double only at the final scalar math, which
    is the identical expression in both engines — so the z-scores are
    bit-identical, not merely close. Plan shape: one shuffle on the
    series key (pri); each series' rolling window is a linear
    single-pass frame. At scale, time-series anomaly detection is
    always per-key parallel — there is no global ordered window in the
    plan."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderdate").cast("date").alias("dy"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_dec"))
    w = (
        Window.partitionBy("pri")
        .orderBy("dy")
        .rowsBetween(-30, -1)
    )
    win = daily.select(
        "pri",
        "dy",
        "rev_dec",
        F.count("*").over(w).alias("n"),
        F.sum("rev_dec").over(w).alias("s"),
        F.sum(F.col("rev_dec") * F.col("rev_dec")).over(w).alias("sq"),
    ).filter(F.col("n") >= 20)
    stats = win.select(
        "pri",
        "dy",
        F.col("rev_dec").cast("double").alias("revenue"),
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mean"),
        (F.col("sq").cast("double") / F.col("n")).alias("msq"),
    )
    var = (
        (F.col("msq") - F.col("mean") * F.col("mean"))
        * F.col("n")
        / (F.col("n") - F.lit(1.0))
    )
    z = stats.filter(
        (F.col("msq") - F.col("mean") * F.col("mean")) > 0
    ).select(
        "pri",
        F.col("dy").cast("timestamp").alias("dy"),
        "revenue",
        ((F.col("revenue") - F.col("mean")) / F.sqrt(var)).alias("zscore"),
    )
    return z.filter(F.abs(F.col("zscore")) > 2.5)


@query(
    "b54_pandas_grouped_median",
    oracle="""
SELECT o_orderpriority,
       MEDIAN(o_totalprice) AS median_price,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderpriority
""",
    tags=("relational", "udf", "pandas"),
)
def b54_pandas_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregation through the Arrow GROUPED_AGG pandas-UDF
    surface (B20's aggregate form): exact per-group median via a
    Series->scalar UDF running one Arrow batch per group, mixed in the
    same .agg() with a built-in count — the escape hatch for aggregates
    Catalyst lacks, still vectorized end-to-end.

    np.median and DuckDB's MEDIAN both average the two middle order
    statistics with the identical (a+b)/2 double op, so the comparison
    is exact. At 100 TB the per-group partials ship as Arrow record
    batches; groups are independent, so the stage parallelizes on the
    group key (use the built-in percentile_approx — b27x — when groups
    are too large for exact order statistics)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _median(v: pd.Series) -> float:
        return float(v.median())

    # GROUPED_AGG UDFs cannot mix with built-in aggregates in one agg()
    @pandas_udf("long")
    def _n(v: pd.Series) -> int:
        return int(len(v))

    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        _median("o_totalprice").alias("median_price"),
        _n("o_totalprice").alias("n_orders"),
    )


@query(
    "b55_grouped_map_normalize",
    oracle="""
SELECT event_id, event_type, value,
       (value - AVG(value) OVER (PARTITION BY event_type))
         / STDDEV_SAMP(value) OVER (PARTITION BY event_type) AS norm
FROM events WHERE user_id < 30
""",
    tags=("relational", "udf", "pandas"),
)
def b55_grouped_map_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature standardization through the applyInPandas
    GROUPED_MAP surface (B20's map form, completing the trio with mm4's
    SCALAR and b54's GROUPED_AGG): each event_type group arrives as one
    pandas DataFrame, is z-normalized against its own mean/std, and
    returns row-per-row — the escape hatch for group-local transforms
    that need the whole group in hand (sklearn-style fit_transform,
    per-group model scoring).

    At 100 TB the caveat is the operator's contract: one group must fit
    in one executor's memory — right for bounded group cardinality
    (event types, languages, tenants), wrong for per-user groups; the
    window-function twin (the oracle's own shape) is the unbounded
    alternative. Arrow-batched both directions, no per-row Python."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)

    def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
        m = pdf["value"].mean()
        s = pdf["value"].std(ddof=1)
        out = pdf[["event_id", "event_type", "value"]].copy()
        out["norm"] = (pdf["value"] - m) / s
        return out

    return ev.select("event_id", "event_type", "value").groupBy(
        "event_type"
    ).applyInPandas(
        _norm, "event_id long, event_type string, value double, norm double"
    )

@query(
    "b56_recursive_cte_hierarchy",
    oracle="""
WITH RECURSIVE walk(custkey, root, depth) AS (
  SELECT c_custkey, c_custkey, 0
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, w.root, w.depth + 1
  FROM customer c
  JOIN walk w
    ON CAST(FLOOR(c.c_custkey / 10.0) AS BIGINT) = w.custkey
  WHERE c.c_custkey >= 10
)
SELECT depth,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(root) AS BIGINT) AS sum_roots,
       CAST(MIN(custkey) AS BIGINT) AS min_key,
       CAST(MAX(custkey) AS BIGINT) AS max_key
FROM walk GROUP BY depth ORDER BY depth
""",
    tags=("relational", "recursive", "sql"),
)
def b56_recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (``WITH RECURSIVE``, Spark 4's iterative-union
    operator): walk a synthetic decimal-digit hierarchy over customer
    keys (parent(k) = floor(k/10); roots are the single-digit keys, and
    the recursive step excludes them since key 0 is its own parent) and
    report per-depth node counts and root attributions — the
    org-chart / bill-of-materials traversal shape SQL engines express
    with recursion instead of client-side loops.

    Execution model: Spark evaluates each recursion level as one join
    of the previous frontier against the child table — at scale the
    frontier is a shuffled hash join per level and the number of levels
    is the hierarchy depth (log10 of the key space here), so the work
    is levels x one-join, never a driver loop. The integer parentage
    uses FLOOR(k/10.0), exact in doubles far beyond any key range and
    identical in DuckDB (whose `/` is float division)."""
    c = load(spark, sf_dir, "customer")
    c.select("c_custkey").createOrReplaceTempView("b56_customer")
    return spark.sql(
        """
WITH RECURSIVE walk(custkey, root, depth) AS (
  SELECT c_custkey, c_custkey, 0
  FROM b56_customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, w.root, w.depth + 1
  FROM b56_customer c
  JOIN walk w
    ON CAST(FLOOR(c.c_custkey / 10.0) AS BIGINT) = w.custkey
  WHERE c.c_custkey >= 10
)
SELECT depth,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(root) AS BIGINT) AS sum_roots,
       CAST(MIN(custkey) AS BIGINT) AS min_key,
       CAST(MAX(custkey) AS BIGINT) AS max_key
FROM walk GROUP BY depth ORDER BY depth
"""
    )


@query(
    "b57_equiwidth_histogram",
    oracle="""
WITH b AS (
  SELECT LEAST(CAST(FLOOR(o_totalprice / 30000.0) AS BIGINT), 19) AS bucket,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price_dec
  FROM orders
)
SELECT bucket,
       CAST(bucket * 30000.0 AS DOUBLE) AS lo,
       CAST(CASE WHEN bucket = 19 THEN 'Infinity' ELSE (bucket + 1) * 30000.0 END
            AS DOUBLE) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(price_dec) AS DOUBLE) AS total_price
FROM b GROUP BY bucket ORDER BY bucket
""",
    tags=("relational", "profiling"),
)
def b57_equiwidth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (data profiling): bucket order totals into
    20 fixed 30k-wide bins with an overflow top bin — the one-pass
    distribution profile every ingestion/quality dashboard computes
    before choosing filters or partition boundaries.

    The bucket id is pure arithmetic (FLOOR of a double division —
    identical in both engines; no width_bucket dialect dependence), so
    the whole histogram is one map-side-combined hash aggregate over a
    single scan: 20 groups regardless of input size, which makes the
    shuffle O(partitions x 20 rows) — the cheapest possible reduce at
    100 TB. Money sums stay DECIMAL until the final cast."""
    o = load(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / F.lit(30000.0)).cast("bigint"),
        F.lit(19).cast("bigint"),
    )
    b = o.select(
        bucket.alias("bucket"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price_dec"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_dec").cast("double").alias("total_price"),
        )
        .select(
            "bucket",
            (F.col("bucket") * F.lit(30000.0)).cast("double").alias("lo"),
            F.when(F.col("bucket") == 19, F.lit(float("inf")))
            .otherwise((F.col("bucket") + 1) * F.lit(30000.0))
            .cast("double")
            .alias("hi"),
            "n_orders",
            "total_price",
        )
        .orderBy("bucket")
    )


@query(
    "b58_ewma_smoothing",
    oracle="""
WITH daily AS (
  SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS dy,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1, 2
), trail AS (
  SELECT pri, dy, revenue,
         list(revenue) OVER (PARTITION BY pri ORDER BY dy
                             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS lst
  FROM daily
)
SELECT pri, dy::TIMESTAMP AS dy, revenue,
       list_reduce(lst, (acc, x) -> 0.7 * acc + 0.3 * x) AS ewma
FROM trail ORDER BY pri, dy
""",
    tags=("relational", "timeseries"),
)
def b58_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (the smoothing twin of
    b53's rolling z-score): per priority class, smooth daily revenue
    with the classic recursion s_t = 0.7*s_{t-1} + 0.3*x_t seeded at
    the oldest observation of a trailing 10-day window.

    EWMA is inherently sequential, so it is expressed as a fold over
    the trailing window's value list — ``aggregate`` seeded with the
    first element in Spark, ``list_reduce`` (which seeds with the first
    element by definition) in DuckDB: the identical double operations
    in the identical order make the smoothed series bit-exact across
    engines, no rounding tolerance needed. Scale shape: one shuffle on
    the series key; the fold is O(window) per row inside codegen, and
    the bounded 10-element frame keeps the collect_list state constant
    — the pattern extends to any bounded-window recursive smoother
    (EWMA variance, double smoothing) without a Python UDF."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderdate").cast("date").alias("dy"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    w = Window.partitionBy("pri").orderBy("dy").rowsBetween(-9, 0)
    trail = daily.select(
        "pri", "dy", "revenue", F.collect_list("revenue").over(w).alias("lst")
    )
    ewma = F.expr(
        "aggregate(slice(lst, 2, size(lst) - 1), "
        "element_at(lst, 1), (acc, x) -> 0.7D * acc + 0.3D * x)"
    )
    return trail.select(
        "pri",
        F.col("dy").cast("timestamp").alias("dy"),
        "revenue",
        ewma.alias("ewma"),
    ).orderBy("pri", "dy")


@query(
    "b59_mad_robust_outliers",
    oracle="""
WITH q AS (
  SELECT event_type, CAST(FLOOR(value * 1000000) AS BIGINT) AS vq
  FROM events
), m AS (
  SELECT event_type, MEDIAN(vq) AS med FROM q GROUP BY event_type
), d AS (
  SELECT q.event_type, vq, ABS(vq - med) AS dev FROM q JOIN m USING (event_type)
), s AS (
  SELECT d.event_type, MEDIAN(dev) AS mad FROM d GROUP BY d.event_type
)
SELECT d.event_type,
       CAST(MAX(m.med) / 1000000.0 AS DOUBLE) AS median_value,
       CAST(MAX(s.mad) / 1000000.0 AS DOUBLE) AS mad_value,
       CAST(SUM(CASE WHEN dev > 3 * 1.4826 * s.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       CAST(COUNT(*) AS BIGINT) AS n
FROM d JOIN m USING (event_type) JOIN s USING (event_type)
GROUP BY d.event_type
""",
    tags=("relational", "robust", "anomaly"),
)
def b59_mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    heavy-tail-safe twin of b53's mean/sigma z-score (one wild value
    shifts a mean, not a median): per event type, median, MAD, and the
    count of points beyond 3 x 1.4826 x MAD (the consistency constant
    that makes MAD estimate sigma under normality).

    Exactness design: values are floor-quantized to integer micros
    FIRST, so both engines take exact order statistics over integers —
    and the even-count midpoint (a+b)/2 vs a+0.5*(b-a) interpolation
    forms are then bit-identical (integer-valued doubles, exact
    subexpressions), closing the cross-engine ulp gap raw-double
    percentiles have. Two grouped exact percentiles + one broadcast
    join back; group count is event-type cardinality (tiny), and the
    100 TB swap-in is the GK sketch (b27x) when groups outgrow exact
    order statistics."""
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.floor(F.col("value") * 1000000).cast("bigint").alias("vq"),
    )
    m = q.groupBy("event_type").agg(
        F.expr("percentile(vq, 0.5D)").alias("med")
    )
    d = q.join(broadcast(m), "event_type").withColumn(
        "dev", F.abs(F.col("vq") - F.col("med"))
    )
    s = d.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5D)").alias("mad")
    )
    j = d.join(broadcast(s), "event_type")
    return j.groupBy("event_type").agg(
        (F.max("med") / F.lit(1000000.0)).cast("double").alias("median_value"),
        (F.max("mad") / F.lit(1000000.0)).cast("double").alias("mad_value"),
        F.sum(
            F.when(
                F.col("dev") > F.lit(3) * F.lit(1.4826) * F.col("mad"), 1
            ).otherwise(0)
        ).alias("n_outliers"),
        F.count("*").alias("n"),
    )


@query(
    "b60_referential_audit",
    oracle="""
SELECT 'lineitem->orders' AS relation,
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_child,
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
            AS BIGINT) AS n_orphan
UNION ALL
SELECT 'orders->customer',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'lineitem->part',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'lineitem->supplier',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s
                          WHERE s.s_suppkey = l.l_suppkey))
""",
    tags=("relational", "quality", "audit"),
)
def b60_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit (the data-quality gate a pipeline
    runs after every load): for each declared FK relation, the child
    row count and the orphan count (child keys with no parent) — all
    four relations in one report. Composes b05c's anti-join as a
    reusable audit: each orphan check is a LEFT ANTI join whose parent
    side is duplicate-free keys only, so dims broadcast and the fact
    table is scanned once per relation with the key column pruned at
    the parquet scan. The tiny 1-row aggregates union driver-free; at
    100 TB the audit costs four key-column scans, no wide rows move."""
    def audit(child: DataFrame, ckey: str, parent: DataFrame, pkey: str,
              rel: str) -> DataFrame:
        keys = child.select(F.col(ckey))
        orphan = keys.join(
            broadcast(parent.select(F.col(pkey)).distinct()),
            keys[ckey] == F.col(pkey),
            "left_anti",
        )
        return (
            keys.agg(F.count("*").alias("n_child"))
            .crossJoin(orphan.agg(F.count("*").alias("n_orphan")))
            .select(
                F.lit(rel).alias("relation"), "n_child", "n_orphan"
            )
        )

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    return (
        audit(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionByName(audit(o, "o_custkey", c, "c_custkey", "orders->customer"))
        .unionByName(audit(li, "l_partkey", p, "p_partkey", "lineitem->part"))
        .unionByName(
            audit(li, "l_suppkey", s, "s_suppkey", "lineitem->supplier")
        )
    )


# -- b61: Python user-defined TABLE function (lateral row expansion)


@query(
    "b61_udtf_installments",
    oracle="""
WITH src AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 50 = 0
)
SELECT o_orderkey,
       CAST(gs.n AS BIGINT) AS pay_no,
       CASE WHEN gs.n < 4 THEN cents // 4
            ELSE cents - 3 * (cents // 4) END AS amount_cents
FROM src CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS n) gs
""",
    tags=("relational", "udtf", "python"),
)
def b61_udtf_installments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python user-defined TABLE function (Spark 4 UDTF API): a
    row-expanding `LATERAL` call that splits each order total into 4
    integer-cent installments, the last absorbing the remainder — the
    API surface for set-returning business logic (parsers, unrollers,
    API paginators) that scalar UDFs cannot express.

    Exactness: everything is int64 cents (`round(total*100)` is exact
    for 2-decimal doubles), integer-divided identically in Python and
    DuckDB — no fp anywhere after the cast.

    Scale shape: the UDTF runs in executor Python workers over Arrow
    batches — per-partition parallel like any map; the input is
    pre-filtered (o_orderkey % 50) and column-pruned to (key, cents)
    BEFORE crossing the Python boundary, so the slow path carries the
    minimum bytes. A UDTF is still the escape hatch: the same 4-row
    unroll is pure `explode(sequence())` when the logic is
    expressible — that zero-Python twin is exactly how d49/b51 fan
    out. Demonstrated here because the reference's JSONPath-style SMT
    family (`jsonpath-mapping.json`) is the config-driven version of
    "arbitrary per-record expansion", and UDTF is Spark's principled
    slot for it."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pay_no: bigint, amount_cents: bigint")
    class Installments:
        def eval(self, cents: int):  # noqa: ANN001
            base = cents // 4
            for i in range(1, 4):
                yield (i, base)
            yield (4, cents - 3 * base)

    spark.udtf.register("installments", Installments)
    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    src.createOrReplaceTempView("b61_src")
    return spark.sql(
        """
        SELECT o_orderkey, pay_no, amount_cents
        FROM b61_src, LATERAL installments(cents)
        """
    )


# -- b62: observed metrics (zero-cost data-quality counters)


@query(
    "b62_observed_metrics",
    oracle="""
SELECT 'lineitem_scan' AS probe,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_discounted,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
""",
    tags=("relational", "observability"),
)
def b62_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via `df.observe()`: data-quality
    counters (row count, discounted-line count, total quantity)
    accumulated ON the scan of a real downstream job — Spark's
    accumulator-backed metrics ride the existing task set, so the
    counters cost ZERO extra passes over the data. This is how a
    100 TB pipeline audits "rows seen / rows violating contract"
    without doubling its I/O; the reference's pipeline has no
    equivalent (its sink counts arrive from Kafka Connect metrics).

    The entry runs the observed job (a per-returnflag aggregate whose
    result is intentionally small), then surfaces the observation as
    the result row. Exactness: counts are integers; the money sum uses
    the decimal-sum convention (helpers.dsum).

    Scale shape: observe() adds an AggregateInPandas-free,
    codegen-stage metric collector — no shuffle, no extra scan; the
    observed metrics flow back on task completion like any
    accumulator."""
    from pyspark.sql import Observation

    li = load(spark, sf_dir, "lineitem")
    obs = Observation("b62")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("l_discount") > 0.05, 1).otherwise(0)
        ).alias("n_discounted"),
        dsum("l_quantity", "sum_qty"),
    )
    # the real job the metrics piggyback on (result small by design)
    observed.groupBy("l_returnflag").agg(F.count("*")).collect()
    m = obs.get
    return spark.createDataFrame(
        [("lineitem_scan", m["n_rows"], m["n_discounted"], m["sum_qty"])],
        "probe string, n_rows bigint, n_discounted bigint, sum_qty double",
    )


# -- b63: small-file compaction (engine-native OPTIMIZE)


@query(
    "b63_compact_small_files",
    oracle="""
SELECT 'events' AS label,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       TRUE AS files_reduced,
       TRUE AS sized_right
FROM events
""",
    tags=("relational", "layout", "maintenance"),
)
def b63_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the engine-native form of Delta's
    OPTIMIZE (bin-packing): a fragmented copy of `events` (64 tiny
    files, the classic streaming-sink pathology) is rewritten into
    size-targeted files (target 8 MiB: n_out = ceil(bytes/target)),
    and the entry proves the rewrite LOSSLESS by aggregating the
    compacted copy against the raw-table oracle, plus two gates:
    `files_reduced` (file count strictly dropped) and `sized_right`
    (file count equals the byte-budget bound).

    The small-files problem is THE operational tax of a 100 TB lake —
    every query pays per-file open/footer costs and the NameNode/
    listing layer pays per-object; compaction restores ~row-group-
    sized scans. Plan: the sizing decision reads only file METADATA
    (a bounded driver listing, same contract as b44's layout pass);
    the data path is one scan + one round-robin repartition write —
    no shuffle key, no skew. `maxPartitionBytes` then re-splits for
    parallelism on read, so compaction trades file count, not
    read parallelism."""
    import math as _math
    import os as _os

    ev = load(spark, sf_dir, "events")
    target = 8 * 1024 * 1024

    def _part_files(d: str) -> list[str]:
        return [
            _os.path.join(d, f)
            for f in _os.listdir(d)
            if f.endswith(".parquet")
        ]

    def _n_out(frag: str) -> int:
        total_bytes = sum(_os.path.getsize(f) for f in _part_files(frag))
        return max(1, _math.ceil(total_bytes / target))

    def build(d: str) -> None:
        ev.repartition(64).write.mode("overwrite").parquet(f"{d}/frag")
        spark.read.parquet(f"{d}/frag").repartition(
            _n_out(f"{d}/frag")
        ).write.mode("overwrite").parquet(f"{d}/compact")

    base = derived("b63", f"{sf_dir}/events.parquet", build)
    frag, compact = f"{base}/frag", f"{base}/compact"
    frag_files = _part_files(frag)
    n_out = _n_out(frag)
    n_after = len(_part_files(compact))
    return (
        spark.read.parquet(compact)
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("event_id").alias("sum_ids"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.lit("events").alias("label"),
            "n_rows",
            "sum_ids",
            "n_users",
            F.lit(n_after < len(frag_files)).alias("files_reduced"),
            F.lit(n_after == n_out).alias("sized_right"),
        )
    )


# -- b64: one-pass column profiler


@query(
    "b64_column_profiler",
    oracle="""
SELECT 'o_orderkey' AS col,
       CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
       CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*) - COUNT(o_custkey), COUNT(DISTINCT o_custkey),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
       COUNT(DISTINCT o_orderstatus), MIN(o_orderstatus), MAX(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
       COUNT(DISTINCT o_orderpriority), MIN(o_orderpriority),
       MAX(o_orderpriority)
FROM orders
UNION ALL
SELECT 'o_orderdate', COUNT(*) - COUNT(o_orderdate),
       COUNT(DISTINCT o_orderdate), CAST(MIN(o_orderdate) AS VARCHAR),
       CAST(MAX(o_orderdate) AS VARCHAR)
FROM orders
""",
    tags=("relational", "profiling"),
)
def b64_column_profiler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler — the table-stats report every
    catalog/quality layer runs after load (null count, exact distinct,
    min/max per column), emitted long-form as (col, metric...) rows.

    ONE scan computes all five columns' profiles: the non-distinct
    metrics are plain partial+final aggregates and the five DISTINCT
    aggregates share a single Expand pass (Catalyst's multi-distinct
    rewrite — data is replicated x5 in the map stage, NOT rescanned).
    The wide 1-row result then unpivots driver-free via `stack`.
    Values surface as strings so one schema carries every column type;
    int64/date/string casts are engine-identical (doubles are
    deliberately excluded — their string forms differ across engines;
    a double column would profile via the nano-quantized convention).

    At 100 TB: exact COUNT(DISTINCT) on a high-cardinality key is the
    expensive honest form (it is what makes the profile an AUDIT);
    the monitoring form swaps in approx_count_distinct/HLL (b08x/b41)
    with the same report schema — one Expand disappears and the scan
    dominates."""
    o = load(spark, sf_dir, "orders")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        "o_orderdate",
    ]
    aggs = []
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__null, {c}__nd, {c}__min, {c}__max" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack}) AS (col, n_null, n_distinct, min_s, max_s)"
        )
    )


# -- b65: hive-partitioned layout + partition-pruned scan


def _events_by_date(spark: SparkSession, sf_dir: str) -> str:
    """``events`` hive-partitioned by ``event_date`` (yyyy-MM-dd), written
    once per source file and shared by b65, b89 and b105. Returns its
    directory."""
    ev = load(spark, sf_dir, "events")
    return derived(
        "b65",
        f"{sf_dir}/events.parquet",
        lambda d: ev.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(d),
    )


@query(
    "b65_partition_pruned_scan",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-03'
""",
    tags=("relational", "layout", "pruning"),
)
def b65_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition pruning — the directory-
    level complement of b44's file-level z-order skipping: `events` is
    written `partitionBy(event_date)` (one directory per day, the
    standard lake layout for time-series facts), and a one-day query
    reads ONLY that directory — pruning happens at LISTING time, before
    any file is opened (b44's min/max skipping still opens footers).

    The rewrite is lossless (pure repartition of rows into
    directories), so the raw-table oracle must match exactly. The plan
    carries the day under `PartitionFilters` with zero `PushedFilters`
    on data columns — pinned in tests/test_plans.py.

    At 100 TB: daily partitions bound every incremental job's input to
    its day regardless of table size, and partition pruning is pure
    metadata — the NameNode/manifest answers it. The failure mode to
    avoid is over-partitioning (small files per partition) — which is
    exactly what b63's compaction fixes, run per-partition."""
    part = spark.read.parquet(_events_by_date(spark, sf_dir))
    return part.filter(F.col("event_date") == F.lit("2024-01-03")).agg(
        F.count("*").alias("n_events"),
        F.sum("event_id").alias("sum_ids"),
        F.countDistinct("user_id").alias("n_users"),
    )


# -- b66: metadata-only aggregate (parquet aggregate pushdown)


@query(
    "b66_metadata_only_agg",
    oracle="""
SELECT 'orders' AS label,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       TRUE AS pushed
FROM orders
""",
    tags=("relational", "pruning", "metadata"),
)
def b66_metadata_only_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregation — COUNT/MIN/MAX answered from parquet
    FOOTER STATISTICS without decoding a single data page
    (`spark.sql.parquet.aggregatePushdown` over the V2 scan:
    `PushedAggregation: [COUNT(*), MIN(o_totalprice), ...]` in the
    BatchScan). At 100 TB this is the difference between a row-count
    audit that reads 100 TB and one that reads a few MB of footers —
    the same trick `SELECT count(*)` warehouses have always played.

    The entry flips the two configs (V2 parquet + pushdown), executes
    the pushed plan, verifies `PushedAggregation` actually appears
    (the `pushed` gate — silently falling back to a full scan would
    still return correct values, which is exactly why the gate exists),
    and restores the session configs in a `finally` so no other
    entry's plan shape changes. Values are exact: parquet stores
    exact min/max for doubles and exact row counts per row group."""
    pushdown, v1list = (
        "spark.sql.parquet.aggregatePushdown",
        "spark.sql.sources.useV1SourceList",
    )
    old_push = spark.conf.get(pushdown, None)
    old_v1 = spark.conf.get(v1list, None)
    try:
        spark.conf.set(pushdown, "true")
        spark.conf.set(v1list, "")
        agg = spark.read.parquet(f"{sf_dir}/orders.parquet").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        pushed = "PushedAggregation: [COUNT(*)" in plan
        row = agg.collect()[0]
    finally:
        for key, old in ((pushdown, old_push), (v1list, old_v1)):
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
    return spark.createDataFrame(
        [("orders", row["n_rows"], row["min_price"], row["max_price"], pushed)],
        "label string, n_rows bigint, min_price double, max_price double,"
        " pushed boolean",
    )


# -- b67: linear-model batch scoring from a weights table


@query(
    "b67_linear_model_scoring",
    oracle="""
WITH feats AS (
  SELECT o_orderkey, 'price' AS feature, o_totalprice AS v FROM orders
  UNION ALL
  SELECT o_orderkey, 'urgent',
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'finished',
         CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END
  FROM orders
), weights AS (
  SELECT 'price' AS feature, 0.00001 AS w
  UNION ALL SELECT 'urgent', 0.5
  UNION ALL SELECT 'finished', 0.3
)
SELECT o_orderkey,
       CAST(SUM(CAST(FLOOR(w * v * 1000000000) AS BIGINT)) AS DOUBLE)
         / 1000000000.0 AS score
FROM feats JOIN weights USING (feature)
GROUP BY o_orderkey
HAVING SUM(CAST(FLOOR(w * v * 1000000000) AS BIGINT)) > 2000000000
""",
    tags=("relational", "ml", "scoring"),
)
def b67_linear_model_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference — a linear scorer whose weights live in a
    TABLE (the way a nightly-trained model meets a 100 TB feature set):
    features fan out long-form, the 3-row weights relation broadcasts
    into a hash join, and the per-key score is the weighted sum, with
    high scorers (score > 2.0) kept. The long-form join shape is what
    scales to thousands of features and sparse feature vectors —
    wide-column w1*x1+... breaks down when the feature set is dynamic.

    Exactness: each w*v term is computed double-identically in both
    engines, then nano-floor-quantized to int64 BEFORE the sum — the
    reduction is an order-free integer sum (the d47/d48 contract), so
    grouping order cannot produce fp drift. The sigmoid is omitted:
    it is monotone, so thresholding the logit is thresholding the
    probability.

    Plan: one scan of orders (the UNION fan-out is an Expand over the
    same scan), BroadcastHashJoin on feature, one groupBy(o_orderkey)
    partial+final agg."""
    o = load(spark, sf_dir, "orders")
    feats = (
        o.select(
            "o_orderkey", F.lit("price").alias("feature"),
            F.col("o_totalprice").alias("v"),
        )
        .unionByName(
            o.select(
                "o_orderkey", F.lit("urgent").alias("feature"),
                F.when(F.col("o_orderpriority") == "1-URGENT", 1.0)
                .otherwise(0.0).alias("v"),
            )
        )
        .unionByName(
            o.select(
                "o_orderkey", F.lit("finished").alias("feature"),
                F.when(F.col("o_orderstatus") == "F", 1.0)
                .otherwise(0.0).alias("v"),
            )
        )
    )
    weights = spark.createDataFrame(
        [("price", 0.00001), ("urgent", 0.5), ("finished", 0.3)],
        "feature string, w double",
    )
    term = F.floor(F.col("w") * F.col("v") * 1000000000).cast("bigint")
    return (
        feats.join(broadcast(weights), "feature")
        .groupBy("o_orderkey")
        .agg(F.sum(term).alias("score_nano"))
        .filter(F.col("score_nano") > 2000000000)
        .select(
            "o_orderkey",
            (F.col("score_nano").cast("double") / 1000000000.0).alias("score"),
        )
    )


# -- b68: shuffle-skew diagnostics probe


@query(
    "b68_skew_probe",
    oracle="""
WITH sizes AS (
  SELECT l_orderkey AS k, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey
)
SELECT 'lineitem.l_orderkey' AS rel,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(n) AS BIGINT) AS max_size,
       quantile_cont(n, 0.5) AS p50,
       quantile_cont(n, 0.99) AS p99,
       MAX(n) * 1.0 / (SUM(n) * 1.0 / COUNT(*)) AS skew_ratio
FROM sizes
UNION ALL
SELECT 'events.user_id', COUNT(*), MAX(n), quantile_cont(n, 0.5),
       quantile_cont(n, 0.99), MAX(n) * 1.0 / (SUM(n) * 1.0 / COUNT(*))
FROM (SELECT user_id AS k, COUNT(*) AS n FROM events GROUP BY user_id) s
""",
    tags=("relational", "profiling", "skew"),
)
def b68_skew_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostics — the report you run BEFORE choosing a
    join/agg strategy at 100 TB: per candidate shuffle key, the group-
    size distribution (key count, max group, p50/p99, max/mean skew
    ratio). A skew_ratio near 1 means hash partitioning balances; a
    large one says the b26/b37 salting path (or AQE skew-join) is
    needed for that key. Two keys are profiled in one report:
    lineitem.l_orderkey (bounded 1..7 — healthy) and events.user_id.

    Plan: each key costs one partial+final count (the same shuffle the
    real query would pay ONCE, here produced as a reusable statistic)
    and a tiny second-level aggregate over key sizes. Exact
    percentiles over group-size integers follow b27's
    percentile==quantile_cont interpolation contract; the skew ratio
    divides in the identical op order both engines."""

    def probe(df: DataFrame, key: str, rel: str) -> DataFrame:
        sizes = df.groupBy(F.col(key).alias("k")).agg(F.count("*").alias("n"))
        return sizes.agg(
            F.count("*").alias("n_keys"),
            F.max("n").alias("max_size"),
            # one buffer for both quantiles (array form)
            F.percentile("n", F.array(F.lit(0.5), F.lit(0.99))).alias("pqs"),
            (
                F.max("n") * F.lit(1.0)
                / (F.sum("n") * F.lit(1.0) / F.count("*"))
            ).alias("skew_ratio"),
        ).select(F.lit(rel).alias("rel"), "n_keys", "max_size",
                 F.col("pqs")[0].alias("p50"), F.col("pqs")[1].alias("p99"),
                 "skew_ratio")

    li = load(spark, sf_dir, "lineitem")
    ev = load(spark, sf_dir, "events")
    return probe(li, "l_orderkey", "lineitem.l_orderkey").unionByName(
        probe(ev, "user_id", "events.user_id")
    )


# -- b69: mergeable moments (mean/variance) from per-month partials


@query(
    "b69_moments_rollup",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         AS mean_qty,
       (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
       / COUNT(*) AS var_qty
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("relational", "sketch", "agg"),
)
def b69_moments_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable moments at rest — b41 (HLL) / b46 (quantiles) for
    mean and variance: per-(returnflag, ship-month) PARTIALS
    (n, Σx, Σx²) are materialized first, then MERGED into global
    per-flag moments by plain addition — the algebra every
    incremental table-stats system (engine CBO stats, data-quality
    monitors) uses to avoid rescanning history.

    The oracle computes the same moments DIRECTLY from the raw rows —
    matching proves merge-of-partials == single-pass, which is the
    sketch's correctness claim. Exactness: Σx and Σx² are DECIMAL
    sums (associative, order-free — decimal(18,2) and its square);
    the final mean/variance divisions happen in doubles with the
    IDENTICAL op order in both engines (population variance via
    (Σx² − (Σx)²/n)/n).

    At 100 TB: partials are per-partition rows (bounded by
    #groups × #months), re-aggregable at read for ANY group subset —
    the same at-rest layout b41/b46 pin for their sketches."""
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(18,2)")
    partials = li.groupBy(
        "l_returnflag", F.date_format("l_shipdate", "yyyy-MM").alias("month")
    ).agg(
        F.count("*").alias("pn"),
        F.sum(q).alias("ps"),
        F.sum(q * q).alias("ps2"),
    )
    merged = partials.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n"),
        F.sum("ps").alias("s"),
        F.sum("ps2").alias("s2"),
    )
    sd = F.col("s").cast("double")
    s2d = F.col("s2").cast("double")
    nd = F.col("n")
    return merged.select(
        "l_returnflag",
        "n",
        (sd / nd).alias("mean_qty"),
        ((s2d - sd * sd / nd) / nd).alias("var_qty"),
    )


# -- b70: dictionary encoding for low-cardinality strings


@query(
    "b70_dictionary_encoding",
    oracle="""
WITH d AS (
  SELECT o_orderpriority,
         DENSE_RANK() OVER (ORDER BY o_orderpriority) AS prio_id
  FROM (SELECT DISTINCT o_orderpriority FROM orders)
)
SELECT CAST(prio_id AS INT) AS prio_id, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders JOIN d USING (o_orderpriority)
GROUP BY 1, 2
""",
    tags=("relational", "encoding", "layout"),
)
def b70_dictionary_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary encoding for a low-cardinality string column — the
    at-rest dimension-encoding pass (surrogate-key assignment) every
    warehouse load does: build the value→id dictionary (ids dense,
    deterministic — ordinal of the sorted distinct values), broadcast
    it back, and store the int id instead of the string. The entry
    emits the encoded table's per-id audit (id, value, rows), proving
    the encode join is lossless and the ids stable.

    Plan: the dictionary is a distinct over the column (partial+final,
    output = cardinality rows) + a single-partition row_number ONLY
    over those few rows (never over data); the encode is a
    BroadcastHashJoin — the fact table is scanned once, shuffled only
    for the audit groupBy. At 100 TB the dictionary stays KBs; new
    values append with ids > max (monotone growth), which is why the
    ordinal-of-sorted choice matters: re-runs cannot permute ids."""
    o = load(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    dict_df = (
        o.select("o_orderpriority")
        .distinct()
        .select(
            "o_orderpriority",
            F.row_number()
            .over(W.orderBy("o_orderpriority"))
            .alias("prio_id"),
        )
    )
    encoded = o.join(broadcast(dict_df), "o_orderpriority")
    return encoded.groupBy("prio_id", "o_orderpriority").agg(
        F.count("*").alias("n_rows")
    )


# -- b71: OHLC time-series downsampling


@query(
    "b71_ohlc_downsample",
    oracle="""
WITH b AS (
  SELECT event_type,
         time_bucket(INTERVAL '15 minutes', ts) AS bucket,
         value, ts, event_id,
         ROW_NUMBER() OVER (
           PARTITION BY event_type, time_bucket(INTERVAL '15 minutes', ts)
           ORDER BY ts, event_id) AS rf,
         ROW_NUMBER() OVER (
           PARTITION BY event_type, time_bucket(INTERVAL '15 minutes', ts)
           ORDER BY ts DESC, event_id DESC) AS rl
  FROM events
)
SELECT event_type, bucket,
       MAX(CASE WHEN rf = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rl = 1 THEN value END) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_ticks
FROM b GROUP BY event_type, bucket
""",
    tags=("relational", "timeseries", "agg"),
)
def b71_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling — the financial/metrics resample operator:
    per (series, 15-minute bar) the first (open), max (high), min
    (low), and last (close) value plus tick count. Open/close are
    ORDER-DEPENDENT aggregates; they are computed as MIN/MAX over a
    (ts, event_id, value) struct — Spark orders structs
    lexicographically, so one hash aggregate yields the
    first/last-by-time values with a deterministic event_id
    tie-break, NO window pass and NO second shuffle (the oracle
    spells the same semantics with row_number twins).

    Plan: a single partial+final hash aggregate over (type, bucket) —
    map-side combine keeps per-partition state at one struct pair per
    open bar, the shape that sustains billions of ticks per day. The
    struct trick is the scale story: first/last via window functions
    would sort every partition; MIN/MAX of a time-led struct is
    associative and mergeable."""
    ev = load(spark, sf_dir, "events")
    bucket = F.window("ts", "15 minutes").getField("start").alias("bucket")
    tick = F.struct("ts", "event_id", "value")
    agg = ev.groupBy("event_type", bucket).agg(
        F.min(tick).alias("first_tick"),
        F.max(tick).alias("last_tick"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.count("*").alias("n_ticks"),
    )
    return agg.select(
        "event_type",
        "bucket",
        F.col("first_tick.value").alias("open"),
        "high",
        "low",
        F.col("last_tick.value").alias("close"),
        "n_ticks",
    )


# -- b72: snapshot diff (batch table-diff audit)


@query(
    "b72_snapshot_diff",
    oracle="""
WITH v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0
              THEN o_totalprice + 50.0 ELSE o_totalprice END AS o_totalprice
  FROM orders
  WHERE o_orderkey % 17 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_totalprice FROM orders
  WHERE o_orderkey % 19 = 0
)
SELECT 'added' AS change,
       (SELECT COUNT(*) FROM v2 WHERE o_orderkey >= 10000000) AS n_rows
UNION ALL
SELECT 'removed',
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 17 = 0)
UNION ALL
SELECT 'changed',
       (SELECT COUNT(*) FROM orders
        WHERE o_orderkey % 17 <> 0 AND o_orderkey % 11 = 0)
UNION ALL
SELECT 'unchanged',
       (SELECT COUNT(*) FROM orders
        WHERE o_orderkey % 17 <> 0 AND o_orderkey % 11 <> 0)
""",
    tags=("relational", "audit", "diff"),
)
def b72_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the batch table-diff audit between two versions
    of a table (what changed since yesterday's load: the batch twin of
    s30's streaming change feed): version 2 is version 1 with
    deterministic mutations (every 17th key dropped, every 11th
    surviving price bumped, every 19th key re-inserted under a new id),
    and the diff classifies every key as added / removed / changed /
    unchanged via ONE full outer join on the key comparing value
    hashes.

    Plan: two scans + one full-outer hash join on the key + a 4-group
    count — at 100 TB you run exactly this after every load as the
    regression gate, and the full outer join is the honest form;
    with both snapshots bucketed on the key (b47's layout) it runs
    shuffle-free. The value comparison hashes the non-key columns
    (xxhash64) so wide tables diff at scan speed, not string-concat
    speed."""
    v1 = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    v2 = (
        v1.filter(F.col("o_orderkey") % 17 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 50.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            v1.filter(F.col("o_orderkey") % 19 == 0).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                "o_totalprice",
            )
        )
    )
    a = v1.select(
        F.col("o_orderkey").alias("k"),
        F.xxhash64("o_totalprice").alias("h1"),
    )
    b = v2.select(
        F.col("o_orderkey").alias("k"),
        F.xxhash64("o_totalprice").alias("h2"),
    )
    diff = a.join(b, "k", "full_outer").select(
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
        .alias("change")
    )
    return diff.groupBy("change").agg(F.count("*").alias("n_rows"))


# -- b73: rolling distinct users (WAU)


@query(
    "b73_rolling_distinct_users",
    oracle="""
WITH du AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), fan AS (
  SELECT user_id, day + CAST(o AS INT) AS report_day
  FROM du, (SELECT unnest(generate_series(0, 6)) AS o)
)
SELECT strftime(report_day, '%Y-%m-%d') AS report_day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
FROM fan
WHERE report_day <= (SELECT MAX(CAST(ts AS DATE)) FROM events)
GROUP BY 1
""",
    tags=("relational", "timeseries", "distinct"),
)
def b73_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users (WAU per day) — the metric every
    product dashboard runs and every naive implementation gets wrong:
    DISTINCT does not sum, so you cannot window-aggregate daily
    distinct counts. The exact form: dedupe to (user, active-day)
    pairs once, fan each pair out to the 7 report days it supports
    (day..day+6, trimmed to observed days), then one COUNT(DISTINCT)
    per report day.

    Scale: the fan-out is x7 on the DEDUPED pairs (uniques x days,
    orders of magnitude under raw events), and the per-day distinct is
    the honest audit form. The production swap at 100 TB is b41's
    layout: persist one HLL sketch per (day), answer any window by
    union-merging 7 sketches — same report schema, constant state;
    this entry pins the exact semantics that rollup must reproduce."""
    ev = load(spark, sf_dir, "events")
    du = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    max_day = ev.agg(F.max(F.to_date("ts")).alias("mx"))
    fan = du.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("report_day"),
    )
    return (
        fan.join(broadcast(max_day), F.col("report_day") <= F.col("mx"))
        .groupBy(
            F.date_format("report_day", "yyyy-MM-dd").alias("report_day")
        )
        .agg(F.countDistinct("user_id").alias("wau"))
    )


# -- b74: chi-square independence test


@query(
    "b74_chi_square_independence",
    oracle="""
WITH obs AS (
  SELECT event_type, dayofweek(ts) AS dow, CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
), rowm AS (SELECT event_type, SUM(o) AS r FROM obs GROUP BY 1),
colm AS (SELECT dow, SUM(o) AS c FROM obs GROUP BY 1),
tot AS (SELECT SUM(o) AS n FROM obs),
cells AS (
  SELECT obs.event_type, obs.dow, o,
         (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) / CAST(n AS DOUBLE) AS e
  FROM obs JOIN rowm USING (event_type) JOIN colm USING (dow) CROSS JOIN tot
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CAST(FLOOR(((o - e) * (o - e) / e) * 1000000000) AS BIGINT))
            AS DOUBLE) / 1000000000.0 AS chi2
FROM cells
""",
    tags=("relational", "stats"),
)
def b74_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and
    day-of-week — the contingency-table statistic behind "does this
    categorical depend on that one" checks (A/B sanity, drift
    detection between dimensions; the categorical sibling of b53's
    z-score and b59's MAD). chi2 = Σ (observed − expected)² / expected
    over the type × dow grid, expected = row_total·col_total/N.

    Exactness: observed/marginal counts are integers; each cell term
    is computed double-identically then nano-quantized to int64 before
    the order-free sum (d47 contract). Scale shape: ONE count
    aggregate over the grid (|types|·7 cells regardless of volume),
    two marginal re-sums of the tiny grid, broadcast joins back, and a
    1-row reduce — the fact table is scanned exactly once: the grid is
    cached (it is |types|·7 rows), so the marginals and the cell join
    all read the in-memory grid, not the parquet scan (without the
    cache Catalyst re-derives obs for every consumer — 4 fact scans,
    the plan test pins the fixed shape)."""
    ev = load(spark, sf_dir, "events")
    obs = (
        ev.groupBy("event_type", F.dayofweek("ts").alias("dow"))
        .agg(F.count("*").alias("o"))
        .cache()
    )
    rowm = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    colm = obs.groupBy("dow").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    cells = (
        obs.join(broadcast(rowm), "event_type")
        .join(broadcast(colm), "dow")
        .crossJoin(broadcast(tot))
        .select(
            "o",
            (
                F.col("r").cast("double")
                * F.col("c").cast("double")
                / F.col("n").cast("double")
            ).alias("e"),
        )
    )
    term = F.floor(
        ((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"))
        * 1000000000
    ).cast("bigint")
    return cells.agg(
        F.count("*").alias("n_cells"),
        (F.sum(term).cast("double") / 1000000000.0).alias("chi2"),
    )


# -- b75: max concurrency via sweep-line


@query(
    "b75_max_concurrent",
    oracle="""
WITH iv AS (
  SELECT event_type, ts AS st, ts + INTERVAL 15 MINUTE AS en FROM events
), pts AS (
  SELECT event_type, st AS t, 1 AS d FROM iv
  UNION ALL
  SELECT event_type, en AS t, -1 AS d FROM iv
), run AS (
  SELECT event_type,
         SUM(d) OVER (PARTITION BY event_type ORDER BY t, d DESC) AS conc
  FROM pts
)
SELECT event_type, CAST(MAX(conc) AS BIGINT) AS max_concurrent
FROM run GROUP BY event_type
""",
    tags=("relational", "window", "interval"),
)
def b75_max_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type — the sweep-line answer to "how
    many 15-minute activity intervals were live at once", i.e. the
    interval-overlap maximum behind capacity planning / peak-load
    dashboards. Each event opens an interval [ts, ts+15m); intervals
    unpivot to +1/-1 delta points; a running sum ordered by time is the
    live count, and its max is the answer. Ties order starts before
    ends (d DESC), so back-to-back touching intervals count as
    overlapping — pinned identically in both engines.

    Exactness: integer deltas, integer running sum — no fp anywhere.
    Scale shape: the unpivot doubles rows but stays narrow (type, t,
    d); ONE shuffle partitions by event_type and the running sum is a
    per-partition scan. With few types the window key is coarse — at
    real scale the sweep shards by (type, day-bucket) with per-bucket
    carry-in prefix-summed from a tiny per-bucket delta table (two
    passes, both parallel) — the classic distributed prefix-sum
    decomposition; stated here because the single-key window is the
    ONLY serial span in this plan."""
    ev = load(spark, sf_dir, "events").select("event_type", "ts")
    st = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("d")
    )
    en = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("t"),
        F.lit(-1).alias("d"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("t").asc(), F.col("d").desc()
    )
    return (
        st.unionAll(en)
        .withColumn("conc", F.sum("d").over(w))
        .groupBy("event_type")
        .agg(F.max("conc").cast("bigint").alias("max_concurrent"))
    )


# -- b76: time-weighted average (TWAP)


@query(
    "b76_time_weighted_avg",
    oracle="""
WITH seq AS (
  SELECT event_type, ts, value, event_id,
         LEAD(ts) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
         ) AS nxt
  FROM events
), w AS (
  SELECT event_type, value,
         date_diff('second', ts, nxt) AS dur_s
  FROM seq WHERE nxt IS NOT NULL
)
SELECT event_type,
       CAST(SUM(dur_s) AS BIGINT) AS total_sec,
       CAST(SUM(CAST(FLOOR(value * dur_s * 1000000) AS BIGINT)) AS DOUBLE)
         / 1000000.0
         / CAST(SUM(dur_s) AS DOUBLE) AS twap
FROM w GROUP BY event_type
""",
    tags=("relational", "window", "timeseries"),
)
def b76_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type (TWAP) — the
    duration-weighted mean every market-data / metrics system serves
    when observations are irregularly spaced: each observation holds
    until the next one, so its weight is the seconds until its
    successor (last observation per key carries no closing bracket and
    is excluded, the standard open-interval convention). LEAD over
    (type, time) builds the hold durations; ties pin on event_id so
    both engines see the same successor.

    Exactness: durations are integer seconds; each value*duration term
    is micro-quantized to int64 before the order-free sum (d47/b74
    contract), and the two divides happen once per output row. Scale
    shape: ONE shuffle on event_type shared by the LEAD window and the
    aggregate (same key ⇒ Catalyst reuses the exchange); everything
    between is a per-partition ordered scan. Per-day sharding with
    boundary carry-rows is the standard refinement when one type's
    history exceeds a partition."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", "ts", "value", "event_id"
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seq = ev.withColumn("nxt", F.lead("ts").over(w)).filter(
        F.col("nxt").isNotNull()
    )
    dur = (
        F.unix_timestamp("nxt") - F.unix_timestamp("ts")
    ).alias("dur_s")
    wd = seq.select("event_type", "value", dur)
    term = F.floor(F.col("value") * F.col("dur_s") * 1000000).cast("bigint")
    return wd.groupBy("event_type").agg(
        F.sum("dur_s").cast("bigint").alias("total_sec"),
        (
            F.sum(term).cast("double")
            / 1000000.0
            / F.sum("dur_s").cast("double")
        ).alias("twap"),
    )


# -- b77: week-over-week percent change


@query(
    "b77_week_over_week",
    oracle="""
WITH wk AS (
  SELECT event_type, date_trunc('week', ts) AS week_start,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT event_type, week_start, n_events,
       LAG(n_events) OVER (
         PARTITION BY event_type ORDER BY week_start
       ) AS prev_events,
       CASE WHEN LAG(n_events) OVER (
              PARTITION BY event_type ORDER BY week_start) IS NULL THEN NULL
            ELSE CAST(n_events - LAG(n_events) OVER (
                   PARTITION BY event_type ORDER BY week_start) AS DOUBLE)
                 / CAST(LAG(n_events) OVER (
                     PARTITION BY event_type ORDER BY week_start) AS DOUBLE)
       END AS wow_change
FROM wk
""",
    tags=("relational", "window", "timeseries"),
)
def b77_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type — the `(this - prev) /
    prev` trend column on every operations dashboard: weekly counts,
    then LAG one row within each type's week-ordered series (first
    week reports NULL, not zero — no fabricated baseline).

    Exactness: counts are integers; the single divide happens per
    output row on already-reduced values. Scale shape: the fact scan
    reduces to (type × week) rows in ONE partial-agg'd shuffle; the
    LAG window repartitions only that tiny rollup by type — the window
    never sees raw events. week_start via date_trunc pins the ISO week
    boundary identically in both engines."""
    ev = load(spark, sf_dir, "events")
    wk = ev.groupBy(
        "event_type", F.date_trunc("week", F.col("ts")).alias("week_start")
    ).agg(F.count("*").alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("week_start")
    prev = F.lag("n_events").over(w)
    return wk.select(
        "event_type",
        "week_start",
        "n_events",
        prev.alias("prev_events"),
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .otherwise(
            (F.col("n_events") - prev).cast("double") / prev.cast("double")
        )
        .alias("wow_change"),
    )


# -- b78: equi-depth (quantile-binned) histogram


@query(
    "b78_equidepth_histogram",
    oracle="""
WITH q AS (
  SELECT quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.5) AS q2,
         quantile_cont(value, 0.75) AS q3
  FROM events
)
SELECT CASE WHEN value <= q1 THEN 0
            WHEN value <= q2 THEN 1
            WHEN value <= q3 THEN 2 ELSE 3 END AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(q1) AS q1, MIN(q2) AS q2, MIN(q3) AS q3
FROM events CROSS JOIN q
GROUP BY 1
""",
    tags=("relational", "agg", "histogram"),
)
def b78_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of the event value — b57's equi-width
    sibling and the optimizer-statistics form (each bin holds ~25% of
    rows, so bin boundaries ARE the quartiles): pass 1 computes exact
    interpolated quartile edges (b27's percentile/quantile_cont parity),
    pass 2 broadcasts the 1-row edge set and counts rows per bin with a
    pure when-chain. Edge doubles are bit-identical in both engines, so
    the <= comparisons bin identically — no epsilon anywhere.

    Scale shape: two fact scans is the honest EXACT form (edges cannot
    be known before a full pass); the 100 TB production swap is b27x's
    mergeable percentile_approx sketch for pass 1 — same second pass,
    one-row broadcast either way, no shuffle larger than 4 rows."""
    ev = load(spark, sf_dir, "events").select("value")
    # one percentile buffer for all three quartile edges (array form)
    q = ev.agg(
        F.percentile(
            "value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        ).alias("qs")
    ).select(
        F.col("qs")[0].alias("q1"),
        F.col("qs")[1].alias("q2"),
        F.col("qs")[2].alias("q3"),
    )
    binned = ev.crossJoin(broadcast(q)).select(
        F.when(F.col("value") <= F.col("q1"), 0)
        .when(F.col("value") <= F.col("q2"), 1)
        .when(F.col("value") <= F.col("q3"), 2)
        .otherwise(3)
        .alias("bin"),
        "q1",
        "q2",
        "q3",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n_rows"),
        F.min("q1").alias("q1"),
        F.min("q2").alias("q2"),
        F.min("q3").alias("q3"),
    )


# -- b79: Pareto concentration (80/20) analysis


@query(
    "b79_pareto_concentration",
    oracle="""
WITH rev AS (
  SELECT c.c_nationkey AS nationkey,
         SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
), r AS (
  SELECT nationkey, cents,
         SUM(cents) OVER (ORDER BY cents DESC, nationkey) AS cum_cents,
         SUM(cents) OVER () AS total_cents,
         ROW_NUMBER() OVER (ORDER BY cents DESC, nationkey) AS rk
  FROM rev
)
SELECT CAST(rk AS INT) AS rk, nationkey,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       CAST(cum_cents AS DOUBLE) / CAST(total_cents AS DOUBLE) AS cum_share,
       cum_cents * 5 <= total_cents * 4 AS below_80pct
FROM r
""",
    tags=("relational", "window", "analytics"),
)
def b79_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / 80-20 concentration: nations ranked by total order
    revenue with each nation's CUMULATIVE share of the total — the
    "how few keys carry 80% of the volume" analysis behind skew
    diagnosis (b68's business-facing sibling) and account planning.
    ``below_80pct`` marks the head that fits under the 80% line via
    the integer cross-multiplication ``cum*5 <= total*4`` — no
    floating-point threshold anywhere in the decision.

    Exactness: revenue sums as integer cents (round(double×100) — the
    doubles carry 2-decimal prices, so nearest-integer is exact), the share
    divides once per output row. Scale shape: the fact join reduces to
    |nations| rows BEFORE any window; the global sort/cumsum then
    touches ~25 rows — the pattern that makes a "global" window safe:
    aggregate first, window the rollup, never the fact table."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            ).alias("cents")
        )
    )
    wo = Window.orderBy(F.col("cents").desc(), F.col("nationkey"))
    r = rev.select(
        "nationkey",
        "cents",
        F.sum("cents").over(wo).alias("cum_cents"),
        F.sum("cents").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total_cents"),
        F.row_number().over(wo).alias("rk"),
    )
    return r.select(
        F.col("rk").cast("int").alias("rk"),
        "nationkey",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        (
            F.col("cum_cents").cast("double")
            / F.col("total_cents").cast("double")
        ).alias("cum_share"),
        (F.col("cum_cents") * 5 <= F.col("total_cents") * 4).alias(
            "below_80pct"
        ),
    )


@query(
    "b80_merge_upsert_dsl",
    oracle="""
WITH src AS (
  SELECT o_orderkey AS k, o_custkey AS ck,
         o_totalprice + 100.0 AS new_price, FALSE AS cancel
  FROM orders WHERE o_orderkey % 10 = 3
  UNION ALL
  SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE), TRUE
  FROM orders WHERE o_orderkey % 10 = 7
  UNION ALL
  SELECT -o_orderkey, o_custkey, 500.0, FALSE
  FROM orders WHERE o_orderkey % 10 = 1
),
merged AS (
  SELECT t.o_orderstatus,
         CASE WHEN s.k IS NOT NULL AND NOT s.cancel
              THEN s.new_price ELSE t.o_totalprice END AS price
  FROM orders t LEFT JOIN src s ON t.o_orderkey = s.k
  WHERE s.k IS NULL OR NOT s.cancel
  UNION ALL
  SELECT 'N', s.new_price
  FROM src s LEFT JOIN orders t ON t.o_orderkey = s.k
  WHERE t.o_orderkey IS NULL
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(price * 100) AS BIGINT)) AS BIGINT) AS cents
FROM merged GROUP BY o_orderstatus
""",
    tags=("relational", "merge", "upsert", "scale"),
)
def b80_merge_upsert_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style MERGE INTO as a declarative operator
    (operators/merge.py) — the lakehouse upsert: one statement applies
    conditional updates (repriced orders), conditional deletes
    (cancellations), and inserts (new keys) against the orders table,
    then summarizes the post-MERGE state per status.

    The engine form is ONE full-outer equi-join + per-column CASE
    projection (each side scanned once, all codegen); the oracle keeps
    the row-preserving three-branch UNION formulation — target scanned
    twice, source twice — which is exactly the rewrite MERGE exists to
    avoid. Matched clauses apply first-match-wins in declaration order
    (Delta semantics); duplicate source keys raise
    MergeCardinalityError via a source-only map-side-combined guard.
    At 100 TB: the join shuffles each side once on the merge key, or
    zero times from b47's bucketed layout; the CDC micro-batch sibling
    is streaming/pipeline.py's ParquetStateSink."""
    from ..operators.merge import MatchedClause, merge_into

    o = load(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    src = (
        o.filter(key % 10 == 3)
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice") + 100.0).alias("new_price"),
            F.lit(False).alias("cancel"),
        )
        .unionByName(
            o.filter(key % 10 == 7).select(
                "o_orderkey",
                "o_custkey",
                F.lit(None).cast("double").alias("new_price"),
                F.lit(True).alias("cancel"),
            )
        )
        .unionByName(
            o.filter(key % 10 == 1).select(
                (-key).alias("o_orderkey"),
                "o_custkey",
                F.lit(500.0).alias("new_price"),
                F.lit(False).alias("cancel"),
            )
        )
    )
    merged = merge_into(
        o,
        src,
        ["o_orderkey"],
        matched=[
            MatchedClause("delete", condition=F.col("__s.cancel")),
            MatchedClause(
                "update", set_map={"o_totalprice": F.col("__s.new_price")}
            ),
        ],
        insert_map={
            "o_orderstatus": F.lit("N"),
            "o_totalprice": F.col("__s.new_price"),
        },
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
        ).alias("cents"),
    )


@query(
    "b81_exact_correlation",
    oracle="""
WITH q AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(ROUND(l_extendedprice) AS BIGINT) AS y
  FROM lineitem
), s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM q GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr,
       (CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
       / (CAST(n AS DOUBLE) - 1.0) AS covar
FROM s
""",
    tags=("relational", "stats", "agg"),
)
def b81_exact_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance between quantity and
    (whole-dollar) price per return flag — the two-measure dependence
    statistic behind feature-selection and drift dashboards (b74's
    continuous sibling). Spark's built-in ``corr``/``covar_samp``
    aggregate doubles in partition order and is therefore not
    hash-portable; this entry computes the SAME statistic from the six
    EXACT integer power sums (n, Σx, Σy, Σxy, Σx², Σy² — whole-dollar
    y keeps Σy² under int64), then evaluates one identical double
    formula per group in both engines — order-free by construction,
    bit-identical by IEEE determinism.

    Scale shape: one map-side-combined aggregate to |returnflag| rows;
    the formula runs on the 3-row rollup. The power sums are also the
    MERGEABLE form (b69's moments discipline) — shard partials add."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice"), 0).cast("bigint").alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return s.select(
        "l_returnflag",
        "n",
        (
            (d("n") * d("sxy") - d("sx") * d("sy"))
            / (
                F.sqrt(d("n") * d("sxx") - d("sx") * d("sx"))
                * F.sqrt(d("n") * d("syy") - d("sy") * d("sy"))
            )
        ).alias("corr"),
        (
            (d("sxy") - d("sx") * d("sy") / d("n")) / (d("n") - F.lit(1.0))
        ).alias("covar"),
    )


@query(
    "b82_expectations_audit",
    oracle="""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS rows FROM orders)
SELECT rule, rows, violations, violations = 0 AS passed FROM n, (
  SELECT 'not_null(o_custkey)' AS rule,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS violations
  FROM orders
  UNION ALL
  SELECT 'in_range(o_totalprice,0,400000)',
         CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
                        OR o_totalprice > 400000 THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'matches(o_orderpriority)',
         CAST(SUM(CASE WHEN o_orderpriority IS NULL
                        OR NOT regexp_matches(o_orderpriority, '^[1-5]-')
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'accepted_values(o_orderstatus)',
         CAST(SUM(CASE WHEN o_orderstatus IS NULL
                        OR o_orderstatus NOT IN ('O', 'F')
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'unique(o_orderkey)',
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey)
              + SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM orders
)
""",
    tags=("relational", "quality", "dsl", "scale"),
)
def b82_expectations_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations
    (operators/expectations.py) — the Delta-Live-Tables / dbt-test
    contract surface: five rules over orders (null, range, regex,
    domain, key uniqueness) audited in ONE shared aggregate; the range
    and domain rules are deliberately tight enough to FAIL so the
    report exercises both outcomes. The oracle keeps the
    one-subquery-per-rule UNION formulation (five scans) that the
    single-pass operator exists to avoid; plan-pinned as one scan in
    tests/test_plans.py. Adding a rule adds a codegen expression, not
    a scan — the property that matters when the table is 100 TB."""
    from ..operators.expectations import (
        accepted_values,
        audit,
        in_range,
        matches,
        not_null,
        unique,
    )

    o = load(spark, sf_dir, "orders")
    return audit(
        o,
        [
            not_null("o_custkey"),
            in_range("o_totalprice", 0, 400000),
            matches("o_orderpriority", "^[1-5]-"),
            accepted_values("o_orderstatus", ["O", "F"]),
            unique(["o_orderkey"]),
        ],
    )


@query(
    "b83_mode_per_group",
    oracle="""
WITH c AS (
  SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY o_orderstatus, o_orderpriority
), r AS (
  SELECT o_orderstatus, o_orderpriority, cnt,
         ROW_NUMBER() OVER (
           PARTITION BY o_orderstatus
           ORDER BY cnt DESC, o_orderpriority) AS rn,
         SUM(cnt) OVER (PARTITION BY o_orderstatus) AS total
  FROM c
)
SELECT o_orderstatus, o_orderpriority AS mode_value, cnt AS mode_count,
       CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS mode_share
FROM r WHERE rn = 1
""",
    tags=("relational", "agg", "stats"),
)
def b83_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE() — the SQL:2016 ordered-set aggregate Spark lacks as a
    built-in with a defined tie rule: the most frequent category per
    group plus its frequency share, ties broken on the smallest value
    (engines that ship mode() leave ties implementation-defined; the
    pinned tie-break is what makes this oracle-checkable and
    replay-stable). The b64 profiler's categorical complement.

    Scale shape: the fact table reduces to the (group × category)
    rollup in ONE map-side-combined aggregate; the ranking window and
    the share total then run over that tiny rollup, never the fact
    table — the b79 aggregate-first-window-later pattern. Share
    divides once per output row from exact integer counts."""
    c = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"))
    )
    wp = Window.partitionBy("o_orderstatus")
    r = c.select(
        "o_orderstatus",
        "o_orderpriority",
        "cnt",
        F.row_number()
        .over(wp.orderBy(F.col("cnt").desc(), F.col("o_orderpriority")))
        .alias("rn"),
        F.sum("cnt").over(wp).alias("total"),
    )
    return r.filter(F.col("rn") == 1).select(
        "o_orderstatus",
        F.col("o_orderpriority").alias("mode_value"),
        F.col("cnt").alias("mode_count"),
        (F.col("cnt").cast("double") / F.col("total").cast("double")).alias(
            "mode_share"
        ),
    )


@query(
    "b84_scd2_dimension_merge",
    oracle=SCD2_MERGE_ORACLE,
    tags=("relational", "scd", "merge", "dimension"),
)
def b84_scd2_dimension_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension merge with change suppression
    (operators/scd.py) — the warehouse-side sibling of a17's op-log
    SCD2: a batch of observed snapshots (daily-extract shape) applied
    to the current dimension in ONE statement. The scenario exercises
    every branch: real changes (one and two per key), attribute-
    identical re-deliveries (MUST NOT open a version — the nuance that
    keeps daily full extracts from doubling the dimension), brand-new
    keys, and already-closed history passing through untouched.

    Plan: one customer-key shuffle shared by the suppression LAG and
    the re-window LEAD (same partitioning, same sort); closed history
    unions through shuffle-free. The oracle re-derives the identical
    algorithm in SQL."""
    from ..operators.scd import scd2_apply

    c = load(spark, sf_dir, "customer")
    t0 = F.lit("2023-01-01 00:00:00").cast("timestamp")
    t1 = F.lit("2024-02-01 00:00:00").cast("timestamp")
    t2 = F.lit("2024-03-01 00:00:00").cast("timestamp")
    open_rows = c.select(
        "c_custkey",
        "c_mktsegment",
        t0.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    closed = c.filter(F.col("c_custkey") % 10 == 7).select(
        "c_custkey",
        F.lit("ANCIENT").alias("c_mktsegment"),
        F.lit("2022-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        t0.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    current = open_rows.unionByName(closed)
    k = F.col("c_custkey")
    obs = (
        c.filter(k % 4 == 1)
        .select(
            "c_custkey",
            F.concat(F.lit("S"), (k % 3).cast("string")).alias(
                "c_mktsegment"
            ),
            t1.alias("observed_at"),
        )
        .unionByName(
            c.filter(k % 8 == 5).select(
                "c_custkey",
                F.concat(F.lit("T"), (k % 3).cast("string")).alias(
                    "c_mktsegment"
                ),
                t2.alias("observed_at"),
            )
        )
        .unionByName(
            c.filter(k % 10 == 2).select(
                "c_custkey", "c_mktsegment", t1.alias("observed_at")
            )
        )
        .unionByName(
            c.filter(k % 10 == 3).select(
                (-k).alias("c_custkey"),
                F.lit("NEWSEG").alias("c_mktsegment"),
                t1.alias("observed_at"),
            )
        )
    )
    return scd2_apply(
        current, obs, keys=["c_custkey"], tracked=["c_mktsegment"]
    )


@query(
    "b85_bitmap_distinct_at_rest",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT time_bucket(INTERVAL '1 day', ts)) AS BIGINT)
         AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events GROUP BY event_type
""",
    tags=("relational", "sketch", "exact", "scale"),
)
def b85_bitmap_distinct_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct-at-rest via long-form bitmaps — the
    precise counterpart of b41's HLL sketches for BOUNDED id domains
    (user ids, product ids, any dictionary-encoded key — b70 supplies
    the surrogates when the natural key is unbounded): per
    (type, day, word) a 64-bit word with one bit per present user
    (``bit_or`` aggregate, pure codegen), stored long-form so merge
    across days is another ``bit_or`` group-by and the final count is
    ``sum(bit_count(word))`` — associative, mergeable, EXACT, and 8
    bytes per 64 possible ids per partition: the roaring-bitmap
    pattern warehouses use for exact distinct rollups without
    re-touching raw events.

    The oracle computes the DIRECT ``COUNT(DISTINCT user_id)`` per
    type — so a hash match proves build→store→merge→count returns
    exactly the raw-scan answer. Scale shape: one (type, day, word)
    aggregate with map-side partials (the at-rest write), one
    (type, word) bit_or merge, one tiny count — raw events are
    scanned ONCE ever, all rollup reads touch only bitmap words."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        (F.col("user_id") / 64).cast("bigint").alias("word_idx"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))"
        ).alias("bit"),
    )
    at_rest = ev.groupBy("event_type", "day", "word_idx").agg(
        F.bit_or("bit").alias("word")
    )
    merged = (
        at_rest.groupBy("event_type", "word_idx")
        .agg(F.bit_or("word").alias("word"))
        .groupBy("event_type")
        .agg(F.sum(F.bit_count("word")).alias("distinct_users"))
    )
    days = at_rest.groupBy("event_type").agg(
        F.count_distinct("day").alias("n_days")
    )
    # both sides are |event_type|-row rollups of the same at-rest table
    return days.join(broadcast(merged), "event_type").select(
        "event_type",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("distinct_users").cast("bigint").alias("distinct_users"),
    )


@query(
    "b86_wilson_ranking",
    oracle="""
WITH perf AS (
  SELECT l_suppkey AS suppkey,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l_returnflag <> 'R'
                       THEN 1 ELSE 0 END) AS BIGINT) AS s
  FROM lineitem GROUP BY l_suppkey
), scored AS (
  SELECT suppkey, n, s,
         ROUND((CAST(s AS DOUBLE) / n + 1.9208 / n
                - 1.96 * sqrt((CAST(s AS DOUBLE) / n)
                              * (1.0 - CAST(s AS DOUBLE) / n) / n
                              + 0.9604 / (CAST(n AS DOUBLE) * n)))
               / (1.0 + 3.8416 / n), 6) AS wilson_lb
  FROM perf
)
SELECT suppkey, n, s, wilson_lb FROM scored
ORDER BY wilson_lb DESC, suppkey LIMIT 25
""",
    tags=("relational", "stats", "ranking"),
)
def b86_wilson_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score lower-bound ranking — the statistically honest way
    to rank entities by a success RATE when sample sizes differ (the
    "how not to sort by average rating" correction): suppliers ranked
    by the 95% lower confidence bound of their non-return rate
    (l_returnflag <> 'R'), so a 5/5 supplier does NOT outrank a 480/500
    one. lb = (p̂ + z²/2n − z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n),
    z = 1.96 (z² = 3.8416 folded into constants). Exactness: the only
    shuffle-dependent values are integer n and s (exact); the double
    formula is then a deterministic per-row map — identical in both
    engines — rounded to 6. Scale shape: ONE map-side-combined
    groupBy(suppkey) over the fact table, per-row scalar math, global
    top-25 via TakeOrderedAndProject. No windows, no joins."""
    li = load(spark, sf_dir, "lineitem")
    perf = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("l_returnflag") != "R", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("s"),
    )
    p = F.col("s").cast("double") / F.col("n")
    n = F.col("n").cast("double")
    lb = F.round(
        (p + 1.9208 / n - 1.96 * F.sqrt(p * (1.0 - p) / n + 0.9604 / (n * n)))
        / (1.0 + 3.8416 / n),
        6,
    )
    return (
        perf.withColumn("wilson_lb", lb)
        .orderBy(F.col("wilson_lb").desc(), "suppkey")
        .limit(25)
        .select("suppkey", "n", "s", "wilson_lb")
    )


@query(
    "b87_last_touch_attribution",
    oracle=LAST_TOUCH_ORACLE,
    tags=("relational", "window", "analytics"),
)
def b87_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent PRECEDING non-purchase event within a
    7-day lookback (else 'direct'), then revenue rolls up by credited
    channel. The classic sessionless attribution model, computed with
    NO self-join: one window per user carries the last-seen touch
    type/timestamp forward (``last(..., ignorenulls=True)`` over
    UNBOUNDED PRECEDING..1 PRECEDING — constant state per user, never
    a per-purchase scan-back), so the plan is ONE user_id shuffle for
    the window plus one map-side-combined channel rollup. Revenue sums
    in DECIMAL(18,2) (order-free exact). At 100 TB: the window
    partitions by user (millions of independent partitions), the
    lookback is a per-row comparison, and the rollup output is
    |channels| rows."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_purchase = F.col("event_type") != "purchase"
    seq = ev.select(
        "user_id",
        "ts",
        "event_type",
        "value",
        F.last(F.when(non_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(non_purchase, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    attrib = seq.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("touch_ts").isNotNull()
            & (F.col("ts") <= F.col("touch_ts") + F.expr("INTERVAL 7 DAYS")),
            F.col("touch_type"),
        )
        .otherwise("direct")
        .alias("channel"),
        "value",
    )
    return attrib.groupBy("channel").agg(
        F.count("*").alias("n_purchases"),
        dsum("value", "revenue"),
    )


@query(
    "b88_welch_ttest",
    oracle=WELCH_TTEST_ORACLE,
    tags=("relational", "stats", "abtest"),
)
def b88_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test per metric — the A/B
    experimentation primitive: users deterministically hash-bucketed
    into variants (user_id % 2, the production assignment shape — no
    RNG state), and per event_type the difference in mean `value` is
    tested with Welch's t and the Welch-Satterthwaite df (the honest
    default when variances differ; Student's pooled t is a special
    case that silently lies under variance skew).

    Exactness: per-variant n, Σx, Σx² are computed in DECIMAL (exact,
    order-free) inside ONE conditional aggregate — no self-join, no
    second scan; the t/df formula then runs on the |event_types|-row
    rollup as one identical double expression in both engines.

    Scale shape: single map-side-combined groupBy(event_type); the
    power sums are also the mergeable form, so per-shard partials add
    and a 1000-experiment scorecard is one pass over 100 TB of
    events, not 1000."""
    ev = load(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(18,2)")
    g = F.col("user_id") % 2
    s = ev.groupBy("event_type").agg(
        F.sum(F.when(g == 0, 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(g == 1, 1).otherwise(0)).cast("bigint").alias("nb"),
        F.sum(F.when(g == 0, x)).cast("double").alias("sxa"),
        F.sum(F.when(g == 1, x)).cast("double").alias("sxb"),
        F.sum(F.when(g == 0, x * x)).cast("double").alias("sxxa"),
        F.sum(F.when(g == 1, x * x)).cast("double").alias("sxxb"),
    )
    from .helpers import welch_from_power_sums

    return welch_from_power_sums(s)


@query(
    "b89_dynamic_partition_pruning",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       {SQL_DSUM.format(col="e.value")} AS total_value,
       CAST(COUNT(DISTINCT CAST(e.ts AS DATE)) AS BIGINT) AS n_days
FROM events e
WHERE isodow(CAST(e.ts AS DATE)) = 1
""",
    tags=("relational", "layout", "pruning", "join"),
)
def b89_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP) — b65's star-schema sibling: the
    fact table is hive-partitioned by day, but the day filter lives on
    a DIMENSION (a calendar table filtered to Mondays), so no static
    partition filter exists at compile time. Catalyst plants a
    `dynamicpruningexpression` on the fact's partition column that is
    fed at RUNTIME from the broadcasted dim side — the fact scan lists
    only the ~1/7 of directories that survive, without the query ever
    mentioning a date literal. Plan pinned in tests/test_plans.py.

    At 100 TB this is THE star-schema join pattern: `facts JOIN dims
    ON fact.part_col = dim.key WHERE dim.attr = ...` reads only the
    matching partitions, which is why warehouses partition facts by
    the dim foreign key users actually filter on. Without DPP the same
    plan scans the full fact table and throws 6/7 of it away post-join.

    The partitioned rewrite and the calendar dim are lossless
    derivations of `events`, so the raw-table oracle (Monday events)
    must match exactly."""
    ev = load(spark, sf_dir, "events")
    dim_dir = derived(
        "b89dim",
        f"{sf_dir}/events.parquet",
        lambda d: ev.select(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .distinct()
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(d),
    )
    fact = spark.read.parquet(_events_by_date(spark, sf_dir))
    dim = spark.read.parquet(dim_dir).filter(
        F.dayofweek(F.to_date("d")) == 2  # Monday (Spark: 1=Sunday)
    )
    return (
        fact.join(broadcast(dim), fact.event_date == dim.d)
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", "total_value"),
            F.countDistinct("event_date").alias("n_days"),
        )
    )


@query(
    "b90_funnel_stages",
    oracle="""
WITH s1 AS (
  SELECT user_id, ts, event_type,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events
), s2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
              OVER (PARTITION BY user_id) AS t2
  FROM s1
), s3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
              OVER (PARTITION BY user_id) AS t3
  FROM s2
), u AS (
  SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
  FROM s3 GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(t1) AS BIGINT) AS n_view,
       CAST(COUNT(t2) AS BIGINT) AS n_view_click,
       CAST(COUNT(t3) AS BIGINT) AS n_view_click_purchase,
       ROUND(CAST(COUNT(t2) AS DOUBLE) / COUNT(t1), 6) AS click_rate,
       ROUND(CAST(COUNT(t3) AS DOUBLE) / COUNT(t2), 6) AS purchase_rate,
       ROUND(CAST(COUNT(t3) AS DOUBLE) / COUNT(t1), 6) AS full_funnel_rate
FROM u
""",
    tags=("relational", "window", "analytics"),
)
def b90_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered multi-stage funnel (view → click → purchase), the
    product-analytics staple: a user converts stage N only with an
    event STRICTLY AFTER their stage-N-1 time (first-touch semantics —
    min qualifying timestamp per stage). s26/b06 count click→purchase
    PAIRS in a horizon; this is the per-user staged progression with
    stage-over-stage conversion rates.

    No self-joins: three chained per-user window minima (each stage's
    predicate references the previous stage's column) share ONE
    user_id exchange + sort — Catalyst stacks the Window operators on
    the same partitioning, so a 3-stage funnel over 100 TB of events
    costs one shuffle, the same as a 2-stage one. The per-user rollup
    and the global rates run on |users| rows, then 1 row out."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    s = (
        ev.select("user_id", "ts", "event_type")
        .withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    u = s.groupBy("user_id").agg(
        F.max("t1").alias("t1"),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
    )
    return u.agg(
        F.count("*").alias("n_users"),
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_view_click"),
        F.count("t3").alias("n_view_click_purchase"),
        F.round(F.count("t2").cast("double") / F.count("t1"), 6).alias(
            "click_rate"
        ),
        F.round(F.count("t3").cast("double") / F.count("t2"), 6).alias(
            "purchase_rate"
        ),
        F.round(F.count("t3").cast("double") / F.count("t1"), 6).alias(
            "full_funnel_rate"
        ),
    )


@query(
    "b91_seasonal_decompose",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(value AS DECIMAL(18,2))) AS y_dec
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), tr AS (
  SELECT event_type, day, CAST(y_dec AS DOUBLE) AS y,
         CAST(SUM(y_dec) OVER w AS DOUBLE)
           / COUNT(*) OVER w AS trend,
         isodow(day) AS dow
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), dt AS (
  SELECT *, CAST(FLOOR((y - trend) * 1e9) AS BIGINT) AS dt_q FROM tr
), seas AS (
  SELECT *,
         CAST(SUM(dt_q) OVER (PARTITION BY event_type, dow) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY event_type, dow) / 1e9
           AS seasonal
  FROM dt
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       ROUND(y, 6) AS y,
       ROUND(trend, 6) AS trend,
       ROUND(seasonal, 6) AS seasonal,
       ROUND(dt_q / 1e9 - seasonal, 6) AS residual
FROM seas
""",
    tags=("relational", "timeseries", "stats"),
)
def b91_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (STL-lite) of the
    daily value series per event_type: trend = centered 7-day moving
    average, seasonal = per-day-of-week mean of the detrended series,
    residual = what's left — the anomaly-detection / capacity-planning
    baseline every metrics pipeline ends up needing.

    Exactness: daily totals are order-free DECIMAL sums; the trend
    window SUM stays in DECIMAL (exact) and both engines perform the
    identical double division by the frame count; the detrended value
    is floor-quantized to nano units BEFORE the per-(type, dow) mean,
    so that reduction is an order-free int64 sum (the d48 contract).

    Scale shape: events are scanned ONCE into the (event_type x day)
    rollup with map-side combine; every window after that runs on the
    tiny day grid (|types| x |days| rows), so the two window shuffles
    cost nothing at any scale. The ROWS frame is edge-honest (partial
    windows average over the rows that exist, like pandas
    rolling(center=True, min_periods=1)) and deterministic because
    (event_type, day) is a unique sort key."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("y_dec"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        F.col("y_dec").cast("double").alias("y"),
        (F.sum("y_dec").over(w).cast("double") / F.count("*").over(w)).alias(
            "trend"
        ),
        (((F.dayofweek("day") + 5) % 7) + 1).alias("dow"),
    )
    dt = tr.withColumn(
        "dt_q", F.floor((F.col("y") - F.col("trend")) * F.lit(1e9)).cast("bigint")
    )
    ws = Window.partitionBy("event_type", "dow")
    seas = dt.withColumn(
        "seasonal",
        F.sum("dt_q").over(ws).cast("double") / F.count("*").over(ws) / F.lit(1e9),
    )
    return seas.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("y", 6).alias("y"),
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(F.col("dt_q") / F.lit(1e9) - F.col("seasonal"), 6).alias(
            "residual"
        ),
    )


@query(
    "b92_sole_fault_supplier",
    oracle="""
SELECT s.s_name,
       CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 25
""",
    tags=("relational", "join", "subquery", "tpch"),
)
def b92_sole_fault_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's join topology (the hardest classic plan: a fact
    table correlated with ITSELF twice, once EXISTS and once NOT
    EXISTS) on the columns this schema has: suppliers who returned a
    line (l_returnflag = 'R') on a finalized multi-supplier order where
    NO other supplier on that order returned anything — the
    "sole-fault" supplier scorecard, counted per qualifying lineitem,
    top 25.

    The oracle keeps the textbook correlated-subquery form. The Spark
    plan deliberately does NOT: both correlations depend only on
    per-(order, supplier) facts, so one groupBy(l_orderkey, l_suppkey)
    rollup plus two windows over l_orderkey (supplier count and
    returning-supplier count) replaces BOTH self-joins — the fact
    table is scanned ONCE and shuffled ONCE on the order key instead
    of three scans and three shuffle joins. EXISTS becomes
    n_supp > 1, NOT EXISTS becomes n_ret_supp == 1 carried by the
    returning row itself.

    Scale shape: the rollup is map-side combined; orders arrives as a
    projected semi-side join on the same order key; supplier (the
    smallest dim) broadcasts for the name; the final agg is |suppliers|
    rows with TakeOrderedAndProject for the top-25. Skewed mega-orders
    salt naturally under AQE because the windows run on the rollup,
    not raw lines."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "r_lines"
        )
    )
    wo = Window.partitionBy("l_orderkey")
    per_os = per_os.withColumn("n_supp", F.count("*").over(wo)).withColumn(
        "n_ret_supp",
        F.sum(F.when(F.col("r_lines") > 0, 1).otherwise(0)).over(wo),
    )
    fin = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    qual = (
        per_os.filter(
            (F.col("n_supp") > 1)
            & (F.col("n_ret_supp") == 1)
            & (F.col("r_lines") > 0)
        )
        .join(fin, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    )
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        qual.join(broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("r_lines").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(25)
    )


@query(
    "b93_distributed_row_ids",
    oracle="""
SELECT o_orderkey,
       CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) AS BIGINT) AS rid
FROM orders
""",
    tags=("relational", "ids", "scale"),
)
def b93_distributed_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense global row ids WITHOUT a global sort
    (operators/ids.py:distributed_row_ids — the zipWithIndex recipe as
    DataFrame algebra). A bare ROW_NUMBER() OVER (ORDER BY key)
    compiles to Exchange SinglePartition + one task sorting the whole
    table — at 100 TB that one task IS the job. Here: one range
    shuffle, local sorts, monotonically_increasing_id's
    (partition, local-rank) bits, a partition-count prefix sum
    (numPartitions rows, driver-side, bounded), and a broadcast join —
    ids identical to the oracle's ROW_NUMBER because o_orderkey is
    unique. Plan-pinned: range exchange present, NO single-partition
    exchange, every Sort non-global (tests/test_plans.py)."""
    from ..operators.ids import distributed_row_ids

    o = load(spark, sf_dir, "orders").select("o_orderkey")
    return distributed_row_ids(o, "o_orderkey")


@query(
    "b94_bucketized_interval_join",
    oracle="""
WITH w AS (
  SELECT o_orderkey, o_orderpriority,
         o_orderdate AS ws,
         o_orderdate + to_days(CAST(o_orderkey % 14 + 1 AS INT)) AS we
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT w.o_orderpriority,
       CAST(COUNT(DISTINCT w.o_orderkey) AS BIGINT) AS n_windows,
       CAST(COUNT(*) AS BIGINT) AS n_hits
FROM w JOIN lineitem l ON l.l_shipdate BETWEEN w.ws AND w.we
GROUP BY 1
""",
    tags=("relational", "join", "interval"),
)
def b94_bucketized_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join with NO equi key (operators/interval.py:
    interval_point_join): which shipments fall inside which
    maintenance windows. b06's range join had user_id to carry the
    shuffle; here nothing does, and the naive plan is a
    BroadcastNestedLoopJoin — O(points x windows), the first join to
    die at 100 TB. The operator turns the range predicate into an
    equi key: windows explode into their day buckets (fan-out <= 15
    here), points join on their ONE containing bucket, the exact
    BETWEEN re-checks post-join. Plan-pinned: hash join on the bucket,
    no nested-loop anywhere."""
    from ..operators.interval import interval_point_join

    o = load(spark, sf_dir, "orders")
    wins = o.filter(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("w_orderkey"),
        "o_orderpriority",
        F.col("o_orderdate").alias("ws"),
        (
            F.col("o_orderdate")
            + F.make_dt_interval(days=(F.col("o_orderkey") % 14 + 1).cast("int"))
        ).alias("we"),
    )
    pts = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    joined = interval_point_join(pts, wins, "l_shipdate", "ws", "we")
    return joined.groupBy("o_orderpriority").agg(
        F.count_distinct("w_orderkey").alias("n_windows"),
        F.count("*").alias("n_hits"),
    )


@query(
    "b95_runtime_bloom_filter_join",
    oracle="""
SELECT l.l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(l.l_quantity) AS BIGINT) AS sum_qty
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY 1
""",
    tags=("relational", "join", "runtime-filter"),
)
def b95_runtime_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning — b89's DPP sibling for
    UN-partitioned join keys: when the filtered dim is too big to
    broadcast (the 100 TB star-join reality this entry models by
    pinning a shuffle join), Catalyst builds a Bloom filter from the
    dim's join keys as a runtime subquery and plants
    `might_contain(xxhash64(l_orderkey))` on the FACT SCAN — the
    ~75% of lineitem rows whose order isn't URGENT are dropped before
    the shuffle instead of after the join. Plan-pinned
    (tests/test_plans.py: might_contain on the probe side, no
    broadcast).

    Conf discipline: the two knobs this needs (broadcast off to model
    the big-dim case; the app-side scan threshold, whose 10 GiB
    default is above any local fixture) are set, the tiny 3-row rollup
    is materialized EAGERLY, and the confs restored — so no other
    entry's pinned plan ever sees them. The returned frame is the
    collected rollup (bounded: one row per linestatus)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_quantity"
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    df = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("l_quantity").cast("bigint").alias("sum_qty"),
        )
    )
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        rows = df.collect()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return spark.createDataFrame(rows, df.schema)


@query(
    "b96_aqe_skew_join",
    oracle="""
WITH fact AS (
  SELECT CASE WHEN l_orderkey % 10 < 3 THEN 7 ELSE l_orderkey END AS k
  FROM lineitem
), dim AS (
  SELECT t.i AS k, t.i % 97 AS attr
  FROM (SELECT unnest(range(0, 800000)) AS i) t
)
SELECT CAST(d.attr % 7 AS BIGINT) AS attr_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN f.k = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot
FROM fact f JOIN dim d ON f.k = d.k
GROUP BY 1
""",
    tags=("relational", "join", "skew", "aqe"),
)
def b96_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join — the ADAPTIVE answer to the hot-key problem b37
    solves manually with salting: 30% of fact rows share one join key,
    so one reduce partition holds ~14x the median and would straggle
    the whole stage; AQE's OptimizeSkewedJoin splits that partition
    into mapper-range chunks and joins each against a replicated copy
    of the dim's matching partition (SortMergeJoin(skew=true),
    plan-pinned in tests/test_plans.py).

    Two operational findings this entry pins, both invisible until you
    hit them: (1) skew is split by MAPPER ranges, so a single-mapper
    upstream (one local parquet file) makes the hot partition
    UNSPLITTABLE and the rule silently declines — the repartition(16)
    here models the thousands of mappers a real 100 TB scan has;
    (2) coalescePartitions must not swallow the skew detection at toy
    sizes (disabled in the scoped conf window; at real sizes the two
    rules compose). Confs are scoped by eager materialization of the
    7-row rollup, as in b95."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    l = load(spark, sf_dir, "lineitem").repartition(16)
    fact = l.select(
        F.when(F.col("l_orderkey") % 10 < 3, F.lit(7))
        .otherwise(F.col("l_orderkey"))
        .alias("k")
    )
    dim = spark.range(0, 800000, 1, 16).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("attr")
    )
    df = (
        fact.join(dim, "k")
        .groupBy((F.col("attr") % 7).alias("attr_bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("k") == 7, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hot"),
        )
    )
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        rows = df.collect()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return spark.createDataFrame(rows, df.schema)


@query(
    "b97_argmin_supplier_join",
    oracle="""
WITH costs AS (
  SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name, s.s_acctbal,
         ((p.p_partkey * 31 + s.s_suppkey * 17) % 1000) / 10.0
           AS supplycost
  FROM part p JOIN supplier s ON s.s_suppkey = (p.p_partkey % 100) + 1
                              OR s.s_suppkey = (p.p_partkey % 100) + 2
)
SELECT p_partkey, p_brand, s_name, CAST(supplycost AS DOUBLE) AS supplycost
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY p_partkey ORDER BY supplycost, s_suppkey) AS rn
  FROM costs
) WHERE rn = 1 AND p_partkey % 5 = 0
""",
    tags=("relational", "subquery", "argmin"),
)
def b97_argmin_supplier_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's signature shape — "the supplier with the MINIMUM
    supplycost per part" — which the textbook SQL writes as a
    correlated scalar subquery (`WHERE ps_supplycost = (SELECT
    MIN(ps_supplycost) ... WHERE ps_partkey = p_partkey)`), i.e. a
    second full scan + re-join of partsupp. The Spark-first form is
    the ARGMIN window: ONE scan, one part-key shuffle, row_number
    over (cost, suppkey) — the tie rule the subquery form gets wrong
    (it returns BOTH suppliers on a cost tie; Q2 then needs an extra
    dedup). A deterministic synthetic partsupp (testdata carries
    none) gives each part two candidate suppliers with integer-grid
    costs.

    Plan: the candidate join builds fact-side rows, then one window
    exchange on p_partkey; no second scan, no self-join,
    tie-deterministic."""
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    cand = p.join(
        broadcast(s),
        (F.col("s_suppkey") == (F.col("p_partkey") % 100) + 1)
        | (F.col("s_suppkey") == (F.col("p_partkey") % 100) + 2),
    ).withColumn(
        "supplycost",
        ((F.col("p_partkey") * 31 + F.col("s_suppkey") * 17) % 1000) / 10.0,
    )
    w = Window.partitionBy("p_partkey").orderBy("supplycost", "s_suppkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("p_partkey") % 5 == 0))
        .select("p_partkey", "p_brand", "s_name", "supplycost")
    )


@query(
    "b98_top_session_paths",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT *, SUM(new_sess) OVER (
    PARTITION BY user_id ORDER BY ts, event_id) AS sess_id
  FROM marked
), paths AS (
  SELECT user_id, sess_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sess GROUP BY user_id, sess_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path LIMIT 20
""",
    tags=("relational", "sessionization", "paths"),
)
def b98_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top navigation paths — the product-analytics staple built from
    two primitives this engine already pins: b49's gaps-and-islands
    sessionization (one user-key window) and b28's
    sort_array(collect_list(struct)) ordered aggregation (an ORDER BY
    inside an aggregate does not exist in Spark SQL — the struct sort
    is the deterministic equivalent of DuckDB's
    string_agg(... ORDER BY)). Path = '>'-joined event types per
    session; top-20 by frequency with a path tie-break.

    Plan: ONE user shuffle shared by the LAG mark and the running
    session-id sum (same partitioning + sort), one (user, session)
    rollup, one path rollup with map-side combine, and a
    TakeOrderedAndProject — never a global sort."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
                > 1800
            ),
            1,
        ).otherwise(0),
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    paths = (
        marked.groupBy("user_id", "sess_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.array_join(
                F.transform("evs", lambda e: e["event_type"]), ">"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


@query(
    "b99_excess_stock_suppliers",
    oracle="""
WITH ps AS (
  SELECT p.p_partkey, s.s_suppkey, s.s_name,
         (p.p_partkey * 13 + s.s_suppkey * 7) % 1000 AS availqty
  FROM part p JOIN supplier s
    ON s.s_suppkey = (p.p_partkey % 100) + 1
    OR s.s_suppkey = (p.p_partkey % 100) + 2
), demand AS (
  SELECT l_partkey, SUM(l_quantity) / 2.0 AS half_shipped
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
  GROUP BY l_partkey
)
SELECT ps.s_name,
       CAST(COUNT(*) AS BIGINT) AS n_excess_parts,
       CAST(SUM(ps.availqty) AS BIGINT) AS total_avail
FROM ps JOIN demand d ON ps.p_partkey = d.l_partkey
WHERE ps.availqty > d.half_shipped
GROUP BY ps.s_name
ORDER BY n_excess_parts DESC, s_name LIMIT 25
""",
    tags=("relational", "subquery", "tpch"),
)
def b99_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20's shape — suppliers holding EXCESS stock: availqty
    greater than half of what actually shipped in a year. The textbook
    SQL is a doubly-nested correlated IN chain (suppkey IN (... partkey
    IN (...) AND availqty > (SELECT 0.5*SUM ...))) — per-row re-scans
    of lineitem. Decorrelated Spark-first: lineitem reduces ONCE to a
    per-part demand rollup (map-side combine, one shuffle, the year
    filter pushed to the scan), the part×supplier stock table joins to
    it, and the excess predicate becomes a plain column comparison.
    Partsupp is synthesized deterministically (testdata ships none) on
    b97's part→supplier mapping.

    Plan: one fact rollup + broadcast dim joins + TakeOrderedAndProject
    — lineitem scanned exactly once."""
    p = load(spark, sf_dir, "part").select("p_partkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    ps = p.join(
        broadcast(s),
        (F.col("s_suppkey") == (F.col("p_partkey") % 100) + 1)
        | (F.col("s_suppkey") == (F.col("p_partkey") % 100) + 2),
    ).withColumn(
        "availqty",
        (F.col("p_partkey") * 13 + F.col("s_suppkey") * 7) % 1000,
    )
    li = load(spark, sf_dir, "lineitem")
    demand = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey")
        .agg((F.sum("l_quantity") / 2.0).alias("half_shipped"))
    )
    return (
        ps.join(demand, ps["p_partkey"] == demand["l_partkey"])
        .filter(F.col("availqty") > F.col("half_shipped"))
        .groupBy("s_name")
        .agg(
            F.count("*").alias("n_excess_parts"),
            F.sum("availqty").cast("bigint").alias("total_avail"),
        )
        .orderBy(F.col("n_excess_parts").desc(), "s_name")
        .limit(25)
    )


@query(
    "b100_order_count_distribution",
    oracle="""
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey,
         CAST(COALESCE(oc.n, 0) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN (
    SELECT o_custkey, COUNT(*) AS n FROM orders
    WHERE o_orderpriority <> '1-URGENT'
    GROUP BY o_custkey
  ) oc ON c.c_custkey = oc.o_custkey
) GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    tags=("relational", "tpch", "analytics"),
)
def b100_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13's shape — the customer order-count distribution
    (how many customers placed 0, 1, 2, ... qualifying orders),
    INCLUDING the zero-order customers the left join exists for. The
    textbook form left-joins raw orders onto customer and counts
    post-join — carrying |orders| rows through the join shuffle.
    Spark-first: orders pre-aggregate to one (custkey, n) row per
    customer BEFORE the join (map-side combine, one shuffle keyed by
    custkey), so the join moves |customers| rows per side, never
    |orders|; zero-order customers appear via coalesce(n, 0) and the
    final distribution rollup is a tiny second aggregate. At 100 TB
    the difference is shuffling the fact table vs shuffling a rollup
    1-2 orders of magnitude smaller."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    oc = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
    )
    return (
        cust.join(oc, cust["c_custkey"] == oc["o_custkey"], "left")
        .select(F.coalesce(F.col("n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "b101_supplier_part_counts",
    oracle="""
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
SELECT p.p_brand, p.p_size,
       CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
FROM ps
JOIN part p ON p.p_partkey = ps.l_partkey
WHERE p.p_brand <> 'Brand#12'
  AND p.p_size IN (1, 5, 10, 15, 20, 25)
  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM bad)
GROUP BY p.p_brand, p.p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
LIMIT 30
""",
    tags=("relational", "tpch", "subquery"),
)
def b101_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16's shape — how many DISTINCT suppliers can provide
    each qualifying (brand, size) part class, excluding blacklisted
    suppliers (the NOT IN subquery; complaint-comment suppliers in
    TPC-H, negative-balance ones here — testdata has no comments).
    The part-supplier catalog is derived from observed shipments
    (DISTINCT l_partkey, l_suppkey — testdata ships no partsupp).

    Spark-first shape: the catalog dedup is one map-side-combining
    shuffle on (partkey, suppkey); the part side filters (brand/size
    IN-list) push to the parquet scan before its BROADCAST to the
    catalog; the NOT IN compiles to a broadcast LEFT ANTI join
    (s_suppkey is non-null, so 3-valued-logic traps don't apply —
    the b34 entry covers the nullable case); COUNT(DISTINCT) is the
    standard two-phase expand. Fact table scanned once."""
    li = load(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    p = (
        load(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#12")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    bad = load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        ps.join(broadcast(bad), ps["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(broadcast(p), ps["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
        .limit(30)
    )


@query(
    "b102_disjunctive_predicate_join",
    oracle=f"""
SELECT p.p_brand,
       CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#31' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
GROUP BY p.p_brand
ORDER BY p_brand
""",
    tags=("relational", "tpch", "pushdown"),
)
def b102_disjunctive_predicate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19's shape — revenue from a join whose filter is an OR
    of per-branch conjunct groups mixing columns from BOTH sides (the
    classic "disjunctive predicates" optimizer test). Declared as one
    boolean expression so Catalyst does the work the shape exists to
    test: the join stays a plain equi-join on partkey (the OR never
    degrades it to a nested-loop theta join), and the single-side
    implications of the disjunction — p_brand IN (...), p_size <= 15,
    l_quantity <= 30 — are derived and pushed to the respective scans
    (CNF conversion), so both inputs shrink before the join instead
    of after. Money sums in exact decimal (helpers.disc_price_dec)
    for engine-portable totals."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = li.join(broadcast(p), li["l_partkey"] == p["p_partkey"])
    branch = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#21")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#31")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        j.filter(branch)
        .groupBy("p_brand")
        .agg(
            F.sum(disc_price_dec()).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("p_brand")
    )


@query(
    "b103_important_supplier_stock",
    oracle="""
WITH sup_val AS (
  SELECT l_suppkey, CAST(SUM(l_quantity) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY l_suppkey
)
SELECT l_suppkey, total_qty
FROM sup_val
WHERE total_qty > (SELECT SUM(total_qty) * 0.002 FROM sup_val)
ORDER BY total_qty DESC, l_suppkey
""",
    tags=("relational", "tpch", "subquery"),
)
def b103_important_supplier_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11's shape — groups whose value exceeds a FRACTION OF
    THE GLOBAL TOTAL (the "important stock" HAVING-against-scalar
    pattern). The naive plan recomputes the inner aggregate per group;
    Spark-first: ONE per-supplier rollup (map-side combine), reused
    for both sides — the global threshold is a second tiny aggregate
    OVER THE ROLLUP (|suppliers| rows, not the fact table) broadcast
    back as a 1-row cross join. The fact table is scanned once, and
    the threshold comparison happens on |suppliers| rows. Quantities
    are integral doubles, so the rollup is cast to BIGINT — the
    threshold compare is exact in both engines."""
    li = load(spark, sf_dir, "lineitem")
    sup = (
        li.groupBy("l_suppkey")
        .agg(F.sum("l_quantity").cast("bigint").alias("total_qty"))
        .persist()
    )
    thr = sup.agg((F.sum("total_qty") * 0.002).alias("__thr"))
    return (
        sup.crossJoin(broadcast(thr))
        .filter(F.col("total_qty") > F.col("__thr"))
        .select("l_suppkey", "total_qty")
        .orderBy(F.col("total_qty").desc(), "l_suppkey")
    )


@query(
    "b104_dormant_rich_customers",
    oracle="""
WITH pos AS (SELECT c_acctbal FROM customer WHERE c_acctbal > 0.0),
thr AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         / COUNT(*) AS a
  FROM pos
)
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c
WHERE c.c_nationkey IN (0, 3, 7, 11, 17, 21)
  AND c.c_acctbal > (SELECT a FROM thr)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
    tags=("relational", "tpch", "subquery"),
)
def b104_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22's shape — "global sales opportunity": customers in
    selected countries (nationkey IN-list standing in for the phone
    country-code substring; testdata ships no phone column) with an
    above-average positive balance who have never placed an URGENT
    order (every testdata customer has ordered, so the dormancy
    predicate filters the anti-join's right side — same plan shape,
    non-degenerate result). Three
    classic pieces in one plan: an uncorrelated scalar-average
    subquery (computed once over the customer scan and broadcast back
    as a 1-row cross join — exact decimal sum / count so both engines
    compare the identical double), a NOT EXISTS anti-join (orders
    pre-projected to its join key; LEFT ANTI shuffle keyed by
    custkey), and the final per-country rollup. The customer scan's
    IN-list filter pushes to parquet; orders is touched only as a
    key projection."""
    cust = load(spark, sf_dir, "customer")
    thr = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count("*")
            ).alias("__a")
        )
    )
    orders_keys = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        cust.filter(F.col("c_nationkey").isin(0, 3, 7, 11, 17, 21))
        .crossJoin(broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("__a"))
        .join(
            orders_keys,
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "b105_incremental_partition_processing",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids
FROM events GROUP BY event_type
""",
    tags=("relational", "pruning", "incremental"),
)
def b105_incremental_partition_processing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental batch over a hive-partitioned table with a
    HIGH-WATER MARK — the lakehouse pattern every scheduled 100 TB job
    runs on: the fact table lives partitioned by day (b65's layout);
    run N records the newest day it processed; run N+1 filters
    ``event_date > hwm`` so partition pruning bounds its INPUT to the
    new days only — listing-time metadata, zero data read for the
    already-processed history. The entry simulates two runs (backfill
    through 2024-01-03, then the incremental tail), merges the two
    partial rollups — counts and sums are mergeable, the same algebra
    as b41/b69's sketches-at-rest — and the result must equal a full
    recompute EXACTLY (the oracle). The incremental scan's pruned
    PartitionFilters are pinned in tests/test_plans.py."""
    part = spark.read.parquet(_events_by_date(spark, sf_dir))

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum("event_id").alias("sum_ids"),
        )

    hwm = "2024-01-03"  # recorded by the simulated first run
    first = rollup(part.filter(F.col("event_date") <= hwm))
    incremental = rollup(part.filter(F.col("event_date") > hwm))
    return (
        first.unionByName(incremental)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_ids").alias("sum_ids"),
        )
    )


@query(
    "b106_product_profit_q9",
    oracle="""
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INT) AS o_year,
       CAST(SUM(l.l_extendedprice * (1 - l.l_discount)
                - 0.6 * p.p_retailprice * l.l_quantity) AS DOUBLE)
         AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2
""",
    tags=("relational", "join", "tpch"),
)
def b106_product_profit_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit measure): the canonical
    five-table join-aggregate — lineitem against a name-filtered part
    list, supplier -> nation for the selling country, orders for the
    fiscal year; profit = revenue minus cost (supply cost modeled as
    60% of p_retailprice — this corpus carries no partsupp table),
    rolled up per (nation, year).

    Scale shape: only the BOUNDED dims are broadcast-hinted (the
    name-filtered part list and the fixed ~25-row nation table);
    supplier grows linearly with the corpus SF, so its join carries
    NO hint — AQE broadcasts it while it fits and falls back to a
    key shuffle at the 100 TB north star where a forced hint would be
    an executor OOM. Orders shuffles on the order key; the p_name
    filter prunes part BEFORE its join (pushed to the scan); the
    rollup is one partial+final hash aggregate over
    ~|nations| x |years| groups — the plan a 100 TB star must
    compile to."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    )
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(sup, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            F.broadcast(nat), F.col("n_nationkey") == F.col("s_nationkey")
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


@query(
    "b107_local_supplier_volume_q5",
    oracle="""
SELECT n.n_name AS nation,
       CAST(SUM(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE)
         AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
                AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1
""",
    tags=("relational", "join", "tpch"),
)
def b107_local_supplier_volume_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): revenue per nation from
    orders where the CUSTOMER and the SUPPLIER share a nation inside
    one region — the classic star query whose distinguishing feature
    is the non-hierarchical ``s_nationkey = c_nationkey`` correlation
    BETWEEN two dimension arms, which forces the optimizer to carry
    the customer's nation through the fact join rather than treat the
    arms independently.

    Scale shape: region -> nation prunes to a ~5-nation broadcast
    before anything fact-sized runs; orders carries its date filter to
    the scan. Customer and supplier scale with the corpus SF, so
    their joins carry NO broadcast hint — AQE broadcasts them while
    they fit and shuffle-joins at the 100 TB north star (the
    canonical Q5 plan shuffle-joins orders x customer); the
    two-column supplier condition rides whichever strategy AQE
    picks. Group count is bounded by |nations|."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asian_nations = nat.join(
        F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            sup,
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(
            F.broadcast(asian_nations),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "b108_volume_shipping_q7",
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       CAST(SUM(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE)
         AS revenue
FROM supplier s
JOIN lineitem l ON l.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
       OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
""",
    tags=("relational", "join", "tpch"),
)
def b108_volume_shipping_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): trade volume BETWEEN two
    named nations, per direction per ship year — the query whose
    defining feature is a DISJUNCTIVE predicate over a PAIR of
    dimension arms ((supp, cust) = (A, B) or (B, A)), which no single
    arm can satisfy alone: the pair filter must run after both nation
    joins, while each arm's name filter still prunes its own tiny
    broadcast side.

    Scale shape: the same nation table joins twice under different
    roles (n1/n2 — alias-robustness the b04 chain never exercises);
    both nation arms broadcast (bounded); supplier and customer are
    SF-scaling, so their joins are unhinted — AQE broadcasts at test
    SFs, shuffle-joins at the 100 TB north star. The ship-date window
    pushes to the lineitem scan; output is bounded by
    2 directions x years."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load(spark, sf_dir, "nation")
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_13", "NATION_19"))
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_13", "NATION_19"))
    pair = (
        (F.col("supp_nation") == "NATION_13") & (F.col("cust_nation") == "NATION_19")
    ) | (
        (F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_13")
    )
    return (
        li.join(sup, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "b109_market_share_q8",
    oracle="""
SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
       CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
                     THEN l.l_extendedprice * (1 - l.l_discount)
                     ELSE 0 END)
            / SUM(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE)
         AS mkt_share
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n2.n_regionkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
GROUP BY 1
""",
    tags=("relational", "join", "tpch"),
)
def b109_market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): of all PROMO-part
    revenue sold INTO one region, the fraction supplied by one nation,
    per order year — the canonical conditional-aggregate RATIO (a
    share-of-total needs both sums in ONE pass; two scans would race
    the data twice and can disagree under updates).

    Scale shape: seven-table star. The BOUNDED dims broadcast by
    hint (type-filtered part, the region-pruned market nation list,
    the origin nation list); customer and supplier scale with SF and
    are unhinted — AQE broadcasts while they fit, shuffle-joins at
    100 TB. The numerator is a CASE inside the same partial+final
    aggregate as the denominator — one shuffle of |years| groups,
    never two jobs."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    market = (
        nat.join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("mkt_key"))
    )
    origin = nat.select(
        F.col("n_nationkey").alias("orig_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(market), F.col("mkt_key") == F.col("c_nationkey"))
        .join(sup, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(origin), F.col("orig_key") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0)))
                / F.sum(vol)
            )
            .cast("double")
            .alias("mkt_share")
        )
    )


@query(
    "b110_returned_items_q10",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       CAST(SUM(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE)
         AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-10-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    tags=("relational", "join", "tpch", "topk"),
)
def b110_returned_items_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): the 20 customers who
    returned the most revenue in one quarter — the support-desk
    escalation list. Distinguishing features: the selective flag
    filter lives on the FACT side (l_returnflag = 'R' pushes to the
    lineitem scan), the quarter window on orders, and a global top-20
    over a group-by whose key includes hydrated customer attributes.

    Scale shape: both filters reach their scans; nation (bounded)
    broadcasts by hint, customer (SF-scaling) is unhinted — AQE
    broadcasts it locally, shuffle-joins at 100 TB, which is the
    canonical Q10 plan. The top-20 compiles to TakeOrderedAndProject
    (pinned) — never a global sort of every customer's revenue."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = load(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "b111_promo_revenue_q14",
    oracle="""
SELECT CAST(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                             THEN l.l_extendedprice * (1 - l.l_discount)
                             ELSE 0 END)
            / SUM(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE)
         AS promo_revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
  AND l.l_shipdate < TIMESTAMP '1997-10-01'
""",
    tags=("relational", "join", "tpch"),
)
def b111_promo_revenue_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): the percentage of one
    month's revenue attributable to promotional parts — the simplest
    honest conditional-ratio query: one month of lineitem joined to
    part, numerator CASE and denominator in the SAME global aggregate
    (one job, one row out).

    Scale shape: the ship-month window prunes the fact scan; part
    broadcasts; the whole query is scan -> broadcast join -> one
    partial+final aggregate with no grouping key — the minimal plan
    for a global ratio at any corpus size."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01")
        & (F.col("l_shipdate") < "1997-10-01")
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)))
                / F.sum(vol)
            )
            .cast("double")
            .alias("promo_revenue")
        )
    )


@query(
    "b112_forecast_revenue_q6",
    oracle="""
SELECT CAST(SUM(l_extendedprice * l_discount) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("relational", "tpch"),
)
def b112_forecast_revenue_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the canonical pure
    scan-filter-aggregate — the revenue that WOULD have been earned
    had a discount band been eliminated for one ship year. No join,
    no grouping: the whole query is a conjunctive band predicate and
    one global SUM, which makes it the cleanest pushdown probe in the
    suite — every one of the three predicates must reach PushedFilters
    and the scan must read exactly four columns (plan-pinned).

    At 100 TB this query IS its scan: with the filters at the reader
    and the projection pruned, cost is bytes-scanned of four columns
    of the qualifying row groups, nothing else."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(F.col("l_extendedprice") * F.col("l_discount"))
        .cast("double")
        .alias("revenue")
    )


@query(
    "b113_large_volume_customer_q18",
    oracle="""
WITH big AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(l_quantity) > 200
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(SUM(l.l_quantity) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY 1, 2, 3, 4, 5
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
""",
    tags=("relational", "join", "tpch", "topk"),
)
def b113_large_volume_customer_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): the top-100 orders whose
    total line quantity clears a threshold, hydrated with the buying
    customer — the classic "whale report". Distinguishing shape: the
    qualifying set comes from an aggregate-HAVING over the SAME fact
    table the outer query re-joins (lineitem appears twice — once
    grouped for the filter, once for the display sum), so the
    qualifier compiles to a semi join from a grouped subquery, not a
    row filter; the final top-100 is TakeOrderedAndProject.

    Scale shape: the HAVING pass is one map-side-combinable groupBy on
    the order key; its output (rare whales) broadcasts into the outer
    join BY HINT (selectivity-bounded, not SF-bounded), so the
    expensive fact re-scan is pruned by a tiny in-list — at 100 TB
    the second lineitem pass joins against thousands of keys, not
    billions. Customer is SF-scaling and unhinted (AQE decides);
    the canonical Q18 plan shuffle-joins orders x customer."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 200)
        .select("l_orderkey")
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    return (
        li.join(
            F.broadcast(big.withColumnRenamed("l_orderkey", "__bk")),
            F.col("__bk") == F.col("l_orderkey"),
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .orderBy(
            F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey")
        )
        .limit(100)
    )


# --- Derived shipping columns (Q12/Q4/Q21 family) -------------------
#
# The driver corpus carries no l_shipmode / l_commitdate /
# l_receiptdate (TESTDATA.md); the round-10 verdict's closure plan is
# to DERIVE them as pure functions of existing keys so the DuckDB
# oracle replays them bit-for-bit (same query SHAPE as TPC-H, synthetic
# values — documented divergence). h = l_orderkey*31 + l_linenumber is
# a per-line deterministic mixer; commit is ship ± 30 days, receipt is
# ship + 1..30 days, mode is one of the seven TPC-H modes.

SHIP_MODES = ("MAIL", "SHIP", "AIR", "RAIL", "TRUCK", "FOB", "REG AIR")

#: DuckDB CTE defining lineitem_s — prepend to any oracle that needs
#: the derived columns. Kept textually parallel to
#: with_shipping_columns below; the differential gate enforces parity.
SHIPPING_CTE = """
WITH __h AS (
  SELECT *, (l_orderkey * 31 + l_linenumber) AS h FROM lineitem
), lineitem_s AS (
  SELECT *,
    CASE (h % 7) WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR'
      WHEN 3 THEN 'RAIL' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'FOB'
      ELSE 'REG AIR' END AS l_shipmode,
    l_shipdate + ((h % 61) - 30) * INTERVAL 1 DAY AS l_commitdate,
    l_shipdate + ((h * 7 % 30) + 1) * INTERVAL 1 DAY AS l_receiptdate
  FROM __h
)
"""


def with_shipping_columns(li: DataFrame) -> DataFrame:
    """Extend lineitem with deterministic l_shipmode / l_commitdate /
    l_receiptdate (pure column expressions — whole-stage codegen, no
    shuffle, no Python; at 100 TB this is free relative to the scan)."""
    h = F.col("l_orderkey") * 31 + F.col("l_linenumber")
    mode = F.element_at(
        F.array(*[F.lit(m) for m in SHIP_MODES]), (h % 7 + 1).cast("int")
    )
    commit = F.col("l_shipdate") + F.make_interval(
        days=((h % 61) - 30).cast("int")
    )
    receipt = F.col("l_shipdate") + F.make_interval(
        days=((h * 7) % 30 + 1).cast("int")
    )
    return (
        li.withColumn("l_shipmode", mode)
        .withColumn("l_commitdate", commit)
        .withColumn("l_receiptdate", receipt)
    )


@query(
    "b114_shipmode_priority_q12",
    oracle=SHIPPING_CTE
    + """
SELECT l.l_shipmode,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem_s l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipmode IN ('MAIL', 'SHIP')
  AND l.l_commitdate < l.l_receiptdate
  AND l.l_shipdate < l.l_commitdate
  AND l.l_receiptdate >= TIMESTAMP '1996-01-01'
  AND l.l_receiptdate < TIMESTAMP '1998-01-01'
GROUP BY 1
""",
    tags=("relational", "join", "tpch"),
)
def b114_shipmode_priority_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes and order priority): for two chosen
    ship modes, how many LATE lines (received after commitment,
    shipped before commitment) belonged to high- vs low-priority
    orders — the query whose defining feature is the three-way date
    ORDERING predicate between columns of the same row plus a
    conditional split on the joined dimension's attribute. The last
    TPC-H shape the registry was missing (round-10 verdict gap #2);
    the date/mode columns are derived (SHIPPING_CTE, documented
    divergence: synthetic values, canonical shape).

    Scale shape: every predicate is row-local on lineitem and
    evaluates in the scan's whole-stage-codegen filter BEFORE the
    join (none can reach PushedFilters — the columns are derived
    expressions, not parquet columns; on a corpus that materializes
    them, mode + receipt-window would push); the orders join is
    key-vs-key with no hint (AQE picks; at 100 TB both sides are
    facts and shuffle); the aggregate is a 2-group
    conditional-count pair."""
    li = with_shipping_columns(load(spark, sf_dir, "lineitem")).filter(
        F.col("l_shipmode").isin("MAIL", "SHIP")
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("l_shipdate") < F.col("l_commitdate"))
        & (F.col("l_receiptdate") >= "1996-01-01")
        & (F.col("l_receiptdate") < "1998-01-01")
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
    )


@query(
    "b115_order_priority_q4",
    oracle=SHIPPING_CTE
    + """
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
  AND o.o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem_s l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_commitdate < l.l_receiptdate)
GROUP BY 1
""",
    tags=("relational", "join", "tpch"),
)
def b115_order_priority_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking): per priority class, how
    many of one quarter's orders had at least one line received after
    its commitment date — the canonical EXISTS-against-the-fact query
    (a semi join whose probe side is an aggregate-free row predicate).

    Scale shape: the quarter window prunes the orders scan; the
    EXISTS compiles to a LEFT SEMI join on the order key against
    late lines (predicate evaluated scan-side on lineitem, row-local),
    so lineitem is filtered then semi-joined — never materialized per
    order; the final aggregate is |priorities| groups. No hint
    anywhere: both sides are facts at 100 TB and AQE picks the
    strategy."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    )
    late = (
        with_shipping_columns(load(spark, sf_dir, "lineitem"))
        .filter(F.col("l_commitdate") < F.col("l_receiptdate"))
        .select("l_orderkey")
    )
    return (
        orders.join(
            late, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("order_count"))
    )


@query(
    "b116_suppliers_kept_waiting_q21",
    oracle=SHIPPING_CTE
    + """
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM lineitem_s l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_receiptdate > l1.l_commitdate
  AND EXISTS (SELECT 1 FROM lineitem_s l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem_s l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_receiptdate > l3.l_commitdate)
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT 100
""",
    tags=("relational", "join", "tpch", "topk"),
)
def b116_suppliers_kept_waiting_q21(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): suppliers whose
    line was the ONLY late one on a multi-supplier finished order —
    the suite's hardest join shape (EXISTS + NOT EXISTS against the
    same fact table the outer query scans, three logical passes over
    lineitem). The reference corpus carries no nation filter column
    need — the canonical query's single-nation restriction is dropped
    (documented divergence; supplier count already bounds output).

    Scale shape: instead of translating the two correlated EXISTS
    into two more self-joins (three scans and three shuffles of the
    full fact), everything collapses into ONE per-order aggregate
    over a SINGLE lineitem scan: n_supp = countDistinct(supplier),
    n_late = countDistinct(supplier WHERE late), plus — because a
    qualifying order has EXACTLY ONE late supplier — that supplier's
    key (max over late lines) and its late-line count ride the same
    aggregate. EXISTS(other supplier) == n_supp > 1; NOT EXISTS(other
    late supplier) == n_late = 1; the outer per-line COUNT(*) by
    supplier == sum of qualifying orders' late-line counts. Plan:
    lineitem scanned ONCE (pinned <= 3 parquet scans incl. orders +
    supplier), shuffled once on the order key; the DuckDB oracle
    keeps the textbook double-EXISTS form so the differential proves
    the rewrite. Supplier hydration happens AFTER the aggregate
    (bounded rows); the top-100 is TakeOrderedAndProject."""
    li = with_shipping_columns(load(spark, sf_dir, "lineitem")).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_receiptdate") > F.col("l_commitdate")).alias("__late"),
    )
    orders_f = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    per_order = (
        li.join(orders_f, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("__n_supp"),
            F.countDistinct(
                F.when(F.col("__late"), F.col("l_suppkey"))
            ).alias("__n_late"),
            F.max(
                F.when(F.col("__late"), F.col("l_suppkey"))
            ).alias("__late_supp"),
            F.sum(
                F.when(F.col("__late"), 1).otherwise(0)
            ).alias("__late_lines"),
        )
    )
    waiting = (
        per_order.filter((F.col("__n_supp") > 1) & (F.col("__n_late") == 1))
        .groupBy(F.col("__late_supp").alias("l_suppkey"))
        .agg(F.sum("__late_lines").cast("long").alias("numwait"))
    )
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(
            F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey")
        )
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


@query(
    "b117_small_qty_revenue_q17",
    oracle="""
SELECT CAST(SUM(l.l_extendedprice) / 7.0 AS DOUBLE) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1' AND p.p_size < 15
  AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                      FROM lineitem l2
                      WHERE l2.l_partkey = p.p_partkey)
""",
    tags=("relational", "join", "tpch", "subquery"),
)
def b117_small_qty_revenue_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): yearly revenue lost
    if small orders (below 20% of a part's average order quantity)
    were no longer filled, for one brand/size band — the canonical
    correlated-aggregate-threshold query (the subquery's AVG is per
    OUTER part). The corpus has no p_container; p_size < 15 stands in
    (documented divergence, same shape).

    Scale shape: the brand/size filter broadcasts the surviving part
    keys, which SEMI-prunes lineitem before anything aggregates —
    and because the correlated AVG is keyed on p_partkey alone, it
    only needs the lines of FILTERED parts (every line of a filtered
    part survives the key prune), so the per-part threshold aggregate
    runs over the pruned fact, not the full one. One shuffle on the
    part key shared by threshold + join; the final SUM is global.
    The DuckDB oracle keeps the textbook correlated form to prove the
    decorrelation."""
    part_keys = (
        load(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#1") & (F.col("p_size") < 15))
        .select("p_partkey")
    )
    lines = load(spark, sf_dir, "lineitem").join(
        F.broadcast(part_keys), F.col("p_partkey") == F.col("l_partkey")
    )
    thresholds = lines.groupBy(F.col("l_partkey").alias("__tk")).agg(
        (F.avg("l_quantity") * 0.2).alias("__thresh")
    )
    return (
        lines.join(thresholds, F.col("__tk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("__thresh"))
        .agg((F.sum("l_extendedprice") / 7.0).cast("double").alias("avg_yearly"))
    )


@query(
    "b118_kll_quantile_at_rest",
    oracle="""
SELECT CAST(COUNT(DISTINCT date_trunc('month', l_shipdate)) AS BIGINT)
         AS n_months,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       TRUE AS n_parity, TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
FROM lineitem
""",
    tags=("relational", "sketch", "approx", "at-rest"),
)
def b118_kll_quantile_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KLL quantile sketches AT REST (Karnin-Lang-Liberty
    2016, Spark 4.1's Datasketches built-ins) — the b41/d91 sketch-at-
    rest story for QUANTILES: one `kll_sketch_agg_double` per ship-
    month of l_extendedprice is persisted to parquet (the rollup a
    warehouse maintains incrementally), and any ad-hoc horizon query
    answers p50/p95/p99 by MERGING the at-rest sketches
    (`kll_merge_agg_double`) — never re-scanning the fact table. At
    100 TB that's the difference between a full-table percentile sort
    per dashboard refresh and reading ~200 doubles per month
    partition.

    Gates (all-TRUE oracle, plus two value-exact columns):
    - ``n_parity`` — every persisted sketch's `kll_sketch_get_n`
      EQUALS the month's exact row count (KLL tracks n exactly; a
      mismatch means rows were lost in the rollup or the merge);
    - ``p50/p95/p99_ok`` — the TRUE rank of each merged-sketch
      quantile estimate is within 2.5% of the requested rank (k=200's
      documented ~1.3-1.65% normalized rank error with headroom) —
      checked against the exact one-pass conditional recount, which
      exists only to verify the sketch.

    n_months and n_total are value-exact. Scale shape: sketch build is
    ONE map-side-combinable groupBy; the merged estimate reads months
    × ~1 KB sketches; the verification recount is one conditional
    aggregate pass (no sort, no window)."""
    li = load(spark, sf_dir, "lineitem").select(
        F.date_trunc("month", F.col("l_shipdate")).alias("month"),
        F.col("l_extendedprice").cast("double").alias("price"),
    )
    out = derived(
        "b118_kll",
        f"{sf_dir}/lineitem.parquet",
        lambda d: li.groupBy("month")
        .agg(
            F.kll_sketch_agg_double("price").alias("sk"),
            F.count("*").alias("n_exact"),
        )
        .write.mode("overwrite")
        .parquet(d),
    )
    at_rest = spark.read.parquet(out)
    merged = at_rest.agg(
        F.kll_merge_agg_double("sk").alias("sk_all"),
        F.sum("n_exact").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_months"),
        F.min(
            F.kll_sketch_get_n_double("sk") == F.col("n_exact")
        ).alias("n_parity"),
    ).select(
        "n_months",
        "n_total",
        "n_parity",
        F.kll_sketch_get_quantile_double("sk_all", F.lit(0.5)).alias("e50"),
        F.kll_sketch_get_quantile_double("sk_all", F.lit(0.95)).alias("e95"),
        F.kll_sketch_get_quantile_double("sk_all", F.lit(0.99)).alias("e99"),
    )
    ranks = li.crossJoin(broadcast(merged)).agg(
        F.first("n_months").alias("n_months"),
        F.first("n_total").alias("n_total"),
        F.first("n_parity").alias("n_parity"),
        (F.sum(F.when(F.col("price") <= F.col("e50"), 1).otherwise(0)) / F.count("*")).alias("r50"),
        (F.sum(F.when(F.col("price") <= F.col("e95"), 1).otherwise(0)) / F.count("*")).alias("r95"),
        (F.sum(F.when(F.col("price") <= F.col("e99"), 1).otherwise(0)) / F.count("*")).alias("r99"),
    )
    eps = 0.025
    return ranks.select(
        "n_months",
        "n_total",
        "n_parity",
        (F.abs(F.col("r50") - 0.5) <= eps).alias("p50_ok"),
        (F.abs(F.col("r95") - 0.95) <= eps).alias("p95_ok"),
        (F.abs(F.col("r99") - 0.99) <= eps).alias("p99_ok"),
    )


@query(
    "b119_multitouch_attribution",
    oracle=MULTITOUCH_ORACLE,
    tags=("relational", "attribution", "analytics"),
)
def b119_multitouch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """U-shaped (position-based) MULTI-TOUCH attribution — the
    marketing-analytics staple b87/s43's last-touch model is the
    degenerate case of: each purchase's value is credited across
    every view/click/signup touch by the same user in the prior 7
    days — 40% to the first touch, 40% to the last, the middle 20%
    split evenly (1 touch = 100%, 2 touches = 50/50) — then rolled
    up per channel.

    Exactness: per-touch credit is quantized to integer MICROS before
    the channel rollup, so the sum is order-independent integer math;
    the touch ranking carries the (ts, event_id) tie-breaker.

    Scale shape: the touch join is an EQUI-join on user_id (the range
    predicates ride along as join filters — never a theta join), so
    it shuffles by user and AQE can re-plan skewed users; the
    per-purchase window is bounded by the 7-day horizon; the channel
    rollup is map-side combined."""
    events = load(spark, sf_dir, "events")
    purch = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        "value",
    )
    touches = events.filter(
        F.col("event_type").isin("view", "click", "signup")
    ).select("user_id", F.col("event_type").alias("channel"), "ts", "event_id")
    joined = purch.join(
        touches,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("ts") < F.col("p_ts"))
        & (F.col("ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    w = Window.partitionBy("p_id").orderBy("ts", "event_id")
    ranked = joined.select(
        "p_id",
        "value",
        "channel",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("p_id")).alias("n"),
    )
    weight = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return (
        ranked.select(
            "channel",
            F.round(F.col("value") * weight * 1e6).cast("long").alias("cr"),
        )
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            (F.sum("cr").cast("long") / F.lit(1e6)).alias("credited_value"),
        )
        .orderBy("channel")
    )


@query(
    "b120_rfm_segments",
    oracle="""
WITH anchor AS (SELECT MAX(o_orderdate) AS mx FROM orders),
cust AS (
  SELECT o_custkey AS c,
         CAST(date_diff('day', MAX(o_orderdate), anchor.mx) AS BIGINT)
           AS rec,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS mon
  FROM orders, anchor GROUP BY 1, anchor.mx
), bounds AS (
  SELECT quantile_cont(rec, [0.2, 0.4, 0.6, 0.8]) AS rb,
         quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fb,
         quantile_cont(mon, [0.2, 0.4, 0.6, 0.8]) AS mb
  FROM cust
), scored AS (
  SELECT c, rec, freq, mon,
    5 - ((rec > rb[1])::INT + (rec > rb[2])::INT
         + (rec > rb[3])::INT + (rec > rb[4])::INT) AS r,
    1 + ((freq > fb[1])::INT + (freq > fb[2])::INT
         + (freq > fb[3])::INT + (freq > fb[4])::INT) AS f,
    1 + ((mon > mb[1])::INT + (mon > mb[2])::INT
         + (mon > mb[3])::INT + (mon > mb[4])::INT) AS m
  FROM cust, bounds
)
SELECT CASE
         WHEN r >= 4 AND f >= 4 AND m >= 4 THEN 'champion'
         WHEN f >= 4 THEN 'loyal'
         WHEN m >= 4 THEN 'big_spender'
         WHEN r <= 2 AND f >= 3 THEN 'at_risk'
         WHEN r <= 2 THEN 'hibernating'
         ELSE 'casual' END AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(mon AS DECIMAL(18,2))) AS DOUBLE) AS total_monetary,
       CAST(SUM(freq) AS BIGINT) AS total_orders
FROM scored GROUP BY 1 ORDER BY 1
""",
    tags=("relational", "analytics", "segmentation"),
)
def b120_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary) —
    the marketing-analytics workhorse: per customer, days since last
    order vs the corpus anchor, order count, and decimal-exact spend;
    each dimension scored 1-5 and customers rolled into named
    segments (champion / loyal / big_spender / at_risk / hibernating
    / casual).

    Scale shape — the deliberate NTILE swap: quintile scores come
    from COMPARING against the four percentile BOUNDARIES (one
    map-side-combinable aggregate + a 1-row broadcast), never from
    ``NTILE() OVER (ORDER BY ...)`` — the global-ordering window that
    serializes the whole customer dimension through one task at
    100 TB. Boundary doubles are engine-identical (d105's probed
    percentile ≡ quantile_cont parity); spend is summed as
    DECIMAL(18,2) (order-free exact)."""
    orders = load(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("mx"))
    cust = (
        orders.crossJoin(broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("mx"), F.max("o_orderdate"))
            .cast("long")
            .alias("rec"),
            F.count("*").cast("long").alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("mon"),
        )
    )
    qs = F.array(F.lit(0.2), F.lit(0.4), F.lit(0.6), F.lit(0.8))
    bounds = cust.agg(
        F.percentile("rec", qs).alias("rb"),
        F.percentile("freq", qs).alias("fb"),
        F.percentile("mon", qs).alias("mb"),
    )

    def _score(v, b):
        hits = sum(
            (F.col(v) > F.element_at(b, i)).cast("int") for i in range(1, 5)
        )
        return hits

    scored = cust.crossJoin(broadcast(bounds)).select(
        "rec",
        "freq",
        "mon",
        (F.lit(5) - _score("rec", F.col("rb"))).alias("r"),
        (F.lit(1) + _score("freq", F.col("fb"))).alias("f"),
        (F.lit(1) + _score("mon", F.col("mb"))).alias("m"),
    )
    seg = (
        F.when(
            (F.col("r") >= 4) & (F.col("f") >= 4) & (F.col("m") >= 4),
            "champion",
        )
        .when(F.col("f") >= 4, "loyal")
        .when(F.col("m") >= 4, "big_spender")
        .when((F.col("r") <= 2) & (F.col("f") >= 3), "at_risk")
        .when(F.col("r") <= 2, "hibernating")
        .otherwise("casual")
    )
    return (
        scored.select(seg.alias("segment"), "mon", "freq")
        .groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum(F.col("mon").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_monetary"),
            F.sum("freq").cast("long").alias("total_orders"),
        )
        .orderBy("segment")
    )
