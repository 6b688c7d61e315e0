"""Relational operator battery over the TPC-H-ish testdata tables.

Each query exercises one operator family from SURVEY.md §2 through the
library in ``cehrbert_data_spark.operators`` and has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cehrbert_data_spark.operators.aggregations import (
    distinct_frequency_filter,
    exact_avg,
    exact_sum,
    histogram_quantile,
    hourly_mean,
    winsorize_bounds,
)
from cehrbert_data_spark.operators.joins import (
    anti_filter,
    asof_join,
    interval_join,
    semi_filter,
    with_scalar_max,
)
from cehrbert_data_spark.operators.partitioning import widen_for_fanout
from cehrbert_data_spark.operators.windows import (
    ordered_rank,
    prev_value,
    sessionize,
    top_n_per_group,
)
from cehrbert_data_spark.sources.readers import read_table


# --- A1: multi-function hash aggregation (TPC-H Q1 shape) -------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen_for_fanout (guide §2.5): the testdata parquet is a single row
    # group, so the scan — and with it the whole decimal partial-agg map
    # side — is ONE task no matter how many cores exist. The hash widen on
    # the high-cardinality orderkey spreads the partial aggregation across
    # the cluster without round-robin's pre-sort; at real scale the input
    # is already wide and this is a no-op (r11: exec median 1.23 s -> 0.54 s,
    # OPTIMIZATION_r11.md).
    li = widen_for_fanout(read_table(spark, sf_dir, "lineitem"), by="l_orderkey")
    # Single-expr agg builds (r11 §7 discipline): same analyzed trees as the
    # composed-Column forms, a fraction of the Py4J round trips.
    return (
        li.where("l_shipdate <= CAST('1998-09-02' AS TIMESTAMP)")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            F.expr(
                "CAST(SUM(CAST(l_extendedprice * (1 - l_discount)"
                " AS DECIMAL(20,6))) AS DOUBLE) AS sum_disc_price"
            ),
            exact_avg("l_quantity").alias("avg_qty"),
            exact_avg("l_extendedprice").alias("avg_price"),
            F.expr("COUNT(1) AS count_order"),
        )
    )


# Oracle-side DECIMAL->DOUBLE casts are routed through VARCHAR (here and at
# every unbounded-sum site in this module): DuckDB's direct cast converts the
# scaled int128 to double FIRST and then divides by 10^scale -- two roundings
# -- while Spark's decimal->double is correctly rounded from the decimal
# value. The paths agree while the scaled integer stays under 2^53 and can
# differ by 1 ulp beyond it; first observed at the 1000x rung (600M-row
# lineitem: sum_disc_price 2679535128980.000000 read back as
# ...979.9995, avg_price off by 1 ulp). VARCHAR->DOUBLE (strtod) is
# correctly rounded, so both engines produce the bit-identical double of the
# same exact decimal at any scale. Values are unchanged wherever the old
# form already matched.
Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
       CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --- P1/P2/P4/P5/P6/P7: projection, rename, cast, filters -------------------

def p_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    band = (
        F.when(F.col("l_extendedprice") < 20000, F.lit("low"))
        .when(F.col("l_extendedprice") < 60000, F.lit("mid"))
        .otherwise(F.lit("high"))
    )
    return (
        li.where(
            F.col("l_quantity").between(10, 20)
            & F.col("l_returnflag").isin("A", "R")
            & F.col("l_shipdate").isNotNull()
        )
        .select(
            F.col("l_orderkey").alias("okey"),
            F.col("l_linenumber").cast("long").alias("line_no"),
            band.alias("price_band"),
            F.coalesce(F.col("l_discount"), F.lit(0.0)).alias("disc"),
        )
        .groupBy("price_band")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("okey").alias("n_orders"),
            exact_sum("disc", "decimal(20,6)").alias("sum_disc"),
        )
    )


P_FILTER_SQL = """
WITH f AS (
  SELECT l_orderkey AS okey,
         CAST(l_linenumber AS BIGINT) AS line_no,
         CASE WHEN l_extendedprice < 20000 THEN 'low'
              WHEN l_extendedprice < 60000 THEN 'mid'
              ELSE 'high' END AS price_band,
         COALESCE(l_discount, 0.0) AS disc
  FROM lineitem
  WHERE l_quantity BETWEEN 10 AND 20
    AND l_returnflag IN ('A', 'R')
    AND l_shipdate IS NOT NULL
)
SELECT price_band, COUNT(*) AS n_rows, COUNT(DISTINCT okey) AS n_orders,
       CAST(CAST(SUM(CAST(disc AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sum_disc
FROM f GROUP BY price_band
"""


# --- J1: equi inner join ----------------------------------------------------

def j1_equi_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, F.expr("o_custkey = c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.expr("count(1) AS n_orders"),
            exact_sum("o_totalprice").alias("sum_price"),
        )
    )


J1_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE) AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# --- J2: left outer join ----------------------------------------------------

def j2_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


J2_SQL = """
SELECT c_custkey, COUNT(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


# --- J3: left semi (EXISTS) -------------------------------------------------

def j3_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    f_orders = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        semi_filter(cust, f_orders, "c_custkey")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


J3_SQL = """
SELECT c_nationkey, COUNT(*) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
GROUP BY c_nationkey
"""


# --- J4: left anti (NOT EXISTS) ---------------------------------------------

def j4_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join against a data-dependent SUBSET of orders (totalprice cut):
    every customer has SOME order in the testdata, so anti-joining the full
    order set returns 0 rows at every SF — a vacuous oracle (both engines
    matching on empty proves nothing). The cut leaves a non-empty,
    SF-dependent remainder that actually exercises anti semantics."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    big_order_keys = orders.where(F.col("o_totalprice") > 350000.0).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        anti_filter(cust, big_order_keys, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


J4_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 350000.0)
GROUP BY c_mktsegment
"""


# --- J5: scalar-broadcast cross join ----------------------------------------

def j5_scalar_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    with_max = with_scalar_max(part, "p_retailprice", "max_price")
    return with_max.where(
        F.col("p_retailprice") >= 0.95 * F.col("max_price")
    ).select("p_partkey", "p_retailprice", "max_price")


J5_SQL = """
SELECT p_partkey, p_retailprice, m.max_price
FROM part, (SELECT MAX(p_retailprice) AS max_price FROM part) m
WHERE p_retailprice >= 0.95 * m.max_price
"""


# --- J6: interval (range) join ----------------------------------------------

def j6_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipments within 7 days of ordering: equi-key (orderkey) + point-in-
    range, the reference's event-within-visit-span shape
    (utils/spark_utils.py:740-747)."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    od = orders.selectExpr("o_orderkey AS k", "o_orderpriority", "o_orderdate")
    sh = li.selectExpr("l_orderkey AS k", "l_shipdate", "l_linenumber")
    joined = interval_join(
        sh,
        od,
        on="k",
        point=sh["l_shipdate"],
        lower=od["o_orderdate"],
        upper=F.expr("o_orderdate + INTERVAL 7 DAYS"),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.expr("count(1) AS n_matches"),
        F.expr("count(DISTINCT k) AS n_orders"),
    )


J6_SQL = """
SELECT o.o_orderpriority, COUNT(*) AS n_matches, COUNT(DISTINCT o.o_orderkey) AS n_orders
FROM lineitem l JOIN orders o
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 7 DAY
GROUP BY o.o_orderpriority
"""


# --- J7: as-of join (nearest match after range join) ------------------------

def j7_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First shipment per order within a year of ordering — interval join
    then rank-1 per left row (the reference's best-candidate-visit match,
    utils/spark_utils.py:748-752)."""
    orders = read_table(spark, sf_dir, "orders")
    # Hash widen (guide §2.5): the broadcast probe of 600k lineitems against
    # the orders hash table otherwise runs on the single-row-group scan's
    # one task (r11: window-form exec 0.75 s -> 0.56 s median; no-op at
    # real scale).
    li = widen_for_fanout(read_table(spark, sf_dir, "lineitem"), by="l_orderkey")
    od = orders.selectExpr("o_orderkey AS k", "o_orderdate")
    sh = li.selectExpr("l_orderkey AS k", "l_shipdate", "l_linenumber")
    # strategy="agg" (r11, guide §2.3): the rank-1 winner is elected by
    # min(struct(l_shipdate, l_linenumber, …)) partial aggregation instead
    # of a row_number over the full candidate fan-out — the exchange carries
    # ~|orders| rows, not Σ|candidates|, and a hot order key cannot
    # serialize one reducer's sort. (l_shipdate, l_linenumber) is a total
    # order within each order (linenumber is unique per order), so the
    # winner — and the oracle — is identical to the window form's
    # (re-gated against the DuckDB oracle at sf0.001/sf0.01 this round).
    matched = asof_join(
        od,
        sh,
        on="k",
        point=sh["l_shipdate"],
        lower=od["o_orderdate"],
        upper=F.expr("o_orderdate + INTERVAL 365 DAYS"),
        metric=["l_shipdate", "l_linenumber"],
        left_key="k",
        strategy="agg",
    )
    return matched.selectExpr("k AS o_orderkey", "l_shipdate", "l_linenumber")


J7_SQL = """
SELECT o_orderkey, l_shipdate, l_linenumber FROM (
  SELECT o.o_orderkey, l.l_shipdate, l.l_linenumber,
         ROW_NUMBER() OVER (PARTITION BY o.o_orderkey ORDER BY l.l_shipdate, l.l_linenumber) AS rn
  FROM orders o JOIN lineitem l
    ON l.l_orderkey = o.o_orderkey
   AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 365 DAY
) WHERE rn = 1
"""


# --- J7b: merge-form as-of join (union + one window, no pair fan-out) --------

def j7b_asof_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase event joined to the user's most recent 'view' event
    at-or-before it — the unbounded-lookback as-of, computed by the merge
    form (operators/joins.py asof_join_union): one shuffle + sort of
    views ∪ purchases per user, never |purchases| × |views| candidate pairs."""
    from cehrbert_data_spark.operators.joins import asof_join_union

    events = read_table(spark, sf_dir, "events")
    views = events.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_event_id"),
        F.col("value").alias("view_value"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_event_id"), "ts"
    )
    return asof_join_union(
        purchases, views, on="user_id", left_ts="ts", right_ts="view_ts"
    ).select(
        "purchase_event_id", "user_id", "ts",
        "view_event_id", "view_ts", "view_value",
    )


J7B_SQL = """
SELECT purchase_event_id, user_id, ts, view_event_id, view_ts, view_value
FROM (
  SELECT p.event_id AS purchase_event_id, p.user_id, p.ts,
         v.event_id AS view_event_id, v.ts AS view_ts, v.value AS view_value,
         ROW_NUMBER() OVER (
             PARTITION BY p.event_id ORDER BY v.ts DESC, v.event_id DESC
         ) AS rn
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  JOIN (SELECT * FROM events WHERE event_type = 'view') v
    ON p.user_id = v.user_id AND v.ts <= p.ts
) WHERE rn = 1
"""


# --- J6b: bucketed overlap join (no selective equi key) ----------------------

def j6b_overlap_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders of nation-1 customers vs ALL orders whose 7-day fulfilment
    windows overlap — a pure time-overlap join with no selective equality
    key, executed by epoch bucketing (operators/joins.py
    overlap_join_buckets): explode to week buckets, equi-join on bucket id,
    credit each pair exactly once in its first shared bucket. The plan the
    naive formulation would run as a nested-loop cartesian."""
    from cehrbert_data_spark.operators.joins import overlap_join_buckets

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    lft = (
        orders.join(
            F.broadcast(customer.where(F.col("c_nationkey") == 1)),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .select(
            F.col("o_orderkey").alias("lk"),
            F.col("o_orderdate").alias("l_s"),
            F.expr("o_orderdate + INTERVAL 7 DAYS").alias("l_e"),
        )
    )
    rgt = orders.select(
        "o_orderkey", "o_orderpriority",
        F.col("o_orderdate").alias("r_s"),
        F.expr("o_orderdate + INTERVAL 7 DAYS").alias("r_e"),
    )
    pairs = overlap_join_buckets(
        lft, rgt, "l_s", "l_e", "r_s", "r_e",
        extra_condition=F.col("lk") != F.col("o_orderkey"),
    )
    return pairs.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_overlaps"),
        F.countDistinct("lk").alias("n_left_orders"),
    )


J6B_SQL = """
WITH lft AS (
  SELECT o.o_orderkey AS lk, o.o_orderdate AS l_s,
         o.o_orderdate + INTERVAL 7 DAY AS l_e
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_nationkey = 1
),
rgt AS (
  SELECT o_orderkey, o_orderpriority, o_orderdate AS r_s,
         o_orderdate + INTERVAL 7 DAY AS r_e
  FROM orders
)
SELECT r.o_orderpriority, COUNT(*) AS n_overlaps,
       COUNT(DISTINCT l.lk) AS n_left_orders
FROM lft l JOIN rgt r
  ON l.l_s <= r.r_e AND r.r_s <= l.l_e AND l.lk <> r.o_orderkey
GROUP BY r.o_orderpriority
"""


# --- J8: self join ------------------------------------------------------------

def j8_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = read_table(spark, sf_dir, "nation")
    a = nation.alias("a")
    b = nation.alias("b")
    return (
        a.join(
            b,
            (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
            & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
        )
        .select(
            F.col("a.n_regionkey").alias("regionkey"),
            F.col("a.n_name").alias("nation_a"),
            F.col("b.n_name").alias("nation_b"),
        )
    )


J8_SQL = """
SELECT a.n_regionkey AS regionkey, a.n_name AS nation_a, b.n_name AS nation_b
FROM nation a JOIN nation b
  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
"""


# --- J10: theta join on date arithmetic --------------------------------------

def j10_theta_datediff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join on date arithmetic (the reference's DATEDIFF-window
    outcome join, prediction_cohorts/hospitalization.py:40-43): lineitems
    shipped 0–3 days after their order."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    od = orders.select(F.col("o_orderkey").alias("k"), "o_orderpriority", "o_orderdate")
    sh = li.select(F.col("l_orderkey").alias("k"), "l_shipdate")
    cond = (od["k"] == sh["k"]) & (
        F.datediff(F.to_date(sh["l_shipdate"]), F.to_date(od["o_orderdate"])).between(0, 3)
    )
    return (
        od.join(sh, cond)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


J10_SQL = """
SELECT o.o_orderpriority, COUNT(*) AS n_pairs
FROM orders o JOIN lineitem l
  ON o.o_orderkey = l.l_orderkey
 AND DATEDIFF('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) BETWEEN 0 AND 3
GROUP BY o.o_orderpriority
"""


# --- A2: hourly-bucket mean ---------------------------------------------------

def a2_hourly_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hash widen on the group key (guide §2.5 + §2.4): parallelizes the
    # single-row-group scan's decimal partial agg, and because user_id is a
    # subset of the groupBy keys the aggregation reuses this exchange — the
    # query still shuffles exactly once (r11: exec 0.47 s -> 0.38 s median;
    # no-op at real scale where the scan is already wide).
    events = widen_for_fanout(read_table(spark, sf_dir, "events"), by="user_id")
    return hourly_mean(events, ["user_id"], "ts", "value")


A2_SQL = """
SELECT user_id, CAST(ts AS DATE) AS bucket_date, EXTRACT(HOUR FROM ts) AS bucket_hour,
       MIN(ts) AS first_ts,
       CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) / COUNT(value) AS mean_value,
       COUNT(value) AS n
FROM events
GROUP BY user_id, CAST(ts AS DATE), EXTRACT(HOUR FROM ts)
"""


# --- A5: distinct-entity frequency filter -------------------------------------

def a5_freq_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    part_cust = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select(F.col("l_partkey").alias("partkey"), "o_custkey")
    return distinct_frequency_filter(part_cust, "partkey", "o_custkey", 10)


A5_SQL = """
SELECT l_partkey AS partkey, COUNT(DISTINCT o_custkey) AS freq
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_partkey HAVING COUNT(DISTINCT o_custkey) >= 10
"""


# --- A6: conditional aggregation ----------------------------------------------

def a6_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    high = F.sum(F.when(F.col("value") > 10.0, 1).otherwise(0))
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        high.alias("n_high"),
        (high.cast("double") / F.count(F.lit(1))).alias("high_rate"),
    )


A6_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CASE WHEN value > 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       CAST(SUM(CASE WHEN value > 10.0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS high_rate
FROM events GROUP BY event_type
"""


# --- A7: percentile (winsorization bounds) --------------------------------------

def a7_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    bounds = winsorize_bounds(li, ["l_returnflag"], "l_extendedprice")
    return bounds.select(
        "l_returnflag",
        F.round("lower_bound", 6).alias("lower_bound"),
        F.round("upper_bound", 6).alias("upper_bound"),
        "n",
    )


A7_SQL = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.01), 6) AS lower_bound,
       ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS upper_bound,
       COUNT(l_extendedprice) AS n
FROM lineitem GROUP BY l_returnflag
"""


# --- A8: moment statistics (exact, order-independent) ----------------------------

def a8_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/stddev over money via INTEGER-CENTS sufficient statistics.

    Round-8 hardening: the previous form squared the raw double and cast
    the product to DECIMAL(…,6) — Spark rounds that cast HALF_UP, DuckDB
    HALF_EVEN, a per-row 1-ulp wobble that a 6-dp output round absorbed at
    small SFs but which accumulated past it at 15M rows (caught by the
    100× sweep). Quantizing to cents FIRST (round(x*100) → BIGINT, exact
    and identical in both engines) makes every accumulator a scale-0
    decimal: products exact, sums exact, and the final decimal→double
    casts are pure int→double conversions (correctly rounded identically
    everywhere — scale-6 casts divide by 10^6 along engine-specific
    paths). The double expressions then see identical operands and return
    identical bits; the 6-dp round on std stays as belt-and-suspenders for
    the sqrt boundary."""
    orders = read_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long").cast("decimal(15,0)")
    s = F.sum(cents).cast("double")
    sq = F.sum(cents * cents).cast("double")
    n = F.count("o_totalprice")
    mean = s / n / 100.0
    var = (sq - s * s / n) / (n - 1)
    return orders.groupBy("o_orderstatus").agg(
        mean.alias("mean_price"),
        F.round(F.sqrt(var) / 100.0, 6).alias("std_price"),
        n.alias("n"),
    )


A8_SQL = """
WITH c AS (
  SELECT o_orderstatus, o_totalprice,
         CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS DECIMAL(15,0)) AS cents
  FROM orders
)
SELECT o_orderstatus,
       CAST(SUM(cents) AS DOUBLE) / COUNT(o_totalprice) / 100.0 AS mean_price,
       ROUND(SQRT((CAST(SUM(cents * cents) AS DOUBLE)
             - CAST(SUM(cents) AS DOUBLE)
               * CAST(SUM(cents) AS DOUBLE) / COUNT(o_totalprice))
            / (COUNT(o_totalprice) - 1)) / 100.0, 6) AS std_price,
       COUNT(o_totalprice) AS n
FROM c GROUP BY o_orderstatus
"""


# --- W1/O2: row_number top-1 per group -------------------------------------------

def w1_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return top_n_per_group(
        orders,
        ["o_custkey"],
        ["o_orderdate DESC", "o_orderkey DESC"],
        n=1,
    ).select("o_custkey", "o_orderkey", "o_orderdate")


W1_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
"""


def o2_top1_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2, agg form under its own driver verdict: the same latest-order
    rank-1 as w1_latest_order, elected by max(struct(...)) partial
    aggregation instead of a window (operators/windows.py
    top1_per_group_agg — the r10 relink promotion generalized; flat under
    hot keys, SWEEP_SKEW_r11). (o_orderdate, o_orderkey) is a total order
    within each custkey, so the winner — and therefore the oracle — is
    identical to the window form's."""
    from cehrbert_data_spark.operators.windows import top1_per_group_agg

    orders = read_table(spark, sf_dir, "orders")
    return top1_per_group_agg(
        orders, ["o_custkey"], ["o_orderdate", "o_orderkey"], descending=True
    ).select("o_custkey", "o_orderkey", "o_orderdate")


# --- W2: dense_rank ---------------------------------------------------------------

def w2_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    sup = read_table(spark, sf_dir, "supplier")
    rev = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_nationkey", "s_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(20,6)"
                )
            ).alias("revenue_d")
        )
    )
    ranked = ordered_rank(
        rev,
        ["s_nationkey"],
        ["revenue_d DESC", "s_suppkey ASC"],
        out="rank_in_nation",
        kind="dense_rank",
    )
    return ranked.where(F.col("rank_in_nation") <= 3).select(
        "s_nationkey",
        "s_suppkey",
        F.col("revenue_d").cast("double").alias("revenue"),
        "rank_in_nation",
    )


W2_SQL = """
WITH rev AS (
  SELECT s_nationkey, s_suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS revenue_d
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY s_nationkey, s_suppkey
)
SELECT s_nationkey, s_suppkey, CAST(CAST(revenue_d AS VARCHAR) AS DOUBLE) AS revenue, rank_in_nation FROM (
  SELECT *, DENSE_RANK() OVER (PARTITION BY s_nationkey ORDER BY revenue_d DESC, s_suppkey) AS rank_in_nation
  FROM rev
) WHERE rank_in_nation <= 3
"""


# --- W4: lag ------------------------------------------------------------------------

def w4_days_since_prev(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    with_prev = prev_value(
        orders,
        "o_orderdate",
        ["o_custkey"],
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        out="prev_date",
    )
    return with_prev.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.to_date("prev_date")).alias(
            "days_since_prev"
        ),
    )


W4_SQL = """
SELECT o_orderkey, o_custkey,
       DATEDIFF('day', CAST(LAG(o_orderdate) OVER w AS DATE), CAST(o_orderdate AS DATE)) AS days_since_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# --- W5/W6: first_value & max-over-partition -----------------------------------------

def w5_first_and_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = read_table(spark, sf_dir, "orders")
    w_ord = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    w_part = W.partitionBy("o_custkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderdate").over(w_ord).alias("first_order_date"),
        F.max("o_totalprice").over(w_part).alias("max_price_of_cust"),
        F.count(F.lit(1)).over(w_part).alias("n_orders_of_cust"),
    )


W5_SQL = """
SELECT o_orderkey, o_custkey,
       FIRST_VALUE(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS first_order_date,
       MAX(o_totalprice) OVER (PARTITION BY o_custkey) AS max_price_of_cust,
       COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders_of_cust
FROM orders
"""


# --- W7: sessionization (running-sum window over explicit frame) ----------------------

def w7_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    sessions = sessionize(
        events,
        ["user_id"],
        ["ts ASC", "event_id ASC"],
        ts="ts",
        gap=1800.0,
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.expr("count(1) AS n_events"),
        F.expr("min(ts) AS session_start"),
        F.expr("max(ts) AS session_end"),
    )


W7_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN EPOCH(ts) - EPOCH(LAG(ts) OVER w) > 1800.0 THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sessions GROUP BY user_id, session_id
"""


# --- U1/U5: set operations --------------------------------------------------------------

def u1_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION-with-dedup whose inputs genuinely OVERLAP (high-value events ∩
    purchases = high-value purchases): disjoint branches make UNION and
    UNION ALL agree, so the old disjoint-by-type framing couldn't tell
    distinct-vs-bag semantics apart. Grouped by (type, month) so the result
    carries dozens of data-dependent rows instead of 2."""
    events = read_table(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type", "ts"]
    high_value = events.where(F.col("value") > 15.0).select(*cols)
    purchases = events.where(F.col("event_type") == "purchase").select(*cols)
    return (
        high_value.unionByName(purchases)
        .distinct()
        .groupBy("event_type", F.dayofmonth("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("n_users"))
    )


U1_SQL = """
WITH u AS (
  SELECT event_id, user_id, event_type, ts FROM events WHERE value > 15.0
  UNION
  SELECT event_id, user_id, event_type, ts FROM events WHERE event_type = 'purchase'
)
SELECT event_type, CAST(DAY(ts) AS INTEGER) AS day,
       COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
FROM u GROUP BY event_type, CAST(DAY(ts) AS INTEGER)
"""


def u5_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


U5_SQL = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


# --- A1/A10: multi-fn hash agg, span agg -------------------------------------------------

def a1_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-function hash aggregate per group (reference A1: per-patient
    countDistinct(visit) + count(concept) + min/max, spark_utils.py:642-645).
    One shuffle; all functions partial-aggregate map-side."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
        exact_sum("o_totalprice").alias("sum_price"),
    )


A1_SQL = """
SELECT o_custkey, COUNT(*) AS n_orders, COUNT(DISTINCT o_orderstatus) AS n_statuses,
       MIN(o_orderdate) AS first_order, MAX(o_orderdate) AS last_order,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE) AS sum_price
FROM orders GROUP BY o_custkey
"""


def a10_span_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span aggregation for id generation (reference A10: artificial-visit
    min/max datetime span, spark_utils.py:786-800)."""
    events = read_table(spark, sf_dir, "events")
    return events.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("span_start"),
        F.max("ts").alias("span_end"),
        F.datediff(F.max("ts"), F.min("ts")).alias("span_days"),
        F.count(F.lit(1)).alias("n_events"),
    )


A10_SQL = """
SELECT user_id, event_type, MIN(ts) AS span_start, MAX(ts) AS span_end,
       DATEDIFF('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE)) AS span_days,
       COUNT(*) AS n_events
FROM events GROUP BY user_id, event_type
"""


# --- O1/U2+U3/W10: global top-k, positional union, SQL window ---------------------------

def o1_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ordered top-k. ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject — per-partition partial top-k then a k-row merge on
    the driver — NOT a single-partition global sort; this is the scale-safe
    replacement for the reference's global-window row_number (W8 hazard,
    SURVEY §4)."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


O1_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""


def u3_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional union (reference U2 ``df.union``, spark_utils.py:355) +
    bag semantics (SQL UNION ALL, U3)."""
    li = read_table(spark, sf_dir, "lineitem")
    returned = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("okey"),
        F.lit("returned").alias("tag"),
        F.month("l_shipdate").alias("mon"),
    )
    shipped = li.where(F.col("l_linestatus") == "F").select(
        F.col("l_orderkey").alias("okey"),
        F.lit("finished").alias("tag"),
        F.month("l_shipdate").alias("mon"),
    )
    # (tag, month) grouping: ~24 data-dependent rows rather than 2, so the
    # oracle match carries real evidence; the branches overlap (R rows that
    # are also F), so ALL-vs-distinct semantics discriminate via n_rows.
    return returned.union(shipped).groupBy("tag", "mon").agg(
        F.count(F.lit(1)).alias("n_rows"), F.countDistinct("okey").alias("n_orders")
    )


U3_SQL = """
WITH u AS (
  SELECT l_orderkey AS okey, 'returned' AS tag, CAST(MONTH(l_shipdate) AS INTEGER) AS mon
  FROM lineitem WHERE l_returnflag = 'R'
  UNION ALL
  SELECT l_orderkey AS okey, 'finished' AS tag, CAST(MONTH(l_shipdate) AS INTEGER) AS mon
  FROM lineitem WHERE l_linestatus = 'F'
)
SELECT tag, mon, COUNT(*) AS n_rows, COUNT(DISTINCT okey) AS n_orders FROM u GROUP BY tag, mon
"""


def w10_sql_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Templated-SQL window over a registered view (reference W10 + S9:
    cohort queries run ROW_NUMBER() in Spark SQL against temp views,
    e.g. cohorts/type_two_diabietes.py)."""
    orders = read_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("w10_orders")
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate
        FROM (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
          FROM w10_orders
        ) WHERE rn = 1
        """
    )


W10_SQL = """
SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) t WHERE rn = 1
"""


# --- §2.8: scalar function battery -------------------------------------------------------

def f_scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.to_date("ts").alias("dt"),
        F.date_add(F.to_date("ts"), 7).alias("dt_plus7"),
        F.unix_timestamp("ts").alias("epoch_s"),
        (F.col("value") % 5).alias("val_mod"),
        F.floor(F.col("value") / 3).alias("val_div"),
        F.abs(F.col("value") - 10).alias("val_absdiff"),
        F.ceil(F.col("value")).alias("val_ceil"),
    )


F_DATETIME_SQL = """
SELECT event_id,
       EXTRACT(YEAR FROM ts) AS y, EXTRACT(MONTH FROM ts) AS m,
       EXTRACT(DAY FROM ts) AS d, EXTRACT(HOUR FROM ts) AS h,
       CAST(ts AS DATE) AS dt,
       CAST(CAST(ts AS DATE) + INTERVAL 7 DAY AS DATE) AS dt_plus7,
       CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS epoch_s,
       value % 5 AS val_mod,
       CAST(FLOOR(value / 3) AS BIGINT) AS val_div,
       ABS(value - 10) AS val_absdiff,
       CAST(CEIL(value) AS BIGINT) AS val_ceil
FROM events
"""


def f_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.concat(F.col("p_brand"), F.lit("_"), F.col("p_type")).alias("brand_type"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_head"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "").alias("name_novowel"),
        F.upper(F.col("p_brand")).alias("brand_upper"),
        F.col("p_name").startswith("a").cast("boolean").alias("starts_a"),
        F.length("p_name").alias("name_len"),
    )


F_STRING_SQL = """
SELECT p_partkey,
       p_brand || '_' || p_type AS brand_type,
       SUBSTRING(p_name, 1, 8) AS name_prefix,
       STRING_SPLIT(p_type, ' ')[1] AS type_head,
       REGEXP_REPLACE(p_name, '[aeiou]', '', 'g') AS name_novowel,
       UPPER(p_brand) AS brand_upper,
       STARTS_WITH(p_name, 'a') AS starts_a,
       LENGTH(p_name) AS name_len
FROM part
"""


# --- W11: RANGE-frame trailing window -------------------------------------------------

def w11_trailing_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day per-user aggregate via a RANGE frame (value-based
    window bounds — a distinct capability from the rows-frames elsewhere:
    the frame holds every event within the last 7 DAYS of event time, not
    the last N rows). Ordering key is NTZ-safe epoch seconds, so frame
    bounds are plain numbers in both engines."""
    from cehrbert_data_spark.functions.temporal import epoch_seconds_sql
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    epoch = F.expr(epoch_seconds_sql("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-7 * 86400, 0)
    )
    sum_exact = F.sum(F.col("value").cast("decimal(20,6)")).over(w)
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_trailing_7d"),
        sum_exact.cast("double").alias("sum_value_7d"),
    )


W11_SQL = """
SELECT user_id, event_id, ts,
       COUNT(*) OVER w AS n_trailing_7d,
       CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) OVER w AS VARCHAR) AS DOUBLE) AS sum_value_7d
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY EPOCH(ts)
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
"""


# --- streaming session window, batch semantics ---------------------------------------

def st_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming session-window operator under the oracle: Spark's
    native session_window merges events within the gap; the oracle rebuilds
    the same sessions with a lag/cumsum rollup (new session iff
    delta >= gap — session_window's boundary rule; W7's sessionize uses
    strict >, the testdata carries no exact-boundary deltas)."""
    from cehrbert_data_spark.streaming import session_window_stream

    ev = read_table(spark, sf_dir, "events")
    return session_window_stream(ev, ["user_id"], "ts", gap="30 minutes")


# Sessionization happens at DISTINCT-(user, ts) grain, counts joined back
# via SUM(n). The naive row-grain lag/cumsum is row-order-dependent under
# DUPLICATE timestamps: among N tied rows, only one draws is_new=1 and the
# running sum splits the tie group by the engine's arbitrary sort order —
# found by the r11 zipf rung, where the hot-key remap funnels replicas'
# identical timestamps into one user (first oracle bug a skewed dir caught;
# Spark's native session_window is set-based and was right all along).
# At distinct grain the ORDER BY is total, so the cumsum is deterministic.
ST_SESSION_SQL = """
WITH dts AS (
  SELECT user_id, ts, COUNT(*) AS n FROM events GROUP BY user_id, ts
),
flagged AS (
  SELECT user_id, ts, n,
         CASE WHEN EPOCH(ts) - EPOCH(LAG(ts) OVER w) >= 1800.0 THEN 1 ELSE 0 END AS is_new
  FROM dts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts, n,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS window_start,
       MAX(ts) + INTERVAL 30 MINUTE AS window_end,
       CAST(SUM(n) AS BIGINT) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end
FROM sess GROUP BY user_id, sid
"""


# --- streaming as-of join, batch semantics -------------------------------------------

def st_asof_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming as-of join's batch-fallback semantics under the oracle:
    attach to each purchase the user's most recent view within 24 h. The
    streaming path (applyInPandasWithState + merge_asof) is pinned to these
    exact semantics by tests/test_streaming.py's end-to-end equality."""
    from cehrbert_data_spark.streaming import asof_join_stream

    ev = read_table(spark, sf_dir, "events")
    lefts = ev.where(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    rights = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    return asof_join_stream(
        lefts, rights, ["user_id"], "ts", "value", lookback_s=86400.0
    ).select("user_id", "event_id", "ts", "asof_ts", "asof_value")


ST_ASOF_SQL = """
WITH l AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view'),
cand AS (
  SELECT l.event_id, r.ts AS asof_ts, r.value AS asof_value,
         ROW_NUMBER() OVER (PARTITION BY l.event_id ORDER BY r.ts DESC) AS rn
  FROM l JOIN r ON l.user_id = r.user_id
   AND EPOCH(l.ts) BETWEEN EPOCH(r.ts) AND EPOCH(r.ts) + 86400.0
)
SELECT l.user_id, l.event_id, l.ts, c.asof_ts, c.asof_value
FROM l LEFT JOIN (SELECT event_id, asof_ts, asof_value FROM cand WHERE rn = 1) c
  USING (event_id)
"""


def st_keystats_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful running-key-stats operator's batch dual under the
    oracle: per-user (count, exact-decimal sum, last event time). The
    streaming path (applyInPandasWithState, cross-batch running state with
    idle-key timeout) is pinned to these totals by
    tests/test_streaming.py's last-emitted-state == batch equality; this
    entry puts the shared aggregate contract under the driver gate."""
    from cehrbert_data_spark.streaming import running_key_stats_stream

    ev = read_table(spark, sf_dir, "events")
    return running_key_stats_stream(ev, ["user_id"], "ts", "value")


ST_KEYSTATS_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sum_value,
       MAX(ts) AS last_ts
FROM events GROUP BY user_id
"""


def st_sliding_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming sliding-rollup operator run in batch mode: 1-hour
    windows sliding every 30 minutes per event type. w14 covers the same
    window arithmetic via raw F.window; this entry drives the streaming
    operator itself (watermark guard, window projection, exact decimal
    sum) through the oracle gate. Keyed by event_type, NOT user_id: the
    battery convention is report-grain output — a window×user result is
    millions of rows at the scaled sweeps and measures collect bandwidth,
    not the operator."""
    from cehrbert_data_spark.streaming import sliding_rollup_stream

    ev = read_table(spark, sf_dir, "events")
    return sliding_rollup_stream(
        ev, ["event_type"], "ts", "value", width="1 hour", slide="30 minutes"
    )


ST_SLIDING_SQL = """
WITH e AS (
  SELECT event_type, value,
         CAST(FLOOR(epoch(ts) / 1800) AS BIGINT) * 1800 AS s0
  FROM events
),
u AS (
  SELECT event_type, value, s0 AS ws FROM e
  UNION ALL
  SELECT event_type, value, s0 - 1800 AS ws FROM e
)
SELECT make_timestamp(ws * 1000000) AS win_start,
       make_timestamp((ws + 3600) * 1000000) AS win_end,
       event_type, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM u GROUP BY 1, 2, 3
"""


def a12_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-l_partkey sketch per return flag,
    joined against the exact count it approximates. The register table and
    raw estimate are cross-engine exact (operators/sketches.py) — unlike
    ``approx_count_distinct``, whose registers are engine-private."""
    from cehrbert_data_spark.operators.sketches import hll_distinct

    li = read_table(spark, sf_dir, "lineitem")
    est = hll_distinct(li, ["l_returnflag"], F.col("l_partkey"), p=6)
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").cast("long").alias("exact_distinct")
    )
    return est.join(F.broadcast(exact), "l_returnflag")


def _a12_sql() -> str:
    from cehrbert_data_spark.operators.sketches import hll_sql

    est = hll_sql("lineitem", ["l_returnflag"], "l_partkey", p=6)
    return f"""
WITH est AS ({est}),
ex AS (
  SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
  FROM lineitem GROUP BY l_returnflag
)
SELECT est.*, ex.exact_distinct FROM est JOIN ex USING (l_returnflag)
"""


A12_SQL = _a12_sql()


def a13_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning, measured: build a 64Kbit/4-hash
    filter over the custkeys that have orders, probe every customer, and
    report per-nation how many customers the filter would pass vs the
    exact semi-join — the false-positive column is the price of pruning
    with m_bits/32 BIGINTs instead of the full key set
    (operators/sketches.py:bloom_build/bloom_probe)."""
    from cehrbert_data_spark.operators.sketches import bloom_build, bloom_probe

    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    filt = bloom_build(orders, F.col("o_custkey"), m_bits=65536, k=4)
    # c_custkey is customer's primary key: the probe dedup is a no-op, so
    # the probe path runs exchange-free (r12, operators/sketches.py).
    probed = bloom_probe(
        cust, filt, F.col("c_custkey"), m_bits=65536, k=4, assume_distinct=True
    )
    present = orders.select(F.col("o_custkey").alias("c_custkey")).distinct().withColumn(
        "present", F.lit(True)
    )
    return (
        cust.select("c_custkey", "c_nationkey")
        .join(probed.withColumnRenamed("probe_key", "c_custkey"), "c_custkey")
        .join(present, "c_custkey", "left")
        .groupBy(F.col("c_nationkey").cast("long").alias("c_nationkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(F.when(F.col("bloom_maybe"), 1).otherwise(0))
            .cast("long")
            .alias("n_maybe"),
            F.sum(F.when(F.col("present").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_present"),
            F.sum(
                F.when(F.col("bloom_maybe") & F.col("present").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_false_pos"),
        )
    )


def _bloom_hashes_sql(value_expr: str, m: int) -> str:
    h = f"CAST(('0x' || SUBSTRING(md5(CAST({value_expr} AS VARCHAR)), 1, 15)) AS BIGINT)"
    return f"{h} % {m} AS h1, ({h} // 1073741824) % {m} AS h2"


A13_SQL = f"""
WITH build_pos AS (
  SELECT UNNEST([(h1 + 0*h2) % 65536, (h1 + 1*h2) % 65536,
                 (h1 + 2*h2) % 65536, (h1 + 3*h2) % 65536]) AS pos
  FROM (SELECT {_bloom_hashes_sql('o_custkey', 65536)} FROM orders)
),
filt AS (
  SELECT pos // 32 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
  FROM build_pos GROUP BY 1
),
probe_pos AS (
  SELECT c_custkey,
         UNNEST([(h1 + 0*h2) % 65536, (h1 + 1*h2) % 65536,
                 (h1 + 2*h2) % 65536, (h1 + 3*h2) % 65536]) AS pos
  FROM (SELECT c_custkey, {_bloom_hashes_sql('c_custkey', 65536)} FROM customer)
),
probed AS (
  SELECT c_custkey,
         bool_and((COALESCE(bits, 0) & (CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))) != 0)
           AS bloom_maybe
  FROM probe_pos LEFT JOIN filt ON filt.word = probe_pos.pos // 32
  GROUP BY c_custkey
),
present AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders)
SELECT CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
       COUNT(*) AS n_customers,
       CAST(SUM(CASE WHEN p.bloom_maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
       CAST(SUM(CASE WHEN pr.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_present,
       CAST(SUM(CASE WHEN p.bloom_maybe AND pr.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos
FROM customer c
JOIN probed p USING (c_custkey)
LEFT JOIN present pr USING (c_custkey)
GROUP BY 1
"""


def a14_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates vs exact counts: sketch how many
    lineitems each supplier ships in 4x256 integer counters, probe every
    supplier, and report the guaranteed-nonnegative overestimate
    (operators/sketches.py:cms_build/cms_estimate)."""
    from cehrbert_data_spark.operators.sketches import cms_build, cms_estimate

    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    sketch = cms_build(li, F.col("l_suppkey"), depth=4, width=256)
    # s_suppkey is supplier's primary key: probe dedup is a no-op (r12).
    est = cms_estimate(
        supp, sketch, F.col("s_suppkey"), depth=4, width=256, assume_distinct=True
    )
    exact = li.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    )
    return (
        supp.select("s_suppkey")
        .join(est.withColumnRenamed("probe_key", "s_suppkey"), "s_suppkey")
        .join(F.broadcast(exact), "s_suppkey", "left")
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            F.coalesce(F.col("exact_cnt"), F.lit(0)).cast("long").alias("exact_cnt"),
            "cms_est",
            (F.col("cms_est") - F.coalesce(F.col("exact_cnt"), F.lit(0)))
            .cast("long")
            .alias("overestimate"),
        )
    )


def _cms_cell_sql(value_expr: str, r: int, width: int) -> str:
    h = (
        f"CAST(('0x' || SUBSTRING(md5(CONCAT('{r}', ':', CAST({value_expr} AS VARCHAR))), 1, 15))"
        f" AS BIGINT)"
    )
    return f"{h} % {width}"


A14_SQL = f"""
WITH cells AS (
  SELECT r, c, COUNT(*) AS counter FROM (
    SELECT UNNEST([0, 1, 2, 3]) AS r,
           UNNEST([{_cms_cell_sql('l_suppkey', 0, 256)},
                   {_cms_cell_sql('l_suppkey', 1, 256)},
                   {_cms_cell_sql('l_suppkey', 2, 256)},
                   {_cms_cell_sql('l_suppkey', 3, 256)}]) AS c
    FROM lineitem
  ) GROUP BY r, c
),
probe AS (
  SELECT s_suppkey, r, c FROM (
    SELECT s_suppkey,
           UNNEST([0, 1, 2, 3]) AS r,
           UNNEST([{_cms_cell_sql('s_suppkey', 0, 256)},
                   {_cms_cell_sql('s_suppkey', 1, 256)},
                   {_cms_cell_sql('s_suppkey', 2, 256)},
                   {_cms_cell_sql('s_suppkey', 3, 256)}]) AS c
    FROM supplier
  )
),
est AS (
  SELECT s_suppkey, MIN(COALESCE(counter, 0)) AS cms_est
  FROM probe LEFT JOIN cells USING (r, c)
  GROUP BY s_suppkey
),
exact AS (SELECT l_suppkey AS s_suppkey, COUNT(*) AS exact_cnt FROM lineitem GROUP BY 1)
SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey,
       CAST(COALESCE(exact_cnt, 0) AS BIGINT) AS exact_cnt,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - COALESCE(exact_cnt, 0) AS BIGINT) AS overestimate
FROM supplier s JOIN est USING (s_suppkey) LEFT JOIN exact USING (s_suppkey)
"""


def a15_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-algebra sketch: estimate the distinct-customer overlap
    between open ('O') and fulfilled ('F') order books from two 256-hash
    sketches, next to the exact counts they approximate
    (operators/sketches.py:kmv_sketch/kmv_jaccard)."""
    from cehrbert_data_spark.operators.sketches import kmv_jaccard, kmv_sketch

    orders = read_table(spark, sf_dir, "orders")
    k = 256
    set_a = orders.where(F.col("o_orderstatus") == "O")
    set_b = orders.where(F.col("o_orderstatus") == "F")
    est = kmv_jaccard(
        kmv_sketch(set_a, F.col("o_custkey"), k=k),
        kmv_sketch(set_b, F.col("o_custkey"), k=k),
        k=k,
    )
    a_keys = set_a.select("o_custkey").distinct()
    b_keys = set_b.select("o_custkey").distinct()
    exact = (
        a_keys.withColumn("in_a", F.lit(1))
        .join(b_keys.withColumn("in_b", F.lit(1)), "o_custkey", "full")
        .agg(
            F.sum("in_a").cast("long").alias("exact_a"),
            F.sum("in_b").cast("long").alias("exact_b"),
            F.sum(F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1))
            .cast("long")
            .alias("exact_common"),
            F.count(F.lit(1)).cast("long").alias("exact_union"),
        )
        .select(
            "exact_a",
            "exact_b",
            "exact_common",
            (F.col("exact_common").cast("double") / F.col("exact_union")).alias(
                "exact_jaccard"
            ),
        )
    )
    return est.crossJoin(F.broadcast(exact))


A15_SQL = """
WITH sk_a AS (
  SELECT DISTINCT CAST(('0x' || SUBSTRING(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM orders WHERE o_orderstatus = 'O' ORDER BY h LIMIT 256
),
sk_b AS (
  SELECT DISTINCT CAST(('0x' || SUBSTRING(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM orders WHERE o_orderstatus = 'F' ORDER BY h LIMIT 256
),
union_k AS (
  SELECT h FROM (SELECT h FROM sk_a UNION SELECT h FROM sk_b) ORDER BY h LIMIT 256
),
common AS (
  SELECT COUNT(*) AS n_common FROM union_k
  WHERE h IN (SELECT h FROM sk_a) AND h IN (SELECT h FROM sk_b)
),
ka AS (SELECT MAX(h) AS kth_a, COUNT(*) AS na FROM sk_a),
kb AS (SELECT MAX(h) AS kth_b, COUNT(*) AS nb FROM sk_b),
a_keys AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
b_keys AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
exact AS (
  SELECT CAST(COUNT(a_keys.o_custkey) AS BIGINT) AS exact_a,
         CAST(COUNT(b_keys.o_custkey) AS BIGINT) AS exact_b,
         CAST(SUM(CASE WHEN a_keys.o_custkey IS NOT NULL
                        AND b_keys.o_custkey IS NOT NULL THEN 1 END) AS BIGINT)
           AS exact_common,
         CAST(COUNT(*) AS BIGINT) AS exact_union
  FROM a_keys FULL JOIN b_keys USING (o_custkey)
)
SELECT CAST(256 AS BIGINT) AS k, kth_a, kth_b,
       CASE WHEN na < 256 THEN CAST(na AS DOUBLE)
            ELSE 255.0 * 1152921504606846976.0 / CAST(kth_a AS DOUBLE) END
         AS est_distinct_a,
       CASE WHEN nb < 256 THEN CAST(nb AS DOUBLE)
            ELSE 255.0 * 1152921504606846976.0 / CAST(kth_b AS DOUBLE) END
         AS est_distinct_b,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(n_common AS DOUBLE) / 256.0 AS jaccard_est,
       exact_a, exact_b, exact_common,
       CAST(exact_common AS DOUBLE) / exact_union AS exact_jaccard
FROM ka CROSS JOIN kb CROSS JOIN common CROSS JOIN exact
"""


# --- A16: ROLLUP multi-level aggregation (beyond-ref) -----------------------

def a16_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority × year order rollup with subtotal and grand-total rows.

    ``rollup`` plans ONE Expand + hash-aggregate pass — each input row is
    expanded to its grouping sets and partially aggregated map-side, so the
    three aggregation levels cost one shuffle, not three jobs + a union.
    ``grouping()`` flags distinguish subtotal NULLs from data NULLs (the
    cross-engine-portable alternative to bit-order-sensitive grouping_id).
    """
    o = read_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.col("o_orderpriority").alias("priority"),
            F.year("o_orderdate").cast("long").alias("yr"),
            "o_totalprice",
        )
        .rollup("priority", "yr")
        .agg(
            F.grouping("priority").cast("long").alias("g_priority"),
            F.grouping("yr").cast("long").alias("g_yr"),
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("sum_price"),
        )
    )


A16_SQL = """
WITH src AS (
  SELECT o_orderpriority AS priority,
         CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
         o_totalprice
  FROM orders
)
SELECT priority, yr,
       CAST(GROUPING(priority) AS BIGINT) AS g_priority,
       CAST(GROUPING(yr) AS BIGINT) AS g_yr,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE) AS sum_price
FROM src
GROUP BY ROLLUP (priority, yr)
"""


# --- P10: pivot (wide conditional aggregation, beyond-ref) ------------------

def p10_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders per year pivoted to one column per priority.

    The value list is EXPLICIT: ``pivot(col, values)`` plans straight from
    the declared values, while ``pivot(col)`` first runs a distinct-values
    collect job — an extra full pass over the fact table at 100 TB. The
    physical plan is two stacked hash-aggs: the fact-table pass partial-
    aggregates (yr, priority) counts map-side, so only ~|years × 5| rows
    reach either shuffle. Absent combinations count as 0 (coalesce),
    matching the oracle's FILTER aggregates.
    """
    o = read_table(spark, sf_dir, "orders")
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    names = ["n_urgent", "n_high", "n_medium", "n_notspec", "n_low"]
    wide = (
        o.select(
            F.year("o_orderdate").cast("long").alias("yr"), "o_orderpriority"
        )
        .groupBy("yr")
        .pivot("o_orderpriority", pris)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "yr",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(n)
            for p, n in zip(pris, names)
        ],
    )


P10_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
       COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
       COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium,
       COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_notspec,
       COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low
FROM orders GROUP BY 1
"""


# --- A17: mergeable histogram quantile (beyond-ref) -------------------------

def a17_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type p90 of ``value`` via the fixed-bin integer histogram
    (operators/aggregations.py:histogram_quantile) — the deterministic,
    mergeable, bounded-state alternative to percentile_approx's
    Greenwald-Khanna sketch, which no oracle can reproduce."""
    ev = read_table(spark, sf_dir, "events")
    return histogram_quantile(
        ev, ["event_type"], "value", q_num=9, q_den=10, bin_width=5.0
    )


A17_SQL = """
WITH b AS (
  SELECT event_type, CAST(FLOOR(value / 5.0) AS BIGINT) AS bin FROM events
),
c AS (SELECT event_type, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
w AS (
  SELECT event_type, bin,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS total
  FROM c
)
SELECT event_type, CAST(total AS BIGINT) AS n_rows, bin AS q_bin,
       bin * 5.0 AS q_lo
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bin) AS rk
  FROM w WHERE cum * 10 >= total * 9
) WHERE rk = 1
"""


# --- W12: distribution windows (ntile / percent_rank / cume_dist) -----------

def w12_ntile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-year price quartiles and distribution positions for orders.

    ntile/percent_rank/cume_dist are deterministic ONLY under a total
    order — o_orderkey breaks price ties, so both engines assign identical
    positions. The ratios divide exact integer ranks/counts as doubles
    (same operands → same IEEE result in either engine).
    """
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy(F.year("o_orderdate")).orderBy(
        "o_totalprice", "o_orderkey"
    )
    return o.select(
        F.year("o_orderdate").cast("long").alias("yr"),
        "o_orderkey",
        "o_totalprice",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


W12_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
       o_orderkey, o_totalprice,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY EXTRACT(year FROM o_orderdate)
             ORDER BY o_totalprice, o_orderkey)
"""


# --- W13: calendar gap-fill + forward-fill resample (beyond-ref) ------------

def w13_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-user daily value series with forward-filled gaps
    (operators/windows.py:gap_fill_daily), bounded to users < 50 so the
    oracle's calendar stays fixed-size at any SF."""
    from cehrbert_data_spark.operators.windows import gap_fill_daily

    ev = read_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    return gap_fill_daily(ev, ["user_id"], "ts", "value")


W13_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS day_sum
  FROM events WHERE user_id < 50 GROUP BY 1, 2
),
span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
cal AS (
  SELECT user_id,
         CAST(UNNEST(GENERATE_SERIES(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
),
j AS (
  SELECT c.user_id, c.day, d.day_sum
  FROM cal c LEFT JOIN daily d USING (user_id, day)
)
SELECT user_id, day,
       LAST_VALUE(day_sum IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING) AS filled,
       CAST(day_sum IS NOT NULL AS BIGINT) AS is_observed
FROM j
"""


# --- F (json): semi-structured extraction (beyond-ref) ----------------------

def f_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON extraction from the events ``props`` column.

    ``from_json`` with an EXPLICIT schema parses each row once into a
    typed struct inside codegen (Jackson, JVM-side); per-path
    ``get_json_object`` calls would re-parse the document once per path —
    N× the CPU on a 100 TB scan. Malformed documents yield NULL fields
    (PERMISSIVE), which aggregate away exactly like SQL NULLs.
    """
    ev = read_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.from_json("props", "k long").alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p.k").cast("long").alias("sum_k"),
        F.max("p.k").cast("long").alias("max_k"),
        F.sum(F.when(F.col("p.k") > 50, 1).otherwise(0))
        .cast("long")
        .alias("n_high"),
    )


F_JSON_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       COUNT(*) FILTER (WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50) AS n_high
FROM events GROUP BY event_type
"""


# --- A18: exact-integer correlation / regression (beyond-ref) ---------------

def a18_corr_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag Pearson corr + OLS fit of extendedprice on quantity
    via exact-integer sufficient statistics
    (operators/aggregations.py:corr_regression) — order-independent where
    ``F.corr``'s float running moments are not, so results reproduce at any
    parallelism and hash-match any engine computing the same sums."""
    li = read_table(spark, sf_dir, "lineitem")
    from cehrbert_data_spark.operators.aggregations import corr_regression

    return corr_regression(li, ["l_returnflag"], "l_quantity", "l_extendedprice")


A18_SQL = """
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n_rows,
         SUM(CAST(CAST(ROUND(l_quantity * 100) AS BIGINT) AS DECIMAL(18,0))) AS sx,
         SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS DECIMAL(18,0))) AS sy,
         SUM(CAST(CAST(ROUND(l_quantity * 100) AS BIGINT) AS DECIMAL(18,0))
             * CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS DECIMAL(18,0))) AS sxy,
         SUM(CAST(CAST(ROUND(l_quantity * 100) AS BIGINT) AS DECIMAL(18,0))
             * CAST(CAST(ROUND(l_quantity * 100) AS BIGINT) AS DECIMAL(18,0))) AS sxx,
         SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS DECIMAL(18,0))
             * CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS DECIMAL(18,0))) AS syy
  FROM lineitem GROUP BY l_returnflag
),
d AS (
  SELECT l_returnflag, n_rows,
         CAST(n_rows AS DOUBLE) AS n, CAST(sx AS DOUBLE) AS sx,
         CAST(sy AS DOUBLE) AS sy, CAST(sxy AS DOUBLE) AS sxy,
         CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy
  FROM s
)
SELECT l_returnflag, n_rows,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN (n * sxy - sx * sy)
                 / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) END AS corr,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
            END AS intercept
FROM d
"""


# --- A19: CUBE (all grouping-set combinations, beyond-ref) -------------------

def a19_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returnflag × linestatus CUBE: all four grouping sets in ONE Expand +
    one map-side-combined hash agg (complement of a16_rollup's prefix
    hierarchy); per-column grouping() flags disambiguate subtotal NULLs
    portably."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.count(F.lit(1)).alias("n_rows"),
            exact_sum("l_quantity").alias("sum_qty"),
        )
    )


A19_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
       COUNT(*) AS n_rows,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# --- P11: unpivot / melt (wide → long, beyond-ref) ---------------------------

def p11_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-year order metrics melted to (yr, metric, val) long form — the
    inverse of p10_pivot, and the shape feature stores / metric sinks want.
    ``unpivot`` compiles to one Expand over the already-aggregated wide rows
    (|years| × 3 output rows), so the melt itself costs no shuffle; values
    share one type (BIGINT) as unpivot requires."""
    o = read_table(spark, sf_dir, "orders")
    wide = o.groupBy(F.year("o_orderdate").cast("long").alias("yr")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum((F.col("o_orderpriority") == "1-URGENT").cast("long")).alias(
            "n_urgent"
        ),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_cents"
        ),
    )
    return wide.unpivot(
        ["yr"], ["n_orders", "n_urgent", "sum_cents"], "metric", "val"
    )


P11_SQL = """
WITH wide AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
         COUNT(*) AS n_orders,
         COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
  FROM orders GROUP BY 1
)
SELECT yr, 'n_orders' AS metric, n_orders AS val FROM wide
UNION ALL SELECT yr, 'n_urgent' AS metric, n_urgent AS val FROM wide
UNION ALL SELECT yr, 'sum_cents' AS metric, sum_cents AS val FROM wide
"""


# --- W14: sliding time windows (Structured-Streaming shape in batch) --------

def w14_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type counts over 1-hour windows sliding every 30 minutes —
    ``F.window(ts, width, slide)``, the exact operator a streaming rollup
    uses, run in batch so it is oracle-checkable. Each event expands to
    width/slide = 2 window assignments (one Expand node), then ONE
    map-side-combined hash agg; output cardinality is window-grain, never
    event-grain. Spark aligns sliding windows to the epoch, so the oracle
    reproduces starts as floor(epoch/slide)*slide and its predecessor."""
    ev = read_table(spark, sf_dir, "events")
    agged = ev.groupBy(
        F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value", "decimal(20,6)").alias("sum_value"),
    )
    return agged.select(
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        "event_type",
        "n_events",
        "sum_value",
    )


W14_SQL = """
WITH e AS (
  SELECT event_type, value,
         CAST(FLOOR(epoch(ts) / 1800) AS BIGINT) * 1800 AS s0
  FROM events
),
u AS (
  SELECT event_type, value, s0 AS ws FROM e
  UNION ALL
  SELECT event_type, value, s0 - 1800 AS ws FROM e
)
SELECT make_timestamp(ws * 1000000) AS win_start,
       make_timestamp((ws + 3600) * 1000000) AS win_end,
       event_type, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM u GROUP BY 1, 2, 3
"""


# --- W15: gaps-and-islands consecutive-day streaks --------------------------

def w15_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity-streak profile (n streaks / longest / active days)
    from the gaps-and-islands operator (operators/windows.py:streaks)."""
    from cehrbert_data_spark.operators.windows import streaks

    ev = read_table(spark, sf_dir, "events")
    runs = streaks(ev, ["user_id"], "ts")
    return runs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("streak_len").alias("longest_streak"),
        F.sum("streak_len").cast("long").alias("n_active_days"),
    )


W15_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
r AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS grp
  FROM days
),
runs AS (SELECT user_id, grp, COUNT(*) AS len FROM r GROUP BY 1, 2)
SELECT user_id, COUNT(*) AS n_streaks,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       CAST(SUM(len) AS BIGINT) AS n_active_days
FROM runs GROUP BY user_id
"""


# --- W16: interval union (merged coverage per key) ---------------------------

def w16_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier merged shipping-coverage profile: overlapping
    [shipdate, shipdate + (qty%10)+1 days] spans unioned via
    operators/windows.py:merge_intervals (cumulative-max islands), then
    rolled up to (n_islands, covered_days, n_intervals) — the "actually
    covered time" stat naive SUM(end-start) double-counts."""
    from cehrbert_data_spark.operators.windows import merge_intervals

    li = read_table(spark, sf_dir, "lineitem")
    ship = F.to_date("l_shipdate")
    iv = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        ship.alias("ship_start"),
        F.date_add(ship, F.col("l_quantity").cast("int") % 10 + 1).alias(
            "ship_end"
        ),
    )
    runs = merge_intervals(
        iv,
        ["l_suppkey"],
        "ship_start",
        "ship_end",
        tiebreak=["l_orderkey", "l_linenumber"],
    )
    return runs.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.datediff("island_end", "island_start") + 1)
        .cast("long")
        .alias("covered_days"),
        F.sum("n_intervals").cast("long").alias("n_intervals"),
    )


# The window order includes (l_orderkey, l_linenumber) so it is TOTAL:
# tied (s, e) rows cannot change the islands mathematically, but a
# non-total order let DuckDB's parallel window evaluation return a
# different covered-days sum run-to-run at 10x scale (observed, pinned in
# ROUND_NOTES) — a unique order forces every engine to the one answer.
W16_SQL = """
WITH iv AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         CAST(l_shipdate AS DATE) AS s,
         CAST(l_shipdate AS DATE) + (CAST(l_quantity AS INTEGER) % 10 + 1) AS e
  FROM lineitem
),
m AS (
  SELECT l_suppkey, s, e, l_orderkey, l_linenumber,
         MAX(e) OVER (PARTITION BY l_suppkey ORDER BY s, e, l_orderkey, l_linenumber
                      ROWS UNBOUNDED PRECEDING) AS run_max
  FROM iv
),
l AS (
  SELECT l_suppkey, s, e, l_orderkey, l_linenumber,
         LAG(run_max) OVER (PARTITION BY l_suppkey
                            ORDER BY s, e, l_orderkey, l_linenumber) AS prev_max
  FROM m
),
i AS (
  SELECT l_suppkey, s, e,
         SUM(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY l_suppkey ORDER BY s, e, l_orderkey, l_linenumber
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM l
),
runs AS (
  SELECT l_suppkey, island, MIN(s) AS island_start, MAX(e) AS island_end,
         COUNT(*) AS n_iv
  FROM i GROUP BY 1, 2
)
SELECT l_suppkey, COUNT(*) AS n_islands,
       CAST(SUM(island_end - island_start + 1) AS BIGINT) AS covered_days,
       CAST(SUM(n_iv) AS BIGINT) AS n_intervals
FROM runs GROUP BY l_suppkey
"""


# --- A20: exact two-pass median (beyond-ref) ---------------------------------

def a20_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-event-type lower median via the two-pass histogram-narrowed
    order statistic (operators/aggregations.py:exact_group_median) — the
    100 TB-viable exact quantile: never sorts the data, never buffers a
    group, second pass touches only the median bin."""
    from cehrbert_data_spark.operators.aggregations import exact_group_median

    ev = read_table(spark, sf_dir, "events")
    return exact_group_median(ev, ["event_type"], "value", bin_width=5.0)


A20_SQL = """
WITH r AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, CAST(n AS BIGINT) AS n_rows, value AS median
FROM r WHERE rn = (n + 1) // 2
"""


# --- W17: ordered event funnel (beyond-ref) ----------------------------------

def w17_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel with STRICT event ordering: a user
    advances a step only with an event strictly after their previous
    step's first qualifying event (the product-analytics staple; a naive
    per-type EXISTS overcounts users who purchased before ever viewing).

    Scale: each step is a pushed-down event_type scan aggregated to USER
    grain (map-side combined) then equi-joined to the previous step's
    user-grain table — the funnel narrows monotonically, so join sides
    shrink step by step; nothing is ever collected or sorted corpus-wide.
    """
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_after(step_type, prev, prev_ts):
        base = ev.where(F.col("event_type") == step_type)
        if prev is not None:
            base = base.join(prev, "user_id").where(F.col("ts") > F.col(prev_ts))
        return base.groupBy("user_id").agg(F.min("ts").alias(f"t_{step_type}"))

    v = first_after("view", None, None)
    c = first_after("click", v, "t_view")
    p = first_after("purchase", c, "t_click")
    return (
        v.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit("1_view").alias("step"), "n_users")
        .unionByName(
            c.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit("2_click").alias("step"), "n_users"
            )
        )
        .unionByName(
            p.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit("3_purchase").alias("step"), "n_users"
            )
        )
    )


W17_SQL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1
)
SELECT '1_view' AS step, COUNT(*) AS n_users FROM v
UNION ALL SELECT '2_click' AS step, COUNT(*) AS n_users FROM c
UNION ALL SELECT '3_purchase' AS step, COUNT(*) AS n_users FROM p
"""


# --- A21: retention cohort triangle (beyond-ref) ------------------------------

def a21_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-activity week
    (absolute epoch week, engine-portable), counted distinct in each
    subsequent week offset. First-activity table is user-grain, so the
    join back to events is an equi-join on the same key as the preceding
    aggregate; the triangle itself is weeks × weeks — tiny at any scale."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    joined = ev.join(first, "user_id")
    return (
        joined.select(
            F.expr("datediff(first_day, DATE'1970-01-01') div 7")
            .cast("long")
            .alias("cohort_week"),
            F.expr("datediff(day, first_day) div 7").cast("long").alias(
                "week_offset"
            ),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


A21_SQL = """
WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
f AS (SELECT user_id, MIN(day) AS first_day FROM d GROUP BY 1)
SELECT CAST((f.first_day - DATE '1970-01-01') // 7 AS BIGINT) AS cohort_week,
       CAST((d.day - f.first_day) // 7 AS BIGINT) AS week_offset,
       COUNT(DISTINCT d.user_id) AS n_users
FROM d JOIN f ON d.user_id = f.user_id
GROUP BY 1, 2
"""


# --- P12: Z-order (Morton) clustering key (beyond-ref) -----------------------

def p12_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row Morton key over (partkey, suppkey) — the clustering key
    ``sources/writers.py:write_zordered`` lays files out by. Pure codegen'd
    bit arithmetic (operators/partitioning.py:morton_key); the oracle runs
    the byte-identical SQL twin (``morton_key_sql``), so the key — and
    therefore the physical layout it induces — is engine-checkable."""
    from cehrbert_data_spark.operators.partitioning import morton_key

    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") <= 2)
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("line_no"),
        morton_key(F.col("l_partkey") % 65536, F.col("l_suppkey") % 65536)
        .alias("zkey"),
    )


def _p12_sql() -> str:
    from cehrbert_data_spark.operators.partitioning import morton_key_sql

    z = morton_key_sql("l_partkey % 65536", "l_suppkey % 65536")
    return f"""
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no, {z} AS zkey
FROM lineitem WHERE l_quantity <= 2
"""


P12_SQL = _p12_sql()


# --- A22: median absolute deviation (robust dispersion, beyond-ref) ----------

def a22_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type MAD — median(|v − median(v)|) — the robust outlier
    scale winsorization wants when tails are heavy. Composes
    exact_group_median twice: the group-grain median table broadcasts back
    onto the events for the deviation pass, so the whole thing is four
    narrow scans and two histogram-bounded order statistics — still no
    sort, still no buffered group."""
    from cehrbert_data_spark.operators.aggregations import exact_group_median

    ev = read_table(spark, sf_dir, "events")
    med = exact_group_median(ev, ["event_type"], "value", bin_width=5.0)
    dev = (
        ev.where(F.col("value").isNotNull())
        .join(F.broadcast(med.select("event_type", "median")), "event_type")
        .select(
            "event_type", F.abs(F.col("value") - F.col("median")).alias("dev")
        )
    )
    out = exact_group_median(dev, ["event_type"], "dev", bin_width=1.0)
    return out.select("event_type", "n_rows", F.col("median").alias("mad"))


A22_SQL = """
WITH r AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
),
med AS (SELECT event_type, value AS median FROM r WHERE rn = (n + 1) // 2),
dev AS (
  SELECT e.event_type, ABS(e.value - m.median) AS dev
  FROM events e JOIN med m USING (event_type)
  WHERE e.value IS NOT NULL
),
r2 AS (
  SELECT event_type, dev,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
)
SELECT event_type, CAST(n AS BIGINT) AS n_rows, dev AS mad
FROM r2 WHERE rn = (n + 1) // 2
"""


# --- A23: exact p90 (arbitrary-q two-pass order statistic) --------------------

def a23_exact_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-event-type p90 of ``value`` via exact_group_quantile
    (q = 9/10): the arbitrary-quantile form of the two-pass order
    statistic — pairs with a17_hist_quantile, which answers the same
    question bin-approximately in one pass."""
    from cehrbert_data_spark.operators.aggregations import exact_group_quantile

    ev = read_table(spark, sf_dir, "events")
    return exact_group_quantile(
        ev, ["event_type"], "value", q_num=9, q_den=10, bin_width=5.0
    )


A23_SQL = """
WITH r AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, CAST(n AS BIGINT) AS n_rows, value AS q_value
FROM r WHERE rn = (n * 9 + 9) // 10
"""


# --- U7: multiset set operations (INTERSECT ALL / EXCEPT ALL) ----------------

def u7_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops on overlapping quarters of the order book:
    ``intersectAll`` keeps min(multiplicity), ``exceptAll`` subtracts
    multiplicities — the semantics U4/U6's join forms (distinct) cannot
    express. Spark plans both as count-aggregate + replicate (no join of
    the raw rows); results are re-aggregated so the comparison is
    row-order-free."""
    o = read_table(spark, sf_dir, "orders")

    def quarter(months):
        return o.where(F.month("o_orderdate").isin(*months)).select(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderstatus").alias("status"),
        )

    a, b = quarter([1, 2, 3]), quarter([2, 3, 4])

    def tagged(df, op):
        return df.groupBy("priority", "status").agg(
            F.count(F.lit(1)).alias("n")
        ).select(F.lit(op).alias("op"), "priority", "status", "n")

    return tagged(a.intersectAll(b), "intersect_all").unionByName(
        tagged(a.exceptAll(b), "except_all")
    )


U7_SQL = """
WITH a AS (
  SELECT o_orderpriority AS priority, o_orderstatus AS status FROM orders
  WHERE EXTRACT(month FROM o_orderdate) IN (1, 2, 3)
),
b AS (
  SELECT o_orderpriority AS priority, o_orderstatus AS status FROM orders
  WHERE EXTRACT(month FROM o_orderdate) IN (2, 3, 4)
),
ia AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
ea AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
SELECT 'intersect_all' AS op, priority, status, COUNT(*) AS n
FROM ia GROUP BY 2, 3
UNION ALL
SELECT 'except_all' AS op, priority, status, COUNT(*) AS n
FROM ea GROUP BY 2, 3
"""


QUERIES = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "p_filter_project": (p_filter_project, P_FILTER_SQL),
    "j1_equi_inner": (j1_equi_inner, J1_SQL),
    "j2_left_outer": (j2_left_outer, J2_SQL),
    "j3_semi": (j3_semi, J3_SQL),
    "j4_anti": (j4_anti, J4_SQL),
    "j5_scalar_max": (j5_scalar_max, J5_SQL),
    "j6_interval_join": (j6_interval, J6_SQL),
    "j7_asof_join": (j7_asof, J7_SQL),
    "j7b_asof_union": (j7b_asof_union, J7B_SQL),
    "j6b_overlap_buckets": (j6b_overlap_buckets, J6B_SQL),
    "j8_self_join": (j8_self_join, J8_SQL),
    "j10_theta_datediff": (j10_theta_datediff, J10_SQL),
    "a1_multi_agg": (a1_multi_agg, A1_SQL),
    "a2_hourly_mean": (a2_hourly_mean, A2_SQL),
    "a10_span_agg": (a10_span_agg, A10_SQL),
    "o1_global_topk": (o1_global_topk, O1_SQL),
    "u3_union_all": (u3_union_all, U3_SQL),
    "w10_sql_rownum": (w10_sql_rownum, W10_SQL),
    "a5_freq_filter": (a5_freq_filter, A5_SQL),
    "a6_conditional_agg": (a6_conditional_agg, A6_SQL),
    "a7_winsorize": (a7_winsorize, A7_SQL),
    "a8_stats": (a8_stats, A8_SQL),
    "w1_latest_order": (w1_latest_order, W1_SQL),
    "o2_top1_agg": (o2_top1_agg, W1_SQL),
    "w2_dense_rank": (w2_dense_rank, W2_SQL),
    "w4_days_since_prev": (w4_days_since_prev, W4_SQL),
    "w5_first_and_span": (w5_first_and_span, W5_SQL),
    "w7_sessionize": (w7_sessionize, W7_SQL),
    "st_asof_batch": (st_asof_batch, ST_ASOF_SQL),
    "st_session_batch": (st_session_batch, ST_SESSION_SQL),
    "st_keystats_batch": (st_keystats_batch, ST_KEYSTATS_SQL),
    "st_sliding_batch": (st_sliding_batch, ST_SLIDING_SQL),
    "w11_trailing_range": (w11_trailing_range, W11_SQL),
    "u1_union": (u1_union, U1_SQL),
    "u5_distinct": (u5_distinct, U5_SQL),
    "f_scalar_datetime": (f_scalar_datetime, F_DATETIME_SQL),
    "f_scalar_string": (f_scalar_string, F_STRING_SQL),
    "a12_hll_distinct": (a12_hll_distinct, A12_SQL),
    "a13_bloom_probe": (a13_bloom_probe, A13_SQL),
    "a14_cms_freq": (a14_cms_freq, A14_SQL),
    "a15_kmv_jaccard": (a15_kmv_jaccard, A15_SQL),
    "a16_rollup": (a16_rollup, A16_SQL),
    "p10_pivot": (p10_pivot, P10_SQL),
    "a17_hist_quantile": (a17_hist_quantile, A17_SQL),
    "f_json_extract": (f_json_extract, F_JSON_SQL),
    "w12_ntile_dist": (w12_ntile_dist, W12_SQL),
    "w13_gap_fill": (w13_gap_fill, W13_SQL),
    "a18_corr_regr": (a18_corr_regr, A18_SQL),
    "a19_cube": (a19_cube, A19_SQL),
    "p11_unpivot": (p11_unpivot, P11_SQL),
    "w14_sliding_window": (w14_sliding_window, W14_SQL),
    "w15_streaks": (w15_streaks, W15_SQL),
    "w16_interval_union": (w16_interval_union, W16_SQL),
    "a20_exact_median": (a20_exact_median, A20_SQL),
    "w17_event_funnel": (w17_event_funnel, W17_SQL),
    "a21_retention": (a21_retention, A21_SQL),
    "p12_zorder_key": (p12_zorder_key, P12_SQL),
    "a22_mad": (a22_mad, A22_SQL),
    "a23_exact_p90": (a23_exact_p90, A23_SQL),
    "u7_multiset_ops": (u7_multiset_ops, U7_SQL),
}
