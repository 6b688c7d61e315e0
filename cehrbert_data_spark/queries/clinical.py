"""Clinical-framework queries over TPC-H-ish tables: the D8 labeled-cohort
semantics and the remaining §2 window/join families, each DuckDB-verified.

The cohort query maps the OMOP shapes onto the testdata: person ← customer,
visit ← order, index date ← first order date, outcome ← second order,
observation period end ← last order date. This runs the REAL
``omop.cohort.label_cohort`` / ``add_time_to_event`` operators, so the
correctness gate covers the cohort framework itself, not a lookalike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from cehrbert_data_spark.omop.cohort import add_time_to_event, label_cohort
from cehrbert_data_spark.operators.windows import ordered_rank
from cehrbert_data_spark.sources.readers import read_table

PREDICTION_WINDOW = 90


def _nth_order(spark, sf_dir, n):
    orders = read_table(spark, sf_dir, "orders")
    ranked = ordered_rank(
        orders,
        ["o_custkey"],
        ["o_orderdate", "o_orderkey"],
        out="__rn",
    )
    return ranked.where(F.col("__rn") == n).select(
        F.col("o_custkey").alias("person_id"),
        F.col("o_orderdate").alias("index_date"),
        F.col("o_orderkey").alias("visit_occurrence_id"),
    )


def c_label_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target = first order per customer; outcome = second order; bounded
    90-day window with observation-period (last order date) coverage."""
    target = _nth_order(spark, sf_dir, 1)
    outcome = _nth_order(spark, sf_dir, 2)
    observation_period = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("person_id"))
        .agg(F.max("o_orderdate").alias("observation_period_end_date"))
    )
    labeled = label_cohort(
        target,
        outcome,
        observation_period,
        prediction_start_days=1,
        prediction_window=PREDICTION_WINDOW,
    )
    final = add_time_to_event(labeled, None, prediction_window=PREDICTION_WINDOW)
    return final.select(
        "person_id", "index_date", "visit_occurrence_id", "outcome_date",
        "label", "cohort_member_id", "study_end_date", "time_to_event",
    )


C_LABEL_SQL = f"""
WITH ranked AS (
  SELECT o_custkey, o_orderdate, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
),
target AS (
  SELECT o_custkey AS person_id, o_orderdate AS index_date, o_orderkey AS visit_occurrence_id
  FROM ranked WHERE rn = 1
),
outcome AS (
  SELECT o_custkey AS person_id, o_orderdate AS index_date
  FROM ranked WHERE rn = 2
),
op AS (
  SELECT o_custkey AS person_id, MAX(o_orderdate) AS op_end FROM orders GROUP BY o_custkey
),
labeled AS (
  SELECT DISTINCT t.person_id, t.index_date, t.visit_occurrence_id,
         o.index_date AS outcome_date,
         CAST(o.person_id IS NOT NULL AS INT) AS label
  FROM target t
  LEFT JOIN op ON t.person_id = op.person_id
      AND t.index_date + INTERVAL {PREDICTION_WINDOW} DAY <= op.op_end
  LEFT JOIN outcome o ON t.person_id = o.person_id
      AND o.index_date BETWEEN t.index_date + INTERVAL 1 DAY
          AND t.index_date + INTERVAL {PREDICTION_WINDOW} DAY
  WHERE op.person_id IS NOT NULL OR o.person_id IS NOT NULL
),
with_ids AS (
  SELECT *, DENSE_RANK() OVER (ORDER BY person_id, index_date, visit_occurrence_id)
      AS cohort_member_id
  FROM labeled
),
dedup AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY person_id, cohort_member_id, index_date ORDER BY label DESC) AS rr
    FROM with_ids
  ) WHERE rr = 1
)
SELECT person_id, index_date, visit_occurrence_id, outcome_date, label, cohort_member_id,
       COALESCE(outcome_date, index_date + INTERVAL {PREDICTION_WINDOW} DAY) AS study_end_date,
       DATE_DIFF('day', CAST(index_date AS DATE),
                 CAST(COALESCE(outcome_date, index_date + INTERVAL {PREDICTION_WINDOW} DAY) AS DATE))
           AS time_to_event
FROM dedup
"""


# --- J9: NOT EXISTS (anti join in SQL form) ---------------------------------

def j9_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    high_value = orders.where(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return customer.join(high_value.distinct(), "c_custkey", "left_anti").select(
        "c_custkey", "c_name"
    )


J9_SQL = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
)
"""


def j9_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive EXISTS → left-semi join (reference J9: WHERE EXISTS in
    queries/measurement_queries.py:31-38, cohorts/cabg.py)."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    high_value = orders.where(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return customer.join(high_value, "c_custkey", "left_semi").select(
        "c_custkey", "c_name"
    )


J9_EXISTS_SQL = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
)
"""


def a9_groupby_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: ``groupby(k).max()`` shorthand — Spark names the outputs
    ``max(col)`` (reference: utils/vocab_utils.py:262-267 CPT level-0)."""
    orders = read_table(spark, sf_dir, "orders")
    out = orders.select("o_custkey", "o_totalprice", "o_orderkey").groupBy(
        "o_custkey"
    ).max("o_totalprice", "o_orderkey")
    return out.select(
        "o_custkey",
        F.col("max(o_totalprice)").alias("max_price"),
        F.col("max(o_orderkey)").alias("max_orderkey"),
    )


A9_SQL = """
SELECT o_custkey, MAX(o_totalprice) AS max_price, MAX(o_orderkey) AS max_orderkey
FROM orders GROUP BY o_custkey
"""


# --- W3: rank() with gaps ---------------------------------------------------

def w3_rank_with_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    ranked = ordered_rank(
        orders.withColumn("price_bucket", F.floor(F.col("o_totalprice") / 10000)),
        ["o_custkey"],
        ["price_bucket DESC", "o_orderkey"],
        out="price_rank",
        kind="rank",
    )
    return ranked.select("o_custkey", "o_orderkey", "price_bucket", "price_rank")


W3_SQL = """
-- CAST: DuckDB's FLOOR returns DOUBLE (renders '12.0'), Spark's returns BIGINT.
SELECT o_custkey, o_orderkey, CAST(FLOOR(o_totalprice / 10000) AS BIGINT) AS price_bucket,
       RANK() OVER (PARTITION BY o_custkey
                    ORDER BY FLOOR(o_totalprice / 10000) DESC, o_orderkey) AS price_rank
FROM orders
"""


# --- W6: max over partition without ordering --------------------------------

def w6_partition_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        "user_id",
        F.max("value").over(W.partitionBy("user_id")).alias("user_max_value"),
    )


W6_SQL = """
SELECT event_id, user_id, MAX(value) OVER (PARTITION BY user_id) AS user_max_value
FROM events
"""


# --- W9: COUNT(*) OVER (PARTITION BY ...) -----------------------------------

def w9_count_over(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        "user_id",
        "event_type",
        F.count(F.lit(1))
        .over(W.partitionBy("user_id", "event_type"))
        .alias("n_same_type"),
    )


W9_SQL = """
SELECT event_id, user_id, event_type,
       COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_same_type
FROM events
"""


# --- A3: count per group ----------------------------------------------------

def a3_count_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return events.groupBy("event_type").count().withColumnRenamed("count", "n")


A3_SQL = "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type"


# --- D9: lab prevalence through the real stats operator ---------------------

_TYPE_ID = "CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2 WHEN 'signup' THEN 3 WHEN 'purchase' THEN 4 WHEN 'error' THEN 5 END"


def d9_lab_prevalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the events stream onto the measurement shape and run the real
    ``omop.stats.lab_prevalence``: value>50 → numeric lab, else categorical."""
    from cehrbert_data_spark.omop.stats import lab_prevalence

    ev = read_table(spark, sf_dir, "events")
    measurement = ev.select(
        F.col("user_id").alias("person_id"),
        F.expr(_TYPE_ID).alias("measurement_concept_id"),
        F.when(F.col("value") > 50, F.col("value")).alias("value_as_number"),
        F.when(F.col("value") <= 50, F.lit(99)).alias("value_as_concept_id"),
    )
    concept = ev.select(
        F.expr(_TYPE_ID).alias("concept_id"),
        F.col("event_type").alias("concept_name"),
    ).distinct()
    return lab_prevalence(measurement, concept)


D9_SQL = f"""
WITH m AS (
  SELECT user_id AS person_id,
         {_TYPE_ID} AS measurement_concept_id,
         event_type AS concept_name,
         CASE WHEN value > 50 THEN value END AS value_as_number,
         CASE WHEN value <= 50 THEN 99 END AS value_as_concept_id
  FROM events
)
SELECT measurement_concept_id, concept_name,
       COUNT(*) AS freq,
       COUNT(DISTINCT person_id) AS person_count,
       CAST(SUM(CASE WHEN value_as_number IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS numeric_percentage,
       CAST(SUM(CASE WHEN value_as_concept_id IS NOT NULL AND value_as_concept_id <> 0
                     THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS categorical_percentage
FROM m
WHERE measurement_concept_id <> 0
GROUP BY measurement_concept_id, concept_name
"""


QUERIES = {
    "c_label_cohort": (c_label_cohort, C_LABEL_SQL),
    "d9_lab_prevalence": (d9_lab_prevalence, D9_SQL),
    "j9_not_exists": (j9_not_exists, J9_SQL),
    "j9_exists": (j9_exists, J9_EXISTS_SQL),
    "a9_groupby_max": (a9_groupby_max, A9_SQL),
    "w3_rank_with_gaps": (w3_rank_with_gaps, W3_SQL),
    "w6_partition_max": (w6_partition_max, W6_SQL),
    "w9_count_over": (w9_count_over, W9_SQL),
    "a3_count_per_group": (a3_count_per_group, A3_SQL),
}
