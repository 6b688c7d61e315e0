"""Sequence-assembly queries — the reference's core capability (D7) mapped to
the testdata event stream: deterministic in-group ordering, ATT gap tokens,
and nested-array sequence packing (reference: utils/spark_utils.py:428-632).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cehrbert_data_spark.functions.temporal import att_token, att_token_sql
from cehrbert_data_spark.operators.windows import prev_value
from cehrbert_data_spark.sources.readers import read_table


def seq_att_gap_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATT token distribution over inter-order day gaps per customer.

    Mirrors the reference's inter-visit ATT insertion
    (decorators/artificial_time_token_decorator.py:158-196) with the
    cehr_bert bucketing nativized as a CASE expression (vs. the reference's
    Python UDF, patient_event_decorator_base.py:93-102).
    """
    orders = read_table(spark, sf_dir, "orders")
    with_prev = prev_value(
        orders,
        "o_orderdate",
        ["o_custkey"],
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        out="prev_date",
    )
    gaps = with_prev.where(F.col("prev_date").isNotNull()).select(
        F.datediff(F.to_date("o_orderdate"), F.to_date("prev_date")).alias("day_gap")
    )
    return gaps.select(att_token(F.col("day_gap")).alias("att_token")).groupBy(
        "att_token"
    ).agg(F.count(F.lit(1)).alias("n"))


SEQ_ATT_SQL = f"""
WITH gaps AS (
  SELECT DATEDIFF('day',
                  CAST(LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
                  CAST(o_orderdate AS DATE)) AS day_gap
  FROM orders
)
SELECT {att_token_sql('day_gap')} AS att_token, COUNT(*) AS n
FROM gaps WHERE day_gap IS NOT NULL
GROUP BY 1
"""


def seq_user_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: per-user event sequence as parallel sorted arrays.

    The reference packs ``sort_array(collect_set(struct(...)))`` and explodes
    struct fields into parallel arrays (utils/spark_utils.py:599-631). Same
    shape here: order encoded in the struct's leading fields (ts, event_id)
    so the array sort is the deterministic 5-key ordering.
    """
    # Expression strings (r11 RPC pass 4): ~1/6 the Py4J round trips per
    # build of the equivalent Column chain.
    events = read_table(spark, sf_dir, "events")
    packed = (
        events.selectExpr("user_id", "struct(ts, event_id, event_type) AS s")
        .groupBy("user_id")
        .agg(F.expr("sort_array(collect_list(s)) AS seq"))
    )
    return packed.selectExpr(
        "user_id",
        "seq.event_type AS event_types",
        "seq.event_id AS event_ids",
        "size(seq) AS num_of_events",
        "size(array_distinct(seq.event_type)) AS num_of_types",
    )


def seq_user_sequence_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable flagship: identical sequences, arrays serialized to
    '|'-joined strings (the driver's canonicalizer hashes scalar columns only
    — list cells raise ``unhashable type``). The array-shaped variant above
    stays the ``entry()`` flagship."""
    return seq_user_sequence(spark, sf_dir).selectExpr(
        "user_id",
        "concat_ws('|', event_types) AS event_types",
        "concat_ws('|', CAST(event_ids AS ARRAY<STRING>)) AS event_ids",
        "num_of_events",
        "num_of_types",
    )


# Scale note (round-9): at 100×-sweep volume (10M events) DuckDB's ordered
# LIST aggregation drives the process to ~65k distinct memory mappings —
# the DEFAULT vm.max_map_count — and mmap failures at the boundary surface
# as misleading 'bad allocation' OOMs that poison the whole process. Not a
# query-shape problem (split/composite-list reformulations all ride the
# same boundary); the sweep prerequisite is a raised kernel limit, warned
# about by tools/verify_oracle.py.
SEQ_USER_SQL = """
SELECT user_id,
       array_to_string(LIST(event_type ORDER BY ts, event_id), '|') AS event_types,
       array_to_string(LIST(event_id ORDER BY ts, event_id), '|') AS event_ids,
       COUNT(*) AS num_of_events,
       COUNT(DISTINCT event_type) AS num_of_types
FROM events
GROUP BY user_id
"""


QUERIES = {
    "seq_att_gap_tokens": (seq_att_gap_tokens, SEQ_ATT_SQL),
    "seq_user_sequence": (seq_user_sequence_flat, SEQ_USER_SQL),
}
