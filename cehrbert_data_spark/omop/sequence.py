"""Sequence assembly: decorated events → one row per (cohort_member, person)
with parallel arrays (reference: utils/spark_utils.py:428-632).

The packing is the reference's collect-sort-explode: a deterministic 5-key
row_number, a struct whose LEADING fields encode the order, ``collect_set`` +
``sort_array`` inside a single groupBy, then per-field extraction into
parallel arrays. One shuffle total (the groupBy); the sort happens inside
each group, never globally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cehrbert_data_spark.omop.const import END_TOKEN
from cehrbert_data_spark.omop.decorators import (
    decorate_att,
    decorate_clinical,
    decorate_death,
    decorate_demographics,
)
from cehrbert_data_spark.sources.writers import checkpoint_barrier

#: Struct fields in sort-significance order (spark_utils.py:556-573). ``order``
#: first — sort_array on the struct sorts lexicographically by field order.
STRUCT_COLUMNS = [
    "order",
    "record_rank",
    "date_in_week",
    "standard_concept_id",
    "visit_segment",
    "age",
    "visit_rank_order",
    "concept_value_mask",
    "number_as_value",
    "concept_as_value",
    "is_numeric_type",
    "mlm_skip_value",
    "visit_concept_id",
    "visit_concept_order",
    "concept_order",
    "priority",
    "unit",
    "epoch_time",
]

OUTPUT_COLUMNS = [
    "cohort_member_id",
    "person_id",
    "concept_ids",
    "visit_segments",
    "orders",
    "dates",
    "ages",
    "visit_concept_orders",
    "num_of_visits",
    "num_of_concepts",
    "concept_value_masks",
    "number_as_values",
    "concept_as_values",
    "is_numeric_types",
    "mlm_skip_values",
    "priorities",
    "visit_concept_ids",
    "visit_rank_orders",
    "concept_orders",
    "record_ranks",
    "units",
    "epoch_times",
]


def pack_sequences(patient_events: DataFrame) -> DataFrame:
    """Order events and pack them into parallel arrays
    (reference: utils/spark_utils.py:536-632)."""
    order_expr = F.row_number().over(
        W.partitionBy("cohort_member_id", "person_id").orderBy(
            "visit_rank_order", "concept_order", "priority", "datetime", "standard_concept_id"
        )
    )
    record_rank_expr = F.dense_rank().over(
        W.partitionBy("cohort_member_id", "person_id").orderBy(
            "visit_rank_order", "concept_order", "priority", "datetime"
        )
    )
    grouped = (
        patient_events.withColumn("order", order_expr)
        .withColumn("epoch_time", F.unix_timestamp("datetime"))
        .withColumn("record_rank", record_rank_expr)
        .withColumn("data_for_sorting", F.struct(STRUCT_COLUMNS))
        .groupBy("cohort_member_id", "person_id")
        .agg(
            F.sort_array(F.collect_set("data_for_sorting")).alias("s"),
            F.max("visit_rank_order").alias("num_of_visits"),
            F.count("standard_concept_id").alias("num_of_concepts"),
        )
        .withColumn("orders", F.col("s.order").cast(T.ArrayType(T.IntegerType())))
        .withColumn("record_ranks", F.col("s.record_rank").cast(T.ArrayType(T.IntegerType())))
        .withColumn("dates", F.col("s.date_in_week"))
        .withColumn("concept_ids", F.col("s.standard_concept_id"))
        .withColumn("visit_segments", F.col("s.visit_segment"))
        .withColumn("ages", F.col("s.age"))
        .withColumn("visit_rank_orders", F.col("s.visit_rank_order"))
        .withColumn("visit_concept_orders", F.col("s.visit_concept_order"))
        .withColumn("concept_orders", F.col("s.concept_order"))
        .withColumn("priorities", F.col("s.priority"))
        .withColumn("concept_value_masks", F.col("s.concept_value_mask"))
        .withColumn("number_as_values", F.col("s.number_as_value"))
        .withColumn("concept_as_values", F.col("s.concept_as_value"))
        .withColumn("is_numeric_types", F.col("s.is_numeric_type"))
        .withColumn("mlm_skip_values", F.col("s.mlm_skip_value"))
        .withColumn("visit_concept_ids", F.col("s.visit_concept_id"))
        .withColumn("units", F.col("s.unit"))
        .withColumn("epoch_times", F.col("s.epoch_time"))
    )
    return grouped.select(OUTPUT_COLUMNS)


def create_sequence_data_with_att(
    patient_events: DataFrame,
    visit_occurrence: DataFrame,
    date_filter=None,
    att_type: str = "cehr_bert",
    inpatient_att_type: str = "mix",
    include_visit_type: bool = False,
    exclude_visit_tokens: bool = False,
    include_inpatient_hour_token: bool = False,
    patient_demographic: DataFrame | None = None,
    death: DataFrame | None = None,
    exclude_demographic: bool = True,
    use_age_group: bool = False,
    cohort_index: DataFrame | None = None,
) -> DataFrame:
    """The full D7 pipeline (reference: utils/spark_utils.py:428-632):
    clinical → ATT → death → [demographic] decorators, cohort-index clamp,
    then collect-sort-explode packing."""
    if date_filter:
        patient_events = patient_events.where(F.col("date").cast("date") >= date_filter)

    if cohort_index is not None:
        joined_expr = (
            ["person_id", "cohort_member_id"]
            if "cohort_member_id" in visit_occurrence.columns
            else ["person_id"]
        )
        # Visits starting after the index date are clamped to index-1d
        # (spark_utils.py:466-493).
        visit_occurrence = (
            visit_occurrence.join(
                patient_events.select("visit_occurrence_id").distinct(), "visit_occurrence_id"
            )
            .join(cohort_index, joined_expr)
            .withColumn(
                "visit_start_datetime",
                F.when(
                    F.col("visit_start_datetime") > F.col("index_date"),
                    F.expr("index_date - INTERVAL 1 DAY"),
                ).otherwise(F.col("visit_start_datetime")),
            )
            .withColumn("visit_start_date", F.to_date("visit_start_datetime"))
        )

    # decorate_att reads the clinical events three times (visit spans, the
    # inpatient join, the other-events anti-join): materialize them once so
    # neither its barriers nor the sink re-run this lineage.
    events = checkpoint_barrier(decorate_clinical(patient_events, visit_occurrence))
    events = decorate_att(
        events,
        visit_occurrence,
        att_type=att_type,
        inpatient_att_type=inpatient_att_type,
        include_visit_type=include_visit_type,
        exclude_visit_tokens=exclude_visit_tokens,
        include_inpatient_hour_token=include_inpatient_hour_token,
    )
    events = decorate_death(events, death, att_type=att_type)
    if not exclude_demographic:
        events = decorate_demographics(events, patient_demographic, use_age_group=use_age_group)

    # Prediction tasks keep only pre-index events (+ the [END] token)
    # (spark_utils.py:525-534).
    if cohort_index is not None:
        events = (
            events.join(cohort_index.select("person_id", "cohort_member_id", "index_date"),
                        ["person_id", "cohort_member_id"])
            .where(
                (F.col("datetime") <= F.col("index_date"))
                | (F.col("standard_concept_id") == END_TOKEN)
            )
            .drop("index_date")
        )

    return pack_sequences(events)


def create_concept_frequency_data(patient_events: DataFrame, date_filter=None) -> DataFrame:
    """Bag-of-concepts features: per (cohort_member, person) parallel arrays of
    concept ids and their frequencies (reference: utils/spark_utils.py:635-659
    — the reference extracts struct fields with Python UDFs; plain field
    extraction does the same JVM-side)."""
    if date_filter:
        patient_events = patient_events.where(F.col("date") >= date_filter)
    freqs = (
        patient_events.groupBy("cohort_member_id", "person_id", "standard_concept_id")
        .count()
        .withColumn("s", F.struct(F.col("standard_concept_id"), F.col("count")))
        .groupBy("cohort_member_id", "person_id")
        .agg(F.sort_array(F.collect_list("s")).alias("s"))
        .withColumn("concept_ids", F.col("s.standard_concept_id"))
        .withColumn("frequencies", F.col("s.count").cast(T.ArrayType(T.IntegerType())))
        .select("cohort_member_id", "person_id", "concept_ids", "frequencies")
    )
    return freqs
