"""D7 — the patient-event decorator chain, as pure DataFrame functions.

Each ``decorate_*`` takes and returns a DataFrame satisfying the 24-column
decorated-event contract (validated by :func:`validate_decorated`); the chain
is composed by :func:`cehrbert_data_spark.omop.sequence.build_sequences`.

Key deviation from the reference: all ATT time-bucket tokens are native CASE
expressions (functions.temporal) instead of Python UDFs
(reference registers UDFs at decorators/artificial_time_token_decorator.py:168,
236 and death_event_decorator.py:103) — same semantics, no Python-worker
round trip, stays inside whole-stage codegen. The death decorator's
artificial visit ids use a broadcast max + monotonic ids rather than the
reference's single-partition global window (death_event_decorator.py:60-62)
— the observable contract (unique ids > max existing id) is preserved and the
plan stays fully parallel.

Semantics sources (all reference files under /root/reference/src/cehrbert_data):
  clinical   — decorators/clinical_event_decorator.py:26-157
  ATT        — decorators/artificial_time_token_decorator.py:51-428
  death      — decorators/death_event_decorator.py:32-126
  demographic— decorators/demographic_event_decorator.py:33-157
  prediction — decorators/prediction_token_decorator.py:27-73
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cehrbert_data_spark.functions.temporal import get_att_expr
from cehrbert_data_spark.omop.const import (
    ATT_TOKEN_PRIORITY,
    AGE_TOKEN_PRIORITY,
    CATEGORICAL_MEASUREMENT,
    DEATH_TOKEN,
    DEATH_TOKEN_PRIORITY,
    DECORATED_EVENT_COLUMNS,
    DEFAULT_PRIORITY,
    DISCHARGE_EXPIRED_CONCEPT_ID,
    DISCHARGE_TOKEN_PRIORITY,
    DISCHARGE_UNKNOWN_TOKEN,
    END_TOKEN,
    FIRST_VISIT_HOUR_TOKEN_PRIORITY,
    GENDER_TOKEN_PRIORITY,
    GENDER_UNKNOWN_TOKEN,
    INPATIENT_VISIT_CONCEPT_IDS,
    MEASUREMENT,
    NA,
    PREDICTION_TOKEN_PRIORITY,
    RACE_TOKEN_PRIORITY,
    RACE_UNKNOWN_TOKEN,
    VE_TOKEN,
    VE_TOKEN_PRIORITY,
    VISIT_TYPE_TOKEN_PRIORITY,
    VISIT_UNKNOWN_TOKEN,
    VS_TOKEN,
    VS_TOKEN_PRIORITY,
    YEAR_TOKEN_PRIORITY,
    inpatient_att_token_priority,
    inpatient_hour_token_priority,
    inpatient_token_priority,
)
from cehrbert_data_spark.sources.writers import checkpoint_barrier

LARGE_INTEGER = 1_000_000


def validate_decorated(df: DataFrame) -> DataFrame:
    """Column-contract check after every decorator
    (reference: patient_event_decorator_base.py:80-90)."""
    actual = set(df.columns)
    if actual != DECORATED_EVENT_COLUMNS:
        raise RuntimeError(
            "decorated-event contract violated\n"
            f"unexpected: {sorted(actual - DECORATED_EVENT_COLUMNS)}\n"
            f"missing:    {sorted(DECORATED_EVENT_COLUMNS - actual)}"
        )
    return df


def _week_since_epoch(date_col: str = "date") -> F.Column:
    return (F.unix_timestamp(date_col) / F.lit(24 * 60 * 60 * 7)).cast("int")


def decorate_clinical(patient_events: DataFrame, visit_occurrence: DataFrame) -> DataFrame:
    """Join visit context and derive ordering columns
    (reference: clinical_event_decorator.py:26-157).

    Input events: cohort_member_id, person_id, standard_concept_id, date,
    datetime, visit_occurrence_id, domain, event_group_id, number_as_value,
    concept_as_value, unit, age, visit_concept_id.
    """
    valid_visit_ids = patient_events.select("visit_occurrence_id", "cohort_member_id").distinct()

    visit_rank = F.row_number().over(
        W.partitionBy("person_id", "cohort_member_id").orderBy(
            "visit_start_datetime", "is_inpatient", "expired", "visit_occurrence_id"
        )
    )
    joined_expr = (
        ["visit_occurrence_id", "cohort_member_id"]
        if "cohort_member_id" in visit_occurrence.columns
        else ["visit_occurrence_id"]
    )
    visits = (
        visit_occurrence.join(valid_visit_ids, joined_expr)
        .select(
            "person_id",
            "cohort_member_id",
            "visit_occurrence_id",
            "visit_end_date",
            F.col("visit_start_date").cast(T.DateType()).alias("visit_start_date"),
            F.to_timestamp("visit_start_datetime").alias("visit_start_datetime"),
            F.col("visit_concept_id").cast("int")
            .isin(INPATIENT_VISIT_CONCEPT_IDS)
            .cast("int")
            .alias("is_inpatient"),
            F.when(
                F.col("discharged_to_concept_id").cast("int") == DISCHARGE_EXPIRED_CONCEPT_ID,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("expired"),
        )
        .withColumn("visit_rank_order", visit_rank)
        .withColumn("visit_segment", F.col("visit_rank_order") % F.lit(2) + 1)
        .drop("person_id", "expired")
    )

    concept_order = F.when(
        F.col("is_inpatient") == 1,
        F.dense_rank().over(
            W.partitionBy("cohort_member_id", "visit_occurrence_id").orderBy("datetime")
        ),
    ).otherwise(F.lit(1))
    visit_concept_order = F.dense_rank().over(
        W.partitionBy("person_id", "cohort_member_id").orderBy("visit_rank_order", "concept_order")
    )
    # Outpatient visits "end" on their start date; inpatient end dates fall
    # back to the max event date of the visit.
    visit_end_date = F.when(
        F.col("is_inpatient") == 1,
        F.coalesce(
            F.col("visit_end_date"),
            F.max("date").over(W.partitionBy("cohort_member_id", "visit_occurrence_id")),
        ),
    ).otherwise(F.col("visit_start_date"))
    # Outpatient visit_start_datetime snaps to midnight (some sources set it
    # to the end of the day).
    visit_start_datetime = (
        F.when(F.col("is_inpatient") == 0, F.col("visit_start_date")).otherwise(
            F.col("visit_start_datetime")
        )
    ).cast(T.TimestampType())

    events = (
        patient_events.join(visits, ["cohort_member_id", "visit_occurrence_id"])
        .withColumn("datetime", F.coalesce(F.to_timestamp("datetime"), F.to_timestamp("date")))
        .withColumn("visit_start_datetime", visit_start_datetime)
        .withColumn("visit_end_date", visit_end_date)
        .withColumn("concept_order", concept_order)
        .withColumn("visit_concept_order", visit_concept_order)
        .drop("is_inpatient", "visit_end_date")
        .distinct()
        .withColumn("priority", F.lit(DEFAULT_PRIORITY))
        .withColumn("date_in_week", _week_since_epoch())
        .withColumn(
            "concept_value_mask",
            (F.col("number_as_value").isNotNull() | F.col("concept_as_value").isNotNull()).cast(
                "int"
            ),
        )
        .withColumn("is_numeric_type", F.col("number_as_value").isNotNull().cast("int"))
        .withColumn(
            "mlm_skip_value",
            F.col("domain").isin([MEASUREMENT, CATEGORICAL_MEASUREMENT]).cast("int"),
        )
    )
    return validate_decorated(events)


def _visit_token_base(patient_events: DataFrame, visit_occurrence: DataFrame) -> DataFrame:
    """Per-visit rows with concept-order spans, the shared scaffold for every
    artificial token family (reference: artificial_time_token_decorator.py:56-121)."""
    cohort_members = patient_events.select("person_id", "cohort_member_id").distinct()
    spans = patient_events.groupBy(
        "cohort_member_id", "visit_occurrence_id", "visit_segment", "visit_rank_order"
    ).agg(
        F.min("visit_concept_order").alias("min_visit_concept_order"),
        F.max("visit_concept_order").alias("max_visit_concept_order"),
        F.min("concept_order").alias("min_concept_order"),
        F.max("concept_order").alias("max_concept_order"),
    )
    joined_expr = (
        ["person_id", "cohort_member_id"]
        if "cohort_member_id" in visit_occurrence.columns
        else ["person_id"]
    )
    visits = (
        visit_occurrence.join(cohort_members, joined_expr)
        .select(
            "person_id",
            "cohort_member_id",
            F.col("visit_start_date").cast(T.DateType()).alias("date"),
            F.col("visit_start_date").cast(T.DateType()).alias("visit_start_date"),
            F.col("visit_start_datetime").cast(T.TimestampType()).alias("visit_start_datetime"),
            F.coalesce("visit_end_date", "visit_start_date").cast(T.DateType()).alias("visit_end_date"),
            "visit_concept_id",
            "visit_occurrence_id",
            F.lit("visit").alias("domain"),
            F.lit(0.0).cast("float").alias("number_as_value"),
            F.lit("0").cast("string").alias("concept_as_value"),
            F.lit(0).alias("is_numeric_type"),
            F.lit(0).alias("concept_value_mask"),
            F.lit(0).alias("mlm_skip_value"),
            "age",
            "discharged_to_concept_id",
        )
        .join(spans, ["visit_occurrence_id", "cohort_member_id"])
        .withColumn(
            "visit_end_date",
            F.when(
                F.col("visit_concept_id").isin(INPATIENT_VISIT_CONCEPT_IDS),
                F.col("visit_end_date"),
            ).otherwise(F.col("visit_start_date")),
        )
        .withColumn("date_in_week", _week_since_epoch())
    )
    return visits


_SPAN_COLS = [
    "min_visit_concept_order",
    "max_visit_concept_order",
    "min_concept_order",
    "max_concept_order",
]


def decorate_att(
    patient_events: DataFrame,
    visit_occurrence: DataFrame,
    att_type: str = "cehr_bert",
    inpatient_att_type: str = "mix",
    include_visit_type: bool = False,
    exclude_visit_tokens: bool = False,
    include_inpatient_hour_token: bool = False,
) -> DataFrame:
    """Insert [VS]/[VE], inter-visit ATT, discharge, inpatient span/hour
    tokens (reference: artificial_time_token_decorator.py:51-428)."""
    if att_type == "none":
        return patient_events

    att_expr = get_att_expr(att_type)
    inpatient_att_expr = get_att_expr(inpatient_att_type)

    visit_base = checkpoint_barrier(_visit_token_base(patient_events, visit_occurrence))
    visits = visit_base.drop("discharged_to_concept_id")

    vs_events = (
        visits.withColumn("date", F.col("visit_start_date"))
        .withColumn("datetime", F.to_timestamp("visit_start_date"))
        .withColumn("standard_concept_id", F.lit(VS_TOKEN))
        .withColumn("visit_concept_order", F.col("min_visit_concept_order"))
        .withColumn("concept_order", F.col("min_concept_order") - 1)
        .withColumn("priority", F.lit(VS_TOKEN_PRIORITY))
        .withColumn("unit", F.lit(NA))
        .withColumn("event_group_id", F.lit(NA))
        .drop(*_SPAN_COLS)
    )
    ve_events = (
        visits.withColumn("date", F.col("visit_end_date"))
        .withColumn("datetime", F.date_add(F.to_timestamp("visit_end_date"), 1))
        .withColumn("datetime", F.expr("datetime - INTERVAL 1 MINUTE"))
        .withColumn("standard_concept_id", F.lit(VE_TOKEN))
        .withColumn("visit_concept_order", F.col("max_visit_concept_order"))
        .withColumn("concept_order", F.col("max_concept_order") + 1)
        .withColumn("priority", F.lit(VE_TOKEN_PRIORITY))
        .withColumn("unit", F.lit(NA))
        .withColumn("event_group_id", F.lit(NA))
        .drop(*_SPAN_COLS)
    )

    prev_visit_end = F.lag("visit_end_date").over(
        W.partitionBy("person_id", "cohort_member_id").orderBy("visit_rank_order")
    )
    att_tokens = (
        visits.withColumn("datetime", F.to_timestamp("date"))
        .withColumn("prev_visit_end_date", prev_visit_end)
        .where(F.col("prev_visit_end_date").isNotNull())
        .withColumn(
            "time_delta",
            F.when(F.col("prev_visit_end_date").isNull(), 0).otherwise(
                F.datediff("visit_start_date", "prev_visit_end_date")
            ),
        )
        .withColumn(
            "time_delta",
            F.when(F.col("time_delta") < 0, F.lit(0)).otherwise(F.col("time_delta")),
        )
        .withColumn("standard_concept_id", att_expr(F.col("time_delta")))
        .withColumn("priority", F.lit(ATT_TOKEN_PRIORITY))
        .withColumn("visit_concept_order", F.col("min_visit_concept_order"))
        .withColumn("concept_order", F.lit(0))
        .withColumn("unit", F.lit(NA))
        .withColumn("event_group_id", F.lit(NA))
        .drop("prev_visit_end_date", "time_delta", *_SPAN_COLS)
    )

    if exclude_visit_tokens:
        artificial_tokens = att_tokens
    else:
        artificial_tokens = vs_events.unionByName(att_tokens).unionByName(ve_events)

    if include_visit_type:
        visit_type_tokens = (
            visits.withColumn(
                "standard_concept_id",
                F.when(
                    F.col("visit_concept_id").cast("string") == "0",
                    F.lit(VISIT_UNKNOWN_TOKEN),
                ).otherwise(F.col("visit_concept_id").cast("string")),
            )
            .withColumn("datetime", F.to_timestamp("date"))
            .withColumn("visit_concept_order", F.col("min_visit_concept_order"))
            .withColumn("concept_order", F.lit(0))
            .withColumn("priority", F.lit(VISIT_TYPE_TOKEN_PRIORITY))
            .withColumn("unit", F.lit(NA))
            .withColumn("event_group_id", F.lit(NA))
            .drop(*_SPAN_COLS)
        )
        artificial_tokens = artificial_tokens.unionByName(visit_type_tokens)

    artificial_tokens = artificial_tokens.drop("visit_end_date")

    # --- inpatient events: clamp dates into the visit span, re-prioritize ----
    inpatient_visits = visit_base.where(
        F.col("visit_concept_id").isin(INPATIENT_VISIT_CONCEPT_IDS)
    ).select("visit_occurrence_id", "visit_end_date", "cohort_member_id")

    inpatient_events = (
        patient_events.join(inpatient_visits, ["visit_occurrence_id", "cohort_member_id"])
        .withColumn(
            "visit_end_date",
            F.coalesce(
                "visit_end_date",
                F.max("date").over(W.partitionBy("cohort_member_id", "visit_occurrence_id")),
            ),
        )
        .withColumn(
            "date",
            F.when(F.col("date") < F.col("visit_start_date"), F.col("visit_start_date")).otherwise(
                F.when(F.col("date") > F.col("visit_end_date"), F.col("visit_end_date")).otherwise(
                    F.col("date")
                )
            ),
        )
        .withColumn("priority", inpatient_token_priority())
        .drop("visit_end_date")
    )

    discharge_events = (
        visit_base.where(F.col("visit_concept_id").isin(INPATIENT_VISIT_CONCEPT_IDS))
        .withColumn(
            "standard_concept_id",
            F.coalesce(F.col("discharged_to_concept_id").cast("string"), F.lit("0")),
        )
        .withColumn("visit_concept_order", F.col("max_visit_concept_order"))
        .withColumn("concept_order", F.col("max_concept_order") + 1)
        .withColumn("date", F.col("visit_end_date"))
        .withColumn("datetime", F.date_add(F.to_timestamp("visit_end_date"), 1))
        .withColumn("datetime", F.expr("datetime - INTERVAL 1 MINUTE"))
        .withColumn("priority", F.lit(DISCHARGE_TOKEN_PRIORITY))
        .withColumn("unit", F.lit(NA))
        .withColumn("event_group_id", F.lit(NA))
        .drop("discharged_to_concept_id", "visit_end_date", *_SPAN_COLS)
        .withColumn(
            "standard_concept_id",
            F.when(
                F.col("standard_concept_id").cast("string") == "0",
                F.lit(DISCHARGE_UNKNOWN_TOKEN),
            ).otherwise(F.col("standard_concept_id")),
        )
    )
    inpatient_events = checkpoint_barrier(inpatient_events.unionByName(discharge_events))

    prev_date = F.lag("date").over(
        W.partitionBy("cohort_member_id", "visit_occurrence_id").orderBy("concept_order")
    )
    inpatient_att_events = (
        inpatient_events.withColumn(
            "is_span_boundary",
            F.row_number().over(
                W.partitionBy("cohort_member_id", "visit_occurrence_id", "concept_order").orderBy(
                    "priority"
                )
            ),
        )
        .where(F.col("is_span_boundary") == 1)
        .withColumn("prev_date", prev_date)
        .withColumn(
            "date_delta",
            F.when(F.col("prev_date").isNull(), 0).otherwise(F.datediff("date", "prev_date")),
        )
        .where(F.col("date_delta") != 0)
        .where(F.col("prev_date").isNotNull())
        .withColumn(
            "standard_concept_id",
            F.concat(F.lit("i-"), inpatient_att_expr(F.col("date_delta"))),
        )
        .withColumn("priority", inpatient_att_token_priority())
        .withColumn("concept_value_mask", F.lit(0))
        .withColumn("number_as_value", F.lit(0.0).cast("float"))
        .withColumn("concept_as_value", F.lit("0").cast("string"))
        .withColumn("is_numeric_type", F.lit(0))
        .withColumn("unit", F.lit(NA))
        .withColumn("event_group_id", F.lit(NA))
        .drop("prev_date", "date_delta", "is_span_boundary")
    )

    if include_inpatient_hour_token:
        first_hour_delta = F.floor(
            (
                F.unix_timestamp("visit_start_datetime")
                - F.unix_timestamp(F.col("visit_start_datetime").cast("date"))
            )
            / 3600
        )
        first_hour_token_events = (
            visits.where(F.col("visit_concept_id").isin(INPATIENT_VISIT_CONCEPT_IDS))
            .withColumn("hour_delta", first_hour_delta)
            .where(F.col("hour_delta") > 0)
            .withColumn("date", F.col("visit_start_date"))
            .withColumn("datetime", F.to_timestamp("date"))
            .withColumn("standard_concept_id", F.concat(F.lit("i-H"), F.col("hour_delta")))
            .withColumn("visit_concept_order", F.col("min_visit_concept_order"))
            .withColumn("concept_order", F.lit(0))
            .withColumn("priority", F.lit(FIRST_VISIT_HOUR_TOKEN_PRIORITY))
            .withColumn("unit", F.lit(NA))
            .withColumn("event_group_id", F.lit(NA))
            .drop(*_SPAN_COLS)
            .drop("hour_delta", "visit_end_date")
        )
        prev_datetime = F.lag("datetime").over(
            W.partitionBy("cohort_member_id", "visit_occurrence_id").orderBy("concept_order")
        )
        hour_delta_same_day = F.when(F.col("prev_datetime").isNull(), 0).otherwise(
            F.floor((F.unix_timestamp("datetime") - F.unix_timestamp("prev_datetime")) / 3600)
        )
        hour_delta_new_day = F.floor(
            (F.unix_timestamp("datetime") - F.unix_timestamp(F.col("datetime").cast("date"))) / 3600
        )
        inpatient_hour_events = (
            inpatient_events.withColumn("prev_date", prev_date)
            .where(F.col("prev_date").isNotNull())
            .withColumn("prev_datetime", prev_datetime)
            .withColumn(
                "hour_delta",
                F.when(F.col("prev_date") == F.col("date"), hour_delta_same_day).otherwise(
                    hour_delta_new_day
                ),
            )
            .where(F.col("hour_delta") > 0)
            .withColumn("standard_concept_id", F.concat(F.lit("i-H"), F.col("hour_delta")))
            .withColumn("priority", inpatient_hour_token_priority())
            .withColumn("concept_value_mask", F.lit(0))
            .withColumn("number_as_value", F.lit(0.0).cast("float"))
            .withColumn("concept_as_value", F.lit("0").cast("string"))
            .withColumn("is_numeric_type", F.lit(0))
            .withColumn("unit", F.lit(NA))
            .withColumn("event_group_id", F.lit(NA))
            .drop("prev_date", "prev_datetime", "hour_delta")
        )
        inpatient_att_events = inpatient_att_events.unionByName(first_hour_token_events)
        inpatient_att_events = inpatient_att_events.unionByName(inpatient_hour_events)

    other_events = patient_events.join(
        inpatient_visits.select("visit_occurrence_id", "cohort_member_id"),
        ["visit_occurrence_id", "cohort_member_id"],
        how="left_anti",
    )

    out = (
        inpatient_events.unionByName(inpatient_att_events)
        .unionByName(other_events)
        .unionByName(artificial_tokens)
    )
    return validate_decorated(out)


def decorate_death(
    patient_events: DataFrame,
    death: DataFrame | None,
    att_type: str = "cehr_bert",
) -> DataFrame:
    """Append an artificial death visit ([VS] ATT [DEATH] [VE]) after each
    deceased patient's last visit (reference: death_event_decorator.py:32-126)."""
    if death is None:
        return patient_events

    att_expr = get_att_expr(att_type)
    death_records = patient_events.join(death.select("person_id", "death_date"), "person_id")

    max_visit_id = death_records.select(
        F.max("visit_occurrence_id").alias("max_visit_occurrence_id")
    )
    last_ve_events = (
        death_records.where(F.col("standard_concept_id") == VE_TOKEN)
        .withColumn(
            "record_rank",
            F.row_number().over(
                W.partitionBy("person_id", "cohort_member_id").orderBy(
                    F.desc("datetime"), F.desc("visit_rank_order")
                )
            ),
        )
        .where(F.col("record_rank") == 1)
        .drop("record_rank")
    )

    # Unique ids above the max existing id, minted distributedly (the
    # reference uses a single-partition global window here).
    base = checkpoint_barrier(
        last_ve_events.crossJoin(F.broadcast(max_visit_id))
        .withColumn(
            "visit_occurrence_id",
            F.monotonically_increasing_id() + F.col("max_visit_occurrence_id") + 1,
        )
        .withColumn("standard_concept_id", F.lit(DEATH_TOKEN))
        .withColumn("domain", F.lit("death"))
        .withColumn("visit_rank_order", F.lit(100) + F.col("visit_rank_order"))
        .withColumn("priority", F.lit(DEATH_TOKEN_PRIORITY))
        .withColumn("event_group_id", F.lit(NA))
        .drop("max_visit_occurrence_id")
    )

    vs_records = (
        base.withColumn("standard_concept_id", F.lit(VS_TOKEN))
        .withColumn("priority", F.lit(VS_TOKEN_PRIORITY))
        .withColumn("unit", F.lit(NA))
        .withColumn("event_group_id", F.lit(NA))
    )
    ve_records = (
        base.withColumn("standard_concept_id", F.lit(VE_TOKEN))
        .withColumn("priority", F.lit(VE_TOKEN_PRIORITY))
        .withColumn("unit", F.lit(NA))
        .withColumn("event_group_id", F.lit(NA))
    )
    att_records = (
        base.withColumn(
            "death_date",
            F.when(F.col("death_date") < F.col("date"), F.col("date")).otherwise(
                F.col("death_date")
            ),
        )
        .withColumn("time_delta", F.datediff("death_date", "date"))
        .withColumn("standard_concept_id", att_expr(F.col("time_delta")))
        .withColumn("priority", F.lit(ATT_TOKEN_PRIORITY))
        .withColumn("unit", F.lit(NA))
        .withColumn("event_group_id", F.lit(NA))
        .drop("time_delta")
    )

    new_tokens = (
        att_records.unionByName(vs_records).unionByName(base).unionByName(ve_records)
    ).drop("death_date")
    return validate_decorated(patient_events.unionByName(new_tokens))


def decorate_demographics(
    patient_events: DataFrame,
    patient_demographic: DataFrame | None,
    use_age_group: bool = False,
) -> DataFrame:
    """Prepend year/age/gender/race prompt tokens
    (reference: demographic_event_decorator.py:33-157)."""
    if patient_demographic is None:
        return patient_events

    first_token = F.row_number().over(
        W.partitionBy("cohort_member_id", "person_id").orderBy(
            "visit_start_datetime", "visit_occurrence_id", "priority", "standard_concept_id"
        )
    )
    patient_first_token = (
        patient_events.withColumn("token_order", first_token)
        .withColumn("concept_value_mask", F.lit(0))
        .withColumn("number_as_value", F.lit(0.0).cast("float"))
        .withColumn("concept_as_value", F.lit("0").cast("string"))
        .withColumn("is_numeric_type", F.lit(0))
        .withColumn("unit", F.lit(NA))
        .withColumn("event_group_id", F.lit(NA))
        .where("token_order = 1")
        .drop("token_order")
    )

    year_token = checkpoint_barrier(
        patient_first_token.withColumn(
            "standard_concept_id",
            F.concat(F.lit("year:"), F.year("date").cast(T.StringType())),
        )
        .withColumn("priority", F.lit(YEAR_TOKEN_PRIORITY))
        .withColumn("visit_segment", F.lit(0))
        .withColumn("date_in_week", F.lit(0))
        .withColumn("age", F.lit(-1))
        .withColumn("visit_rank_order", F.lit(0))
        .withColumn("visit_concept_order", F.lit(0))
        .withColumn("concept_order", F.lit(0))
    )

    if use_age_group:
        decade = F.ceil(
            F.floor(F.months_between(F.col("date"), F.col("birth_datetime")) / F.lit(12) / 10)
        )
        age_expr = F.concat(
            F.lit("age:"),
            (decade * 10).cast(T.StringType()),
            F.lit("-"),
            ((decade + 1) * 10).cast(T.StringType()),
        )
    else:
        age_expr = F.concat(
            F.lit("age:"),
            F.ceil(F.months_between(F.col("date"), F.col("birth_datetime")) / F.lit(12)).cast(
                T.StringType()
            ),
        )

    age_token = (
        patient_demographic.select("person_id", "birth_datetime")
        .join(year_token, "person_id")
        .withColumn("standard_concept_id", age_expr)
        .withColumn("priority", F.lit(AGE_TOKEN_PRIORITY))
        .drop("birth_datetime")
    )
    gender_token = (
        patient_demographic.select("person_id", "gender_concept_id")
        .join(year_token, "person_id")
        .withColumn(
            "standard_concept_id",
            F.when(
                F.coalesce(F.col("gender_concept_id"), F.lit(0)) != 0,
                F.col("gender_concept_id").cast(T.StringType()),
            ).otherwise(F.lit(GENDER_UNKNOWN_TOKEN)),
        )
        .withColumn("priority", F.lit(GENDER_TOKEN_PRIORITY))
        .drop("gender_concept_id")
    )
    race_token = (
        patient_demographic.select("person_id", "race_concept_id")
        .join(year_token, "person_id")
        .withColumn(
            "standard_concept_id",
            F.when(
                F.coalesce(F.col("race_concept_id"), F.lit(0)) != 0,
                F.col("race_concept_id").cast(T.StringType()),
            ).otherwise(F.lit(RACE_UNKNOWN_TOKEN)),
        )
        .withColumn("priority", F.lit(RACE_TOKEN_PRIORITY))
        .drop("race_concept_id")
    )

    out = (
        patient_events.unionByName(year_token)
        .unionByName(age_token)
        .unionByName(gender_token)
        .unionByName(race_token)
    )
    return validate_decorated(out)


def decorate_prediction_token(
    patient_events: DataFrame, cohort_index: DataFrame | None
) -> DataFrame:
    """Append the [END] prediction token per cohort member
    (reference: prediction_token_decorator.py:27-73)."""
    if cohort_index is None:
        return patient_events
    prediction_events = (
        patient_events.select("person_id", "cohort_member_id")
        .distinct()
        .select(
            "person_id",
            "cohort_member_id",
            F.lit(0).alias("visit_occurrence_id"),
            F.current_date().alias("date"),
            F.current_date().alias("visit_start_date"),
            F.current_timestamp().alias("visit_start_datetime"),
            F.lit(0).cast(T.IntegerType()).alias("visit_concept_id"),
            F.lit("prediction_token").alias("domain"),
            F.lit(0.0).cast("float").alias("number_as_value"),
            F.lit("0").alias("concept_as_value"),
            F.lit(0).alias("is_numeric_type"),
            F.lit(0).alias("concept_value_mask"),
            F.lit(0).alias("mlm_skip_value"),
            F.lit(0).alias("age"),
            F.lit(0).alias("visit_segment"),
            F.lit(LARGE_INTEGER).alias("visit_rank_order"),
            F.lit(LARGE_INTEGER).alias("date_in_week"),
            F.current_timestamp().alias("datetime"),
            F.lit(END_TOKEN).alias("standard_concept_id"),
            F.lit(LARGE_INTEGER).alias("visit_concept_order"),
            F.lit(LARGE_INTEGER).alias("concept_order"),
            F.lit(PREDICTION_TOKEN_PRIORITY).alias("priority"),
            F.lit(NA).alias("unit"),
            F.lit(NA).alias("event_group_id"),
        )
    )
    return patient_events.unionByName(prediction_events)
