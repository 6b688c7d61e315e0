"""D10 — EHRSHOT → OMOP conversion (event-stream CSV to CDM tables).

The EHRSHOT export is one long event stream: (patient_id, start, end,
code "VOCAB/CODE", value, unit, visit_id, omop_table). Conversion =
(1) pivot person rows into the demographics table, (2) map codes/units/
answers to concepts via vocabulary joins, (3) reconstruct visit ids
(link-by-span, then artificial visits), (4) priority-dedup visits.

Semantics source: tools/ehrshot_to_omop.py (person pivot :107-194,
unit/answer maps with rank-1 dedup :197-285, value typing :288-363,
code→concept join :366-419, visit reconstruction :422-591, visit priority
dedup :744-783).

Scale deviations: record ids are ``monotonically_increasing_id`` behind a
checkpoint (the reference uses row_number over a global window — a
single-partition shuffle, tools/ehrshot_to_omop.py:488); artificial visit
ids are dense-ranked per (patient, date) over a hash-partitioned window plus
a broadcast max, preserving "new ids > max real id".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cehrbert_data_spark.operators.ids import dense_ids
from cehrbert_data_spark.sources.writers import checkpoint_barrier

EHRSHOT_SCHEMA = T.StructType(
    [
        T.StructField("_c0", T.StringType()),
        T.StructField("patient_id", T.IntegerType()),
        T.StructField("start", T.TimestampType()),
        T.StructField("end", T.TimestampType()),
        T.StructField("code", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("unit", T.StringType()),
        T.StructField("visit_id", T.StringType()),
        T.StructField("omop_table", T.StringType()),
    ]
)

INPATIENT_CODES = ["Visit/IP", "Visit/ERIP"]
BIRTH_CODE = "SNOMED/3950001"
NUMERIC_PATTERN = r"^[+-]?\d*\.?\d+$"


def convert_code_to_omop_concept(data: DataFrame, concept: DataFrame, field: str) -> DataFrame:
    """'VOCAB/CODE' → concept_id via (vocabulary_id, concept_code) join;
    unmapped codes get concept_id 0 (reference: ehrshot_to_omop.py:366-419).

    The concept side is re-aliased to private columns (fresh expression ids)
    so pipelines joining ``concept`` more than once (e.g. value typing then
    code mapping) don't trip Spark's ambiguous-self-join detection."""
    codes = concept.select(
        F.col("vocabulary_id").alias("__c_vocabulary_id"),
        F.col("concept_code").alias("__c_concept_code"),
        F.col("concept_id").alias("__c_concept_id"),
    )
    # F.get (not []): slash-less codes like the minted visits' '0' have a
    # 1-element split, which ANSI mode turns into an array-index error
    keyed = data.withColumn(
        "__vocabulary_id", F.get(F.split(field, "/"), 0)
    ).withColumn("__concept_code", F.get(F.split(field, "/"), 1))
    return keyed.join(
        F.broadcast(codes),
        (F.col("__vocabulary_id") == F.col("__c_vocabulary_id"))
        & (F.col("__concept_code") == F.col("__c_concept_code")),
        "left_outer",
    ).select(
        *[F.col(c) for c in data.columns],
        F.coalesce(F.col("__c_concept_id"), F.lit(0)).alias("concept_id"),
    )


def _rank1_lookup(
    values: DataFrame, concept: DataFrame, value_col: str, match_col: str,
    domain: str, out_col: str,
) -> DataFrame:
    """Distinct values → first matching concept (rank-1 on concept_id),
    default 0 — shared by unit and answer mapping."""
    lookup = (
        values.select(value_col).distinct()
        .join(
            concept.where(F.col("domain_id") == domain),
            values[value_col] == concept[match_col],
            "left_outer",
        )
        .select(values[value_col], F.coalesce(concept["concept_id"], F.lit(0)).alias(out_col))
        .withColumn(
            "__order", F.row_number().over(W.partitionBy(value_col).orderBy(out_col))
        )
        .where(F.col("__order") == 1)
        .drop("__order")
    )
    return lookup


def map_unit(data: DataFrame, concept: DataFrame) -> DataFrame:
    """unit string → OMOP 'Unit' concept (reference: :197-238)."""
    return data.join(
        F.broadcast(_rank1_lookup(data, concept, "unit", "concept_code", "Unit", "unit_concept_id")),
        "unit",
        "left_outer",
    )


def map_answer(data: DataFrame, concept: DataFrame) -> DataFrame:
    """categorical value → OMOP 'Meas Value' concept (reference: :241-285)."""
    return data.join(
        F.broadcast(
            _rank1_lookup(data, concept, "value", "concept_name", "Meas Value", "value_as_concept_id")
        ),
        "value",
        "left_outer",
    )


def extract_value(data: DataFrame, concept: DataFrame) -> DataFrame:
    """Type the mixed value column: numeric → value_as_number + unit concept;
    categorical → value_as_concept_id; null stays null (reference: :288-363)."""
    df = data.withColumn(
        "is_numeric", F.regexp_extract(F.col("value"), NUMERIC_PATTERN, 0) != ""
    )
    numeric = map_unit(
        df.where(F.col("is_numeric"))
        .withColumn("value_as_number", F.col("value").cast(T.FloatType()))
        .withColumn("value_as_concept_id", F.lit(None).cast(T.IntegerType())),
        concept,
    )
    categorical = map_answer(
        df.where(~F.col("is_numeric"))
        .withColumn("unit_concept_id", F.lit(None).cast(T.IntegerType()))
        .withColumn("value_as_number", F.lit(None).cast(T.FloatType())),
        concept,
    )
    other = (
        df.where(F.col("is_numeric").isNull())
        .withColumn("unit_concept_id", F.lit(None).cast(T.IntegerType()))
        .withColumn("value_as_number", F.lit(None).cast(T.FloatType()))
        .withColumn("value_as_concept_id", F.lit(None).cast(T.IntegerType()))
    )
    return (
        numeric.unionByName(categorical).unionByName(other)
        .withColumnRenamed("value", "value_source_value")
        .withColumnRenamed("unit", "unit_source_value")
        .drop("is_numeric")
    )


def create_omop_person(ehr_shot_data: DataFrame, concept: DataFrame) -> DataFrame:
    """Pivot the person event rows into the OMOP person table
    (reference: :107-194): birth from SNOMED/3950001, gender/ethnicity/race
    from code prefixes."""
    person_rows = ehr_shot_data.where(F.col("omop_table") == "person")
    birth = person_rows.where(F.col("code") == BIRTH_CODE).select(
        F.col("patient_id").alias("person_id"),
        F.col("start").alias("birth_datetime"),
        F.year("start").alias("year_of_birth"),
        F.month("start").alias("month_of_birth"),
        F.dayofmonth("start").alias("day_of_birth"),
    )

    def demographic(prefix: str, concept_out: str, source_out: str) -> DataFrame:
        return convert_code_to_omop_concept(
            person_rows.where(F.col("code").startswith(prefix)), concept, "code"
        ).select(
            F.col("patient_id").alias("person_id"),
            F.col("concept_id").cast(T.IntegerType()).alias(concept_out),
            F.col("code").alias(source_out),
        )

    return (
        birth.join(demographic("Gender", "gender_concept_id", "gender_source_value"),
                   "person_id", "left_outer")
        .join(demographic("Ethnicity", "ethnicity_concept_id", "ethnicity_source_value"),
              "person_id", "left_outer")
        .join(demographic("Race", "race_concept_id", "race_source_value"),
              "person_id", "left_outer")
    )


def drop_duplicate_visits(data: DataFrame) -> DataFrame:
    """Keep one row per visit_id by code priority: IP/ERIP > ER > rest
    (reference: :744-783).

    Agg form (r11, the relink promotion generalized — see
    operators/windows.py top1_per_group_agg): visit_id is the table's
    near-PK, so the old row_number window shuffled and SORTED the whole
    event stream to elect one row per ~unique key; min(struct) elects it by
    map-side partial aggregation instead (no sort, hot keys spread). Ties
    beyond __priority fall through the payload columns deterministically —
    the window form left them to physical row order."""
    from cehrbert_data_spark.operators.windows import top1_per_group_agg

    priority = F.when(F.col("code").isin(INPATIENT_CODES), 1).otherwise(
        F.when(F.col("code") == "Visit/ER", 2).otherwise(3)
    )
    return top1_per_group_agg(
        data.withColumn("__priority", priority), ["visit_id"], ["__priority"]
    ).drop("__priority")


def generate_visit_id(data: DataFrame, day_cutoff: int = 1) -> DataFrame:
    """Reconstruct visit ids for the event stream (reference: :422-591):

    1. real visits = omop_table == 'visit_occurrence';
    2. non-visit records link to the nearest covering inpatient visit
       (smallest |visit.start − record.start|);
    3. remaining orphans (except person rows) get artificial ids — one per
       (patient, start date), all strictly above the max real id;
    4. artificial visit rows are appended for the new ids.

    Invariants (the reference's own unit-test contract): every non-person
    record has a visit_id; each artificial id covers exactly one patient;
    artificial ids > max real id.
    """
    real_visits = (
        data.where(F.col("omop_table") == "visit_occurrence")
        .withColumn("visit_start_date", F.col("start").cast(T.DateType()))
        .withColumn(
            "visit_end_date",
            F.coalesce(F.col("end").cast(T.DateType()), F.col("visit_start_date")),
        )
    )
    domain_records = checkpoint_barrier(
        data.where(F.col("omop_table") != "visit_occurrence")
        .withColumn("record_id", F.monotonically_increasing_id())
    )

    inpatient = real_visits.where(F.col("code").isin(INPATIENT_CODES))
    # Best-candidate visit match as the AGG form (r11; same promotion as
    # omop/visits.py relink): flatten the candidate pairs, then
    # min(struct(abs_gap, visit_id, payload)) per record_id — the winner is
    # the window form's rank 1, elected map-side with no candidate sort.
    # The explicit candidate visit_id tie-break makes equal-gap ties
    # deterministic (the window form left them to physical row order).
    from cehrbert_data_spark.operators.windows import top1_per_group_agg

    out_cols = [c for c in domain_records.columns if c != "visit_id"]
    candidates = (
        domain_records.alias("domain")
        .join(
            inpatient.alias("visit"),
            (F.col("domain.patient_id") == F.col("visit.patient_id"))
            & F.col("domain.start").between(F.col("visit.start"), F.col("visit.end")),
            "left_outer",
        )
        .select(
            *[F.col("domain." + c).alias(c) for c in out_cols],
            F.abs(
                F.unix_timestamp("visit.start") - F.unix_timestamp("domain.start")
            ).alias("__gap"),
            F.col("visit.visit_id").cast(T.LongType()).alias("__cand_vid"),
            F.coalesce(F.col("visit.visit_id"), F.col("domain.visit_id")).alias("visit_id"),
        )
    )
    linked = top1_per_group_agg(
        candidates, ["record_id"], ["__gap", "__cand_vid"]
    ).drop("__gap", "__cand_vid").select(out_cols + ["visit_id"])

    max_visit_id = real_visits.select(
        F.max(F.col("visit_id").cast(T.LongType())).alias("__max_visit_id")
    )
    orphans = (
        linked.where(F.col("visit_id").isNull())
        .where(F.col("omop_table") != "person")
        .crossJoin(F.broadcast(max_visit_id))
    )
    # Dense ids per (patient, date): hash-partition by patient, rank the few
    # dates inside, then offset by a per-patient base computed from a compact
    # distinct-date frame (no global single-partition window).
    orphan_dates = orphans.select(
        "patient_id", F.col("start").cast(T.DateType()).alias("__date")
    ).distinct()
    orphan_dates = dense_ids(
        orphan_dates, [F.col("patient_id"), F.col("__date")], out="__date_seq"
    )
    orphans = (
        orphans.withColumn("__date", F.col("start").cast(T.DateType()))
        .join(orphan_dates, ["patient_id", "__date"])
        .withColumn(
            "new_visit_id", (F.col("__date_seq") + F.col("__max_visit_id")).cast(T.LongType())
        )
        .drop("visit_id", "__date", "__date_seq", "__max_visit_id")
    )

    fixed_records = (
        linked.alias("domain")
        .join(
            orphans.select("record_id", "new_visit_id").alias("orphan"),
            "record_id",
            "left_outer",
        )
        .withColumn(
            "visit_id",
            F.coalesce(F.col("new_visit_id"), F.col("domain.visit_id").cast(T.LongType())),
        )
        .drop("new_visit_id")
    )

    # Artificial visits span min..max of their events' START times and carry
    # code '0' (reference: ehrshot_to_omop.py:559-576 — f.lit(0), max("start");
    # the OMOP4822036 artificial-visit token belongs to the TRAINING
    # pipeline's visit synthesis, not this converter). Golden-pinned by
    # tests/test_golden_ehrshot.py.
    artificial_visits = (
        orphans.groupBy("patient_id", "new_visit_id")
        .agg(F.min("start").alias("start"), F.max("start").alias("end"))
        .select(
            F.lit(None).cast(T.StringType()).alias("_c0"),
            "patient_id",
            "start",
            "end",
            F.lit("0").alias("code"),
            F.lit(None).cast(T.StringType()).alias("value"),
            F.lit(None).cast(T.StringType()).alias("unit"),
            F.col("new_visit_id").cast(T.StringType()).alias("visit_id"),
            F.lit("visit_occurrence").alias("omop_table"),
        )
    )

    real_with_ids = real_visits.drop("visit_start_date", "visit_end_date")
    base_cols = [c for c in data.columns]
    return (
        fixed_records.select([F.col(c).cast("string").alias(c) if c == "visit_id" else F.col(c) for c in base_cols])
        .unionByName(real_with_ids.select(base_cols))
        .unionByName(artificial_visits.select(base_cols))
    )


def disconnect_visit_id(data: DataFrame, day_cutoff: int = 1) -> DataFrame:
    """Disconnect domain records whose timestamps fall outside their visit's
    range and re-sessionize them into new visits (reference:
    tools/ehrshot_to_omop.py:593-741).

    Lab timestamps are often the result-return time, not the draw time, so a
    record can sit days-to-years outside its visit. For each visit whose
    event-inferred span [min(start), max(start)] leaks more than
    ``day_cutoff``·24 h before the visit start or after the visit end:

    1. the visit's distinct (start, code) event points are ordered and split
       into 24 h-gap sessions (running-sum sessionization);
    2. each session becomes a new visit id strictly above the current max
       visit id (dense rank over the compact distinct (visit, session) frame
       — no global single-partition window, unlike the reference's
       ``dense_rank().over(Window.orderBy(...))``);
    3. new visit rows take the session's [min, max] event-start span, and an
       inpatient code whose rebuilt span is ≤ 24 h is demoted to 'Visit/OP';
    4. the visit's domain records are re-pointed at their session's new id.

    Every output row carries ``original_visit_id`` (= ``visit_id`` for
    untouched rows) so downstream consumers can trace the reconstruction.
    """
    vid_type = data.schema["visit_id"].dataType
    domain_records = data.where(F.col("omop_table") != "visit_occurrence")
    visit_records = data.where(F.col("omop_table") == "visit_occurrence")

    inferred_span = (
        domain_records.alias("domain")
        .join(
            visit_records.alias("visit"),
            F.col("domain.visit_id") == F.col("visit.visit_id"),
        )
        .groupBy(F.col("domain.visit_id").alias("visit_id"))
        .agg(
            F.min("domain.start").alias("inferred_start"),
            F.max("domain.start").alias("inferred_end"),
        )
    )
    hours_before = (
        F.unix_timestamp("visit.start") - F.unix_timestamp("d_visit.inferred_start")
    ) / 3600
    hours_after = (
        F.unix_timestamp("d_visit.inferred_end") - F.unix_timestamp("visit.end")
    ) / 3600
    visits_to_fix = (
        inferred_span.alias("d_visit")
        .join(
            visit_records.alias("visit"),
            F.col("d_visit.visit_id") == F.col("visit.visit_id"),
        )
        .where((hours_before > day_cutoff * 24) | (hours_after > day_cutoff * 24))
        .select(F.col("visit.visit_id").alias("visit_id"))
        .distinct()
    )

    # Distinct event points of the to-fix visits, sessionized on 24 h gaps.
    # The session index per (visit_id, start) depends only on the start
    # multiset, so equal-start ties can't flip partition assignment.
    order_w = W.partitionBy("visit_id").orderBy("start")
    mapping = (
        domain_records.join(visits_to_fix, "visit_id")
        .select("visit_id", "start", "code")
        .distinct()
        .withColumn("__prev_start", F.lag("start").over(order_w))
        .withColumn(
            "__gap_hours",
            F.coalesce(
                (F.unix_timestamp("start") - F.unix_timestamp("__prev_start")) / 3600,
                F.lit(0),
            ),
        )
        .withColumn(
            "session",
            F.sum((F.col("__gap_hours") > 24).cast("int")).over(
                order_w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .drop("__prev_start", "__gap_hours")
    )
    max_visit_id = visit_records.select(
        F.max(F.col("visit_id").cast(T.LongType())).alias("__max_visit_id")
    )
    session_ids = dense_ids(
        mapping.select("visit_id", "session").distinct(),
        [F.col("visit_id").cast(T.LongType()), F.col("session")],
        out="__session_rank",
    )
    # Barrier: ``mapping`` feeds three downstream branches (fixed_visits,
    # fixed_domain, untouched's anti-join) — without it each branch re-derives
    # the sessionization + dense_ids subtree and the union's plan explodes
    # (the reference breaks lineage here with a parquet round-trip,
    # tools/ehrshot_to_omop.py:700-707).
    mapping = checkpoint_barrier(
        mapping.join(session_ids, ["visit_id", "session"])
        .crossJoin(F.broadcast(max_visit_id))
        .withColumn(
            "new_visit_id",
            (F.col("__max_visit_id") + F.col("__session_rank")).cast(vid_type),
        )
        .drop("__session_rank", "__max_visit_id", "session")
    )

    # New visit rows: one per session, spanning its event starts; inpatient
    # codes whose rebuilt span fits in a day demote to outpatient.
    fixed_visits = (
        visit_records.alias("ehr")
        .join(
            mapping.alias("visit"),
            F.col("ehr.visit_id") == F.col("visit.visit_id"),
        )
        .groupBy(
            F.col("visit.visit_id").alias("original_visit_id"),
            F.col("visit.new_visit_id").alias("visit_id"),
            F.col("ehr.patient_id").alias("patient_id"),
            F.col("ehr.code").alias("code"),
            F.col("ehr.value").alias("value"),
            F.col("ehr.unit").alias("unit"),
            F.col("ehr.omop_table").alias("omop_table"),
        )
        .agg(F.min("visit.start").alias("start"), F.max("visit.start").alias("end"))
        .withColumn(
            "code",
            F.when(
                F.col("code").isin(INPATIENT_CODES)
                & ((F.unix_timestamp("end") - F.unix_timestamp("start")) / 3600 <= 24),
                F.lit("Visit/OP"),
            ).otherwise(F.col("code")),
        )
    )
    for c in data.columns:  # passthrough columns the groupBy doesn't carry
        if c not in fixed_visits.columns:
            fixed_visits = fixed_visits.withColumn(c, F.lit(None).cast(data.schema[c].dataType))

    # eqNullSafe on start/code: mapping holds the SAME distinct triples as
    # domain_records, so a NULL-keyed row inside a to-fix visit round-trips
    # instead of being dropped (it is removed from `untouched` by the
    # anti-join below and must be re-emitted here).
    fixed_domain = (
        domain_records.alias("ehr")
        .join(
            mapping.alias("visit"),
            (F.col("ehr.visit_id") == F.col("visit.visit_id"))
            & F.col("ehr.start").eqNullSafe(F.col("visit.start"))
            & F.col("ehr.code").eqNullSafe(F.col("visit.code")),
        )
        .select(
            [
                F.coalesce(F.col("visit.new_visit_id"), F.col("ehr.visit_id")).alias("visit_id"),
                F.coalesce(F.col("visit.visit_id"), F.col("ehr.visit_id")).alias("original_visit_id"),
            ]
            + [F.col(f"ehr.{c}").alias(c) for c in data.columns if c != "visit_id"]
        )
    )

    untouched = data.join(
        mapping.select("visit_id").distinct(), "visit_id", "left_anti"
    ).withColumn("original_visit_id", F.col("visit_id"))

    out_cols = data.columns + ["original_visit_id"]
    return (
        untouched.select(out_cols)
        .unionByName(fixed_domain.select(out_cols))
        .unionByName(fixed_visits.select(out_cols))
    )


CLINICAL_DOMAINS = [
    "condition_occurrence",
    "procedure_occurrence",
    "drug_exposure",
    "measurement",
    "observation",
    "death",
]


def promote_inferred_inpatient(data: DataFrame) -> DataFrame:
    """Promote outpatient visits whose clinical events span more than 24 h to
    inferred inpatient visits (reference: tools/ehrshot_to_omop.py:818-858).

    The event-start span (min/max of clinical-domain ``start``; the raw visit
    ``end`` is untrusted — it can sit years out) decides the promotion: span
    > 24 h ⇒ the visit row's code becomes 'Visit/IP' and its start/end are
    replaced by the inferred span. Domain rows are untouched.
    """
    visit_rows = data.where(F.col("omop_table") == "visit_occurrence")
    outpatient_ids = visit_rows.where(~F.col("code").isin(INPATIENT_CODES)).select(
        "visit_id"
    )
    spans = (
        data.join(outpatient_ids.distinct(), "visit_id")
        .where(F.col("omop_table").isin(CLINICAL_DOMAINS))
        .groupBy("visit_id")
        .agg(F.min("start").alias("start"), F.max("start").alias("end"))
        .where((F.unix_timestamp("end") - F.unix_timestamp("start")) / 3600 > 24)
        .select("visit_id", "start", "end", F.lit("Visit/IP").alias("code"))
    )
    is_visit = F.col("ehr.omop_table") == "visit_occurrence"
    patched = {
        "start": F.when(is_visit, F.coalesce(F.col("visits.start"), F.col("ehr.start"))).otherwise(F.col("ehr.start")),
        "end": F.when(is_visit, F.coalesce(F.col("visits.end"), F.col("ehr.end"))).otherwise(F.col("ehr.end")),
        "code": F.when(is_visit, F.coalesce(F.col("visits.code"), F.col("ehr.code"))).otherwise(F.col("ehr.code")),
    }
    return (
        data.alias("ehr")
        .join(spans.alias("visits"), "visit_id", "left_outer")
        .select(
            [
                patched[c].alias(c) if c in patched else F.col(f"ehr.{c}").alias(c)
                for c in data.columns
            ]
        )
    )
