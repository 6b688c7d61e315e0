"""Pretraining-sequence app: OMOP parquet folder → patient_sequence parquet.

CLI surface mirrors the reference
(reference: apps/generate_training_data.py:243-369); the pipeline is
§3.1's lifecycle: normalize → visit-id hygiene → standardize per domain →
enrich with visit/person → [artificial visits] → age filter → decorator
chain → pack → write (train/test split when patient_splits exists).

Run: ``python -m cehrbert_data_spark.apps.generate_training_data -i <omop_dir>
-o <out_dir> [--domain_table_list condition_occurrence drug_exposure ...]``
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import functions as F

from cehrbert_data_spark.omop.events import extract_events_by_domain, invalidate_visit_id
from cehrbert_data_spark.omop.sequence import create_sequence_data_with_att
from cehrbert_data_spark.omop.visits import construct_artificial_visits
from cehrbert_data_spark.omop.vocab import roll_up_diagnosis, roll_up_to_drug_ingredients
from cehrbert_data_spark.session import build_session
from cehrbert_data_spark.sources.readers import normalize_domain_table, read_parquet
from cehrbert_data_spark.sources.writers import (
    checkpoint_barrier,
    write_bucketed,
    write_parquet,
    write_split,
)


def load_table(spark, input_folder: str, name: str):
    return normalize_domain_table(read_parquet(spark, os.path.join(input_folder, name)))


def main(
    input_folder: str,
    output_folder: str,
    domain_table_list: list[str],
    date_filter: str | None = None,
    att_type: str = "cehr_bert",
    inpatient_att_type: str = "mix",
    include_visit_type: bool = False,
    exclude_visit_tokens: bool = False,
    include_inpatient_hour_token: bool = False,
    include_death: bool = False,
    exclude_demographic: bool = True,
    use_age_group: bool = False,
    with_drug_rollup: bool = False,
    with_diagnosis_rollup: bool = False,
    should_construct_artificial_visits: bool = False,
    artificial_visit_relink_form: str = "agg",
    apply_age_filter: bool = True,
    aggregate_by_hour: bool = False,
    bucket_by_person: int | None = None,
    plan_check: bool = False,
    dry_run: bool = False,
    spark=None,
):
    spark = spark or build_session("generate_training_data")

    visit_occurrence = load_table(spark, input_folder, "visit_occurrence")
    person = load_table(spark, input_folder, "person")
    concept = None
    concept_path = os.path.join(input_folder, "concept")
    if os.path.exists(concept_path):
        concept = load_table(spark, input_folder, "concept")

    events = None
    for name in domain_table_list:
        domain = load_table(spark, input_folder, name)
        if with_drug_rollup and name == "drug_exposure" and concept is not None:
            ancestor = load_table(spark, input_folder, "concept_ancestor")
            domain = roll_up_to_drug_ingredients(domain, concept, ancestor)
        if with_diagnosis_rollup and name == "condition_occurrence" and concept is not None:
            relationship = load_table(spark, input_folder, "concept_relationship")
            domain = roll_up_diagnosis(domain, concept, relationship)
        domain = invalidate_visit_id(domain, visit_occurrence)
        extracted = extract_events_by_domain(
            domain, concept=concept, aggregate_by_hour=aggregate_by_hour
        )
        events = extracted if events is None else events.unionByName(extracted)

    visit_columns = [
        "visit_occurrence_id", "visit_start_date", "visit_start_datetime",
        "visit_end_date", "visit_end_datetime", "visit_concept_id", "person_id",
        "discharged_to_concept_id",
    ]
    visit_occurrence = visit_occurrence.select(visit_columns)
    person_slim = person.select(
        "person_id",
        F.coalesce(
            "birth_datetime", F.concat("year_of_birth", F.lit("-01-01")).cast("timestamp")
        ).alias("birth_datetime"),
        "race_concept_id",
        "gender_concept_id",
    )
    visit_person = (
        visit_occurrence.join(person_slim, "person_id")
        .withColumn(
            "age",
            F.ceil(
                F.months_between(F.col("visit_start_date"), F.col("birth_datetime")) / F.lit(12)
            ),
        )
        .drop("birth_datetime")
    )

    events = (
        events.join(
            visit_person.select("visit_occurrence_id", "visit_concept_id", "age"),
            "visit_occurrence_id",
        )
        .withColumn("cohort_member_id", F.col("person_id"))
    )
    # Materialization barrier: the reference writes/re-reads all_patient_events
    # (generate_training_data.py:154-157) so downstream id minting is stable.
    # A dry run skips it, as it writes nothing. The eager barriers in
    # create_sequence_data_with_att and decorate_att still run jobs in a dry
    # run, and the plan check sees only the plan after the last of them:
    # the relink and decorate_clinical plans are pinned in
    # tests/test_plan_shapes.py instead.
    if not dry_run:
        events = checkpoint_barrier(
            events, os.path.join(output_folder, "all_patient_events")
        )

    if should_construct_artificial_visits:
        events, visit_person = construct_artificial_visits(
            events, visit_person, relink_form=artificial_visit_relink_form
        )

    if apply_age_filter:
        events = events.where(F.col("age") < 90)

    if date_filter:
        events = events.where(F.col("date") >= F.lit(date_filter).cast("date"))

    death = None
    if include_death and os.path.exists(os.path.join(input_folder, "death")):
        death = load_table(spark, input_folder, "death")

    sequences = create_sequence_data_with_att(
        events,
        visit_person,
        att_type=att_type,
        inpatient_att_type=inpatient_att_type,
        include_visit_type=include_visit_type,
        exclude_visit_tokens=exclude_visit_tokens,
        include_inpatient_hour_token=include_inpatient_hour_token,
        patient_demographic=person_slim if not exclude_demographic else None,
        death=death,
        exclude_demographic=exclude_demographic,
        use_age_group=use_age_group,
    )

    if plan_check:
        # App-level plan budget over the plan the sink would run: no
        # single-partition window, no row-at-a-time Python eval, and a
        # shuffle-exchange ceiling. Measured 6 exchanges with and without
        # artificial visits, dry run or not (condition + procedure + drug
        # with both roll-ups); everything upstream sits behind the clinical
        # barrier (the ceiling of 40 predates it). The check itself is
        # analysis-only, but the barriers above it have already run jobs.
        from cehrbert_data_spark.plans.budget import assert_plan_budget

        report = assert_plan_budget(
            sequences, "generate_training_data", max_exchanges=40
        )
        print(f"plan budget ok: {report}")

    out = os.path.join(output_folder, "patient_sequence")
    if dry_run:
        return out
    splits_path = os.path.join(input_folder, "patient_splits")
    if os.path.exists(splits_path):
        splits = read_parquet(spark, splits_path)
        write_split(sequences, splits, out)
    elif bucket_by_person:
        # 100 TB layout: hash-bucket the output by person_id so every
        # downstream per-person join/agg (feature extraction, cohort
        # labeling against this table) runs shuffle-free
        # (tests/test_bucketing.py pins the plan property).
        write_bucketed(
            sequences,
            "patient_sequence_bucketed",
            "person_id",
            int(bucket_by_person),
            sort_cols=["person_id"],
            path=out,
        )
    else:
        write_parquet(sequences, out)
    return out


def parse_args(argv=None):
    parser = argparse.ArgumentParser(description="Generate pretraining patient sequences")
    parser.add_argument("-i", "--input_folder", required=True)
    parser.add_argument("-o", "--output_folder", required=True)
    parser.add_argument(
        "-tc", "--domain_table_list", nargs="+",
        default=["condition_occurrence", "procedure_occurrence", "drug_exposure"],
    )
    parser.add_argument("-d", "--date_filter", default=None)
    parser.add_argument("--att_type", default="cehr_bert",
                        choices=["cehr_bert", "day", "week", "month", "mix", "none"])
    parser.add_argument("--inpatient_att_type", default="mix",
                        choices=["cehr_bert", "day", "week", "month", "mix", "none"])
    parser.add_argument("--include_visit_type", action="store_true")
    parser.add_argument("--exclude_visit_tokens", action="store_true")
    parser.add_argument("--include_inpatient_hour_token", action="store_true")
    parser.add_argument("--include_death", action="store_true")
    parser.add_argument("--include_demographic", action="store_true")
    parser.add_argument("--use_age_group", action="store_true")
    parser.add_argument("--with_drug_rollup", action="store_true")
    parser.add_argument("--with_diagnosis_rollup", action="store_true")
    parser.add_argument("--construct_artificial_visits", action="store_true")
    parser.add_argument("--no_age_filter", action="store_true")
    parser.add_argument("--aggregate_by_hour", action="store_true")
    parser.add_argument(
        "--bucket_by_person", type=int, default=None, metavar="N",
        help="write patient_sequence as an N-bucket person_id-bucketed table "
        "(shuffle-free downstream per-person joins)",
    )
    parser.add_argument(
        "--plan_check", action="store_true",
        help="assert the composed pipeline's plan budget (no global window, "
        "no Python row eval) before writing",
    )
    parser.add_argument(
        "--dry_run", action="store_true",
        help="build and (with --plan_check) validate the plan, write nothing",
    )
    return parser.parse_args(argv)


if __name__ == "__main__":
    args = parse_args()
    main(
        input_folder=args.input_folder,
        output_folder=args.output_folder,
        domain_table_list=args.domain_table_list,
        date_filter=args.date_filter,
        att_type=args.att_type,
        inpatient_att_type=args.inpatient_att_type,
        include_visit_type=args.include_visit_type,
        exclude_visit_tokens=args.exclude_visit_tokens,
        include_inpatient_hour_token=args.include_inpatient_hour_token,
        include_death=args.include_death,
        exclude_demographic=not args.include_demographic,
        use_age_group=args.use_age_group,
        with_drug_rollup=args.with_drug_rollup,
        with_diagnosis_rollup=args.with_diagnosis_rollup,
        should_construct_artificial_visits=args.construct_artificial_visits,
        apply_age_filter=not args.no_age_filter,
        aggregate_by_hour=args.aggregate_by_hour,
        bucket_by_person=args.bucket_by_person,
        plan_check=args.plan_check,
        dry_run=args.dry_run,
    )
