"""End-to-end smoke tests for the training-data apps on a tiny OMOP folder
(the reference's integration-test model: run main(), assert output shape)."""

from __future__ import annotations

import datetime

import pytest

from cehrbert_data_spark.apps import (
    extract_features,
    generate_included_concept_list,
    generate_training_data,
)


def _d(y, m, d):
    return datetime.date(y, m, d)


def _dt(y, m, d, h=0):
    return datetime.datetime(y, m, d, h)


@pytest.fixture(scope="module")
def omop_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("omop_train")
    spark.createDataFrame(
        [(1, datetime.datetime(1970, 1, 1), 1970, 8507, 8527),
         (2, datetime.datetime(1980, 1, 1), 1980, 8532, 8516)],
        "person_id: long, birth_datetime: timestamp, year_of_birth: int, "
        "gender_concept_id: int, race_concept_id: int",
    ).write.parquet(str(root / "person"))
    spark.createDataFrame(
        [
            (10, 1, 9202, _d(2020, 1, 1), _dt(2020, 1, 1, 9), _d(2020, 1, 1), _dt(2020, 1, 1, 10), 0),
            (11, 1, 9202, _d(2020, 2, 1), _dt(2020, 2, 1, 9), _d(2020, 2, 1), _dt(2020, 2, 1, 10), 0),
            (20, 2, 9202, _d(2020, 3, 1), _dt(2020, 3, 1, 9), _d(2020, 3, 1), _dt(2020, 3, 1, 10), 0),
        ],
        "visit_occurrence_id: long, person_id: long, visit_concept_id: int, "
        "visit_start_date: date, visit_start_datetime: timestamp, "
        "visit_end_date: date, visit_end_datetime: timestamp, "
        "discharged_to_concept_id: int",
    ).write.parquet(str(root / "visit_occurrence"))
    spark.createDataFrame(
        [
            (100, 1, 201820, _d(2020, 1, 1), _dt(2020, 1, 1, 9), 10),
            (101, 1, 313217, _d(2020, 2, 1), _dt(2020, 2, 1, 9), 11),
            (102, 2, 201820, _d(2020, 3, 1), _dt(2020, 3, 1, 9), 20),
        ],
        "condition_occurrence_id: long, person_id: long, condition_concept_id: int, "
        "condition_start_date: date, condition_start_datetime: timestamp, "
        "visit_occurrence_id: long",
    ).write.parquet(str(root / "condition_occurrence"))
    return str(root)


def test_generate_training_data_end_to_end(spark, omop_dir, tmp_path):
    out = generate_training_data.main(
        input_folder=omop_dir,
        output_folder=str(tmp_path / "seq"),
        domain_table_list=["condition_occurrence"],
        spark=spark,
    )
    seqs = spark.read.parquet(out)
    rows = {r["person_id"]: r for r in seqs.collect()}
    assert set(rows) == {1, 2}
    # person 1: two visits → [VS] c [VE] ATT [VS] c [VE] shape
    tokens = rows[1]["concept_ids"]
    assert tokens.count("[VS]") == 2 and tokens.count("[VE]") == 2
    assert "201820" in tokens and "313217" in tokens
    # one inter-visit ATT bucket token between the visits (Jan 1 → Feb 1 = M1)
    assert "M1" in tokens


def test_generate_training_data_bucketed_output(spark, omop_dir, tmp_path):
    out = generate_training_data.main(
        input_folder=omop_dir,
        output_folder=str(tmp_path / "seqb"),
        domain_table_list=["condition_occurrence"],
        bucket_by_person=4,
        spark=spark,
    )
    try:
        table = spark.table("patient_sequence_bucketed")
        assert sorted(r["person_id"] for r in table.select("person_id").collect()) == [1, 2]
        # the point of the layout: a person_id self-join plans with no shuffle
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = table.alias("x").join(
                spark.table("patient_sequence_bucketed").alias("y"), "person_id"
            )
            plan = spark._jvm.PythonSQLUtils.explainString(
                joined._jdf.queryExecution(), "formatted"
            )
            assert "Exchange" not in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # the files are still plain parquet at the requested path
        assert spark.read.parquet(out).count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS patient_sequence_bucketed")


def test_extract_features_end_to_end(spark, omop_dir, tmp_path):
    cohort = spark.createDataFrame(
        [(1, _dt(2020, 3, 1), 1), (2, _dt(2020, 3, 2), 0)],
        "pid: long, t: timestamp, y: int",
    )
    cohort_path = str(tmp_path / "cohort.parquet")
    cohort.write.parquet(cohort_path)
    out = extract_features.main(
        cohort_path=cohort_path,
        input_folder=omop_dir,
        output_folder=str(tmp_path / "features"),
        person_id_column="pid",
        index_date_column="t",
        label_column="y",
        domain_table_list=["condition_occurrence"],
        spark=spark,
    )
    feats = spark.read.parquet(out)
    rows = {r["person_id"]: r for r in feats.collect()}
    assert rows[1]["label"] == 1 and rows[2]["label"] == 0
    # only events at/before the index date survive
    assert all("[VS]" in r["concept_ids"] for r in rows.values())


def test_generate_included_concept_list(spark, omop_dir, tmp_path):
    out = generate_included_concept_list.main(
        input_folder=omop_dir,
        output_folder=str(tmp_path / "concepts"),
        min_num_of_patients=2,
        spark=spark,
    )
    qualified = spark.read.parquet(out)
    # only 201820 is seen by >= 2 distinct patients
    assert [r["standard_concept_id"] for r in qualified.collect()] == ["201820"]


def test_generate_training_data_sink_reads_materialized_events(
    spark, omop_dir, tmp_path, monkeypatch
):
    # The clinical-decorated events are materialized once: the plan handed
    # to the sink reads no parquet (no branch reaches back to the durable
    # checkpoint) and keeps only the shuffles after the last barrier.
    from cehrbert_data_spark.plans.budget import count_exchanges, physical_plan

    sunk = []
    monkeypatch.setattr(
        generate_training_data, "write_parquet", lambda df, path, *a, **k: sunk.append(df)
    )
    generate_training_data.main(
        input_folder=omop_dir,
        output_folder=str(tmp_path / "seq"),
        domain_table_list=["condition_occurrence"],
        should_construct_artificial_visits=True,
        spark=spark,
    )
    (sequences,) = sunk
    assert "FileScan" not in physical_plan(sequences, mode="simple")
    assert count_exchanges(sequences) <= 6
