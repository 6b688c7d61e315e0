"""App-level scale smoke: synthesize a mid-size OMOP folder from the
driver's events testdata and time the full pretraining-sequence pipeline
(generate_training_data.main) end-to-end.

Not part of bench.py's driver contract — run manually:

    python tools/bench_app.py [sf_dir] [out_dir]

Prints one JSON line with row counts and wall-clock seconds. The point is
catching pipeline-level regressions (plan-tree blowups, OOM-class issues,
accidental driver collects) on data ~100× the unit-test fixtures.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F


def synthesize_omop(spark, sf_dir: str, omop_dir: str) -> dict:
    """events(user_id, ts, event_id, event_type) → person / visit_occurrence /
    condition_occurrence with sessionized visits (24h gap)."""
    from cehrbert_data_spark.operators.windows import sessionize
    from cehrbert_data_spark.sources.readers import read_table

    events = read_table(spark, sf_dir, "events")
    person = (
        events.select("user_id").distinct()
        .select(
            F.col("user_id").alias("person_id"),
            (F.lit(1950) + F.col("user_id") % 50).cast("int").alias("year_of_birth"),
            F.when(F.col("user_id") % 2 == 0, 8507).otherwise(8532).alias("gender_concept_id"),
            F.lit(0).alias("race_concept_id"),
            F.concat((F.lit(1950) + F.col("user_id") % 50).cast("string"), F.lit("-01-01"))
            .cast("timestamp")
            .alias("birth_datetime"),
        )
    )
    sess = sessionize(
        events,
        ["user_id"],
        ["ts ASC", "event_id ASC"],
        ts="ts",
        gap=24 * 3600.0,
    )
    visits = (
        sess.groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
        .select(
            (F.col("user_id") * 100_000 + F.col("session_id")).alias("visit_occurrence_id"),
            F.col("user_id").alias("person_id"),
            F.when(F.col("session_id") % 10 == 0, 9201).otherwise(9202).alias("visit_concept_id"),
            F.col("start_ts").cast("date").alias("visit_start_date"),
            F.col("start_ts").cast("timestamp").alias("visit_start_datetime"),
            F.col("end_ts").cast("date").alias("visit_end_date"),
            F.col("end_ts").cast("timestamp").alias("visit_end_datetime"),
            F.lit(0).cast("int").alias("discharged_to_concept_id"),
        )
    )
    conditions = (
        sess.select(
            F.col("event_id").alias("condition_occurrence_id"),
            F.col("user_id").alias("person_id"),
            (F.lit(440_000) + F.col("event_id") % 200).alias("condition_concept_id"),
            F.col("ts").cast("date").alias("condition_start_date"),
            F.col("ts").cast("timestamp").alias("condition_start_datetime"),
            (F.col("user_id") * 100_000 + F.col("session_id")).alias("visit_occurrence_id"),
        )
    )
    counts = {}
    for name, df in [
        ("person", person),
        ("visit_occurrence", visits),
        ("condition_occurrence", conditions),
    ]:
        df.write.mode("overwrite").parquet(os.path.join(omop_dir, name))
        counts[name] = spark.read.parquet(os.path.join(omop_dir, name)).count()
    return counts


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_root = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="omop_bench_")

    from cehrbert_data_spark.apps import generate_training_data
    from cehrbert_data_spark.session import build_session

    spark = build_session("bench_app")
    omop_dir = os.path.join(out_root, "omop")
    seq_dir = os.path.join(out_root, "seq")
    t0 = time.time()
    counts = synthesize_omop(spark, sf_dir, omop_dir)
    t_synth = time.time() - t0

    t0 = time.time()
    out = generate_training_data.main(
        input_folder=omop_dir,
        output_folder=seq_dir,
        domain_table_list=["condition_occurrence"],
        apply_age_filter=False,
        spark=spark,
    )
    t_pipeline = time.time() - t0
    n_seq = spark.read.parquet(out).count()
    print(
        json.dumps(
            {
                "metric": "training_data_pipeline",
                "sf_dir": sf_dir,
                "inputs": counts,
                "n_sequences": n_seq,
                "synth_sec": round(t_synth, 2),
                "pipeline_sec": round(t_pipeline, 2),
            }
        )
    )
    if len(sys.argv) <= 2:
        shutil.rmtree(out_root, ignore_errors=True)


if __name__ == "__main__":
    main()
