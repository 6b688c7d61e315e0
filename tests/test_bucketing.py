"""Bucketed-write layout: the 100 TB claim is that person_id-bucketed
tables join with NO shuffle — assert it on the physical plan, not by
folklore."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cehrbert_data_spark.sources.writers import read_bucketed, write_bucketed


@pytest.fixture()
def no_broadcast(spark):
    """Force a shuffle-eligible join so the assertion is about bucketing,
    not about the broadcast threshold hiding the exchange."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _plan(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_bucketed_join_no_shuffle(spark, tmp_path, no_broadcast):
    people = spark.range(0, 1000).select(
        F.col("id").alias("person_id"), (F.col("id") % 7).alias("grp")
    )
    events = spark.range(0, 5000).select(
        (F.col("id") % 1000).alias("person_id"), F.col("id").alias("event_id")
    )
    write_bucketed(people, "b_people", "person_id", 8, path=str(tmp_path / "p"))
    write_bucketed(
        events, "b_events", "person_id", 8, sort_cols=["person_id"], path=str(tmp_path / "e")
    )
    try:
        joined = read_bucketed(spark, "b_people").join(
            read_bucketed(spark, "b_events"), "person_id"
        )
        p = _plan(joined)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p  # the whole point of the layout
        assert joined.count() == 5000

        # and a bucket-key aggregation needs no exchange either
        agg = read_bucketed(spark, "b_events").groupBy("person_id").count()
        assert "Exchange" not in _plan(agg)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_people")
        spark.sql("DROP TABLE IF EXISTS b_events")


def test_unbucketed_join_shuffles(spark, tmp_path, no_broadcast):
    """Control: the same join over plain parquet DOES exchange — proves the
    assertion above is detecting bucketing, not something else."""
    people = spark.range(0, 1000).select(F.col("id").alias("person_id"))
    events = spark.range(0, 5000).select((F.col("id") % 1000).alias("person_id"))
    people.write.parquet(str(tmp_path / "pp"))
    events.write.parquet(str(tmp_path / "ee"))
    joined = spark.read.parquet(str(tmp_path / "pp")).join(
        spark.read.parquet(str(tmp_path / "ee")), "person_id"
    )
    assert "Exchange" in _plan(joined)


def test_zorder_layout_clusters_both_columns(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from cehrbert_data_spark.sources.writers import write_zordered

    # 64x64 grid: a z-ordered layout into 8 files tiles the plane, so the
    # summed per-file bounding-box area stays near the row count; a
    # row-ordered layout would give each file a full-width slab
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    path = str(tmp_path / "zorder")
    write_zordered(df, path, "x", "y", num_files=8)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) >= 4
    area = 0
    for f in files:
        part = spark.read.parquet(os.path.join(path, f))
        r = part.agg(
            F.min("x"), F.max("x"), F.min("y"), F.max("y"), F.count(F.lit(1))
        ).collect()[0]
        if r[4] == 0:
            continue
        area += (r[1] - r[0] + 1) * (r[3] - r[2] + 1)
    # perfect power-of-2 tiling gives area == 4096; allow slack for range
    # partitioner boundaries, but far below the 8 * 4096 slab layout
    assert area <= 3 * 4096, area


def test_morton_key_matches_bit_reference(spark):
    import random

    from pyspark.sql import functions as F

    from cehrbert_data_spark.operators.partitioning import morton_key

    def spread_ref(v):
        out = 0
        for i in range(16):
            out |= ((v >> i) & 1) << (2 * i)
        return out

    rng = random.Random(3)
    rows = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(100)]
    rows += [(0, 0), (65535, 65535), (1, 0), (0, 1), (70000, 2)]
    df = spark.createDataFrame(rows, "x: long, y: long")
    got = df.select("x", "y", morton_key("x", "y").alias("z")).collect()
    for r in got:
        exp = spread_ref(r["x"] & 0xFFFF) | (spread_ref(r["y"] & 0xFFFF) << 1)
        assert r["z"] == exp, (r["x"], r["y"])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_widen_by_key_hash_partitions_and_reuses_exchange(spark):
    from cehrbert_data_spark.operators.partitioning import widen_for_fanout

    df = spark.createDataFrame(
        [(i, i % 7) for i in range(1000)], "id: long, v: long"
    )
    out = widen_for_fanout(df, min_partitions=8, by="id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(id" in plan
    # round-robin pays a sort-before-repartition; the hash form must not
    assert "RoundRobinPartitioning" not in plan
    # a groupBy on the widen key reuses the exchange: exactly ONE exchange
    agg = widen_for_fanout(df, min_partitions=8, by="id").groupBy("id").count()
    agg_plan = agg._jdf.queryExecution().executedPlan().toString()
    assert agg_plan.count("Exchange") == 1
    # identical rows either way
    assert _rows(out) == _rows(df)


def test_widen_target_scales_with_input_bytes(spark, tmp_path):
    from cehrbert_data_spark.operators.partitioning import (
        WIDEN_BYTES_PER_PART,
        widen_for_fanout,
    )

    path = str(tmp_path / "tiny")
    spark.range(1000).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    size = os.path.getsize(
        next(str(p) for p in (tmp_path / "tiny").iterdir() if str(p).endswith(".parquet"))
    )
    out = widen_for_fanout(df, by="id")
    # the tiny file must NOT fan out to defaultParallelism partitions:
    # the byte cap bounds the target at ceil(bytes / chunk)
    expected = max(1, -(-size // WIDEN_BYTES_PER_PART))
    parallelism = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() <= min(parallelism, max(expected, 1))
    # rows unchanged
    assert out.count() == 1000


def test_widen_explicit_min_partitions_bypasses_cap(spark, tmp_path):
    from cehrbert_data_spark.operators.partitioning import widen_for_fanout

    path = str(tmp_path / "tiny2")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    out = widen_for_fanout(df, min_partitions=4, by="id")
    assert out.rdd.getNumPartitions() == 4
