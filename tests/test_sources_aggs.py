from __future__ import annotations

import datetime
import os
import time

from pyspark.sql import functions as F

from cehrbert_data_spark.operators.aggregations import (
    distinct_frequency_filter,
    hourly_mean,
    winsorize_bounds,
)
from cehrbert_data_spark.sources.readers import normalize_domain_table
from cehrbert_data_spark.sources.writers import (
    checkpoint_barrier,
    random_person_split,
    write_split,
)


def test_normalize_domain_table(spark):
    df = spark.createDataFrame(
        [("2020-01-02", "2020-01-02 03:04:05", "7", "1")],
        "Visit_Start_DATE: string, visit_start_DATETIME: string, "
        "discharge_to_concept_id: string, visit_occurrence_id: string",
    )
    out = normalize_domain_table(df)
    assert out.columns == [
        "visit_start_date",
        "visit_start_datetime",
        "discharged_to_concept_id",
        "visit_occurrence_id",
    ]
    row = out.collect()[0]
    assert row["visit_start_date"] == datetime.date(2020, 1, 2)
    assert row["visit_start_datetime"] == datetime.datetime(2020, 1, 2, 3, 4, 5)


def test_hourly_mean(spark):
    rows = [
        (1, datetime.datetime(2020, 1, 1, 10, 0), 1.0),
        (1, datetime.datetime(2020, 1, 1, 10, 30), 3.0),
        (1, datetime.datetime(2020, 1, 1, 11, 0), 10.0),
    ]
    df = spark.createDataFrame(rows, "pid: int, ts: timestamp, v: double")
    out = {r["bucket_hour"]: r["mean_value"] for r in hourly_mean(df, ["pid"], "ts", "v").collect()}
    assert out == {10: 2.0, 11: 10.0}


def test_distinct_frequency_filter(spark):
    df = spark.createDataFrame(
        [("c1", 1), ("c1", 2), ("c1", 2), ("c2", 1)], "concept: string, person: int"
    )
    out = distinct_frequency_filter(df, "concept", "person", 2).collect()
    assert [(r["concept"], r["freq"]) for r in out] == [("c1", 2)]


def test_winsorize_bounds(spark):
    df = spark.createDataFrame([(1, float(v)) for v in range(1, 101)], "g: int, v: double")
    r = winsorize_bounds(df, ["g"], "v").collect()[0]
    assert r["lower_bound"] == 1.99
    assert r["upper_bound"] == 99.01
    assert r["n"] == 100


def test_random_person_split_and_split_sink(spark, tmp_path):
    persons = spark.createDataFrame([(i,) for i in range(100)], "person_id: int")
    splits = random_person_split(persons)
    counts = {r["split"]: r["count"] for r in splits.groupBy("split").count().collect()}
    assert counts["train"] + counts["test"] == 100
    assert counts["train"] > counts["test"]

    data = persons.withColumn("payload", F.col("person_id") * 2)
    out_dir = os.path.join(str(tmp_path), "out")
    write_split(data, splits, out_dir)
    back = spark.read.parquet(out_dir)
    assert back.count() == 100
    assert set(back.select("split").distinct().toPandas()["split"]) == {"train", "test"}


def test_checkpoint_barrier(spark, tmp_path):
    df = spark.createDataFrame([(1,), (2,)], "v: int")
    assert checkpoint_barrier(df).count() == 2
    durable = checkpoint_barrier(df, os.path.join(str(tmp_path), "ckpt"))
    assert durable.count() == 2
    # DISK_ONLY blocks bypass the MemoryStore (no unified-memory pinning);
    # values identical
    disk = checkpoint_barrier(df, storage_level="DISK_ONLY")
    assert sorted(r["v"] for r in disk.collect()) == [1, 2]


def test_winsorize_approx_close_to_exact(spark):
    from cehrbert_data_spark.operators.aggregations import winsorize_bounds

    import random

    rng = random.Random(7)
    # skewed long-tail values in one hot group
    rows = [(1, rng.lognormvariate(0, 2)) for _ in range(20_000)]
    df = spark.createDataFrame(rows, "g: int, v: double")
    exact = winsorize_bounds(df, ["g"], "v").collect()[0]
    approx = winsorize_bounds(df, ["g"], "v", approx=True, accuracy=10_000).collect()[0]
    assert approx["n"] == exact["n"] == 20_000
    # GK sketch: rank error <= n/accuracy = 2 ranks; value tolerance loose
    for b in ("lower_bound", "upper_bound"):
        assert abs(approx[b] - exact[b]) / max(abs(exact[b]), 1e-9) < 0.05


def test_jsonl_round_trip(spark, tmp_path):
    from cehrbert_data_spark.sources.readers import read_jsonl
    from cehrbert_data_spark.sources.writers import write_jsonl

    df = spark.createDataFrame(
        [(1, "hello", [1, 2]), (2, "world", [])],
        "id: long, text: string, tags: array<int>",
    )
    path = str(tmp_path / "jl")
    write_jsonl(df, path)
    back = read_jsonl(spark, path, "id long, text string, tags array<int>")
    assert sorted((r["id"], r["text"], r["tags"]) for r in back.collect()) == [
        (1, "hello", [1, 2]),
        (2, "world", []),
    ]
    # inference fallback still reads the same rows (documented extra pass)
    assert read_jsonl(spark, path).count() == 2


def test_write_shuffled_shards_deterministic(spark, tmp_path):
    """The training-data shuffle sink: exactly N shard directories, full
    disjoint coverage, byte-identical across runs AND across different
    upstream parallelism (membership is computed, not sampled), in-shard
    order uncorrelated with ingest order, and a different seed gives a
    different permutation."""
    import glob as _glob

    from pyspark.sql import functions as F

    from cehrbert_data_spark.sources.writers import write_shuffled_shards

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), F.col("id")).alias("text")
    )
    out1, out2, out3, out4 = (str(tmp_path / d) for d in ("s1", "s2", "s3", "s4"))
    write_shuffled_shards(docs.repartition(1), out1, "doc_id", n_shards=8)
    write_shuffled_shards(docs.repartition(64), out2, "doc_id", n_shards=8)
    write_shuffled_shards(docs, out3, "doc_id", n_shards=8, seed="epoch2")
    write_shuffled_shards(docs, out4, "doc_id", n_shards=8)

    def read_order(path):
        dirs = sorted(
            _glob.glob(f"{path}/shard=*"), key=lambda d: int(d.rsplit("=", 1)[1])
        )
        order = []
        for d in dirs:
            files = _glob.glob(f"{d}/part-*.parquet")
            assert len(files) == 1  # one task owns each shard
            order.append([r["doc_id"] for r in spark.read.parquet(files[0]).collect()])
        return dirs, order

    d1, o1 = read_order(out1)
    _, o2 = read_order(out2)
    _, o3 = read_order(out3)
    _, o4 = read_order(out4)
    assert len(d1) == 8
    flat1 = [d for shard in o1 for d in shard]
    assert sorted(flat1) == list(range(500))  # disjoint, complete
    assert o1 == o4  # deterministic: same membership AND order, same input
    assert o1 == o2  # membership/order survive a 1-vs-64 partition layout
    assert o1 != o3  # seed reshuffles
    # decorrelated from ingest order: no shard is a contiguous id range
    assert all(shard != sorted(shard) for shard in o1 if len(shard) > 3)


def _rewrite_parts_in_place(part_dir, table):
    """Overwrite every part file in ``part_dir`` with ``table`` under its
    SAME name, keeping every directory mtime fixed (POSIX: replacing file
    contents does not touch the parent dir's mtime when the name set is
    unchanged), as an external writer updating a table in place would."""
    import pyarrow.parquet as pq

    dirs = [d for d, _, _ in os.walk(os.path.dirname(part_dir))]
    dir_stats = {d: os.stat(d) for d in dirs}
    for p in [p for p in os.listdir(part_dir) if p.endswith(".parquet")]:
        pq.write_table(table, os.path.join(part_dir, p))
        # drop the stale Hadoop checksum sidecar for the rewritten bytes
        crc = os.path.join(part_dir, f".{p}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        # make the entry mtime visibly newer than the cached key
        future = time.time() + 5
        os.utime(os.path.join(part_dir, p), (future, future))
    for d, st in dir_stats.items():
        os.utime(d, (st.st_atime, st.st_mtime))  # freeze dir mtimes


def test_schema_cache_reinfers_on_inplace_part_rewrite(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cehrbert_data_spark.sources import readers

    b_rows = pa.table({"b": pa.array([1, 2], type=pa.int64())})

    # flat table: the rewritten file sits directly in the table dir
    flat = str(tmp_path / "flat")
    spark.range(10).selectExpr("id AS a").write.parquet(os.path.join(flat, "t"))
    first = readers.read_table(spark, flat, "t")
    assert [f.name for f in first.schema.fields] == ["a"]
    _rewrite_parts_in_place(os.path.join(flat, "t"), b_rows)
    again = readers.read_table(spark, flat, "t")
    assert [f.name for f in again.schema.fields] == ["b"]

    # nested partition: the rewritten file sits in split=train/, so neither
    # the table dir's nor the partition dir's mtime moves
    nested = str(tmp_path / "nested")
    spark.range(10).selectExpr("id AS a", "'train' AS split").write.partitionBy(
        "split"
    ).parquet(os.path.join(nested, "t"))
    first = readers.read_table(spark, nested, "t")
    assert [f.name for f in first.schema.fields] == ["a", "split"]
    _rewrite_parts_in_place(os.path.join(nested, "t", "split=train"), b_rows)
    again = readers.read_table(spark, nested, "t")
    assert [f.name for f in again.schema.fields] == ["b", "split"]
    assert {r["b"] for r in again.collect()} == {1, 2}

    # micros → TIMESTAMP(NANOS) in place: the nanos sniff must re-run, or
    # the column comes back as the raw bigint nanos count
    nanos = str(tmp_path / "nanos")
    os.makedirs(os.path.join(nanos, "t"))
    ts = [datetime.datetime(2020, 1, 1, 9, 30), datetime.datetime(2021, 6, 2, 17, 5)]
    pq.write_table(
        pa.table({"ts": pa.array(ts, type=pa.timestamp("us", tz="UTC"))}),
        os.path.join(nanos, "t", "part-0.parquet"),
    )
    first = readers.read_table(spark, nanos, "t")
    assert first.schema["ts"].dataType.typeName() == "timestamp"
    expected = sorted(r["ts"] for r in first.collect())
    _rewrite_parts_in_place(
        os.path.join(nanos, "t"),
        pa.table({"ts": pa.array(ts, type=pa.timestamp("ns", tz="UTC"))}),
    )
    again = readers.read_table(spark, nanos, "t")
    assert again.schema["ts"].dataType.typeName() == "timestamp"
    assert sorted(r["ts"] for r in again.collect()) == expected
