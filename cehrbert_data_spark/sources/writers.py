"""Sinks: parquet overwrite, train/test split sink, checkpoint barrier.

SURVEY.md §2.1:
  S7  overwrite parquet sink   (reference: utils/spark_utils.py:1120)
  S8  split sink               (cohorts/spark_app_base.py:586-604)
  S10 checkpoint-to-parquet    (decorators/patient_event_decorator_base.py:38-43)
  S11 random person split      (tools/download_omop_tables.py:134-141)

At 100 TB the split sink is a single shuffle-free ``partitionBy`` write (one
pass over the data) rather than the reference's two filtered full scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S7: overwrite parquet. ``partition_by`` enables partition pruning for
    downstream readers (e.g. bucket-by-person layouts at scale)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_split(df: DataFrame, splits: DataFrame, path: str, person_col: str = "person_id") -> None:
    """S8: join a ``(person_id, split)`` table and write ``split=train/`` and
    ``split=test/`` partitions in ONE pass (vs. the reference's two filtered
    writes, cohorts/spark_app_base.py:586-604)."""
    joined = df.join(splits.select(person_col, "split"), person_col)
    joined.write.mode("overwrite").partitionBy("split").parquet(path)


def checkpoint_barrier(
    df: DataFrame, path: str | None = None, storage_level: str | None = None
) -> DataFrame:
    """S10: cut lineage and freeze nondeterministic ids.

    The reference writes+re-reads parquet
    (patient_event_decorator_base.py:38-43) because ids minted with
    ``monotonically_increasing_id`` / global windows are only stable after
    materialization. ``localCheckpoint(eager=True)`` achieves the same
    determinism barrier without a round-trip through the object store; pass
    ``path`` to keep the reference's durable-checkpoint behavior.

    Placement rule: an intermediate read by more than one branch is
    materialized once, by the function that fans it out. Without the
    barrier every branch, every later barrier and the sink plan and run the
    whole upstream lineage again (``create_sequence_data_with_att`` barriers
    the clinical events that ``decorate_att`` reads three times). Every
    barrier under ``omop/`` goes through this function, so it alone owns
    placement and storage level.

    ``storage_level`` (e.g. ``"DISK_ONLY"``) controls where the checkpoint
    blocks live. The default (MEMORY_AND_DISK) pins unified memory —
    blocks can only be evicted down to the protected storage fraction, so
    a barrier materialized in the SAME stage as a wide hash aggregation
    starves the aggregation's execution memory. DISK_ONLY bypasses the
    MemoryStore entirely: right for barriers that are written once and
    scanned sequentially a few times (iterative edge tables).
    """
    if path is None:
        level = None
        if storage_level is not None:
            from pyspark import StorageLevel

            level = getattr(StorageLevel, storage_level)
        return df.localCheckpoint(eager=True, storageLevel=level)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    compression: str | None = "gzip",
) -> None:
    """JSON-lines sink (beyond-ref; pairs with ``readers.read_jsonl`` for
    LLM-corpus interchange). One JSON object per line, per-file compressed
    (gzip default — line-oriented consumers stream-decompress it). Output
    file count = partition count; repartition upstream if a consumer needs
    fewer, larger shards."""
    writer = df.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    num_files: int = 8,
    bits: int = 16,
) -> None:
    """Z-order-clustered parquet layout (beyond-ref; Delta/Iceberg's
    OPTIMIZE ZORDER): range-partition on the Morton key of (x, y) and sort
    within partitions, so every file's parquet row-group min/max stats are
    tight on BOTH columns from one sort order — 2-D predicates prune files
    and row groups at read time without a second copy of the data.

    One range shuffle + in-partition sort; the key column is dropped before
    write (it is recomputable). ``num_files`` sizes output files — at
    cluster scale set it from bytes/target-file-size, not a constant."""
    from cehrbert_data_spark.operators.partitioning import morton_key

    (
        df.withColumn("__z", morton_key(x, y, bits))
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_shuffled_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int = 32,
    seed: str = "",
) -> None:
    """Deterministic global corpus shuffle into ``n_shards`` parquet
    shard directories ``shard=0/ .. shard=N-1/`` (beyond-ref; the last
    step of every LLM training-data pipeline — data loaders stream shards
    sequentially, so the randomization has to happen HERE, at write time,
    and has to be reproducible for experiment parity).

    Shard membership is an exact computed value, ``pmod(md5(seed || id),
    n_shards)`` — a pure function of (seed, id), so membership is
    byte-identical across runs, engines, and ANY upstream partition
    layout. (The previous design range-partitioned on the md5 key, but
    ``repartitionByRange`` derives its boundaries from a reservoir SAMPLE
    of the input; at corpus scale the sample is a subsample, so rows near
    boundaries could migrate between shards when the input's parallelism
    changed. An exact ``pmod`` has no boundaries to estimate.)

    In-shard order is the md5 key itself (``sortWithinPartitions``), so
    it is likewise deterministic and uncorrelated with ingest order —
    sequential ids land in different shards at unpredictable offsets.
    ``seed`` reshuffles: distinct seeds give independent permutations
    (epoch-wise reshuffling without rewriting the corpus ingest).

    One hash shuffle on the shard id + in-partition sort — the cost of a
    sort, no driver-side randomness or collect. Every shard directory is
    written by exactly one task (all rows of a shard hash to one
    partition), so each holds one file. A shard with no rows produces no
    directory (only possible when rows < shards). At cluster scale set
    ``n_shards`` from bytes/target-shard-size.
    """
    from cehrbert_data_spark.operators.text import md5_long

    key = md5_long(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    (
        df.withColumn("__shuffle", key)
        .withColumn("shard", F.pmod(F.col("__shuffle"), F.lit(n_shards)).cast("int"))
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "__shuffle")
        .drop("__shuffle")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str = "person_id",
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Bucketed parquet table write (SURVEY.md §4's 100 TB layout note).

    Hash-bucketing by ``bucket_col`` pre-shuffles the data ONCE at write
    time; every later equi-join or aggregation on that column between
    same-bucketed tables runs with NO exchange (see
    :func:`read_bucketed` + tests/test_bucketing.py's plan assertion). This
    is the layout for the person-keyed OMOP domain tables: the per-person
    join fan (visits ⋈ events ⋈ measurements…) repeats in every pipeline,
    so paying the shuffle once at ingest amortizes it across all of them.
    ``sort_cols`` additionally sorts within buckets (e.g. by event time) so
    sort-merge joins skip their sort phase too.

    Bucketing metadata lives in the session catalog (``saveAsTable``), which
    is how Spark's reader learns the layout — a plain ``.parquet(path)``
    write cannot carry it.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, bucket_col)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back WITH its bucket layout (must go through the
    catalog; a path-based read would silently drop bucketing and reintroduce
    the shuffle)."""
    return spark.table(table)


def random_person_split(
    persons: DataFrame, train_fraction: float = 0.8, seed: int = 42
) -> DataFrame:
    """S11: 80/20 person-level split, seed 42
    (reference: tools/download_omop_tables.py:134-141). Returns
    ``(person_id, split)`` with split in {'train','test'}."""
    from pyspark.sql import functions as F

    train, test = persons.select("person_id").distinct().randomSplit(
        [train_fraction, 1.0 - train_fraction], seed=seed
    )
    return train.withColumn("split", F.lit("train")).unionByName(
        test.withColumn("split", F.lit("test"))
    )
