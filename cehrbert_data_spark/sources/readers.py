"""Readers: parquet / CSV / JDBC scans + schema normalization.

Covers the reference's source surface (SURVEY.md §2.1):
  S1 parquet scan                  (reference: utils/spark_utils.py:247)
  S2 recursive parquet scan        (decorators/patient_event_decorator_base.py:45-49)
  S3/S4 partitioned JDBC scan      (tools/download_omop_tables.py:29-66)
  S5/S6 CSV scans                  (tools/ehrshot_to_omop.py:795-800, tools/extract_features.py:88-91)
plus the cast-on-read normalization the whole reference depends on
(``preprocess_domain_table``, utils/spark_utils.py:240-296): lowercase all
column names, cast ``*date*``→date and ``*datetime*``→timestamp, rename the
CDM 5.2 ``discharge_to_concept_id`` → 5.3 ``discharged_to_concept_id``.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S1: plain parquet directory/file scan."""
    return spark.read.parquet(path)


def read_parquet_recursive(spark: SparkSession, path: str) -> DataFrame:
    """S2: re-load a checkpoint tree written by nested jobs."""
    return spark.read.option("recursiveFileLookup", "true").parquet(path)


def _tree_mtime(path: str) -> float | None:
    """Newest mtime over ``path`` and, for a directory, every entry below it
    (None if ``path`` does not exist).

    An in-place rewrite of an existing part file moves neither the table
    directory's mtime nor that of a nested partition directory such as
    ``split=train/``; only the file's own mtime moves, so the walk goes all
    the way down.
    """
    try:
        newest = os.stat(path).st_mtime
        pending = [path] if os.path.isdir(path) else []
        while pending:
            with os.scandir(pending.pop()) as it:
                for entry in it:
                    newest = max(newest, entry.stat().st_mtime)
                    if entry.is_dir():
                        pending.append(entry.path)
    except OSError:
        return None
    return newest


@functools.lru_cache(maxsize=1024)
def _nanos_timestamp_fields(path: str, mtime: float | None) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS) — Spark reads them as
    long (``spark.sql.legacy.parquet.nanosAsLong``); we restore timestamps.

    Cached per (path, tree mtime), the key :data:`_SCHEMA_CACHE` uses too:
    the footer sniff is a driver-side glob + footer read that would
    otherwise serialize the start of EVERY query's EVERY table read (the q1
    regression flagged in round 2/3), and a table rewritten in place (say
    micros → TIMESTAMP(NANOS)) gets a new key and is sniffed again.
    """
    import glob

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        if not files:
            return []
        path = files[0]
    try:
        schema = pq.read_schema(path)
    except Exception:
        return []
    # tz-aware or not: Spark reads both as long under nanosAsLong
    return [f.name for f in schema if str(f.type).startswith("timestamp[ns")]


#: (path, tree mtime) -> inferred Spark schema. Metadata-only cache (r11,
#: guide §1/§6): ``spark.read.parquet`` re-reads the footer to infer the
#: schema on EVERY call (~55-85 ms/table on this box); passing the schema
#: explicitly skips that, the standard production practice. The key's
#: mtime is the newest over the whole table tree (:func:`_tree_mtime`), so
#: any rewrite re-infers, nested partitions included. No row data is ever
#: cached — execution always scans the parquet.
_SCHEMA_CACHE: dict[tuple[str, float | None], object] = {}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one named testdata/OMOP table under ``sf_dir``.

    Accepts both ``<dir>/<name>.parquet`` (driver testdata layout) and
    ``<dir>/<name>/`` (OMOP directory-per-table layout). Nanosecond parquet
    timestamps are truncated to Spark's microsecond timestamps (matching
    DuckDB's TIMESTAMP_NS → TIMESTAMP semantics).
    """
    file_path = os.path.join(sf_dir, f"{name}.parquet")
    dir_path = os.path.join(sf_dir, name)
    path = file_path if os.path.exists(file_path) else dir_path
    key = (path, _tree_mtime(path))
    nanos_cols = _nanos_timestamp_fields(*key)
    if nanos_cols:
        # Self-sufficient on any session (not just build_session's): Spark
        # refuses TIMESTAMP(NANOS) parquet unless this runtime-settable legacy
        # conf is on, in which case the values arrive as long and the
        # timestamp_micros restore below applies.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    schema = _SCHEMA_CACHE.get(key)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)  # raises on a missing path: never cached
        if len(_SCHEMA_CACHE) > 1024:
            _SCHEMA_CACHE.clear()
        _SCHEMA_CACHE[key] = df.schema
    for col in nanos_cols:
        df = df.withColumn(col, F.expr(f"timestamp_micros(`{col}` div 1000)"))
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """S5 (explicit schema) / S6 (inference) CSV scan."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        return reader.schema(schema).csv(path)
    return reader.option("inferSchema", "true").csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """JSON-lines scan (beyond-ref; the dominant interchange format for LLM
    training corpora — one JSON document per line).

    Always pass ``schema`` in production: schema inference runs a FULL extra
    pass over the data before the real job (at 100 TB that is a second
    100 TB read). With an explicit schema the scan is single-pass and
    malformed lines land in ``_corrupt_record``-style NULL rows
    (PERMISSIVE) instead of failing the job.
    """
    reader = spark.read
    if schema is not None:
        return reader.schema(schema).json(path)
    return reader.json(path)


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str,
    num_partitions: int = 16,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """S3+S4: range-partitioned JDBC scan bounded by a pushed-down MAX(pk).

    The upper bound is fetched with a scalar subquery executed on the database
    (reference: tools/download_omop_tables.py:29-46) so the range partitions
    split the real key space, not a guess.
    """
    props = properties or {}
    bound_reader = spark.read.format("jdbc").option("url", url).option(
        "dbtable", f"(SELECT MAX({partition_column}) AS mx FROM {table}) b"
    )
    for k, v in props.items():
        bound_reader = bound_reader.option(k, v)
    upper = bound_reader.load().collect()[0][0] or 1
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("partitionColumn", partition_column)
        .option("lowerBound", 1)
        .option("upperBound", int(upper))
        .option("numPartitions", num_partitions)
    )
    for k, v in props.items():
        reader = reader.option(k, v)
    return reader.load()


# CDM 5.2 → 5.3 renames applied on read (reference: utils/spark_utils.py:262-265).
_CDM_RENAMES = {"discharge_to_concept_id": "discharged_to_concept_id"}


def normalize_domain_table(df: DataFrame) -> DataFrame:
    """Cast-on-read normalization of a raw (often all-string) domain table.

    Mirrors ``preprocess_domain_table`` semantics
    (reference: utils/spark_utils.py:240-296):
      * lowercase every column name
      * any column whose name contains ``datetime`` → timestamp
      * else any column whose name contains ``date`` → date
      * CDM rename map applied last.

    A single ``select`` keeps this one projection node that Catalyst folds
    into the scan (column pruning + pushdown still apply).
    """
    cols = []
    for field in df.schema.fields:
        name = field.name.lower()
        col = F.col(f"`{field.name}`")
        if "datetime" in name:
            col = col.cast(T.TimestampType())
        elif "date" in name:
            col = col.cast(T.DateType())
        cols.append(col.alias(_CDM_RENAMES.get(name, name)))
    return df.select(cols)
