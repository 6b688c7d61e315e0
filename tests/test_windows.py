from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from cehrbert_data_spark.operators.windows import (
    ordered_rank,
    prev_value,
    sessionize,
    top_n_per_group,
)


def _events(spark):
    rows = [
        (1, datetime.datetime(2020, 1, 1, 0, 0), "a"),
        (1, datetime.datetime(2020, 1, 1, 5, 0), "b"),
        (1, datetime.datetime(2020, 1, 3, 6, 0), "c"),   # > 24h gap -> new session
        (1, datetime.datetime(2020, 1, 3, 7, 0), "d"),
        (2, datetime.datetime(2020, 1, 1, 0, 0), "e"),
    ]
    return spark.createDataFrame(rows, "pid: int, ts: timestamp, tag: string")


def test_sessionize_gap_split(spark):
    out = sessionize(_events(spark), ["pid"], ["ts"], "ts", 24 * 3600).collect()
    sess = {r["tag"]: r["session_id"] for r in out}
    assert sess == {"a": 0, "b": 0, "c": 1, "d": 1, "e": 0}


def test_ordered_rank_kinds(spark):
    df = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 20), (2, 5)], "g: int, v: int"
    )
    dense = ordered_rank(df, ["g"], ["v"], out="r", kind="dense_rank").collect()
    got = sorted((r["g"], r["v"], r["r"]) for r in dense)
    assert got == [(1, 10, 1), (1, 10, 1), (1, 20, 2), (2, 5, 1)]
    ranked = ordered_rank(df, ["g"], ["v DESC"], out="r", kind="rank").collect()
    got = sorted((r["g"], r["v"], r["r"]) for r in ranked)
    assert got == [(1, 10, 2), (1, 10, 2), (1, 20, 1), (2, 5, 1)]
    numbered = ordered_rank(df, ["g"], ["v DESC"], out="r").collect()
    assert sorted(r["r"] for r in numbered if r["g"] == 1) == [1, 2, 3]


def test_top_n_per_group(spark):
    df = spark.createDataFrame(
        [(1, 3, "x"), (1, 1, "keep"), (2, 2, "keep")], "g: int, v: int, tag: string"
    )
    out = top_n_per_group(df, ["g"], ["v ASC"], n=1).collect()
    assert sorted(r["tag"] for r in out) == ["keep", "keep"]
    assert "__rn" not in out[0].asDict()


def test_top1_agg_matches_window_form(spark):
    """top1_per_group_agg (min/max-struct, map-side combinable) must return
    row-for-row the window form's rank 1 — the relink-promotion contract
    generalized (r10 verdict ask 5). Randomized inputs with duplicate order
    values exercise the tie fall-through; event_id in order_by makes both
    forms total, so parity is exact."""
    import random

    from cehrbert_data_spark.operators.windows import top1_per_group_agg

    rng = random.Random(7)
    rows = [
        (rng.randint(1, 20), rng.randint(1, 5), i, f"p{i}")
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "g: int, v: int, event_id: int, tag: string")

    def snap(out):
        return sorted((r["g"], r["v"], r["event_id"], r["tag"]) for r in out.collect())

    win_asc = snap(top_n_per_group(df, ["g"], ["v ASC", "event_id ASC"], n=1))
    agg_asc = snap(top1_per_group_agg(df, ["g"], ["v", "event_id"]))
    assert win_asc == agg_asc
    win_desc = snap(top_n_per_group(df, ["g"], ["v DESC", "event_id DESC"], n=1))
    agg_desc = snap(top1_per_group_agg(df, ["g"], ["v", "event_id"], descending=True))
    assert win_desc == agg_desc
    # map-side-combine contract: a partial_ min/max must run BEFORE the
    # exchange, so the shuffle carries ~|groups·tasks| rows, not |rows| —
    # the skew-immunity claim. (Struct agg buffers are not hash-mutable,
    # so the plan is a SortAggregate PAIR — local map-side sort by group
    # key, partial min, exchange, final min — never a Window's
    # post-shuffle whole-key sort; see the operator docstring.)
    plan = top1_per_group_agg(df, ["g"], ["v", "event_id"])._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan or "partial_max" in plan
    assert "Window" not in plan


def test_top1_agg_validates_inputs(spark):
    from cehrbert_data_spark.operators.windows import top1_per_group_agg

    df = spark.createDataFrame([(1, 2, 3)], "g: int, v: int, x: int")
    with pytest.raises(ValueError, match="group key"):
        top1_per_group_agg(df, ["g"], ["g", "v"])
    with pytest.raises(ValueError, match="global"):
        top1_per_group_agg(df, [], ["v"])


def test_prev_value(spark):
    df = spark.createDataFrame([(1, 1, "a"), (1, 2, "b"), (1, 3, "c")], "g: int, o: int, v: string")
    out = prev_value(df, "v", ["g"], [F.col("o")], out="p").collect()
    got = {r["v"]: r["p"] for r in out}
    assert got == {"a": None, "b": "a", "c": "b"}


@pytest.mark.parametrize("flavor", ["us_utc", "us_ntz", "ns"])
def test_sessionize_timestamp_flavors(spark, tmp_path, flavor):
    """The driver's testdata has switched timestamp flavor once already
    (TIMESTAMP(NANOS) -> plain micros / NTZ, which crashed w7 in round 3:
    Spark 4 refuses CAST(TIMESTAMP_NTZ AS DOUBLE)). Pin sessionize green on
    every flavor a parquet file can carry."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cehrbert_data_spark.sources.readers import read_table

    base = [
        datetime.datetime(2020, 1, 1, 0, 0),
        datetime.datetime(2020, 1, 1, 5, 0),
        datetime.datetime(2020, 1, 3, 6, 0),  # > 24h gap -> new session
    ]
    unit, tz = {"us_utc": ("us", "UTC"), "us_ntz": ("us", None), "ns": ("ns", None)}[flavor]
    table = pa.table(
        {
            "pid": pa.array([1, 1, 1], pa.int64()),
            "ts": pa.array(base, pa.timestamp(unit, tz=tz)),
            "tag": pa.array(["a", "b", "c"]),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    df = read_table(spark, str(tmp_path), "events")
    out = sessionize(df, ["pid"], ["ts"], "ts", 24 * 3600).collect()
    assert {r["tag"]: r["session_id"] for r in out} == {"a": 0, "b": 0, "c": 1}


def test_global_window_refused(spark):
    df = spark.createDataFrame([(1,)], "g: int")
    with pytest.raises(ValueError, match="global"):
        ordered_rank(df, [], ["g"])


# --- SQL rendering: quoting, in-place replacement, literal gaps ------------


def test_ordered_rank_reserved_word_partition(spark):
    df = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 30)], "order: int, v: int"
    )
    out = ordered_rank(df, ["order"], ["v DESC"], out="rk")
    rows = {(r["order"], r["v"]): r["rk"] for r in out.collect()}
    assert rows[(1, 20)] == 1 and rows[(1, 10)] == 2 and rows[(2, 30)] == 1


def test_ordered_rank_existing_out_column_is_replaced(spark):
    df = spark.createDataFrame([(1, 10, 99), (1, 20, 99)], "k: int, v: int, rk: int")
    out = ordered_rank(df, ["k"], ["v ASC"], out="rk")
    # withColumn REPLACES the pre-existing column: no duplicate/ambiguous one
    assert out.columns.count("rk") == 1
    assert {r["rk"] for r in out.collect()} == {1, 2}


def test_sessionize_existing_out_column_is_replaced(spark):
    df = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00", 7)], "user_id: int, ts: string, session_id: int"
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "session_id")
    out = sessionize(df, ["user_id"], ["ts ASC"], ts="ts", gap=60)
    assert out.columns.count("session_id") == 1
    assert out.collect()[0]["session_id"] == 0


def test_sessionize_scientific_float_gap(spark):
    df = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00"), (1, "2020-01-01 00:00:01")],
        "user_id: int, ts: string",
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts")
    out = sessionize(df, ["user_id"], ["ts ASC"], ts="ts", gap=1e-05)
    assert [r["session_id"] for r in out.orderBy("ts").collect()] == [0, 1]


def test_sessionize_bool_gap_rejected(spark):
    df = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00"), (1, "2020-01-01 02:00:00")],
        "user_id: int, ts: string",
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts")
    # bool is an int subclass that would render as invalid SQL ('True')
    with pytest.raises(ValueError, match="bool"):
        sessionize(df, ["user_id"], ["ts ASC"], ts="ts", gap=True)


@pytest.mark.parametrize("gap", [float("nan"), float("inf"), float("-inf")])
def test_sessionize_non_finite_gap_rejected(spark, gap):
    df = spark.createDataFrame(
        [(1, datetime.datetime(2020, 1, 1, 0, 0))], "user_id: int, ts: timestamp"
    )
    # no finite double literal renders these: refuse before building a plan
    with pytest.raises(ValueError, match="finite"):
        sessionize(df, ["user_id"], ["ts ASC"], ts="ts", gap=gap)
