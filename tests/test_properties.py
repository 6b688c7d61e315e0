"""Property-based tests (hypothesis) for the semantics-bearing operators.

The reference lists hypothesis in dev-deps but ships no property tests
(SURVEY.md §5); these pin the operator invariants on randomized inputs:
sessionization session counts, distributed id assignment vs the window
definition, interval-join equivalence to the naive filtered cross join, and
salted-join transparency.
"""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cehrbert_data_spark.operators.ids import dense_ids
from cehrbert_data_spark.operators.joins import interval_join
from cehrbert_data_spark.operators.skew import salted_join
from cehrbert_data_spark.operators.windows import sessionize

PROP = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_spark = None


def _get_spark():
    # hypothesis can't take the pytest fixture per-example; reuse the session
    from cehrbert_data_spark.session import build_session

    global _spark
    if _spark is None:
        _spark = build_session("tests", master="local[4]", shuffle_partitions=4)
    return _spark


@PROP
@given(
    ts=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=30),
    gap=st.integers(min_value=1, max_value=2_000),
)
def test_sessionize_session_count(ts, gap):
    """Sessions per key == 1 + number of sorted gaps exceeding the threshold."""
    spark = _get_spark()
    df = spark.createDataFrame([(1, t) for t in ts], "k: int, t: long").withColumn(
        "ts", F.col("t").cast("timestamp")
    )
    out = sessionize(df, ["k"], ["ts", "t"], "ts", gap)
    n_sessions = out.select("session_id").distinct().count()
    s = sorted(ts)
    expected = 1 + sum(1 for a, b in zip(s, s[1:]) if b - a > gap)
    assert n_sessions == expected


@PROP
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 50)), min_size=1, max_size=40
    )
)
def test_dense_ids_match_sort_order(vals):
    """dense_ids assigns 1..N following the requested total order."""
    spark = _get_spark()
    df = spark.createDataFrame(vals, "a: int, b: int").distinct()
    out = dense_ids(df, [F.col("a"), F.col("b")], out="id")
    rows = sorted((r["a"], r["b"], r["id"]) for r in out.collect())
    expected_order = sorted((a, b) for a, b in set(vals))
    assert [(*t[:2],) for t in rows] == expected_order
    assert [t[2] for t in rows] == list(range(1, len(expected_order) + 1))


@PROP
@given(
    points=st.lists(st.integers(0, 100), min_size=1, max_size=20),
    intervals=st.lists(
        st.tuples(st.integers(0, 100), st.integers(0, 30)), min_size=1, max_size=10
    ),
)
def test_interval_join_equals_filtered_cross(points, intervals):
    """interval_join == cross join + range filter on the same key."""
    spark = _get_spark()
    left = spark.createDataFrame(
        [(1, i, p) for i, p in enumerate(points)], "k: int, pid: int, p: long"
    )
    right = spark.createDataFrame(
        [(1, i, lo, lo + w) for i, (lo, w) in enumerate(intervals)],
        "k: int, iid: int, lo: long, hi: long",
    )
    out = interval_join(
        left, right, "k", F.col("p"), F.col("lo"), F.col("hi")
    ).select("pid", "iid")
    got = {(r["pid"], r["iid"]) for r in out.collect()}
    expected = {
        (pi, ii)
        for pi, p in enumerate(points)
        for ii, (lo, w) in enumerate(intervals)
        if lo <= p <= lo + w
    }
    assert got == expected


@PROP
@given(
    left_keys=st.lists(st.integers(0, 5), min_size=1, max_size=40),
    right_keys=st.lists(st.integers(0, 5), min_size=1, max_size=6),
)
@pytest.mark.slow
def test_salted_join_transparent(left_keys, right_keys):
    """Salting changes physical distribution only — result sets identical."""
    spark = _get_spark()
    left = spark.createDataFrame(
        [(k, i) for i, k in enumerate(left_keys)], "k: int, lv: int"
    )
    right = spark.createDataFrame(
        [(k, i) for i, k in enumerate(set(right_keys))], "k: int, rv: int"
    )
    plain = {(r["k"], r["lv"], r["rv"]) for r in left.join(right, "k").collect()}
    salted = {
        (r["k"], r["lv"], r["rv"])
        for r in salted_join(left, right, "k", num_salts=4).collect()
    }
    assert salted == plain


@PROP
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=0, max_value=20),
        ),
        min_size=1,
        max_size=25,
    )
)
@pytest.mark.slow
def test_connected_components_match_union_find(edges):
    """Distributed min-label propagation == driver-side union-find."""
    from cehrbert_data_spark.operators.dedup import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    spark = _get_spark()
    pairs = spark.createDataFrame(edges, "id_a: long, id_b: long")
    got = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want


@PROP
@given(
    lefts=st.lists(st.integers(min_value=0, max_value=5_000), min_size=1, max_size=15),
    rights=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5_000),
            st.floats(min_value=-10, max_value=10, allow_nan=False),
        ),
        min_size=0,
        max_size=15,
    ),
    lookback=st.integers(min_value=1, max_value=2_000),
)
def test_asof_batch_matches_bruteforce(lefts, rights, lookback):
    """asof_join_stream's batch path == per-row brute force scan."""
    from cehrbert_data_spark.streaming import asof_join_stream

    lefts = sorted(set(lefts))
    rights = sorted(set(rights))
    r_ts = [t for t, _ in rights]
    if len(r_ts) != len(set(r_ts)):  # keep (ts -> value) a function
        return
    spark = _get_spark()
    ldf = spark.createDataFrame([(1, t) for t in lefts], "k: int, t: long").withColumn(
        "ts", F.col("t").cast("timestamp")
    )
    rdf = spark.createDataFrame(
        [(1, t, v) for t, v in rights], "k: int, t: long, value: double"
    ).withColumn("ts", F.col("t").cast("timestamp")).drop("t")
    out = asof_join_stream(
        ldf, rdf, ["k"], "ts", "value", lookback_s=float(lookback)
    )
    got = {r["t"]: r["asof_value"] for r in out.collect()}
    for lt in lefts:
        cands = [(t, v) for t, v in rights if lt - lookback <= t <= lt]
        want = max(cands)[1] if cands else None
        assert got[lt] == want, (lt, got[lt], want)
