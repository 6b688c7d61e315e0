"""Sketch operators: deterministic HLL registers/estimate vs a pure-Python
simulation, plus accuracy and exactness properties of the integer-log trick.
"""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from cehrbert_data_spark.operators.sketches import (
    hll_alpha,
    hll_distinct,
    hll_registers,
)


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_hll(values, p):
    """Reference register computation, straight from the definition."""
    m = 1 << p
    wbits = 60 - p
    regs = {}
    for v in values:
        h = _md5_60(str(v))
        b = h % m
        w = h >> p
        rank = (wbits + 1) if w == 0 else wbits - w.bit_length() + 1
        regs[b] = max(regs.get(b, 0), rank)
    return regs


def _py_estimate(regs, p):
    m = 1 << p
    scale = 62 - p
    s = sum(1 << (scale - r) for r in regs.values()) + (m - len(regs)) * (1 << scale)
    return hll_alpha(m) * m * m * float(1 << scale) / s, s


@pytest.mark.parametrize("p", [4, 6, 8])
def test_hll_registers_match_python(spark, p):
    rng = random.Random(p * 1000 + 17)
    values = [rng.randrange(10**9) for _ in range(500)]
    df = spark.createDataFrame([(v,) for v in values], "v: long").withColumn(
        "g", F.lit("all")
    )
    got = {
        r["bucket"]: r["register"]
        for r in hll_registers(df, ["g"], F.col("v"), p=p).collect()
    }
    assert got == _py_hll(values, p)


@pytest.mark.parametrize("p", [4, 6, 8])
def test_hll_estimate_exact_vs_python(spark, p):
    """The register_sum BIGINT and the one-division estimate must equal the
    Python computation bit-for-bit — that is the cross-engine guarantee."""
    rng = random.Random(p * 31 + 5)
    values = [rng.randrange(10**12) for _ in range(2000)]
    df = spark.createDataFrame([(v,) for v in values], "v: long").withColumn(
        "g", F.lit("all")
    )
    row = hll_distinct(df, ["g"], F.col("v"), p=p).collect()[0]
    est, s = _py_estimate(_py_hll(values, p), p)
    assert row["register_sum"] == s
    assert row["hll_estimate"] == est  # exact float equality, by design


def test_hll_estimate_accuracy(spark):
    """Raw HLL (no small-range correction) should land within ~3 standard
    errors (1.04/sqrt(m)) once n >> m."""
    n, p = 5000, 6
    m = 1 << p
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % 2**31).alias("v"), F.lit("g").alias("g")
    )
    row = hll_distinct(df, ["g"], F.col("v"), p=p).collect()[0]
    rel = abs(row["hll_estimate"] - n) / n
    assert rel < 3 * 1.04 / (m**0.5), rel


def test_hll_registers_merge(spark):
    """Registers from disjoint shards combine by max to the full-corpus
    registers — the mergeability a 100 TB rollup relies on."""
    rng = random.Random(99)
    values = [rng.randrange(10**9) for _ in range(1000)]
    half = len(values) // 2
    p = 6
    full = _py_hll(values, p)
    a = _py_hll(values[:half], p)
    b = _py_hll(values[half:], p)
    merged = dict(a)
    for k, v in b.items():
        merged[k] = max(merged.get(k, 0), v)
    assert merged == full
    # and the distributed registers agree shard-by-shard
    df = spark.createDataFrame(
        [(v, "a" if i < half else "b") for i, v in enumerate(values)],
        "v: long, shard: string",
    )
    got = {}
    for r in hll_registers(df, ["shard"], F.col("v"), p=p).collect():
        key = (r["shard"], r["bucket"])
        got[key] = r["register"]
    for bkt, rank in a.items():
        assert got[("a", bkt)] == rank
    for bkt, rank in b.items():
        assert got[("b", bkt)] == rank


def _bloom_positions(v, m, k):
    h = _md5_60(str(v))
    h1, h2 = h % m, (h >> 30) % m
    return [(h1 + i * h2) % m for i in range(k)]


def test_bloom_no_false_negatives_and_matches_python(spark):
    from cehrbert_data_spark.operators.sketches import bloom_build, bloom_probe

    rng = random.Random(4242)
    members = sorted({rng.randrange(10**7) for _ in range(400)})
    probes = members[:100] + [10**8 + i for i in range(300)]
    m, k = 4096, 4

    bits = set()
    for v in members:
        bits.update(_bloom_positions(v, m, k))
    expected = {v: all(p in bits for p in _bloom_positions(v, m, k)) for v in probes}

    mdf = spark.createDataFrame([(v,) for v in members], "v: long")
    pdf = spark.createDataFrame([(v,) for v in probes], "v: long")
    filt = bloom_build(mdf, F.col("v"), m_bits=m, k=k)
    got = {
        r["probe_key"]: r["bloom_maybe"]
        for r in bloom_probe(pdf, filt, F.col("v"), m_bits=m, k=k).collect()
    }
    assert got == expected
    # one-sided guarantee: every member probes positive
    for v in members[:100]:
        assert got[v] is True


def test_cms_never_underestimates_and_matches_python(spark):
    from cehrbert_data_spark.operators.sketches import cms_build, cms_estimate

    rng = random.Random(777)
    # zipf-ish stream: heavy key 0, light tail
    stream = [0] * 500 + [rng.randrange(1, 200) for _ in range(1500)]
    depth, width = 4, 64

    def cell(r, v):
        return _md5_60(f"{r}:{v}") % width

    counters = {}
    for v in stream:
        for r in range(depth):
            key = (r, cell(r, v))
            counters[key] = counters.get(key, 0) + 1
    exact = {}
    for v in stream:
        exact[v] = exact.get(v, 0) + 1
    expected = {
        v: min(counters.get((r, cell(r, v)), 0) for r in range(depth)) for v in exact
    }

    sdf = spark.createDataFrame([(v,) for v in stream], "v: long")
    pdf = spark.createDataFrame([(v,) for v in exact], "v: long")
    sketch = cms_build(sdf, F.col("v"), depth=depth, width=width)
    got = {
        r["probe_key"]: r["cms_est"]
        for r in cms_estimate(pdf, sketch, F.col("v"), depth=depth, width=width).collect()
    }
    assert got == expected
    for v, c in exact.items():
        assert got[v] >= c  # CMS upper-bound guarantee


def test_kmv_jaccard_matches_python_and_is_close(spark):
    from cehrbert_data_spark.operators.sketches import kmv_jaccard, kmv_sketch

    rng = random.Random(31337)
    pool = list(range(20000))
    a = set(rng.sample(pool, 5000))
    b = set(rng.sample(pool, 5000))
    k = 256

    def hashes(s):
        return sorted(_md5_60(str(v)) for v in s)

    ha, hb = hashes(a)[:k], hashes(b)[:k]
    union_k = sorted(set(ha) | set(hb))[:k]
    n_common = sum(1 for h in union_k if h in set(ha) and h in set(hb))
    true_j = len(a & b) / len(a | b)

    adf = spark.createDataFrame([(v,) for v in a], "v: long")
    bdf = spark.createDataFrame([(v,) for v in b], "v: long")
    row = kmv_jaccard(
        kmv_sketch(adf, F.col("v"), k=k), kmv_sketch(bdf, F.col("v"), k=k), k=k
    ).collect()[0]
    assert row["n_common"] == n_common
    assert row["jaccard_est"] == n_common / k
    # estimator quality: within ~4 sigma of truth (sigma ~ sqrt(J(1-J)/k))
    sigma = (true_j * (1 - true_j) / k) ** 0.5
    assert abs(row["jaccard_est"] - true_j) < 4 * sigma + 0.02
    # distinct estimates within 20% (k=256 -> ~6% sigma)
    assert abs(row["est_distinct_a"] - len(a)) / len(a) < 0.2
    assert abs(row["est_distinct_b"] - len(b)) / len(b) < 0.2


def test_kmv_small_set_is_exact(spark):
    from cehrbert_data_spark.operators.sketches import kmv_jaccard, kmv_sketch

    a = spark.createDataFrame([(v,) for v in range(50)], "v: long")
    b = spark.createDataFrame([(v,) for v in range(25, 75)], "v: long")
    row = kmv_jaccard(
        kmv_sketch(a, F.col("v"), k=256), kmv_sketch(b, F.col("v"), k=256), k=256
    ).collect()[0]
    # sets smaller than k: the sketch IS the set, counts are exact
    assert row["est_distinct_a"] == 50.0
    assert row["est_distinct_b"] == 50.0
    assert row["n_common"] == 25


def test_bloom_probe_plan_has_no_probe_side_shuffle(spark):
    from cehrbert_data_spark.operators.sketches import bloom_build, bloom_probe

    build = spark.range(100).selectExpr("id AS v")
    probe = spark.range(200).selectExpr("id AS v")
    filt = bloom_build(build, F.col("v"), m_bits=4096, k=4)
    out = bloom_probe(probe, filt, F.col("v"), m_bits=4096, k=4, assume_distinct=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # with assume_distinct the probe path is a projection + one-row
    # broadcast attach: the only Generate (explode) is the filter BUILD
    # side, and the probe key never hash-partitions
    assert plan.count("Generate") == 1
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "hashpartitioning(probe_key" not in plan
    # membership results: every built key passes (no false negatives)
    flags = {r["probe_key"]: r["bloom_maybe"] for r in out.collect()}
    assert all(flags[i] for i in range(100))


def test_cms_estimate_assume_distinct_matches_default(spark):
    from cehrbert_data_spark.operators.sketches import cms_build, cms_estimate

    data = spark.range(500).selectExpr("CAST(id % 37 AS LONG) AS v")
    probe = spark.range(37).selectExpr("id AS v")
    sk = cms_build(data, F.col("v"), depth=4, width=64)
    a = {
        r["probe_key"]: r["cms_est"]
        for r in cms_estimate(probe, sk, F.col("v"), depth=4, width=64).collect()
    }
    b = {
        r["probe_key"]: r["cms_est"]
        for r in cms_estimate(
            probe, sk, F.col("v"), depth=4, width=64, assume_distinct=True
        ).collect()
    }
    assert a == b
    # CMS never underestimates the true count (500 rows over 37 keys)
    for key, est in a.items():
        true = 500 // 37 + (1 if key < 500 % 37 else 0)
        assert est >= true
