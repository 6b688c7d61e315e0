"""Distributed k-means over embedding columns — the codebook trainer the
IVF ANN path wants at scale (beyond-ref; ``similarity.ivf_assign``'s
deterministic id-mod codebook is honest about being untrained — this is
the training step, built so the result is bit-identical across engines).

Design for cross-engine determinism (the property every operator here
shares): all arithmetic is exact.

* vectors quantize to integers once (``similarity.quantize``, ×1000);
* distances are exact squared L2 in BIGINT:
  ``|x|² + |c|² − 2⟨x,c⟩`` from integer norms and dot products;
* assignment ties break on centroid id;
* centroid updates floor-quantize the component mean back to BIGINT
  (``FLOOR(sum/count)`` — sums of quantized components stay well inside
  exact-double range, so both engines floor the same value);
* init is the k vectors with the smallest ``(md5(id), id)`` — a
  deterministic pseudo-random sample reproducible in any engine.

Fixed-iteration Lloyd's (no data-dependent convergence test, so the
oracle can mirror it as a finite CTE chain).

Scale shape: the centroid table is k×d — driver-resident by design, like
PageRank's convergence scalar (``operators/closure.py``). Each Lloyd
iteration is therefore

* one assignment pass that is a PURE PROJECTION: the k centroids are
  inlined as literal structs and ``array_min`` picks the (dist2, cid)
  minimum per row — no join, no window, the corpus NEVER shuffles and
  never fans out ×k (a broadcast-join + per-id window formulation would
  shuffle n×k rows on id per iteration — the plan this design exists to
  avoid; pinned by tests/test_plan_shapes.py);
* one (cid, dim)-grain aggregation for the update — map-side combined,
  output bounded by k×d, the only exchange in the loop.

Driver round-trips are k rows per iteration × a fixed iteration count.
The literal-expression size is k×d ints per pass — fine for codebook
training (k ≤ a few hundred); a k×d too big to inline is a different
algorithm's regime (hierarchical / PQ-style training), not this one's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cehrbert_data_spark.operators.similarity import _int_dot_sql, with_quantized_norm
from cehrbert_data_spark.operators.text import md5_long


def _quantized(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return with_quantized_norm(df, vec_col).select(
        F.col(id_col).alias("id"), "ivec", "inorm2"
    )


def _seed_centroids(q: DataFrame, k: int) -> list[tuple[int, list[int]]]:
    """The k vectors with the smallest (md5(id), id) — two-pass top-k so
    the global ranking window only ever sees ~k×partitions pre-filtered
    rows, never the corpus."""
    hash_order = [md5_long(F.col("id").cast("string")), F.col("id")]
    pw = Window.partitionBy(F.spark_partition_id()).orderBy(*hash_order)
    hw = Window.orderBy(*hash_order)
    rows = (
        q.withColumn("__pr", F.row_number().over(pw))
        .where(F.col("__pr") <= k)
        .withColumn("__r", F.row_number().over(hw))
        .where(F.col("__r") <= k)
        .select((F.col("__r") - 1).cast("long").alias("cid"), "ivec")
        .collect()
    )
    return [(r["cid"], list(r["ivec"])) for r in rows]


def _assign(q: DataFrame, centroids: list[tuple[int, list[int]]]) -> DataFrame:
    """One Lloyd assignment pass as a pure projection: nearest centroid by
    exact squared L2, ties to the lowest cid — ``array_min`` over literal
    (dist2, cid) structs compares fields in order, which IS the tie-break.
    No join, no shuffle, one output row per corpus row. The literal
    centroids render into one ``selectExpr``."""
    structs = []
    for cid, cvec in centroids:
        cnorm2 = sum(x * x for x in cvec)
        lit_vec = "array(" + ", ".join(f"CAST({int(x)} AS BIGINT)" for x in cvec) + ")"
        dist2 = (
            f"inorm2 + CAST({cnorm2} AS BIGINT)"
            f" - {_int_dot_sql('ivec', lit_vec)} * 2"
        )
        structs.append(f"struct({dist2} AS dist2, CAST({cid} AS BIGINT) AS cid)")
    best = f"array_min(array({', '.join(structs)}))"
    return q.selectExpr(
        "id", "ivec", "inorm2", f"{best}.cid AS cid", f"{best}.dist2 AS dist2"
    )


def _update(q: DataFrame, centroids: list[tuple[int, list[int]]]) -> list[tuple[int, list[int]]]:
    """Floor-quantized component means per cluster; empty clusters keep
    their previous centroid. One (cid, dim)-grain map-side-combined
    aggregation — output k×d rows, collected (the driver-resident
    centroid contract)."""
    # The mean is computed as FLOOR(sum::double / n). That is EXACT only
    # while |sum| < 2^53 (every BIGINT in that range round-trips through
    # double losslessly); beyond it the cast silently rounds and the
    # "floor-quantized integer mean" contract degrades without any error.
    # Make the assumption explicit: assert_true raises in every mode
    # (ANSI or not; pattern: aggregations.py corr_regression guard) and
    # folds in as +0 so in-range sums are untouched. At the x1000
    # quantization this allows ~9e12 rows per cluster per component —
    # far above codebook-training reality, so the guard is free.
    lim = 1 << 53
    comp = (
        _assign(q, centroids)
        .select("cid", F.posexplode("ivec").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(
            F.sum("x").cast("long").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "cid",
            "pos",
            F.floor(
                (
                    F.col("s")
                    + F.coalesce(
                        F.assert_true(
                            F.abs(F.col("s")) < F.lit(lim),
                            F.lit(
                                "kmeans_fit: |per-cluster component sum| >="
                                " 2^53 breaks the exact double mean; lower"
                                " the quantization scale or cluster sizes"
                            ),
                        ).cast("long"),
                        F.lit(0),
                    )
                ).cast("double")
                / F.col("n")
            ).cast("long").alias("m"),
        )
        .collect()
    )
    means: dict[int, dict[int, int]] = {}
    for r in comp:
        means.setdefault(r["cid"], {})[r["pos"]] = r["m"]
    return [
        (cid, [m[p] for p in sorted(m)] if (m := means.get(cid)) else prev)
        for cid, prev in centroids
    ]


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 3,
) -> DataFrame:
    """Train a k-centroid codebook; returns (cid, cvec) with cvec a
    BIGINT-quantized array (feed to ``similarity.ivf_topk(codebook=)``).
    See module docstring for the determinism and scale contracts."""
    q = _quantized(df, id_col, vec_col)
    centroids = _seed_centroids(q, k)
    for _ in range(n_iter):
        centroids = _update(q, centroids)
    return df.sparkSession.createDataFrame(
        [(cid, cvec) for cid, cvec in centroids], "cid: long, cvec: array<long>"
    )


def kmeans_summary(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 3,
) -> DataFrame:
    """Report-grain k-means result: per cluster (cid, n_members, inertia)
    after ``n_iter`` Lloyd iterations — inertia is the exact BIGINT sum of
    squared L2 distances to the final centroid (the battery/oracle surface;
    array-typed centroids don't hash cross-engine, cluster stats do)."""
    q = _quantized(df, id_col, vec_col)
    centroids = _seed_centroids(q, k)
    for _ in range(n_iter):
        centroids = _update(q, centroids)
    return _assign(q, centroids).groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("dist2").alias("inertia"),
    )
