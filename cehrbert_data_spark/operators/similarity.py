"""Similarity search over embedding columns (array<float>).

Two paths:
  * brute-force cosine top-k — the exactness baseline. Embeddings are
    quantized to integers (×1000, round) so dot products are exact integer
    sums: order-independent, bit-identical across engines, and still
    ~3 decimal places of cosine precision.
  * LSH-bucketed (random-hyperplane sign bits) — the scale path: candidate
    generation is an equi-join on bucket keys; hyperplanes derive
    deterministically from md5 so buckets are reproducible anywhere.

At 100 TB the broadcast side is the (small) query set; the corpus side never
shuffles for brute force (map-side join + per-partition partial top-k via the
aggregate), and shuffles only bucket keys for LSH.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cehrbert_data_spark.operators.text import md5_long


def _sqlref(name: str) -> str:
    """SQL reference for a column name: backtick plain names; pass
    alias-qualified ``a.col`` refs through (same dot ambiguity as F.col)."""
    return name if "." in name or name.startswith("`") else f"`{name}`"


def quantize(vec: str, scale: int = 1000) -> Column:
    """array<float> column NAME → array<long> by round(x*scale): exact
    arithmetic from here on. Builds as one ``F.expr`` (a single Py4J round
    trip, not one per lambda operator)."""
    return F.expr(
        f"transform({_sqlref(vec)}, x -> CAST(round(x * {scale}) AS BIGINT))"
    )


def _int_dot_sql(a: str, b: str) -> str:
    """SQL text of the exact integer dot product of two array<long> SQL
    expressions — shared by ``int_dot`` and call sites that inline it into
    a larger single-expr build."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        f" CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def int_dot(a: str, b: str) -> Column:
    """Exact integer dot product of two array<long> columns, by NAME."""
    return F.expr(_int_dot_sql(_sqlref(a), _sqlref(b)))


def with_quantized_norm(df: DataFrame, vec_col: str, out_vec: str = "ivec") -> DataFrame:
    """Attach the quantized vector and its exact squared norm."""
    q = quantize(vec_col)
    return df.withColumn(out_vec, q).withColumn(
        "inorm2", int_dot(out_vec, out_vec)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Brute-force cosine top-k of each query vector against the corpus.

    Returns (q_id, n_id, cosine, rank). The query side is broadcast; the
    cosine is exact-int dot / (sqrt·sqrt) so ranking ties are impossible
    except for genuinely equal quantized cosines (then id-tie-broken).
    """
    from cehrbert_data_spark.operators.partitioning import widen_for_fanout

    # selectExpr strings and one inlined cosine expr (r11 §7 discipline):
    # identical analyzed trees, a fraction of the Py4J build round trips.
    ref = _sqlref(id_col)
    c = with_quantized_norm(widen_for_fanout(corpus, by=id_col), vec_col).selectExpr(
        f"{ref} AS n_id", "ivec AS n_vec", "inorm2 AS n_norm2"
    )
    q = with_quantized_norm(queries, vec_col).selectExpr(
        f"{ref} AS q_id", "ivec AS q_vec", "inorm2 AS q_norm2"
    )
    pairs = c.crossJoin(F.broadcast(q)).where("n_id != q_id")
    scored = pairs.selectExpr(
        "q_id",
        "n_id",
        f"CAST({_int_dot_sql('`q_vec`', '`n_vec`')} AS DOUBLE)"
        " / (SQRT(q_norm2) * SQRT(n_norm2)) AS cosine",
    )
    return (
        scored.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY q_id "
            "ORDER BY cosine DESC, n_id ASC) AS rank",
        )
        .where(f"`rank` <= {int(k)}")
        .select("q_id", "n_id", "cosine", "rank")
    )


def hyperplane_component(plane: Column, dim: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-1000, 1000]:
    md5-derived, so identical in any engine."""
    return md5_long(F.concat_ws("_", plane, dim), 48) % 2001 - 1000


def lsh_buckets_multi(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int = 8,
    num_tables: int = 1,
) -> DataFrame:
    """Sign-bit LSH buckets over ``num_tables`` independent hash tables in a
    single pass: (id, tbl, bucket) with bucket = Σ (dot(v, plane_{tbl·P+b}) >
    0) << b.

    Multiple tables are the standard recall lever — a near-neighbor pair
    missed by one table's ``num_planes`` sign bits gets another chance in the
    next. All T·P plane dot products ride one explode + one (id, p) aggregate,
    so tables cost plane-multiples, not extra passes over the vectors.
    """
    from cehrbert_data_spark.operators.partitioning import widen_for_fanout

    q = with_quantized_norm(widen_for_fanout(df, by=id_col), vec_col)
    total = num_planes * num_tables
    planes = df.sparkSession.range(total).select(F.col("id").alias("p"))
    exploded = q.select(
        F.col(id_col).alias("id"), F.posexplode("ivec").alias("d", "x")
    )
    contrib = exploded.crossJoin(F.broadcast(planes)).select(
        "id",
        "p",
        (F.col("x") * hyperplane_component(F.col("p"), F.col("d"))).alias("c"),
    )
    dots = contrib.groupBy("id", "p").agg(F.sum("c").alias("dot"))
    # shiftleft by a column requires the SQL form (the Python helper only
    # accepts an int bit count).
    return dots.groupBy(
        "id", (F.col("p") / num_planes).cast("int").alias("tbl")
    ).agg(
        F.sum(
            F.when(
                F.col("dot") > 0,
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {num_planes} AS INT))"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("bucket")
    )


def lsh_bucket(df: DataFrame, id_col: str, vec_col: str, num_planes: int = 8) -> DataFrame:
    """Single-table sign-bit LSH bucket per vector: bucket = Σ (dot(v,
    plane_p) > 0) << p. See :func:`lsh_buckets_multi` for the recall-tunable
    multi-table variant."""
    return lsh_buckets_multi(df, id_col, vec_col, num_planes, num_tables=1).select(
        "id", "bucket"
    )


def lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    num_planes: int = 8,
) -> DataFrame:
    """Approximate nearest neighbors at scale: candidates share an LSH
    bucket (equi-join — no all-pairs enumeration), then exact quantized
    cosine ranks the candidates per query vector.

    Recall trades off with ``num_planes``: more planes → smaller buckets →
    fewer candidates. This is the scale path next to the brute-force
    :func:`cosine_topk` baseline — the join volume is Σ bucket², not n².
    """
    from cehrbert_data_spark.sources.writers import checkpoint_barrier

    q = with_quantized_norm(df, vec_col).select(
        F.col(id_col).alias("id"), "ivec", "inorm2"
    )
    # The bucket computation (posexplode over dims × planes + two groupBy
    # shuffles) would otherwise run once per self-join side — column
    # pruning defeats exchange reuse. Materialize the SMALL (id, bucket)
    # table once; the per-row quantize projection re-runs per side, which
    # is a scan-local no-shuffle cost.
    buckets = checkpoint_barrier(lsh_bucket(df, id_col, vec_col, num_planes))
    side = q.join(buckets, q["id"] == buckets["id"]).select(
        q["id"].alias("id"), "ivec", "inorm2", "bucket"
    )
    a = side.alias("a")
    b = side.alias("b")
    cos = (
        int_dot("a.ivec", "b.ivec").cast("double")
        / (F.sqrt(F.col("a.inorm2")) * F.sqrt(F.col("b.inorm2")))
    )
    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("q_id"),
            F.col("b.id").alias("n_id"),
            cos.alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "cosine", "rank")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int = 8,
    num_tables: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """ANN candidate pairs: vectors sharing an LSH bucket in ANY of the
    ``num_tables`` hash tables (id_a < id_b, deduplicated across tables).

    The join is an equi-join on (tbl, bucket) — join volume Σ bucket² per
    table, never n². More tables → higher recall, linearly more candidates.
    The bucket table (explode + two shuffles to build) is materialized once
    instead of once per self-join side (exchange reuse never fires across
    the aliases — column pruning makes the subtrees non-identical).

    ``max_bucket_size`` mirrors the MinHash cap (operators/dedup.py
    ``minhash_lsh_pairs``): a degenerate bucket — e.g. the all-zeros sign
    pattern every near-origin embedding falls into — contributes |bucket|²
    comparisons for near-zero recall value; when set, over-cap buckets are
    excluded from pair generation. The filter runs over the already-
    materialized bucket barrier, so nothing recomputes. Default None.
    """
    from cehrbert_data_spark.sources.writers import checkpoint_barrier

    buckets = checkpoint_barrier(
        lsh_buckets_multi(df, id_col, vec_col, num_planes, num_tables)
    )
    if max_bucket_size is not None:
        if max_bucket_size < 2:
            raise ValueError(f"max_bucket_size must be >= 2, got {max_bucket_size}")
        from pyspark.sql import Window

        bucket_n = F.count(F.lit(1)).over(Window.partitionBy("tbl", "bucket"))
        buckets = (
            buckets.withColumn("__bucket_n", bucket_n)
            .where(F.col("__bucket_n") <= max_bucket_size)
            .drop("__bucket_n")
        )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def ivf_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_mod: int = 64,
    nprobe: int = 1,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantization. Default codebook is deterministic-untrained:
    centroids are the vectors whose id ≡ 0 (mod ``centroid_mod``) —
    reproducible in any engine with no training step. Pass ``codebook``
    (a ``(cid, cvec)`` table of BIGINT-quantized centroids, e.g.
    ``operators.clustering.kmeans_fit``'s output) to probe TRAINED
    centroids instead — data-adaptive inverted lists, the production IVF
    shape. Returns (id, cid, probe_rank) for each vector's ``nprobe``
    nearest centroids by exact quantized cosine (tie-broken on centroid
    id).

    The centroid set is tiny (n / centroid_mod, or k) and broadcast;
    assignment is a map-side scored cross join — the corpus never
    shuffles.
    """
    q = with_quantized_norm(df, vec_col).select(
        F.col(id_col).alias("id"), "ivec", "inorm2"
    )
    if codebook is not None:
        centroids = codebook.select(
            "cid",
            F.col("cvec").alias("cvec"),
            int_dot("cvec", "cvec").alias("cnorm2"),
        )
    else:
        centroids = q.where(F.col("id") % centroid_mod == 0).select(
            F.col("id").alias("cid"),
            F.col("ivec").alias("cvec"),
            F.col("inorm2").alias("cnorm2"),
        )
    cos = (
        int_dot("ivec", "cvec").cast("double")
        / (F.sqrt(F.col("inorm2")) * F.sqrt(F.col("cnorm2")))
    )
    scored = q.crossJoin(F.broadcast(centroids)).select(
        "id", "cid", cos.alias("c_cos")
    )
    w = Window.partitionBy("id").orderBy(F.col("c_cos").desc(), F.col("cid").asc())
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .where(F.col("probe_rank") <= nprobe)
        .select("id", "cid", "probe_rank")
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    centroid_mod: int = 64,
    nprobe: int = 1,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: candidates share an assigned centroid (inverted list),
    exact quantized cosine ranks them per query. With ``nprobe`` > 1 each
    query also probes its runner-up centroids (recall/cost dial).

    Scale shape: the pair join is an equi-join on cid — join volume is
    Σ |inverted list|², like the LSH path but with data-adaptive buckets;
    no n² enumeration, and the corpus shuffles only (id, cid) keys plus the
    candidate join. The corpus×centroids scoring runs ONCE: both the
    inverted lists (probe_rank = 1) and the query probes (<= nprobe) are
    sliced from a single materialized assignment — as lazy subtrees the two
    ivf_assign calls' exchanges are never reused (column pruning makes them
    non-identical), so the corpus was scored twice.
    """
    from cehrbert_data_spark.sources.writers import checkpoint_barrier

    q = with_quantized_norm(df, vec_col).select(
        F.col(id_col).alias("id"), "ivec", "inorm2"
    )
    assigned = checkpoint_barrier(
        ivf_assign(
            df, id_col, vec_col, centroid_mod,
            nprobe=max(1, nprobe), codebook=codebook,
        )
    )
    lists_ = assigned.where(F.col("probe_rank") == 1)
    probes = assigned
    corpus = q.join(lists_.select("id", "cid"), "id")
    queries = q.join(probes.select("id", "cid"), "id")
    a, b = queries.alias("a"), corpus.alias("b")
    cos = (
        int_dot("a.ivec", "b.ivec").cast("double")
        / (F.sqrt(F.col("a.inorm2")) * F.sqrt(F.col("b.inorm2")))
    )
    pairs = a.join(
        b, (F.col("a.cid") == F.col("b.cid")) & (F.col("a.id") != F.col("b.id"))
    ).select(F.col("a.id").alias("q_id"), F.col("b.id").alias("n_id"), cos.alias("cosine"))
    # a (query, neighbor) pair can match through several probed centroids
    pairs = pairs.distinct()
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "cosine", "rank")
    )


def pq_codes(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_subspaces: int = 4,
    centroid_mod: int = 64,
) -> DataFrame:
    """Product-quantization codes: split each vector into ``num_subspaces``
    contiguous subvectors and assign each to its nearest codebook centroid by
    exact quantized squared L2 distance (ties broken on centroid id).

    The codebook is deterministic — per subspace, the centroids are the
    subvectors of the rows whose id ≡ 0 (mod ``centroid_mod``) — so any
    engine reproduces the same codes without a k-means training step (same
    convention as :func:`ivf_assign`).

    Returns (id, m, code) with one row per (vector, subspace). The codebook
    is tiny and broadcast; assignment aggregates min(struct(dist2, cid))
    per (id, m) — a lexicographic argmin that gets map-side partial
    aggregation, so the corpus shuffles only (id, m, best) triples, never
    the vectors.
    """
    q = df.select(F.col(id_col).alias("id"), quantize(vec_col).alias("ivec"))
    subvecs = q.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.slice(
                        F.col("ivec"),
                        F.expr(f"CAST(size(ivec) / {num_subspaces} * {m} AS INT) + 1"),
                        F.expr(f"CAST(size(ivec) / {num_subspaces} AS INT)"),
                    )
                    for m in range(num_subspaces)
                ]
            )
        ).alias("m", "sv"),
    )
    centroids = subvecs.where(F.col("id") % centroid_mod == 0).select(
        F.col("id").alias("cid"), F.col("m").alias("cm"), F.col("sv").alias("cv")
    )
    dist2 = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = subvecs.join(F.broadcast(centroids), F.col("m") == F.col("cm")).select(
        "id", "m", F.struct(dist2.alias("d2"), F.col("cid").alias("cid")).alias("s")
    )
    return scored.groupBy("id", "m").agg(F.min("s").alias("best")).select(
        "id", "m", F.col("best.cid").alias("code")
    )


def pq_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    num_subspaces: int = 4,
    centroid_mod: int = 64,
) -> DataFrame:
    """Asymmetric-distance (ADC) product-quantization top-k: corpus vectors
    are represented only by their PQ codes; each query scores a candidate as
    the sum over subspaces of its exact quantized squared-L2 distance to the
    candidate's assigned centroid.

    This is the memory-compressed ANN scale path: at 100 TB the corpus
    never re-reads its float vectors at query time — the scan touches
    ``num_subspaces`` small ints per vector, and the per-query distance
    lookup table (|queries| × |codebook| × subspaces) is broadcast. One
    shuffle on (q_id, id) sums the subspace contributions; everything is
    BIGINT arithmetic end-to-end, so results are bit-exact across engines.

    Returns (q_id, n_id, adist2, rank) ranked ascending by approximate
    squared distance (ties on n_id).
    """
    codes = pq_codes(df, id_col, vec_col, num_subspaces, centroid_mod)
    # Query-to-centroid lookup table: |Q| × K × M rows, tiny → broadcast.
    qsub = (
        queries.select(F.col(id_col).alias("q_id"), quantize(vec_col).alias("ivec"))
        .select(
            "q_id",
            F.posexplode(
                F.array(
                    *[
                        F.slice(
                            F.col("ivec"),
                            F.expr(f"CAST(size(ivec) / {num_subspaces} * {m} AS INT) + 1"),
                            F.expr(f"CAST(size(ivec) / {num_subspaces} AS INT)"),
                        )
                        for m in range(num_subspaces)
                    ]
                )
            ).alias("m", "qv"),
        )
    )
    cent = (
        df.select(F.col(id_col).alias("cid"), quantize(vec_col).alias("ivec"))
        .where(F.col("cid") % centroid_mod == 0)
        .select(
            "cid",
            F.posexplode(
                F.array(
                    *[
                        F.slice(
                            F.col("ivec"),
                            F.expr(f"CAST(size(ivec) / {num_subspaces} * {m} AS INT) + 1"),
                            F.expr(f"CAST(size(ivec) / {num_subspaces} AS INT)"),
                        )
                        for m in range(num_subspaces)
                    ]
                )
            ).alias("cm", "cv"),
        )
    )
    qdist2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    lut = qsub.join(cent, F.col("m") == F.col("cm")).select(
        "q_id", "m", F.col("cid").alias("code"), qdist2.alias("qd2")
    )
    contrib = codes.join(F.broadcast(lut), ["m", "code"]).where(
        F.col("id") != F.col("q_id")
    )
    scored = contrib.groupBy("q_id", F.col("id").alias("n_id")).agg(
        F.sum("qd2").alias("adist2")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adist2").asc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "adist2", "rank")
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    mu: float = 0.3,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k re-rank.

    Greedy MMR: repeatedly pick argmax of
    ``lam * relevance - mu * max_{s in selected} sim(cand, s)`` (max over the
    empty set = 0.0), smallest-id tie-break. The greedy chain is inherently
    sequential, so it runs per query group in ``applyInPandas`` — but ONLY
    over the bounded ``pool`` of stage-1 candidates (exact cosine top-pool,
    distributed, broadcast query side). The Python stage therefore touches
    |Q|·pool rows regardless of corpus size, and the shuffle key is q_id.

    Exactness discipline (what makes even this greedy loop oracle-checkable
    cross-engine): relevance and candidate-candidate similarities are
    int-dot / (sqrt·sqrt) doubles — the numpy side computes the exact same
    IEEE expression (int64 Gram matrix, then /(sqrt·sqrt)), and the score
    uses explicit ``lam`` / ``mu`` constants (never ``1 - lam``, which is
    not the same double as ``0.3``).

    Returns (q_id, n_id, mmr_rank, relevance, mmr_score).
    """
    import pandas as pd

    cand = cosine_topk(corpus, queries, id_col, vec_col, k=pool)
    cvec = with_quantized_norm(corpus, vec_col).select(
        F.col(id_col).alias("n_id"), "ivec", F.col("inorm2").alias("n_norm2")
    )
    # Candidates are |Q|*pool rows — broadcast them into the corpus join so
    # the big side never shuffles.
    enriched = cvec.join(F.broadcast(cand), "n_id").select(
        "q_id", "n_id", F.col("cosine").alias("relevance"), "ivec", "n_norm2"
    )

    schema = (
        "q_id long, n_id long, mmr_rank long, relevance double, mmr_score double"
    )

    def _greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import math

        import numpy as np

        pdf = pdf.sort_values("n_id").reset_index(drop=True)
        n = len(pdf)
        ids = pdf["n_id"].to_numpy()
        rel = pdf["relevance"].to_numpy()
        V = np.stack(pdf["ivec"].to_numpy()).astype(np.int64)
        gram = V @ V.T  # exact: |x|<=~2000, dim<=~1024 stays far under 2^63
        n2 = pdf["n_norm2"].to_numpy().astype(np.int64)
        inv = np.array([math.sqrt(float(x)) for x in n2])

        selected: list[int] = []
        out = []
        remaining = list(range(n))  # ascending n_id => first-wins tie-break
        while remaining and len(selected) < k:
            best_i, best_score = None, None
            for i in remaining:
                # Max-sim over the selected set; empty set -> 0.0. A true
                # max (sims can be negative), matching SQL MAX(sim).
                ms = (
                    max(float(gram[i, j]) / (inv[i] * inv[j]) for j in selected)
                    if selected
                    else 0.0
                )
                score = lam * rel[i] - mu * ms
                if best_score is None or score > best_score:
                    best_i, best_score = i, score
            selected.append(best_i)
            remaining.remove(best_i)
            out.append(
                (
                    int(pdf["q_id"].iloc[0]),
                    int(ids[best_i]),
                    len(selected),
                    float(rel[best_i]),
                    float(best_score),
                )
            )
        return pd.DataFrame(
            out, columns=["q_id", "n_id", "mmr_rank", "relevance", "mmr_score"]
        )

    return enriched.groupBy("q_id").applyInPandas(_greedy, schema)
