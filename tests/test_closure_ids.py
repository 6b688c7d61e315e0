from __future__ import annotations

from pyspark.sql import functions as F

from cehrbert_data_spark.operators.closure import descendants, transitive_closure
from cehrbert_data_spark.operators.ids import dense_ids, ids_above_max


def test_transitive_closure_diamond(spark):
    # 1 -> 2 -> 4, 1 -> 3 -> 4 (diamond): (1,4) reachable at distance 2, once.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src: int, dst: int"
    )
    rows = {(r["src"], r["dst"]): r["distance"] for r in transitive_closure(edges).collect()}
    assert rows == {(1, 2): 1, (1, 3): 1, (2, 4): 1, (3, 4): 1, (1, 4): 2}


def test_closure_loop_never_mutates_caller_session_conf(spark, monkeypatch):
    # Round-6 verdict nit: the loop used to set spark.sql.shuffle.partitions
    # on the CALLER's session (restored in a finally) — a concurrent query
    # could inherit the narrowed width. The narrowing now lives in a cloned
    # session; probe the caller's conf AT LOOP ENTRY (what a concurrent
    # query would read) and assert it never changes.
    import cehrbert_data_spark.operators.closure as closure_mod

    key = "spark.sql.shuffle.partitions"
    caller_width = spark.conf.get(key)
    # test sessions run width 4 (< the loop's floor of 8, which would skip
    # the clone path entirely) — widen so the narrowing actually engages
    spark.conf.set(key, "32")
    try:
        seen = {}
        real_loop = closure_mod._closure_loop

        def probing_loop(closure, frontier, step, max_iterations, hop_batch=2, **kw):
            seen["caller_width_during_loop"] = spark.conf.get(key)
            seen["loop_width"] = step.sparkSession.conf.get(key)
            return real_loop(closure, frontier, step, max_iterations, hop_batch, **kw)

        monkeypatch.setattr(closure_mod, "_closure_loop", probing_loop)
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 6)], "src: int, dst: int"
        )
        rows = {
            (r["src"], r["dst"]): r["distance"]
            for r in closure_mod.transitive_closure(edges).collect()
        }
        # the loop DID run narrowed (floor width 8), in its own session ...
        assert seen["loop_width"] == "8"
        # ... while the caller's session width never moved, during or after
        assert seen["caller_width_during_loop"] == "32"
        assert spark.conf.get(key) == "32"
        # results from the cloned session compose with the caller's session
        assert rows[(1, 6)] == 5 and len(rows) == 15
        # round-7 advice: the RESULT must be re-rooted onto the caller's
        # session — downstream shuffles composed on it run at the caller's
        # width (32), not the narrowed loop width (8)
        result = closure_mod.transitive_closure(edges)
        assert result.sparkSession.conf.get(key) == "32"
        # AQE would coalesce this tiny shuffle to 1 either way — disable
        # its coalescing so the probe sees the session width the shuffle
        # was PLANNED at (the quantity the re-rooting is about)
        coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
        prev_coalesce = spark.conf.get(coalesce_key)
        spark.conf.set(coalesce_key, "false")
        try:
            downstream = result.groupBy("src").count()
            assert downstream.rdd.getNumPartitions() == 32
        finally:
            spark.conf.set(coalesce_key, prev_coalesce)
        # and the re-rooting views are cleaned up
        leftover = [
            t.name
            for t in spark.catalog.listTables("global_temp")
            if t.name.startswith("closure_loop_")
        ]
        assert leftover == []
    finally:
        spark.conf.set(key, caller_width)


def test_descendants_lookup(spark):
    anc = spark.createDataFrame(
        [(10, 11), (10, 12), (20, 21)],
        "ancestor_concept_id: int, descendant_concept_id: int",
    )
    seeds = spark.createDataFrame([(10,)], "concept_id: int")
    out = sorted(r["concept_id"] for r in descendants(anc, seeds).collect())
    assert out == [11, 12]


def test_dense_ids(spark):
    df = spark.createDataFrame([("c",), ("a",), ("b",)], "v: string")
    out = {r["v"]: r["id"] for r in dense_ids(df, [F.col("v")]).collect()}
    assert out == {"a": 1, "b": 2, "c": 3}


def test_ids_above_max(spark):
    existing = spark.createDataFrame([(5,), (9,)], "vid: int")
    new = spark.createDataFrame([("x",), ("y",)], "tag: string")
    out = ids_above_max(new, existing, "vid", "vid").collect()
    ids = [r["vid"] for r in out]
    assert len(set(ids)) == 2 and min(ids) > 9


def test_pagerank_matches_integer_bruteforce(spark):
    from collections import defaultdict

    from cehrbert_data_spark.operators.closure import pagerank

    edges = [(1, 2, 3), (2, 1, 1), (2, 3, 1), (3, 1, 2), (4, 1, 5)]
    df = spark.createDataFrame(edges, "src: long, dst: long, w: long")
    got = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(df, weight="w", iters=3).collect()
    }

    scale, dn, dd = 1_000_000, 85, 100
    outw = defaultdict(int)
    for s, d, w in edges:
        outw[s] += w
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    r = {n: scale for n in nodes}
    base = scale * (dd - dn) // dd
    for _ in range(3):
        s = defaultdict(int)
        for u, v, w in edges:
            s[v] += (r[u] * w) // outw[u]
        r = {n: base + (dn * s[n]) // dd for n in nodes}
    assert got == r
    # node 4 has no in-edges: teleport-only mass
    assert got[4] == base


def test_pagerank_emit_prev_is_previous_iteration(spark):
    """emit_prev returns (r_t, r_{t-1}) from ONE run: prev_scaled must equal
    a standalone run at iters-1 for every node (tools/pagerank_gate.py
    relies on this to extract the registry query's 3-iteration ranks from
    the residual-gated 4-iteration run)."""
    from cehrbert_data_spark.operators.closure import pagerank

    edges = [(1, 2, 3), (2, 1, 1), (2, 3, 1), (3, 1, 2), (4, 1, 5), (3, 4, 7)]
    df = spark.createDataFrame(edges, "src: long, dst: long, w: long")
    both = {
        r["node"]: (r["rank_scaled"], r["prev_scaled"])
        for r in pagerank(df, weight="w", iters=4, emit_prev=True).collect()
    }
    r3 = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(df, weight="w", iters=3).collect()
    }
    r4 = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(df, weight="w", iters=4).collect()
    }
    assert {n: v[0] for n, v in both.items()} == r4
    assert {n: v[1] for n, v in both.items()} == r3


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_closure_loop_broadcast_and_shuffle_paths_agree(spark):
    from cehrbert_data_spark.operators.closure import _closure_loop

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)] + [(1, 4), (2, 6)],
        "src: int, dst: int",
    )
    level_1 = edges.select("src", "dst", F.lit(1).alias("distance"))
    step = edges.select(
        F.col("src").alias("e_src"), F.col("dst").alias("e_dst")
    )

    def run(bcast):
        seed = level_1.distinct().localCheckpoint(eager=False)
        out = _closure_loop(
            seed, seed, step, 50, hop_batch=2,
            bcast_small=bcast, pairs_so_far=9,
        )
        return _rows(out)

    assert run(True) == run(False)


def test_closure_early_stop_short_of_capacity_matches_plain_bfs(spark):
    """Path 0->1->...->8 (max min-distance 8): with hop_batch=4 the second
    iteration's max lands short of its capacity 9, so the loop stops
    WITHOUT running the empty-check iteration. Rows (incl. distances) must
    equal plain frontier BFS, which never early-stops."""
    from cehrbert_data_spark.operators.closure import transitive_closure

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src: int, dst: int"
    )
    batched = _rows(transitive_closure(edges, hop_batch=4))
    plain = _rows(transitive_closure(edges, hop_batch=1))
    assert batched == plain
    assert len(batched) == 36  # 9 nodes: all ordered pairs, minimal distances


def test_closure_early_stop_boundary_depth_equals_capacity(spark):
    """Path of max min-distance 5 == first-iteration capacity (1 + B): the
    max-distance signal is ambiguous there, the loop must run the next
    iteration (which proves emptiness) rather than stop early."""
    from cehrbert_data_spark.operators.closure import transitive_closure

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src: int, dst: int"
    )
    batched = _rows(transitive_closure(edges, hop_batch=4))
    plain = _rows(transitive_closure(edges, hop_batch=1))
    assert batched == plain
    assert max(r[2] for r in batched) == 5


def test_closure_early_stop_diamond_fanout_distances_minimal(spark):
    """Diamond + shortcut graph: pairs reachable by multiple path lengths
    must record the MINIMAL distance under the early-stopping batched loop."""
    from cehrbert_data_spark.operators.closure import transitive_closure

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (1, 4), (4, 7)],
        "src: int, dst: int",
    )
    batched = _rows(transitive_closure(edges, hop_batch=4))
    plain = _rows(transitive_closure(edges, hop_batch=1))
    assert batched == plain
    by_pair = {(s, d): dist for s, d, dist in batched}
    assert by_pair[(1, 7)] == 2  # 1->4->7 via the shortcuts, not 6 hops
