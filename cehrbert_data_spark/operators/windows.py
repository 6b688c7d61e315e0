"""Window operators: deterministic ranking, prev-value, sessionization.

SURVEY.md §2.5 — the densest part of the reference. Every helper takes
explicit partition keys: the engine REFUSES unpartitioned (global) windows,
the reference's main scale hazard (SURVEY.md §4 — e.g.
cohorts/spark_app_base.py:507, tools/ehrshot_to_omop.py:488). Use
``operators.ids.dense_ids`` for global id assignment instead.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cehrbert_data_spark.functions.temporal import epoch_seconds_sql


def _require_partition(partition_by: Sequence) -> list:
    parts = list(partition_by)
    if not parts:
        raise ValueError(
            "global (unpartitioned) windows shuffle everything to one "
            "partition; partition the window or use operators.ids.dense_ids"
        )
    return parts


def _quote_name(name: str) -> str:
    """Backtick-quote a plain column NAME for SQL text: reserved words
    ('order') and special characters parse the same as F.col; embedded
    backticks escape by doubling."""
    return f"`{name.replace('`', '``')}`"


def _window_spec(partition_by: Sequence[str], order_by: Sequence[str]) -> str:
    """``PARTITION BY … ORDER BY …`` text for the SQL-rendered window
    operators. Partition entries are column NAMES (quoted); order entries
    are SQL fragments (``"v DESC"``, ``"ts ASC NULLS LAST"``) passed through
    raw. Anything else is refused here, before any plan is built."""
    parts = _require_partition(partition_by)
    order = list(order_by)
    if not all(isinstance(p, str) for p in parts):
        raise ValueError(f"partition_by takes column names, got {parts!r}")
    if not order or not all(isinstance(o, str) for o in order):
        raise ValueError(f"order_by takes non-empty SQL fragments, got {order!r}")
    return (
        f"PARTITION BY {', '.join(_quote_name(p) for p in parts)} "
        f"ORDER BY {', '.join(order)}"
    )


def ordered_rank(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    out: str = "rank",
    kind: str = "row_number",
) -> DataFrame:
    """W1/W2/W3: row_number / dense_rank / rank over a deterministic multi-key
    order (the reference's 5-key orderings, utils/spark_utils.py:357-365).

    ``partition_by`` entries are column names; ``order_by`` entries are SQL
    fragments (``"o_orderdate DESC"``). The window builds as one SQL
    expression — a handful of Py4J round trips — and replaces an existing
    ``out`` column in place."""
    if kind not in ("row_number", "dense_rank", "rank"):
        raise KeyError(kind)
    over = _window_spec(partition_by, order_by)
    return df.withColumn(out, F.expr(f"{kind}() OVER ({over})"))


def top_n_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    n: int = 1,
) -> DataFrame:
    """O2: keep the best ``n`` rows per group (rank-1 dedup,
    reference: cohorts/spark_app_base.py:517-520). ``order_by`` entries are
    SQL fragments (``"o_orderdate DESC"``) and ``partition_by`` entries are
    column names, as for :func:`ordered_rank`.

    For ``n=1`` with single-direction ordering prefer
    :func:`top1_per_group_agg` — same rows, map-side combinable, immune to
    hot partition keys."""
    ranked = ordered_rank(df, partition_by, order_by, out="__rn")
    return ranked.where(f"`__rn` <= {int(n)}").drop("__rn")


def top1_per_group_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    descending: bool = False,
) -> DataFrame:
    """O2 (agg form): the best row per group as ``min(struct(order_keys…,
    payload))`` — the relink promotion (omop/visits.py, r10: 1.30×
    end-to-end at 1000 OMOP replicas) generalized to any rank-1 site.

    Identical rows to ``top_n_per_group(…, n=1)`` with the same keys
    (parity-pinned in tests), but the winner is elected by PARTIAL
    AGGREGATION: each map task keeps one candidate per group before the
    shuffle, so (a) the exchange carries ~|groups| rows instead of |rows|,
    and (b) a HOT GROUP never serializes one reducer — the window form
    funnels every row of the hottest key through a single task's sort, the
    one skew shape AQE cannot split (skew-join splitting only rewrites
    joins). Measured on the zipf rung: see SWEEP_SKEW_r11.

    Physical note: a STRUCT-typed min/max buffer is not hash-agg mutable,
    so Spark compiles SortAggregate (verified: even an all-numeric struct)
    — each map task sorts ITS OWN rows by group key before
    partial-aggregating. That local pre-shuffle sort is nothing like the
    window form's post-shuffle whole-key sort: the exchange stays
    ~|groups·tasks|-sized, the hot key stays spread across map tasks, and
    the r10 relink A/B (1.30× end-to-end at 1000 OMOP replicas) was
    measured with exactly this plan shape. Plan-pinned in
    tests/test_windows.py: partial_min before the exchange, no Window.

    Ties beyond ``order_by`` resolve by the remaining payload columns
    (struct comparison is field-order lexicographic) — include a unique key
    in ``order_by`` for total determinism, exactly as the window form
    requires for a deterministic rank 1.

    ``descending=True`` elects ``max(struct(...))`` — single-direction
    orderings only; mixed asc/desc rankings need the window form (or a
    per-key negation the caller applies upstream).
    """
    parts = list(partition_by)
    order = list(order_by)
    if not parts:
        raise ValueError(
            "global (unpartitioned) top-1 reduces everything to one group; "
            "use an explicit group key"
        )
    overlap = [c for c in order if c in parts]
    if overlap:
        raise ValueError(f"order_by columns {overlap} are group keys")
    payload_cols = [c for c in df.columns if c not in parts]
    # order keys first (they decide), then the remaining payload
    rest = [c for c in payload_cols if c not in order]
    best_col = "__best"
    while best_col in df.columns:  # collision-safe temp name
        best_col += "_"
    # Single-expr builds (r11 §7 discipline): same analyzed trees as the
    # composed-Column forms (struct fields are named by column either way,
    # groupBy takes names directly), a fraction of the Py4J round trips.
    packed = "struct(" + ", ".join(f"`{c}`" for c in order + rest) + ")"
    agg_fn = "max" if descending else "min"
    return (
        df.groupBy(*parts)
        .agg(F.expr(f"{agg_fn}({packed}) AS `{best_col}`"))
        .selectExpr(
            *[f"`{c}`" for c in parts],
            *[f"`{best_col}`.`{c}` AS `{c}`" for c in payload_cols],
        )
        .select(df.columns)
    )


def prev_value(
    df: DataFrame,
    col: str | Column,
    partition_by: Sequence[str | Column],
    order_by: Sequence[Column],
    out: str = "prev",
    offset: int = 1,
) -> DataFrame:
    """W4: previous value within a partition (prev visit end,
    reference: utils/spark_utils.py:1004-1010)."""
    w = Window.partitionBy(*_require_partition(partition_by)).orderBy(*order_by)
    return df.withColumn(out, F.lag(col, offset).over(w))


def gap_fill_daily(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    decimal_type: str = "decimal(20,6)",
) -> DataFrame:
    """Calendar gap-fill + forward-fill resample (beyond-ref; the
    time-series normalization every training pipeline needs before
    windowed feature extraction — models want one row per entity per day,
    not whatever days happened to have events).

    Aggregates ``value`` to an exact-decimal daily sum per key, expands
    each key's observed [min_day, max_day] span to a dense calendar via
    ``sequence(d0, d1, interval 1 day)`` + explode, left-joins the
    observed days back, and forward-fills missing days with
    ``last(ignorenulls)`` over a (keys, day) window. Returns
    (keys..., day, filled, is_observed).

    Scale: the calendar explode emits |keys| × span rows — bounded by
    entity count and time range, never by event volume; the daily
    aggregate collapses events FIRST (map-side combined) so the join and
    window only ever see day-grain rows. Both the join and the fill
    window key on the entity, so one repartition serves both. Spans are
    per-key (an entity active one week costs 7 rows, not the corpus's
    full range). The daily aggregate feeds TWO consumers (span + join) —
    column pruning defeats Spark's exchange reuse across such subtrees,
    so it is materialized once behind ``checkpoint_barrier`` (day-grain =
    small shared table, the barrier-appropriate case) instead of
    re-aggregating the event stream per consumer.
    """
    from cehrbert_data_spark.sources.writers import checkpoint_barrier

    parts = _require_partition(keys)
    daily = checkpoint_barrier(
        df.groupBy(*parts, F.to_date(ts).alias("day"))
        .agg(
            F.sum(F.col(value).cast(decimal_type)).cast("double").alias("day_sum")
        )
    )
    cal = (
        daily.groupBy(*parts)
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            *parts,
            F.explode(
                F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    # Null-safe on the entity keys: groupBy treats NULL as a group of its
    # own, so the join back must too (a name-list join uses plain equality
    # and silently drops every NULL-key group's observations — caught by
    # tests/test_differential_random.py::test_gap_fill_daily_vs_bruteforce).
    # Null-safe equality is still an equi-join key to the planner — this
    # stays a shuffled hash/sort-merge join, never a nested loop.
    d = daily.select(
        *[F.col(c).alias(f"__d_{c}") for c in parts],
        F.col("day").alias("__d_day"),
        F.col("day_sum").alias("__d_sum"),
    )
    cond = [cal[c].eqNullSafe(d[f"__d_{c}"]) for c in parts]
    cond.append(cal["day"] == d["__d_day"])
    joined = cal.join(d, cond, "left").select(cal["*"], d["__d_sum"].alias("day_sum"))
    w = (
        Window.partitionBy(*parts)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        *parts,
        "day",
        F.last("day_sum", ignorenulls=True).over(w).alias("filled"),
        F.col("day_sum").isNotNull().cast("long").alias("is_observed"),
    )


def streaks(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    out_prefix: str = "streak",
) -> DataFrame:
    """Gaps-and-islands: collapse each key's activity into runs of
    CONSECUTIVE calendar days (beyond-ref; retention/engagement features —
    "longest daily streak" — and the canonical islands idiom the reference's
    sessionize can't express, because streaks gap on missing DAYS, not on
    event time deltas).

    One row per (keys..., run): (streak_start, streak_end, streak_len).
    The island id is ``day - row_number()`` over distinct active days — a
    constant within a consecutive run, shifting whenever a day is skipped.

    Scale: days dedup via a hash agg on (keys, day) — map-side combine
    collapses event volume to day grain BEFORE anything crosses a shuffle
    (a window-sort dedup would shuffle and sort every raw event). The
    row_number window and the run agg then only ever see day-grain rows,
    bounded by keys × active days.
    """
    parts = _require_partition(keys)
    w = Window.partitionBy(*parts).orderBy("day")
    days = df.groupBy(*parts, F.to_date(ts).alias("day")).agg(F.lit(1).alias("__one")).drop("__one")
    islands = days.withColumn(
        "__grp", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    return (
        islands.groupBy(*parts, "__grp")
        .agg(
            F.min("day").alias(f"{out_prefix}_start"),
            F.max("day").alias(f"{out_prefix}_end"),
            F.count(F.lit(1)).alias(f"{out_prefix}_len"),
        )
        .drop("__grp")
    )


def merge_intervals(
    df: DataFrame,
    keys: Sequence[str],
    start: str,
    end: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Union of overlapping/touching intervals per key (beyond-ref; the
    visit-span idiom — "how much time was actually covered" — that naive
    SUM(end - start) double-counts whenever stays overlap).

    Classic cumulative-max islands: ordered by start, an interval opens a
    new merged island iff its start exceeds the running max of all previous
    ends. Returns one row per merged island: (keys..., island_start,
    island_end, n_intervals). Touching intervals (start == prev end) merge;
    rows with NULL or inverted bounds are dropped (documented precondition,
    mirroring overlap_join_buckets).

    Scale: one hash partitioning by ``keys`` serves both windows (the lag
    reads the same sort), then a map-side-combined agg on (keys, island) —
    never a self-join, never more than one shuffle of interval-grain rows.
    Island assignment is MATHEMATICALLY deterministic under (start, end)
    ties: tied rows share the same running max, so no permutation of them
    changes any island boundary. Pass ``tiebreak`` columns anyway when
    rows can tie: the oracle lesson from 10×-scale verification is that an
    engine's parallel window evaluation can MISCOMPUTE chained windows
    over a non-total order (DuckDB returned a different covered-days total
    run-to-run on tied sort keys; a unique order pins every engine to the
    single correct answer).
    """
    parts = _require_partition(keys)
    w = Window.partitionBy(*parts).orderBy(start, end, *tiebreak)
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # window functions can't nest — stage run_max, then lag it, then the
    # running island sum; all three share one (partition, order), so Spark
    # plans a single exchange + sort feeding stacked Window nodes
    staged = (
        df.where(
            F.col(start).isNotNull()
            & F.col(end).isNotNull()
            & (F.col(start) <= F.col(end))
        )
        .withColumn("__run_max", F.max(end).over(frame))
        .withColumn("__prev_max", F.lag("__run_max").over(w))
    )
    is_new = (
        F.when(
            F.col("__prev_max").isNull() | (F.col(start) > F.col("__prev_max")),
            1,
        ).otherwise(0)
    )
    islands = staged.withColumn("__island", F.sum(is_new).over(frame)).drop(
        "__run_max", "__prev_max"
    )
    return (
        islands.groupBy(*parts, "__island")
        .agg(
            F.min(start).alias("island_start"),
            F.max(end).alias("island_end"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .drop("__island")
    )


def sessionize(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    ts: str,
    gap: float | int,
    out: str = "session_id",
) -> DataFrame:
    """W7: split an ordered stream into sessions at gaps exceeding ``gap``.

    The new-session flag is a lagged time-delta comparison; the session id is
    its running sum over an explicit rows-frame — the reference's visit-merge
    sessionization (tools/connect_omop_visit.py:44-49). ``partition_by`` and
    ``ts`` are column names, ``order_by`` entries are SQL fragments
    (``"ts ASC"``) and ``gap`` is a finite number of seconds compared against
    ``ts - lag(ts)``. Sessions are numbered from 0 within each partition;
    an existing ``out`` column is replaced.
    """
    over = _window_spec(partition_by, order_by)
    if not isinstance(ts, str):
        raise ValueError(f"sessionize ts takes a column name, got {ts!r}")
    # bool is an int subclass and would render as invalid SQL ('True').
    if isinstance(gap, bool) or not isinstance(gap, (int, float)) or not math.isfinite(gap):
        raise ValueError(
            f"sessionize gap must be a finite number of seconds, "
            f"got {type(gap).__name__} {gap!r}"
        )
    # Floats render as double literals ('1800.0D', '1e-05D'), the literal
    # F.lit builds; ints stay integer literals.
    gap_lit = f"{gap!r}D" if isinstance(gap, float) else str(gap)
    # NTZ-safe epoch subtraction: the testdata's timestamp flavor has changed
    # under us once already (TIMESTAMP(NANOS) -> plain micros / NTZ); never
    # assume which one arrives. The analyzer extracts the inner lag window.
    ts_q = _quote_name(ts)
    delta_sql = (
        f"{epoch_seconds_sql(ts_q)} - "
        f"{epoch_seconds_sql(f'lag({ts_q}) OVER ({over})')}"
    )
    return df.withColumn(
        out,
        F.expr(
            f"sum(CASE WHEN {delta_sql} > {gap_lit} THEN 1 ELSE 0 END) "
            f"OVER ({over} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        ),
    )
