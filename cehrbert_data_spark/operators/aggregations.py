"""Aggregation operators (SURVEY.md §2.4).

All built-in hash aggregates (map-side partial aggregation for free). The
"exactness" discipline: money-like sums are computed on DECIMAL casts so
results are order-independent — a requirement for cross-engine equivalence
checks and for reproducible pipelines at any parallelism.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hourly_mean(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    decimal_type: str = "decimal(20,6)",
) -> DataFrame:
    """A2: dedup-by-hour averaging (hourly lab means,
    reference: utils/spark_utils.py:1102-1115).

    Groups by ``keys`` + calendar date + hour-of-day and returns the earliest
    timestamp and the mean value in the bucket. The mean is an exact decimal
    sum divided by the count (order-independent across partitions).
    """
    # Expression strings (r11 RPC pass 4): ~1/4 the Py4J round trips per
    # build of the equivalent Column chain.
    t, v = f"`{ts}`", f"`{value}`"
    sum_exact = f"sum(CAST({v} AS {decimal_type}))"
    return (
        df.groupBy(
            *keys,
            F.expr(f"to_date({t}) AS bucket_date"),
            F.expr(f"hour({t}) AS bucket_hour"),
        )
        .agg(
            F.expr(f"min({t}) AS first_ts"),
            F.expr(f"CAST({sum_exact} AS DOUBLE) / count({v}) AS mean_value"),
            F.expr(f"count({v}) AS n"),
        )
    )


def distinct_frequency_filter(
    df: DataFrame, group_col: str, distinct_col: str, min_count: int
) -> DataFrame:
    """A5: keep groups seen by ≥ N distinct entities (concepts seen by ≥N
    patients, reference: apps/generate_included_concept_list.py:105-111)."""
    return (
        df.groupBy(group_col)
        .agg(F.countDistinct(distinct_col).alias("freq"))
        .where(F.col("freq") >= min_count)
    )


def winsorize_bounds(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    lower: float = 0.01,
    upper: float = 0.99,
    approx: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """A7: per-group percentile clipping bounds
    (reference: queries/measurement_queries.py:26-27).

    ``approx=False``: exact ``percentile`` (linear interpolation) — the
    oracle-checkable default, but it buffers each group's values on its
    reducer. ``approx=True``: ``percentile_approx`` (Greenwald-Khanna
    sketch, rank error ≤ 1/accuracy) — the 100 TB path: sketches merge
    map-side, so a hot group's memory is O(accuracy), not O(group size).
    """
    if approx:
        lo = F.expr(f"percentile_approx({value}, {lower}, {accuracy})")
        hi = F.expr(f"percentile_approx({value}, {upper}, {accuracy})")
    else:
        lo = F.expr(f"percentile({value}, {lower})")
        hi = F.expr(f"percentile({value}, {upper})")
    return df.groupBy(*keys).agg(
        lo.cast("double").alias("lower_bound"),
        hi.cast("double").alias("upper_bound"),
        F.count(value).alias("n"),
    )


def histogram_quantile(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    q_num: int = 1,
    q_den: int = 2,
    bin_width: float = 10.0,
) -> DataFrame:
    """Single-pass mergeable approximate quantile via a fixed-width integer
    histogram (beyond-ref; the cluster-scale alternative to sort-based
    percentiles that, unlike ``percentile_approx``'s Greenwald-Khanna
    sketch, is deterministic and oracle-checkable in any engine).

    Values bucket into ``floor(value / bin_width)`` bins; per-group bin
    counts are one map-side-combined hash agg whose state is O(#bins) no
    matter how many rows pass through, and bins merge by addition — across
    partitions, across days, or between a stream and a backfill batch. The
    q-quantile is the smallest bin whose cumulative count reaches
    ``ceil(q * n)``; with integer cumulative counts that is exactly
    ``cum * q_den >= total * q_num`` — no division, no float, no
    engine-specific rounding. Answer error is bounded by ``bin_width``.

    Returns one row per group: (keys..., n_rows, q_bin, q_lo) where
    ``q_lo = q_bin * bin_width`` is the quantile bin's lower edge.

    Scale: shuffle #1 keys on (group, bin) — cardinality #groups × #bins,
    not #rows; shuffle #2 is a window partitioned by group over those bin
    counts. Nothing buffers a group's raw values (``percentile``'s failure
    mode on a hot group at 100 TB).
    """
    binc = F.floor(F.col(value) / F.lit(bin_width)).cast("long")
    counts = (
        df.groupBy(*keys, binc.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    wcum = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*keys)
    hit = (
        counts.withColumn("cum", F.sum("cnt").over(wcum))
        .withColumn("total", F.sum("cnt").over(wall))
        .where(F.col("cum") * q_den >= F.col("total") * q_num)
    )
    wpick = Window.partitionBy(*keys).orderBy("bin")
    return (
        hit.withColumn("rk", F.row_number().over(wpick))
        .where(F.col("rk") == 1)
        .select(
            *keys,
            F.col("total").alias("n_rows"),
            F.col("bin").alias("q_bin"),
            (F.col("bin") * F.lit(bin_width)).alias("q_lo"),
        )
    )


def exact_group_quantile(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    q_num: int = 1,
    q_den: int = 2,
    bin_width: float = 10.0,
) -> DataFrame:
    """EXACT per-group q-quantile (lower/discrete: the ceil(q·n)-th smallest
    value) without sorting the data (beyond-ref; the two-pass
    order-statistic pattern for 100 TB where ``percentile`` buffers whole
    groups and a global sort is off the table). ``histogram_quantile`` is
    the one-pass bin-approximate sibling; this one pays a second narrow
    scan for the exact data value.

    Pass 1 bins values into a fixed-width integer histogram (map-side
    combined; O(#bins) state per group) and locates, per group, the bin
    containing the k-th smallest value (k = ceil(n·q), as integers
    ``(n·q_num + q_den − 1) div q_den``) plus the residual rank inside
    that bin. Pass 2 re-scans ONLY rows in each group's target bin
    (≈ n/#bins rows), ranks them by value within the group, and picks the
    residual-rank row. Value ties are safe: every rank-j candidate shares
    the same value, so the result is deterministic even though row
    identity under ties is not.

    NULL values are excluded (SQL aggregate semantics). Returns
    (keys..., n_rows, q_value).

    Scale: two scans of (keys, value) — never a full sort, never a
    buffered group; the per-group target-bin table (one row per group)
    joins back as an equi-join AQE is free to broadcast, and the pass-2
    window sees only in-bin rows.

    Raises ValueError unless 0 < q_num <= q_den: out-of-range fractions
    would make k = 0 or k > n, the pass-2 rank filter would match nothing,
    and groups would silently vanish from the output.
    """
    from pyspark.sql import Window

    if q_den <= 0 or not (0 < q_num <= q_den):
        raise ValueError(
            f"quantile fraction q_num/q_den must satisfy 0 < q_num <= q_den; "
            f"got {q_num}/{q_den}"
        )
    src = df.where(F.col(value).isNotNull())
    binc = F.floor(F.col(value) / F.lit(bin_width)).cast("long")
    counts = src.groupBy(*keys, binc.alias("__bin")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wcum = (
        Window.partitionBy(*keys)
        .orderBy("__bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*keys)
    wpick = Window.partitionBy(*keys).orderBy("__bin")
    staged = (
        counts.withColumn("cum", F.sum("cnt").over(wcum))
        .withColumn("total", F.sum("cnt").over(wall))
        # k = ceil(total * q) in exact integers
        .withColumn(
            "k", F.expr(f"(total * {q_num} + {q_den} - 1) div {q_den}")
        )
    )
    med_bins = (
        staged.where(F.col("cum") >= F.col("k"))
        .withColumn("rk", F.row_number().over(wpick))
        .where(F.col("rk") == 1)
        .select(
            *keys,
            F.col("__bin"),
            F.col("total").alias("n_rows"),
            # residual rank inside the median bin: k - rows in earlier bins
            (F.col("k") - (F.col("cum") - F.col("cnt"))).cast("long").alias("j"),
        )
    )
    in_bin = src.select(*keys, F.col(value).alias("__v"), binc.alias("__bin")).join(
        med_bins, [*keys, "__bin"]
    )
    wrank = Window.partitionBy(*keys).orderBy("__v")
    return (
        in_bin.withColumn("__r", F.row_number().over(wrank))
        .where(F.col("__r") == F.col("j"))
        .select(*keys, "n_rows", F.col("__v").alias("q_value"))
    )


def exact_group_median(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    bin_width: float = 10.0,
) -> DataFrame:
    """EXACT per-group lower median: ``exact_group_quantile`` at q = 1/2
    (k = ceil(n/2) = (n+1) div 2). Returns (keys..., n_rows, median)."""
    out = exact_group_quantile(df, keys, value, 1, 2, bin_width)
    return out.withColumnRenamed("q_value", "median")


def corr_regression(
    df: DataFrame,
    keys: Sequence[str],
    x: str,
    y: str,
    scale: int = 100,
) -> DataFrame:
    """Per-group Pearson correlation + OLS fit from exact integer sums
    (beyond-ref; the feature-screening stat every tabular training pipeline
    computes, done the way it must be done at 100 TB).

    Both inputs are quantized to fixed-point BIGINTs (``round(v * scale)``)
    and the sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are formed AND
    accumulated in DECIMAL — exact for any quantized magnitude below 1e18
    (the cross-products never touch BIGINT, so nothing wraps),
    order-independent, map-side combinable, six
    numbers of state per group no matter how many rows stream through
    (``corr()``'s running-moment kernel is float and order-sensitive, so
    two engines — or two shuffles — disagree in the low bits).
    corr/slope/intercept are then ONE double expression over the exact
    sums: identical operands → identical IEEE results in any engine.

    ``slope`` is scale-invariant; ``intercept`` is in quantized y units
    (divide by ``scale`` for raw units). Zero-variance groups yield NULLs
    (guarded — double /0 semantics differ across engines).
    """
    xq = F.round(F.col(x) * scale).cast("long")
    yq = F.round(F.col(y) * scale).cast("long")
    # Products are formed in DECIMAL, not BIGINT: quantized inputs above
    # ~3e9 would silently wrap a BIGINT xq*yq in non-ANSI Spark while the
    # oracle errors. DECIMAL(18,0) operands keep the product type within
    # both engines' 38-digit cap (18+18 < 38; Spark 4 yields (37,0), DuckDB
    # (36,0)) and are exact for any |quantized value| < 1e18.
    #
    # Values AT or above 1e18 would NULL out of the DECIMAL(18,0) cast in
    # non-ANSI Spark and silently drop from sx/sy/sxy/sxx/syy while n_rows
    # still counts them — a quietly wrong correlation. Guard explicitly:
    # assert_true raises in EVERY mode (ANSI or not), returns NULL on
    # success, and is folded in as +0 so the output values are untouched.
    lim = 10**18
    guard = F.assert_true(
        (xq.isNull() | (F.abs(xq) < lim)) & (yq.isNull() | (F.abs(yq) < lim)),
        F.lit(
            "corr_regression: |round(value * scale)| >= 1e18 overflows the"
            " exact DECIMAL(18,0) accumulators; lower `scale`"
        ),
    )
    guard0 = F.coalesce(guard.cast("long"), F.lit(0))
    xd = (xq + guard0).cast("decimal(18,0)")
    yd = (yq + guard0).cast("decimal(18,0)")
    agged = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    n = F.col("n_rows").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    ok = (varx > 0) & (vary > 0)
    slope = cov / varx
    return agged.select(
        *keys,
        "n_rows",
        F.when(ok, cov / (F.sqrt(varx) * F.sqrt(vary))).alias("corr"),
        F.when(ok, slope).alias("slope"),
        F.when(ok, (sy - slope * sx) / n).alias("intercept"),
    )


def exact_sum(col: str, scale: str = "decimal(20,4)") -> Column:
    """Order-independent sum of a double column (by NAME) via decimal
    accumulation, built as one ``F.expr``."""
    return F.expr(f"CAST(SUM(CAST(`{col}` AS {scale})) AS DOUBLE)")


def exact_avg(col: str, scale: str = "decimal(20,6)") -> Column:
    """Order-independent mean of a column (by NAME): exact decimal sum /
    count, divided as doubles so any two engines computing it bit-match."""
    return F.expr(
        f"CAST(SUM(CAST(`{col}` AS {scale})) AS DOUBLE) / COUNT(`{col}`)"
    )
