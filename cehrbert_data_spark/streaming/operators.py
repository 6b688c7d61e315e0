"""Streaming analogues of the batch operators.

Each function takes a (possibly streaming) DataFrame and returns a
transformed one — callers attach ``readStream`` sources and ``writeStream``
sinks. All operators also work on batch DataFrames (Spark's unified API), so
the batch oracle checks double as semantics tests for the streaming
transformations.

Watermark discipline: every stateful operator requires an event-time
watermark so state is bounded — late rows beyond the watermark drop instead
of growing state forever (the 100 TB concern: unbounded state OOMs
executors).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _ensure_watermark(df: DataFrame, ts: str, watermark: str | None) -> DataFrame:
    """Attach an event-time watermark unless the stream already carries one.

    Operators compose (dedup → session window, etc.); Spark disallows
    redefining a watermark downstream, so only the FIRST stateful operator in
    a chain sets it and later ones inherit.
    """
    if watermark is None or not df.isStreaming:
        return df
    # Public-API plan sniff (no JVM internals): the extended explain output
    # includes the analyzed plan, where an existing watermark shows up as an
    # EventTimeWatermark node.
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(extended=True)
    if "EventTimeWatermark" in buf.getvalue():
        return df
    return df.withWatermark(ts, watermark)


def session_window_stream(
    df: DataFrame,
    keys: list[str],
    ts: str,
    gap: str = "30 minutes",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """W7 as a native session window: events within ``gap`` of each other
    merge into one session per key. Streaming state closes when the
    watermark passes a session's end.

    Equivalent batch semantics to ``operators.windows.sessionize`` with the
    same gap (sessionize numbers sessions, this aggregates them).
    """
    df = _ensure_watermark(df, ts, watermark)
    return (
        df.groupBy(F.session_window(F.col(ts), gap).alias("session"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts).alias("session_start"),
            F.max(ts).alias("session_end"),
        )
        .select(
            *keys,
            F.col("session.start").alias("window_start"),
            F.col("session.end").alias("window_end"),
            "n_events",
            "session_start",
            "session_end",
        )
    )


def hourly_rollup_stream(
    df: DataFrame,
    keys: list[str],
    ts: str,
    value: str,
    watermark: str | None = "2 hours",
) -> DataFrame:
    """A2 as a tumbling 1-hour window aggregate: earliest timestamp + mean
    value per (keys, hour). Streaming emits finalized windows once the
    watermark passes.

    The mean aggregates over ``decimal(20,6)`` (exact sum, one division at
    output) rather than raw double: double partial sums merge in
    micro-batch arrival order on a stream but partition order in batch, so
    a double ``avg`` makes stream and batch outputs differ in the last ulp
    — the 20M-event throughput bench (tools/bench_streaming.py) caught
    exactly that drift. Same discipline as ``sliding_rollup_stream``'s
    exact decimal sum."""
    df = _ensure_watermark(df, ts, watermark)
    return (
        df.groupBy(F.window(F.col(ts), "1 hour").alias("w"), *keys)
        .agg(
            F.min(ts).alias("first_ts"),
            F.avg(F.col(value).cast("decimal(20,6)"))
            .cast("double")
            .alias("mean_value"),
            F.count(value).alias("n"),
        )
        .select(
            *keys,
            F.col("w.start").alias("bucket_start"),
            "first_ts",
            "mean_value",
            "n",
        )
    )


def sliding_rollup_stream(
    df: DataFrame,
    keys: list[str],
    ts: str,
    value: str,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """W14's sliding windows on a stream: overlapping ``width`` windows every
    ``slide`` per key. Each event expands to width/slide window assignments
    (one Expand, no self-join); state holds one partial aggregate per open
    (window, key) and finalizes when the watermark passes a window's end.
    Batch parity: identical output to queries.relational.w14_sliding_window
    on the same input (count + exact decimal sum)."""
    df = _ensure_watermark(df, ts, watermark)
    return (
        df.groupBy(F.window(F.col(ts), width, slide).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value).cast("decimal(20,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(
    df: DataFrame,
    keys: list[str],
    ts: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """U5 on a stream: exact dedup by key with bounded state —
    ``dropDuplicatesWithinWatermark`` keeps each key's state only until the
    watermark passes (plain ``dropDuplicates`` on a stream grows state
    forever)."""
    if df.isStreaming:
        return _ensure_watermark(df, ts, watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: list[str],
    dim_cols: list[str] | None = None,
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension join: enrich a stream with columns from a
    static dimension table (vocab/concept lookups in the clinical pipelines).

    Stream-static equi-joins are stateless in Structured Streaming — each
    micro-batch joins against the (re-readable) static side, no watermark
    needed. The static side is explicitly broadcast: dimension tables are
    the small side by construction, and a shuffle of the stream side on the
    join key every micro-batch is exactly the cost this hint avoids.
    Works identically on batch inputs (unified API).
    """
    projected = dim.select(*on, *(dim_cols or [c for c in dim.columns if c not in on]))
    return stream.join(F.broadcast(projected), on, how)


def asof_join_stream(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    ts: str = "ts",
    right_value: str = "value",
    lookback_s: float = 86400.0,
    watermark: str = "1 hour",
    state_timeout_ms: int | None = 3_600_000,
) -> DataFrame:
    """Streaming as-of join (J7 analogue): attach to every left row the most
    recent right row for the same key with ``right.ts <= left.ts`` and within
    ``lookback_s`` seconds.

    Streaming path: both streams are tagged and unioned (Spark supports
    unioning streams), grouped by key, and joined inside
    ``applyInPandasWithState``: state buffers the right side's recent
    ``(ts, value)`` pairs per key — pruned to the lookback horizon, so state
    is bounded by data rate × lookback, not history — and each micro-batch
    runs a vectorized ``pandas.merge_asof`` of the batch's left rows against
    buffer + batch rights. Idle keys time out after ``state_timeout_ms``.
    Output: all left columns + ``asof_ts``/``asof_value`` (NULL when nothing
    matched). A right row arriving in a LATER micro-batch than a left row it
    would have matched is missed — the inherent low-latency/completeness
    trade; widen the trigger interval for more complete matching.

    On batch inputs falls back to the verified batch ``asof_join``
    (operators/joins.py) with identical semantics, so the batch oracle
    doubles as the semantics check. The fallback ranks matches per LEFT ROW
    (a synthetic row id joins the rank's partition key), so duplicate
    ``keys + [ts]`` left rows each keep their own match — same multiplicity
    as the streaming path's ``merge_asof``.
    """
    import functools as _ft
    import operator as _op

    import pandas as pd

    from pyspark.sql import Window

    from cehrbert_data_spark.functions.temporal import epoch_seconds_sql

    if not left.isStreaming and not right.isStreaming:
        # Self-join-safe batch path: left and right commonly derive from the
        # SAME scan (self-as-of over one event table), where side-qualified
        # references (left[k] == right[k]) silently collapse to a trivially
        # true predicate and the equi-join degrades to cross-user matching.
        # Renaming every right column first makes all post-join resolution
        # purely name-based and unambiguous.
        r = right.select(
            *[F.col(k).alias(f"__r_{k}") for k in keys],
            F.col(ts).alias("__r_ts"),
            F.col(right_value).cast("double").alias("asof_value"),
        )
        # Per-left-row discriminator: without it two left rows sharing
        # (keys, ts) would share one rank partition and collapse to a single
        # output row — silent row loss the streaming path doesn't have.
        lid = left.withColumn("__lid", F.monotonically_increasing_id())
        point = F.expr(epoch_seconds_sql(f"`{ts}`"))
        r_low = F.expr(epoch_seconds_sql("`__r_ts`"))
        cond = _ft.reduce(
            _op.and_, [F.col(k) == F.col(f"__r_{k}") for k in keys]
        ) & point.between(r_low, r_low + F.lit(float(lookback_s)))
        w = Window.partitionBy("__lid").orderBy(F.col("__r_ts").desc())
        return (
            lid.join(r, cond, "left")
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(
                *left.columns,
                F.col("__r_ts").alias("asof_ts"),
                F.col("asof_value"),
            )
        )

    left_cols = list(left.columns)
    tagged_left = left.select(
        *left_cols, F.lit(0).alias("__side"), F.lit(None).cast("double").alias("__rv")
    )
    right_conf = right.select(
        *[
            F.col(c) if c in (*keys, ts) else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left_cols
        ],
        F.lit(1).alias("__side"),
        F.col(right_value).cast("double").alias("__rv"),
    )
    unioned = _ensure_watermark(tagged_left.unionByName(right_conf), ts, watermark)

    out_schema = T.StructType(
        list(left.schema.fields)
        + [
            T.StructField("asof_ts", T.TimestampType()),
            T.StructField("asof_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("r_ts", T.ArrayType(T.LongType())),  # epoch micros
            T.StructField("r_val", T.ArrayType(T.DoubleType())),
        ]
    )
    tol_us = int(lookback_s * 1_000_000)

    def _epoch_us(series: "pd.Series") -> "pd.Series":
        s = pd.to_datetime(series)
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_localize(None)
        return s.astype("datetime64[us]").astype("int64")

    def update(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        # GroupState.get is a PROPERTY (raises when absent), not a method —
        # calling it invokes the returned state tuple and crashes on the
        # first key that recurs across micro-batches. Single-batch parity
        # tests never exercise that path; the 20M-event throughput bench
        # (tools/bench_streaming.py) did.
        buf_ts, buf_val = state.get if state.exists else ([], [])
        lefts, r_ts, r_val = [], list(buf_ts), list(buf_val)
        for pdf in pdfs:
            is_right = pdf["__side"] == 1
            r_ts.extend(int(v) for v in _epoch_us(pdf.loc[is_right, ts]))
            r_val.extend(float(v) for v in pdf.loc[is_right, "__rv"])
            lefts.append(pdf.loc[~is_right, left_cols])
        lpdf = pd.concat(lefts) if lefts else pd.DataFrame(columns=left_cols)
        if len(lpdf):
            rights = (
                pd.DataFrame({"__r_ts_us": r_ts, "asof_value": r_val})
                .astype({"__r_ts_us": "int64", "asof_value": "float64"})
                .sort_values("__r_ts_us")
                .reset_index(drop=True)
            )
            lpdf = lpdf.assign(__l_ts_us=_epoch_us(lpdf[ts])).sort_values(
                "__l_ts_us"
            ).reset_index(drop=True)
            merged = pd.merge_asof(
                lpdf,
                rights,
                left_on="__l_ts_us",
                right_on="__r_ts_us",
                direction="backward",
                tolerance=tol_us,
            )
            merged["asof_ts"] = pd.to_datetime(merged["__r_ts_us"], unit="us")
            yield merged[[*left_cols, "asof_ts", "asof_value"]]
        if r_ts:
            horizon = max(r_ts) - tol_us
            kept = [(t, v) for t, v in zip(r_ts, r_val) if t >= horizon]
            r_ts, r_val = [t for t, _ in kept], [v for _, v in kept]
        state.update((r_ts, r_val))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)

    from pyspark.sql.streaming.state import GroupStateTimeout

    return unioned.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout
                     if state_timeout_ms is not None
                     else GroupStateTimeout.NoTimeout),
    )


def minhash_dedup_stream(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    band_size: int = 2,
    state_timeout_ms: int | None = 3_600_000,
) -> DataFrame:
    """Streaming MinHash near-dup detection: emit (id, band, keeper) for
    every document that collides with an earlier-seen document in an LSH
    band bucket (keeper = the bucket's minimum id seen so far).

    The signature/banding stage is the STATELESS array-form projection
    (``minhash_signatures_stateless`` + ``band_signature`` — no shuffle, so
    it composes with the stateful stage; a streaming groupBy(id) signature
    agg could not). State is one long per occupied (band, band_key) bucket,
    timing out for idle buckets — bounded by the active-bucket working set.
    A document may be reported once per colliding band; consumers dedupe by
    (id, keeper) or feed the pairs into connected-components keeper
    resolution downstream.

    On batch inputs, produces the same collision records via a plain
    min-per-bucket join (single batch ⇒ keeper = bucket min id), which is
    what pins the streaming semantics in tests.
    """
    import pandas as pd

    from cehrbert_data_spark.operators.dedup import (
        band_signature,
        minhash_signatures_stateless,
    )

    banded = band_signature(
        minhash_signatures_stateless(df, id_col, text_col, k, num_hashes),
        num_hashes,
        band_size,
    )
    if not df.isStreaming:
        keepers = banded.groupBy("band", "band_key").agg(F.min("id").alias("keeper"))
        return (
            banded.join(keepers, ["band", "band_key"])
            .where(F.col("id") != F.col("keeper"))
            .select("id", "band", "keeper")
        )

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("keeper", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("keeper", T.LongType())])

    def update(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        band, _ = key
        ids: list[int] = []
        for pdf in pdfs:
            ids.extend(int(v) for v in pdf["id"])
        if not ids:
            return
        # state.get is a property, not a method (see asof update above)
        seen_keeper = state.get[0] if state.exists else None
        keeper = min(ids) if seen_keeper is None else min(seen_keeper, min(ids))
        state.update((keeper,))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        dups = sorted(set(i for i in ids if i != keeper))
        if seen_keeper is not None and seen_keeper != keeper:
            # a later batch brought a lower id: the dethroned keeper is
            # retroactively a duplicate of the new one — emit it so every
            # bucket member stays linked to the bucket minimum
            dups.append(seen_keeper)
        if dups:
            yield pd.DataFrame({"id": dups, "band": int(band), "keeper": keeper})

    from pyspark.sql.streaming.state import GroupStateTimeout

    return banded.groupBy("band", "band_key").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout
                     if state_timeout_ms is not None
                     else GroupStateTimeout.NoTimeout),
    )


def running_key_stats_stream(
    df: DataFrame,
    keys: list[str],
    ts: str,
    value: str,
    watermark: str = "1 hour",
    state_timeout_ms: int | None = 3_600_000,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running (count, sum, max-timestamp) carried across micro-batches, emitting
    the updated totals every batch the key appears in.

    This is the escape hatch for semantics the built-in windowed aggregates
    can't express (cross-batch running state with custom update logic). State
    is bounded two ways: the watermark drops late rows, and idle keys time
    out after ``state_timeout_ms`` (GroupStateTimeout.ProcessingTimeTimeout),
    so state size tracks the active-key working set — not the full 100 TB key
    history.

    On a batch DataFrame, falls back to the equivalent groupBy aggregate
    (identical output for a single batch: running totals == final totals).

    r12 fast path (guide §4 "prefer built-ins", verdict ask 3): with
    ``state_timeout_ms=None`` the running totals are EXACTLY a built-in
    update-mode streaming aggregation — count/sum/max keep running JVM
    state per key and update mode emits the refreshed totals for every key
    a micro-batch touches, row-for-row what the pandas path emitted. That
    removes the JVM↔Python boundary outright (measured on the 21M-event
    rig: the per-group Python call floor alone — a NO-OP update fn — cost
    57% of the pandas path's wall). The built-in sum also uses the
    battery's exact DECIMAL(20,6) convention, so stream output now matches
    the batch fallback bit-for-bit instead of to float tolerance (the
    pandas path accumulated IEEE doubles in arrival order), and all-NULL
    value groups yield NULL like the batch dual, not pandas' 0.0.

    A non-None ``state_timeout_ms`` keeps the applyInPandasWithState path:
    built-in aggregation state cannot evict idle keys, and the idle-key
    timeout is this operator's state bound — that semantics genuinely
    needs the escape hatch (the measured price at 100k keys × 21 batches:
    ~95 µs per group-call of Arrow/state/invoke floor; RocksDB state store
    1.53× and arrow.maxRecordsPerBatch=100k 1.30× are the session-level
    mitigations, BENCH_STREAM experiments in OPTIMIZATION_r12.md).
    """
    import pandas as pd

    out_schema = T.StructType(
        [T.StructField(k, df.schema[k].dataType) for k in keys]
        + [
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
            T.StructField("last_ts", T.TimestampType()),
        ]
    )
    if not df.isStreaming:
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value).cast("decimal(20,6)"))
            .cast("double")
            .alias("sum_value"),
            F.max(ts).alias("last_ts"),
        )
    if state_timeout_ms is None:
        return (
            _ensure_watermark(df, ts, watermark)
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col(value).cast("decimal(20,6)"))
                .cast("double")
                .alias("sum_value"),
                F.max(ts).alias("last_ts"),
            )
        )

    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
            T.StructField("last", T.TimestampType()),
        ]
    )

    def update(key, pdfs, state):
        # state.get is a property, not a method (see asof update above)
        n, s, last = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value].sum())
            batch_max = pdf[ts].max()
            last = batch_max if last is None else max(last, batch_max)
        state.update((n, s, last))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame(
            [list(key) + [n, s, last]],
            columns=[*keys, "n_events", "sum_value", "last_ts"],
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        _ensure_watermark(df, ts, watermark)
        .groupBy(*keys)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout
                     if state_timeout_ms is not None
                     else GroupStateTimeout.NoTimeout),
        )
    )


def hll_register_stream(
    df: DataFrame,
    group_cols: list[str],
    value: str,
    p: int = 6,
) -> DataFrame:
    """Streaming HyperLogLog registers: per-(group, bucket) running max
    rank across micro-batches.

    ``max`` is the canonical monotone streaming aggregate — no watermark
    is required (late data can only re-assert an already-dominated rank,
    never retract one), and state is bounded at |groups| * 2^p rows no
    matter how much stream passes through. Emit the register table in
    update mode and fold it to an estimate with
    ``operators.sketches``-style arithmetic batch-side; registers from a
    stream and from a backfill batch merge by max, so the lambda
    architecture needs no reconciliation logic.

    On a batch DataFrame, falls back to ``operators.sketches.hll_registers``
    (identical output for a single batch).
    """
    from cehrbert_data_spark.operators.sketches import hll_registers

    if not df.isStreaming:
        return hll_registers(df, group_cols, F.col(value), p)
    from cehrbert_data_spark.operators.sketches import ilog2
    from cehrbert_data_spark.operators.text import md5_long

    m = 1 << p
    wbits = 60 - p
    h = md5_long(F.col(value).cast("string"), bits=60)
    w = F.shiftright(h, p)
    rank = F.when(w > 0, F.lit(wbits + 1) - (ilog2(w) + 1)).otherwise(F.lit(wbits + 1))
    return (
        df.select(*group_cols, (h % m).alias("bucket"), rank.alias("rank"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rank").cast("long").alias("register"))
    )


def hist_bin_stream(
    df: DataFrame,
    group_cols: list[str],
    value: str,
    bin_width: float = 10.0,
) -> DataFrame:
    """Streaming fixed-bin histogram: per-(group, bin) running counts —
    the streaming dual of ``operators.aggregations.histogram_quantile``'s
    first stage.

    Counts are additive, so micro-batch increments fold into the running
    totals with no watermark needed for correctness (late rows land in
    their value's bin whenever they arrive) and state bounded at
    |groups| × |bins| regardless of stream volume. The emitted bin table
    feeds the same division-free quantile pick as the batch operator
    (``cum * q_den >= total * q_num``), and bins from a stream and a
    backfill batch merge by plain addition — any quantile over the merged
    corpus without reprocessing either side.

    On a batch DataFrame, returns the identical bin-count aggregation.
    """
    binc = F.floor(F.col(value) / F.lit(bin_width)).cast("long")
    return (
        df.groupBy(*group_cols, binc.alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
