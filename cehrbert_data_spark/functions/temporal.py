"""Artificial-time-token (ATT) bucketing as native CASE expressions.

The reference implements these as row-at-a-time Python UDFs
(reference: decorators/patient_event_decorator_base.py:93-152, registered at
decorators/artificial_time_token_decorator.py:168) — a Python-worker
round-trip per row. Pure bucketing logic belongs in Catalyst: these CASE
chains stay inside whole-stage codegen, ~2 orders of magnitude cheaper in the
hot path and identical in semantics, including the subtle differences the
reference encodes:

  * ``time_token_func`` (cehr_bert): FLOOR buckets, strict ``< 28 / < 360``
    cutoffs, and the ``W-1`` token for negative deltas.
  * ``time_mix_token``: CEIL buckets with inclusive ``<= 7 / <= 30 / <= 360``.
  * day/week/month variants: 1080-day long-term cutoff.

All functions take an integer day-delta column and return a string token
column (NULL in → NULL out, matching the UDFs' None passthrough).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _istr(col: Column) -> Column:
    return col.cast("long").cast("string")


def epoch_seconds_sql(expr: str) -> str:
    """Seconds since the epoch as DOUBLE (SQL text of ``expr``), robust to
    every timestamp flavor this engine encounters: TIMESTAMP (LTZ),
    TIMESTAMP_NTZ (parquet plain micros — what the query test data now
    stores), DATE, and the long-restored nanos path (already a TIMESTAMP
    after read_table). Column callers wrap it in ``F.expr``.

    Spark 4 refuses ``CAST(TIMESTAMP_NTZ AS DOUBLE)`` outright
    (DATATYPE_MISMATCH.CAST_WITHOUT_SUGGESTION), so every event-time
    subtraction must go through here rather than a naive ``cast("double")``.
    NTZ→LTZ is a legal cast and value-preserving under the session's pinned
    UTC timezone (session.py); LTZ→DOUBLE keeps fractional seconds, unlike
    ``unix_timestamp`` which truncates to whole seconds.
    """
    return f"CAST(CAST({expr} AS TIMESTAMP_LTZ) AS DOUBLE)"


def att_token(day_delta: Column) -> Column:
    """cehr_bert ATT (reference: patient_event_decorator_base.py:93-102):
    W-1 | W0..W3 | M0..M11 | LT."""
    return (
        F.when(day_delta.isNull(), F.lit(None).cast("string"))
        .when(day_delta < 0, F.lit("W-1"))
        .when(day_delta < 28, F.concat(F.lit("W"), _istr(F.floor(day_delta / 7))))
        .when(day_delta < 360, F.concat(F.lit("M"), _istr(F.floor(day_delta / 30))))
        .otherwise(F.lit("LT"))
    )


def att_day_token(day_delta: Column) -> Column:
    """D<n> under 1080 days, else LT (patient_event_decorator_base.py:105-110)."""
    return (
        F.when(day_delta.isNull(), F.lit(None).cast("string"))
        .when(day_delta < 1080, F.concat(F.lit("D"), _istr(day_delta)))
        .otherwise(F.lit("LT"))
    )


def att_week_token(day_delta: Column) -> Column:
    """W<floor(d/7)> under 1080 days, else LT (:113-118)."""
    return (
        F.when(day_delta.isNull(), F.lit(None).cast("string"))
        .when(day_delta < 1080, F.concat(F.lit("W"), _istr(F.floor(day_delta / 7))))
        .otherwise(F.lit("LT"))
    )


def att_month_token(day_delta: Column) -> Column:
    """M<floor(d/30)> under 1080 days, else LT (:121-126)."""
    return (
        F.when(day_delta.isNull(), F.lit(None).cast("string"))
        .when(day_delta < 1080, F.concat(F.lit("M"), _istr(F.floor(day_delta / 30))))
        .otherwise(F.lit("LT"))
    )


def att_mix_token(day_delta: Column) -> Column:
    """Mixed-granularity token with CEIL buckets and inclusive cutoffs
    (:129-152): D0..D7 | W2..W5 | M2..M12 | LT."""
    return (
        F.when(day_delta.isNull(), F.lit(None).cast("string"))
        .when(day_delta <= 7, F.concat(F.lit("D"), _istr(day_delta)))
        .when(day_delta <= 30, F.concat(F.lit("W"), _istr(F.ceil(day_delta / 7))))
        .when(day_delta <= 360, F.concat(F.lit("M"), _istr(F.ceil(day_delta / 30))))
        .otherwise(F.lit("LT"))
    )


_ATT_EXPRS = {
    "cehr_bert": att_token,
    "day": att_day_token,
    "week": att_week_token,
    "month": att_month_token,
    "mix": att_mix_token,
}


def get_att_expr(att_type: str):
    """Dispatch by name (reference: get_att_function, :155-170)."""
    return _ATT_EXPRS[att_type]


def att_token_sql(day_delta_expr: str) -> str:
    """ANSI-SQL rendering of :func:`att_token`, for oracle equivalence and
    templated-SQL cohort definitions."""
    d = day_delta_expr
    return (
        f"CASE WHEN {d} IS NULL THEN NULL "
        f"WHEN {d} < 0 THEN 'W-1' "
        f"WHEN {d} < 28 THEN 'W' || CAST(FLOOR({d} / 7) AS BIGINT) "
        f"WHEN {d} < 360 THEN 'M' || CAST(FLOOR({d} / 30) AS BIGINT) "
        f"ELSE 'LT' END"
    )
