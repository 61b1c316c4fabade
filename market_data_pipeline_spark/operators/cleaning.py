"""Cleaning kernel: the reference's DataCleaner / validator semantics.

Reference parity: /root/reference/src/transformers/data_cleaner.py and
src/extractors/data_validator.py. All pure projections/filters — Catalyst
pushes them into the parquet scan, so at 100 TB the cleaning layer is free
(it narrows the scan instead of adding a pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def validate_symbols(df: DataFrame, symbol_col: str = "symbol", order_col: str | None = None) -> DataFrame:
    """P7 — symbol-format filter (data_validator.py:9-70): trim/upper, regex
    ``^[A-Z0-9]{3,5}$``, one row per symbol.

    "First occurrence" is only well-defined with an explicit ingest-order
    column — pass ``order_col`` when the non-key columns matter. Without it,
    one arbitrary-but-single row per symbol survives
    (monotonically_increasing_id is not stable across retries; fine when the
    output is just the symbol set, as in the listing-universe path)."""
    norm = F.upper(F.trim(F.col(symbol_col)))
    df = df.withColumn(symbol_col, norm).filter(F.col(symbol_col).rlike("^[A-Z0-9]{3,5}$"))
    order = F.col(order_col) if order_col else F.monotonically_increasing_id()
    w = Window.partitionBy(symbol_col).orderBy(order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def densify_calendar(df: DataFrame, date_col: str = "d", key_cols=("symbol",), zero_fill=()) -> DataFrame:
    """W18 — calendar densify + zero-fill (data_cleaner.py:120-131): reindex
    each key's series to a continuous daily calendar.

    Spark shape: per-key min/max → ``sequence()`` → ``explode`` → left join.
    The explode is narrow; the join shuffles once on (key, date) — at scale
    prefer broadcast of the calendar when the date span is small.
    """
    keys = [F.col(k) for k in key_cols]
    span = df.groupBy(*keys).agg(
        F.min(date_col).alias("__min_d"), F.max(date_col).alias("__max_d")
    )
    cal = span.select(
        *keys,
        F.explode(
            F.sequence(F.col("__min_d"), F.col("__max_d"), F.expr("interval 1 day"))
        ).alias(date_col),
    )
    out = cal.join(df, [*key_cols, date_col], "left")
    dtypes = dict(out.dtypes)
    for c in zero_fill:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0).cast(dtypes[c])))
    return out
