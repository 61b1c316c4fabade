"""Batch sources: parquet table loaders and the canonical market-series views.

Reference parity: the reference fetches one pandas frame per symbol over HTTP
(/root/reference/src/extractors/price_extractor.py:70-106) and stores
file-per-symbol parquet (/root/reference/src/pipeline.py:308-313). The Spark
re-expression is a single long, columnar table per entity; "per-symbol" becomes
a partition key. At 100 TB this is the difference between 1.7k tiny files with
driver-side loops and a partition-pruned columnar scan.

The driver's testdata (TESTDATA.md) stands in for the market feeds:
``events(user_id, ts, value)`` plays the tick stream (user_id ≙ symbol,
ts ≙ time, value ≙ price) and daily OHLCV bars are *derived* from it — the
same role the vnstock OHLCV endpoint plays for the reference.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Columnar parquet scan: Catalyst pushes
    filters and prunes columns into this reader (check ``PushedFilters`` /
    ``ReadSchema`` in ``.explain``). ``events`` goes through ``read_events``.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return read_events(spark, path)
    return spark.read.parquet(path)


def read_events(
    spark: SparkSession,
    path: str,
    open_stream: Callable[[StructType], DataFrame] | None = None,
) -> DataFrame:
    """The events table at ``path`` with ``ts`` as a session TimestampType.

    ``events.ts`` physical type varies by testdata generation: TIMESTAMP(NANOS)
    (Spark 4 rejects it unless read as raw long — truncate to µs with integer
    division, matching DuckDB's µs TIMESTAMP on the same file) or plain
    TIMESTAMP(MICROS) without UTC adjustment, which Spark reads as
    TIMESTAMP_NTZ — cast to the session TimestampType (session zone is pinned
    UTC, so the cast is wall-clock identical and downstream window/range code
    sees one consistent type).

    ``open_stream``, given the file's read schema, returns the streaming
    frame to normalize in place of the batch read.

    ``nanosAsLong`` is needed only while the schema is inferred; the caller's
    value is restored right after, and the inferred long ``ts`` still reads.
    """
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf, None)
    spark.conf.set(conf, "true")
    try:
        df = spark.read.parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)
    if open_stream is not None:
        df = open_stream(df.schema)
    ts_type = df.schema["ts"].dataType.typeName()
    if ts_type == "long":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table (plus the derived ``series``/``bars``
    views) as temp views so the whole engine surface is reachable from
    ``spark.sql`` — the declarative front door the reference never had.
    Views are lazy: nothing is read until a query runs."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    series_from_events(spark, sf_dir).createOrReplaceTempView("series")
    bars_from_events(spark, sf_dir).createOrReplaceTempView("bars")


def series_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tick-level price series: (event_id, symbol, time, close).

    Mirrors the reference's cleaned OHLCV contract
    (/root/reference/src/extractors/price_extractor.py:87-106): required
    columns present, nulls dropped, canonical names. ``event_id`` is kept as
    the deterministic ingest-order tiebreaker that pandas' positional
    ``keep='last'`` dedupe needs in a distributed setting (SURVEY.md §4.3).
    """
    return (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("event_id"),
            F.col("user_id").alias("symbol"),
            F.col("ts").alias("time"),
            F.col("value").alias("close"),
        )
        .filter(F.col("time").isNotNull() & F.col("close").isNotNull())
    )


def bar_aggs() -> list[Column]:
    """The OHLCV aggregates of one bar over raw ticks (``ts``, ``value``):
    open, high, low, close, volume, n_trades."""
    return [
        F.min_by("value", "ts").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ts").alias("close"),
        F.round(F.sum("value"), 4).alias("volume"),
        F.count(F.lit(1)).alias("n_trades"),
    ]


def bars_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLCV bars derived from the tick stream.

    open/close use ``min_by``/``max_by`` on the timestamp — deterministic
    because ``ts`` is unique per symbol (keep-last dedupe runs upstream
    otherwise). Two exchanges for a bar→window chain, and that is the
    RIGHT trade at scale: the (symbol, d) aggregation keeps its partial
    (map-side) combine BELOW the shuffle, so the first exchange moves one
    partial bar row per (symbol, day, partition) — not raw ticks — and
    the second (symbol-only, for indicator windows) moves already-tiny
    bar rows. An explicit pre-agg repartition(symbol) would look like one
    exchange fewer but plans the partial agg ABOVE the shuffle
    (empirically verified), pushing the FULL tick stream across the wire
    and concentrating hot symbols — strictly worse at 100 TB.

    Every registry query reads bars through this function and keeps that plan.
    ``pipeline.Pipeline.load_bars`` deliberately moves raw ticks once,
    repartitioned by (symbol, day): its snapshot also carries the quality
    partials, whose distinct count of times needs a tick-level exchange,
    and the separate quality scan it replaces shuffled the ticks as well.
    """
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.col("user_id").alias("symbol"),
        F.to_date("ts").alias("d"),
    ).agg(*bar_aggs())


# Shared DuckDB-oracle CTE texts (kept beside the builders so the SQL twin and
# the DataFrame program evolve together; __spark_entry__.oracle_sql composes
# them).
SERIES_SQL = """
series AS (
  SELECT event_id, user_id AS symbol, ts AS time, value AS close
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
)
""".strip()

BARS_SQL = """
bars AS (
  SELECT user_id AS symbol,
         CAST(ts AS DATE) AS d,
         arg_min(value, ts) AS open,
         max(value) AS high,
         min(value) AS low,
         arg_max(value, ts) AS close,
         round(sum(value), 4) AS volume,
         count(*) AS n_trades
  FROM events
  GROUP BY 1, 2
)
""".strip()


def bars_from_events_interval(
    spark: SparkSession, sf_dir: str, width: str = "4 hours"
) -> DataFrame:
    """Intraday OHLCV bars at an ARBITRARY interval via ``F.window`` time
    bucketing — the hypertable continuous-aggregate shape at sub-day grain
    (daily bars are the ``width='1 day'`` special case, S1). Same
    one-shuffle map-side-combined aggregation as ``bars_from_events``; the
    bucket start becomes the bar timestamp.

    Reference analog: none — the reference's resolution floor is 1D bars
    (config/pipeline_config.yaml:35); this is the §7.1 extension surface
    the intraday scan (S3) feeds at scale.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.col("user_id").alias("symbol"),
            F.window("ts", width).alias("w"),
        )
        .agg(*bar_aggs())
        .select(
            "symbol",
            F.col("w.start").alias("bar_start"),
            "open",
            "high",
            "low",
            "close",
            "volume",
            "n_trades",
        )
    )


def bars_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily market-wide bars from the relational fact table: lineitem rows
    aggregated per ship-date play the 'index-level' series role
    (FIXTURES.md §B). Pure shuffle-agg; partial aggregation (map-side combine)
    makes this scan-bound at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.to_date("l_shipdate").alias("d"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("turnover"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.max("l_extendedprice").alias("high"),
            F.min("l_extendedprice").alias("low"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )


def rollup_bars(bars: DataFrame, grain: str = "week") -> DataFrame:
    """Hierarchical bar rollup (the hypertable continuous-aggregate
    pattern): coarser-grain OHLCV composed FROM the daily bars, not from
    raw ticks — open/close via min_by/max_by on the day, high/low/volume
    associative. At scale each grain is a cheap re-agg of the next-finer
    materialization (day→week→month), never a re-scan of the tick stream.

    Reference analog: none — the reference resamples nothing (1D bars only,
    config/pipeline_config.yaml:35); this is the §7.1 extension surface.
    """
    from pyspark.sql import functions as F

    return (
        bars.groupBy("symbol", F.trunc("d", grain).alias("period_start"))
        .agg(
            F.min_by("open", "d").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "d").alias("close"),
            F.round(F.sum("volume"), 4).alias("volume"),
            F.sum("n_trades").alias("n_trades"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )
