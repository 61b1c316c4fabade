"""The user-facing Pipeline API — the entry points a reference user calls
(``Pipeline(config).run_daily_update()`` etc., /root/reference/README.md:251-259)
re-expressed as lazy Spark plans.

Reference parity (SURVEY.md §3):
- ``run_daily_update``     ↦ pipeline.py:203-257 + _process_symbol :277-306 —
  the per-symbol ThreadPool fan-out collapses into ONE plan:
  clean → indicator chain → (optional) partitioned persist. The chain is
  the pandas EMA/MACD pass, then ``indicators.chain`` over the seven native
  indicators: three ``withColumns`` levels and one ``select``, which plan
  as two ``Window`` operators over one symbol exchange.
- ``run_batch_analysis``   ↦ pipeline.py:321-353 — signals = last-row-per-
  symbol frame from the same long table; no per-symbol file re-reads.
- ``run_full_pipeline``    ↦ pipeline.py:355-375 — daily + breadth + health
  + regime + analysis.
- ``validate_data_quality``↦ pipeline.py:377-406 — one aggregate computing
  every check per symbol.

Frames are returned as lazy DataFrames, with one exception: the daily bars
are built eagerly, once per ``Pipeline``, on the first ``load_bars`` call and
kept with ``localCheckpoint``. Every bar-derived frame of the instance
(daily, signals, breadth, health, regime) reads that one snapshot, so the
tick scan and the (symbol, day) aggregation shuffle run once, and the frames
are consistent with each other even if the tick files change underneath.
The snapshot also carries per-(symbol, day) quality partials, built in the
same aggregate, and ``validate_data_quality`` rolls them up: a pass that
validates scans the ticks once. The partials count duplicate times with a
``lag`` window over (symbol, day, validity); to fit it into that one
exchange, the ticks are repartitioned by (symbol, day) and cross it raw,
not map-side combined. A ``Pipeline`` that never validates (CLI ``daily``
and ``full``) pays that larger shuffle for nothing: on ~1M ticks and 4
shared cores the snapshot took a median 1.2 s against 0.7 s for the
combined bars alone.
The snapshot belongs to the instance: it is freed by Spark's context cleaner
once the instance and the frames built on it are dropped, and a new
``Pipeline`` reads the ticks afresh. ``localCheckpoint`` gives up lineage,
so losing an executor that holds snapshot blocks fails the job; the remedy
is a new ``Pipeline``. Persisting writes a symbol-partitioned parquet
dataset — the scale replacement for file-per-symbol (pipeline.py:308-313).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_data_pipeline_spark.config import load_config
from market_data_pipeline_spark.functions.helpers import series_window
from market_data_pipeline_spark.operators import breadth, cleaning, indicators, quality, screeners
from market_data_pipeline_spark.session import tune_existing
from market_data_pipeline_spark.sources.tables import bar_aggs, load_table


def _bar_snapshot(spark: SparkSession, source: str) -> DataFrame:
    """Daily bars (``bars_from_events``' columns) plus ``quality.DAY_PARTIALS``
    per (symbol, day): one aggregate over one exchange. The repartition on
    the grouping keys lets the duplicate-time window share the bars'
    exchange."""
    ticks = load_table(spark, source, "events").select(
        F.col("user_id").alias("symbol"), F.to_date("ts").alias("d"), "ts", "value"
    )
    ticks = quality.with_dup_times(ticks.repartition("symbol", "d"))
    return ticks.groupBy("symbol", "d").agg(*bar_aggs(), *quality.day_partials())


class Pipeline:
    """Compose the engine's operators behind the reference's public API.

    ``source`` is the directory holding the input tables (the driver's
    testdata layout); ``config`` may be a dict or a YAML path understood by
    :func:`market_data_pipeline_spark.config.load_config`.
    """

    def __init__(self, spark: SparkSession, source: str, config: dict | str | None = None):
        self.spark = tune_existing(spark)
        self.source = source
        if isinstance(config, (str, Path)):
            config = load_config(config)
        self.config = config or {}
        self._snapshot: DataFrame | None = None
        self._bars: DataFrame | None = None

    # -- data acquisition ---------------------------------------------------

    def load_bars(self) -> DataFrame:
        """Daily OHLCV bars (derived from the tick stream on testdata).

        Built eagerly on the first call and kept with ``localCheckpoint``
        (not ``cache``, whose plan matching would hand a later ``Pipeline``
        over rewritten files the old bars); later calls return the same
        snapshot. It is this instance's consistent view of the ticks and is
        freed when the instance is dropped. Without lineage, a lost executor
        fails the job; build a new ``Pipeline`` to recover.

        The checkpoint also holds the quality partials that
        ``validate_data_quality`` reads; the bars are a projection of it.
        Building them costs one shuffle of raw ticks, which a caller that
        never validates pays in place of the map-side combined one
        ``tables.bars_from_events`` plans.
        """
        if self._bars is None:
            self._snapshot = _bar_snapshot(self.spark, self.source).localCheckpoint()
            self._bars = self._snapshot.drop(*quality.DAY_PARTIALS)
        return self._bars

    # -- §3.1 daily update --------------------------------------------------

    def run_daily_update(self, bars: DataFrame | None = None, persist_to: str | None = None) -> DataFrame:
        """Clean + full indicator chain as one lazy plan over ``bars`` (by
        default the instance's bar snapshot); optionally persist
        symbol-partitioned parquet (the file-per-symbol replacement)."""
        bars = bars if bars is not None else self.load_bars()
        w = series_window(time_col="d")
        df = indicators.chain(
            indicators.add_ema_macd(bars, spans=(12, 26), time_col="d"),
            indicators.sma(periods=(10, 20), w=w),
            indicators.rsi(period=14, w=w),
            indicators.bollinger(w=w),
            indicators.atr(w=w),
            indicators.volume_metrics(w=w),
            indicators.returns_momentum(w=w),
            indicators.dist_ma(periods=(10, 20)),
        )
        if persist_to:
            df.write.mode("overwrite").partitionBy("symbol").parquet(persist_to)
            df = self.spark.read.schema(df.schema).parquet(persist_to)
        return df

    # -- §3.2 batch analysis ------------------------------------------------

    def run_batch_analysis(self, enriched: DataFrame | None = None) -> DataFrame:
        """Per-symbol composite signal frame (last row per symbol)."""
        enriched = enriched if enriched is not None else self.run_daily_update()
        w = series_window(time_col="d")
        return screeners.composite_signal(enriched, time_col="d", w=w)

    def run_full_pipeline(self) -> dict[str, DataFrame]:
        """Daily update + breadth/health/regime + signals — every frame of
        the reference's full mode, all lazy over one bar snapshot."""
        enriched = self.run_daily_update()
        br = breadth.derive_breadth(self.load_bars())
        return {
            "daily": enriched,
            "breadth": br,
            "health": breadth.market_health(br),
            "regime": breadth.market_regime(br),
            "signals": self.run_batch_analysis(enriched),
        }

    # -- §3.3 validation ----------------------------------------------------

    def validate_data_quality(self, series: DataFrame | None = None) -> DataFrame:
        """Per-symbol quality report: completeness vs business days,
        duplicates, negative/zero closes, freshness, quality score.

        By default it is rolled up from the quality partials in the bar
        snapshot (built by ``load_bars`` if it is not yet), which is one
        shuffle of a row per bar and no tick scan. An explicit tick-level
        ``series`` is aggregated directly by ``quality.quality_report``.
        """
        if series is not None:
            return quality.quality_report(series)
        self.load_bars()
        return quality.quality_rollup(self._snapshot)

    # -- universe -----------------------------------------------------------

    def resolve_universe(self, listing: DataFrame, scope: str = "all") -> DataFrame:
        """The §3.1 step-3 ladder on a listing dim: scope filter → drop ETFs
        → drop inactive → validated symbols."""
        from market_data_pipeline_spark.operators import universe

        out = universe.scope_filter(listing, scope=scope)
        out = universe.drop_etf_prefixes(out)
        if "status" in out.columns:
            out = universe.drop_inactive(out)
        return cleaning.validate_symbols(out)
