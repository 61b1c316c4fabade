"""The user-facing Pipeline API — the entry points a reference user calls
(``Pipeline(config).run_daily_update()`` etc., /root/reference/README.md:251-259)
re-expressed as lazy Spark plans.

Reference parity (SURVEY.md §3):
- ``run_daily_update``     ↦ pipeline.py:203-257 + _process_symbol :277-306 —
  the per-symbol ThreadPool fan-out collapses into ONE plan:
  clean → indicator chain → (optional) partitioned persist.
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

from market_data_pipeline_spark.config import load_config
from market_data_pipeline_spark.functions.helpers import series_window
from market_data_pipeline_spark.operators import breadth, cleaning, indicators, quality, screeners
from market_data_pipeline_spark.session import tune_existing
from market_data_pipeline_spark.sources.tables import bars_from_events


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
        """
        if self._bars is None:
            self._bars = bars_from_events(self.spark, self.source).localCheckpoint()
        return self._bars

    # -- §3.1 daily update --------------------------------------------------

    def run_daily_update(self, bars: DataFrame | None = None, persist_to: str | None = None) -> DataFrame:
        """Clean + full indicator chain as one lazy plan over ``bars`` (by
        default the instance's bar snapshot); optionally persist
        symbol-partitioned parquet (the file-per-symbol replacement)."""
        bars = bars if bars is not None else self.load_bars()
        w = series_window(time_col="d")
        df = indicators.add_ema_macd(bars, spans=(12, 26), time_col="d")
        df = indicators.add_sma(df, periods=(10, 20), w=w)
        df = indicators.add_rsi(df, period=14, w=w)
        df = indicators.add_bollinger(df, w=w)
        df = indicators.add_atr(df, w=w)
        df = indicators.add_volume_metrics(df, w=w)
        df = indicators.add_returns_momentum(df, w=w)
        df = indicators.add_dist_ma(df, periods=(10, 20))
        if persist_to:
            df.write.mode("overwrite").partitionBy("symbol").parquet(persist_to)
            df = self.spark.read.parquet(persist_to)
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
        duplicates, negative/zero closes, freshness, quality score."""
        if series is None:
            from market_data_pipeline_spark.sources.tables import series_from_events

            series = series_from_events(self.spark, self.source)
        return quality.quality_report(series)

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
